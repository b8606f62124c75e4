"""Pipeline-quality operators: deterministic sampling, table profiling,
mode aggregation, statistical outlier flagging, and vector normalization.

These are the data-curation steps a large-scale training-data pipeline
runs between ingest and dedup: carve reproducible samples, profile column
health, find the modal category, flag price/feature outliers, and L2-
normalize embeddings before similarity search.

Sampling here is HASH-GATED, not `rand()`-based: the sample membership of
a row is a pure function of its key, so (a) the oracle can reproduce it
exactly, (b) re-runs at any parallelism pick the identical sample, and
(c) at 100 TB the gate is a map-side filter pushed next to the scan — no
shuffle, no state, no seed coordination across 1000 executors.

Reference parity note: the reference (`CephRgwFileSystem.java`, a
Hadoop→Ceph FS connector) has no sampling/profile surface; these belong
to the engine layer of SURVEY.md §2B (north-star pipeline rows).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import (
    davg,
    dsum,
    dvar_samp,
    fixed,
    fixsum,
    sql_davg,
    sql_dsum,
    sql_dvar_samp,
    sql_fixed,
    sql_units,
    units,
)
from hadoop_fs_ceph_spark.functions.text import poly_hash, sql_poly_hash
from hadoop_fs_ceph_spark.operators.ranking import (
    _MED_PASSES,
    _quantiles_refine,
    _ranked_nosort,
)
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t

# Knuth's multiplicative constant: spreads sequential keys uniformly.
# Integer arithmetic is exact and identical in both engines; keys here
# stay far below 2^63 / 2654435761 ≈ 3.5e9, so no overflow under ANSI
# mode (at larger key domains, pmod the key into a bounded range first).
_MIX = 2_654_435_761
_LINE_MIX = 1_000_003


def _line_hash(mod: int):
    return F.pmod(F.col("l_orderkey") * _MIX + F.col("l_linenumber") * _LINE_MIX, F.lit(mod))


def _sql_line_hash(mod: int) -> str:
    return f"((l_orderkey * {_MIX} + l_linenumber * {_LINE_MIX}) % {mod})"


@query(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           {sql_dsum("l_extendedprice", "sum_price")}
    FROM lineitem
    WHERE {_sql_line_hash(1000)} < 125
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("sampling", "bernoulli", "deterministic"),
)
def sample_hash_bernoulli(spark, sf_dir):
    """12.5 % Bernoulli-style sample gated on a multiplicative hash of the
    row key, then the usual per-flag rollup over just the sample. The gate
    is a pure scalar predicate — Catalyst evaluates it right after the
    scan, map-side, so the 87.5 % of a 100 TB table outside the sample
    never reaches the shuffle. Unlike `TABLESAMPLE`/`df.sample`, identical
    membership on every engine, run, and partitioning."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(_line_hash(1000) < 125)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_extendedprice", "sum_price"))
        .transform(order_bounded, "l_returnflag")
    )


@query(
    "sample_stratified_rates",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_sampled,
           {sql_dsum("o_totalprice", "sum_price")}
    FROM orders
    WHERE (o_orderkey * {_MIX}) % 1000 <
          CASE WHEN o_orderpriority = '1-URGENT' THEN 500
               WHEN o_orderpriority = '2-HIGH'   THEN 250
               ELSE 100 END
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("sampling", "stratified", "deterministic"),
)
def sample_stratified_rates(spark, sf_dir):
    """Stratified sampling with per-stratum rates (URGENT 50 %, HIGH 25 %,
    rest 10 %) — the class-rebalancing step of a training-data pipeline
    (oversample rare strata, downsample common ones). One hash per row
    compared to a CASE-selected threshold: still a single map-side
    predicate, no per-stratum passes, no `sampleBy` RNG dependence."""
    o = t(spark, sf_dir, "orders")
    rate = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 500)
        .when(F.col("o_orderpriority") == "2-HIGH", 250)
        .otherwise(100)
    )
    return (
        o.filter(F.pmod(F.col("o_orderkey") * _MIX, F.lit(1000)) < rate)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sampled"), dsum("o_totalprice", "sum_price"))
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "sample_k_per_stratum",
    oracle=f"""
    WITH ranked AS (
      SELECT l_returnflag, l_linestatus, l_quantity,
             row_number() OVER (
               PARTITION BY l_returnflag, l_linestatus
               ORDER BY {_sql_line_hash(2147483647)}, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    )
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM ranked WHERE rn <= 20
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("sampling", "fixed-k", "deterministic"),
)
def sample_k_per_stratum(spark, sf_dir):
    """Exactly-k-per-stratum sample: rank each (returnflag, linestatus)
    group by row-key hash — a deterministic stand-in for a random order —
    and keep the first 20. This is the eval-set builder ("20 examples per
    class"). One shuffle on the stratum key; the per-group rank is a
    window, not a sort of the whole table; ties broken by the key itself
    so the pick is total-ordered even under hash collisions."""
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag", "l_linestatus").orderBy(
        _line_hash(2_147_483_647), "l_orderkey", "l_linenumber"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity", "sum_qty"))
        .transform(order_bounded, "l_returnflag", "l_linestatus")
    )


_PROFILE_NUM = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_STR = ("o_orderstatus", "o_orderpriority")


def _sql_profile_row(col: str, numeric: bool) -> str:
    if numeric:
        mn, mx = f"CAST(MIN({col}) AS DOUBLE)", f"CAST(MAX({col}) AS DOUBLE)"
        ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
    else:
        mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
        ms, xs = f"MIN({col})", f"MAX({col})"
    return (
        f"SELECT '{col}' AS column_name, COUNT(*) AS n_rows,"
        f" COUNT(*) - COUNT({col}) AS n_null,"
        f" COUNT(DISTINCT {col}) AS n_distinct,"
        f" {mn} AS min_num, {mx} AS max_num, {ms} AS min_str, {xs} AS max_str"
        f" FROM orders"
    )


@query(
    "profile_table_stats",
    oracle=" UNION ALL ".join(
        _sql_profile_row(c, numeric=c in _PROFILE_NUM)
        for c in _PROFILE_NUM + _PROFILE_STR
    )
    + " ORDER BY column_name",
    tags=("profile", "data-quality"),
)
def profile_table_stats(spark, sf_dir):
    """Per-column data profile (row count, null count, distinct count,
    min/max) for the `orders` table — the data-quality report a pipeline
    emits before training ingestion. All columns profile in ONE pass: a
    single global aggregate computes every measure (Catalyst plans the
    multi-distinct via Expand), then an explode of a literal struct array
    reshapes the one wide row into one row per column — no per-column
    scans, no driver-side loop. At 100 TB the exact COUNT(DISTINCT) is
    the only heavy measure; swap it for approx_count_distinct when a
    1-2 % error is acceptable (kept exact here for the oracle)."""
    o = t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _PROFILE_NUM + _PROFILE_STR:
        aggs += [
            F.count(c).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    wide = o.agg(*aggs)

    def row(c: str) -> F.Column:
        numeric = c in _PROFILE_NUM
        return F.struct(
            F.lit(c).alias("column_name"),
            F.col("n").alias("n_rows"),
            (F.col("n") - F.col(f"nn_{c}")).alias("n_null"),
            F.col(f"nd_{c}").alias("n_distinct"),
            (F.col(f"mn_{c}").cast("double") if numeric else F.lit(None).cast("double")).alias(
                "min_num"
            ),
            (F.col(f"mx_{c}").cast("double") if numeric else F.lit(None).cast("double")).alias(
                "max_num"
            ),
            (F.col(f"mn_{c}") if not numeric else F.lit(None).cast("string")).alias("min_str"),
            (F.col(f"mx_{c}") if not numeric else F.lit(None).cast("string")).alias("max_str"),
        )

    return (
        wide.select(
            F.explode(F.array(*[row(c) for c in _PROFILE_NUM + _PROFILE_STR])).alias("p")
        )
        .select("p.*")
        .orderBy("column_name")
    )


@query(
    "agg_mode_tiebreak",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS mode_priority, COUNT(*) AS mode_count
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                               ORDER BY COUNT(*) DESC, o_orderpriority) = 1
    ORDER BY o_orderstatus
    """,
    tags=("aggregate", "mode"),
)
def agg_mode_tiebreak(spark, sf_dir):
    """Deterministic MODE: the most frequent priority per order status,
    ties broken lexicographically (Spark's `F.mode` and DuckDB's `mode()`
    both leave ties unspecified, so neither is oracle-safe as-is). Shape:
    count per (status, priority) — partial-aggregated map-side — then a
    rank-1 window over the tiny counts relation, never over base rows."""
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("mode_count")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("mode_count").desc(), "o_orderpriority"
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "mode_count",
        )
        .orderBy("o_orderstatus")
    )


_S1 = sql_dsum("o_totalprice", "s1")
_S2 = sql_dsum("o_totalprice * o_totalprice", "s2", scale=2)


@query(
    "outlier_zscore_group",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS DOUBLE) AS nd, {_S1}, {_S2}
      FROM orders GROUP BY o_orderpriority
    ),
    d AS (
      SELECT o_orderpriority, s1 / nd AS mean,
             SQRT((s2 - s1 * s1 / nd) / (nd - 1.0)) AS std
      FROM s
    )
    SELECT o.o_orderpriority, COUNT(*) AS n_outliers,
           MIN(o.o_totalprice) AS min_out, MAX(o.o_totalprice) AS max_out
    FROM orders o JOIN d ON d.o_orderpriority = o.o_orderpriority
    WHERE ABS((o.o_totalprice - d.mean) / d.std) > 2.0
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
    tags=("outlier", "zscore", "data-quality"),
)
def outlier_zscore_group(spark, sf_dir):
    """Z-score outlier flagging per stratum: rows whose total price sits
    more than 2 sample standard deviations from their priority's mean.
    Two passes over the fact — a per-group moment aggregate (5 output
    rows) and a re-scan joined against the broadcast stats — which is the
    scale-correct shape: the stats relation is O(groups), never the data.
    Moments use the fixed-point scheme (squares at 10^-2) so mean/std are
    bit-identical to the oracle and the >2σ cut lands on identical rows."""
    o = t(spark, sf_dir, "orders")
    stats = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        dsum("o_totalprice", "s1"),
        dsum(F.col("o_totalprice") * F.col("o_totalprice"), "s2", scale=2),
    )
    d = stats.select(
        "o_orderpriority",
        (F.col("s1") / F.col("nd")).alias("mean"),
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd")) / (F.col("nd") - F.lit(1.0))).alias(
            "std"
        ),
    )
    return (
        o.join(F.broadcast(d), "o_orderpriority")
        .filter(F.abs((F.col("o_totalprice") - F.col("mean")) / F.col("std")) > 2.0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.min("o_totalprice").alias("min_out"),
            F.max("o_totalprice").alias("max_out"),
        )
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "profile_label_entropy",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    packed AS (
      SELECT user_id,
             CAST(SUM(cnt) AS DOUBLE) AS n,
             list(CAST(cnt AS DOUBLE) ORDER BY event_type) AS cs
      FROM counts GROUP BY user_id
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           ROUND(-list_reduce(
              list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(cs, c -> (c / n) * ln(c / n))),
              (a, b) -> a + b
           ), 9) AS entropy
    FROM packed
    ORDER BY user_id
    """,
    tags=("pipeline-quality", "entropy", "profiling"),
)
def profile_label_entropy(spark, sf_dir):
    """Shannon entropy of each user's event-type distribution — the
    class-balance probe a training pipeline runs to find degenerate
    (single-behavior) or noisy sources. Determinism: class counts are
    exact integers; the per-class entropy terms are folded in SORTED
    class order via a left fold (F.aggregate ≡ list_reduce), so every
    double add happens in the same sequence in both engines; the only
    residual divergence is ln() itself (JVM Math.log vs libm, ±1 ulp),
    absorbed by explicit 9-decimal rounding. Two shuffles total (both on
    user-keyed aggregates); the fold is over ≤ |event types| elements,
    a constant."""
    e = t(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    packed = counts.groupBy("user_id").agg(
        F.sum("cnt").cast("double").alias("n"),
        F.sort_array(
            F.collect_list(F.struct("event_type", F.col("cnt").cast("double").alias("c")))
        ).alias("pairs"),
    )
    n = F.col("n")
    terms = F.transform(F.col("pairs"), _entropy_term_factory(n))
    return packed.select(
        "user_id",
        n.cast("long").alias("n_events"),
        F.round(-F.aggregate(terms, F.lit(0.0), _dadd), 9).alias("entropy"),
    ).orderBy("user_id")


def _entropy_term_factory(n):
    """Factory keeps the HOF lambda unary (PySpark registers arity from
    the Python signature — a default-arg closure would make it 2-ary)."""

    def term(p):
        return (p["c"] / n) * F.log(p["c"] / n)

    return term


def _dadd(a, b):
    return a + b


@query(
    "profile_dup_rate_by_source",
    oracle=f"""
    WITH h AS (
      SELECT source, {sql_poly_hash("text")} AS ch FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT ch) AS n_unique,
           1.0 - COUNT(DISTINCT ch) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM h
    GROUP BY source
    ORDER BY source
    """,
    tags=("pipeline-quality", "dedup", "profiling"),
)
def profile_dup_rate_by_source(spark, sf_dir):
    """Per-source duplication rate: content-hash distinct count vs raw
    count per ingest source — the triage report that tells a pipeline
    team WHICH feed is spraying duplicates before any pair-level dedup
    runs. One hash-aggregate pass; the distinct count shuffles (source,
    hash) pairs, 8-byte hashes standing in for document text at any
    scale."""
    d = t(spark, sf_dir, "documents")
    h = d.select("source", poly_hash(F.col("text")).alias("ch"))
    return (
        h.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("ch").alias("n_unique"),
            (
                F.lit(1.0)
                - F.countDistinct("ch") / F.count(F.lit(1)).cast("double")
            ).alias("dup_rate"),
        )
        .transform(order_bounded, "source")
    )


@query(
    "profile_interarrival_gaps",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) AS us,
             LEAD(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_us
      FROM events
    )
    SELECT user_id,
           COUNT(next_us) AS n_gaps,
           CAST(SUM(next_us - us) AS BIGINT) AS total_gap_us,
           (CAST(SUM(next_us - us) AS DOUBLE) / COUNT(next_us)) / 1000000.0
             AS avg_gap_s
    FROM seq
    GROUP BY user_id
    HAVING COUNT(next_us) >= 1
    ORDER BY user_id
    """,
    tags=("pipeline-quality", "interarrival", "window"),
)
def profile_interarrival_gaps(spark, sf_dir):
    """Inter-event arrival gaps per user: lead() over the per-user time
    order gives each event's successor; gaps are exact microsecond
    integers (no float until the final average), with event_id as the
    tie-break for simultaneous timestamps so the pairing is total-order
    deterministic. The window partitions on user_id; the aggregate
    reuses the same shuffle key."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    gap = F.col("next_us") - F.col("us")
    return (
        seq.groupBy("user_id")
        .agg(
            F.count("next_us").alias("n_gaps"),
            F.sum(gap).alias("total_gap_us"),
            ((F.sum(gap).cast("double") / F.count("next_us")) / 1e6).alias("avg_gap_s"),
        )
        .filter(F.col("n_gaps") >= 1)
        .orderBy("user_id")
    )


@query(
    "profile_winsorize_clip",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderpriority, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    bounds AS (
      SELECT o_orderpriority,
             MAX(CASE WHEN rn = greatest(1, (5 * n) // 100) THEN o_totalprice END) AS lo,
             MAX(CASE WHEN rn = least(n, (95 * n) // 100 + 1) THEN o_totalprice END) AS hi
      FROM ranked GROUP BY o_orderpriority
    )
    SELECT r.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN r.o_totalprice < b.lo THEN 1
                         WHEN r.o_totalprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped,
           {sql_dsum("least(greatest(r.o_totalprice, b.lo), b.hi)", "sum_winsorized")}
    FROM ranked r JOIN bounds b ON r.o_orderpriority = b.o_orderpriority
    GROUP BY r.o_orderpriority
    ORDER BY r.o_orderpriority
    """,
    tags=("profile", "winsorize", "outlier", "preprocessing"),
)
def profile_winsorize_clip(spark, sf_dir):
    """Winsorization — clip, don't drop: per-priority 5th/95th percentile
    bounds (portable DISCRETE ranks: actual data values at deterministic
    row numbers, no interpolation) clamp every price before aggregation.
    The keep-don't-drop alternative to outlier_zscore_group for
    heavy-tailed features in training-data preprocessing.

    Scale shape: one rank window per group (one shuffle), the 5-row
    bounds relation joins back (AQE broadcasts it), clipping is map-side,
    and the final aggregate is partial-combined. Bounds are data values
    and clipped sums fixed-point, so everything hash-matches."""
    o = t(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wn = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("o_orderpriority").agg(
        F.max(
            F.when(F.col("rn") == F.expr("greatest(1, (5 * n) div 100)"), F.col("o_totalprice"))
        ).alias("lo"),
        F.max(
            F.when(F.col("rn") == F.expr("least(n, (95 * n) div 100 + 1)"), F.col("o_totalprice"))
        ).alias("hi"),
    )
    clipped = ranked.join(bounds, "o_orderpriority").select(
        "o_orderpriority",
        "o_totalprice",
        "lo",
        "hi",
        F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")).alias("w"),
    )
    return (
        clipped.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("o_totalprice") < F.col("lo"))
                    | (F.col("o_totalprice") > F.col("hi")),
                    1,
                ).otherwise(0)
            ).alias("n_clipped"),
            dsum("w", "sum_winsorized"),
        )
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "sample_class_balance",
    oracle="""
    WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    rates AS (
      SELECT lang, n, n // (SELECT MIN(n) FROM cnt) AS k FROM cnt
    )
    SELECT d.lang,
           CAST(MAX(r.n) AS BIGINT) AS n_before,
           CAST(MAX(r.k) AS BIGINT) AS keep_every_kth,
           CAST(COUNT(*) AS BIGINT) AS n_after
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE d.doc_id % r.k = 0
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    tags=("sample", "class-balance", "preprocessing"),
)
def sample_class_balance(spark, sf_dir):
    """Class-balance downsampling: majority language classes are thinned
    by a deterministic keep-every-kth-id rule, k = class_count div
    min_class_count, so every class lands within ~1× of the smallest —
    the label-rebalancing step before training on skewed corpora, with a
    reproducible (id-keyed, not random) keep decision.

    Scale shape: class counts are a 5-row aggregate; the scalar min is a
    one-row subquery; the rate relation joins back by class label
    (AQE broadcasts the 5 rows) and the keep filter is map-side — the
    corpus shuffles only for the final per-class count."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    min_n = cnt.agg(F.min("n").alias("m"))
    rates = cnt.crossJoin(F.broadcast(min_n)).select(
        "lang", "n", F.expr("n div m").alias("k")
    )
    return (
        d.join(rates, "lang")
        .filter(F.col("doc_id") % F.col("k") == 0)
        .groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_before"),
            F.max("k").cast("long").alias("keep_every_kth"),
            F.count(F.lit(1)).alias("n_after"),
        )
        .transform(order_bounded, "lang")
    )


@query(
    "profile_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
    tags=("profile", "histogram", "equi-depth", "statistics"),
)
def profile_equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile-bucket) histogram, EXACT — and since round 5
    with NO sort and NO single-partition window: ntile semantics are
    reproduced from first principles instead of ranked. ntile(8) over
    (value, key) deals ranks 1..n into buckets of size q+1 (first r
    buckets) then q, with q = n div 8, r = n mod 8 — so every bucket's
    POPULATION is pure arithmetic on n, and its [lo, hi] price range is
    the pair of order statistics at the bucket's boundary ranks
    (start_b = (b−1)q + min(b−1, r) + 1, end_b = bq + min(b, r)). The
    composite (price, orderkey) tie-break decides which ROW lands where
    but never the multiset of prices per rank position — the k-th
    composite's price IS the k-th smallest price — so the 16 boundary
    VALUES are plain price order statistics, found exactly by the shared
    histogram-refinement machinery (``_quantiles_refine``: a 16-row
    (sid, lo, hi, k) broadcast state, three shared data passes,
    ≤16·4096-row shuffles, zero sorts, zero driver state). This retires
    the round-4 allowlist entry: the oracle stays the ntile truth, and
    the plan now survives 100 TB."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        units("o_totalprice", 2).alias("cents")
    ).persist()
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    spine = spark.range(1, 9).select(F.col("id").cast("int").alias("bucket"))
    bounds = spine.crossJoin(F.broadcast(base)).selectExpr(
        "bucket",
        "lo",
        "hi",
        "(bucket - 1) * (n div 8) + least(bucket - 1, n % 8) + 1 AS k_start",
        "bucket * (n div 8) + least(bucket, n % 8) AS k_end",
    )
    states = bounds.select(
        F.explode(
            F.array(
                F.struct(
                    (F.col("bucket") * 2 - 1).cast("long").alias("sid"),
                    F.col("k_start").alias("k"),
                ),
                F.struct(
                    (F.col("bucket") * 2).cast("long").alias("sid"),
                    F.col("k_end").alias("k"),
                ),
            )
        ).alias("s"),
        "lo",
        "hi",
    ).select(F.col("s.sid").alias("sid"), "lo", "hi", F.col("s.k").alias("k"))
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states, key="sid")
    lohi = (
        states.select(
            F.expr("(sid + 1) div 2").cast("int").alias("bucket"),
            F.when(F.col("sid") % 2 == 1, F.col("lo")).alias("c_start"),
            F.when(F.col("sid") % 2 == 0, F.col("lo")).alias("c_end"),
        )
        .groupBy("bucket")
        .agg(
            (F.min("c_start").cast("double") / 100.0).alias("lo"),
            (F.max("c_end").cast("double") / 100.0).alias("hi"),
        )
    )
    return (
        bounds.select(
            "bucket", (F.col("k_end") - F.col("k_start") + 1).cast("long").alias("n")
        )
        .join(lohi, "bucket")
        .select("bucket", "n", "lo", "hi")
        .orderBy("bucket")
    )


@query(
    "profile_equidepth_histogram_approx",
    oracle="""
    SELECT CAST(range AS INT) AS bucket,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_total,
           TRUE AS within_tolerance
    FROM range(1, 9)
    ORDER BY bucket
    """,
    tags=("profile", "histogram", "equi-depth", "approx", "statistics"),
)
def profile_equidepth_histogram_approx(spark, sf_dir):
    """Equi-depth histogram, PRODUCTION form — the runnable-at-100 TB
    twin of ``profile_equidepth_histogram``: bucket boundaries come from
    ``percentile_approx`` (Greenwald-Khanna sketch, accuracy=10000 ⇒
    rank error ≤ n/10000 per boundary — a partial-merge aggregate, NO
    global sort), bucket assignment is a map-side array lookup against
    the broadcast one-row boundary relation, and the per-bucket count is
    an 8-key aggregate. Total cost: two passes over the column, zero
    world sorts — vs the exact form's single-partition ntile.

    Driver-checkable shape (the ``within_tolerance`` pattern of
    ``agg_approx_count_distinct``): each bucket's population must land
    within 10% of the ideal n/8 (sketch guarantee: deviation ≤ 2n/10000
    per bucket, 50× inside the gate), so the deterministic columns
    (bucket spine, total rows) hash-match the oracle while the
    approximate populations are tolerance-verified. The exact ntile
    form remains the oracle-truth profile this approximates."""
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    stats = o.agg(
        F.percentile_approx(
            "o_totalprice", [i / 8.0 for i in range(1, 8)], 10000
        ).alias("cuts"),
        F.count(F.lit(1)).alias("n_total"),
    )
    counts = (
        o.join(F.broadcast(stats))  # one-row boundary broadcast (allowlisted)
        .select(
            (
                F.lit(1)
                + F.size(F.filter("cuts", lambda c: c < F.col("o_totalprice")))
            ).cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(1, 9).select(F.col("id").cast("int").alias("bucket"))
    return (
        spine.join(F.broadcast(stats.select("n_total")))
        .join(counts, "bucket", "left")
        .select(
            "bucket",
            "n_total",
            (
                F.abs(F.coalesce(F.col("n"), F.lit(0)) - F.col("n_total") / 8.0)
                <= F.greatest(F.col("n_total") * (0.1 / 8.0), F.lit(2.0))
            ).alias("within_tolerance"),
        )
        .orderBy("bucket")
    )


_MIX_W = {"en": 0.2, "de": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.2}
_MIX_BUDGET = 0.8  # fraction of the corpus token count to keep

_SQL_MIX_W = (
    "CASE "
    + " ".join(f"WHEN lang = '{k}' THEN {v}" for k, v in _MIX_W.items())
    + " END"
)


@query(
    "sample_token_budget_mix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, chr(32))) AS BIGINT) AS n_tok
      FROM documents
    ),
    by_lang AS (
      SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tok_avail FROM toks GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(tok_avail) AS BIGINT) AS tot FROM by_lang),
    rates AS (
      SELECT lang, tok_avail,
             CAST(floor(least(1.0, {_MIX_BUDGET} * tot * ({_SQL_MIX_W}) / tok_avail)
                        * 10000) AS BIGINT) AS keep_bp
      FROM by_lang CROSS JOIN tot
    )
    SELECT r.lang, r.tok_avail, r.keep_bp,
           CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept
    FROM toks t JOIN rates r ON t.lang = r.lang
    WHERE (t.doc_id * {_MIX}) % 10000 < r.keep_bp
    GROUP BY r.lang, r.tok_avail, r.keep_bp
    ORDER BY r.lang
    """,
    tags=("sample", "mixture", "token-budget", "preprocessing"),
)
def sample_token_budget_mix(spark, sf_dir):
    """Token-budget mixture sampling — the data-mixing step of an LLM
    pipeline: given target LANGUAGE WEIGHTS and a global token budget
    (80% of the corpus here), compute each language's keep rate
    r = min(1, budget·w / tokens_available) — over-represented languages
    are downsampled toward their target share, under-represented ones
    are kept whole (the min clamps at 1) — and realize the sample with
    the deterministic multiplicative-hash gate on doc_id, so membership
    is reproducible on any engine, run, and partitioning (no RNG, no
    seed coordination across 1000 executors).

    Scale shape: per-language token totals are one partial-merge
    aggregate over a 5-row key; the rate relation is 5 rows (AQE
    broadcasts it); the keep gate is a map-side scalar predicate; the
    final rollup groups the surviving docs by the same 5-row key.
    The corpus never shuffles un-aggregated. Rates are published in
    basis points (floor to int) so the keep decision hashes exactly
    cross-engine."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    by_lang = toks.groupBy("lang").agg(F.sum("n_tok").cast("long").alias("tok_avail"))
    tot = by_lang.agg(F.sum("tok_avail").cast("long").alias("tot"))
    w_expr = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_W.items()]
    )
    rates = (
        by_lang.join(F.broadcast(tot))
        .select(
            "lang",
            "tok_avail",
            F.floor(
                F.least(
                    F.lit(1.0),
                    F.lit(_MIX_BUDGET) * F.col("tot") * w_expr / F.col("tok_avail"),
                )
                * 10000
            ).cast("long").alias("keep_bp"),
        )
    )
    return (
        toks.join(rates, "lang")
        .filter(F.pmod(F.col("doc_id") * _MIX, F.lit(10000)) < F.col("keep_bp"))
        .groupBy("lang", "tok_avail", "keep_bp")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .transform(order_bounded, "lang")
    )


_KS_BUCKETS = 16
_KS_A, _KS_B = "click", "purchase"


@query(
    "profile_ks_drift",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{_KS_A}', '{_KS_B}')
    ),
    bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM base),
    bk AS (
      SELECT event_type,
             LEAST({_KS_BUCKETS}, CAST(FLOOR((value - lo)
                   / ((hi - lo) / {_KS_BUCKETS}.0)) AS BIGINT)) AS bucket
      FROM base, bounds
    ),
    counts AS (
      SELECT event_type, bucket, COUNT(*) AS c FROM bk GROUP BY 1, 2
    ),
    spine AS (
      SELECT et.event_type, g.i AS bucket
      FROM (SELECT DISTINCT event_type FROM base) et,
           (SELECT unnest(generate_series(0, {_KS_BUCKETS})) AS i) g
    ),
    dense AS (
      SELECT s.event_type, s.bucket, COALESCE(c.c, 0) AS c
      FROM spine s LEFT JOIN counts c USING (event_type, bucket)
    ),
    tot AS (SELECT event_type, COUNT(*) AS n FROM base GROUP BY 1),
    cum AS (
      SELECT d.event_type, d.bucket,
             CAST(SUM(d.c) OVER (PARTITION BY d.event_type ORDER BY d.bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               / t.n AS ecdf
      FROM dense d JOIN tot t USING (event_type)
    ),
    w AS (
      SELECT a.bucket, a.ecdf AS ecdf_a, b.ecdf AS ecdf_b,
             ABS(a.ecdf - b.ecdf) AS abs_diff
      FROM cum a JOIN cum b USING (bucket)
      WHERE a.event_type = '{_KS_A}' AND b.event_type = '{_KS_B}'
    )
    SELECT bucket, ecdf_a, ecdf_b, abs_diff,
           MAX(abs_diff) OVER () AS ks_stat
    FROM w
    """,
    tags=("profile", "drift", "ks", "distribution"),
)
def profile_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift check on a shared value grid:
    compare the `click` and `purchase` value distributions by their
    empirical CDFs evaluated at 17 equi-width grid points, reporting the
    per-point gap and the KS statistic (max gap) — the
    distribution-drift monitor a pipeline runs between corpus versions
    or between a training slice and production traffic.

    The exact KS statistic needs a world sort of both samples; the grid
    form is the scale formulation: one (lo, hi) one-row broadcast, one
    map-side bucket assignment, one partial-merged count per (group,
    bucket), then cumulative sums over the FIXED 17-bucket spine — the
    only windows run over ≤17 rows per group. Resolution is the grid,
    not the data, which is the standard monitoring trade (a drift gate
    alerts on gaps far above 1/17). ECDF values divide two exact
    integers, so every double is bit-identical cross-engine."""
    base = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        .select("event_type", "value")
    )
    bounds = base.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / F.lit(float(_KS_BUCKETS))
    bk = base.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.lit(_KS_BUCKETS),
            F.floor((F.col("value") - F.col("lo")) / step).cast("long"),
        ).alias("bucket"),
    )
    counts = bk.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("c"))
    spine = (
        base.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                bounds.select(F.explode(F.sequence(F.lit(0), F.lit(_KS_BUCKETS))).alias("bucket"))
            )
        )
    )
    dense = spine.join(counts, ["event_type", "bucket"], "left").select(
        "event_type", "bucket", F.coalesce("c", F.lit(0)).alias("c")
    )
    tot = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    wc = Window.partitionBy("event_type").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dense.join(tot, "event_type").select(
        "event_type", "bucket", (F.sum("c").over(wc) / F.col("n")).alias("ecdf")
    )
    a = cum.filter(F.col("event_type") == _KS_A).select("bucket", F.col("ecdf").alias("ecdf_a"))
    b = cum.filter(F.col("event_type") == _KS_B).select("bucket", F.col("ecdf").alias("ecdf_b"))
    w = a.join(b, "bucket").select(
        "bucket", "ecdf_a", "ecdf_b", F.abs(F.col("ecdf_a") - F.col("ecdf_b")).alias("abs_diff")
    )
    return w.select(
        "bucket",
        "ecdf_a",
        "ecdf_b",
        "abs_diff",
        F.max("abs_diff").over(Window.partitionBy()).alias("ks_stat"),
    )


@query(
    "outlier_mad_robust",
    oracle="""
    WITH med AS (
      SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, COUNT(*) AS n_outliers,
           MIN(d.value) AS min_out, MAX(d.value) AS max_out
    FROM dev d JOIN mad m USING (event_type)
    WHERE 0.6745 * (d.value - d.med) / m.mad > 3.5
       OR 0.6745 * (d.value - d.med) / m.mad < -3.5
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    tags=("outlier", "robust", "mad", "profile"),
)
def outlier_mad_robust(spark, sf_dir):
    """Robust outlier detection via median absolute deviation: flag rows
    whose modified z-score 0.6745*(x - median)/MAD exceeds 3.5 (the
    Iglewicz-Hoaglin rule). Unlike the mean/stddev z-score (which heavy
    outliers inflate, masking themselves), median and MAD have a 50%
    breakdown point — this is the outlier gate a curation pipeline
    trusts on contaminated data.

    Scale shape: two grouped exact-percentile aggregates (each a
    per-group sort that Spark distributes by the group key — groups
    grow with the corpus, no world sort) with the per-group medians
    broadcast back over the fact rows; medians are rounded to 1e-6 in
    BOTH engines before deviations, so every downstream double is
    bit-identical. At 100 TB the exact percentile swaps for the
    GK-sketch `percentile_approx` twin exactly as the equi-depth
    histogram family does."""
    e = t(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = e.join(med, "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    mz = 0.6745 * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        dev.join(mad, "event_type")
        .filter((mz > 3.5) | (mz < -3.5))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            F.min("value").alias("min_out"),
            F.max("value").alias("max_out"),
        )
        .transform(order_bounded, "event_type")
    )


@query(
    "sample_ab_srm",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    assigned AS (
      SELECT user_id,
             CASE WHEN (user_id * {_MIX}) % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS variant
      FROM users
    ),
    c AS (
      SELECT
        CAST(COUNT(*) FILTER (variant = 'control') AS BIGINT) AS n_control,
        CAST(COUNT(*) FILTER (variant = 'treatment') AS BIGINT) AS n_treatment
      FROM assigned
    )
    SELECT n_control, n_treatment,
           (n_control + n_treatment) / 2.0 AS expected_each,
           (n_control - (n_control + n_treatment) / 2.0)
             * (n_control - (n_control + n_treatment) / 2.0)
             / ((n_control + n_treatment) / 2.0) * 2.0 AS chi2,
           CAST((n_control - (n_control + n_treatment) / 2.0)
             * (n_control - (n_control + n_treatment) / 2.0)
             / ((n_control + n_treatment) / 2.0) * 2.0 > 3.841 AS BOOLEAN)
             AS srm_detected
    FROM c
    """,
    tags=("sample", "experiment", "ab-test", "srm"),
)
def sample_ab_srm(spark, sf_dir):
    """Deterministic A/B experiment assignment with a sample-ratio-
    mismatch (SRM) guardrail: every user hashes to control/treatment by
    a pure function of their id (the same hash-gated membership contract
    as the sampling family — re-runs, late events, and any parallelism
    give the identical split, no seed coordination), then the realized
    split is chi-square-tested against the declared 50/50 (1 dof,
    p=0.05 critical value 3.841). SRM is THE standard validity gate an
    experimentation pipeline runs before reading any metric — a biased
    assignment invalidates the whole experiment.

    Scale shape: distinct users is one partial-merged aggregate; the
    assignment is a map-side expression on the aggregate's output; the
    final test is arithmetic on a one-row relation. Counts are exact
    integers; the chi-square expression is written identically in both
    engines, so the statistic is bit-identical."""
    users = t(spark, sf_dir, "events").select("user_id").distinct()
    assigned = users.select(
        F.when((F.col("user_id") * _MIX) % 100 < 50, "control")
        .otherwise("treatment")
        .alias("variant")
    )
    c = assigned.agg(
        F.count(F.when(F.col("variant") == "control", 1)).alias("n_control"),
        F.count(F.when(F.col("variant") == "treatment", 1)).alias("n_treatment"),
    )
    exp_each = (F.col("n_control") + F.col("n_treatment")) / 2.0
    dev = F.col("n_control") - exp_each
    chi2 = dev * dev / exp_each * 2.0
    return c.select(
        "n_control",
        "n_treatment",
        exp_each.alias("expected_each"),
        chi2.alias("chi2"),
        (chi2 > 3.841).alias("srm_detected"),
    )


_RES_K = 64


@query(
    "sample_reservoir_topk",
    oracle=f"""
    WITH pri AS (
      SELECT event_id, user_id, event_type,
             (event_id * {_MIX}) % 1000000007 AS priority
      FROM events
    )
    SELECT event_id, user_id, event_type, priority
    FROM pri
    ORDER BY priority, event_id
    LIMIT {_RES_K}
    """,
    tags=("sample", "reservoir", "mergeable"),
)
def sample_reservoir_topk(spark, sf_dir):
    """Distributed fixed-size uniform sample (the reservoir-sampling
    contract) via hash priorities: every row gets a deterministic
    pseudo-uniform priority from its key, and the sample is the k
    smallest — per-partition k-element heaps merge associatively
    (TakeOrderedAndProject), which is exactly the property that lets a
    1000-executor scan, a streaming accumulator, or a union of shard
    samples maintain one k-sample with O(k) state each and O(k log k)
    merges. Unlike rand()-reservoirs, re-runs at any parallelism pick
    the identical sample, and the oracle can reproduce it exactly
    (the hash-gated membership contract of the sampling family, with a
    FIXED size instead of a fixed rate)."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            "user_id",
            "event_type",
            ((F.col("event_id") * _MIX) % 1000000007).alias("priority"),
        )
        .orderBy("priority", "event_id")
        .limit(_RES_K)
    )


_AB_S1 = sql_dsum("value", "s1")
_AB_S2 = sql_dsum("value * value", "s2", scale=2)


@query(
    "ds_ab_welch_ttest",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN (user_id * {_MIX}) % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS variant,
             value
      FROM events
    ),
    s AS (
      SELECT variant, CAST(COUNT(*) AS DOUBLE) AS nd, {_AB_S1}, {_AB_S2}
      FROM assigned GROUP BY variant
    ),
    m AS (
      SELECT variant, nd, s1 / nd AS mean,
             (s2 - s1 * s1 / nd) / (nd - 1.0) AS var
      FROM s
    ),
    w AS (
      SELECT c.nd AS n_control, t.nd AS n_treatment,
             c.mean AS mean_control, t.mean AS mean_treatment,
             (c.mean - t.mean)
               / SQRT(c.var / c.nd + t.var / t.nd) AS t_stat
      FROM (SELECT * FROM m WHERE variant = 'control') c,
           (SELECT * FROM m WHERE variant = 'treatment') t
    )
    SELECT CAST(n_control AS BIGINT) AS n_control,
           CAST(n_treatment AS BIGINT) AS n_treatment,
           ROUND(mean_control, 8) AS mean_control,
           ROUND(mean_treatment, 8) AS mean_treatment,
           ROUND(t_stat, 8) AS t_stat,
           CAST(ABS(t_stat) > 1.96 AS BOOLEAN) AS significant_95
    FROM w
    """,
    tags=("analytics", "experiment", "ttest", "ab-test"),
)
def ds_ab_welch_ttest(spark, sf_dir):
    """Welch's two-sample t-test on the experiment metric: the readout
    stage after `sample_ab_srm` validates the split — per-variant mean
    and unbiased variance from fixed-point first/second moments, the
    unequal-variance t statistic, and the 95% significance flag. Welch
    (not pooled Student) because real experiment arms rarely share a
    variance.

    Scale shape: ONE partial-merged aggregate per variant over the
    hash-assigned events (two groups, constant state), then one-row
    arithmetic. The moments use the fixed-point scheme
    (`canonical.py`), so mean/variance — and therefore the t statistic
    before its final 1e-8 rounding — are order-independent and
    bit-identical cross-engine."""
    assigned = t(spark, sf_dir, "events").select(
        F.when((F.col("user_id") * _MIX) % 100 < 50, "control")
        .otherwise("treatment")
        .alias("variant"),
        "value",
    )
    s = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        dsum("value", "s1"),
        dsum(F.col("value") * F.col("value"), "s2", scale=2),
    )
    m = s.select(
        "variant",
        "nd",
        (F.col("s1") / F.col("nd")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd")) / (F.col("nd") - 1.0)).alias(
            "var"
        ),
    )
    c = m.filter(F.col("variant") == "control").select(
        F.col("nd").alias("nc"), F.col("mean").alias("mc"), F.col("var").alias("vc")
    )
    tr = m.filter(F.col("variant") == "treatment").select(
        F.col("nd").alias("nt"), F.col("mean").alias("mt"), F.col("var").alias("vt")
    )
    tstat = (F.col("mc") - F.col("mt")) / F.sqrt(
        F.col("vc") / F.col("nc") + F.col("vt") / F.col("nt")
    )
    return c.crossJoin(tr).select(
        F.col("nc").cast("long").alias("n_control"),
        F.col("nt").cast("long").alias("n_treatment"),
        F.round("mc", 8).alias("mean_control"),
        F.round("mt", 8).alias("mean_treatment"),
        F.round(tstat, 8).alias("t_stat"),
        (F.abs(tstat) > 1.96).alias("significant_95"),
    )


# Benford first-digit probabilities log10(1 + 1/d), embedded as literals so
# both engines compare against the IDENTICAL constants (no libm involved).
_BENFORD_P = (
    0.301029995664,
    0.176091259056,
    0.124938736608,
    0.096910013008,
    0.079181246048,
    0.066946789631,
    0.057991946978,
    0.051152522447,
    0.045757490561,
)
_SQL_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)" for d, p in enumerate(_BENFORD_P, start=1)
) + " END"


@query(
    "profile_benford_check",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM digits),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed
      FROM digits GROUP BY digit
    ),
    spine AS (SELECT unnest(generate_series(1, 9)) AS digit)
    SELECT s.digit,
           COALESCE(o.observed, 0) AS observed,
           {_SQL_BENFORD_CASE.replace("digit", "s.digit")} * n.total AS expected,
           COALESCE(o.observed, 0) / CAST(n.total AS DOUBLE) AS observed_frac,
           (COALESCE(o.observed, 0) - {_SQL_BENFORD_CASE.replace("digit", "s.digit")} * n.total)
             * (COALESCE(o.observed, 0) - {_SQL_BENFORD_CASE.replace("digit", "s.digit")} * n.total)
             / ({_SQL_BENFORD_CASE.replace("digit", "s.digit")} * n.total) AS chi2_term
    FROM spine s LEFT JOIN obs o ON o.digit = s.digit, n
    ORDER BY s.digit
    """,
    tags=("profile", "benford", "audit", "quality"),
)
def profile_benford_check(spark, sf_dir):
    """Benford's-law first-digit audit on order totals: observed
    first-significant-digit counts vs the log10(1+1/d) expectation,
    with per-digit chi-square terms — the classic fabricated-data /
    corrupted-feed screen a data-quality pipeline runs on monetary and
    count columns (organic multiplicative data follows Benford;
    uniform-generated or truncated feeds visibly don't — the verdict
    here is the per-digit evidence, not a pass flag, because TPC-H's
    uniform prices are exactly such a non-Benford feed).

    The expectation constants are embedded LITERALS (no runtime libm),
    the digit extraction is integer/string ops, and the chi-square
    terms divide identically-formed doubles — bit-identical
    cross-engine. Scale: one map-side digit projection, one 9-group
    partial-merged count, a 9-row spine join; the corpus total is a
    one-row broadcast."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(F.floor("o_totalprice").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    n = digits.agg(F.count(F.lit(1)).alias("total"))
    obs = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("observed"))
    spine = n.select(F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"), "total")
    p = F.element_at(F.array(*[F.lit(x) for x in _BENFORD_P]), F.col("digit"))
    expected = p * F.col("total")
    observed = F.coalesce(F.col("observed"), F.lit(0))
    return (
        spine.join(obs, "digit", "left")
        .select(
            "digit",
            observed.alias("observed"),
            expected.alias("expected"),
            (observed / F.col("total").cast("double")).alias("observed_frac"),
            ((observed - expected) * (observed - expected) / expected).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_CUPED_CUT = "2024-01-16"


@query(
    "ds_ab_cuped_adjust",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN (user_id * {_MIX}) % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS variant,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUT}'
                  THEN {sql_units("value", 6)} ELSE 0 END)
                  AS DOUBLE) / 1000000.0 AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUT}'
                  THEN {sql_units("value", 6)} ELSE 0 END)
                  AS DOUBLE) / 1000000.0 AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_dsum("x", "sx")}, {sql_dsum("y", "sy")},
             {sql_dsum("x * x", "sxx", scale=2)},
             {sql_dsum("x * y", "sxy", scale=2)}
      FROM per_user
    ),
    theta AS (
      SELECT n, sx / n AS xbar,
             (sxy - sx * sy / n) / (sxx - sx * sx / n) AS th
      FROM m
    ),
    adj AS (
      SELECT p.variant, p.y,
             p.y - t.th * (p.x - t.xbar) AS y_adj
      FROM per_user p, theta t
    ),
    v AS (
      SELECT variant, CAST(COUNT(*) AS DOUBLE) AS nv,
             {sql_dsum("y", "vy1")}, {sql_dsum("y * y", "vy2", scale=2)},
             {sql_dsum("y_adj", "va1")}, {sql_dsum("y_adj * y_adj", "va2", scale=2)}
      FROM adj GROUP BY variant
    )
    SELECT variant, CAST(nv AS BIGINT) AS n_users,
           ROUND(vy1 / nv, 8) AS mean_y,
           ROUND(va1 / nv, 8) AS mean_y_adj,
           ROUND((vy2 - vy1 * vy1 / nv) / (nv - 1.0), 6) AS var_y,
           ROUND((va2 - va1 * va1 / nv) / (nv - 1.0), 6) AS var_y_adj,
           ROUND(1.0 - ((va2 - va1 * va1 / nv) / (nv - 1.0))
                 / ((vy2 - vy1 * vy1 / nv) / (nv - 1.0)), 8) AS variance_reduction
    FROM v ORDER BY variant
    """,
    tags=("analytics", "experiment", "cuped", "variance-reduction"),
)
def ds_ab_cuped_adjust(spark, sf_dir):
    """CUPED covariate adjustment for the A/B metric (Deng et al.):
    per-user pre-period spend x predicts experiment-period spend y, so
    y* = y − θ(x − x̄) with θ = cov(x,y)/var(x) removes the variance x
    explains — the standard trick that makes experiments sensitive
    without more traffic. Reports per-variant adjusted means/variances
    and the realized variance reduction (means shift only by sampling
    noise; the CUPED guarantee is on variance).

    Scale shape: one grouped aggregate builds per-user (x, y) with
    FIXED-POINT sums (order-independent); θ is one fixed-point moment
    row broadcast back; the per-variant variance pass reuses the same
    moment scheme. Every double on the way to the rounded outputs is
    built from exact integers through identically-written expressions —
    bit-identical cross-engine."""
    e = t(spark, sf_dir, "events")
    cut = F.lit(_CUPED_CUT).cast("timestamp_ntz")
    qv = units("value", 6)
    per_user = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("ts") < cut, qv).otherwise(F.lit(0))).cast("double") / 1e6
        ).alias("x"),
        (
            F.sum(F.when(F.col("ts") >= cut, qv).otherwise(F.lit(0))).cast("double") / 1e6
        ).alias("y"),
    ).select(
        F.when((F.col("user_id") * _MIX) % 100 < 50, "control")
        .otherwise("treatment")
        .alias("variant"),
        "x",
        "y",
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x", "sx"),
        dsum("y", "sy"),
        dsum(F.col("x") * F.col("x"), "sxx", scale=2),
        dsum(F.col("x") * F.col("y"), "sxy", scale=2),
    )
    theta = m.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("th"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).select(
        "variant",
        "y",
        (F.col("y") - F.col("th") * (F.col("x") - F.col("xbar"))).alias("y_adj"),
    )
    v = adj.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("nv"),
        dsum("y", "vy1"),
        dsum(F.col("y") * F.col("y"), "vy2", scale=2),
        dsum("y_adj", "va1"),
        dsum(F.col("y_adj") * F.col("y_adj"), "va2", scale=2),
    )
    var_y = (F.col("vy2") - F.col("vy1") * F.col("vy1") / F.col("nv")) / (F.col("nv") - 1.0)
    var_a = (F.col("va2") - F.col("va1") * F.col("va1") / F.col("nv")) / (F.col("nv") - 1.0)
    return v.select(
        "variant",
        F.col("nv").cast("long").alias("n_users"),
        F.round(F.col("vy1") / F.col("nv"), 8).alias("mean_y"),
        F.round(F.col("va1") / F.col("nv"), 8).alias("mean_y_adj"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_a, 6).alias("var_y_adj"),
        F.round(1.0 - var_a / var_y, 8).alias("variance_reduction"),
    ).transform(order_bounded, "variant")


_NEYMAN_TARGET = 500  # total sample budget across strata


@query(
    "sample_neyman_allocation",
    oracle=f"""
    WITH s AS (
      SELECT o_orderpriority AS stratum, CAST(COUNT(*) AS DOUBLE) AS nh,
             {sql_dsum("o_totalprice", "s1")},
             {sql_dsum("o_totalprice * o_totalprice", "s2", scale=2)}
      FROM orders GROUP BY stratum
    ),
    m AS (
      SELECT stratum, nh,
             SQRT((s2 - s1 * s1 / nh) / (nh - 1.0)) AS sh
      FROM s
    ),
    tot AS (SELECT CAST(SUM({sql_units("nh * sh", 2)}) AS DOUBLE)
                   / 100.0 AS denom FROM m),
    alloc AS (
      SELECT stratum, nh, sh,
             LEAST(1.0, {_NEYMAN_TARGET} * (nh * sh) / denom / nh) AS rate
      FROM m, tot
    ),
    gated AS (
      SELECT o.o_orderpriority AS stratum,
             CASE WHEN (o.o_orderkey * {_MIX}) % 1000000
                       < {sql_units("a.rate", 6)}
                  THEN 1 ELSE 0 END AS picked
      FROM orders o JOIN alloc a ON a.stratum = o.o_orderpriority
    )
    SELECT g.stratum,
           CAST(a.nh AS BIGINT) AS n_stratum,
           ROUND(a.sh, 6) AS stddev,
           ROUND(a.rate, 8) AS rate,
           CAST(SUM(g.picked) AS BIGINT) AS n_sampled,
           CAST(ABS(SUM(g.picked) - a.rate * a.nh)
                <= 4.0 * SQRT(a.rate * a.nh) + 1.0 AS BOOLEAN) AS within_4sigma
    FROM gated g JOIN alloc a ON a.stratum = g.stratum
    GROUP BY g.stratum, a.nh, a.sh, a.rate
    ORDER BY g.stratum
    """,
    tags=("sample", "stratified", "neyman", "allocation"),
)
def sample_neyman_allocation(spark, sf_dir):
    """Neyman-OPTIMAL stratified sampling: each stratum's share of a
    fixed 500-row budget is proportional to N_h·S_h (its size times its
    standard deviation) — the allocation that minimizes the variance of
    the stratified mean estimator, vs the equal/proportional rates of
    `sample_stratified_rates`. High-variance strata get oversampled
    exactly as survey theory says they must.

    Rates derive from FIXED-POINT moments (bit-identical doubles), the
    membership gate is the family's deterministic hash (reproducible at
    any parallelism, oracle-replayable), and the realized count per
    stratum is verdict-checked within 4σ of rate·N_h — exact columns
    plus tolerance booleans, the standard pattern for operators with a
    statistical contract. Scale shape: one moment aggregate per
    stratum, a one-row denominator broadcast, one map-side gate pass —
    no extra shuffle beyond the two grouped aggregates."""
    o = t(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        dsum("o_totalprice", "s1"),
        dsum(F.col("o_totalprice") * F.col("o_totalprice"), "s2", scale=2),
    )
    m = s.select(
        "stratum",
        "nh",
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("nh")) / (F.col("nh") - 1.0)).alias(
            "sh"
        ),
    )
    # order-independent fixed-point fold: a raw double SUM over strata is
    # association-order-dependent and could flip the gate threshold's last ulp
    tot = m.agg(
        fixsum(F.col("nh") * F.col("sh"), 2).alias("denom")
    )
    alloc = m.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "nh",
        "sh",
        F.least(
            F.lit(1.0),
            F.lit(_NEYMAN_TARGET) * (F.col("nh") * F.col("sh")) / F.col("denom") / F.col("nh"),
        ).alias("rate"),
    )
    gated = o.join(F.broadcast(alloc), o.o_orderpriority == alloc.stratum).select(
        "stratum",
        "nh",
        "sh",
        "rate",
        F.when(
            (F.col("o_orderkey") * _MIX) % 1_000_000
            < units("rate", 6),
            1,
        )
        .otherwise(0)
        .alias("picked"),
    )
    return (
        gated.groupBy("stratum", "nh", "sh", "rate")
        .agg(F.sum("picked").alias("n_sampled"))
        .select(
            "stratum",
            F.col("nh").cast("long").alias("n_stratum"),
            F.round("sh", 6).alias("stddev"),
            F.round("rate", 8).alias("rate"),
            "n_sampled",
            (
                F.abs(F.col("n_sampled") - F.col("rate") * F.col("nh"))
                <= 4.0 * F.sqrt(F.col("rate") * F.col("nh")) + 1.0
            ).alias("within_4sigma"),
        )
        .transform(order_bounded, "stratum")
    )


# PSI smoothing: add-one on counts over the 17-slot grid, so empty
# buckets contribute a finite, engine-identical term instead of ln(0).
_PSI_SLOTS = _KS_BUCKETS + 1


@query(
    "profile_psi_drift",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{_KS_A}', '{_KS_B}')
    ),
    bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM base),
    bk AS (
      SELECT event_type,
             LEAST({_KS_BUCKETS}, CAST(FLOOR((value - lo)
                   / ((hi - lo) / {_KS_BUCKETS}.0)) AS BIGINT)) AS bucket
      FROM base, bounds
    ),
    counts AS (
      SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM bk GROUP BY 1, 2
    ),
    spine AS (SELECT unnest(generate_series(0, {_KS_BUCKETS})) AS bucket),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM base GROUP BY 1
    ),
    ab AS (
      SELECT s.bucket,
             COALESCE(a.c, 0) AS n_a, COALESCE(b.c, 0) AS n_b,
             (SELECT n FROM tot WHERE event_type = '{_KS_A}') AS na,
             (SELECT n FROM tot WHERE event_type = '{_KS_B}') AS nb
      FROM spine s
      LEFT JOIN counts a ON a.bucket = s.bucket AND a.event_type = '{_KS_A}'
      LEFT JOIN counts b ON b.bucket = s.bucket AND b.event_type = '{_KS_B}'
    ),
    per AS (
      SELECT bucket, n_a, n_b,
             (CAST(n_a + 1 AS DOUBLE) / CAST(na + {_PSI_SLOTS} AS DOUBLE)
              - CAST(n_b + 1 AS DOUBLE) / CAST(nb + {_PSI_SLOTS} AS DOUBLE))
             * ln((CAST(n_a + 1 AS DOUBLE) / CAST(na + {_PSI_SLOTS} AS DOUBLE))
                  / (CAST(n_b + 1 AS DOUBLE) / CAST(nb + {_PSI_SLOTS} AS DOUBLE)))
               AS contrib
      FROM ab
    ),
    ttl AS (
      SELECT ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(contrib ORDER BY bucket)), (a, b) -> a + b), 9) AS psi_total
      FROM per
    )
    SELECT p.bucket, p.n_a, p.n_b, ROUND(p.contrib, 9) AS psi_contrib,
           t.psi_total,
           CASE WHEN t.psi_total < 0.1 THEN 'stable'
                WHEN t.psi_total < 0.25 THEN 'moderate'
                ELSE 'shifted' END AS drift_verdict
    FROM per p, ttl t
    ORDER BY p.bucket
    """,
    tags=("profile", "drift", "psi", "distribution"),
)
def profile_psi_drift(spark, sf_dir):
    """Population Stability Index between the `click` and `purchase`
    value distributions on the shared fixed grid — the drift metric
    production scorecards actually gate on (PSI < 0.1 stable, 0.1-0.25
    watch, > 0.25 shifted), complementing ``profile_ks_drift``'s
    max-gap statistic with a mass-weighted divergence (symmetrized KL).
    Add-one smoothing over the 17 grid slots keeps empty buckets finite
    and deterministic.

    Scale shape: identical to the KS grid — one (lo, hi) one-row
    broadcast, map-side bucket assignment, one partial-merged count per
    (group, bucket), then everything downstream runs on the FIXED
    17-row spine. The PSI total is a sequential fold over the collected
    per-bucket contributions in bucket order (never a float groupBy-sum),
    so every double — contributions and total — is bit-identical
    cross-engine; unlike the KS query, no window at all."""
    base = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        .select("event_type", "value")
    )
    bounds = base.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / F.lit(float(_KS_BUCKETS))
    bk = base.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.lit(_KS_BUCKETS),
            F.floor((F.col("value") - F.col("lo")) / step).cast("long"),
        ).alias("bucket"),
    )
    counts = bk.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("c"))
    tot = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(0, _KS_BUCKETS + 1).select(F.col("id").alias("bucket"))
    na = tot.filter(F.col("event_type") == _KS_A).select(F.col("n").alias("na"))
    nb = tot.filter(F.col("event_type") == _KS_B).select(F.col("n").alias("nb"))
    ca = counts.filter(F.col("event_type") == _KS_A).select(
        "bucket", F.col("c").alias("ca")
    )
    cb = counts.filter(F.col("event_type") == _KS_B).select(
        "bucket", F.col("c").alias("cb")
    )
    p = (F.col("n_a") + 1).cast("double") / (F.col("na") + _PSI_SLOTS).cast("double")
    q = (F.col("n_b") + 1).cast("double") / (F.col("nb") + _PSI_SLOTS).cast("double")
    per = (
        spine.join(ca, "bucket", "left")
        .join(cb, "bucket", "left")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("n_a"),
            F.coalesce("cb", F.lit(0)).alias("n_b"),
            "na",
            "nb",
        )
        .select("bucket", "n_a", "n_b", ((p - q) * F.log(p / q)).alias("contrib"))
    )
    ttl = per.agg(
        F.round(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bucket", "contrib"))),
                    lambda x: x["contrib"],
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
            9,
        ).alias("psi_total")
    )
    return (
        per.crossJoin(F.broadcast(ttl))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.round("contrib", 9).alias("psi_contrib"),
            "psi_total",
            F.when(F.col("psi_total") < 0.1, "stable")
            .when(F.col("psi_total") < 0.25, "moderate")
            .otherwise("shifted")
            .alias("drift_verdict"),
        )
        .orderBy("bucket")
    )


@query(
    "profile_partition_skew",
    oracle="""
    WITH k AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id
    ),
    st AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n_rows) AS BIGINT) AS n_total,
             CAST(MAX(n_rows) AS BIGINT) AS max_rows
      FROM k
    )
    SELECT k.user_id, k.n_rows,
           CAST(k.n_rows AS DOUBLE) / CAST(st.n_total AS DOUBLE) AS share,
           CAST(k.n_rows AS DOUBLE)
             / (CAST(st.n_total AS DOUBLE) / CAST(st.n_keys AS DOUBLE))
             AS skew_ratio,
           k.n_rows * st.n_keys > 4 * st.n_total AS needs_salting
    FROM k, st
    ORDER BY k.n_rows DESC, k.user_id LIMIT 10
    """,
    tags=("profile", "skew", "diagnostics"),
)
def profile_partition_skew(spark, sf_dir):
    """Join/shuffle-key skew diagnostic — the measurement that decides
    whether a key needs the `join_salted_replicated` /`agg_salted_skew`
    treatment before a production run: per-key row counts, each hot
    key's share of the relation and its ratio to the mean key size, and
    a needs_salting verdict computed in EXACT integer arithmetic
    (n_rows·n_keys > 4·n_total — no float threshold ambiguity). Top-10
    hottest keys by TakeOrdered, deterministic key tie-break.

    Scale shape: one map-combined count per key, one three-number
    global aggregate broadcast back as a single row, per-row scalar
    ratios, and a per-partition-heap top-k — the whole diagnostic is
    two passes and never sorts or collects the key relation."""
    e = t(spark, sf_dir, "events")
    k = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    st = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("n_total"),
        F.max("n_rows").alias("max_rows"),
    )
    return (
        k.crossJoin(F.broadcast(st))
        .select(
            "user_id",
            "n_rows",
            (F.col("n_rows").cast("double") / F.col("n_total").cast("double")).alias(
                "share"
            ),
            (
                F.col("n_rows").cast("double")
                / (F.col("n_total").cast("double") / F.col("n_keys").cast("double"))
            ).alias("skew_ratio"),
            (F.col("n_rows") * F.col("n_keys") > 4 * F.col("n_total")).alias(
                "needs_salting"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "user_id")
        .limit(10)
    )


# Two-sided alpha=0.05, power=0.80 normal quantiles, fixed literals so
# both engines compute the identical constant.
_PWR_ZA = 1.959964
_PWR_ZB = 0.841621
_PWR_MDES = (1, 2, 5, 10)  # relative minimum detectable effects, percent


@query(
    "ds_ab_power_analysis",
    oracle=f"""
    WITH st AS (
      SELECT {sql_davg("value", "mean")},
             {sql_dvar_samp("value", "sigma2")},
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM events WHERE event_type = 'purchase'
    ),
    g AS (SELECT CAST(unnest([{", ".join(str(m) for m in _PWR_MDES)}]) AS INTEGER) AS mde_pct)
    SELECT g.mde_pct, st.n_obs, st.mean, st.sigma2,
           st.mean * CAST(g.mde_pct AS DOUBLE) / 100.0 AS delta,
           CAST(CEIL(2.0 * (({_PWR_ZA} + {_PWR_ZB}) * ({_PWR_ZA} + {_PWR_ZB}))
                     * st.sigma2
                     / ((st.mean * CAST(g.mde_pct AS DOUBLE) / 100.0)
                        * (st.mean * CAST(g.mde_pct AS DOUBLE) / 100.0)))
                AS BIGINT) AS n_per_arm
    FROM g, st ORDER BY g.mde_pct
    """,
    tags=("analytics", "ab-test", "power", "experiment-design"),
)
def ds_ab_power_analysis(spark, sf_dir):
    """A/B sample-size calculator — the experiment-DESIGN step before the
    `ds_ab_*` readout family (assignment/SRM, Welch, CUPED): from the
    metric's observed fixed-point mean and variance, the required
    per-arm n for each relative MDE on a fixed grid, via the standard
    normal-approximation formula n = ⌈2(z_α/2+z_β)²σ²/δ²⌉ at α=0.05,
    power=0.80 (z constants are fixed literals; the square is a
    multiplication, never pow — bit-identical cross-engine).

    Scale shape: one partial-merged moment aggregate over the metric,
    then 4 grid rows of scalar arithmetic — nothing else touches the
    data. Variance uses the canonical fixed-point scheme, so mean,
    sigma2, delta and the ceiled n all hash-match the oracle exactly."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    st = e.agg(
        davg("value", "mean"),
        dvar_samp("value", "sigma2"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    g = spark.range(1).select(
        F.explode(F.array(*[F.lit(m) for m in _PWR_MDES])).alias("m0")
    ).select(F.col("m0").cast("int").alias("mde_pct"))
    zsum = F.lit(_PWR_ZA) + F.lit(_PWR_ZB)
    delta = F.col("mean") * F.col("mde_pct").cast("double") / F.lit(100.0)
    return (
        g.crossJoin(F.broadcast(st))
        .select(
            "mde_pct",
            "n_obs",
            "mean",
            "sigma2",
            delta.alias("delta"),
            F.ceil(
                F.lit(2.0) * (zsum * zsum) * F.col("sigma2") / (delta * delta)
            )
            .cast("long")
            .alias("n_per_arm"),
        )
        .orderBy("mde_pct")
    )


@query(
    "sample_importance_reweight",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k FROM c
    ),
    w AS (
      SELECT lang, n,
             CAST(n AS DOUBLE) / CAST(nt AS DOUBLE) AS corpus_share,
             (1.0 / CAST(k AS DOUBLE))
               / (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) AS wt
      FROM c, tot
    ),
    e AS (
      SELECT
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(CAST(n AS DOUBLE) * wt ORDER BY lang)), (a, b) -> a + b) AS sw,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list(CAST(n AS DOUBLE) * wt * wt ORDER BY lang)), (a, b) -> a + b) AS sw2
      FROM w
    )
    SELECT w.lang, w.n AS n_docs, w.corpus_share, w.wt AS weight,
           e.sw * e.sw / e.sw2 AS ess,
           e.sw * e.sw / e.sw2 / CAST(t.nt AS DOUBLE) AS ess_ratio
    FROM w, e, tot t ORDER BY w.lang
    """,
    tags=("sample", "importance-weighting", "preprocessing"),
)
def sample_importance_reweight(spark, sf_dir):
    """Importance REWEIGHTING toward the uniform target mix (1/|classes|,
    derived from the data — never a hardcoded class count) —
    the loss-weight alternative to resampling (`sample_token_budget_mix`
    / `sample_class_balance` drop or thin documents; reweighting keeps
    every document and scales its training contribution by
    target_share / corpus_share). Reports each class's weight plus the
    effective sample size ESS = (Σw)²/Σw² and its ratio to n — the
    number that says how much statistical efficiency the skew-correction
    costs (ESS ≪ n means resample instead).

    Scale shape: one 5-row class-count aggregate; weights are ratios of
    exact integers; the ESS sums are sequential folds over the 5-row
    collected array in language order (never a float groupBy-sum), so
    every double hash-matches. The per-document weight application is a
    broadcast-join of this 5-row table — zero additional shuffle."""
    d = t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("nt"), F.count(F.lit(1)).alias("k"))
    cs = F.col("n").cast("double") / F.col("nt").cast("double")
    w = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        "nt",
        cs.alias("corpus_share"),
        ((F.lit(1.0) / F.col("k").cast("double")) / cs).alias("wt"),
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                "lang",
                (F.col("n").cast("double") * F.col("wt")).alias("nw"),
                (F.col("n").cast("double") * F.col("wt") * F.col("wt")).alias("nw2"),
            )
        )
    )
    e = w.agg(arr.alias("arr")).select(
        F.aggregate("arr", F.lit(0.0), lambda a, x: a + x["nw"]).alias("sw"),
        F.aggregate("arr", F.lit(0.0), lambda a, x: a + x["nw2"]).alias("sw2"),
    )
    return (
        w.crossJoin(F.broadcast(e))
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            "corpus_share",
            F.col("wt").alias("weight"),
            (F.col("sw") * F.col("sw") / F.col("sw2")).alias("ess"),
            (F.col("sw") * F.col("sw") / F.col("sw2") / F.col("nt").cast("double")).alias(
                "ess_ratio"
            ),
        )
        .orderBy("lang")
    )


@query(
    "sample_leakage_safe_split",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {sql_poly_hash("text")} AS ch FROM documents
    ),
    marked AS (
      SELECT doc_id, ch,
             CASE WHEN ch % 10 < 8 THEN 'train' ELSE 'test' END AS side_content,
             CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'test' END AS side_docid
      FROM d
    ),
    v_content AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT ch FROM marked GROUP BY ch
        HAVING COUNT(DISTINCT side_content) > 1
      )
    ),
    v_docid AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT ch FROM marked GROUP BY ch
        HAVING COUNT(DISTINCT side_docid) > 1
      )
    )
    SELECT 'content' AS strategy,
           CAST(SUM(CASE WHEN side_content = 'train' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_train,
           CAST(SUM(CASE WHEN side_content = 'test' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_test,
           (SELECT n FROM v_content) AS n_leaking_groups
    FROM marked
    UNION ALL
    SELECT 'doc_id',
           CAST(SUM(CASE WHEN side_docid = 'train' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN side_docid = 'test' THEN 1 ELSE 0 END) AS BIGINT),
           (SELECT n FROM v_docid)
    FROM marked
    ORDER BY strategy
    """,
    tags=("sample", "split", "leakage", "dedup"),
)
def sample_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/test splitting — the WITHIN-corpus complement
    of `text_decontaminate`'s train-vs-eval check: split on the CONTENT
    hash, not the document id, so every duplicate group lands wholly on
    one side (a duplicate straddling the split leaks training text into
    evaluation). Both strategies are reported side by side with their
    leaking-group counts: the content-keyed split's is zero BY
    CONSTRUCTION (the side is a function of the group key), while the
    naive id-keyed split's counts the real duplicate groups the corpus
    would leak. Production swaps the exact-content key for the CC
    cluster id (`dedup_cluster_cc`) to also pin near-duplicates
    together — same gate, coarser key.

    Scale shape: one map-side hash + gate per doc, one group-by on the
    content hash for the violation counts, two scalar one-row verdicts
    broadcast onto a two-row output."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", poly_hash(F.col("text")).alias("ch")
    )
    marked = d.select(
        "doc_id",
        "ch",
        F.when(F.pmod("ch", F.lit(10)) < 8, "train").otherwise("test").alias(
            "side_content"
        ),
        F.when(F.col("doc_id") % 10 < 8, "train").otherwise("test").alias(
            "side_docid"
        ),
    ).persist()

    def report(side_col, label):
        viol = (
            marked.groupBy("ch")
            .agg(F.countDistinct(side_col).alias("k"))
            .filter(F.col("k") > 1)
            .agg(F.count(F.lit(1)).alias("n_leaking_groups"))
        )
        return (
            marked.agg(
                F.sum(F.when(F.col(side_col) == "train", 1).otherwise(0))
                .cast("long")
                .alias("n_train"),
                F.sum(F.when(F.col(side_col) == "test", 1).otherwise(0))
                .cast("long")
                .alias("n_test"),
            )
            .crossJoin(F.broadcast(viol))
            .select(
                F.lit(label).alias("strategy"), "n_train", "n_test",
                "n_leaking_groups",
            )
        )

    return (
        report("side_content", "content")
        .unionByName(report("side_docid", "doc_id"))
        .orderBy("strategy")
    )


_DCAP_N = 20  # max documents kept per source
_DCAP_A = 2654435761  # Knuth multiplicative-hash constant
_DCAP_P = 2147483647


@query(
    "sample_domain_cap",
    oracle=f"""
    WITH pri AS (
      SELECT doc_id, source,
             (doc_id * {_DCAP_A} + 12345) % {_DCAP_P} AS pri,
             CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n_source_docs
      FROM documents
    )
    SELECT doc_id, source, pri, n_source_docs,
           n_source_docs > {_DCAP_N} AS source_capped
    FROM pri
    QUALIFY row_number() OVER (PARTITION BY source ORDER BY pri, doc_id)
      <= {_DCAP_N}
    ORDER BY source, pri, doc_id
    """,
    tags=("sampling", "domain-cap", "pipeline", "deterministic"),
)
def sample_domain_cap(spark, sf_dir):
    """Per-DOMAIN document cap — the mixture-shaping pass every web
    corpus runs so one gigantic domain cannot dominate training: keep
    at most N documents per source, chosen by a deterministic
    multiplicative-hash priority (Knuth constant), NOT by position —
    so the kept subset is an unbiased within-domain sample, stable
    across reruns and ingest order, and re-ingesting the corpus keeps
    the SAME survivors (the reproducibility contract of the
    hash-gated sampling family). ``source_capped`` marks domains that
    actually hit the cap — the rows a mixture report surfaces.

    Scale shape: priority is map-side integer arithmetic; selection is
    one rank window PARTITIONED BY SOURCE (parallel across domains —
    never a global funnel) with Spark 4's window-group-limit pushing
    the cap below the sort; the per-source count rides the same
    partition. Skewed giant domains are exactly the case the cap
    exists for — the window's top-N short-circuit keeps per-partition
    state at N rows."""
    d = t(spark, sf_dir, "documents")
    pri = d.select(
        "doc_id",
        "source",
        ((F.col("doc_id") * _DCAP_A + 12345) % _DCAP_P).alias("pri"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .alias("n_source_docs"),
    )
    w = Window.partitionBy("source").orderBy("pri", "doc_id")
    return (
        pri.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _DCAP_N)
        .select(
            "doc_id",
            "source",
            "pri",
            "n_source_docs",
            (F.col("n_source_docs") > _DCAP_N).alias("source_capped"),
        )
        .orderBy("source", "pri", "doc_id")
    )


_ARES_K = 25  # sample size


@query(
    "sample_weighted_ares",
    oracle=f"""
    WITH x AS (
      SELECT doc_id, source, CAST(n_chars + 1 AS BIGINT) AS w,
             ((doc_id * {_DCAP_A} + 99991) % {_DCAP_P} + 1)
               / CAST(CAST({_DCAP_P} AS BIGINT) + 1 AS DOUBLE) AS u
      FROM documents
    )
    SELECT doc_id, source, w, ROUND(-LN(u) / w, 9) AS priority_key
    FROM x
    ORDER BY -LN(u) / w, doc_id
    LIMIT {_ARES_K}
    """,
    tags=("sampling", "weighted", "pipeline", "deterministic"),
)
def sample_weighted_ares(spark, sf_dir):
    """Weighted sampling WITHOUT replacement by exponential race
    (A-ES / Efraimidis–Spirakis in its -ln(u)/w key form): every item
    draws a deterministic hash-uniform u, its race key is
    Exp(w)-distributed -ln(u)/w, and the k smallest keys win —
    selection probability proportional to weight (here: document
    length, so the sample is token-mass-representative, the weighting
    a mixture audit wants), with NO per-item coordination and NO
    replacement bookkeeping. The hash-seeded u makes the draw
    reproducible across reruns and ingest order, like the whole
    hash-gated sampling family.

    Scale shape: key computation is map-side; winner selection is a
    global TOP-K — TakeOrderedAndProject (per-partition k-row heaps,
    k-row merge at the driver), never a world sort. ln() is the one
    transcendental: both engines' libm agree bit-for-bit here (the
    BM25/IDF precedent); the reported key is rounded at 9 on O(1)
    magnitudes per the determinism conventions."""
    d = t(spark, sf_dir, "documents")
    x = d.select(
        "doc_id",
        "source",
        (F.col("n_chars") + 1).cast("long").alias("w"),
        (
            ((F.col("doc_id") * _DCAP_A + 99991) % _DCAP_P + 1)
            / F.lit(float(_DCAP_P + 1))
        ).alias("u"),
    )
    key = -F.log(F.col("u")) / F.col("w")
    return (
        x.select(
            "doc_id", "source", "w", F.round(key, 9).alias("priority_key"), key.alias("_k")
        )
        .orderBy("_k", "doc_id")
        .limit(_ARES_K)
        .drop("_k")
    )


_FK_EDGES = [
    # (child table, child key, parent table, parent key)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]


@query(
    "profile_referential_integrity",
    oracle="""
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{c}.{ck}' AS edge, '{p}.{pk}' AS parent,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(COUNT(*) FILTER (WHERE pp.{pk} IS NULL) AS BIGINT) AS n_orphans,
           CAST((1000000 * COUNT(*) FILTER (WHERE pp.{pk} IS NULL)) // COUNT(*)
                AS BIGINT) AS orphan_ppm
    FROM {c} ch LEFT JOIN (SELECT DISTINCT {pk} FROM {p}) pp
      ON ch.{ck} = pp.{pk}
    """
        for c, ck, p, pk in _FK_EDGES
    )
    + "\nORDER BY edge, parent",
    tags=("profile", "quality", "referential-integrity"),
)
def profile_referential_integrity(spark, sf_dir):
    """Referential-integrity audit over every foreign-key edge of the
    star schema: per edge, the child row count, the number of ORPHAN
    children (key has no parent row), and the orphan rate in exact ppm
    — the lake-health check that catches partial loads, late dimension
    arrivals, and botched compactions before a join silently drops (or
    a left join silently NULLs) fact rows downstream.

    Shape: each edge is one left join of the child keys against the
    DISTINCT parent keys (broadcast for dims, shuffle for fact⋈fact) +
    one count — six bounded aggregates unioned into a six-row report.
    At 100 TB the fact-side scans read ONLY the key column (column
    pruning visible in the audit), and the six edges share no state, so
    they parallelize as independent stages of one job."""
    out = None
    for c, ck, p, pk in _FK_EDGES:
        child = t(spark, sf_dir, c).select(F.col(ck).alias("k"))
        parent = t(spark, sf_dir, p).select(F.col(pk).alias("k")).distinct()
        row = (
            child.join(parent.withColumn("hit", F.lit(1)), "k", "left")
            .agg(
                F.count(F.lit(1)).alias("n_child"),
                F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias(
                    "n_orphans"
                ),
            )
            .select(
                F.lit(f"{c}.{ck}").alias("edge"),
                F.lit(f"{p}.{pk}").alias("parent"),
                F.col("n_child").cast("long"),
                F.col("n_orphans").cast("long"),
                F.expr("(1000000 * n_orphans) div n_child").alias("orphan_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge", "parent")


_TSPLIT_TEST_DAYS = 14  # test period: last 14 days of the corpus
_TSPLIT_EMBARGO_DAYS = 2  # purge gap between train end and test start


@query(
    "sample_temporal_split",
    oracle=f"""
    WITH bounds AS (
      SELECT MAX(ts) AS max_ts,
             MAX(ts) - INTERVAL {_TSPLIT_TEST_DAYS} DAY AS test_start,
             MAX(ts) - INTERVAL {_TSPLIT_TEST_DAYS + _TSPLIT_EMBARGO_DAYS} DAY
               AS train_end
      FROM events
    ),
    labeled AS (
      SELECT CASE
               WHEN e.ts >= b.test_start THEN 'test'
               WHEN e.ts < b.train_end THEN 'train'
               ELSE 'embargo'
             END AS split,
             e.ts
      FROM events e CROSS JOIN bounds b
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(ts) AS min_ts, MAX(ts) AS max_ts
    FROM labeled
    GROUP BY split
    ORDER BY split
    """,
    tags=("sampling", "split", "temporal", "leakage"),
)
def sample_temporal_split(spark, sf_dir):
    """Time-based train/test split with an EMBARGO (purged) gap — the
    leakage control for temporally-autocorrelated data that the
    content-keyed `sample_leakage_safe_split` cannot give: the last
    {_TSPLIT_TEST_DAYS} days are test, the {_TSPLIT_EMBARGO_DAYS} days
    before them are DROPPED, and everything earlier trains, so no
    training row sits within the embargo horizon of any test row (the
    backtesting discipline from combinatorial purged CV). By
    construction max(train.ts) < test_start − embargo — the zero-leakage
    guarantee is structural, not sampled; the min/max timestamps emitted
    per split ARE the audit.

    Shape: one map-combined MAX for the corpus horizon (one-row
    broadcast), then a single labeling pass and a 3-group aggregate —
    two scans total, no shuffle beyond the 3-row agg; at 100 TB with a
    date-partitioned lake the split predicate prunes partitions
    outright."""
    e = t(spark, sf_dir, "events")
    bounds = e.agg(
        F.max("ts").alias("max_ts"),
        (F.max("ts") - F.expr(f"INTERVAL {_TSPLIT_TEST_DAYS} DAY")).alias(
            "test_start"
        ),
        (
            F.max("ts")
            - F.expr(f"INTERVAL {_TSPLIT_TEST_DAYS + _TSPLIT_EMBARGO_DAYS} DAY")
        ).alias("train_end"),
    )
    labeled = e.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("ts") >= F.col("test_start"), F.lit("test"))
        .when(F.col("ts") < F.col("train_end"), F.lit("train"))
        .otherwise(F.lit("embargo"))
        .alias("split"),
        "ts",
    )
    return (
        labeled.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .transform(order_bounded, "split")
    )


@query(
    "ds_anova_oneway",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             {sql_fixed("value", 6)}
               AS i1_g,
             {sql_fixed("value * value", 2)}
               AS i2_g
      FROM events GROUP BY event_type
    ),
    packed AS (
      SELECT list([CAST(n_g AS DOUBLE), CAST(i1_g AS DOUBLE),
                   CAST(i2_g AS DOUBLE)] ORDER BY event_type) AS rows_,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(i1_g) AS BIGINT) AS i1_tot
      FROM g
    ),
    folded AS (
      SELECT k, n,
             (CAST(i1_tot AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)
               AS grand_mean,
             -- acc rides in slot 1 of a 3-list (list_reduce requires
             -- acc type = element type in DuckDB)
             list_reduce(list_prepend([CAST(0.0 AS DOUBLE),
                                       CAST(0.0 AS DOUBLE),
                                       CAST(0.0 AS DOUBLE)], rows_),
               (acc, r) -> [acc[1] + ((r[3] / 100.0)
                 - (r[2] / 1000000.0) * (r[2] / 1000000.0) / r[1]),
                 CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])[1]
               AS ss_within,
             list_reduce(list_prepend([CAST(0.0 AS DOUBLE),
                                       CAST(0.0 AS DOUBLE),
                                       CAST(0.0 AS DOUBLE)], rows_),
               (acc, r) -> [acc[1] + r[1]
                 * ((r[2] / 1000000.0) / r[1]
                    - (CAST(i1_tot AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE))
                 * ((r[2] / 1000000.0) / r[1]
                    - (CAST(i1_tot AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE)),
                 CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])[1]
               AS ss_between
      FROM packed
    )
    SELECT k, n, ROUND(grand_mean, 8) AS grand_mean,
           ROUND(ss_between, 4) AS ss_between,
           ROUND(ss_within, 4) AS ss_within,
           ROUND((ss_between / (CAST(k AS DOUBLE) - 1.0))
                 / (ss_within / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 8)
             AS f_stat,
           CAST((ss_between / (CAST(k AS DOUBLE) - 1.0))
                / (ss_within / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
                > 2.0096 AS BOOLEAN) AS significant_95
    FROM folded
    """,
    tags=("analytics", "experiment", "anova"),
)
def ds_anova_oneway(spark, sf_dir):
    """One-way ANOVA across the event-type groups on the `value` metric
    — the k-group generalization of `ds_ab_welch_ttest`: between-group
    and within-group sums of squares from per-group fixed-point moments,
    the F statistic, and the 95% verdict against the F(k−1, ∞) critical
    value. The multi-arm readout an experimentation platform runs before
    pairwise tests earn a look.

    Determinism: per-group moments are EXACT integers (one map-combined
    aggregate); the k=8 group rows are then folded in sorted group order
    by a sequential `F.aggregate`, so the float SSB/SSW accumulations
    happen in the identical IEEE order in both engines — the
    collect_list→array_sort→fold discipline from `canonical.py`, applied
    to group-level (not row-level) state, k-bounded by the spec.

    Scale: one shuffle (the group-by), then k rows. At 100 TB the moment
    aggregate partial-merges map-side; the fold is O(k) driver-free
    arithmetic inside the plan."""
    g = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        fixed("value", 6).alias("i1_g"),
        fixed(F.col("value") * F.col("value"), 2).alias("i2_g"),
    )
    packed = g.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("event_type", "n_g", "i1_g", "i2_g"))),
            lambda s: F.array(
                s["n_g"].cast("double"),
                s["i1_g"].cast("double"),
                s["i2_g"].cast("double"),
            ),
        ).alias("rows_"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("i1_g").cast("long").alias("i1_tot"),
    )
    grand = (F.col("i1_tot").cast("double") / 1000000.0) / F.col("n").cast("double")
    ssw = F.aggregate(
        F.col("rows_"),
        F.lit(0.0),
        lambda acc, r: acc
        + (
            (F.element_at(r, 3) / 100.0)
            - (F.element_at(r, 2) / 1000000.0)
            * (F.element_at(r, 2) / 1000000.0)
            / F.element_at(r, 1)
        ),
    )
    ssb = F.aggregate(
        F.col("rows_"),
        F.lit(0.0),
        lambda acc, r: acc
        + F.element_at(r, 1)
        * (
            (F.element_at(r, 2) / 1000000.0) / F.element_at(r, 1)
            - (F.col("i1_tot").cast("double") / 1000000.0) / F.col("n").cast("double")
        )
        * (
            (F.element_at(r, 2) / 1000000.0) / F.element_at(r, 1)
            - (F.col("i1_tot").cast("double") / 1000000.0) / F.col("n").cast("double")
        ),
    )
    folded = packed.select(
        "k",
        "n",
        F.round(grand, 8).alias("grand_mean"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k").cast("double") - 1.0))
            / (ssw / (F.col("n").cast("double") - F.col("k").cast("double"))),
            8,
        ).alias("f_stat"),
        (
            (ssb / (F.col("k").cast("double") - 1.0))
            / (ssw / (F.col("n").cast("double") - F.col("k").cast("double")))
            > 2.0096
        ).alias("significant_95"),
    )
    return folded


@query(
    "profile_join_fanout",
    oracle="""
    WITH m AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS est_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM m
    )
    SELECT m.l_partkey, m.cnt AS cnt_left, m.cnt AS cnt_right,
           CAST(m.cnt * m.cnt AS BIGINT) AS fanout,
           t.est_rows, t.n_keys,
           CAST((1000000 * m.cnt * m.cnt) // t.est_rows AS BIGINT)
             AS share_ppm
    FROM m CROSS JOIN tot t
    ORDER BY fanout DESC, m.l_partkey
    LIMIT 10
    """,
    tags=("profile", "join", "fanout", "scale"),
)
def profile_join_fanout(spark, sf_dir):
    """Join fan-out prediction — run the cheap per-key multiplicity
    aggregate BEFORE an expensive self/equi-join to learn what the join
    would produce: estimated output rows Σ cnt·cnt for a lineitem
    self-join on `l_partkey`, the key count, and the top-10 keys by
    fan-out contribution with their exact ppm share. The pre-flight
    check that catches the accidental many-to-many blowup (the single
    most common way a 100 TB join becomes a 100 PB shuffle) while it is
    still one GROUP BY cheap; `profile_partition_skew` diagnoses the
    shuffle AFTER a key is chosen — this predicts the join volume
    BEFORE.

    Shape: one map-combined count per key, a one-row total broadcast,
    and a global top-10 (Spark 4 plans the unpartitioned
    row_number≤k as TakeOrdered — no world sort). Everything is exact
    integers."""
    m = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = m.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("est_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    w = Window.orderBy(F.col("fanout").desc(), "l_partkey")
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            F.col("cnt").alias("cnt_left"),
            F.col("cnt").alias("cnt_right"),
            (F.col("cnt") * F.col("cnt")).cast("long").alias("fanout"),
            "est_rows",
            "n_keys",
            F.expr("(1000000 * cnt * cnt) div est_rows").alias("share_ppm"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )


_ROF_K = 3  # rolling-origin folds
_ROF_H_DAYS = 7  # test horizon per fold


@query(
    "sample_rolling_origin_folds",
    oracle=f"""
    WITH b AS (SELECT MAX(ts) AS max_ts FROM events),
    folds AS (
      SELECT f.fold_id,
             b.max_ts - ({_ROF_K} - f.fold_id + 1) * INTERVAL {_ROF_H_DAYS} DAY
               AS origin,
             b.max_ts - ({_ROF_K} - f.fold_id) * INTERVAL {_ROF_H_DAYS} DAY
               AS test_end
      FROM (SELECT CAST(unnest([{", ".join(str(i) for i in range(1, _ROF_K + 1))}])
                   AS INTEGER) AS fold_id) f
      CROSS JOIN b
    )
    SELECT f.fold_id, f.origin AS train_end, f.test_end,
           CAST(COUNT(*) FILTER (WHERE e.ts < f.origin) AS BIGINT) AS n_train,
           CAST(COUNT(*) FILTER (WHERE e.ts >= f.origin AND e.ts < f.test_end)
                AS BIGINT) AS n_test
    FROM events e CROSS JOIN folds f
    GROUP BY f.fold_id, f.origin, f.test_end
    ORDER BY f.fold_id
    """,
    tags=("sampling", "split", "temporal", "backtest"),
)
def sample_rolling_origin_folds(spark, sf_dir):
    """Rolling-origin backtest folds — the k-fold generalization of
    `sample_temporal_split` for forecast evaluation: {_ROF_K} folds,
    each training on everything BEFORE its origin and testing on the
    next {_ROF_H_DAYS}-day horizon, origins marching forward week by
    week (fold k tests on the final week). Training data only ever
    grows forward in time, so no fold can leak the future into the
    past — the temporal analog of cross-validation that a time-series
    model selection loop actually needs.

    Shape: one map-combined MAX for the horizon, a {_ROF_K}-row fold
    spine cross-joined onto events (a bounded constant fan-out, like
    the bucket spines elsewhere), and one conditional aggregate per
    fold — one shuffle of {_ROF_K}-multiplied keys. At 100 TB with a
    date-partitioned lake each fold's predicates prune to its date
    range instead."""
    e = t(spark, sf_dir, "events")
    b = e.agg(F.max("ts").alias("max_ts"))
    spine = spark.range(1, _ROF_K + 1).select(F.col("id").cast("int").alias("fold_id"))
    folds = spine.crossJoin(F.broadcast(b)).select(
        "fold_id",
        F.expr(
            f"max_ts - ({_ROF_K} - fold_id + 1) * INTERVAL {_ROF_H_DAYS} DAY"
        ).alias("origin"),
        F.expr(
            f"max_ts - ({_ROF_K} - fold_id) * INTERVAL {_ROF_H_DAYS} DAY"
        ).alias("test_end"),
    )
    return (
        e.crossJoin(F.broadcast(folds))
        .groupBy("fold_id", F.col("origin").alias("train_end"), "test_end")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("origin"), 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(
                F.when(
                    (F.col("ts") >= F.col("origin"))
                    & (F.col("ts") < F.col("test_end")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_test"),
        )
        .select("fold_id", "train_end", "test_end", "n_train", "n_test")
        .transform(order_bounded, "fold_id")
    )


@query(
    "ds_mann_whitney_u",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN ((user_id % 100) * ({_MIX} % 100)) % 100 < 50
                  THEN 0 ELSE 1 END AS is_b,
             {sql_units("value", 2)} AS cents,
             event_id
      FROM events
    ),
    ranked AS (
      SELECT is_b,
             row_number() OVER (ORDER BY cents, event_id) AS rk
      FROM assigned
    ),
    s AS (
      SELECT CAST(SUM(1 - is_b) AS BIGINT) AS n_a,
             CAST(SUM(is_b) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN is_b = 1 THEN rk ELSE 0 END) AS BIGINT)
               AS rank_sum_b
      FROM ranked
    )
    SELECT n_a, n_b, rank_sum_b,
           CAST(rank_sum_b - n_b * (n_b + 1) // 2 AS BIGINT) AS u_b,
           ROUND((CAST(rank_sum_b - n_b * (n_b + 1) // 2 AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                        / 12.0), 8) AS z_stat,
           CAST(ABS((CAST(rank_sum_b - n_b * (n_b + 1) // 2 AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                        * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0)
                        / 12.0)) > 1.96 AS BOOLEAN) AS significant_95
    FROM s
    """,
    tags=("analytics", "experiment", "nonparametric", "rank"),
    bench=True,
)
def ds_mann_whitney_u(spark, sf_dir):
    """Mann-Whitney U — the rank-based nonparametric two-sample test
    (the robust sibling of `ds_ab_welch_ttest` for skewed metrics),
    computed at scale with NO global sort: the combined sample is ranked
    by `_ranked_nosort`'s distributed-rank machinery (range-bin against
    a one-row bound, ≤4096-row prefix-offset broadcast, per-bin
    windows), exactly the plan that computes the exact Gini. Ranks are
    in (cents, event_id) order — both engines break ties identically,
    so rank sums are exact integers (the midrank correction matters
    only when tie GROUPS are large relative to n; the tie-broken U and
    its z differ negligibly and deterministically here, and the
    docstring is the contract). U, its
    normal approximation z, and the 95% verdict follow as scalar
    arithmetic on exact integers.

    Scale: one range-binned shuffle + per-bin parallel windows — rank
    statistics on 100 TB without a world sort."""
    # Round-13 (surfaced by the first SOAK run with this head): the A/B
    # split must survive the soak's per-replica 10^12 key offsets, so it
    # runs in residue arithmetic, here and in the oracle —
    # (u·MIX) mod 100 == ((u mod 100)·(MIX mod 100)) mod 100 for u ≥ 0,
    # identical values everywhere the raw product didn't overflow, no
    # overflow anywhere.
    ranked = _ranked_nosort(
        t(spark, sf_dir, "events").select(
            units("value", 2).alias("key"),
            F.col("event_id").alias("tie"),
            F.when(F.pmod(F.pmod(F.col("user_id"), 100) * (_MIX % 100), 100) < 50, 0)
            .otherwise(1)
            .cast("long")
            .alias("val"),
        )
    )
    s = ranked.agg(
        F.sum(1 - F.col("val")).cast("long").alias("n_a"),
        F.sum("val").cast("long").alias("n_b"),
        F.sum(F.col("i") * F.col("val")).cast("long").alias("rank_sum_b"),
    )
    u = F.expr("rank_sum_b - (n_b * (n_b + 1)) div 2")
    z = (
        u.cast("double")
        - F.col("n_a").cast("double") * F.col("n_b").cast("double") / 2.0
    ) / F.sqrt(
        F.col("n_a").cast("double")
        * F.col("n_b").cast("double")
        * (F.col("n_a").cast("double") + F.col("n_b").cast("double") + 1.0)
        / 12.0
    )
    return s.select(
        "n_a",
        "n_b",
        "rank_sum_b",
        u.cast("long").alias("u_b"),
        F.round(z, 8).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@query(
    "profile_freshness_lag",
    oracle="""
    WITH b AS (SELECT MAX(ts) AS corpus_max FROM events),
    per AS (
      SELECT event_type, MAX(ts) AS last_seen,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.n_rows, p.last_seen, b.corpus_max,
           CAST((epoch_us(b.corpus_max) - epoch_us(p.last_seen)) // 3600000000
                AS BIGINT) AS lag_hours,
           CAST((epoch_us(b.corpus_max) - epoch_us(p.last_seen)) // 3600000000
                >= 24 AS BOOLEAN) AS is_stale
    FROM per p CROSS JOIN b
    ORDER BY p.event_type
    """,
    tags=("profile", "freshness", "quality"),
)
def profile_freshness_lag(spark, sf_dir):
    """Data-freshness audit: per event stream, when did we last hear
    from it and how far does it trail the corpus watermark — the lag
    readout an ingestion SLO monitor pages on (a feed that is 24h+
    behind its siblings is down, even though its table 'has data').
    Lag is exact integer hours (microsecond subtraction, `div` — no
    float time math), so the stale verdict is deterministic.

    Shape: one map-combined (MAX, COUNT) per stream plus a one-row
    corpus-max broadcast — two tiny aggregates over the same scan; at
    100 TB a date-partitioned layout answers MAX(ts) from the last
    partitions alone."""
    e = t(spark, sf_dir, "events")
    b = e.agg(F.max("ts").alias("corpus_max"))
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"), F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    lag_h = F.expr(
        "(unix_micros(corpus_max) - unix_micros(last_seen)) div 3600000000"
    )
    return (
        per.crossJoin(F.broadcast(b))
        .select(
            "event_type",
            "n_rows",
            "last_seen",
            "corpus_max",
            lag_h.alias("lag_hours"),
            (lag_h >= 24).alias("is_stale"),
        )
        .orderBy("event_type")
    )


@query(
    "ds_sequential_msprt",
    oracle=f"""
    WITH assigned AS (
      SELECT CASE WHEN (user_id * {_MIX}) % 100 < 50
                  THEN 'control' ELSE 'treatment' END AS variant,
             value
      FROM events
    ),
    s AS (
      SELECT variant, CAST(COUNT(*) AS DOUBLE) AS nd, {_AB_S1}, {_AB_S2}
      FROM assigned GROUP BY variant
    ),
    m AS (
      SELECT variant, nd, s1 / nd AS mean,
             (s2 - s1 * s1 / nd) / (nd - 1.0) AS var
      FROM s
    ),
    w AS (
      SELECT c.nd AS n_control, t.nd AS n_treatment,
             t.mean - c.mean AS delta,
             ((c.nd - 1.0) * c.var + (t.nd - 1.0) * t.var)
               / (c.nd + t.nd - 2.0) * (1.0 / c.nd + 1.0 / t.nd) AS vn
      FROM (SELECT * FROM m WHERE variant = 'control') c,
           (SELECT * FROM m WHERE variant = 'treatment') t
    )
    SELECT CAST(n_control AS BIGINT) AS n_control,
           CAST(n_treatment AS BIGINT) AS n_treatment,
           ROUND(delta, 8) AS delta,
           ROUND(0.5 * LN(vn / (vn + 1.0))
                 + delta * delta * 1.0 / (2.0 * vn * (vn + 1.0)), 8)
             AS log_lambda,
           ROUND(LEAST(1.0, EXP(-(0.5 * LN(vn / (vn + 1.0))
                 + delta * delta * 1.0 / (2.0 * vn * (vn + 1.0))))), 8)
             AS always_valid_p,
           CAST(LEAST(1.0, EXP(-(0.5 * LN(vn / (vn + 1.0))
                 + delta * delta * 1.0 / (2.0 * vn * (vn + 1.0))))) < 0.05
                AS BOOLEAN) AS reject_now
    FROM w
    """,
    tags=("analytics", "experiment", "sequential", "msprt"),
)
def ds_sequential_msprt(spark, sf_dir):
    """Mixture sequential probability ratio test (mSPRT) — the
    ALWAYS-VALID inference readout that lets an experimenter peek at a
    running A/B test continuously without inflating false positives
    (the fixed-horizon `ds_ab_welch_ttest` is only valid at its
    pre-registered n): Λ under a N(0, τ²=1) mixture over the treatment
    effect, log Λ = ½·ln(Vn/(Vn+τ²)) + δ̂²τ²/(2Vn(Vn+τ²)) with Vn the
    pooled-variance estimator variance of δ̂, and the always-valid
    p-value min(1, 1/Λ). Re-running this query as data accrues IS the
    sequential test — p is monotone-safe under optional stopping.

    Determinism: moments are fixed-point (`canonical.py`), every
    subsequent op is one-row scalar double arithmetic in identical
    order in both engines; ln/exp inputs are bit-identical so the
    rounded outputs match exactly. One partial-merged aggregate over
    the assigned events — the same single-shuffle shape as the t-test,
    at any corpus size."""
    assigned = t(spark, sf_dir, "events").select(
        F.when((F.col("user_id") * _MIX) % 100 < 50, "control")
        .otherwise("treatment")
        .alias("variant"),
        "value",
    )
    s = assigned.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        dsum("value", "s1"),
        dsum(F.col("value") * F.col("value"), "s2", scale=2),
    )
    m = s.select(
        "variant",
        "nd",
        (F.col("s1") / F.col("nd")).alias("mean"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("nd")) / (F.col("nd") - 1.0)).alias("var"),
    )
    c = m.filter(F.col("variant") == "control").select(
        F.col("nd").alias("nc"), F.col("mean").alias("mc"), F.col("var").alias("vc")
    )
    tr = m.filter(F.col("variant") == "treatment").select(
        F.col("nd").alias("nt"), F.col("mean").alias("mt"), F.col("var").alias("vt")
    )
    w = c.crossJoin(tr).select(
        F.col("nc").alias("n_control_d"),
        F.col("nt").alias("n_treatment_d"),
        (F.col("mt") - F.col("mc")).alias("delta"),
        (
            ((F.col("nc") - 1.0) * F.col("vc") + (F.col("nt") - 1.0) * F.col("vt"))
            / (F.col("nc") + F.col("nt") - 2.0)
            * (1.0 / F.col("nc") + 1.0 / F.col("nt"))
        ).alias("vn"),
    )
    log_lambda = 0.5 * F.log(F.col("vn") / (F.col("vn") + 1.0)) + F.col("delta") * F.col(
        "delta"
    ) * 1.0 / (2.0 * F.col("vn") * (F.col("vn") + 1.0))
    p = F.least(F.lit(1.0), F.exp(-log_lambda))
    return w.select(
        F.col("n_control_d").cast("long").alias("n_control"),
        F.col("n_treatment_d").cast("long").alias("n_treatment"),
        F.round("delta", 8).alias("delta"),
        F.round(log_lambda, 8).alias("log_lambda"),
        F.round(p, 8).alias("always_valid_p"),
        (p < 0.05).alias("reject_now"),
    )


@query(
    "ds_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT o_orderstatus AS status, o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ),
    rt AS (SELECT status, CAST(SUM(obs) AS BIGINT) AS row_tot
           FROM cells GROUP BY status),
    ct AS (SELECT priority, CAST(SUM(obs) AS BIGINT) AS col_tot
           FROM cells GROUP BY priority),
    n_ AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT c.status, c.priority,
             (CAST(c.obs AS DOUBLE)
              - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(n_.n AS DOUBLE))
             * (CAST(c.obs AS DOUBLE)
              - CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(n_.n AS DOUBLE))
             / (CAST(rt.row_tot * ct.col_tot AS DOUBLE) / CAST(n_.n AS DOUBLE))
               AS term
      FROM cells c
      JOIN rt ON c.status = rt.status
      JOIN ct ON c.priority = ct.priority
      CROSS JOIN n_
    ),
    packed AS (
      SELECT list(term ORDER BY status, priority) AS terms_,
             CAST(COUNT(*) AS BIGINT) AS n_cells
      FROM terms
    ),
    shape AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS r,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS c,
             (SELECT n FROM n_) AS n
    ),
    folded AS (
      SELECT n_cells,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), terms_),
                         (acc, x) -> acc + x) AS chi2
      FROM packed
    )
    SELECT shape.n, shape.r, shape.c, folded.n_cells,
           (shape.r - 1) * (shape.c - 1) AS dof,
           ROUND(folded.chi2, 8) AS chi2,
           ROUND(SQRT(folded.chi2 / (CAST(shape.n AS DOUBLE)
                 * CAST(LEAST(shape.r - 1, shape.c - 1) AS DOUBLE))), 8)
             AS cramers_v,
           CAST(folded.chi2 > 15.50731 AS BOOLEAN) AS dependent_95
    FROM folded CROSS JOIN shape
    """,
    tags=("analytics", "experiment", "chi-square"),
)
def ds_chi_square_independence(spark, sf_dir):
    """Pearson chi-square test of independence on the order status ×
    priority contingency table, with Cramér's V effect size — the
    categorical counterpart to `ds_anova_oneway` (continuous k-group) and
    `ds_ab_srm_check` (one-dimensional ratio drift): does fulfillment
    status depend on the priority a customer picked?

    Determinism: observed and marginal counts are EXACT integers; each
    cell's (obs − e)²/e term is a fixed chain of scalar IEEE ops on
    exactly-representable ints (row_tot·col_tot ≤ n² « 2⁵³), so the
    per-cell terms are bit-identical cross-engine; the ≤ r·c cell terms
    then fold in sorted (status, priority) order — the k-bounded
    sequential-fold discipline of `canonical.py`. Significance compares
    against the χ²(dof=8, 0.95) critical value 15.50731 (public table).

    Scale: one map-combined count per cell (the ONLY pass over the fact
    table), then marginals/terms/fold all live on the ≤ r·c cell relation
    — broadcast-sized no matter the corpus. The grid is spec-bounded
    (3 statuses × 5 priorities), so the single-row fold is O(1)."""
    cells = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rt = cells.groupBy("status").agg(F.sum("obs").cast("long").alias("row_tot"))
    ct = cells.groupBy("priority").agg(F.sum("obs").cast("long").alias("col_tot"))
    n_ = cells.agg(F.sum("obs").cast("long").alias("n"))
    # expected count: one exact int product, one cast, one division —
    # the identical IEEE chain the oracle's CAST(row_tot*col_tot AS
    # DOUBLE)/n performs
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast("double")
    terms = (
        cells.join(rt, "status")
        .join(ct, "priority")
        .crossJoin(n_)
        .select(
            "status",
            "priority",
            ((F.col("obs").cast("double") - e) * (F.col("obs").cast("double") - e) / e).alias(
                "term"
            ),
        )
    )
    packed = terms.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("status", "priority", "term"))),
            lambda s: s["term"],
        ).alias("terms_"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    chi2 = F.aggregate(F.col("terms_"), F.lit(0.0), lambda acc, x: acc + x)
    shape = (
        rt.agg(F.count(F.lit(1)).cast("long").alias("r"))
        .crossJoin(ct.agg(F.count(F.lit(1)).cast("long").alias("c")))
        .crossJoin(n_)
    )
    return (
        packed.crossJoin(shape)
        .select(
            "n",
            "r",
            "c",
            "n_cells",
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            F.round(chi2, 8).alias("chi2"),
            F.round(
                F.sqrt(
                    chi2
                    / (
                        F.col("n").cast("double")
                        * F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
                    )
                ),
                8,
            ).alias("cramers_v"),
            (chi2 > 15.50731).alias("dependent_95"),
        )
    )


@query(
    "ds_bh_fdr_chebyshev",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             {sql_fixed("value", 6)}
               AS i1_g,
             {sql_fixed("value * value", 2)}
               AS i2_g
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(i1_g) AS BIGINT) AS i1_tot,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM g
    ),
    z AS (
      SELECT g.event_type, g.n_g, tot.k,
             ((g.i1_g / 1000000.0) / g.n_g - (tot.i1_tot / 1000000.0) / tot.n)
             * ((g.i1_g / 1000000.0) / g.n_g - (tot.i1_tot / 1000000.0) / tot.n)
             / (((g.i2_g / 100.0
                  - (g.i1_g / 1000000.0) * (g.i1_g / 1000000.0) / g.n_g)
                 / (g.n_g - 1.0)) / g.n_g) AS z2
      FROM g CROSS JOIN tot
    ),
    p AS (
      SELECT event_type, n_g, k, z2, LEAST(1.0, 1.0 / z2) AS p_bound FROM z
    ),
    cut AS (
      SELECT CAST(k AS DOUBLE) AS k_d,
             list_reduce(
               list_prepend([CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                             CAST(0.0 AS DOUBLE)],
                            list([p_bound, CAST(0.0 AS DOUBLE),
                                  CAST(0.0 AS DOUBLE)] ORDER BY p_bound)),
               (acc, e) -> [acc[1] + 1,
                            CASE WHEN 5.0 * e[1] * CAST(k AS DOUBLE) <= acc[1] + 1
                                 THEN e[1] ELSE acc[2] END,
                            CAST(0.0 AS DOUBLE)])[2] AS cutoff
      FROM p GROUP BY k
    )
    SELECT p.event_type, p.n_g,
           ROUND(p.z2, 6) AS z2,
           ROUND(p.p_bound, 9) AS p_bound,
           ROUND(cut.cutoff, 9) AS bh_cutoff,
           CAST(p.p_bound <= cut.cutoff AND cut.cutoff > 0.0 AS BOOLEAN)
             AS reject_fdr20
    FROM p CROSS JOIN cut
    ORDER BY p.event_type
    """,
    tags=("analytics", "experiment", "fdr", "multiple-testing"),
)
def ds_bh_fdr_chebyshev(spark, sf_dir):
    """Benjamini–Hochberg FDR control (α = 0.2) across the k per-type
    mean-shift tests, with DISTRIBUTION-FREE Chebyshev p-bounds — the
    multiple-testing layer that belongs on top of `ds_anova_oneway`'s
    omnibus answer: WHICH event types shifted, with the false-discovery
    rate controlled, and with no normal-CDF in the plan (erf is not a
    cross-engine-deterministic primitive; P(|Z| ≥ z) ≤ 1/z² is exact
    rational arithmetic and conservative, so a rejection here survives
    any tightening).

    BH step-up: sort the k p-bounds ascending, keep the largest i with
    pᵢ ≤ α·i/k (compared as 5·pᵢ·k ≤ i — pure multiplies), reject
    everything ≤ that cutoff. The fold runs over the k-row packed array
    in sorted order — the `canonical.py` k-bounded discipline, k = the
    spec-bounded event-type domain.

    Scale: ONE map-combined moment aggregate over the facts; everything
    after lives on k rows."""
    g = t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        fixed("value", 6).alias("i1_g"),
        fixed(F.col("value") * F.col("value"), 2).alias("i2_g"),
    )
    tot = g.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("i1_g").cast("long").alias("i1_tot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    mean_g = (F.col("i1_g") / 1000000.0) / F.col("n_g")
    grand = (F.col("i1_tot") / 1000000.0) / F.col("n")
    var_g = (
        F.col("i2_g") / 100.0
        - (F.col("i1_g") / 1000000.0) * (F.col("i1_g") / 1000000.0) / F.col("n_g")
    ) / (F.col("n_g") - 1.0)
    z2 = (mean_g - grand) * (mean_g - grand) / (var_g / F.col("n_g"))
    p = (
        g.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_g",
            "k",
            z2.alias("z2"),
            F.least(F.lit(1.0), 1.0 / z2).alias("p_bound"),
        )
    )
    p = p.persist()
    init = F.struct(F.lit(0.0).alias("c"), F.lit(0.0).alias("best"))
    cut = p.groupBy("k").agg(
        F.aggregate(
            F.array_sort(F.collect_list("p_bound")),
            init,
            lambda acc, x: F.struct(
                (acc["c"] + 1).alias("c"),
                F.when(5.0 * x * F.col("k").cast("double") <= acc["c"] + 1, x)
                .otherwise(acc["best"])
                .alias("best"),
            ),
        )["best"].alias("cutoff")
    )
    return (
        p.crossJoin(F.broadcast(cut.select("cutoff")))
        .select(
            "event_type",
            "n_g",
            F.round("z2", 6).alias("z2"),
            F.round("p_bound", 9).alias("p_bound"),
            F.round("cutoff", 9).alias("bh_cutoff"),
            ((F.col("p_bound") <= F.col("cutoff")) & (F.col("cutoff") > 0.0)).alias(
                "reject_fdr20"
            ),
        )
        .orderBy("event_type")
    )


# Poisson(1) inverse-CDF thresholds (cumulative e^-1 Σ 1/k!), written as
# exact double literals so both engines compare against the identical
# constant — no exp() is evaluated in either plan.
_POIS_CDF = (
    0.36787944117144233,  # P(0)
    0.7357588823428847,   # P(<=1)
    0.9196986029286058,   # P(<=2)
    0.9810118431238462,   # P(<=3)
    0.9963401531726563,   # P(<=4)
)
_BOOT_B = 16
_BOOT_P = 999983  # prime modulus for the per-(row, rep) uniform


def _sql_pois_weight(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_POIS_CDF[0]} THEN 0 "
        f"WHEN {u} < {_POIS_CDF[1]} THEN 1 "
        f"WHEN {u} < {_POIS_CDF[2]} THEN 2 "
        f"WHEN {u} < {_POIS_CDF[3]} THEN 3 "
        f"WHEN {u} < {_POIS_CDF[4]} THEN 4 ELSE 5 END"
    )


@query(
    "sample_poisson_bootstrap",
    oracle=f"""
    WITH reps AS (SELECT UNNEST(generate_series(0, {_BOOT_B - 1})) AS rep),
    w AS (
      SELECT r.rep,
             {_sql_pois_weight(f"(((o.o_orderkey * 2654435761 + r.rep * 99991) "
                               f"% {_BOOT_P}) / {_BOOT_P}.0)")} AS wt,
             {sql_units("o.o_totalprice", 2)} AS cents
      FROM orders o CROSS JOIN reps r
    ),
    means AS (
      SELECT rep,
             CAST(SUM(wt * cents) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE) AS m
      FROM w GROUP BY rep
    ),
    packed AS (
      SELECT list(m ORDER BY m) AS ms, CAST(COUNT(*) AS BIGINT) AS b FROM means
    )
    SELECT b,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n,
           ROUND(ms[2], 6) AS boot_lo,
           ROUND(ms[{_BOOT_B - 1}], 6) AS boot_hi,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ms),
                             (a, x) -> a + x) / CAST(b AS DOUBLE), 6)
             AS boot_mean
    FROM packed
    """,
    tags=("sample", "bootstrap", "uncertainty", "deterministic"),
)
def sample_poisson_bootstrap(spark, sf_dir):
    """Poisson bootstrap confidence interval for the mean order value —
    WITHOUT randomness: each (row, replicate) draws its Poisson(1)
    resampling weight by inverse-CDF lookup on a Knuth-mixed uniform
    u = ((key·2654435761 + rep·99991) mod p)/p, the same hash-gated
    discipline as the whole sampling family, so the interval is exactly
    reproducible at any parallelism and in both engines (the classic
    streaming bootstrap of Chamandy et al., 'Estimating Uncertainty for
    Massive Data Streams', Google TR 2012 — public). B = 16 replicates;
    the CDF thresholds are exact double literals (no exp() in-plan).

    The emitted interval is the [2nd, 15th] order statistic of the
    replicate means (≈ 88% coverage at B=16 — the demo favors a
    k-bounded deterministic readout over tight coverage; production
    raises B, same plan shape).

    Determinism: weights are integers; Σw·cents and Σw are exact longs
    per replicate; each replicate mean is ONE double division; the
    B-row packed fold is the canonical.py k-bounded discipline.

    Scale: the facts are read ONCE and exploded ×B map-side (no extra
    shuffle — rep rides the aggregation key); per-replicate state is two
    longs. At 100 TB, B=100 replicate means still cost one map-combined
    aggregate — the entire point of the Poisson trick vs resampling."""
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("rep")
    u = (
        F.pmod(F.col("o_orderkey") * 2654435761 + F.col("rep") * 99991, F.lit(_BOOT_P))
        / float(_BOOT_P)
    )
    wt = (
        F.when(u < _POIS_CDF[0], 0)
        .when(u < _POIS_CDF[1], 1)
        .when(u < _POIS_CDF[2], 2)
        .when(u < _POIS_CDF[3], 3)
        .when(u < _POIS_CDF[4], 4)
        .otherwise(5)
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", units("o_totalprice", 2).alias("cents")
    )
    w = o.select("o_orderkey", "cents", reps).select(
        "rep", wt.alias("wt"), "cents"
    )
    means = w.groupBy("rep").agg(
        (
            F.sum(F.col("wt") * F.col("cents")).cast("double")
            / F.sum("wt").cast("double")
        ).alias("m")
    )
    n_ = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
    packed = means.agg(
        F.array_sort(F.collect_list("m")).alias("ms"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    fold = F.aggregate(F.col("ms"), F.lit(0.0), lambda a, x: a + x)
    return packed.crossJoin(F.broadcast(n_)).select(
        "b",
        "n",
        F.round(F.element_at("ms", 2), 6).alias("boot_lo"),
        F.round(F.element_at("ms", _BOOT_B - 1), 6).alias("boot_hi"),
        F.round(fold / F.col("b").cast("double"), 6).alias("boot_mean"),
    )


@query(
    "ds_diff_in_diff",
    oracle=f"""
    WITH x AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treat,
             CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 1 ELSE 0 END
               AS post,
             value
      FROM events
    ),
    cells AS (
      SELECT treat, post,
             CAST(COUNT(*) AS BIGINT) AS n,
             {sql_fixed("value", 6)}
               AS i1,
             {sql_fixed("value * value", 2)}
               AS i2
      FROM x GROUP BY treat, post
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treat=0 AND post=0 THEN (i1/1000000.0)/n END) AS m00,
        MAX(CASE WHEN treat=0 AND post=1 THEN (i1/1000000.0)/n END) AS m01,
        MAX(CASE WHEN treat=1 AND post=0 THEN (i1/1000000.0)/n END) AS m10,
        MAX(CASE WHEN treat=1 AND post=1 THEN (i1/1000000.0)/n END) AS m11,
        MAX(CASE WHEN treat=0 AND post=0 THEN
          ((i2/100.0 - (i1/1000000.0)*(i1/1000000.0)/n)/(n-1.0))/n END) AS v00,
        MAX(CASE WHEN treat=0 AND post=1 THEN
          ((i2/100.0 - (i1/1000000.0)*(i1/1000000.0)/n)/(n-1.0))/n END) AS v01,
        MAX(CASE WHEN treat=1 AND post=0 THEN
          ((i2/100.0 - (i1/1000000.0)*(i1/1000000.0)/n)/(n-1.0))/n END) AS v10,
        MAX(CASE WHEN treat=1 AND post=1 THEN
          ((i2/100.0 - (i1/1000000.0)*(i1/1000000.0)/n)/(n-1.0))/n END) AS v11,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           ROUND(m00, 8) AS m_control_pre,  ROUND(m01, 8) AS m_control_post,
           ROUND(m10, 8) AS m_treat_pre,    ROUND(m11, 8) AS m_treat_post,
           ROUND((m11 - m10) - (m01 - m00), 8) AS did,
           ROUND(SQRT(v11 + v10 + v01 + v00), 8) AS se,
           CAST(ABS((m11 - m10) - (m01 - m00))
                > 4.47213595499958 * SQRT(v11 + v10 + v01 + v00)
                AS BOOLEAN) AS significant_chebyshev_95
    FROM wide
    """,
    tags=("analytics", "experiment", "causal", "did"),
)
def ds_diff_in_diff(spark, sf_dir):
    """Difference-in-differences: the 2×2 (treatment × pre/post) causal
    readout — treated-group change minus control-group change, the
    estimator behind every staged rollout analysis. Treatment = odd
    user_id, post = second half of the event month; the four cell means
    and variances come from ONE map-combined fixed-point moment
    aggregate, pivoted to a single row by MAX-over-CASE (4 cells — no
    window, no second scan).

    Inference stays in the repo's no-erf discipline: the standard error
    is √Σ(varᵢ/nᵢ) and the 95% gate uses Chebyshev's k = √20 ≈ 4.472
    (P(|X| ≥ kσ) ≤ 1/k² = 5%), a conservative distribution-free bound —
    same stance as `ds_bh_fdr_chebyshev`.

    Determinism: exact integer moments → fixed scalar IEEE chain; the
    4-cell pivot is exact (each MAX sees exactly one non-NULL).

    Scale: one aggregate over the facts; everything else is one row."""
    e = t(spark, sf_dir, "events")
    x = e.select(
        (F.col("user_id") % 2).cast("long").alias("treat"),
        F.when(F.col("ts").cast("date") >= F.lit("2024-01-16").cast("date"), 1)
        .otherwise(0)
        .alias("post"),
        "value",
    )
    cells = x.groupBy("treat", "post").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        fixed("value", 6).alias("i1"),
        fixed(F.col("value") * F.col("value"), 2).alias("i2"),
    )
    mean_ = (F.col("i1") / 1000000.0) / F.col("n")
    var_ = (
        (F.col("i2") / 100.0 - (F.col("i1") / 1000000.0) * (F.col("i1") / 1000000.0) / F.col("n"))
        / (F.col("n") - 1.0)
    ) / F.col("n")

    def cell(tr, po, expr):
        return F.max(F.when((F.col("treat") == tr) & (F.col("post") == po), expr))

    wide = cells.agg(
        cell(0, 0, mean_).alias("m00"),
        cell(0, 1, mean_).alias("m01"),
        cell(1, 0, mean_).alias("m10"),
        cell(1, 1, mean_).alias("m11"),
        cell(0, 0, var_).alias("v00"),
        cell(0, 1, var_).alias("v01"),
        cell(1, 0, var_).alias("v10"),
        cell(1, 1, var_).alias("v11"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(F.col("v11") + F.col("v10") + F.col("v01") + F.col("v00"))
    return wide.select(
        "n_total",
        F.round("m00", 8).alias("m_control_pre"),
        F.round("m01", 8).alias("m_control_post"),
        F.round("m10", 8).alias("m_treat_pre"),
        F.round("m11", 8).alias("m_treat_post"),
        F.round(did, 8).alias("did"),
        F.round(se, 8).alias("se"),
        (F.abs(did) > 4.47213595499958 * se).alias("significant_chebyshev_95"),
    )


@query(
    "sample_group_kfold",
    oracle=f"""
    WITH fmap AS (
      SELECT c_custkey, (c_custkey * 2654435761 + 40503) % 5 AS fold
      FROM customer
    )
    SELECT fold,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_spend', scale=2)}
    FROM fmap LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY fold ORDER BY fold
    """,
    tags=("sampling", "cross-validation", "leakage"),
)
def sample_group_kfold(spark, sf_dir):
    """GROUP k-fold assignment — the cross-validation complement of
    `sample_leakage_safe_split`: every fold is a function of the GROUP
    key (customer), so all of a customer's orders land in exactly one
    fold BY CONSTRUCTION (sklearn's GroupKFold contract) and
    evaluation can never see a training customer's sibling orders.
    The fold is the same portable affine hash the split family uses
    ((key·2654435761 + 40503) mod k — Knuth multiplicative, exact
    int64 in both engines); per-fold stats (distinct customers, order
    count, fixed-point spend) are the balance readout that decides
    whether hash folding is acceptable or stratification is needed.

    Shape: one left join customer→orders (shuffle on custkey — the
    unavoidable fact-side exchange) + one 5-group aggregate with
    map-side partials. The fold map is never materialized: it's a
    projection. At 100 TB identical; the join side flips to broadcast
    only if the grouping entity is genuinely bounded."""
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * F.lit(2654435761) + F.lit(40503)) % 5).alias("fold"),
    )
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("fold")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            dsum("o_totalprice", "sum_spend", scale=2),
        )
        .transform(order_bounded, "fold")
    )


@query(
    "profile_key_discovery",
    oracle="""
    WITH cols AS (
      SELECT 'o_orderkey' AS col, COUNT(*) AS n,
             COUNT(DISTINCT o_orderkey) AS nd,
             COUNT(*) - COUNT(o_orderkey) AS n_null FROM orders
      UNION ALL
      SELECT 'o_custkey', COUNT(*), COUNT(DISTINCT o_custkey),
             COUNT(*) - COUNT(o_custkey) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', COUNT(*), COUNT(DISTINCT o_orderstatus),
             COUNT(*) - COUNT(o_orderstatus) FROM orders
      UNION ALL
      SELECT 'o_totalprice', COUNT(*), COUNT(DISTINCT o_totalprice),
             COUNT(*) - COUNT(o_totalprice) FROM orders
      UNION ALL
      SELECT 'o_orderdate', COUNT(*), COUNT(DISTINCT o_orderdate),
             COUNT(*) - COUNT(o_orderdate) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', COUNT(*), COUNT(DISTINCT o_orderpriority),
             COUNT(*) - COUNT(o_orderpriority) FROM orders
    )
    SELECT col, CAST(n AS BIGINT) AS n, CAST(nd AS BIGINT) AS n_distinct,
           CAST(n_null AS BIGINT) AS n_null,
           (nd = n AND n_null = 0) AS pk_candidate
    FROM cols ORDER BY col
    """,
    tags=("profiling", "keys", "discovery"),
)
def profile_key_discovery(spark, sf_dir):
    """PRIMARY-KEY candidate discovery — the schema-inference profiling
    pass: per column, cardinality and null count in ONE aggregate over
    the table; a column is a key candidate iff distinct = rows and no
    NULLs (here exactly `o_orderkey`). The one-pass shape matters: six
    COUNT(DISTINCT)s in a single agg compile to Spark's expand-based
    multi-distinct (one shuffle of expanded rows), not six scans; the
    wide one-row result unpivots map-side via `stack`.

    At 100 TB exact multi-distinct gets expensive — the documented
    production swap is `approx_count_distinct` in the same plan (the
    `agg_approx_count_distinct` posture: candidates whose estimate ≈
    rowcount get one exact confirmation pass); everything else here is
    unchanged. Complements `profile_table_stats` (which profiles
    min/max/nulls, not keyness) and `profile_referential_integrity`
    (which audits the discovered keys' FK edges)."""
    o = t(spark, sf_dir, "orders")
    cols = [
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
    ]
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
        aggs.append(F.count(c).alias(f"nn_{c}"))
    row = o.agg(*aggs)
    stack_expr = ", ".join(f"'{c}', nd_{c}, nn_{c}" for c in cols)
    long = row.selectExpr(
        "n", f"stack({len(cols)}, {stack_expr}) AS (col, nd, n_notnull)"
    )
    return long.select(
        "col",
        F.col("n").cast("long").alias("n"),
        F.col("nd").cast("long").alias("n_distinct"),
        (F.col("n") - F.col("n_notnull")).cast("long").alias("n_null"),
        ((F.col("nd") == F.col("n")) & (F.col("n") == F.col("n_notnull"))).alias(
            "pk_candidate"
        ),
    ).orderBy("col")


@query(
    "ds_kruskal_wallis",
    oracle=f"""
    WITH assigned AS (
      SELECT ascii(substr(event_type, 1, 1)) AS gid,
             {sql_units("value", 2)} AS cents, event_id
      FROM events
    ),
    ranked AS (
      SELECT gid, row_number() OVER (ORDER BY cents, event_id) AS rk
      FROM assigned
    ),
    grp AS (
      SELECT gid, CAST(COUNT(*) AS BIGINT) AS n_j,
             CAST(SUM(rk) AS BIGINT) AS rank_sum
      FROM ranked GROUP BY gid
    ),
    tot AS (
      SELECT CAST(SUM(n_j) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(rank_sum AS HUGEINT) * rank_sum * 100 // n_j)
                  AS BIGINT) AS s100
      FROM grp
    ),
    h AS (
      SELECT n, k,
             12.0 * (CAST(s100 AS DOUBLE) / 100.0)
               / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))
               - 3.0 * (CAST(n AS DOUBLE) + 1.0) AS h_raw
      FROM tot
    ),
    dim AS (
      SELECT DISTINCT ascii(substr(event_type, 1, 1)) AS gid, event_type
      FROM events
    )
    SELECT d.event_type, g.n_j, g.rank_sum,
           ROUND(CAST(g.rank_sum AS DOUBLE) / g.n_j, 8) AS mean_rank,
           h.n, h.k, ROUND(h.h_raw, 8) AS h_stat,
           CAST(h.k - 1 AS BIGINT) AS df,
           CAST(h.h_raw > CASE CAST(h.k - 1 AS INTEGER)
                  WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                  WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 END
                AS BOOLEAN) AS significant_95
    FROM grp g JOIN dim d USING (gid) CROSS JOIN h
    ORDER BY d.event_type
    """,
    tags=("analytics", "experiment", "nonparametric", "rank"),
)
def ds_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H — the k-sample generalization of
    `ds_mann_whitney_u` (rank-based one-way ANOVA on ranks): does the
    `value` distribution differ across the five event streams? Ranks
    come from `_ranked_nosort`'s distributed-rank machinery in
    (cents, event_id) order — NO global sort, ties broken
    deterministically by event_id in both engines
    (same documented tie posture as `ds_mann_whitney_u`). The group
    channel rides `_ranked_nosort`'s val column as the ascii of the
    stream's first character (distinct across the five streams, and
    recomputable in ANSI SQL — no hash salt to coordinate).

    H = 12/(N(N+1))·Σⱼ Rⱼ²/nⱼ − 3(N+1). Rⱼ and nⱼ are exact longs;
    Rⱼ²/nⱼ folds through ×100 fixed-point integer division in
    decimal/HUGEINT (exact, order-free — the k-term sum never touches
    floats), so h_stat is ONE deterministic double chain. The χ²
    critical value at df = k−1 comes from a pinned CASE map; Rⱼ²·100
    fits the decimal(38) lane past sf100 (Rⱼ ≲ N²/k).

    Scale: one range-binned shuffle + per-bin windows for ranks (the
    exact-Gini plan), then a ≤k-row aggregate — rank tests on 100 TB
    without sorting the world."""
    e = t(spark, sf_dir, "events")
    gid = F.ascii(F.substring("event_type", 1, 1)).cast("long")
    ranked = _ranked_nosort(
        e.select(
            units("value", 2).alias("key"),
            F.col("event_id").alias("tie"),
            gid.alias("val"),
        )
    )
    grp = ranked.groupBy(F.col("val").alias("gid")).agg(
        F.count(F.lit(1)).cast("long").alias("n_j"),
        F.sum("i").cast("long").alias("rank_sum"),
    )
    # Round-12 (guide §1.2 touch each byte once): the H-statistic's
    # (n, k, s100) totals were a SECOND aggregate over grp, cross-joined
    # back — and since grp sits on top of the whole distributed-rank
    # pipeline, that second reference re-executed the range-bin shuffle
    # and per-bin windows end to end (2x the rank pass, 3 extra fact
    # scans; 5.7 s cold isolated). grp is an aggregated ≤k-row relation,
    # so the same totals fold into ONE whole-relation window over it —
    # identical decimal/long arithmetic, zero extra passes (4.4 → 2.6 s
    # warm isolated).
    wall = Window.partitionBy()
    grp = grp.select(
        "gid",
        "n_j",
        "rank_sum",
        F.sum("n_j").over(wall).cast("long").alias("n"),
        F.count(F.lit(1)).over(wall).cast("long").alias("k"),
        F.sum(
            F.expr("(cast(rank_sum as decimal(38,0)) * rank_sum * 100) div n_j")
        )
        .over(wall)
        .cast("long")
        .alias("s100"),
    )
    h_raw = F.expr(
        "12.0 * (CAST(s100 AS DOUBLE) / 100.0)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0))"
        " - 3.0 * (CAST(n AS DOUBLE) + 1.0)"
    )
    dim = e.select(gid.alias("gid"), "event_type").distinct()
    return (
        grp.join(F.broadcast(dim), "gid")
        .withColumn("h_raw", h_raw)
        .select(
            "event_type",
            "n_j",
            "rank_sum",
            F.round(F.col("rank_sum").cast("double") / F.col("n_j"), 8).alias(
                "mean_rank"
            ),
            "n",
            "k",
            F.round("h_raw", 8).alias("h_stat"),
            (F.col("k") - 1).cast("long").alias("df"),
            (
                F.col("h_raw")
                > F.expr(
                    "CASE CAST(k - 1 AS INT) WHEN 1 THEN 3.841 WHEN 2 THEN 5.991"
                    " WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 END"
                )
            ).alias("significant_95"),
        )
        .orderBy("event_type")
    )


@query(
    "ds_spearman_rho",
    oracle=f"""
    WITH per AS (
      SELECT o_custkey,
             {sql_fixed("o_totalprice", 2)}
               AS spend_c,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    r1 AS (
      SELECT o_custkey,
             row_number() OVER (ORDER BY spend_c, o_custkey) AS r_spend
      FROM per
    ),
    r2 AS (
      SELECT o_custkey,
             row_number() OVER (ORDER BY n_orders, o_custkey) AS r_freq
      FROM per
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM((r_spend - r_freq) * (r_spend - r_freq)) AS BIGINT)
               AS sum_d2
      FROM r1 JOIN r2 USING (o_custkey)
    )
    SELECT n, sum_d2,
           ROUND(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)),
                 8) AS spearman_rho
    FROM s
    """,
    tags=("analytics", "correlation", "nonparametric", "rank"),
)
def ds_spearman_rho(spark, sf_dir):
    """Spearman rank correlation between customer monetary value and
    purchase frequency — the monotonic-association readout behind RFM
    sanity checks ("do big spenders also order often?"), robust to the
    heavy-tailed spend distribution that distorts `agg_corr_bivariate`'s
    Pearson r. Both variables are ranked by ONE grouped
    `_ranked_nosort` call (distributed rank, no world sort; one group
    per variable) in (metric, custkey) order, so ranks are distinct
    permutations in BOTH engines and the textbook identity applies
    EXACTLY: ρ = 1 − 6·Σd²/(n(n²−1)), with Σd² an exact long (d² ≤ n²,
    Σ ≤ n³ — past n ≈ 2M customers the sum needs the decimal lane).

    The custkey is the tie column, so one per-customer groupBy pivots
    the two ranks side by side and yields d.

    Scale: one range-binned rank pass + one slim per-customer aggregate
    + a one-row aggregate; ρ is one deterministic double chain over
    exact integers, rounded at 1e-8."""
    o = t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        fixed("o_totalprice", 2).alias("spend_c"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    ranked = _ranked_nosort(
        per.select(
            F.col("o_custkey").alias("tie"),
            F.lit(0).cast("long").alias("val"),
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("var"), F.col("spend_c").alias("key")),
                    F.struct(F.lit(2).alias("var"), F.col("n_orders").alias("key")),
                )
            ).alias("r"),
        ).select("r.var", "r.key", "tie", "val"),
        grp="var",
    )
    # d = r_spend − r_freq per customer
    j = ranked.groupBy("tie").agg(
        F.sum(F.when(F.col("var") == 1, F.col("i")).otherwise(-F.col("i"))).alias("d")
    )
    d = F.col("d")
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d * d).cast("long").alias("sum_d2"),
    )
    return s.select(
        "n",
        "sum_d2",
        F.round(
            1.0
            - 6.0
            * F.col("sum_d2").cast("double")
            / (
                F.col("n").cast("double")
                * (F.col("n").cast("double") * F.col("n") - 1.0)
            ),
            8,
        ).alias("spearman_rho"),
    )


@query(
    "ds_wilcoxon_signed_rank",
    oracle=f"""
    WITH b AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
    ),
    per AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_us(ts) < b.mid
                           THEN {sql_units("value", 2)}
                           ELSE 0 END) AS BIGINT) AS early_c,
             CAST(SUM(CASE WHEN epoch_us(ts) >= b.mid
                           THEN {sql_units("value", 2)}
                           ELSE 0 END) AS BIGINT) AS late_c
      FROM events CROSS JOIN b GROUP BY user_id
    ),
    diffs AS (
      SELECT user_id, late_c - early_c AS d FROM per
      WHERE late_c - early_c <> 0
    ),
    ranked AS (
      SELECT CASE WHEN d > 0 THEN 1 ELSE 0 END AS pos,
             row_number() OVER (ORDER BY ABS(d), user_id) AS rk
      FROM diffs
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN pos = 1 THEN rk ELSE 0 END) AS BIGINT) AS w_plus
      FROM ranked
    )
    SELECT n_pairs, w_plus,
           CAST(n_pairs * (n_pairs + 1) // 2 - w_plus AS BIGINT) AS w_minus,
           ROUND((CAST(w_plus AS DOUBLE)
                  - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)
                 / SQRT(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
                        * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0),
                 8) AS z_stat,
           CAST(ABS((CAST(w_plus AS DOUBLE)
                  - CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0) / 4.0)
                 / SQRT(CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1.0)
                        * (2.0 * CAST(n_pairs AS DOUBLE) + 1.0) / 24.0)) > 1.96
                AS BOOLEAN) AS significant_95
    FROM s
    """,
    tags=("analytics", "experiment", "nonparametric", "rank", "paired"),
)
def ds_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank — the PAIRED nonparametric test completing
    the rank-test family (`ds_mann_whitney_u` = independent two-sample,
    `ds_kruskal_wallis` = k-sample): did per-user event value shift
    between the first and second half of the observation window? The
    pairing is within-user (each user is their own control), the
    half-window boundary is the exact integer midpoint of the corpus
    [min, max] timestamp span (microsecond arithmetic, identical in
    both engines), and zero differences drop per the textbook
    procedure.

    |d| ranks come from `_ranked_nosort` in (|d|, user_id) order —
    deterministic tie-break, no world sort, the sign rides the val
    channel. W⁺ = Σ rank·[d>0] is an exact long;
    the normal approximation z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24)
    is one double chain over exact integers. An all-zero-diff corpus
    yields NULL z in both engines (empty diffs → NULL sums), never
    NaN.

    Scale: the per-user early/late fold is one partial-merged groupBy
    over the scan; ranking shuffles only (user, |d|) pairs."""
    e = t(spark, sf_dir, "events")
    b = e.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) div 2").alias("mid")
    )
    cents = units("value", 2)
    per = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.expr("unix_micros(ts)") < F.col("mid"), cents).otherwise(0)
            )
            .cast("long")
            .alias("early_c"),
            F.sum(
                F.when(F.expr("unix_micros(ts)") >= F.col("mid"), cents).otherwise(0)
            )
            .cast("long")
            .alias("late_c"),
        )
    )
    diffs = per.select(
        "user_id", (F.col("late_c") - F.col("early_c")).alias("d")
    ).filter(F.col("d") != 0)
    ranked = _ranked_nosort(
        diffs.select(
            F.abs(F.col("d")).alias("key"),
            F.col("user_id").alias("tie"),
            (F.col("d") > 0).cast("long").alias("val"),
        )
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.col("i") * F.col("val")).cast("long").alias("w_plus"),
    )
    np_d = F.col("n_pairs").cast("double")
    z = (F.col("w_plus").cast("double") - np_d * (np_d + 1.0) / 4.0) / F.sqrt(
        np_d * (np_d + 1.0) * (2.0 * np_d + 1.0) / 24.0
    )
    return s.select(
        "n_pairs",
        "w_plus",
        F.expr("n_pairs * (n_pairs + 1) div 2 - w_plus")
        .cast("long")
        .alias("w_minus"),
        F.round(z, 8).alias("z_stat"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


@query(
    "profile_id_gaps",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id,
             LAG(event_id) OVER (PARTITION BY event_type
                                 ORDER BY event_id) AS prev_id
      FROM events
    )
    SELECT event_type,
           CAST(prev_id + 1 AS BIGINT) AS gap_start,
           CAST(event_id - 1 AS BIGINT) AS gap_end,
           CAST(event_id - prev_id - 1 AS BIGINT) AS n_missing
    FROM s
    WHERE event_id - prev_id > 1
    ORDER BY n_missing DESC, event_type, gap_start
    LIMIT 20
    """,
    tags=("profile", "completeness", "quality"),
)
def profile_id_gaps(spark, sf_dir):
    """Sequence-completeness audit: the 20 largest gaps in the
    per-stream event-id sequence — the "did the pipeline drop a batch?"
    readout (a contiguous run of missing ids inside one stream is the
    signature of a lost micro-batch, where random row loss shows up as
    scattered 1-gaps). Complements `profile_freshness_lag` (time axis)
    with the identity axis, and `profile_key_discovery` (is it a key?)
    with (is the key dense?).

    Plan: one LAG window per stream partition — parallel across
    streams, exact integer arithmetic end to end; the top-20 is
    TakeOrdered with a full deterministic tie-break (n_missing, type,
    start). At 100 TB the window input is (type, id) pairs only —
    16 bytes a row; a date-bucketed refinement bounds any single
    stream partition."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    s = e.select(
        "event_type",
        "event_id",
        F.lag("event_id").over(w).alias("prev_id"),
    )
    return (
        s.filter(F.col("event_id") - F.col("prev_id") > 1)
        .select(
            "event_type",
            (F.col("prev_id") + 1).cast("long").alias("gap_start"),
            (F.col("event_id") - 1).cast("long").alias("gap_end"),
            (F.col("event_id") - F.col("prev_id") - 1).cast("long").alias("n_missing"),
        )
        .orderBy(F.col("n_missing").desc(), "event_type", "gap_start")
        .limit(20)
    )


@query(
    "profile_emd_drift",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('{_KS_A}', '{_KS_B}')
    ),
    bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM base),
    bk AS (
      SELECT event_type,
             LEAST({_KS_BUCKETS},
                   CAST(FLOOR((value - lo) / ((hi - lo) / {_KS_BUCKETS}.0))
                        AS BIGINT)) AS bucket
      FROM base, bounds
    ),
    counts AS (
      SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM bk GROUP BY event_type, bucket
    ),
    na AS (SELECT CAST(SUM(c) AS BIGINT) AS na FROM counts
           WHERE event_type = '{_KS_A}'),
    nb AS (SELECT CAST(SUM(c) AS BIGINT) AS nb FROM counts
           WHERE event_type = '{_KS_B}'),
    spine AS (SELECT unnest(generate_series(0, {_KS_BUCKETS})) AS bucket),
    per AS (
      SELECT s.bucket,
             COALESCE((SELECT c FROM counts
                       WHERE event_type = '{_KS_A}' AND bucket = s.bucket), 0)
               AS n_a,
             COALESCE((SELECT c FROM counts
                       WHERE event_type = '{_KS_B}' AND bucket = s.bucket), 0)
               AS n_b
      FROM spine s
    ),
    arr AS (
      SELECT list([n_a, n_b] ORDER BY bucket) AS xs, na.na, nb.nb
      FROM per, na, nb GROUP BY na.na, nb.nb
    ),
    folded AS (
      SELECT na, nb,
             list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                             CAST(0 AS BIGINT)],
                 list_transform(xs, x -> [x[1], x[2], CAST(0 AS BIGINT)])),
               (acc, e) -> [acc[1] + e[1], acc[2] + e[2],
                            acc[3] + ABS((acc[1] + e[1]) * nb
                                         - (acc[2] + e[2]) * na)]) AS s
      FROM arr
    ),
    b2 AS (SELECT lo, hi FROM bounds)
    SELECT na AS n_a_total, nb AS n_b_total, s[3] AS emd_scaled,
           CAST(s[3] AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             * ((hi - lo) / {_KS_BUCKETS}.0) AS emd
    FROM folded, b2
    """,
    tags=("profile", "drift", "quality", "wasserstein"),
)
def profile_emd_drift(spark, sf_dir):
    """1-D Earth-Mover's Distance (Wasserstein-1) between the
    `{_KS_A}` and `{_KS_B}` value distributions on the shared fixed
    grid — completing the drift trio: KS reacts to the WORST gap,
    PSI to mass-weighted log divergence, EMD to total transported
    mass × distance (the metric least fooled by many small shifts).
    On a grid, EMD = Σ_buckets |CDF_A − CDF_B| · bin_width.

    Exactness: the CDF gap folds as |cumA·nB − cumB·nA| — EXACT
    integers (cross-multiplied, no per-bucket division), accumulated
    by a sequential fold over the ≤{_KS_BUCKETS + 1}-slot grid in
    bucket order; the single double conversion happens once at the
    end (scaled total / nA·nB · step). Bit-identical cross-engine;
    the grid totals themselves are the same one-row broadcast + map-
    side bucketing as `profile_ks_drift`/`profile_psi_drift`.

    Scale: one (lo, hi) broadcast, one partial-merged (group, bucket)
    count shuffle, then O(grid) work. 100 TB changes only the scan."""
    base = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(_KS_A, _KS_B))
        .select("event_type", "value")
    )
    bounds = base.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    step = (F.col("hi") - F.col("lo")) / F.lit(float(_KS_BUCKETS))
    bk = base.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.lit(_KS_BUCKETS),
            F.floor((F.col("value") - F.col("lo")) / step).cast("long"),
        ).alias("bucket"),
    )
    counts = bk.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    na = counts.filter(F.col("event_type") == _KS_A).agg(
        F.sum("c").cast("long").alias("na")
    )
    nb = counts.filter(F.col("event_type") == _KS_B).agg(
        F.sum("c").cast("long").alias("nb")
    )
    spine = spark.range(0, _KS_BUCKETS + 1).select(
        F.col("id").cast("long").alias("bucket")
    )
    ca = counts.filter(F.col("event_type") == _KS_A).select(
        "bucket", F.col("c").alias("ca")
    )
    cb = counts.filter(F.col("event_type") == _KS_B).select(
        "bucket", F.col("c").alias("cb")
    )
    per = (
        spine.join(ca, "bucket", "left")
        .join(cb, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).cast("long").alias("n_a"),
            F.coalesce("cb", F.lit(0)).cast("long").alias("n_b"),
        )
    )
    arr = per.agg(
        F.array_sort(F.collect_list(F.struct("bucket", "n_a", "n_b"))).alias("xs")
    )
    lz = F.lit(0).cast("long")

    def fold_step(acc, x):
        ca_ = F.element_at(acc, 1) + x["n_a"]
        cb_ = F.element_at(acc, 2) + x["n_b"]
        return F.array(
            ca_,
            cb_,
            F.element_at(acc, 3)
            + F.abs(ca_ * F.col("nb") - cb_ * F.col("na")),
        )

    j = arr.crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb)).crossJoin(
        F.broadcast(bounds)
    )
    folded = j.select(
        "na",
        "nb",
        "lo",
        "hi",
        F.aggregate(F.col("xs"), F.array(lz, lz, lz), fold_step).alias("s"),
    )
    return folded.select(
        F.col("na").alias("n_a_total"),
        F.col("nb").alias("n_b_total"),
        F.element_at("s", 3).alias("emd_scaled"),
        (
            F.element_at("s", 3).cast("double")
            / (F.col("na").cast("double") * F.col("nb").cast("double"))
            * ((F.col("hi") - F.col("lo")) / F.lit(float(_KS_BUCKETS)))
        ).alias("emd"),
    )


@query(
    "ds_auc_exact",
    oracle="""
    WITH per AS (
      SELECT CAST(l_quantity AS BIGINT) AS s,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
                  AS BIGINT) AS neg
      FROM lineitem GROUP BY s
    ),
    arr AS (SELECT list([s, pos, neg] ORDER BY s) AS xs FROM per),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS n1, CAST(SUM(neg) AS BIGINT) AS n0
      FROM per
    ),
    folded AS (
      -- state = [cum_neg_below, auc_num2]
      SELECT list_reduce(
               list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                 list_transform(xs, x -> [x[2], x[3]])),
               (acc, e) -> [acc[1] + e[2],
                            acc[2] + e[1] * (2 * acc[1] + e[2])]) AS st
      FROM arr
    )
    SELECT t.n1 AS n_pos, t.n0 AS n_neg, f.st[2] AS auc_num2,
           CAST(f.st[2] AS DOUBLE)
             / (2.0 * CAST(t.n1 AS DOUBLE) * CAST(t.n0 AS DOUBLE)) AS auc
    FROM folded f, tot t
    """,
    tags=("datascience", "ml", "evaluation", "auc"),
)
def ds_auc_exact(spark, sf_dir):
    """EXACT ROC-AUC of an integer scoring rule (score = quantity,
    positive = returned line) — the model-eval metric, computed at
    scale with NO sort and CORRECT tie handling: by the rank/
    Mann-Whitney identity, AUC = (#concordant + ½·#tied)/(n₁n₀), and
    with an integer score the whole statistic folds over the ≤50-row
    per-score-value histogram: auc_num2 = Σ_v pos_v·(2·cum_neg_below
    + neg_v) — EXACT longs end to end (the ×2 fixed point absorbs the
    half-credit for ties, unlike a tie-broken rank sum which would
    bias AUC), one raw double division at the end.

    Scale: ONE partial-merged aggregate over the scan builds the
    score histogram; everything after runs on ≤|score domain| rows
    via a sequential integer fold. AUC on 100 TB is this plan for any
    bounded/discretized score; continuous scores first land in the
    equi-width grid (`profile_equidepth_histogram`'s machinery) with
    the same fold."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_quantity").cast("long").alias("s")).agg(
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("pos"),
        F.sum((F.col("l_returnflag") != "R").cast("long")).alias("neg"),
    )
    arr = per.agg(
        F.array_sort(F.collect_list(F.struct("s", "pos", "neg"))).alias("xs")
    )
    tot = per.agg(
        F.sum("pos").cast("long").alias("n1"), F.sum("neg").cast("long").alias("n0")
    )
    lz = F.lit(0).cast("long")

    def step(acc, e):
        return F.array(
            F.element_at(acc, 1) + e["neg"],
            F.element_at(acc, 2)
            + e["pos"] * (2 * F.element_at(acc, 1) + e["neg"]),
        )

    folded = arr.select(
        F.aggregate(F.col("xs"), F.array(lz, lz), step).alias("st")
    )
    return folded.crossJoin(F.broadcast(tot)).select(
        F.col("n1").alias("n_pos"),
        F.col("n0").alias("n_neg"),
        F.element_at("st", 2).alias("auc_num2"),
        (
            F.element_at("st", 2).cast("double")
            / (2.0 * F.col("n1").cast("double") * F.col("n0").cast("double"))
        ).alias("auc"),
    )


@query(
    "ds_lift_gains_deciles",
    oracle="""
    WITH ranked AS (
      SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
             row_number() OVER (ORDER BY l_quantity DESC, l_orderkey,
                                l_linenumber) AS rk
      FROM lineitem
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
      FROM ranked
    ),
    dec AS (
      SELECT CAST((rk - 1) * 10 // t.n + 1 AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_d, CAST(SUM(y) AS BIGINT) AS pos_d
      FROM ranked, tot t GROUP BY decile
    ),
    cum AS (
      SELECT decile, n_d, pos_d,
             CAST(SUM(n_d) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
             CAST(SUM(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos
      FROM dec
    )
    SELECT c.decile, c.n_d, c.pos_d, c.cum_n, c.cum_pos,
           CAST(c.cum_pos AS DOUBLE) / t.p AS gain,
           (CAST(c.cum_pos AS DOUBLE) * t.n)
             / (CAST(c.cum_n AS DOUBLE) * t.p) AS lift,
           CAST(ABS(c.cum_pos * (t.n - t.p) - (c.cum_n - c.cum_pos) * t.p)
                AS DOUBLE)
             / (CAST(t.p AS DOUBLE) * (t.n - t.p)) AS ks_d
    FROM cum c, tot t
    ORDER BY c.decile
    """,
    tags=("datascience", "ml", "evaluation", "rank"),
)
def ds_lift_gains_deciles(spark, sf_dir):
    """Gains table / lift chart by score decile — the campaign-targeting
    readout next to `ds_auc_exact`: rank every line by the scoring rule
    (quantity, deterministic composite tie-break), cut into row
    deciles, and report cumulative capture (gain), lift over random,
    and the decile-level KS separation. Deciles of ROWS need global
    ranks, which come from `_ranked_nosort` (range-binned distributed
    rank — no world sort), with the positive-class cumulative riding
    its running-sum channel's per-decile re-aggregation.

    Exactness: decile ids, per-decile counts, and cumulatives are
    exact integers (the 10-row cumulative folds through the offset-
    array pattern, never a float window); gain/lift/KS are raw
    divisions and one cross-multiplied |·| of exact longs — identical
    IEEE ops, no rounding.

    Scale: one rank pass + one 10-row fold; the ranked relation
    shuffles (key, tie, y) rows only."""
    li = t(spark, sf_dir, "lineitem")
    keyed = li.select(
        (50 - F.col("l_quantity").cast("long")).alias("key"),
        F.struct("l_orderkey", "l_linenumber").alias("tie"),
        (F.col("l_returnflag") == "R").cast("long").alias("val"),
    )
    # Round-12 (guide §1.2 touch each byte once): the (n, p) totals were
    # a SECOND aggregate over the ranked relation, cross-joined back in —
    # re-executing the whole distributed-rank pipeline (range-bin
    # shuffle + per-bin windows + 3 extra fact scans; 4.2 s cold
    # isolated). The rank helper's offset fold already holds both totals
    # in its final accumulator, so ``with_totals=True`` rides them in on
    # every row through the same ≤4096-row broadcast — the rank pass now
    # runs ONCE, and the final projection's (n, p) fold out of the
    # 10-row decile aggregate (2.6 s cold isolated).
    ranked = _ranked_nosort(keyed, with_totals=True)
    dec = (
        ranked
        .groupBy(F.expr("(i - 1) * 10 div n_tot + 1").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_d"),
            F.sum("val").cast("long").alias("pos_d"),
            F.max("n_tot").cast("long").alias("n"),
            F.max("v_tot").cast("long").alias("p"),
        )
    )
    arr = dec.agg(
        F.array_sort(F.collect_list(F.struct("decile", "n_d", "pos_d"))).alias("xs"),
        F.max("n").cast("long").alias("n"),
        F.max("p").cast("long").alias("p"),
    )
    lz = F.lit(0).cast("long")
    init = F.struct(
        lz.alias("c"),
        lz.alias("p"),
        F.array()
        .cast(
            "array<struct<decile:long,n_d:long,pos_d:long,cum_n:long,cum_pos:long>>"
        )
        .alias("es"),
    )

    def step(acc, e):
        cn = acc["c"] + e["n_d"]
        cp = acc["p"] + e["pos_d"]
        return F.struct(
            cn.alias("c"),
            cp.alias("p"),
            F.concat(
                acc["es"],
                F.array(
                    F.struct(
                        e["decile"].alias("decile"),
                        e["n_d"].alias("n_d"),
                        e["pos_d"].alias("pos_d"),
                        cn.alias("cum_n"),
                        cp.alias("cum_pos"),
                    )
                ),
            ).alias("es"),
        )

    rows = arr.select(
        "n",
        "p",
        F.explode(F.aggregate(F.col("xs"), init, step)["es"]).alias("r"),
    ).select("n", "p", "r.*")
    neg_tot = F.col("n") - F.col("p")
    return (
        rows
        .select(
            "decile",
            "n_d",
            "pos_d",
            "cum_n",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("p")).alias("gain"),
            (
                F.col("cum_pos").cast("double")
                * F.col("n")
                / (F.col("cum_n").cast("double") * F.col("p"))
            ).alias("lift"),
            (
                F.abs(
                    F.col("cum_pos") * neg_tot
                    - (F.col("cum_n") - F.col("cum_pos")) * F.col("p")
                ).cast("double")
                / (F.col("p").cast("double") * neg_tot)
            ).alias("ks_d"),
        )
        .orderBy("decile")
    )


@query(
    "outlier_ensemble_votes",
    oracle=f"""
    WITH base AS (
      SELECT event_type, event_id,
             {sql_units("value", 2)} AS cents
      FROM events
    ),
    st AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS BIGINT) AS ss,
             quantile_cont(cents, 0.25) AS q1,
             quantile_cont(cents, 0.75) AS q3,
             quantile_cont(cents, 0.50) AS med
      FROM base GROUP BY event_type
    ),
    mad AS (
      SELECT b.event_type,
             quantile_cont(ABS(b.cents - st.med), 0.50) AS madv
      FROM base b JOIN st USING (event_type) GROUP BY b.event_type, st.med
    ),
    flags AS (
      SELECT b.event_type, b.event_id, b.cents,
             CAST((CAST(b.cents AS DOUBLE) * st.n - st.s)
                    * (CAST(b.cents AS DOUBLE) * st.n - st.s)
                  > 9.0 * (CAST(st.ss AS DOUBLE) * st.n - CAST(st.s AS DOUBLE) * st.s)
                  AS BOOLEAN) AS z_flag,
             CAST(b.cents < st.q1 - 1.5 * (st.q3 - st.q1)
                  OR b.cents > st.q3 + 1.5 * (st.q3 - st.q1)
                  AS BOOLEAN) AS iqr_flag,
             CAST(ABS(b.cents - st.med) > 3.5 * 1.4826 * m.madv
                  AS BOOLEAN) AS mad_flag
      FROM base b JOIN st USING (event_type) JOIN mad m USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN z_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
           CAST(SUM(CASE WHEN iqr_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_iqr,
           CAST(SUM(CASE WHEN mad_flag THEN 1 ELSE 0 END) AS BIGINT) AS n_mad,
           CAST(SUM(CASE WHEN (CASE WHEN z_flag THEN 1 ELSE 0 END)
                           + (CASE WHEN iqr_flag THEN 1 ELSE 0 END)
                           + (CASE WHEN mad_flag THEN 1 ELSE 0 END) >= 2
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ensemble
    FROM flags
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("outlier", "ensemble", "quality"),
)
def outlier_ensemble_votes(spark, sf_dir):
    """Ensemble outlier detection — the three standard univariate
    detectors voting per event stream: 3σ z-score (moment-based,
    breaks under heavy tails), 1.5·IQR Tukey fences (rank-based), and
    the 3.5 modified-z MAD gate (50% breakdown) — a row is an ensemble
    outlier at ≥2 votes. Running them TOGETHER is the production
    pattern (single-method alerts page too often); the per-stream
    disagreement counts are themselves the diagnostic (z ≫ mad ⇒ a
    fat tail is dragging σ).

    Determinism: the z gate is the cross-multiplied integer-moment
    predicate (cents·n − s)² > 9·(ss·n − s²) — the
    `ds_ols_residual_outliers` posture, no per-row division; IQR and
    MAD gates compare exact cents against interpolated quantiles
    (Spark percentile ≡ DuckDB quantile_cont, pinned by
    `agg_percentiles`) through one identical double chain.

    Scale: two grouped aggregates over the scan (moments+quantiles,
    then MAD of residuals) build a ≤|streams|-row model relation;
    flagging is a broadcast join + map-side predicates; only counts
    shuffle back."""
    base = t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        units("value", 2).alias("cents"),
    )
    st = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.expr("cast(cents as decimal(38,0)) * cents"))
        .cast("long")
        .alias("ss"),
        F.expr("percentile(cents, 0.25)").alias("q1"),
        F.expr("percentile(cents, 0.75)").alias("q3"),
        F.expr("percentile(cents, 0.50)").alias("med"),
    )
    mad = (
        base.join(F.broadcast(st.select("event_type", "med")), "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(cents - med), 0.50)").alias("madv"))
    )
    j = base.join(F.broadcast(st), "event_type").join(
        F.broadcast(mad), "event_type"
    )
    dev = F.col("cents").cast("double") * F.col("n") - F.col("s")
    z_flag = dev * dev > 9.0 * (
        F.col("ss").cast("double") * F.col("n")
        - F.col("s").cast("double") * F.col("s")
    )
    iqr = F.col("q3") - F.col("q1")
    iqr_flag = (F.col("cents") < F.col("q1") - 1.5 * iqr) | (
        F.col("cents") > F.col("q3") + 1.5 * iqr
    )
    mad_flag = F.abs(F.col("cents") - F.col("med")) > 3.5 * 1.4826 * F.col("madv")
    flags = j.select(
        "event_type",
        z_flag.alias("z_flag"),
        iqr_flag.alias("iqr_flag"),
        mad_flag.alias("mad_flag"),
    )
    votes = (
        F.col("z_flag").cast("int")
        + F.col("iqr_flag").cast("int")
        + F.col("mad_flag").cast("int")
    )
    return (
        flags.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("z_flag").cast("long")).cast("long").alias("n_z"),
            F.sum(F.col("iqr_flag").cast("long")).cast("long").alias("n_iqr"),
            F.sum(F.col("mad_flag").cast("long")).cast("long").alias("n_mad"),
            F.sum((votes >= 2).cast("long")).cast("long").alias("n_ensemble"),
        )
        .transform(order_bounded, "event_type")
    )


_BFPP_M = 1 << 16  # bits
_BFPP_K = 3
_BFPP_A, _BFPP_B, _BFPP_C = 2654435761, 40503, 1000003


def _bfpp_pos_sql(key: str, i: int) -> str:
    return f"(({key} * ({_BFPP_A} + {i} * {_BFPP_B}) + {_BFPP_C} * {i}) % {_BFPP_M})"


@query(
    "profile_bloom_fpp_calibration",
    oracle=f"""
    WITH build AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0),
    probe AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 1),
    pos AS (
      SELECT DISTINCT p FROM (
        {" UNION ALL ".join(f"SELECT {_bfpp_pos_sql('k', i)} AS p FROM build" for i in range(_BFPP_K))}
      )
    ),
    words AS (
      SELECT p // 63 AS word, CAST(bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS BIGINT) AS bits
      FROM pos GROUP BY word
    ),
    pp AS (
      SELECT k, unnest([{", ".join(_bfpp_pos_sql('k', i) for i in range(_BFPP_K))}]) AS p
      FROM probe
    ),
    sat AS (
      SELECT pp.k,
             CAST(SUM(CASE WHEN w.bits IS NOT NULL
                       AND (w.bits & (1::BIGINT << CAST(pp.p % 63 AS INTEGER))) <> 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS ok
      FROM pp LEFT JOIN words w ON w.word = pp.p // 63
      GROUP BY pp.k
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM build) AS n_keys,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probes,
             (SELECT CAST(SUM(CASE WHEN ok = {_BFPP_K} THEN 1 ELSE 0 END) AS BIGINT)
              FROM sat) AS n_hits
    )
    SELECT n_keys, n_probes, n_hits,
           CAST(n_hits AS DOUBLE) / n_probes AS measured_fpp,
           POW(1.0 - EXP(-{_BFPP_K}.0 * n_keys / {_BFPP_M}.0), {_BFPP_K}.0)
             AS fpp_theory,
           CAST(ABS(CAST(n_hits AS DOUBLE) / n_probes
                    - POW(1.0 - EXP(-{_BFPP_K}.0 * n_keys / {_BFPP_M}.0),
                          {_BFPP_K}.0))
                < 4.0 * SQRT(POW(1.0 - EXP(-{_BFPP_K}.0 * n_keys / {_BFPP_M}.0),
                                 {_BFPP_K}.0) / n_probes) + 0.003
                AS BOOLEAN) AS within_tolerance
    FROM m
    """,
    tags=("profile", "bloom", "calibration", "sketch"),
)
def profile_bloom_fpp_calibration(spark, sf_dir):
    """Bloom-filter false-positive calibration — measure the REAL FPP
    of an {_BFPP_M}-bit, k={_BFPP_K} filter against the textbook
    prediction (1−e^(−kn/m))^k, the `dedup_lsh_recall_report` pattern
    applied to the bloom family: build from the even customer keys,
    probe with the DISJOINT odd keys (every hit is by construction a
    false positive), report measured vs theoretical rate and a
    binomial-tolerance verdict. This is the sizing audit a 100 TB
    deployment runs before trusting `join_bloom_prefilter`'s m/k
    choice on its key distribution — mixes that interact badly with
    the key structure show up HERE, not in production.

    Portability tier: positions come from multiplicative-affine mixes
    (exact integer arithmetic both engines), the declared portable
    twin of the prod filter's xxhash64 probes — same tier split as
    `dedup_minhash_lsh` vs `_prod`. Bitmap build is a ≤1,041-row
    63-bit-word bit_or aggregate (bit 63 avoided: DuckDB checks shift
    overflow where the JVM wraps); probes LEFT-join that bounded word relation;
    the verdict is one deterministic double chain.

    Scale: build-side positions are map-side; the word relation is
    8 KiB regardless of n; probe cost is 3 integer mixes + a
    broadcast-sized join per key."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    build = c.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("k")
    )
    probe = c.filter(F.col("c_custkey") % 2 == 1).select(
        F.col("c_custkey").alias("k")
    )

    def pos_col(i):
        return F.pmod(
            F.col("k") * (_BFPP_A + i * _BFPP_B) + _BFPP_C * i, F.lit(_BFPP_M)
        )

    pos = (
        build.select(
            F.explode(F.array(*[pos_col(i) for i in range(_BFPP_K)])).alias("p")
        )
        .distinct()
    )
    words = pos.select(
        F.expr("p div 63").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 63) AS INT))").alias(
            "bit"
        ),
    ).groupBy("word").agg(F.bit_or("bit").alias("bits"))
    pp = probe.select(
        "k", F.explode(F.array(*[pos_col(i) for i in range(_BFPP_K)])).alias("p")
    )
    sat = (
        pp.join(F.broadcast(words), F.expr("p div 63") == F.col("word"), "left")
        .select(
            "k",
            (
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 63) AS INT))")
                    )
                    != 0
                )
            )
            .cast("long")
            .alias("ok"),
        )
        .groupBy("k")
        .agg(F.sum("ok").alias("oks"))
    )
    n_keys = build.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    n_probes = probe.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
    n_hits = sat.agg(
        F.sum((F.col("oks") == _BFPP_K).cast("long")).cast("long").alias("n_hits")
    )
    theory = F.pow(
        1.0 - F.exp(-float(_BFPP_K) * F.col("n_keys") / float(_BFPP_M)),
        float(_BFPP_K),
    )
    measured = F.col("n_hits").cast("double") / F.col("n_probes")
    return (
        n_keys.crossJoin(F.broadcast(n_probes))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_keys",
            "n_probes",
            "n_hits",
            measured.alias("measured_fpp"),
            theory.alias("fpp_theory"),
            (
                F.abs(measured - theory)
                < 4.0 * F.sqrt(theory / F.col("n_probes")) + 0.003
            ).alias("within_tolerance"),
        )
    )


@query(
    "ds_mood_median_test",
    oracle=f"""
    WITH base AS (
      SELECT event_type, {sql_units("value", 2)} AS cents
      FROM events
    ),
    gm AS (SELECT quantile_cont(cents, 0.50) AS med FROM base),
    cls AS (
      SELECT b.event_type,
             CAST(SUM(CASE WHEN b.cents > gm.med THEN 1 ELSE 0 END) AS BIGINT)
               AS n_above,
             CAST(SUM(CASE WHEN b.cents < gm.med THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below
      FROM base b, gm GROUP BY b.event_type
    ),
    tot AS (
      SELECT CAST(SUM(n_above) AS BIGINT) AS ta,
             CAST(SUM(n_below) AS BIGINT) AS tb,
             CAST(SUM(n_above + n_below) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cls
    ),
    chi AS (
      SELECT CAST(SUM(
               {sql_units(
                  "(n_above - CAST((n_above + n_below) AS DOUBLE) * ta / n)"
                  " * (n_above - CAST((n_above + n_below) AS DOUBLE) * ta / n)"
                  " / (CAST((n_above + n_below) AS DOUBLE) * ta / n)", 9)}
               + {sql_units(
                  "(n_below - CAST((n_above + n_below) AS DOUBLE) * tb / n)"
                  " * (n_below - CAST((n_above + n_below) AS DOUBLE) * tb / n)"
                  " / (CAST((n_above + n_below) AS DOUBLE) * tb / n)", 9)}
             ) AS BIGINT) AS chi_fp
      FROM cls, tot
    )
    SELECT c.event_type, c.n_above, c.n_below, gm.med AS grand_median,
           CAST(chi.chi_fp AS DOUBLE) / 1e9 AS chi2,
           CAST(t.k - 1 AS BIGINT) AS df,
           CAST(CAST(chi.chi_fp AS DOUBLE) / 1e9 >
                CASE CAST(t.k - 1 AS INTEGER)
                  WHEN 1 THEN 3.841 WHEN 2 THEN 5.991
                  WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 END
                AS BOOLEAN) AS significant_95
    FROM cls c, gm, chi, tot t
    ORDER BY c.event_type
    """,
    tags=("analytics", "experiment", "nonparametric", "median"),
)
def ds_mood_median_test(spark, sf_dir):
    """Mood's median test — the coarsest, most robust k-sample
    location test (companion to `ds_kruskal_wallis`: uses only
    above/below the GRAND median, so single wild outliers carry no
    leverage): classify every event against the corpus median, build
    the 2×k contingency, and chi-square it with median-split expected
    counts. Values equal to the median drop, per the textbook
    procedure (and deterministically — cents are exact integers, the
    interpolated median is the same double in both engines via the
    `agg_percentiles` pinned equivalence).

    Exactness: cell counts are exact longs; each (o−e)²/e term is one
    identical double chain landed in ×1e9 fixed-point before the
    k-term sum (order-free); df = k−1 (both margins fixed), critical
    value from the pinned CASE map.

    Scale: one global percentile + one grouped conditional count over
    the scan; everything downstream is ≤k rows."""
    base = t(spark, sf_dir, "events").select(
        "event_type", units("value", 2).alias("cents")
    )
    gm = base.agg(F.expr("percentile(cents, 0.50)").alias("med"))
    cls = (
        base.crossJoin(F.broadcast(gm))
        .groupBy("event_type")
        .agg(
            F.sum((F.col("cents") > F.col("med")).cast("long"))
            .cast("long")
            .alias("n_above"),
            F.sum((F.col("cents") < F.col("med")).cast("long"))
            .cast("long")
            .alias("n_below"),
        )
    )
    tot = cls.agg(
        F.sum("n_above").cast("long").alias("ta"),
        F.sum("n_below").cast("long").alias("tb"),
        F.sum(F.col("n_above") + F.col("n_below")).cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    row_t = (F.col("n_above") + F.col("n_below")).cast("double")
    ea = row_t * F.col("ta") / F.col("n")
    eb = row_t * F.col("tb") / F.col("n")
    term = (
        units((F.col("n_above") - ea) * (F.col("n_above") - ea) / ea, 9)
        + units((F.col("n_below") - eb) * (F.col("n_below") - eb) / eb, 9)
    )
    chi = (
        cls.crossJoin(F.broadcast(tot))
        .agg(F.sum(term).cast("long").alias("chi_fp"))
    )
    return (
        cls.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(chi))
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_above",
            "n_below",
            F.col("med").alias("grand_median"),
            (F.col("chi_fp").cast("double") / 1e9).alias("chi2"),
            (F.col("k") - 1).cast("long").alias("df"),
            (
                F.col("chi_fp").cast("double") / 1e9
                > F.expr(
                    "CASE CAST(k - 1 AS INT) WHEN 1 THEN 3.841 WHEN 2 THEN 5.991"
                    " WHEN 3 THEN 7.815 WHEN 4 THEN 9.488 END"
                )
            ).alias("significant_95"),
        )
        .orderBy("event_type")
    )


@query(
    "profile_simpson_paradox",
    oracle="""
    WITH base AS (
      SELECT o_orderstatus AS seg,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp,
             CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    cells AS (
      SELECT seg, grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM base GROUP BY seg, grp
    ),
    per_seg AS (
      SELECT seg,
             MAX(CASE WHEN grp = 1 THEN pos END) AS p1,
             MAX(CASE WHEN grp = 1 THEN n END) AS n1,
             MAX(CASE WHEN grp = 0 THEN pos END) AS p0,
             MAX(CASE WHEN grp = 0 THEN n END) AS n0
      FROM cells GROUP BY seg
    ),
    pooled AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN pos ELSE 0 END) AS BIGINT) AS p1,
             CAST(SUM(CASE WHEN grp = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN pos ELSE 0 END) AS BIGINT) AS p0,
             CAST(SUM(CASE WHEN grp = 0 THEN n ELSE 0 END) AS BIGINT) AS n0
      FROM cells
    ),
    seg_rows AS (
      SELECT s.seg,
             CAST(s.p1 AS DOUBLE) / s.n1 AS rate_treated,
             CAST(s.p0 AS DOUBLE) / s.n0 AS rate_control,
             CAST(SIGN(s.p1 * s.n0 - s.p0 * s.n1) AS BIGINT) AS seg_sign,
             CAST(SIGN(pl.p1 * pl.n0 - pl.p0 * pl.n1) AS BIGINT) AS pooled_sign
      FROM per_seg s, pooled pl
    )
    SELECT seg, rate_treated, rate_control, seg_sign, pooled_sign,
           CAST(seg_sign <> 0 AND pooled_sign <> 0
                AND seg_sign <> pooled_sign AS BOOLEAN) AS reverses_pooled
    FROM seg_rows
    ORDER BY seg
    """,
    tags=("profile", "causal", "simpson", "audit"),
)
def profile_simpson_paradox(spark, sf_dir):
    """Simpson's-paradox audit: does the pooled association between a
    'treatment' (urgent/high priority) and an outcome (large order)
    REVERSE inside any segment (order status)? The classic aggregation
    trap every metrics review must check before acting on a pooled
    rate — a segment whose sign contradicts the pooled sign means the
    segment mix, not the treatment, drives the headline number (the
    audit-side companion of `ds_diff_in_diff`/`ds_coarsened_exact_matching`,
    which *correct* for it).

    Determinism: every direction is the SIGN of an integer
    cross-product p₁n₀ − p₀n₁ — no float rate is ever compared; the
    emitted rates are raw divisions for human reading only. Zero
    margins yield sign 0 (no verdict), identically in both engines.

    Scale: one partial-merged (segment, group) cell aggregate; the
    verdict relation is ≤|segments| rows under a one-row pooled
    broadcast."""
    o = t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderstatus").alias("seg"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("grp"),
        (F.col("o_totalprice") > 150000).cast("long").alias("y"),
    )
    cells = base.groupBy("seg", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    per_seg = cells.groupBy("seg").agg(
        F.max(F.when(F.col("grp") == 1, F.col("pos"))).alias("p1"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 0, F.col("pos"))).alias("p0"),
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
    )
    pooled = cells.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("pos")).otherwise(0))
        .cast("long")
        .alias("pp1"),
        F.sum(F.when(F.col("grp") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("pn1"),
        F.sum(F.when(F.col("grp") == 0, F.col("pos")).otherwise(0))
        .cast("long")
        .alias("pp0"),
        F.sum(F.when(F.col("grp") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("pn0"),
    )
    seg_sign = F.signum(
        (F.col("p1") * F.col("n0") - F.col("p0") * F.col("n1")).cast("double")
    ).cast("long")
    pooled_sign = F.signum(
        (F.col("pp1") * F.col("pn0") - F.col("pp0") * F.col("pn1")).cast("double")
    ).cast("long")
    return (
        per_seg.crossJoin(F.broadcast(pooled))
        .select(
            "seg",
            (F.col("p1").cast("double") / F.col("n1")).alias("rate_treated"),
            (F.col("p0").cast("double") / F.col("n0")).alias("rate_control"),
            seg_sign.alias("seg_sign"),
            pooled_sign.alias("pooled_sign"),
            (
                (seg_sign != 0) & (pooled_sign != 0) & (seg_sign != pooled_sign)
            ).alias("reverses_pooled"),
        )
        .orderBy("seg")
    )


@query(
    "profile_row_width_budget",
    oracle="""
    SELECT 'documents' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(8 + 8 AS BIGINT) AS fixed_bytes,
           CAST(SUM(octet_length(encode(text)) + octet_length(encode(lang))
                    + octet_length(encode(source))) AS BIGINT) AS var_bytes,
           CAST((8 + 8) * COUNT(*)
                + SUM(octet_length(encode(text)) + octet_length(encode(lang))
                      + octet_length(encode(source))) AS BIGINT) AS est_bytes,
           CAST(((8 + 8) * COUNT(*)
                 + SUM(octet_length(encode(text)) + octet_length(encode(lang))
                       + octet_length(encode(source)))) // COUNT(*) AS BIGINT)
             AS avg_row_bytes
    FROM documents
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT),
           CAST(8 + 8 + 8 + 8 AS BIGINT),
           CAST(SUM(octet_length(encode(event_type))
                    + octet_length(encode(props))) AS BIGINT),
           CAST((8 + 8 + 8 + 8) * COUNT(*)
                + SUM(octet_length(encode(event_type))
                      + octet_length(encode(props))) AS BIGINT),
           CAST(((8 + 8 + 8 + 8) * COUNT(*)
                 + SUM(octet_length(encode(event_type))
                       + octet_length(encode(props)))) // COUNT(*) AS BIGINT)
    FROM events
    ORDER BY tbl
    """,
    tags=("profile", "sizing", "capacity"),
)
def profile_row_width_budget(spark, sf_dir):
    """Row-width budget — the shuffle/memory sizing profile capacity
    planning needs BEFORE running a 100 TB job: per table, exact
    fixed-width bytes (8 per long/double/timestamp column) plus
    measured variable-width bytes (UTF-8 octet lengths of every
    string column), total estimated in-flight bytes and average row
    width. This is the number that sizes
    `spark.sql.shuffle.partitions` and `maxPartitionBytes` (rows ×
    width / target-partition-size), and the audit that catches a
    props column silently growing 10× after an upstream change — the
    capacity sibling of `profile_partition_skew`.

    Exactness: octet_length of UTF-8 bytes is an exact integer in
    both engines (Spark `octet_length` ≡ DuckDB over encode());
    everything is exact longs with one integer division for the
    average.

    Scale: pure map-side length arithmetic + one partial-merged
    aggregate per table; at 100 TB this is a metadata-cheap full
    scan or a sampled one (hash-gate the scan with the
    `sample_hash_bernoulli` machinery for a 1% estimate)."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "events")
    doc_fixed = 8 + 8  # doc_id, n_chars
    doc_var = (
        F.octet_length("text") + F.octet_length("lang") + F.octet_length("source")
    )
    ev_fixed = 8 + 8 + 8 + 8  # event_id, ts, user_id, value
    ev_var = F.octet_length("event_type") + F.octet_length("props")

    def budget(df, name, fixed, var):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(var).cast("long").alias("var_bytes"),
        ).select(
            F.lit(name).alias("tbl"),
            "n_rows",
            F.lit(fixed).cast("long").alias("fixed_bytes"),
            "var_bytes",
            (F.lit(fixed) * F.col("n_rows") + F.col("var_bytes"))
            .cast("long")
            .alias("est_bytes"),
            F.expr(f"({fixed} * n_rows + var_bytes) div n_rows")
            .cast("long")
            .alias("avg_row_bytes"),
        )

    return budget(d, "documents", doc_fixed, doc_var).unionAll(
        budget(e, "events", ev_fixed, ev_var)
    ).orderBy("tbl")


@query(
    "ds_ratio_metric_delta_method",
    oracle=f"""
    WITH per AS (
      SELECT user_id,
             CASE WHEN (user_id * {_MIX}) % 100 < 50 THEN 0 ELSE 1 END AS v,
             {sql_fixed("value", 2)} AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM per GROUP BY v
    ),
    s AS (
      SELECT v, n, sx, sy,
             CAST(sx AS DOUBLE) / sy AS r,
             ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              + (CAST(sx AS DOUBLE) / sy) * (CAST(sx AS DOUBLE) / sy)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
              - 2.0 * (CAST(sx AS DOUBLE) / sy)
                * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n))
             / (n - 1.0) / n
             / ((CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n)) AS var_r
      FROM m
    ),
    w AS (
      SELECT MAX(CASE WHEN v = 0 THEN n END) AS n_a,
             MAX(CASE WHEN v = 1 THEN n END) AS n_b,
             MAX(CASE WHEN v = 0 THEN r END) AS ratio_a,
             MAX(CASE WHEN v = 1 THEN r END) AS ratio_b,
             MAX(CASE WHEN v = 0 THEN var_r END) AS va,
             MAX(CASE WHEN v = 1 THEN var_r END) AS vb
      FROM s
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ratio_a, ratio_b, ratio_b - ratio_a AS diff,
           SQRT(va + vb) AS se_diff,
           ROUND((ratio_b - ratio_a) / SQRT(va + vb), 8) AS z_stat,
           CAST(ABS((ratio_b - ratio_a) / SQRT(va + vb)) > 1.96 AS BOOLEAN)
             AS significant_95
    FROM w
    """,
    tags=("analytics", "experiment", "ratio-metric", "delta-method"),
)
def ds_ratio_metric_delta_method(spark, sf_dir):
    """Delta-method inference for a RATIO metric (revenue per event,
    Σx/Σy per variant) — the experimentation readout `ds_ab_welch_ttest`
    cannot give: a ratio of per-user sums is NOT a mean of iid
    observations (users contribute unequal denominators), so its
    variance needs the delta method over the per-user (x, y) pairs:
    var(R) ≈ (sₓₓ + R²s_yy − 2R·s_xy) / (n·ȳ²) with user-level
    (co)variances. Treating the ratio as a plain mean understates the
    variance — the classic false-positive factory this operator
    exists to prevent.

    Determinism: user-level moments are exact (decimal/HUGEINT second
    moments); R, var(R), and z are single identical IEEE chains over
    those integers, z rounded 1e-8.

    Scale: one per-user partial aggregate, one ≤2-row variant moment
    relation; the fact table is read once."""
    e = t(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        fixed("value", 2).alias("x"),
        F.count(F.lit(1)).cast("long").alias("y"),
    ).select(
        F.when((F.col("user_id") * _MIX) % 100 < 50, 0).otherwise(1).alias("v"),
        "x",
        "y",
    )
    m = per.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    r = sx / F.col("sy")
    var_r = (
        (
            (F.col("sxx").cast("double") - sx * F.col("sx") / F.col("n"))
            + r * r * (F.col("syy").cast("double") - sy * F.col("sy") / F.col("n"))
            - 2.0 * r * (F.col("sxy").cast("double") - sx * F.col("sy") / F.col("n"))
        )
        / (n - 1.0)
        / n
        / ((sy / n) * (sy / n))
    )
    s = m.select("v", "n", r.alias("r"), var_r.alias("var_r"))
    w = s.agg(
        F.max(F.when(F.col("v") == 0, F.col("n"))).cast("long").alias("n_a"),
        F.max(F.when(F.col("v") == 1, F.col("n"))).cast("long").alias("n_b"),
        F.max(F.when(F.col("v") == 0, F.col("r"))).alias("ratio_a"),
        F.max(F.when(F.col("v") == 1, F.col("r"))).alias("ratio_b"),
        F.max(F.when(F.col("v") == 0, F.col("var_r"))).alias("va"),
        F.max(F.when(F.col("v") == 1, F.col("var_r"))).alias("vb"),
    )
    diff = F.col("ratio_b") - F.col("ratio_a")
    se = F.sqrt(F.col("va") + F.col("vb"))
    return w.select(
        "n_a",
        "n_b",
        "ratio_a",
        "ratio_b",
        diff.alias("diff"),
        se.alias("se_diff"),
        F.round(diff / se, 8).alias("z_stat"),
        (F.abs(diff / se) > 1.96).alias("significant_95"),
    )


from hadoop_fs_ceph_spark.operators.text import BPE_DOC_TOKENS_CTES as _BPE_CTES


@query(
    "sample_token_budget_mix_bpe",
    oracle=f"""
    WITH {_BPE_CTES},
    toks AS (
      SELECT d.doc_id, d.lang, b.n_tokens_bpe AS n_tok
      FROM documents d JOIN bpe_doc b USING (doc_id)
    ),
    by_lang AS (
      SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS tok_avail FROM toks GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(tok_avail) AS BIGINT) AS tot FROM by_lang),
    rates AS (
      SELECT lang, tok_avail,
             CAST(floor(least(1.0, {_MIX_BUDGET} * tot * ({_SQL_MIX_W}) / tok_avail)
                        * 10000) AS BIGINT) AS keep_bp
      FROM by_lang CROSS JOIN tot
    )
    SELECT r.lang, r.tok_avail, r.keep_bp,
           CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept
    FROM toks t JOIN rates r ON t.lang = r.lang
    WHERE (t.doc_id * {_MIX}) % 10000 < r.keep_bp
    GROUP BY r.lang, r.tok_avail, r.keep_bp
    ORDER BY r.lang
    """,
    tags=("sample", "mixture", "token-budget", "bpe", "preprocessing"),
)
def sample_token_budget_mix_bpe(spark, sf_dir):
    """`sample_token_budget_mix` metered in REAL tokenizer tokens
    (round 12, VERDICT r11 item 5): per-document counts come from the
    trained-and-applied BPE pipeline (`text.bpe_doc_tokens` — learned
    merge table, greedy fold apply, character fallback for
    out-of-range words) instead of the whitespace proxy, which is what
    an actual pretraining budget meters — languages whose words
    compress differently under the shared merge table get genuinely
    different token budgets than the whitespace count implies. Keep
    rates, the deterministic doc_id hash gate, and the basis-point
    publication are unchanged from the whitespace form, so the two
    queries differ ONLY in the token meter — diffing their keep_bp
    columns is the audit a data-mixing team would run before switching
    tokenizers.

    Scale shape: the BPE working set + training rounds as
    `bpe_doc_tokens` (corpus collapses once to distinct words); the
    budget arithmetic is the 5-row rate relation; the keep gate stays
    a map-side scalar predicate on doc_id."""
    from hadoop_fs_ceph_spark.operators.text import bpe_doc_tokens  # cycle-safe

    d = t(spark, sf_dir, "documents")
    per_doc, _ = bpe_doc_tokens(spark, sf_dir)
    toks = d.select("doc_id", "lang").join(per_doc, "doc_id").select(
        "doc_id", "lang", F.col("n_tokens_bpe").alias("n_tok")
    )
    by_lang = toks.groupBy("lang").agg(F.sum("n_tok").cast("long").alias("tok_avail"))
    tot = by_lang.agg(F.sum("tok_avail").cast("long").alias("tot"))
    w_expr = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _MIX_W.items()]
    )
    rates = by_lang.join(F.broadcast(tot)).select(
        "lang",
        "tok_avail",
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(_MIX_BUDGET) * F.col("tot") * w_expr / F.col("tok_avail"),
            )
            * 10000
        ).cast("long").alias("keep_bp"),
    )
    return (
        toks.join(rates, "lang")
        .filter(F.pmod(F.col("doc_id") * _MIX, F.lit(10000)) < F.col("keep_bp"))
        .groupBy("lang", "tok_avail", "keep_bp")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .transform(order_bounded, "lang")
    )


_TEMP_BUDGET = 0.5  # fraction of the corpus token count the mix may keep


@query(
    "sample_temperature_mix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, chr(32))) AS BIGINT) AS n_tok
      FROM documents
    ),
    by_src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tok_avail,
             CAST(floor(sqrt(CAST(SUM(n_tok) AS BIGINT)) * 1000) AS BIGINT) AS q
      FROM toks GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(tok_avail) AS BIGINT) AS tot,
             CAST(SUM(q) AS BIGINT) AS s
      FROM by_src
    ),
    rates AS (
      SELECT source, tok_avail,
             CAST(floor(q * 10000.0 / s) AS BIGINT) AS w_bp,
             CAST(floor(least(1.0, ({_TEMP_BUDGET} * tot * q)
                                   / (CAST(s AS DOUBLE) * tok_avail))
                        * 10000) AS BIGINT) AS keep_bp
      FROM by_src CROSS JOIN tot
    )
    SELECT r.source, r.tok_avail, r.w_bp, r.keep_bp,
           CAST(COUNT(*) AS BIGINT) AS docs_kept,
           CAST(SUM(t.n_tok) AS BIGINT) AS tokens_kept
    FROM toks t JOIN rates r ON t.source = r.source
    WHERE (t.doc_id * {_MIX}) % 10000 < r.keep_bp
    GROUP BY r.source, r.tok_avail, r.w_bp, r.keep_bp
    ORDER BY r.source
    """,
    tags=("sample", "mixture", "temperature", "token-budget", "preprocessing"),
)
def sample_temperature_mix(spark, sf_dir):
    """Temperature-sampled domain mixture — the standard multilingual /
    multi-source pretraining mixing rule (target weight ∝ share^α with
    α = 1/T < 1, the formulation published with XLM-R and mT5): unlike
    `sample_token_budget_mix`, whose target weights are a FIXED config,
    here the weights are COMPUTED from the corpus itself — each source's
    token share is raised to α = 0.5 and renormalized, flattening the
    source distribution so head domains are downsampled toward the tail
    and low-resource domains keep a larger share than their raw mass.
    Since share_d^α / Σ share_e^α = tok_d^α / Σ tok_e^α, the
    normalization never needs the raw shares — one pass computes both
    the budget total and the weight denominator. Keep rates clamp at 1
    (a tail source is never upsampled past itself) and the sample is
    realized with the family's deterministic multiplicative-hash gate
    on doc_id, reproducible on any engine and partitioning.

    Cross-engine determinism: the weight numerator is quantized to an
    INTEGER q = floor(sqrt(tok_avail)·1000) before the normalizing sum,
    so the denominator is an order-free integer sum — a float Σ√tok
    would depend on reduce order across 1000 executors and could flip a
    basis-point floor at a boundary. sqrt/·/÷ are IEEE correctly-rounded
    in both engines, so every published bp matches the oracle exactly.

    Scale shape: per-source totals are one partial-merge aggregate over
    the |sources|-row key; the (tot, s) pair is a one-row broadcast
    (allowlisted) into the |sources|-row rate relation; the keep gate is
    a map-side scalar predicate; the corpus never shuffles
    un-aggregated."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    by_src = (
        toks.groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("tok_avail"))
        .select(
            "source",
            "tok_avail",
            F.floor(F.sqrt("tok_avail") * 1000).cast("long").alias("q"),
        )
    )
    tot = by_src.agg(
        F.sum("tok_avail").cast("long").alias("tot"),
        F.sum("q").cast("long").alias("s"),
    )
    rates = by_src.join(F.broadcast(tot)).select(
        "source",
        "tok_avail",
        F.floor(F.col("q") * 10000.0 / F.col("s")).cast("long").alias("w_bp"),
        F.floor(
            F.least(
                F.lit(1.0),
                (F.lit(_TEMP_BUDGET) * F.col("tot") * F.col("q"))
                / (F.col("s").cast("double") * F.col("tok_avail")),
            )
            * 10000
        ).cast("long").alias("keep_bp"),
    )
    return (
        toks.join(rates, "source")
        .filter(F.pmod(F.col("doc_id") * _MIX, F.lit(10000)) < F.col("keep_bp"))
        .groupBy("source", "tok_avail", "w_bp", "keep_bp")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .transform(order_bounded, "source")
    )
