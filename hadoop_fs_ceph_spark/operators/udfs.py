"""UDF surface: scalar Python UDF, vectorized pandas UDF, grouped-agg
pandas UDF, applyInPandas (grouped map), mapInPandas.

Policy (SURVEY.md §7 phase 3): built-ins first — everything here is also
expressible as column expressions, and the oracles prove the UDFs compute
exactly that. UDFs exist as *declared surface* for logic Spark lacks.
Everything is Arrow-batched (pandas UDFs) except the one deliberate
row-at-a-time scalar UDF that documents the slow path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType

from hadoop_fs_ceph_spark.canonical import sql_fixed, sql_units, units
from hadoop_fs_ceph_spark.functions.similarity import sql_cosine
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import t

_SQL_COS_EQ = sql_cosine("e.embedding", "q.qe")


@query(
    "udf_scalar_python",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                WHEN o_orderpriority = '2-HIGH' THEN 2
                WHEN o_orderpriority = '3-MEDIUM' THEN 3
                WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 4
                ELSE 5 END AS priority_class
    FROM orders WHERE o_orderkey % 20 = 9
    """,
    tags=("udf",),
)
def udf_scalar_python(spark, sf_dir):
    """Row-at-a-time Python UDF (the documented slow path: one Python
    round-trip per row; compare udf_pandas_vectorized)."""
    ranks = {"1-URGENT": 1, "2-HIGH": 2, "3-MEDIUM": 3, "4-NOT SPECIFIED": 4}

    @F.udf(returnType=IntegerType())
    def priority_class(p: str) -> int:
        return ranks.get(p, 5)

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 9)
    return o.select("o_orderkey", "o_orderpriority", priority_class("o_orderpriority").alias("priority_class"))


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge
    FROM lineitem WHERE l_orderkey % 30 = 5
    """,
    tags=("udf", "pandas"),
)
def udf_pandas_vectorized(spark, sf_dir):
    """Arrow-batched pandas UDF (Series→Series): vectorized numpy ops on
    whole columns; per-row IEEE arithmetic is still bit-deterministic."""

    @F.pandas_udf(DoubleType())
    def charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
        return price * (1 - disc) * (1 + tax)

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 30 == 5)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


@query(
    "udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS weighted_avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("udf", "pandas", "aggregate"),
)
def udf_grouped_agg(spark, sf_dir):
    """Grouped-aggregate pandas UDF: weighted mean per group. Rounded at
    1e-6 because pandas uses pairwise summation vs the oracle's sequential
    sum (≈1e-10 relative divergence)."""

    @F.pandas_udf(DoubleType())
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(weighted_avg("l_extendedprice", "l_quantity"), 6).alias("weighted_avg_price")
    )


@query(
    "udf_apply_in_pandas",
    oracle="""
    SELECT user_id, event_id,
           ROUND((value - AVG(value) OVER (PARTITION BY user_id))
                 / STDDEV_SAMP(value) OVER (PARTITION BY user_id), 6) AS z_score
    FROM events
    """,
    tags=("udf", "pandas", "grouped_map"),
)
def udf_apply_in_pandas(spark, sf_dir):
    """Grouped-map applyInPandas: per-user z-score normalization — the
    'custom per-group computation' surface. Rounded at 1e-6 to absorb
    pandas-vs-SQL moment-algorithm divergence (~1e-13)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "z_score": ((pdf["value"] - mu) / sd).round(6),
            }
        )

    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").applyInPandas(
        zscore, schema="user_id bigint, event_id bigint, z_score double"
    )


@query(
    "udf_map_in_pandas",
    oracle="""
    SELECT event_id, user_id, value * 1.1 AS boosted
    FROM events WHERE event_type = 'purchase'
    """,
    tags=("udf", "pandas", "map"),
)
def udf_map_in_pandas(spark, sf_dir):
    """mapInPandas: streaming per-batch transform (filter + project) —
    the UDTF-like surface; batch boundaries don't affect the result."""

    def boost(batches):
        for pdf in batches:
            hit = pdf[pdf["event_type"] == "purchase"]
            yield pd.DataFrame(
                {
                    "event_id": hit["event_id"],
                    "user_id": hit["user_id"],
                    "boosted": hit["value"] * 1.1,
                }
            )

    e = t(spark, sf_dir, "events")
    return e.mapInPandas(boost, schema="event_id bigint, user_id bigint, boosted double")


@query(
    "udf_arrow_optimized",
    oracle="""
    SELECT o_orderkey,
           FLOOR((o_totalprice * 1.0825) * 100.0 + 0.5) / 100.0 AS with_tax
    FROM orders WHERE o_orderkey % 13 = 4
    """,
    tags=("udf", "arrow"),
)
def udf_arrow_optimized(spark, sf_dir):
    """Arrow-optimized Python UDF (useArrow=True): scalar signature,
    Arrow-batched transport — Spark 3.5+'s cheap upgrade for existing
    row-style UDFs that can't be rewritten as pandas UDFs. Rounding is
    floor(x+0.5) because Python's round() is half-EVEN while SQL ROUND
    is half-away — floor is the portable spelling."""
    import math

    from pyspark.sql.functions import udf

    @udf("double", useArrow=True)
    def with_tax(price: float) -> float:
        return math.floor((price * 1.0825) * 100.0 + 0.5) / 100.0

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 4)
    return o.select("o_orderkey", with_tax("o_totalprice").alias("with_tax"))


@query(
    "udf_pandas_iterator",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) AS BIGINT) AS net_cents
    FROM lineitem WHERE l_orderkey % 40 = 11
    """,
    tags=("udf", "pandas", "iterator"),
)
def udf_pandas_iterator(spark, sf_dir):
    """Iterator-of-series pandas UDF: amortizes expensive per-worker
    setup (model load, dictionary mmap) across ALL batches of a
    partition — the signature that matters when the UDF carries weights.
    The \"expensive state\" here is just a constant, but the plumbing
    (one init per worker, then per-batch vectorized work) is the real
    shape."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _net_cents(batches):
        import numpy as np

        scale = 100.0  # stands in for per-worker loaded state
        for prices in batches:
            # floor(x+0.5), not .round(): numpy/pandas round half-EVEN,
            # SQL ROUND half-away — floor is the portable spelling
            yield pd.Series(np.floor(prices * scale + 0.5).astype("int64"))

    # real annotation objects (this module stringifies inline annotations
    # via `from __future__ import annotations`, which pandas_udf rejects)
    _net_cents.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    net_cents = pandas_udf(_net_cents, "long")

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 40 == 11)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey", "l_linenumber", net_cents(net).alias("net_cents")
    )


@query(
    "udf_map_in_arrow",
    oracle=f"""
    SELECT event_id,
           {sql_units("value", 2)} AS cents,
           length(event_type) AS type_len
    FROM events WHERE event_type IN ('purchase', 'signup')
    """,
    tags=("udf", "arrow", "native"),
)
def udf_map_in_arrow(spark, sf_dir):
    """mapInArrow: the zero-copy tier below mapInPandas — batches arrive
    as pyarrow.RecordBatch and never materialize a pandas frame, so
    there is no index/dtype conversion tax (the pandas layer costs
    ~2× on wide batches). The transform runs entirely in Arrow
    compute kernels (filter mask, round, cast, utf8_length) — columnar
    vectorized C++, same execution model as the JVM side. This is the
    surface for high-throughput byte/tensor pipelines where even
    pandas overhead matters."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def to_cents(batches):
        for batch in batches:
            tbl = pa.table(batch)
            mask = pc.is_in(tbl["event_type"], value_set=pa.array(["purchase", "signup"]))
            tbl = tbl.filter(mask)
            yield pa.RecordBatch.from_arrays(
                [
                    tbl["event_id"].combine_chunks(),
                    pc.cast(pc.round(pc.multiply(tbl["value"], 100.0)), pa.int64())
                    .combine_chunks(),
                    pc.cast(pc.utf8_length(tbl["event_type"]), pa.int64())
                    .combine_chunks(),
                ],
                names=["event_id", "cents", "type_len"],
            )

    e = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return e.mapInArrow(to_cents, schema="event_id bigint, cents bigint, type_len bigint")


@query(
    "udf_apply_in_arrow",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           {sql_fixed("c_acctbal", 2)}
             AS balance_cents,
           CAST(MAX({sql_units("c_acctbal", 2)}) AS BIGINT)
             AS max_cents
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("udf", "arrow", "grouped"),
)
def udf_apply_in_arrow(spark, sf_dir):
    """applyInArrow: grouped-map over pyarrow.Table per group key —
    the Arrow-native sibling of applyInPandas. Each market segment
    arrives as one Arrow table; the reduction (exact fixed-point
    cents: round → int64 cast → sum/max) runs in Arrow C++ kernels
    with no pandas materialization. The shuffle is the groupBy hash
    partitioning; per-group memory is the group's Arrow buffer, which
    is why production groups this by bounded keys (segments), never
    high-cardinality ones."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def seg_stats(key, table):
        cents = pc.cast(pc.round(pc.multiply(table["c_acctbal"], 100.0)), pa.int64())
        return pa.Table.from_pydict(
            {
                "c_mktsegment": [key[0].as_py()],
                "n": [table.num_rows],
                "balance_cents": [pc.sum(cents).as_py()],
                "max_cents": [pc.max(cents).as_py()],
            }
        )

    c = t(spark, sf_dir, "customer").select("c_mktsegment", "c_acctbal")
    return (
        c.groupBy("c_mktsegment")
        .applyInArrow(
            seg_stats,
            schema="c_mktsegment string, n bigint, balance_cents bigint, max_cents bigint",
        )
        .orderBy("c_mktsegment")
    )


@query(
    "udf_vectorized_cosine_knn",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_SQL_COS_EQ}, 8) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("udf", "pandas", "similarity", "knn"),
)
def udf_vectorized_cosine_knn(spark, sf_dir):
    """Arrow-vectorized pandas-UDF twin of `sim_knn_bruteforce`: the
    same brute-force cosine top-10, but scored by a numpy batch kernel
    instead of JVM higher-order folds — the declared pattern for vector
    math Spark's built-ins genuinely can't express (learned scoring
    functions, quantized dot products, custom metrics). Batches cross
    the JVM->Python boundary once per Arrow batch (never per row);
    numpy reduces each batch in C.

    numpy's pairwise-blocked summation orders float adds differently
    from the oracle's sequential fold, so scores round at 1e-8 on BOTH
    sides before ranking — the documented parity posture for any python
    kernel (built-in fold twins need no tolerance at all; that contrast
    is the point of keeping both queries). Top-10 remains
    TakeOrderedAndProject."""
    import numpy as np

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))

    @F.pandas_udf(DoubleType())
    def batch_cosine(emb: pd.Series, qe: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy())
        qv = np.asarray(qe.iloc[0], dtype=np.float64)
        m = m.astype(np.float64)
        sims = (m @ qv) / (np.linalg.norm(m, axis=1) * np.linalg.norm(qv))
        return pd.Series(np.round(sims, 8))

    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", batch_cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "udf_cogrouped_asof",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('click', 'purchase')
    ), carried AS (
      SELECT *,
             LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event_id
      FROM tagged
    )
    SELECT event_id AS purchase_event_id, user_id, click_event_id
    FROM carried WHERE kind = 1
    """,
    tags=("udf", "cogroup", "pandas", "asof"),
)
def udf_cogrouped_asof(spark, sf_dir):
    """Cogrouped ``applyInPandas`` — the last piece of the grouped-UDF
    surface: two DataFrames cogrouped on a key, each group pair handed
    to one pandas function (here ``pd.merge_asof``, the canonical
    cogroup use case: per-user as-of alignment of two event streams).
    Its answer must equal the pure-DataFrame union-and-carry as-of
    (`join_asof_event`) — same oracle — which is exactly the policy of
    this family: the UDF surface exists for logic Spark lacks, and its
    correctness is proven by a built-in twin.

    Scale shape: cogroup shuffles both sides on user_id once; each
    Arrow batch holds ONE user's clicks + purchases (bounded per-user
    streams), and pandas does per-group work only. Ties (same-ts
    click/purchase) follow the twin's click-first rule via the
    direction='backward' inclusive match on a stable sort."""
    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    # NB: the two cogroup sides must not share non-key column names —
    # Spark's attribute dedup silently drops same-named columns from the
    # right-side Arrow batch (verified empirically on 4.1)
    buys = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("b_ts"), F.col("event_id").alias("b_event_id")
    )

    def asof(clk: pd.DataFrame, buy: pd.DataFrame) -> pd.DataFrame:
        if buy.empty:
            return pd.DataFrame(
                columns=["purchase_event_id", "user_id", "click_event_id"]
            )
        buy = buy.sort_values(["b_ts", "b_event_id"]).reset_index(drop=True)
        if clk.empty:
            out = buy[["b_event_id", "user_id"]].copy()
            out.columns = ["purchase_event_id", "user_id"]
            out["click_event_id"] = pd.array([None] * len(out), dtype="Int64")
            return out
        clk = clk.sort_values(["ts", "event_id"]).reset_index(drop=True)
        m = pd.merge_asof(
            buy.rename(columns={"b_ts": "ts"}),
            clk[["ts", "event_id"]].rename(columns={"event_id": "click_event_id"}),
            on="ts",
            direction="backward",
            allow_exact_matches=True,
        )
        out = m[["b_event_id", "user_id", "click_event_id"]].copy()
        out.columns = ["purchase_event_id", "user_id", "click_event_id"]
        out["click_event_id"] = out["click_event_id"].astype("Int64")
        return out

    return (
        clicks.groupBy("user_id")
        .cogroup(buys.groupBy("user_id"))
        .applyInPandas(
            asof, "purchase_event_id long, user_id long, click_event_id long"
        )
    )


@query(
    "udf_python_udtf",
    oracle="""
    WITH s AS (
      SELECT doc_id, unnest(string_split(text, chr(32))) AS tok,
             CAST(generate_subscripts(string_split(text, chr(32)), 1) - 1
                  AS INTEGER) AS pos
      FROM documents WHERE doc_id % 97 = 0
    )
    SELECT doc_id, pos, tok, CAST(length(tok) AS INTEGER) AS tok_len
    FROM s WHERE pos < 5
    ORDER BY doc_id, pos
    """,
    tags=("udf", "udtf", "python", "lateral"),
)
def udf_python_udtf(spark, sf_dir):
    """Python UDTF — the Spark 4 table-function API (`@udtf` class with
    an `eval` generator), registered and invoked through SQL as a
    LATERAL correlated table argument: each input row expands to a
    variable number of output rows with a declared schema, the surface
    for row-expanding logic (parsers, chunkers, tokenizers) that a
    scalar UDF cannot express. The demo emits each sampled document's
    first five tokens with positions and lengths; the oracle replicates
    it relationally, proving the UDTF computes exactly the declared
    expansion.

    Scale posture: a UDTF is Python-on-the-hot-path (BatchEvalPythonUDTF
    — allowlisted as declared surface like `udf_scalar_python`); the
    engine's production tokenization stays in built-in higher-order
    functions (`text.py`), and this operator exists to document the API
    with a bounded (doc_id % 97) sample."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, tok string, tok_len int")
    class FirstTokens:
        def eval(self, doc_id: int, text: str):
            for i, w in enumerate(text.split(" ")[:5]):
                yield doc_id, i, w, len(w)

    spark.udtf.register("first_tokens", FirstTokens)
    t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.pos, s.tok, s.tok_len
        FROM udtf_docs d, LATERAL first_tokens(d.doc_id, d.text) s
        WHERE d.doc_id % 97 = 0
        ORDER BY s.doc_id, s.pos
        """
    )


@query(
    "udf_grouped_ols_fit",
    oracle=f"""
    WITH x AS (
      SELECT c.c_mktsegment AS segment,
             CAST(datediff('day', DATE '1992-01-01', CAST(o.o_orderdate AS DATE))
                  AS BIGINT) AS days,
             {sql_units("o.o_totalprice", 2)} AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (
      SELECT segment,
             CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(days) AS HUGEINT) AS sx,
             CAST(SUM(cents) AS HUGEINT) AS sy,
             SUM(CAST(days AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxy,
             SUM(CAST(days AS HUGEINT) * CAST(days AS HUGEINT)) AS sxx
      FROM x GROUP BY segment
    )
    SELECT segment, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents
    FROM m
    ORDER BY segment
    """,
    tags=("udf", "grouped-map", "training", "regression"),
)
def udf_grouped_ols_fit(spark, sf_dir):
    """Per-group model TRAINING via ``applyInPandas`` — closed-form OLS
    (order value vs. calendar day) fit independently per market segment:
    the grouped-training shape of a feature pipeline (one model per
    entity/segment), where Spark shuffles each group to one worker and
    the Python worker fits it in a single Arrow batch. The fit itself
    accumulates EXACT integer moments (Python ints — unbounded, so
    Σdays·cents cannot overflow, unlike a naive float sum) and converts
    to float only at the final slope/intercept divisions — mirrored
    literally by the oracle's HUGEINT moments, so the coefficients are
    bit-identical with no tolerance.

    Scale: one shuffle on the group key; per-group state is five ints
    regardless of group size. A group too large for one Arrow batch
    degrades gracefully — the moments are associative, so the same fit
    runs as a plain groupBy aggregate (see `ds_theilsen_trend` for the
    robust alternative); applyInPandas is used here deliberately to
    exercise the grouped-training surface."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("days"),
        units("o_totalprice", 2).alias("cents"),
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        days = [int(v) for v in pdf["days"]]
        cents = [int(v) for v in pdf["cents"]]
        n = len(days)
        sx = sum(days)
        sy = sum(cents)
        sxy = sum(a * b for a, b in zip(days, cents))
        sxx = sum(a * a for a in days)
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        intercept = (float(sy) - slope * float(sx)) / float(n)
        return pd.DataFrame(
            {
                "segment": [pdf["segment"].iloc[0]],
                "n": [n],
                "slope_cents_per_day": [slope],
                "intercept_cents": [intercept],
            }
        )

    return (
        x.groupBy("segment")
        .applyInPandas(
            fit,
            "segment string, n long, slope_cents_per_day double, intercept_cents double",
        )
        .orderBy("segment")
    )


@query(
    "udf_python_udtf_arrow",
    oracle="""
    WITH s AS (
      SELECT doc_id, unnest(string_split(text, chr(32))) AS tok,
             CAST(generate_subscripts(string_split(text, chr(32)), 1) - 1
                  AS INTEGER) AS pos
      FROM documents WHERE doc_id % 101 = 0
    )
    SELECT doc_id, pos, tok, CAST(length(tok) AS INTEGER) AS tok_len
    FROM s WHERE pos < 4
    ORDER BY doc_id, pos
    """,
    tags=("udf", "udtf", "python", "arrow"),
)
def udf_python_udtf_arrow(spark, sf_dir):
    """ARROW-optimized Python UDTF (`@udtf(..., useArrow=True)`) — the
    same table-function surface as `udf_python_udtf`, executed through
    Arrow column batches instead of pickled rows (physical node
    ArrowEvalPythonUDTF vs BatchEvalPythonUDTF): rows cross the Python
    boundary in vectorized batches, the 10-100× transfer-cost lever
    the pandas-UDF family documents, now applied to row-EXPANDING
    logic. Same declared-surface posture: production chunkers stay in
    built-in higher-order functions; this row pins the Arrow execution
    path with a bounded (doc_id % 101) sample and a relational
    oracle."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, pos int, tok string, tok_len int", useArrow=True)
    class FirstTokensArrow:
        def eval(self, doc_id: int, text: str):
            for i, w in enumerate(text.split(" ")[:4]):
                yield doc_id, i, w, len(w)

    spark.udtf.register("first_tokens_arrow", FirstTokensArrow)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") % 101 == 0).createOrReplaceTempView(
        "docs_sample_arrow"
    )
    return spark.sql(
        """
        SELECT f.doc_id, f.pos, f.tok, f.tok_len
        FROM docs_sample_arrow d,
             LATERAL first_tokens_arrow(d.doc_id, d.text) f
        ORDER BY f.doc_id, f.pos
        """
    )
