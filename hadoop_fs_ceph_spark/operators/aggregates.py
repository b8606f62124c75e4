"""Aggregation family: multi-key + HAVING, distinct, rollup/cube/grouping
sets, statistical moments, weighted stats, percentiles, ordered collect
and listagg, boolean and bitwise folds, min_by/max_by, approximate distinct.

All shuffles here carry only the group keys (partial aggregation is
map-side); rollup/cube expand rows *after* partial aggregation in Spark's
expand operator, so the shuffle stays proportional to the grouped data.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import (
    davg,
    dstddev_samp,
    dsum,
    dvar_samp,
    fixed,
    fixsum,
    sql_davg,
    sql_dstddev_samp,
    sql_dsum,
    sql_dvar_samp,
    sql_fixed,
    sql_fixsum,
    sql_units,
    units,
)
from hadoop_fs_ceph_spark.operators.ranking import (
    _MED_PASSES,
    _conc_customer_cents,
    _quantiles_refine,
    _ranked_nosort,
)
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t


@query(
    "agg_multikey_having",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')},
           {sql_davg('o_totalprice', 'avg_price')},
           MIN(o_orderdate) AS first_order,
           MAX(o_orderdate) AS last_order
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    HAVING COUNT(*) > 5
    ORDER BY o_orderstatus, o_orderpriority
    """,
    tags=("aggregate",),
)
def agg_multikey_having(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_price"),
            davg("o_totalprice", "avg_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .filter(F.col("n_orders") > 5)
        .transform(order_bounded, "o_orderstatus", "o_orderpriority")
    )


@query(
    "agg_count_distinct",
    oracle="""
    SELECT c_nationkey,
           COUNT(*) AS n_cust,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("aggregate", "distinct"),
)
def agg_count_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) — Spark plans this as a two-phase expand +
    aggregate; the shuffle carries (group key, distinct value) pairs."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.countDistinct("c_mktsegment").alias("n_segments"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n_rows,
           {sql_dsum('l_quantity', 'sum_qty')}
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("aggregate", "rollup"),
)
def agg_rollup(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity", "sum_qty"),
    )


@query(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("aggregate", "cube"),
)
def agg_cube(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", "sum_price"),
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_shipdate,
           GROUPING(l_returnflag, l_shipdate) AS gid,
           {sql_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
    GROUP BY GROUPING SETS ((l_returnflag), (l_shipdate), ())
    """,
    tags=("aggregate", "rollup"),
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS via the SQL surface (DataFrame rollup/cube
    are special cases; arbitrary sets are a SQL-level feature)."""
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_shipdate,
               grouping_id(l_returnflag, l_shipdate) AS gid,
               {sql_fixsum("l_extendedprice", 6)} AS sum_price
        FROM gs_lineitem
        WHERE l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
        GROUP BY GROUPING SETS ((l_returnflag), (l_shipdate), ())
        """
    )


@query(
    "agg_stats_moments",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_davg('c_acctbal', 'avg_bal')},
           {sql_dstddev_samp('c_acctbal', 'stddev_bal')},
           {sql_dvar_samp('c_acctbal', 'var_bal')},
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("aggregate", "stats"),
)
def agg_stats_moments(spark, sf_dir):
    """stddev/variance from deterministic fixed-point moments (see
    canonical.py; engine-native stddev differs across engines in the last
    bits because of accumulation order)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        davg("c_acctbal", "avg_bal"),
        dstddev_samp("c_acctbal", "stddev_bal"),
        dvar_samp("c_acctbal", "var_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.max("c_acctbal").alias("max_bal"),
    )


@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q25,
           ROUND(quantile_cont(l_quantity, 0.50), 6) AS median,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS q75
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("aggregate", "percentile"),
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``), rounded to absorb interpolation-formula ulps."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 6).alias("median"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 6).alias("q75"),
    )


@query(
    "agg_collect_sorted",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments
    FROM customer
    GROUP BY c_nationkey
    """,
    tags=("aggregate", "collect"),
)
def agg_collect_sorted(spark, sf_dir):
    """collect_set + sort, emitted as a joined string (canonical,
    order-stable representation for cross-engine comparison)."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments")
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderstatus,
           max_by(o_orderkey, o_totalprice) AS priciest_order,
           min_by(o_orderkey, o_totalprice) AS cheapest_order,
           MAX(o_totalprice) AS max_price,
           MIN(o_totalprice) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("aggregate",),
)
def agg_min_max_by(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@query(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_tolerance
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("aggregate", "approx"),
)
def agg_approx_count_distinct(spark, sf_dir):
    """HyperLogLog++ distinct estimate — the 100 TB path for distinct
    counting (constant memory per group vs expand+shuffle for exact).

    Driver-checkable shape: the query computes BOTH the HLL++ estimate
    and the exact distinct in one pass and emits the exact count plus a
    ``within_tolerance`` verdict (rsd=0.02 declared; 3σ bound = 6%), so
    the deterministic columns hash-match the oracle while the
    approximate value is tolerance-verified rather than value-matched.
    At production scale only the approx aggregate runs (the exact branch
    here IS the verification harness). Also tolerance-checked in
    tests/test_approx.py.

    Plan shape: the fact collapses to DISTINCT (flag, orderkey) pairs
    first — a codegen HashAggregate with map-side partials — and both
    aggregates run over the distinct relation: the exact count is a
    plain COUNT(*), and HLL++ registers are max-folds over per-value
    hashes, so feeding each value once yields bit-identical registers
    (duplicate-insensitive by construction). This removes the mixed
    distinct/non-distinct Expand AND keeps the row-heavy stage out of
    the codegen-less ObjectHashAggregate the imperative HLL forces
    (measured 3.15 -> 0.88 s at sf0.1, identical output)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("exact_orders"),
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        )
        .select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= F.greatest(F.col("exact_orders") * 0.06, F.lit(2.0))
            ).alias("within_tolerance"),
        )
        .transform(order_bounded, "l_returnflag")
    )


@query(
    "agg_salted_skew",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n,
           {sql_fixed("value", 2)} AS sum_cents
    FROM events
    GROUP BY event_type
    """,
    tags=("aggregate", "skew", "salt"),
)
def agg_salted_skew(spark, sf_dir):
    """Salted two-stage aggregation for skewed keys: events has only 5
    event_type values, so a naive groupBy sends each key's entire volume
    to one reducer. Stage 1 aggregates on (event_type, salt16) — 16-way
    fan-out per hot key; stage 2 re-aggregates the 16 partials per key.
    Partial aggregates are exact (counts + pre-scaled integer cents), so
    the result is bit-identical to the unsalted plan the oracle runs.

    At 100 TB this is the pattern for heavy-hitter keys that AQE's
    skew-join splitting doesn't cover (it handles joins, not
    aggregations); map-side partial aggregation already mitigates — the
    salt guarantees bounded reducer input regardless of key skew."""
    e = t(spark, sf_dir, "events")
    salted = (
        e.withColumn("salt", (F.col("event_id") % 16).cast("int"))
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            fixed("value", 2).alias("psum"),
        )
    )
    return salted.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.sum("psum").alias("sum_cents"),
    )


@query(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           TRUE AS within_tolerance
    FROM orders
    """,
    tags=("aggregate", "approx", "sketch"),
)
def agg_hll_sketch_merge(spark, sf_dir):
    """Mergeable HLL sketches (Apache DataSketches): per-status customer
    sketches unioned into a global distinct estimate — the two-level
    pattern for distributed distinct at scale: partial sketches are tiny,
    exact-mergeable, and reusable across rollup levels (unlike an exact
    countDistinct, which needs the full key shuffle every time).

    Driver-checkable shape: emits the exact global distinct plus a
    ``within_tolerance`` verdict on the merged-sketch estimate (lgK=12
    default → ~1.6% rsd; 5% bound), so deterministic columns hash-match
    the oracle while the sketch value is tolerance-verified. The exact
    branch exists for verification; production runs only the sketches.
    Also tolerance-checked in tests/test_approx.py."""
    o = t(spark, sf_dir, "orders")
    per_status = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg(F.col("o_custkey").cast("string")).alias("sk"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    merged = per_status.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_customers"),
        F.sum("n_rows").alias("total_rows"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_customers"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "exact_customers",
        "total_rows",
        (
            F.abs(F.col("distinct_customers") - F.col("exact_customers"))
            <= F.greatest(F.col("exact_customers") * 0.05, F.lit(2.0))
        ).alias("within_tolerance"),
    )


@query(
    "agg_corr_bivariate",
    oracle=f"""
    SELECT l_returnflag,
           ((n * sxy - sx * sy)
            / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))) AS corr_qty_price,
           ((n * sxy - sx * sy) / (n * sxx - sx * sx)) AS slope_price_per_qty
    FROM (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {sql_fixsum('l_quantity', 6)} AS sx,
             {sql_fixsum('l_extendedprice', 2)} AS sy,
             {sql_fixsum('l_quantity * l_quantity', 6)} AS sxx,
             {sql_fixsum('l_extendedprice * l_extendedprice', 2)} AS syy,
             {sql_fixsum('l_quantity * l_extendedprice', 2)} AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "statistics", "corr"),
)
def agg_corr_bivariate(spark, sf_dir):
    """Pearson correlation + OLS slope between quantity and price per
    return flag, built from fixed-point first/second moments instead of
    the engines' native ``corr``/``regr_slope`` (whose running-update
    accumulation is order-dependent and diverges across engines). The
    five sums are exact integers at declared precision; the corr/slope
    formulas are then scalar double ops — bit-identical. Second-moment
    scale drops to 10^-2 so price² stays far from int64 overflow at any
    tested SF (headroom documented in canonical.py)."""
    li = t(spark, sf_dir, "lineitem")

    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        fixsum(q, 6).alias("sx"),
        fixsum(p, 2).alias("sy"),
        fixsum(q * q, 6).alias("sxx"),
        fixsum(p * p, 2).alias("syy"),
        fixsum(q * p, 2).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        "l_returnflag",
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "corr_qty_price"
        ),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("slope_price_per_qty"),
    ).transform(order_bounded, "l_returnflag")


@query(
    "agg_histogram_fixed",
    oracle="""
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    )
    SELECT LEAST(9, CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 10.0)) AS BIGINT))
             AS bucket,
           COUNT(*) AS n
    FROM orders, bounds
    GROUP BY bucket
    ORDER BY bucket
    """,
    tags=("aggregate", "histogram", "profiling"),
)
def agg_histogram_fixed(spark, sf_dir):
    """Equal-width 10-bucket histogram of order value — the data-profiling
    primitive. Min/max come from one scalar aggregate broadcast into the
    binning pass (two scans, no driver round-trip); each row's bucket is
    pure arithmetic on exact per-row doubles (MIN/MAX are
    order-independent, so the bounds — and hence every bucket edge — are
    bit-identical across engines); the top edge folds into the last
    bucket. Two map-side-combined shuffles total at any scale."""
    o = t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(9),
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / 10.0)
                ),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(order_bounded, "bucket")
    )


@query(
    "agg_percent_of_total",
    oracle=f"""
    WITH per_nation AS (
      SELECT n.n_name, {sql_dsum("o.o_totalprice", "revenue", 2)}
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name, revenue,
           revenue / (CAST(SUM({sql_units("revenue", 2)}) OVER () AS DOUBLE) / 100.0) AS share,
           RANK() OVER (ORDER BY revenue DESC) AS rev_rank
    FROM per_nation
    ORDER BY rev_rank, n_name
    """,
    tags=("aggregate", "ratio-to-report", "window-over-aggregate"),
)
def agg_percent_of_total(spark, sf_dir):
    """Ratio-to-report: each nation's share of global revenue plus its
    rank — the window-over-aggregate reporting shape. The unpartitioned
    window is safe by construction: it runs over the PER-NATION
    aggregate (bounded by |nations|, not |orders|), after the facts were
    reduced by a hash aggregate behind two dimension joins (customer
    broadcast-joined at this size, shuffle-joined at 100 TB — either
    way the window input stays tiny). The share denominator re-enters
    the fixed-point domain (integer window sum of the scaled per-group
    revenues) because even 25 doubles sum order-dependently across
    engines; integer accumulation is order-free."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("o_totalprice", "revenue", 2))
    )
    w_all = Window.partitionBy()
    return (
        per_nation.select(
            "n_name",
            "revenue",
            (
                F.col("revenue") / (fixed("revenue", 2).over(w_all).cast("double") / 100.0)
            ).alias("share"),
            F.rank().over(Window.orderBy(F.col("revenue").desc())).alias("rev_rank"),
        )
        .orderBy("rev_rank", "n_name")
    )


@query(
    "agg_session_window_batch",
    oracle="""
    WITH flags AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM flags
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("aggregate", "session-window", "batch"),
    bench=True,
)
def agg_session_window_batch(spark, sf_dir):
    """The BUILT-IN session_window operator in batch mode: Spark's native
    gap-based session assignment (30-minute inactivity gap) as a groupBy
    key — no manual lag/flag/running-sum idiom (that formulation is
    win_sessionize; this is the engine operator that replaces it). The
    oracle IS that manual idiom, proving the built-in's session
    boundaries [start, last+gap) group exactly the rows the classic
    decomposition groups.

    Scale shape: one shuffle on user_id, then a per-partition merge of
    overlapping windows — the same plan the streaming twin
    (stream_session_window) runs with state instead of a sort. Note the
    built-in closes a session only after a FULL gap of silence (>= gap),
    matching the >= in the oracle's flag."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "agg_approx_quantiles_group",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS exact_median,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("aggregate", "approx", "percentile", "sketch"),
)
def agg_approx_quantiles_group(spark, sf_dir):
    """Per-GROUP sketch quantiles — the production path for percentile
    dashboards at 100 TB (a GK sketch per group merges across partitions
    in constant memory; exact quantiles need a per-group sort/expand).
    The query computes BOTH percentile_approx(p50, p90, accuracy=10000)
    and the exact percentiles in one pass and emits the exact median
    plus tolerance verdicts, the same driver-checkable shape as
    agg_approx_count_distinct and the equi-depth approx histogram: the
    deterministic columns hash-match the oracle, the sketch values are
    rank-error-verified (value-at-rank±n/10000 bracket) rather than
    bit-compared. At production scale only the approx branch runs."""
    o = t(spark, sf_dir, "orders")
    grouped = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("percentile(o_totalprice, 0.5)").alias("ex50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("ex90"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("ap50"),
        F.percentile_approx("o_totalprice", 0.9, 10000).alias("ap90"),
        # exact value brackets at rank ±2%: 200× the sketch's n/10000
        # rank-error guarantee, and wide enough that the sketch's
        # DISCRETE element answer sits inside the interpolated bracket
        # at small n (where one rank is >0.1% of the group)
        F.expr(
            "percentile(o_totalprice, array(0.48, 0.52, 0.88, 0.92))"
        ).alias("br"),
    )
    return (
        grouped.select(
            "o_orderpriority",
            "n",
            F.round(F.col("ex50"), 6).alias("exact_median"),
            ((F.col("ap50") >= F.element_at("br", 1)) & (F.col("ap50") <= F.element_at("br", 2))).alias("p50_ok"),
            ((F.col("ap90") >= F.element_at("br", 3)) & (F.col("ap90") <= F.element_at("br", 4))).alias("p90_ok"),
        )
        .transform(order_bounded, "o_orderpriority")
    )


# Count-min sketch geometry: d=4 hash rows x w=256 buckets. Same affine
# family as MinHash (fixed literals, exact integer arithmetic everywhere).
_CMS_D = 4
_CMS_W = 256
_CMS_P = 2_147_483_647
_CMS_A = (131, 137, 139, 149)
_CMS_B = (7, 11, 13, 17)


def _sql_cms_bucket(key: str, r: int) -> str:
    return f"(({key} * {_CMS_A[r]} + {_CMS_B[r]}) % {_CMS_P}) % {_CMS_W}"


@query(
    "agg_cms_heavy_hitters",
    oracle=f"""
    WITH rows_in AS (SELECT o_custkey AS k FROM orders),
    cells AS (
      SELECT r, bucket, COUNT(*) AS c FROM (
        {" UNION ALL ".join(f"SELECT {r} AS r, {_sql_cms_bucket('k', r)} AS bucket FROM rows_in" for r in range(_CMS_D))}
      ) GROUP BY r, bucket
    ),
    keys AS (SELECT k, COUNT(*) AS exact_count FROM rows_in GROUP BY k),
    probes AS (
      SELECT k, exact_count, r,
             CASE r {" ".join(f"WHEN {r} THEN {_sql_cms_bucket('k', r)}" for r in range(_CMS_D))} END AS bucket
      FROM keys, (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS r)
    ),
    est AS (
      SELECT p.k, p.exact_count, MIN(c.c) AS cms_est
      FROM probes p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
      GROUP BY p.k, p.exact_count
    ),
    n AS (SELECT COUNT(*) AS total FROM rows_in)
    SELECT k, cms_est, exact_count,
           CAST(cms_est >= exact_count AS BOOLEAN) AS never_undercounts,
           CAST(cms_est - exact_count <= 2.0 * total / {_CMS_W} AS BOOLEAN)
             AS within_bound
    FROM est, n
    ORDER BY cms_est DESC, k
    LIMIT 20
    """,
    tags=("aggregate", "sketch", "cms", "heavy-hitters"),
)
def agg_cms_heavy_hitters(spark, sf_dir):
    """Heavy hitters via a count-min sketch (d=4 x w=256), with the
    sketch's guarantees emitted as verdict columns: the estimate NEVER
    undercounts (each cell upper-bounds every key hashed into it), and
    overcounts by at most ~2N/w with high probability — checked here
    against the exact counts so the differential harness hash-verifies
    the probabilistic operator deterministically (the same exact+verdict
    pattern as the approx-distinct and sketch-quantile rows).

    Scale shape: the sketch build is the production path — a map-side
    d-row expansion folded into d x w = 1024 cells by partial-merged
    counts, CONSTANT state regardless of key cardinality (this is why a
    1000-executor topology can maintain it as a streaming accumulator).
    The probe stage joins each distinct key's d (row, bucket) probes to
    the 1024-cell relation (broadcast-sized by construction) and takes
    MIN over rows; top-20 is TakeOrderedAndProject. All arithmetic is
    exact integers — bit-identical cross-engine."""
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))

    def bucket(r: int, key="k"):
        return ((F.col(key) * _CMS_A[r] + _CMS_B[r]) % _CMS_P) % _CMS_W

    cells = (
        o.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                        for r in range(_CMS_D)
                    ]
                )
            ).alias("cell")
        )
        .select("cell.r", "cell.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keys = o.groupBy("k").agg(F.count(F.lit(1)).alias("exact_count"))
    probes = keys.select(
        "k",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(r).alias("r"), bucket(r).alias("bucket"))
                    for r in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("k", "exact_count", "p.r", "p.bucket")
    est = (
        probes.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("k", "exact_count")
        .agg(F.min("c").alias("cms_est"))
    )
    total = o.agg(F.count(F.lit(1)).alias("total"))
    return (
        est.join(F.broadcast(total))
        .select(
            "k",
            "cms_est",
            "exact_count",
            (F.col("cms_est") >= F.col("exact_count")).alias("never_undercounts"),
            (
                (F.col("cms_est") - F.col("exact_count"))
                <= 2.0 * F.col("total") / F.lit(_CMS_W)
            ).alias("within_bound"),
        )
        .orderBy(F.col("cms_est").desc(), "k")
        .limit(20)
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    WITH per AS (
      SELECT o_orderpriority AS pri,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
      FROM orders GROUP BY pri
    ),
    tot AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_union FROM orders)
    SELECT pri, n_distinct, n_union FROM per, tot ORDER BY pri
    """,
    tags=("aggregate", "bitmap", "distinct", "mergeable"),
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap aggregates (Spark's
    `bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count` surface) —
    the third distinct-counting tier alongside exact expand+shuffle
    (`agg_count_distinct`) and sketches (`agg_approx_count_distinct`):
    bitmaps are EXACT like the former and MERGEABLE like the latter.
    Each (group, 32k-key bucket) reduces to one bitmap; per-group
    distinct = sum of per-bucket popcounts, and the cross-group UNION
    distinct comes from OR-merging the same bitmaps — no re-scan,
    which is why warehouse rollups precompute bitmap columns per
    segment and answer any distinct-union question by OR + popcount.

    Keys shift by +1 because bit positions are 1-based (key 0 would
    vanish). The shuffle carries (group, bucket, 4 KB bitmap) — bounded
    by the key domain, not the row count. The oracle is plain exact
    COUNT(DISTINCT): bitmaps carry no approximation to tolerate."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"), (F.col("o_custkey") + 1).alias("k")
    )
    seg = o.groupBy(
        "pri", F.expr("bitmap_bucket_number(k)").alias("bkt")
    ).agg(F.expr("bitmap_construct_agg(bitmap_bit_position(k))").alias("bm"))
    per = seg.groupBy("pri").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct")
    )
    tot = (
        seg.groupBy("bkt")
        .agg(F.expr("bitmap_or_agg(bm)").alias("u"))
        .agg(F.sum(F.expr("bitmap_count(u)")).alias("n_union"))
    )
    return per.crossJoin(F.broadcast(tot)).orderBy("pri")


@query(
    "agg_exact_median_nosort",
    oracle=f"""
    WITH x AS (
      SELECT o_custkey,
             {sql_fixed("o_totalprice", 2)} AS cents
      FROM orders GROUP BY o_custkey
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM x)
    SELECT st.n, r.cents AS median_cents,
           CAST(r.cents AS DOUBLE) / 100.0 AS median_dollars,
           TRUE AS is_exact
    FROM r, st WHERE r.rn = (st.n + 1) // 2
    """,
    tags=("aggregate", "median", "exact", "no-sort", "iterative"),
)
def agg_exact_median_nosort(spark, sf_dir):
    """EXACT median with NO sort anywhere — the two-pass distributed-rank
    idea taken to its clean fixed-depth form: iterative histogram
    refinement. Pass i buckets the surviving value range into 4096
    integer sub-ranges (one map-side bucket id + one partial-merged
    count), a sequential fold over the collected ≤4096-row bucket array
    finds the bucket containing the target rank, and the narrowed
    (lo, hi, k) state broadcasts into the next pass as a one-row
    relation — three passes pin an integer domain of 4096³ ≈ 6.9e10 to a
    single value. Compare: exact `percentile`/`median` aggregates
    materialize every value in one aggregation buffer, and the
    rank-window formulation sorts the world through one task; this plan
    is three scans, each embarrassingly parallel with combiner-sized
    shuffles (≤4096 rows), and NOTHING passes through the driver — the
    state hops executor-to-executor as broadcast relations.

    The answer is the lower median (rank ⌈n/2⌉), exact integer cents;
    `is_exact` verifies the range actually collapsed to width 1 rather
    than trusting the domain bound. The per-customer input relation is
    persisted once and re-scanned per pass. This is exactly the 1-row
    case of the multi-quantile refiner (⌈n/2⌉ = ⌈50n/100⌉), so the
    delicate narrowing arithmetic lives in ONE place:
    ``_quantiles_refine``."""
    x = _conc_customer_cents(spark, sf_dir).persist()
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    states = base.selectExpr(
        "CAST(50 AS INT) AS pct", "lo", "hi", "(n * 50 + 99) div 100 AS k"
    )
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states)
    return (
        states.crossJoin(F.broadcast(base.select("n")))
        .select(
            "n",
            F.col("lo").alias("median_cents"),
            (F.col("lo").cast("double") / F.lit(100.0)).alias("median_dollars"),
            (F.col("hi") == F.col("lo")).alias("is_exact"),
        )
    )


_QNT_PCTS = (25, 50, 75, 99)


@query(
    "agg_exact_quantiles_nosort",
    oracle=f"""
    WITH x AS (
      SELECT o_custkey,
             {sql_fixed("o_totalprice", 2)} AS cents
      FROM orders GROUP BY o_custkey
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM x),
    ps AS (SELECT CAST(unnest([{", ".join(str(p) for p in _QNT_PCTS)}]) AS INTEGER) AS pct)
    SELECT ps.pct, st.n, r.cents AS value_cents,
           CAST(r.cents AS DOUBLE) / 100.0 AS value_dollars,
           TRUE AS is_exact
    FROM ps, st, r
    WHERE r.rn = (st.n * ps.pct + 99) // 100
    ORDER BY ps.pct
    """,
    tags=("aggregate", "quantile", "exact", "no-sort", "iterative"),
)
def agg_exact_quantiles_nosort(spark, sf_dir):
    """EXACT p25/p50/p75/p99 with NO sort — `agg_exact_median_nosort`'s
    histogram refinement generalized to a 4-row state RELATION: every
    pass scans the data once, bins each row against all four surviving
    ranges (4× map fan-out against a 4-row broadcast), and narrows all
    four (lo, hi, k) states simultaneously — exact multi-quantiles in 3
    shared passes instead of 3 passes per quantile or one world sort.
    Ranks are the discrete upper-rank convention k = ⌈pct·n/100⌉ in
    exact integer arithmetic; `is_exact` verifies each range collapsed
    to width 1. This is the shape a production profiler uses when the
    sketch tolerance of `percentile_approx` isn't acceptable (billing
    cutoffs, SLA percentiles) but sorting the corpus isn't either."""
    x = _conc_customer_cents(spark, sf_dir).persist()
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _QNT_PCTS])).alias("pct0")
    ).select(F.col("pct0").cast("int").alias("pct"))
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    states = pcts.crossJoin(F.broadcast(base)).selectExpr(
        "pct", "lo", "hi", "(n * pct + 99) div 100 AS k"
    )
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states)
    return (
        states.crossJoin(F.broadcast(base.select("n")))
        .select(
            "pct",
            "n",
            F.col("lo").alias("value_cents"),
            (F.col("lo").cast("double") / F.lit(100.0)).alias("value_dollars"),
            (F.col("hi") == F.col("lo")).alias("is_exact"),
        )
        .orderBy("pct")
    )


@query(
    "agg_exact_median_by_group_nosort",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             {sql_units("o_totalprice", 2)} AS cents
      FROM orders
    ),
    st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY grp),
    r AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn
      FROM x
    )
    SELECT st.grp, st.n, r.cents AS median_cents,
           CAST(r.cents AS DOUBLE) / 100.0 AS median_dollars,
           TRUE AS is_exact
    FROM r JOIN st USING (grp) WHERE r.rn = (st.n + 1) // 2
    ORDER BY grp
    """,
    tags=("aggregate", "median", "exact", "no-sort", "grouped"),
)
def agg_exact_median_by_group_nosort(spark, sf_dir):
    """Per-GROUP exact median with NO sort and NO per-group value
    buffering — the third face of the histogram-refinement machinery:
    the state relation carries one (lo, hi, k) row PER GROUP and each
    pass equi-joins every fact row to its own group's state (the
    refiner's keyed binding mode), so all groups narrow simultaneously
    in the same three data scans. Contrast the engine-native exact
    ``percentile``: an ObjectHashAggregate that materializes every
    group's full value list in one aggregation buffer — the thing that
    OOMs on a skewed group at 100 TB; here per-group state is three
    integers and the shuffle per pass is ≤ |groups|·4096 count rows.
    Raw per-order cents (no pre-aggregation) — the group medians are
    over the fact table itself. States broadcast while |groups| is
    bounded (5 priorities); an unbounded group key drops the broadcast
    hint and the same plan shuffle-joins."""
    o = t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("grp"),
        units("o_totalprice", 2).alias("cents"),
    ).persist()
    base = x.groupBy("grp").agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    states = base.selectExpr("grp", "lo", "hi", "(n + 1) div 2 AS k")
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states, key="grp")
    return (
        states.join(base.select("grp", "n"), "grp")
        .select(
            "grp",
            "n",
            F.col("lo").alias("median_cents"),
            (F.col("lo").cast("double") / F.lit(100.0)).alias("median_dollars"),
            (F.col("hi") == F.col("lo")).alias("is_exact"),
        )
        .orderBy("grp")
    )


@query(
    "agg_exact_weighted_median_nosort",
    oracle=f"""
    WITH x AS (
      SELECT {sql_units("l_extendedprice", 2)} AS cents,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ),
    st AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM x),
    g AS (SELECT cents, CAST(SUM(w) AS BIGINT) AS gw FROM x GROUP BY cents),
    r AS (SELECT cents, SUM(gw) OVER (ORDER BY cents) AS cw FROM g)
    SELECT st.tw AS total_weight, r.cents AS median_cents,
           CAST(r.cents AS DOUBLE) / 100.0 AS median_dollars,
           TRUE AS is_exact
    FROM st, r WHERE r.cw >= (st.tw + 1) // 2
    ORDER BY r.cents LIMIT 1
    """,
    tags=("aggregate", "median", "weighted", "exact", "no-sort", "iterative"),
)
def agg_exact_weighted_median_nosort(spark, sf_dir):
    """EXACT WEIGHTED median with NO sort — the histogram-refinement
    machinery's fourth face: buckets accumulate Σweight instead of
    COUNT (the refiner's ``weight`` binding), the target rank is the
    weighted rank k = ⌈W/2⌉ over total integer weight W, and the same
    three broadcast-state passes pin the smallest value whose
    cumulative weight crosses k. Here: the quantity-weighted median
    unit price over the FACT table — every shipped unit votes with its
    quantity, the statistic behind per-unit pricing SLAs — computed
    with per-pass shuffles of ≤4096 (bucket, Σweight) rows and zero
    driver state. Engine-native exact weighted percentiles buffer the
    full value list per aggregation buffer; a rank-window formulation
    sorts the fact table through one task; this does neither. Weighted
    rank semantics: ties merge their weight (the oracle groups equal
    values before the running sum), which the bucket accumulation
    reproduces by construction."""
    li = t(spark, sf_dir, "lineitem")
    x = li.select(
        units("l_extendedprice", 2).alias("cents"),
        F.col("l_quantity").cast("long").alias("w"),
    ).persist()
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.sum("w").alias("tw"),
    )
    states = base.selectExpr(
        "CAST(50 AS INT) AS pct", "lo", "hi", "(tw + 1) div 2 AS k"
    )
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states, weight="w")
    return states.crossJoin(F.broadcast(base.select("tw"))).select(
        F.col("tw").alias("total_weight"),
        F.col("lo").alias("median_cents"),
        (F.col("lo").cast("double") / F.lit(100.0)).alias("median_dollars"),
        (F.col("hi") == F.col("lo")).alias("is_exact"),
    )


@query(
    "agg_exact_quantiles_by_group_nosort",
    oracle=f"""
    WITH x AS (
      SELECT o_orderpriority AS grp,
             {sql_units("o_totalprice", 2)} AS cents
      FROM orders
    ),
    st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM x GROUP BY grp),
    r AS (
      SELECT grp, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn
      FROM x
    ),
    ps AS (SELECT CAST(unnest([25, 50, 75]) AS INTEGER) AS pct)
    SELECT st.grp, ps.pct, st.n, r.cents AS value_cents,
           CAST(r.cents AS DOUBLE) / 100.0 AS value_dollars,
           TRUE AS is_exact
    FROM ps, st, r
    WHERE r.grp = st.grp AND r.rn = (st.n * ps.pct + 99) // 100
    ORDER BY st.grp, ps.pct
    """,
    tags=("aggregate", "quantile", "exact", "no-sort", "grouped", "iterative"),
)
def agg_exact_quantiles_by_group_nosort(spark, sf_dir):
    """Per-GROUP exact MULTI-quantile (p25/p50/p75) with NO sort — the
    composite-state generalization the per-group median left open: the
    refinement state relation carries one (lo, hi, k) row per (group,
    pct) PAIR, keyed by the composite string grp:pct, and every fact row
    fans out once per requested percentile (a 3× map-side explode
    against a broadcast 3-row pct spine). All |groups|·|pcts| states
    then narrow simultaneously in the SAME three shared passes —
    per-pass shuffle is ≤ |groups|·|pcts|·4096 count rows, and the full
    per-group value lists that engine-native ``percentile`` would buffer
    (the skewed-group OOM at 100 TB) never materialize anywhere. Raw
    per-order cents span < 6.9e10 (the 3-pass reach; `is_exact`
    verifies collapse rather than trusting the bound). Upper-rank
    convention k = ⌈pct·n/100⌉ matches the whole exact family."""
    o = t(spark, sf_dir, "orders")
    x0 = o.select(
        F.col("o_orderpriority").alias("grp"),
        units("o_totalprice", 2).alias("cents"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in (25, 50, 75)])).alias("pct0")
    ).select(F.col("pct0").cast("int").alias("pct"))
    x9 = (
        x0.crossJoin(F.broadcast(pcts))
        .select(
            F.concat_ws(":", "grp", "pct").alias("skey"), "grp", "pct", "cents"
        )
        .persist()
    )
    base = x9.groupBy("skey").agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.first("grp").alias("grp"),
        F.first("pct").alias("pct"),
    )
    states = base.selectExpr("skey", "lo", "hi", "(n * pct + 99) div 100 AS k")
    x = x9.select("skey", "cents")
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states, key="skey")
    return (
        states.join(base.select("skey", "grp", "pct", "n"), "skey")
        .select(
            "grp",
            "pct",
            "n",
            F.col("lo").alias("value_cents"),
            (F.col("lo").cast("double") / F.lit(100.0)).alias("value_dollars"),
            (F.col("hi") == F.col("lo")).alias("is_exact"),
        )
        .orderBy("grp", "pct")
    )


@query(
    "agg_approx_topk_sketch",
    oracle="""
    SELECT event_type AS item, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, item
    """,
    tags=("aggregate", "sketch", "top-k", "approx"),
)
def agg_approx_topk_sketch(spark, sf_dir):
    """Engine-native frequent-items sketch — Spark 4's ``approx_top_k``
    (the third heavy-hitter tier beside the hand-built count-min of
    `agg_cms_heavy_hitters` and exact groupBy counts): one mergeable
    sketch aggregate replaces the full (key → count) shuffle. Declared
    here in its exactness-by-construction regime — k exceeds the
    column's distinct count and every item fits the tracked set, so the
    sketch's counts ARE the exact counts and the output hash-matches
    the plain GROUP BY oracle after an explicit (count, item) re-sort
    (the sketch's internal tie order is not a contract). Production
    points the same call at genuinely high-cardinality columns, where
    the guarantees degrade to frequency estimates like any
    space-saving sketch."""
    e = t(spark, sf_dir, "events")
    one = e.agg(F.expr("approx_top_k(event_type, 8)").alias("tk"))
    return (
        one.select(F.explode("tk").alias("x"))
        .select(
            F.col("x.item").alias("item"), F.col("x.count").cast("long").alias("n")
        )
        .orderBy(F.col("n").desc(), "item")
    )


_INC_CUTOVER = "2024-01-21"


@query(
    "agg_incremental_rollup",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_fixed("value", 6)} AS v6,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("aggregate", "incremental", "mergeable", "bitmap"),
)
def agg_incremental_rollup(spark, sf_dir):
    """INCREMENTAL rollup maintenance ≡ full recompute, proven by the
    oracle: the corpus splits at a cutover instant into a BASE slice
    (the materialized rollup a nightly job already holds) and a DELTA
    slice (today's arrivals); each side reduces independently to
    per-(type, user-bucket) mergeable partial states — count, exact
    fixed-point sum, and a BITMAP of user ids (`bitmap_construct_agg`,
    the exact-AND-mergeable distinct tier `agg_bitmap_distinct` pins) —
    and the maintained rollup is the MERGE of the two partial sets
    (sums add, bitmaps OR), never a re-scan of base. The oracle is the
    flat full-corpus aggregate with true COUNT(DISTINCT): hash-match
    IS the merge-correctness proof, including the non-additive
    distinct (users active in both slices counted once — the exact
    failure a naive additive rollup ships).

    Scale shape: this is the maintenance loop of every 100 TB serving
    rollup — delta-sized work per refresh, partial states bounded by
    (types × user-buckets × 4 KB), one merge shuffle. The cutover
    split here is a filter on one corpus for oracle parity; production
    reads base states from the rollup table."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        (F.col("user_id") + 1).alias("k"),
        units("value", 6).alias("v6"),
    )

    def partials(df):
        return df.groupBy(
            "event_type", F.expr("bitmap_bucket_number(k)").alias("bkt")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v6").alias("s"),
            F.expr("bitmap_construct_agg(bitmap_bit_position(k))").alias("bm"),
        )

    cut = F.lit(_INC_CUTOVER).cast("timestamp")
    base = partials(e.filter(F.col("ts") < cut))
    delta = partials(e.filter(F.col("ts") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type", "bkt")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.expr("bitmap_or_agg(bm)").alias("bm"),
        )
    )
    return (
        merged.groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("v6"),
            F.sum(F.expr("bitmap_count(bm)")).alias("n_users"),
        )
        .transform(order_bounded, "event_type")
    )


_SK_PCTS = (50, 90)
_SK_ACC = 1000  # percentile_approx accuracy: rank error <= n / accuracy


@query(
    "agg_quantile_sketch_error",
    oracle=f"""
    WITH x AS (
      SELECT o_custkey,
             {sql_fixed("o_totalprice", 2)} AS cents
      FROM orders GROUP BY o_custkey
    ),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn FROM x),
    ps AS (SELECT CAST(unnest([{", ".join(str(p) for p in _SK_PCTS)}]) AS INTEGER) AS pct)
    SELECT ps.pct, st.n, r.cents AS exact_cents,
           CAST(r.cents AS DOUBLE) / 100.0 AS exact_dollars,
           TRUE AS approx_within_bound
    FROM ps, st, r
    WHERE r.rn = (st.n * ps.pct + 99) // 100
    ORDER BY ps.pct
    """,
    tags=("aggregate", "quantile", "sketch", "calibration"),
)
def agg_quantile_sketch_error(spark, sf_dir):
    """Quantile-SKETCH error calibration — the evidence pass that lets a
    pipeline trust `percentile_approx` at 100 TB: for p50/p90 over the
    per-customer spend population, run BOTH the GK sketch
    (accuracy=`_SK_ACC` ⇒ guaranteed rank error ≤ n/accuracy) and the
    exact histogram-refinement quantile, then verify the sketch's
    answer sits within its contractual rank window (±⌈n/accuracy⌉ rows)
    by counting ranks of the returned value (one extra aggregate — not
    a sort). The emitted
    verdict is TRUE by the sketch's published guarantee, so the oracle
    pins it as a literal; the approx VALUE itself is engine-specific
    sketch state and deliberately not emitted (same posture as
    `dedup_lsh_recall_report` / `sim_ann_recall_report`: calibration
    queries emit verdicts and exact truths, not sketch internals).

    Scale: the sketch is one map-combined aggregate (mergeable GK
    state, O(accuracy·log n) per partition); the exact side is the
    3-pass refinement (`agg_exact_quantiles_nosort`); the rank count is
    one more map-combined aggregate against a 2-row broadcast. No
    sort, no window, no driver state anywhere."""
    x = _conc_customer_cents(spark, sf_dir).persist()
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    pcts = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _SK_PCTS])).alias("pct0")
    ).select(F.col("pct0").cast("int").alias("pct"))
    states = pcts.crossJoin(F.broadcast(base)).selectExpr(
        "pct", "lo", "hi", "(n * pct + 99) div 100 AS k"
    )
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states)
    exact = states.select("pct", F.col("lo").alias("exact_cents"))
    # the sketch answers, one row per pct
    approx = (
        x.agg(
            F.percentile_approx(
                "cents", [p / 100.0 for p in _SK_PCTS], _SK_ACC
            ).alias("avs")
        )
        .select(
            F.posexplode("avs").alias("i", "av"),
        )
        .select(
            F.element_at(
                F.array(*[F.lit(p) for p in _SK_PCTS]), F.col("i") + 1
            ).cast("int").alias("pct"),
            "av",
        )
    )
    # rank window of each sketch answer: [count_lt + 1, count_le]
    ranks = (
        x.crossJoin(F.broadcast(approx))
        .groupBy("pct")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("av"), 1).otherwise(0))
            .cast("long")
            .alias("count_le"),
            F.sum(F.when(F.col("cents") < F.col("av"), 1).otherwise(0))
            .cast("long")
            .alias("count_lt"),
        )
    )
    return (
        exact.join(ranks, "pct")
        .crossJoin(F.broadcast(base.select("n")))
        .selectExpr(
            "pct",
            "n",
            "exact_cents",
            "CAST(exact_cents AS DOUBLE) / 100.0 AS exact_dollars",
            f"(count_le >= ((n * pct + 99) div 100) - ((n + {_SK_ACC} - 1) div {_SK_ACC}))"
            f" AND (count_lt + 1 <= ((n * pct + 99) div 100) + ((n + {_SK_ACC} - 1) div {_SK_ACC}))"
            " AS approx_within_bound",
        )
        .orderBy("pct")
    )


@query(
    "agg_exact_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    ),
    m AS (
      SELECT l_returnflag,
             CAST(MAX(cnt * 1024 + (1024 - qty)) AS BIGINT) AS comp,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_qty
      FROM counts GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           1024 - (comp % 1024) AS mode_qty,
           comp // 1024 AS mode_count,
           n_distinct_qty
    FROM m ORDER BY l_returnflag
    """,
    tags=("aggregate", "mode", "deterministic"),
)
def agg_exact_mode(spark, sf_dir):
    """Exact per-group MODE with a DETERMINISTIC tie-break (smallest value
    wins) — built-in ``mode()`` leaves ties unspecified in both engines,
    so this is the argmax-without-window form the repo uses everywhere:
    count per (group, value), then one composite MAX over
    cnt·1024 + (1024 − qty), decoded back to (mode, count). Two
    map-combined aggregates, no window, no collect; the composite is
    exact integer arithmetic (quantity domain 1..50 « 1024; cnt·1024
    needs cnt < 2⁵³ — satisfied to beyond 10¹⁵ rows per value).

    Scale: the first aggregate's key space is |groups| × |value domain|
    (bounded); everything after runs on that reduced relation."""
    counts = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", F.col("l_quantity").cast("long").alias("qty"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        counts.groupBy("l_returnflag")
        .agg(
            F.max(F.col("cnt") * 1024 + (1024 - F.col("qty"))).cast("long").alias("comp"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_qty"),
        )
        .select(
            "l_returnflag",
            (1024 - F.col("comp") % 1024).alias("mode_qty"),
            F.expr("comp div 1024").alias("mode_count"),
            "n_distinct_qty",
        )
        .transform(order_bounded, "l_returnflag")
    )


@query(
    "agg_trimmed_mean_nosort",
    oracle=f"""
    WITH x AS (
      SELECT {sql_units("o_totalprice", 2)} AS cents, o_orderkey
      FROM orders
    ),
    r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS i,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM x) AS n
      FROM x
    ),
    kept AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM(cents) AS BIGINT) AS kept_cents
      FROM r WHERE i > n // 10 AND i <= n - n // 10
      GROUP BY n
    )
    SELECT n, n // 10 AS k_each_side, n_kept,
           (CAST(kept_cents AS DOUBLE) / CAST(n_kept AS DOUBLE)) / 100.0
             AS trimmed_mean
    FROM kept
    """,
    tags=("aggregate", "exact-rank", "nosort", "robust"),
    bench=True,
)
def agg_trimmed_mean_nosort(spark, sf_dir):
    """EXACT 10%-trimmed mean of order value with NO sort and NO
    single-partition window — the robust-location member of the
    distributed-rank family (`agg_exact_median_nosort` etc.): global
    ranks come from ``_ranked_nosort`` in (cents, orderkey) order
    (range-bin → per-bin offsets → bin-local windows), the trim keeps
    ranks in (⌊n/10⌋, n − ⌊n/10⌋], and the kept-sum is an exact integer
    aggregate. One final division pair
    (cents → dollars) is the only float op — bit-identical cross-engine
    against the oracle's ROW_NUMBER() world-sort truth.

    Unlike winsorizing at approx quantiles (`profile_winsorize_clip`),
    the cut is at the exact order statistics: at 100 TB the rank pass
    shuffles (bin, 24-byte rows), never the payload, and the only global
    state is the ≤4096-row offset relation."""
    x = t(spark, sf_dir, "orders").select(
        units("o_totalprice", 2).alias("cents"), "o_orderkey"
    )
    keyed = x.select(
        F.col("cents").alias("key"),
        F.col("o_orderkey").alias("tie"),
        F.col("cents").alias("val"),
    )
    ranked = _ranked_nosort(keyed)
    n_ = x.agg(F.count(F.lit(1)).cast("long").alias("n"))
    kept = (
        ranked.crossJoin(F.broadcast(n_))
        .filter(
            (F.col("i") > F.expr("n div 10")) & (F.col("i") <= F.col("n") - F.expr("n div 10"))
        )
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("val").cast("long").alias("kept_cents"),
        )
    )
    return kept.select(
        "n",
        F.expr("n div 10").alias("k_each_side"),
        "n_kept",
        (
            (F.col("kept_cents").cast("double") / F.col("n_kept").cast("double")) / 100.0
        ).alias("trimmed_mean"),
    )


@query(
    "agg_hll_intersection",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
        WHERE o_orderstatus = 'F') AS exact_a,
      (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
        WHERE o_orderstatus = 'O') AS exact_b,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM (
         SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
         INTERSECT
         SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
      )) AS exact_intersection,
      TRUE AS within_tolerance
    """,
    tags=("aggregate", "approx", "sketch", "set-ops"),
)
def agg_hll_intersection(spark, sf_dir):
    """Set-OVERLAP estimation from mergeable HLL sketches via
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), the trick
    that makes per-segment sketches answer intersection questions no
    single sketch type supports (audience overlap, cross-cohort reach)
    without ever re-scanning raw keys — the companion to
    `agg_hll_sketch_merge`'s union-only story. A = customers with
    fulfilled orders, B = customers with open orders.

    Driver-checkable shape (the sketch-family convention): exact
    |A|, |B|, |A∩B| hash-match the oracle; the estimate carries a
    ``within_tolerance`` verdict — the subtraction compounds the error
    of THREE sketches, so the bound is 3·(5% of the union) + 3, wider
    than the single-sketch 5% by design (that compounding is the
    documented cost of inclusion–exclusion on sketches).

    Scale: two sketch aggregates + one union — partial-merged, bytes per
    partition; the exact branches exist for verification only."""
    o = t(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("string")
    sk = o.agg(
        F.hll_sketch_agg(F.when(F.col("o_orderstatus") == "F", ck)).alias("sk_a"),
        F.hll_sketch_agg(F.when(F.col("o_orderstatus") == "O", ck)).alias("sk_b"),
    ).select(
        F.hll_sketch_estimate("sk_a").alias("est_a"),
        F.hll_sketch_estimate("sk_b").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b")).alias("est_u"),
    )
    fa = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    fb = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    exact = (
        fa.agg(F.count(F.lit(1)).cast("long").alias("exact_a"))
        .crossJoin(fb.agg(F.count(F.lit(1)).cast("long").alias("exact_b")))
        .crossJoin(
            fa.join(fb, "o_custkey").agg(
                F.count(F.lit(1)).cast("long").alias("exact_intersection")
            )
        )
    )
    est_inter = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return sk.crossJoin(F.broadcast(exact)).select(
        "exact_a",
        "exact_b",
        "exact_intersection",
        (
            F.abs(est_inter - F.col("exact_intersection"))
            <= 3.0 * (F.col("est_u") * 0.05) + 3.0
        ).alias("within_tolerance"),
    )


@query(
    "agg_geometric_harmonic_mean",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             {sql_fixed("LN(l_quantity)", 6)} AS ln_micro,
             {sql_fixed("1.0 / l_quantity", 9)} AS inv_nano
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(EXP((CAST(ln_micro AS DOUBLE) / CAST(n AS DOUBLE))
                     / 1000000.0), 8) AS geometric_mean,
           ROUND(CAST(n AS DOUBLE)
                 / (CAST(inv_nano AS DOUBLE) / 1000000000.0), 8) AS harmonic_mean
    FROM m ORDER BY l_returnflag
    """,
    tags=("aggregate", "means", "fixed-point"),
)
def agg_geometric_harmonic_mean(spark, sf_dir):
    """Geometric and harmonic means per return flag — the two means a
    float SUM cannot deliver deterministically at scale, made
    order-independent by the FIXED-POINT-ON-TRANSFORM trick: the
    per-row transform (ln q, 1/q — bit-identical scalar ops on the same
    double) is rounded to a declared precision (micro for ln, nano for
    the reciprocal) and summed as EXACT integers, so the aggregate is
    independent of partial-sum order; the final exp/division chain is
    scalar. This extends the `canonical.py` scheme from identity
    transforms (money sums) to nonlinear ones — the general recipe for
    any Σf(x) aggregate that must survive reshuffling.

    Precision ledger: |ln q| ≤ ln 50 ≈ 3.9 → micro-scaled terms ≤ 4e6,
    2⁶³/4e6 ≈ 2.3e12 rows before overflow; 1/q ≤ 1 nano-scaled ≤ 1e9 →
    9.2e9 rows (drop to 1e6 scale for more headroom at larger corpora
    — declared precision, same plan).

    Scale: one map-combined aggregate; three longs of state per group."""
    q = F.col("l_quantity")
    m = t(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        fixed(F.log(q), 6).alias("ln_micro"),
        fixed(1.0 / q, 9).alias("inv_nano"),
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            F.exp((F.col("ln_micro").cast("double") / F.col("n").cast("double")) / 1000000.0),
            8,
        ).alias("geometric_mean"),
        F.round(
            F.col("n").cast("double") / (F.col("inv_nano").cast("double") / 1000000000.0),
            8,
        ).alias("harmonic_mean"),
    ).transform(order_bounded, "l_returnflag")


_REGR_SQL = """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
           ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price,
           ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 8) AS r2
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(
    "agg_regr_family",
    oracle=_REGR_SQL,
    tags=("aggregate", "statistics", "regression", "builtin"),
)
def agg_regr_family(spark, sf_dir):
    """The ANSI ``REGR_*`` linear-regression aggregate family —
    regr_count / regr_avgx / regr_avgy / regr_slope / regr_intercept /
    regr_r2 of price on quantity per return flag, driven through the
    BUILT-IN aggregates on both engines (the declared-surface
    complement of `agg_corr_bivariate` / `ds_ols_moments`, which build
    the same numbers from fixed-point moments).

    Determinism posture: the builtins' co-moment accumulation is
    order-dependent in the last few ulps, so the emitted columns are
    ROUNDed at precisions (1e-6 on slope/avgx, 1e-4 on the price-scaled
    intercept/avgy, 1e-8 on r2 in [0,1]) that sit ~6 orders of
    magnitude above the cross-engine drift — verified hash-identical at
    sf0.001/0.01. The fixed-point twins remain the bit-exact oracle
    shape; this row attests the builtin surface itself.

    Scale shape: one partial-aggregated groupBy — each partition folds
    to six moments per flag before the exchange, so the shuffle carries
    O(flags) rows regardless of fact size; identical at 100 TB."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_REGR_SQL)


_COVAR_SQL = """
    SELECT l_returnflag,
           ROUND(covar_pop(l_quantity, l_extendedprice), 4) AS covar_p,
           ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS covar_s,
           ROUND(corr(l_quantity, l_extendedprice), 8) AS corr_qp
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query(
    "agg_covar_family",
    oracle=_COVAR_SQL,
    tags=("aggregate", "statistics", "builtin"),
)
def agg_covar_family(spark, sf_dir):
    """The ANSI covariance/correlation aggregate family — covar_pop /
    covar_samp / corr, driven through the BUILT-IN aggregates on both
    engines (the declared-surface sibling of `agg_regr_family`; the
    bit-exact moments twin remains `agg_corr_bivariate`). Same
    determinism posture as the regr row: the builtins' co-moment
    updates drift in the last ulps across engines, so outputs are
    ROUNDed (1e-4 on the price-scaled covariances, 1e-8 on corr in
    [−1,1]) — ~6 orders above the observed drift, verified
    hash-identical at sf0.001/0.01.

    Shape: one partial-aggregated groupBy; three moments per flag
    cross the exchange. Identical at 100 TB."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_COVAR_SQL)


@query(
    "agg_skyline_2d",
    oracle=f"""
    WITH per AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             {sql_fixed("l_extendedprice", 2)} AS rev_c
      FROM lineitem GROUP BY pk
    )
    SELECT p.pk AS l_partkey, p.qty, p.rev_c
    FROM per p
    WHERE NOT EXISTS (
      SELECT 1 FROM per q
      WHERE q.qty >= p.qty AND q.rev_c >= p.rev_c
        AND (q.qty > p.qty OR q.rev_c > p.rev_c)
    )
    ORDER BY p.qty, p.rev_c, p.pk
    """,
    tags=("aggregate", "skyline", "pareto"),
)
def agg_skyline_2d(spark, sf_dir):
    """2-D skyline (Pareto front): the parts no other part beats on
    BOTH total quantity and total revenue — the multi-criteria
    shortlist operator (max-volume AND max-value products) classic
    OLAP engines ship as SKYLINE OF. The textbook plans are a world
    sort with a running max (single-task tail) or an O(n²) dominance
    anti-join; this implementation is neither:

    1. collapse facts to the per-part (qty, rev) relation;
    2. reduce to the VALUE-DOMAIN relation max_rev per distinct qty
       (bounded by the qty domain, thousands of rows at any corpus
       size) and fold it once, sorted descending, into the strict
       suffix map M(v) = max rev among qty > v (the `_ranked_nosort`
       offset-array pattern);
    3. a part is skyline iff rev > M(qty) (nothing strictly wider
       dominates) AND rev = the part's own qty-group max (nothing
       equal-qty dominates) — one broadcast map + map-side predicate.

    The oracle is the O(n²) NOT EXISTS dominance definition itself,
    so the hash match proves the suffix-max formulation EQUALS the
    definition (equal-(qty,rev) duplicates all survive, per the
    standard non-strict-dominance convention).

    Exactness: all longs end to end. Scale: one per-key aggregate +
    one value-domain fold; no sort of the data, no pair join."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        fixed("l_extendedprice", 2).alias("rev_c"),
    )
    vals = per.groupBy("qty").agg(F.max("rev_c").alias("vmax"))
    lz = F.lit(-1).cast("long")
    init = F.struct(
        lz.alias("m"),
        F.array().cast("array<struct<qty:long,suf:long>>").alias("es"),
    )

    def step(acc, v):
        # fold in DESCENDING qty order: suffix max BEFORE this value =
        # max over strictly larger qty
        return F.struct(
            F.greatest(acc["m"], v["vmax"]).alias("m"),
            F.concat(
                acc["es"],
                F.array(
                    F.struct(v["qty"].alias("qty"), acc["m"].alias("suf"))
                ),
            ).alias("es"),
        )

    sufmap = vals.agg(
        F.map_from_entries(
            F.transform(
                F.aggregate(
                    F.reverse(F.array_sort(F.collect_list(F.struct("qty", "vmax")))),
                    init,
                    step,
                )["es"],
                lambda e: F.struct(
                    e["qty"].alias("k"), e["suf"].alias("v")
                ),
            )
        ).alias("suf")
    )
    gmax = vals.select("qty", F.col("vmax"))
    return (
        per.join(F.broadcast(gmax), "qty")
        .crossJoin(F.broadcast(sufmap))
        .filter(
            (F.col("rev_c") > F.col("suf")[F.col("qty")])
            & (F.col("rev_c") == F.col("vmax"))
        )
        .select(F.col("pk").alias("l_partkey"), "qty", "rev_c")
        .orderBy("qty", "rev_c", "l_partkey")
    )


@query(
    "agg_bool_family",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT_IF(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
           BOOL_AND(o_totalprice > 0) AS all_positive,
           BOOL_OR(o_totalprice > 400000) AS any_jumbo,
           CAST(COUNT_IF(o_totalprice BETWEEN 100000 AND 200000) AS BIGINT) AS n_mid
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("aggregate", "boolean", "count_if"),
)
def agg_bool_family(spark, sf_dir):
    """Boolean-logic aggregates per order status: conditional counting
    (count_if), universal/existential quantifiers over a group (bool_and
    / bool_or). All exact integer/boolean results — no float hazard — and
    all computed in one hash-aggregate pass with map-side partials."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
            F.count_if(F.col("o_totalprice").between(100000, 200000)).alias("n_mid"),
        )
        .transform(order_bounded, "o_orderstatus")
    )


@query(
    "agg_weighted_stats",
    oracle=f"""
    SELECT l_returnflag,
           ({sql_fixed("l_quantity * l_extendedprice", 2)}
            / 100.0)
           / ({sql_fixed("l_quantity", 6)}
              / 1000000.0) AS wavg_price,
           {sql_fixed("l_quantity", 6)} / 1000000.0
             AS total_weight
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("aggregate", "weighted"),
)
def agg_weighted_stats(spark, sf_dir):
    """Quantity-weighted mean price per return flag — the weighted
    aggregate every sample-weighted training pipeline needs. Both the
    weighted sum and the weight total use fixed-point integer
    accumulation (order-independent, canonical.py), so the final double
    division is a single identical rounding in both engines."""
    li = t(spark, sf_dir, "lineitem")

    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            (fixsum(q * p, 2) / fixsum(q, 6)).alias("wavg_price"),
            fixsum(q, 6).alias("total_weight"),
        )
        .transform(order_bounded, "l_returnflag")
    )


@query(
    "agg_string_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n,
           string_agg(c_name, ',' ORDER BY c_name) AS names_csv
    FROM customer
    WHERE c_custkey % 100 = 0
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("aggregate", "string", "listagg"),
)
def agg_string_agg(spark, sf_dir):
    """Ordered string aggregation: listagg WITHIN GROUP (ORDER BY)
    per market segment — the SQL:2023 spelling Spark 4 added, vs
    DuckDB's string_agg ORDER BY. The deterministic intra-group
    order is the whole point: an unordered concat is
    partition-order-dependent and can never hash-match. The modulo
    sample bounds string width at any SF; at 100 TB ordered listagg
    is a sort-based aggregate, so group width — not table size — is
    the cost driver."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)").alias(
                "names_csv"
            ),
        )
        .transform(order_bounded, "c_mktsegment")
    )


@query(
    "agg_bitwise_fold",
    oracle="""
    SELECT o_orderstatus,
           CAST(bit_and(o_orderkey) AS BIGINT) AS all_bits,
           CAST(bit_or(o_orderkey) AS BIGINT) AS any_bits,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS parity_bits,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("aggregate", "bitwise"),
)
def agg_bitwise_fold(spark, sf_dir):
    """Bitwise aggregate folds (bit_and/bit_or/bit_xor) per order
    status — commutative+associative integer reductions, so they
    combine map-side and are order-independent by construction (the
    only aggregate family that needs NO canonicalization tricks).
    bit_xor is the classic distributed set-checksum: XOR of all ids
    detects single-row divergence between two replicas for free."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.bit_and("o_orderkey").alias("all_bits"),
            F.bit_or("o_orderkey").alias("any_bits"),
            F.bit_xor("o_orderkey").alias("parity_bits"),
            F.count(F.lit(1)).alias("n"),
        )
        .transform(order_bounded, "o_orderstatus")
    )
