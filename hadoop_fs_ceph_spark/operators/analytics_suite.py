"""Product-analytics composite shapes: funnel conversion, retention
cohorts, market-basket co-occurrence, gaps-and-islands streaks, and
cumulative-distinct growth curves.

These are the query shapes an event-pipeline team runs daily on the same
lake the reference connector was built to feed (Spark-over-object-store;
`/root/reference/` `README.md:7` — compute/storage separation for exactly
this kind of log analytics). None needs anything beyond DataFrame
aggregates, windows, and self-joins.

Scale posture: every shape aggregates down to per-entity rows (user, day,
pair) BEFORE any join or window; unpartitioned windows only ever run over
already-aggregated tiny relations (days, not events); the market-basket
self-join reuses one shuffle on the co-partitioned order key AND runs on
the whale-capped basket projection (basket_common — per-order pair
fan-out hard-bounded at C(32,2) even under planted basket skew).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import fixed, fixsum, sql_fixed, sql_units, units
from hadoop_fs_ceph_spark.operators.basket_common import (
    OP_CAPPED_CTES,
    capped_order_parts,
)
from hadoop_fs_ceph_spark.operators.ranking import (
    _conc_customer_cents,
    _ranked_nosort,
)
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t


@query(
    "ds_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_buy
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
    tags=("analytics", "funnel", "staged-join"),
)
def ds_funnel_conversion(spark, sf_dir):
    """Ordered view->click->purchase funnel: a user advances a stage only
    with an event strictly AFTER their previous stage's first event. Each
    stage is one groupBy(user_id) min-timestamp aggregate joined to the
    prior stage, so the join inputs shrink monotonically and every shuffle
    carries (user_id, ts) pairs — never raw events. Stage counts are exact
    integers; the three single-row counts cross-join into one row."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


@query(
    "ds_retention_cohort",
    oracle="""
    WITH fy AS (
      SELECT o_custkey,
             MIN(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)) AS cohort_year
      FROM orders GROUP BY o_custkey
    ),
    act AS (
      SELECT DISTINCT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr
      FROM orders
    )
    SELECT f.cohort_year, a.yr - f.cohort_year AS offset_years,
           COUNT(*) AS n_active
    FROM fy f JOIN act a ON f.o_custkey = a.o_custkey
    GROUP BY f.cohort_year, offset_years
    ORDER BY f.cohort_year, offset_years
    """,
    tags=("analytics", "cohort", "retention"),
)
def ds_retention_cohort(spark, sf_dir):
    """Cohort retention triangle: customers grouped by first-order year,
    counted as active at each year offset. Both inputs are aggregates of
    the same orders scan keyed on o_custkey, so the join is between two
    co-partitioned shrunken relations (|customers| rows each); `act` is
    already distinct per (customer, year), so COUNT(*) equals distinct
    active customers with no second dedup pass."""
    o = t(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate").cast("long")
    )
    fy = o.groupBy("o_custkey").agg(F.min("yr").alias("cohort_year"))
    act = o.select("o_custkey", "yr").distinct()
    return (
        fy.join(act, "o_custkey")
        .select("cohort_year", (F.col("yr") - F.col("cohort_year")).alias("offset_years"))
        .groupBy("cohort_year", "offset_years")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .transform(order_bounded, "cohort_year", "offset_years")
    )


@query(
    "ds_market_basket",
    oracle=f"""
    WITH {OP_CAPPED_CTES}
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY p1, p2
    ORDER BY n_orders DESC, p1, p2
    LIMIT 100
    """,
    tags=("analytics", "self-join", "co-occurrence"),
    bench=True,
)
def ds_market_basket(spark, sf_dir):
    """Market-basket pair mining: parts co-occurring in the same order,
    ranked by support. The (order, part) projection is deduplicated and
    WHALE-CAPPED once (basket_common: at most 32 deterministically
    hash-sampled lines per order, identical in the oracle CTEs), then
    self-joined on the order key with p1 < p2 to emit each unordered
    pair once. Both join sides are the SAME relation shuffled on
    l_orderkey — Catalyst reuses the exchange — and per-order fan-out is
    hard-bounded at C(32,2) = 496 pairs: TPC-H-shaped baskets (≤7 lines)
    pass through untouched, while a 10k-line whale session — which would
    otherwise materialize ~5·10⁷ joined rows in ONE task — contributes a
    sampled 32-line basket (recall tradeoff documented in
    basket_common). Final top-100 has a total sort key (count, p1, p2),
    so LIMIT is deterministic."""
    op = capped_order_parts(spark, sf_dir)
    a = op.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(100)
    )


@query(
    "win_streaks_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    seq AS (
      SELECT user_id, d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
      FROM days
    )
    SELECT user_id, MIN(d) AS streak_start, COUNT(*) AS streak_len
    FROM (SELECT user_id, d, d - CAST(rn AS INTEGER) AS island FROM seq)
    GROUP BY user_id, island
    HAVING COUNT(*) >= 2
    ORDER BY user_id, streak_start
    """,
    tags=("analytics", "window", "gaps-and-islands"),
)
def win_streaks_islands(spark, sf_dir):
    """Consecutive-day activity streaks (gaps-and-islands): distinct
    active days per user, row-numbered within user by date; subtracting
    the row number (in days) from the date collapses each consecutive run
    onto one island key, and a group-by over (user, island) yields streak
    start + length. The window partitions on user_id — no global sort —
    and runs over distinct days, not raw events."""
    e = t(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    seq = days.withColumn("rn", F.row_number().over(w))
    return (
        seq.withColumn("island", F.date_sub(F.col("d"), F.col("rn").cast("int")))
        .groupBy("user_id", "island")
        .agg(F.min("d").alias("streak_start"), F.count(F.lit(1)).alias("streak_len"))
        .filter(F.col("streak_len") >= 2)
        .select("user_id", "streak_start", "streak_len")
        .orderBy("user_id", "streak_start")
    )


@query(
    "win_cumulative_distinct",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (SELECT d, COUNT(*) AS new_users FROM firsts GROUP BY d)
    SELECT d, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_users
    FROM daily ORDER BY d
    """,
    tags=("analytics", "window", "cumulative-distinct"),
)
def win_cumulative_distinct(spark, sf_dir):
    """Cumulative distinct-user growth curve: running COUNT(DISTINCT) is
    not incrementally computable as a window, so it is rewritten as the
    classic first-seen decomposition — each user counts once on their
    first active day, and the cumulative sum of daily first-seen counts
    IS the running distinct total. The only unpartitioned window runs
    over the per-day relation (|days| rows, bounded by the calendar, not
    by |events|), which is the standard scale-safe shape."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = firsts.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.withColumn("cum_users", F.sum("new_users").over(w))
        .select("d", "new_users", "cum_users")
        .orderBy("d")
    )


@query(
    "ds_pareto_concentration",
    oracle=f"""
    WITH pc AS (
      SELECT o_custkey,
             SUM({sql_units("o_totalprice", 2)}) AS rc
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT SUM(rc) AS t, COUNT(*) AS n_cust FROM pc
    ),
    ranked AS (
      SELECT rc, SUM(rc) OVER (
        ORDER BY rc DESC, o_custkey ROWS UNBOUNDED PRECEDING
      ) AS cum
      FROM pc
    )
    SELECT COUNT(*) AS n_top_customers,
           CAST(COUNT(*) AS DOUBLE) / (SELECT n_cust FROM tot) AS frac_customers,
           CAST(MAX(cum) AS DOUBLE) / CAST((SELECT t FROM tot) AS DOUBLE)
             AS share_captured
    FROM ranked
    WHERE CAST(cum - rc AS DOUBLE) < 0.8 * CAST((SELECT t FROM tot) AS DOUBLE)
    """,
    tags=("analytics", "pareto", "concentration"),
)
def ds_pareto_concentration(spark, sf_dir):
    """Pareto / ABC concentration: how few customers cover 80% of
    revenue. Per-customer revenues are exact integer cents; the ranked
    cumulative sum is an integer window (order-free); a customer is kept
    while the cumulative total BEFORE them is under the 80% line, so the
    result set crosses the threshold exactly once.

    EXACT and, since round 5, with NO single-partition window: the
    descending running sum comes from ``_ranked_nosort`` on key −rc
    with tie custkey (ascending (−rc, custkey) IS (rc DESC, custkey) —
    the oracle's frame), which range-bins, folds per-bin (count, sum)
    prefixes into a broadcast ≤4096-row offset relation, and runs the
    window partitioned BY BIN. The ranked relation is the per-customer
    aggregate (≪ facts); the two scalar totals ride in on the offset
    broadcast."""
    o = t(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        fixed("o_totalprice", 2).alias("rc")
    )
    keyed = pc.select(
        (-F.col("rc")).alias("key"),
        F.col("o_custkey").alias("tie"),
        F.col("rc").alias("val"),
    )
    # Round-12 (guide §1.2): (t, n_cust) used to be a SECOND aggregate
    # over pc, cross-joined back — re-executing the per-customer
    # aggregate (an extra orders scan + groupBy). The rank helper's
    # with_totals rides the same global COUNT/SUM in on every row
    # through the offset broadcast: v_tot == Σ rc == t, n_tot == |pc|.
    ranked = _ranked_nosort(keyed, with_totals=True)
    kept = ranked.filter(
        (F.col("cum") - F.col("val")).cast("double")
        < 0.8 * F.col("v_tot").cast("double")
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_top_customers"),
        (F.count(F.lit(1)).cast("double") / F.first("n_tot")).alias("frac_customers"),
        (F.max("cum").cast("double") / F.first("v_tot").cast("double")).alias(
            "share_captured"
        ),
    )


@query(
    "ds_basket_lift",
    oracle=f"""
    WITH {OP_CAPPED_CTES},
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM op0),
    part_supp AS (SELECT l_partkey, COUNT(*) AS s FROM op0 GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS s12
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY p1, p2
      HAVING COUNT(*) >= 2
    )
    SELECT p.p1, p.p2, p.s12,
           p.s12 / CAST(x.s AS DOUBLE) AS confidence_1to2,
           (CAST(p.s12 AS DOUBLE) * (SELECT n FROM n_orders))
             / (CAST(x.s AS DOUBLE) * CAST(y.s AS DOUBLE)) AS lift
    FROM pairs p
    JOIN part_supp x ON p.p1 = x.l_partkey
    JOIN part_supp y ON p.p2 = y.l_partkey
    ORDER BY lift DESC, p.p1, p.p2
    LIMIT 50
    """,
    tags=("analytics", "association-rules", "lift"),
)
def ds_basket_lift(spark, sf_dir):
    """Association-rule metrics over co-purchase pairs: confidence
    P(p2|p1) and lift P(p1,p2)/(P(p1)P(p2)) for pairs with support ≥ 2.
    Pair support comes from the WHALE-CAPPED market-basket self-join
    (same capped projection as ds_market_basket — per-order fan-out
    hard-bounded at C(32,2), recall tradeoff in basket_common); item
    supports and the global order count stay EXACT, computed from the
    uncapped projection (linear aggregates are whale-safe — only the
    quadratic pair build needs the cap), so confidence denominators are
    true supports. All counts are exact integers — the confidence/lift
    doubles are single divisions, identical across engines. Top-50 by a
    total (lift, p1, p2) key."""
    li = t(spark, sf_dir, "lineitem")
    op_full = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op_full.agg(F.countDistinct("l_orderkey").alias("n"))
    part_supp = op_full.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("s"))
    op = capped_order_parts(spark, sf_dir)
    a = op.select("l_orderkey", F.col("l_partkey").alias("p1"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("s12"))
        .filter(F.col("s12") >= 2)
    )
    x = part_supp.select(F.col("l_partkey").alias("p1"), F.col("s").alias("s1"))
    y = part_supp.select(F.col("l_partkey").alias("p2"), F.col("s").alias("s2"))
    return (
        pairs.join(x, "p1")
        .join(y, "p2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "s12",
            (F.col("s12") / F.col("s1").cast("double")).alias("confidence_1to2"),
            (
                (F.col("s12").cast("double") * F.col("n"))
                / (F.col("s1").cast("double") * F.col("s2").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "p1", "p2")
        .limit(50)
    )


@query(
    "ds_attribution_touch",
    oracle=f"""
    WITH per AS (
      SELECT user_id,
             first_value(event_type) OVER w AS first_touch,
             last_value(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
             ) AS last_touch,
             CASE WHEN event_type = 'purchase'
                  THEN {sql_units("value", 6)} ELSE 0 END AS pv6
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    u AS (
      SELECT user_id, first_touch, last_touch, SUM(pv6) AS pv6
      FROM per GROUP BY user_id, first_touch, last_touch
    )
    SELECT first_touch, last_touch,
           COUNT(*) AS n_users,
           CAST(CAST(SUM(pv6) AS BIGINT) AS DOUBLE) / 1000000 AS purchase_value
    FROM u
    GROUP BY first_touch, last_touch
    ORDER BY first_touch, last_touch
    """,
    tags=("analytics", "attribution"),
)
def ds_attribution_touch(spark, sf_dir):
    """Marketing attribution: each user's journey is credited to its
    first-touch and last-touch event types (deterministic order: ts
    with event_id tiebreak), with purchase revenue carried in exact
    fixed-point micros. One hash aggregate per user computes both
    touchpoints via min/max over a (ts, event_id, event_type) struct
    — lexicographic struct ordering replaces two window passes, so
    the whole journey table reduces in a single shuffle; the final
    matrix rollup is a second aggregate over ~|event_type|² rows.
    At 100 TB this is the canonical map-side-combinable shape: no
    per-user state ever exceeds one struct."""
    e = t(spark, sf_dir, "events")
    pv6 = F.when(
        F.col("event_type") == "purchase",
        units("value", 6),
    ).otherwise(F.lit(0).cast("long"))
    per_user = e.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("fs"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("ls"),
        F.sum(pv6).alias("pv6"),
    )
    return (
        per_user.select(
            F.col("fs.event_type").alias("first_touch"),
            F.col("ls.event_type").alias("last_touch"),
            "pv6",
        )
        .groupBy("first_touch", "last_touch")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.sum("pv6").cast("double") / F.lit(1000000.0)).alias("purchase_value"),
        )
        .transform(order_bounded, "first_touch", "last_touch")
    )


@query(
    "ds_rfm_segmentation",
    oracle=f"""
    WITH m AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_d,
             COUNT(*) AS freq,
             {sql_fixed("o_totalprice", 2)} AS cents
      FROM orders GROUP BY o_custkey
    ),
    withr AS (
      SELECT o_custkey, freq, cents,
             date_diff('day', last_d, (SELECT MAX(last_d) FROM m)) AS recency
      FROM m
    ),
    buck AS (
      SELECT ntile(4) OVER (ORDER BY recency, o_custkey) AS r_bucket,
             ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_bucket,
             ntile(4) OVER (ORDER BY cents DESC, o_custkey) AS m_bucket,
             cents
      FROM withr
    )
    SELECT r_bucket, f_bucket, m_bucket,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100 AS monetary
    FROM buck
    GROUP BY r_bucket, f_bucket, m_bucket
    ORDER BY r_bucket, f_bucket, m_bucket
    """,
    tags=("analytics", "rfm", "segmentation"),
    bench=True,
)
def ds_rfm_segmentation(spark, sf_dir):
    """RFM segmentation: per customer recency (days since last order,
    vs the corpus max date), frequency (orders), monetary (exact
    cents), each quartiled with custkey tiebreaks so bucket assignment
    is fully deterministic; segments then profiled by population and
    revenue.

    EXACT and, since round 5, with NO sort and NO single-partition
    window: each dimension's ntile(4) assignment is reproduced from
    first principles. The per-customer relation explodes into one
    group per dimension (key = the value, negated for the descending
    dims; tie = custkey), and ONE grouped ``_ranked_nosort`` call gives
    every customer its rank i in each dimension's (value, custkey)
    order, plus the group size n. The bucket is then ntile's deal
    arithmetic, 1 + Σ_c [i > c·(n div 4) + least(c, n mod 4)] for
    c = 1..3, and one per-customer groupBy pivots the three buckets
    back together — zero sorts, zero driver state, one rank pass."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        fixed("o_totalprice", 2).alias("cents"),
    )
    maxd = m.agg(F.max("last_d").alias("maxd"))
    dims = (
        m.crossJoin(F.broadcast(maxd))
        .select(
            F.col("o_custkey").alias("tie"),
            F.col("cents").alias("val"),
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(dim).alias("dim"), value.cast("long").alias("key"))
                        for dim, value in (
                            (1, F.datediff("maxd", "last_d")),
                            (2, -F.col("freq")),
                            (3, -F.col("cents")),
                        )
                    ]
                )
            ).alias("d"),
        )
        .select("d.dim", "d.key", "tie", "val")
    )
    ranked = _ranked_nosort(dims, with_totals=True, grp="dim")
    bucket = F.lit(1)
    for c in (1, 2, 3):
        bucket = bucket + (
            F.col("i") > F.expr(f"{c} * (n_tot div 4) + least({c}, n_tot % 4)")
        ).cast("int")
    per = ranked.groupBy("tie").agg(
        *[
            F.max(F.when(F.col("dim") == dim, bucket)).alias(name)
            for dim, name in ((1, "r_bucket"), (2, "f_bucket"), (3, "m_bucket"))
        ],
        F.max("val").alias("cents"),
    )
    return (
        per.groupBy("r_bucket", "f_bucket", "m_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("monetary"),
        )
        .transform(order_bounded, "r_bucket", "f_bucket", "m_bucket")
    )


# Composite-key multiplier for the approx-RFM tie split: a percentile
# sketch ranks ONE long column, so its keys are value * _RFM_C + custkey,
# and equal values order by custkey like ntile's tie-break. Holds while
# custkey < 1e8 (TPC-H custkey at SF 100 is 1.5e7).
_RFM_C = 100_000_000


@query(
    "ds_rfm_segmentation_approx",
    oracle="""
    WITH n AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_total FROM orders
    )
    SELECT d.dim, b.bucket, n.n_total, TRUE AS within_tolerance
    FROM (VALUES ('frequency'), ('monetary'), ('recency')) AS d(dim),
         (SELECT CAST(range AS INT) AS bucket FROM range(1, 5)) AS b, n
    ORDER BY dim, bucket
    """,
    tags=("analytics", "rfm", "segmentation", "approx"),
)
def ds_rfm_segmentation_approx(spark, sf_dir):
    """RFM quartile bucketing, PRODUCTION form — the runnable-at-100 TB
    twin of ``ds_rfm_segmentation``: quartile cutpoints come from ONE
    ``percentile_approx`` aggregate (Greenwald-Khanna sketch, a
    partial-merge aggregate — NO global sort, NO single-partition
    window), bucket assignment is a map-side array lookup against the
    broadcast one-row cutpoint relation.

    The ntile-tie problem is solved structurally: the sketched key is the
    composite value*C + custkey (descending dims negate the value), so
    ties split by custkey exactly as the exact form's ntile tie-break
    does — bucket populations then sit within the sketch's rank error
    (<= 2n/10000 per bucket at accuracy 10000) of the ideal n/4 even on
    heavily-tied columns like order frequency.

    Driver-checkable shape (the ``within_tolerance`` pattern of
    ``profile_equidepth_histogram_approx``): deterministic columns (dim x
    bucket spine, total customers) hash-match the oracle; each dimension's
    bucket populations are tolerance-verified at 2% (sketch guarantee is
    50x inside the gate). The exact ntile form remains the oracle-truth
    segmentation this approximates."""
    o = t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        fixed("o_totalprice", 2).alias("cents"),
    )
    maxd = m.agg(F.max("last_d").alias("maxd"))
    comp = (
        m.crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("maxd", "last_d").cast("long").alias("recency"),
            "freq",
            "cents",
        )
        .select(
            (F.col("recency") * _RFM_C + F.col("o_custkey")).alias("r_comp"),
            (-F.col("freq") * _RFM_C + F.col("o_custkey")).alias("f_comp"),
            (-F.col("cents") * _RFM_C + F.col("o_custkey")).alias("m_comp"),
        )
    )
    cuts = comp.agg(
        F.percentile_approx("r_comp", [0.25, 0.5, 0.75], 10000).alias("rc"),
        F.percentile_approx("f_comp", [0.25, 0.5, 0.75], 10000).alias("fc"),
        F.percentile_approx("m_comp", [0.25, 0.5, 0.75], 10000).alias("mc"),
        F.count(F.lit(1)).alias("n_total"),
    )

    def bucket(cut_col, comp_col):
        return (
            F.lit(1) + F.size(F.filter(cut_col, lambda c: c < F.col(comp_col)))
        ).cast("int")

    counts = (
        comp.crossJoin(F.broadcast(cuts))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("recency").alias("dim"),
                        bucket(F.col("rc"), "r_comp").alias("bucket"),
                    ),
                    F.struct(
                        F.lit("frequency").alias("dim"),
                        bucket(F.col("fc"), "f_comp").alias("bucket"),
                    ),
                    F.struct(
                        F.lit("monetary").alias("dim"),
                        bucket(F.col("mc"), "m_comp").alias("bucket"),
                    ),
                )
            ).alias("x")
        )
        .select("x.dim", "x.bucket")
        .groupBy("dim", "bucket")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    dims = spark.range(1).select(
        F.explode(
            F.array(F.lit("frequency"), F.lit("monetary"), F.lit("recency"))
        ).alias("dim")
    )
    spine = dims.crossJoin(
        spark.range(1, 5).select(F.col("id").cast("int").alias("bucket"))
    ).crossJoin(F.broadcast(cuts.select("n_total")))
    return (
        spine.join(counts, ["dim", "bucket"], "left")
        .select(
            "dim",
            "bucket",
            "n_total",
            (
                F.abs(F.coalesce(F.col("nb"), F.lit(0)) - F.col("n_total") / 4.0)
                <= F.greatest(F.col("n_total") * 0.02, F.lit(3.0))
            ).alias("within_tolerance"),
        )
        .orderBy("dim", "bucket")
    )


@query(
    "agg_gini_concentration",
    oracle=f"""
    WITH x AS (
      SELECT o_custkey,
             {sql_fixed("o_totalprice", 2)} AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM x
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(cents) AS BIGINT) AS BIGINT) AS total_cents,
           CAST(2 * CAST(SUM(i * cents) AS BIGINT)
                - (COUNT(*) + 1) * CAST(SUM(cents) AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) * CAST(SUM(cents) AS BIGINT) AS DOUBLE) AS gini
    FROM ranked
    """,
    tags=("aggregate", "gini", "inequality"),
)
def agg_gini_concentration(spark, sf_dir):
    """Exact Gini coefficient of customer revenue concentration via
    the rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    ascending exact cents (custkey tiebreak pins ranks; equal values
    make rank order immaterial to the sum). All moments are integer
    until the single final division — bit-identical across engines.

    EXACT and, since round 5, with NO single-partition window: global
    ranks come from ``_ranked_nosort`` in (cents, custkey) order —
    range-bin on cents, rank within bins in parallel, lift to global
    ranks through a broadcast ≤4096-row prefix relation. The ranked
    relation is the per-customer aggregate, never the fact table."""
    x = _conc_customer_cents(spark, sf_dir)
    keyed = x.select(
        F.col("cents").alias("key"),
        F.col("o_custkey").alias("tie"),
        F.col("cents").alias("val"),
    )
    ranked = _ranked_nosort(keyed)
    n = F.count(F.lit(1))
    sx = F.sum("val")
    six = F.sum(F.col("i") * F.col("val"))
    return ranked.agg(
        n.cast("long").alias("n"),
        sx.cast("long").alias("total_cents"),
        (
            (F.lit(2) * six - (n + F.lit(1)) * sx).cast("double")
            / (n * sx).cast("double")
        ).alias("gini"),
    )


# Fixed bin count for the binned concentration twins: resolution is the
# grid, not the data, so the bin relation is a compile-time constant no
# matter the corpus size (the profile_ks_drift trade).
_CONC_BINS = 64

_SQL_CONC_X = f"""
      SELECT o_custkey,
             {sql_fixed("o_totalprice", 2)} AS cents
      FROM orders GROUP BY o_custkey
"""
_SQL_CONC_ST = """
      SELECT MIN(cents) AS lo, MAX(cents) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM x
"""
_SQL_CONC_B = f"""
      SELECT ((cents - lo) * {_CONC_BINS}) // (hi - lo + 1) AS bin,
             CAST(COUNT(*) AS BIGINT) AS nb, CAST(SUM(cents) AS BIGINT) AS sb
      FROM x, st GROUP BY 1
"""


def _conc_bins(x, st):
    """Per-customer cents -> fixed-width integer bins with (count, sum):
    map-side bin id against the broadcast one-row bounds, one partial-
    merged aggregate over at most ``_CONC_BINS`` groups."""
    return (
        x.crossJoin(F.broadcast(st))
        .select(
            F.expr(
                f"((cents - lo) * {_CONC_BINS}) div (hi - lo + 1)"
            ).alias("bin"),
            "cents",
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("nb"), F.sum("cents").alias("sb"))
    )


@query(
    "agg_gini_concentration_binned",
    oracle=f"""
    WITH x AS ({_SQL_CONC_X}),
    st AS ({_SQL_CONC_ST}),
    b AS ({_SQL_CONC_B}),
    mad AS (
      SELECT CAST(SUM(ABS(CAST(a.sb AS HUGEINT) * b2.nb
                          - CAST(b2.sb AS HUGEINT) * a.nb)) AS DOUBLE) AS num
      FROM b a, b b2
    )
    SELECT st.n, st.s AS total_cents,
           CAST((SELECT COUNT(*) FROM b) AS INTEGER) AS n_bins_used,
           ROUND(mad.num / (2.0 * CAST(st.n AS DOUBLE) * CAST(st.s AS DOUBLE)), 9)
             AS gini_binned
    FROM st, mad
    """,
    tags=("aggregate", "gini", "inequality", "approx"),
)
def agg_gini_concentration_binned(spark, sf_dir):
    """Gini concentration, PRODUCTION form — the sort-free twin of
    ``agg_gini_concentration``: per-customer cents land in a FIXED
    64-bin value grid (map-side bin id against a broadcast one-row
    min/max), and the Gini of the grouped data comes from the
    mean-absolute-difference identity G = Σᵢⱼ|sᵢnⱼ − sⱼnᵢ| / (2nS)
    over bin (count, sum) pairs — algebraically identical to the
    trapezoidal Lorenz estimator for grouped data, but needing no bin
    ordering, no prefix sums, and NO window at all: two aggregates and
    one 64×64 scalar fold over a collected bin array. Every term is an
    exact integer (decimal(38) products) until the single final
    division, so the binned value — not just a tolerance verdict — is
    bit-identical cross-engine and hash-matched by the oracle.

    Binning error is bounded by within-bin value spread (≤ range/64 per
    customer), the resolution a concentration MONITOR needs; the exact
    rank-formula twin stays as the oracle-truth it approximates
    (tests/test_invariants.py pins their agreement)."""
    x = _conc_customer_cents(spark, sf_dir)
    st = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
    )
    b = _conc_bins(x, st)
    one = b.agg(
        F.collect_list(F.struct("bin", "nb", "sb")).alias("arr")
    ).crossJoin(F.broadcast(st))
    dec0 = F.lit(0).cast("decimal(38,0)")
    num = F.aggregate(
        "arr",
        dec0,
        lambda acc, p: (
            acc
            + F.aggregate(
                F.col("arr"),
                dec0,
                lambda a2, q: (
                    a2
                    + F.abs(
                        p["sb"].cast("decimal(19,0)") * q["nb"].cast("decimal(19,0)")
                        - q["sb"].cast("decimal(19,0)") * p["nb"].cast("decimal(19,0)")
                    ).cast("decimal(38,0)")
                ).cast("decimal(38,0)"),
            )
        ).cast("decimal(38,0)"),
    )
    return one.select(
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("total_cents"),
        F.size("arr").cast("int").alias("n_bins_used"),
        F.round(
            num.cast("double")
            / (F.lit(2.0) * F.col("n").cast("double") * F.col("s").cast("double")),
            9,
        ).alias("gini_binned"),
    )


@query(
    "ds_pareto_concentration_binned",
    oracle=f"""
    WITH x AS ({_SQL_CONC_X}),
    st AS ({_SQL_CONC_ST}),
    b AS ({_SQL_CONC_B}),
    c AS (
      SELECT bin, nb, sb,
             CAST(SUM(sb) OVER (ORDER BY bin DESC) AS BIGINT) AS cum,
             CAST(SUM(nb) OVER (ORDER BY bin DESC) AS BIGINT) AS ncum
      FROM b
    ),
    k AS (
      SELECT c.cum, c.ncum, c.nb, c.sb FROM c, st
      WHERE c.cum * 10 >= st.s * 8
      ORDER BY c.bin DESC LIMIT 1
    )
    SELECT st.n AS n_cust, st.s AS total_cents,
           k.ncum - k.nb AS n_top_lower, k.ncum AS n_top_upper,
           ROUND(CAST(k.cum - k.sb AS DOUBLE) / CAST(st.s AS DOUBLE), 9)
             AS share_lower,
           ROUND(CAST(k.cum AS DOUBLE) / CAST(st.s AS DOUBLE), 9) AS share_upper
    FROM st, k
    """,
    tags=("analytics", "pareto", "concentration", "approx"),
)
def ds_pareto_concentration_binned(spark, sf_dir):
    """Pareto top-share audit, PRODUCTION form — the sort-free twin of
    ``ds_pareto_concentration``: instead of ranking every customer in
    one task, per-customer revenues land in the fixed 64-bin grid and
    the "how many customers cover 80% of revenue" answer comes from a
    cumulative scan over the ≤64-row bin array, reported as an explicit
    [lower, upper] customer-count BRACKET whose width is the crossing
    bin's population — the honest resolution statement of a binned
    audit (tighten it by raising the compile-time bin count, never by
    sorting the corpus). The scan is a sequential fold over the
    collected bin array (descending value order), so the plan has no
    window and no global sort; the crossing test cum·10 ≥ 8·S is exact
    integer arithmetic, making every output column — including the two
    share doubles — bit-identical cross-engine and fully hash-matched."""
    x = _conc_customer_cents(spark, sf_dir)
    st = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
    )
    b = _conc_bins(x, st)
    one = b.agg(
        F.collect_list(F.struct("bin", "nb", "sb")).alias("arr")
    ).crossJoin(F.broadcast(st))
    lz = F.lit(0).cast("long")
    init = F.struct(
        lz.alias("cum"),
        lz.alias("ncum"),
        F.lit(False).alias("crossed"),
        lz.alias("n_lo"),
        lz.alias("c_lo"),
        lz.alias("n_hi"),
        lz.alias("c_hi"),
    )

    def step(acc, p):
        new_cum = acc["cum"] + p["sb"]
        new_n = acc["ncum"] + p["nb"]
        cross_now = new_cum * 10 >= F.col("s") * 8
        return F.when(acc["crossed"], acc).otherwise(
            F.struct(
                new_cum.alias("cum"),
                new_n.alias("ncum"),
                cross_now.alias("crossed"),
                F.when(cross_now, acc["ncum"]).otherwise(lz).alias("n_lo"),
                F.when(cross_now, acc["cum"]).otherwise(lz).alias("c_lo"),
                F.when(cross_now, new_n).otherwise(lz).alias("n_hi"),
                F.when(cross_now, new_cum).otherwise(lz).alias("c_hi"),
            )
        )

    acc = F.aggregate(F.reverse(F.array_sort("arr")), init, step)
    return one.select(
        F.col("n").cast("long").alias("n_cust"),
        F.col("s").cast("long").alias("total_cents"),
        acc["n_lo"].alias("n_top_lower"),
        acc["n_hi"].alias("n_top_upper"),
        F.round(acc["c_lo"].cast("double") / F.col("s").cast("double"), 9).alias(
            "share_lower"
        ),
        F.round(acc["c_hi"].cast("double") / F.col("s").cast("double"), 9).alias(
            "share_upper"
        ),
    )


@query(
    "ds_top_movers",
    oracle=f"""
    WITH yearly AS (
      SELECT c.c_mktsegment,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS yr,
             {sql_fixed("o.o_totalprice", 2)}
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, EXTRACT(year FROM o.o_orderdate)
    ),
    ranked AS (
      SELECT c_mktsegment, yr, cents,
             CAST(rank() OVER (PARTITION BY yr ORDER BY cents DESC, c_mktsegment)
                  AS INTEGER) AS rnk
      FROM yearly
    )
    SELECT cur.c_mktsegment, cur.yr, cur.rnk,
           prev.rnk AS prev_rnk,
           prev.rnk - cur.rnk AS rank_gain,
           cur.cents - prev.cents AS cents_delta
    FROM ranked cur
    JOIN ranked prev
      ON prev.c_mktsegment = cur.c_mktsegment AND prev.yr = cur.yr - 1
    ORDER BY cur.yr, cur.rnk, cur.c_mktsegment
    """,
    tags=("analytics", "ranking", "yoy"),
)
def ds_top_movers(spark, sf_dir):
    """Top movers: each segment's revenue rank per year vs its rank the
    previous year — the leaderboard-delta shape behind "biggest
    climbers" dashboards. Revenue is exact cents; rank ties break on
    the segment name so both engines agree. The self-join on
    (segment, year−1) runs over the tiny yearly aggregate (|segments|
    × |years| rows), never the fact table — the facts are reduced by
    one map-combined aggregate first."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yearly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", F.year("o_orderdate").alias("yr"))
        .agg(fixed("o_totalprice", 2).alias("cents"))
    )
    w = Window.partitionBy("yr").orderBy(F.col("cents").desc(), "c_mktsegment")
    ranked = yearly.select(
        "c_mktsegment", "yr", "cents", F.rank().over(w).cast("int").alias("rnk")
    )
    cur, prev = ranked.alias("cur"), ranked.alias("prev")
    return (
        cur.join(
            prev,
            (F.col("prev.c_mktsegment") == F.col("cur.c_mktsegment"))
            & (F.col("prev.yr") == F.col("cur.yr") - 1),
        )
        .select(
            F.col("cur.c_mktsegment").alias("c_mktsegment"),
            F.col("cur.yr").alias("yr"),
            F.col("cur.rnk").alias("rnk"),
            F.col("prev.rnk").alias("prev_rnk"),
            (F.col("prev.rnk") - F.col("cur.rnk")).alias("rank_gain"),
            (F.col("cur.cents") - F.col("prev.cents")).alias("cents_delta"),
        )
        .orderBy("yr", "rnk", "c_mktsegment")
    )


@query(
    "ds_new_vs_returning",
    oracle="""
    WITH cy AS (
      SELECT DISTINCT o_custkey,
             CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr
      FROM orders
    ),
    firsts AS (SELECT o_custkey, MIN(yr) AS first_yr FROM cy GROUP BY o_custkey)
    SELECT cy.yr,
           COUNT(*) AS n_active,
           COUNT(*) FILTER (WHERE cy.yr = f.first_yr) AS n_new,
           COUNT(*) FILTER (WHERE cy.yr > f.first_yr) AS n_returning
    FROM cy JOIN firsts f ON cy.o_custkey = f.o_custkey
    GROUP BY cy.yr
    ORDER BY cy.yr
    """,
    tags=("analytics", "growth", "retention"),
)
def ds_new_vs_returning(spark, sf_dir):
    """New-vs-returning decomposition: per year, how many active
    customers are in their first year vs repeat — the growth-quality
    split every revenue dashboard leads with. Facts reduce to
    distinct (customer, year) pairs in one aggregate; first-year is a
    second aggregate of that same small relation; the join is
    customer-keyed and AQE-broadcastable. n_new + n_returning =
    n_active by construction (property-testable)."""
    o = t(spark, sf_dir, "orders")
    cy = o.select(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).distinct()
    firsts = cy.groupBy("o_custkey").agg(F.min("yr").alias("first_yr"))
    j = cy.join(firsts, "o_custkey")
    return (
        j.groupBy("yr")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.when(F.col("yr") == F.col("first_yr"), 1)).alias("n_new"),
            F.count(F.when(F.col("yr") > F.col("first_yr"), 1)).alias("n_returning"),
        )
        .transform(order_bounded, "yr")
    )


@query(
    "ds_cart_abandonment",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
      SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, sid,
             COUNT(*) AS n_events,
             MAX(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
               AS has_browse,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS has_purchase
      FROM numbered GROUP BY user_id, sid
    )
    SELECT LEAST(n_events, 5) AS len_bucket,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN has_browse = 1 AND has_purchase = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
           CAST(SUM(has_purchase) AS BIGINT) AS n_converted
    FROM sessions
    GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "sessionization", "abandonment"),
)
def ds_cart_abandonment(spark, sf_dir):
    """Cart abandonment by session length: sessionize each user's
    events (30-min inactivity gap, the gaps-and-islands window),
    classify sessions as browsed-but-not-purchased vs converted, and
    profile by session size (5+ bucketed). The two windows share one
    shuffle on user_id (same spec, Catalyst collapses them); session
    classification is a map-combined aggregate over (user, sid) —
    the event table never joins itself. The conversion complement
    makes the result self-auditing: abandoned + converted ≤
    sessions."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    flagged = e.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us >= 1800000000), 1).otherwise(0),
    )
    numbered = flagged.withColumn(
        "sid",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max(
            F.when(F.col("event_type").isin("view", "click"), 1).otherwise(0)
        ).alias("has_browse"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_purchase"
        ),
    )
    return (
        sessions.groupBy(F.least("n_events", F.lit(5)).alias("len_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(
                F.when(
                    (F.col("has_browse") == 1) & (F.col("has_purchase") == 0), 1
                ).otherwise(0)
            ).alias("n_abandoned"),
            F.sum("has_purchase").alias("n_converted"),
        )
        .transform(order_bounded, "len_bucket")
    )


@query(
    "ds_sequence_pattern",
    oracle="""
    WITH recent AS (
      SELECT user_id, ts, event_id, event_type FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) <= 4096
    ),
    seqs AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS seq
      FROM recent GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS converted,
           regexp_matches(seq, 'e{2,}') AS error_burst
    FROM seqs
    WHERE regexp_matches(seq, 'v.*c.*p') OR regexp_matches(seq, 'e{2,}')
    ORDER BY user_id
    """,
    tags=("analytics", "sequence", "pattern"),
)
def ds_sequence_pattern(spark, sf_dir):
    """Event-sequence pattern matching — the MATCH_RECOGNIZE capability
    Spark lacks natively, recovered by compiling each user's ordered
    event history to a compact symbol string (one char per event, first
    letters are distinct across the five event types) and running
    regexes over it: ``v.*c.*p`` = the ordered view→click→purchase
    conversion, ``e{2,}`` = consecutive-error bursts.

    Scale shape: ONE shuffle (the window and the groupBy share the
    user_id hash partitioning — Catalyst reuses the exchange); per-user
    state is HARD-BOUNDED at the 4,096 most recent events (window tail
    by (ts, event_id) desc, mirrored by the oracle's QUALIFY), so a
    single hot key can collect at most 4 KB of symbols instead of its
    whole history — the cap that keeps a skewed user from blowing one
    task's memory at 100 TB. The window sort spills; collect_list
    cannot — bounding its input is the correct order of operations.
    collect_list's arrival order is nondeterministic, so the struct
    array is array_sort'ed by (ts, event_id) — a total order — before
    symbols are joined, making the string, and everything derived from
    it, deterministic at any parallelism. Regex evaluation is per-row
    JVM work inside codegen."""
    e = t(spark, sf_dir, "events")
    wtail = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        e.withColumn("rn", F.row_number().over(wtail))
        .filter(F.col("rn") <= 4096)
        .drop("rn")
    )
    ordered = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    seq = F.array_join(
        F.transform(ordered, lambda s: F.substring(s["event_type"], 1, 1)), ""
    )
    return (
        recent.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").cast("long").alias("n_events"),
            F.col("seq").rlike("v.*c.*p").alias("converted"),
            F.col("seq").rlike("e{2,}").alias("error_burst"),
        )
        .filter(F.col("converted") | F.col("error_burst"))
        .orderBy("user_id")
    )


@query(
    "ds_repurchase_interval",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE)
               - lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
                                                      ORDER BY o_orderdate, o_orderkey)
               AS gap_days
      FROM orders
    ),
    seg AS (
      SELECT c.c_mktsegment, CAST(g.gap_days AS BIGINT) AS gap_days
      FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
      WHERE g.gap_days IS NOT NULL
    ),
    ranked AS (
      SELECT c_mktsegment, gap_days,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY gap_days, gap_days) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM seg
    )
    SELECT c_mktsegment,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_days END)
             AS median_gap_days
    FROM ranked
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("analytics", "retention", "median", "interval"),
)
def ds_repurchase_interval(spark, sf_dir):
    """Median time between consecutive orders per market segment — the
    repeat-purchase cadence metric. Per-customer gaps come from one lag
    window over (custkey | orderdate, orderkey), diffed at day
    granularity (datediff — o_orderdate is date-grained); the portable
    discrete median (rank = ⌈n/2⌉, no interpolation — same technique as
    win_median_disc) keeps the answer an actual data value, exact in
    both engines.

    Scale shape: the lag window shuffles once on o_custkey; the
    customer join attaches the segment to the already-shrunken gap
    relation; the median ranks within 5 segment partitions of gap rows
    (≈|orders| rows total, one more shuffle). Integer day gaps — no
    float anywhere."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    wlag = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(wlag))
        )
        .cast("long")
        .alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    seg = gaps.join(c, gaps.o_custkey == c.c_custkey).select("c_mktsegment", "gap_days")
    wr = Window.partitionBy("c_mktsegment").orderBy("gap_days", "gap_days")
    wn = Window.partitionBy("c_mktsegment")
    ranked = seg.select(
        "c_mktsegment",
        "gap_days",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.max("n").cast("long").alias("n_gaps"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("gap_days"))
            ).alias("median_gap_days"),
        )
        .transform(order_bounded, "c_mktsegment")
    )


@query(
    "ds_event_transition",
    oracle="""
    WITH pairs AS (
      SELECT event_type AS prev_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    counts AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM pairs WHERE next_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
           ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY prev_type), 8) AS prob
    FROM counts
    ORDER BY prev_type, next_type
    """,
    tags=("analytics", "markov", "transition", "sequence"),
)
def ds_event_transition(spark, sf_dir):
    """First-order Markov transition matrix over per-user event streams:
    P(next event type | current) — the behavioral model behind funnel
    diagnosis and next-action prediction, built from consecutive event
    pairs (lead over the per-user total order, so boundaries between
    users never fabricate a transition).

    Scale shape: one shuffle on user_id for the lead window, one 25-row
    aggregate on the (prev, next) pair; the probability normalization is
    a window over the TYPE-cardinality² aggregate — bounded output, not
    the event stream. Deterministic at any parallelism; probabilities
    rounded to 8 dp for cross-engine hashing."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wnorm = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wnorm), 8).alias("prob"),
    ).orderBy("prev_type", "next_type")


_COVER_TTL_US = 300_000_000  # each event keeps its user "active" for 5 min


@query(
    "win_interval_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + {_COVER_TTL_US} AS e
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pme
      FROM iv
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s, event_id
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM m
    ),
    g AS (
      SELECT user_id, island, MIN(s) AS st, MAX(e) AS en, COUNT(*) AS ne
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id, CAST(SUM(ne) AS BIGINT) AS n_events, COUNT(*) AS n_islands,
           CAST(SUM(en - st) AS BIGINT) AS covered_us
    FROM g GROUP BY user_id
    """,
    tags=("window", "interval", "sweep-line", "sessionize"),
)
def win_interval_coverage(spark, sf_dir):
    """Interval-UNION coverage per user (sweep line over windows): each
    event opens a 5-minute activity interval; overlapping intervals
    merge into islands, and the answer is each user's total covered
    time plus how many disjoint activity islands produced it — distinct
    from sessionization (gap-based) because coverage measures the union
    LENGTH of possibly-overlapping validity windows, the shape used for
    uptime, concurrent-session, and SLA-coverage accounting.

    The classic sweep line as two window passes over ONE shuffle
    (both windows share the (user_id | s, event_id) spec, so Catalyst
    collapses them into a single sort): running max of prior interval
    ends detects island starts (an interval whose start exceeds every
    earlier end), a running sum numbers the islands, then one aggregate
    per island and one per user. All arithmetic is integer microseconds
    — exact cross-engine. Scale shape: windows partition by user_id
    (cardinality grows with the corpus, no global window), aggregates
    are partial-merged; nothing holds more than one user's sorted
    events."""
    iv = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(_COVER_TTL_US)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = iv.select(
        "user_id",
        "s",
        "e",
        F.sum(
            F.when(prev_max_end.isNull() | (F.col("s") > prev_max_end), 1).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    g = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("st"), F.max("e").alias("en"), F.count(F.lit(1)).alias("ne")
    )
    return g.groupBy("user_id").agg(
        F.sum("ne").alias("n_events"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("en") - F.col("st")).alias("covered_us"),
    )


_EWMA_ALPHA = 0.25
_EWMA_TAIL = 32


@query(
    "win_ewma_fold",
    oracle=f"""
    WITH tail_ev AS (
      SELECT user_id, ts, event_id, value FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC)
              <= {_EWMA_TAIL}
    ),
    seq AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM tail_ev GROUP BY user_id
    )
    SELECT user_id, len(vals) AS n_used, vals[-1] AS last_value,
           list_reduce(vals,
                       (a, b) -> {_EWMA_ALPHA} * b + {1 - _EWMA_ALPHA} * a)
             AS ewma
    FROM seq
    """,
    tags=("window", "ewma", "smoothing", "stateful"),
)
def win_ewma_fold(spark, sf_dir):
    """Exponentially-weighted moving average per user — the recursive
    smoother (acc' = α·x + (1-α)·acc) that no closed-form window frame
    expresses, computed as a SEQUENTIAL FOLD over each user's ordered
    recent values: window-tail the last 32 events (hard state bound,
    same posture as `ds_sequence_pattern` — the window sort spills,
    collect_list cannot), collect in time order, fold. Because both
    engines run the identical per-step IEEE expression in the identical
    order, the smoothed value is bit-identical cross-engine with no
    tolerance band.

    Scale shape: one window pass + one grouped collect, both
    partitioned by user_id; per-user state is ≤32 doubles by
    construction. The streaming twin of this fold is an
    `applyInPandasWithState` accumulator; batch-side this formulation
    is exactly how per-key online statistics are backfilled."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    tail_ev = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EWMA_TAIL)
        .select("user_id", "ts", "event_id", "value")
    )
    seq = tail_ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vals")
    )
    return seq.select(
        "user_id",
        F.size("vals").alias("n_used"),
        F.element_at("vals", -1).alias("last_value"),
        F.aggregate(
            F.slice(F.col("vals"), 2, F.size("vals") - 1),
            F.element_at("vals", 1),
            lambda acc, x: F.lit(_EWMA_ALPHA) * x + F.lit(1 - _EWMA_ALPHA) * acc,
        ).alias("ewma"),
    )


@query(
    "ds_survival_km",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS md FROM orders),
    cust AS (
      SELECT o_custkey, list_sort(list(o_orderdate)) AS ds
      FROM orders GROUP BY o_custkey
    ),
    spans AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN len(u.ds) >= 2 THEN 1 ELSE 0 END AS event,
             CASE WHEN len(u.ds) >= 2
                  THEN date_diff('day', CAST(u.ds[1] AS DATE), CAST(u.ds[2] AS DATE))
                  ELSE date_diff('day', CAST(u.ds[1] AS DATE), CAST(m.md AS DATE))
             END AS dur
      FROM cust u JOIN customer c ON c.c_custkey = u.o_custkey, maxd m
    ),
    seg_tot AS (SELECT segment, COUNT(*) AS n_total FROM spans GROUP BY segment),
    at_t AS (
      SELECT segment, dur, CAST(SUM(event) AS BIGINT) AS d_events,
             CAST(COUNT(*) - SUM(event) AS BIGINT) AS c_censored
      FROM spans GROUP BY segment, dur
    ),
    risk AS (
      SELECT a.segment, a.dur, a.d_events, a.c_censored,
             t.n_total
               - COALESCE(CAST(SUM(a.d_events + a.c_censored) OVER
                   (PARTITION BY a.segment ORDER BY a.dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS BIGINT), 0) AS n_at_risk
      FROM at_t a JOIN seg_tot t USING (segment)
    ),
    km AS (
      SELECT segment, dur, d_events, c_censored, n_at_risk,
             1.0 - d_events / n_at_risk AS factor
      FROM risk
    ),
    curve AS (
      SELECT segment, dur, d_events, c_censored, n_at_risk,
             SUM(CASE WHEN factor > 0 THEN LN(factor) END) OVER w AS cum_log,
             MAX(CASE WHEN factor = 0 THEN 1 ELSE 0 END) OVER w AS hit_zero
      FROM km
      WINDOW w AS (PARTITION BY segment ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT segment, dur AS t_days, n_at_risk, d_events, c_censored,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(EXP(COALESCE(cum_log, 0.0)), 8) END AS survival
    FROM curve WHERE d_events > 0
    """,
    tags=("analytics", "survival", "kaplan-meier", "censoring"),
)
def ds_survival_km(spark, sf_dir):
    """Kaplan-Meier survival curve per market segment for
    time-to-second-order, WITH right-censoring: single-order customers
    are censored at the corpus's last order date instead of being
    dropped (dropping them is the classic retention-analysis bias —
    they were still 'at risk'). S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) over event
    times, the estimator churn/retention teams publish.

    Scale shape: per-customer spans come from one grouped collect of
    ~10 dates (spec-bounded); the curve itself runs over per-(segment,
    duration) AGGREGATED rows — the windows walk distinct durations
    (bounded by the calendar), never raw customers. The product is
    taken in log space with a cumulative window sum and rounded at
    1e-8 (the documented posture for transcendental aggregates);
    risk-set counts and event counts are exact integers. A zero factor
    (everyone at risk fails) pins survival to exactly 0 thereafter
    without ln(0) — both engines short-circuit via the hit_zero flag."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    maxd = o.agg(F.max("o_orderdate").alias("md"))
    cust = o.groupBy("o_custkey").agg(
        F.sort_array(F.collect_list("o_orderdate")).alias("ds")
    )
    spans = (
        cust.join(c, cust.o_custkey == c.c_custkey)
        .crossJoin(F.broadcast(maxd))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.size("ds") >= 2, 1).otherwise(0).alias("event"),
            F.when(
                F.size("ds") >= 2,
                F.datediff(
                    F.element_at("ds", 2).cast("date"),
                    F.element_at("ds", 1).cast("date"),
                ),
            )
            .otherwise(
                F.datediff(F.col("md").cast("date"), F.element_at("ds", 1).cast("date"))
            )
            .alias("dur"),
        )
    )
    seg_tot = spans.groupBy("segment").agg(F.count(F.lit(1)).alias("n_total"))
    at_t = spans.groupBy("segment", "dur").agg(
        F.sum("event").alias("d_events"),
        (F.count(F.lit(1)) - F.sum("event")).alias("c_censored"),
    )
    w_prev = (
        Window.partitionBy("segment")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = (
        at_t.join(seg_tot, "segment")
        .select(
            "segment",
            "dur",
            "d_events",
            "c_censored",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum(F.col("d_events") + F.col("c_censored")).over(w_prev),
                    F.lit(0),
                )
            ).alias("n_at_risk"),
        )
    )
    factor = 1.0 - F.col("d_events") / F.col("n_at_risk")
    w_cum = (
        Window.partitionBy("segment")
        .orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = risk.withColumn("factor", factor).select(
        "segment",
        "dur",
        "d_events",
        "c_censored",
        "n_at_risk",
        F.sum(F.when(F.col("factor") > 0, F.log("factor"))).over(w_cum).alias("cum_log"),
        F.max(F.when(F.col("factor") == 0, 1).otherwise(0)).over(w_cum).alias("hit_zero"),
    )
    return curve.filter(F.col("d_events") > 0).select(
        "segment",
        F.col("dur").alias("t_days"),
        "n_at_risk",
        "d_events",
        "c_censored",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.coalesce(F.col("cum_log"), F.lit(0.0))), 8))
        .alias("survival"),
    )


@query(
    "ds_seasonal_naive_forecast",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS actual
      FROM events GROUP BY event_type, d
    )
    SELECT a.event_type, a.d, a.actual, f.actual AS forecast,
           ABS(a.actual - f.actual) AS abs_err,
           ABS(a.actual - f.actual) / a.actual AS ape
    FROM daily a JOIN daily f
      ON f.event_type = a.event_type AND f.d = a.d - 7
    ORDER BY a.event_type, a.d
    """,
    tags=("analytics", "forecast", "seasonal", "baseline"),
)
def ds_seasonal_naive_forecast(spark, sf_dir):
    """Seasonal-naive forecast baseline: predict each (event_type, day)
    count with the SAME WEEKDAY one week earlier, scoring absolute and
    percentage error per day — the baseline every forecasting system
    must beat before a model earns its keep (and the shape of the
    backtest join: actuals ⋈ lagged actuals on a calendar key).

    A date-equality self-join of the per-day aggregate, NOT a row-lag
    window: missing days must yield no forecast rather than silently
    lagging to the wrong day. Both sides are the same daily relation
    (one shuffle, exchange reused); row counts are exact ints, so the
    error ratios are bit-identical cross-engine."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("actual")
    )
    f = daily.select(
        F.col("event_type"),
        F.date_add("d", 7).alias("d"),
        F.col("actual").alias("forecast"),
    )
    return (
        daily.join(f, ["event_type", "d"])
        .select(
            "event_type",
            "d",
            "actual",
            "forecast",
            F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
            (F.abs(F.col("actual") - F.col("forecast")) / F.col("actual")).alias("ape"),
        )
        .orderBy("event_type", "d")
    )


_HOLT_A = 0.5  # level smoothing
_HOLT_B = 0.3  # trend smoothing


@query(
    "win_holt_linear_fold",
    oracle=f"""
    WITH tail_ev AS (
      SELECT user_id, ts, event_id, value FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) <= {_EWMA_TAIL}
    ),
    seq AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vals
      FROM tail_ev GROUP BY user_id
    ),
    st AS (
      SELECT user_id, len(vals) AS n_used,
             -- state encoded as [level, trend]: DuckDB v1.0.0 mis-evaluates
             -- STRUCT-typed accumulators in multi-step list_reduce (verified:
             -- single application correct, folded result wrong), while
             -- LIST-typed accumulators fold correctly
             list_reduce(
               list_prepend([CAST(vals[1] AS DOUBLE), CAST(0.0 AS DOUBLE)],
                 list_transform(vals[2:], x -> [CAST(x AS DOUBLE),
                                                CAST(0.0 AS DOUBLE)])),
               (acc, e) -> [
                 0.5 * e[1] + 0.5 * (acc[1] + acc[2]),
                 0.3 * (0.5 * e[1] + 0.5 * (acc[1] + acc[2])
                        - acc[1]) + 0.7 * acc[2]]) AS s
      FROM seq
    )
    SELECT user_id, n_used, s[1] AS level, s[2] AS trend,
           s[1] + s[2] AS forecast_next
    FROM st
    """,
    tags=("window", "holt", "forecast", "stateful"),
)
def win_holt_linear_fold(spark, sf_dir):
    """Holt double-exponential smoothing (level + trend) per user — the
    next step up from `win_ewma_fold`: the fold state is a STRUCT
    (level, trend), updated by the classic recurrences l' = αx +
    (1−α)(l+t), t' = β(l'−l) + (1−β)t; the one-step-ahead forecast
    l+t is what an alerting pipeline compares the next observation
    against. Same hard state bound (last 32 events via window tail) and
    the same bit-identical-fold contract: both engines evaluate the
    identical per-step expressions in the identical order — including
    the deliberately duplicated l' subexpression inside t' — so level,
    trend, and forecast carry no tolerance band at all."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    tail_ev = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EWMA_TAIL)
        .select("user_id", "ts", "event_id", "value")
    )
    seq = tail_ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s["value"],
        ).alias("vals")
    )
    a, b = F.lit(_HOLT_A), F.lit(_HOLT_B)
    one_a, one_b = F.lit(1 - _HOLT_A), F.lit(1 - _HOLT_B)

    def step(acc, x):
        lvl = a * x + one_a * (acc["l"] + acc["t"])
        trd = b * (a * x + one_a * (acc["l"] + acc["t"]) - acc["l"]) + one_b * acc["t"]
        return F.struct(lvl.alias("l"), trd.alias("t"))

    st = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.struct(
            F.element_at("vals", 1).cast("double").alias("l"),
            F.lit(0.0).alias("t"),
        ),
        step,
    )
    return seq.select(
        "user_id",
        F.size("vals").alias("n_used"),
        st["l"].alias("level"),
        st["t"].alias("trend"),
        (st["l"] + st["t"]).alias("forecast_next"),
    )


@query(
    "ds_cohort_ltv_curve",
    oracle=f"""
    WITH f AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    r AS (
      SELECT f.cohort,
             CAST((EXTRACT(year FROM o.o_orderdate) * 12
                   + EXTRACT(month FROM o.o_orderdate))
                  - (EXTRACT(year FROM f.cohort) * 12
                     + EXTRACT(month FROM f.cohort)) AS INTEGER) AS age_months,
             {sql_fixed("o.o_totalprice", 2)}
               AS cents
      FROM orders o JOIN f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    cs AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers FROM f GROUP BY 1
    ),
    c AS (
      SELECT cohort, age_months,
             CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age_months)
                  AS BIGINT) AS cum_cents
      FROM r
    )
    SELECT strftime(c.cohort, '%Y-%m') AS cohort_month, c.age_months,
           s.n_customers, c.cum_cents,
           CAST(c.cum_cents AS DOUBLE) / 100.0
             / CAST(s.n_customers AS DOUBLE) AS ltv_per_customer
    FROM c JOIN cs s USING (cohort)
    ORDER BY cohort_month, age_months
    """,
    tags=("analytics", "cohort", "ltv", "retention"),
)
def ds_cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue per cohort member tracked by months since
    acquisition — the payback-period readout (which cohort recoups
    acquisition cost by month N) that sits one step past
    ``ds_retention_cohort``'s activity counts. Age is exact integer
    month arithmetic (year*12+month deltas, not date intervals), revenue
    is exact cents, and the per-customer LTV divides two exact integers
    — every column hash-matches the oracle.

    Scale shape: facts reduce to per-customer first-months and to
    (cohort, age) revenue cells before anything else; the cumulative
    window partitions by cohort over age rows — BOTH calendar-bounded
    (months elapsed), never corpus-sized, and the window is partitioned
    so no single-task funnel exists. The cohort-size join input is
    |cohorts| rows."""
    o = t(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort")
    )
    months = lambda c: F.year(c) * 12 + F.month(c)  # noqa: E731
    r = (
        o.join(f, "o_custkey")
        .groupBy(
            "cohort",
            (months(F.col("o_orderdate")) - months(F.col("cohort")))
            .cast("int")
            .alias("age_months"),
        )
        .agg(fixed("o_totalprice", 2).alias("cents"))
    )
    cs = f.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_customers"))
    w = (
        Window.partitionBy("cohort")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = r.select("cohort", "age_months", F.sum("cents").over(w).alias("cum_cents"))
    return (
        c.join(cs, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            "age_months",
            "n_customers",
            "cum_cents",
            (
                F.col("cum_cents").cast("double")
                / F.lit(100.0)
                / F.col("n_customers").cast("double")
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


@query(
    "ds_attribution_time_decay",
    oracle=f"""
    WITH p AS (
      SELECT user_id, ts AS pts, event_id AS pid,
             {sql_units("value", 6)} AS pv6
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
      SELECT user_id, ts, event_type FROM events
      WHERE event_type IN ('click', 'signup', 'view')
    ),
    pair AS (
      SELECT p.pid, p.pv6, t.event_type,
             CAST(1000000 // (1 << (date_diff('day', CAST(t.ts AS DATE),
                                               CAST(p.pts AS DATE)) // 7))
                  AS BIGINT) AS w
      FROM p JOIN tch t ON p.user_id = t.user_id
      WHERE t.ts <= p.pts
        AND date_diff('day', CAST(t.ts AS DATE), CAST(p.pts AS DATE)) <= 28
    ),
    sw AS (SELECT pid, CAST(SUM(w) AS BIGINT) AS sw FROM pair GROUP BY pid),
    cr AS (
      SELECT pr.event_type, pr.pv6 * pr.w // s.sw AS credit6
      FROM pair pr JOIN sw s USING (pid)
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(CAST(SUM(credit6) AS BIGINT) AS DOUBLE) / 1000000
             AS credited_value
    FROM cr GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "attribution", "time-decay"),
)
def ds_attribution_time_decay(spark, sf_dir):
    """Time-decay multi-touch attribution: every purchase's revenue is
    split across the user's touchpoints (click/signup/view) in the prior
    28 days, each touch weighted by 2^-(weeks since touch) — the decay
    model between the first/last-touch extremes of
    ``ds_attribution_touch``. Weights are EXACT integers (micro-units
    halved per full week via a shift, never a float pow), the per-touch
    credit is integer pv·w div Σw, and only the final readback divides
    to dollars — the whole credit ledger hash-matches the oracle.

    Scale shape: the purchase×touch pairing is an equality join on
    user_id with the 28-day range predicate applied inside the join —
    per-user fan-out is (touches within a month), bounded by activity,
    not corpus size; the per-purchase weight sum is a map-combined
    aggregate on pid; the channel rollup is |channels| rows. Purchases
    with no in-window touch drop out (assisted conversions only), the
    standard attribution-report contract."""
    e = t(spark, sf_dir, "events")
    pv6 = units("value", 6)
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid"),
        pv6.alias("pv6"),
    )
    tch = e.filter(F.col("event_type").isin("click", "signup", "view")).select(
        F.col("user_id").alias("t_user"), "ts", "event_type"
    )
    gap = F.datediff(F.to_date("pts"), F.to_date("ts"))
    pair = (
        p.join(tch, p.user_id == tch.t_user)
        .filter((F.col("ts") <= F.col("pts")) & (gap <= 28))
        .select("pid", "pv6", "event_type", gap.alias("gap"))
        .select(
            "pid",
            "pv6",
            "event_type",
            F.expr("CAST(1000000 div shiftleft(1, gap div 7) AS BIGINT)").alias("w"),
        )
    )
    sw = pair.groupBy("pid").agg(F.sum("w").alias("sw"))
    cr = pair.join(sw, "pid").select(
        "event_type",
        F.expr("CAST((pv6 * w) div sw AS BIGINT)").alias("credit6"),
    )
    return (
        cr.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            (F.sum("credit6").cast("double") / F.lit(1000000)).alias(
                "credited_value"
            ),
        )
        .transform(order_bounded, "channel")
    )


@query(
    "ds_conversion_lag_histogram",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_buy
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= v.t_view
      GROUP BY e.user_id
    ),
    lag AS (
      SELECT LEAST(7, (p.t_buy - v.t_view) // 86400000000) AS bucket
      FROM p JOIN v USING (user_id)
    ),
    spine AS (SELECT unnest(generate_series(0, 7)) AS bucket),
    c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_users FROM lag GROUP BY bucket)
    SELECT s.bucket, COALESCE(c.n_users, 0) AS n_users
    FROM spine s LEFT JOIN c USING (bucket)
    ORDER BY s.bucket
    """,
    tags=("analytics", "funnel", "lag", "histogram"),
)
def ds_conversion_lag_histogram(spark, sf_dir):
    """Conversion-lag distribution: days between a user's first view and
    their first purchase at-or-after it, bucketed on a fixed 0..7+ day
    spine — the time-to-convert readout that sits beside
    ``ds_funnel_conversion``'s stage counts (how MANY convert) with the
    WHEN. Lags are exact integer microsecond differences floored to
    days (integer div), so every bucket count hash-matches.

    Scale shape: two groupBy(user_id) min-timestamp aggregates (the
    funnel's monotone-shrink pattern — raw events never join raw
    events), one bounded 8-bucket count, fixed spine."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_view"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_micros("ts").alias("t"))
        .join(v, "user_id")
        .filter(F.col("t") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_buy"), F.min("t_view").alias("t_view"))
    )
    lag = p.select(
        F.least(
            F.lit(7), F.expr("(t_buy - t_view) div 86400000000")
        ).alias("bucket")
    )
    c = lag.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_users"))
    spine = spark.range(0, 8).select(F.col("id").alias("bucket"))
    return (
        spine.join(c, "bucket", "left")
        .select("bucket", F.coalesce("n_users", F.lit(0)).alias("n_users"))
        .orderBy("bucket")
    )


_ACF_MAX_LAG = 7


@query(
    "ds_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             {sql_fixed("value", 6)} AS v6
      FROM events GROUP BY 1, 2
    ),
    ks AS (SELECT CAST(unnest(generate_series(1, {_ACF_MAX_LAG})) AS INTEGER) AS lag),
    p AS (
      SELECT x.event_type, ks.lag,
             CAST(x.v6 AS HUGEINT) AS xv, CAST(y.v6 AS HUGEINT) AS yv
      FROM daily x
      CROSS JOIN ks
      JOIN daily y ON y.event_type = x.event_type
                  AND y.d = x.d - to_days(ks.lag)
    ),
    m AS (
      SELECT event_type, lag, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(xv) AS sx, SUM(yv) AS sy, SUM(xv * yv) AS sxy,
             SUM(xv * xv) AS sxx, SUM(yv * yv) AS syy
      FROM p GROUP BY 1, 2
    )
    SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                          * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 9)
             AS acf
    FROM m
    ORDER BY event_type, lag
    """,
    tags=("analytics", "timeseries", "autocorrelation"),
)
def ds_autocorrelation(spark, sf_dir):
    """Lag-1..{_ACF_MAX_LAG} AUTOCORRELATION of each event type's daily
    value series — the seasonality detector behind forecast-model
    choice (a lag-7 spike says weekly cycle; fast decay says the
    seasonal-naive baseline is wrong): Pearson correlation of (day t,
    day t−k) pairs per lag, from exact fixed-point daily totals. Lagged
    pairing is an EQUALITY join of the daily aggregate to itself on
    (event_type, d − lag) against a 7-row broadcast lag spine — no
    window at all, so gaps in the calendar pair only true k-day-apart
    days (the honest ACF of an irregular series). All five moments
    accumulate as decimal(38,0) integers (squares of 1e10-scale
    micro-units overflow long); the correlation is formed from exact
    integers with one final double op chain in fixed order, rounded at
    9 on O(1) magnitudes. Zero-variance series yield NULL (NULLIF
    guard) identically in both engines.

    Scale shape: one map-combined daily aggregate (the only data-sized
    pass), then a self-join of the tiny (types × days) relation — the
    ACF cost is independent of corpus row count."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(fixed("value", 6).alias("v6"))
    ks = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    x = daily.crossJoin(F.broadcast(ks)).select(
        "event_type", "lag", F.date_sub(F.col("d"), F.col("lag")).alias("dprev"),
        F.col("v6").cast("decimal(38,0)").alias("xv"),
    )
    y = daily.select(
        F.col("event_type").alias("event_type"),
        F.col("d").alias("dprev"),
        F.col("v6").cast("decimal(38,0)").alias("yv"),
    )
    m = (
        x.join(y, ["event_type", "dprev"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("xv").alias("sx"),
            F.sum("yv").alias("sy"),
            F.sum(F.col("xv") * F.col("yv")).alias("sxy"),
            F.sum(F.col("xv") * F.col("xv")).alias("sxx"),
            F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "event_type",
        "lag",
        F.col("n").cast("long").alias("n_pairs"),
        F.round(num / F.when(den != 0.0, den), 9).alias("acf"),
    ).transform(order_bounded, "event_type", "lag")


_SLO_BUDGET_NUM, _SLO_BUDGET_DEN = 1, 4  # error budget = 25% of requests
_SLO_LONG_H = 6  # long-window span (hours)


@query(
    "ds_slo_burn_rate",
    oracle=f"""
    WITH hourly AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + (epoch_us(ts) // 3600000000 * 3600) * INTERVAL 1 SECOND AS h,
             CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_err
      FROM events GROUP BY 1
    ),
    rolled AS (
      SELECT h, n_total, n_err,
             CAST(SUM(n_total) OVER w6 AS BIGINT) AS lt,
             CAST(SUM(n_err) OVER w6 AS BIGINT) AS le
      FROM hourly
      WINDOW w6 AS (ORDER BY h ROWS BETWEEN {_SLO_LONG_H - 1} PRECEDING
                    AND CURRENT ROW)
    )
    SELECT h, n_total, n_err,
           (CAST(n_err AS DOUBLE) / n_total)
             / ({_SLO_BUDGET_NUM} / CAST({_SLO_BUDGET_DEN} AS DOUBLE))
             AS short_burn,
           (CAST(le AS DOUBLE) / lt)
             / ({_SLO_BUDGET_NUM} / CAST({_SLO_BUDGET_DEN} AS DOUBLE))
             AS long_burn,
           (n_err * {_SLO_BUDGET_DEN} > n_total * {_SLO_BUDGET_NUM})
             AND (le * {_SLO_BUDGET_DEN} > lt * {_SLO_BUDGET_NUM}) AS alert
    FROM rolled
    ORDER BY h
    """,
    tags=("analytics", "slo", "burn-rate", "timeseries"),
)
def ds_slo_burn_rate(spark, sf_dir):
    """Multi-window SLO BURN RATE (the Google SRE multiwindow-multiburn
    alert): per hour, the error-budget burn of the hour itself
    (short window) and of the trailing {_SLO_LONG_H}-hour span (long
    window); the alert fires only when BOTH burn — the short window
    gives fast detection, the long window stops one noisy hour from
    paging. Burn = error_rate / budget with a {_SLO_BUDGET_NUM}/{_SLO_BUDGET_DEN}
    budget; the burn doubles are raw divisions of exact integer counts
    (identical IEEE chain), and the alert BOOLEAN is decided by exact
    cross-multiplied integer comparisons — never by comparing rounded
    doubles.

    Scale shape: one map-combined hourly aggregate is the only
    data-sized pass; the trailing window runs over the hourly series —
    bounded by hours elapsed, not corpus size (the
    ``win_cumulative_distinct`` class, allowlisted with that reason)."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_err"),
    )
    w6 = Window.orderBy("h").rowsBetween(-(_SLO_LONG_H - 1), Window.currentRow)
    rolled = hourly.select(
        "h",
        "n_total",
        "n_err",
        F.sum("n_total").over(w6).alias("lt"),
        F.sum("n_err").over(w6).alias("le"),
    )
    budget = F.lit(_SLO_BUDGET_NUM) / F.lit(float(_SLO_BUDGET_DEN))
    return rolled.select(
        "h",
        "n_total",
        "n_err",
        ((F.col("n_err").cast("double") / F.col("n_total")) / budget).alias(
            "short_burn"
        ),
        ((F.col("le").cast("double") / F.col("lt")) / budget).alias("long_burn"),
        (
            (F.col("n_err") * _SLO_BUDGET_DEN > F.col("n_total") * _SLO_BUDGET_NUM)
            & (F.col("le") * _SLO_BUDGET_DEN > F.col("lt") * _SLO_BUDGET_NUM)
        ).alias("alert"),
    ).orderBy("h")


@query(
    "ds_theilsen_trend",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             {sql_fixed("value", 6)} AS v6
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.v6 - a.v6 AS DOUBLE)
               / date_diff('day', a.d, b.d) AS slope,
             a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    r AS (
      SELECT event_type, slope,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM slopes
    )
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           slope AS slope_v6_per_day
    FROM r WHERE rn = (np + 1) // 2
    ORDER BY event_type
    """,
    tags=("analytics", "timeseries", "robust", "theil-sen"),
)
def ds_theilsen_trend(spark, sf_dir):
    """Theil–Sen ROBUST trend per event type: the median of all
    pairwise day-to-day slopes of the daily series — the slope
    estimator with a 29% breakdown point, immune to the outlier days
    that drag least-squares (the robust-statistics companion to
    `outlier_mad_robust`). Slopes are raw IEEE divisions of exact
    fixed-point deltas (Δv6 / Δdays — no rounding, the large-magnitude
    determinism rule), the median is the LOWER median picked by rank
    with a total (slope, d1, d2) tie-break, and everything hash-matches.

    Scale shape: the pair relation is the DAILY AGGREGATE self-joined
    within event type — |days|² per type, calendar-bounded, never
    corpus-sized; the median rank window partitions BY TYPE. The one
    data-sized pass is the map-combined daily aggregate."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(fixed("value", 6).alias("v6"))
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("v6").alias("v1")
    )
    b = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("v6").alias("v2")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            (
                (F.col("v2") - F.col("v1")).cast("double")
                / F.datediff("d2", "d1").cast("double")
            ).alias("slope"),
            "d1",
            "d2",
        )
    )
    wp = Window.partitionBy("event_type")
    r = slopes.select(
        "event_type",
        "slope",
        F.row_number()
        .over(wp.orderBy("slope", "d1", "d2"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("np"),
    )
    return (
        r.filter(F.col("rn") == F.expr("(np + 1) div 2"))
        .select(
            "event_type",
            F.col("np").cast("long").alias("n_pairs"),
            F.col("slope").alias("slope_v6_per_day"),
        )
        .orderBy("event_type")
    )


@query(
    "ds_conformal_interval",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS actual
      FROM events GROUP BY event_type, d
    ),
    back AS (
      SELECT a.event_type, a.d, a.actual, f.actual AS forecast,
             ABS(a.actual - f.actual) AS abs_err
      FROM daily a JOIN daily f
        ON f.event_type = a.event_type AND f.d = a.d - 7
    ),
    lastd AS (SELECT event_type, MAX(d) AS last_d FROM back GROUP BY event_type),
    cal AS (
      SELECT b.event_type, b.abs_err,
             row_number() OVER (PARTITION BY b.event_type
                                ORDER BY b.abs_err, b.d) AS rn,
             COUNT(*) OVER (PARTITION BY b.event_type) AS n
      FROM back b JOIN lastd l
        ON b.event_type = l.event_type AND b.d < l.last_d
    ),
    q AS (
      SELECT event_type, CAST(n AS BIGINT) AS n_cal,
             CAST(abs_err AS BIGINT) AS q_hat
      FROM cal
      WHERE rn = LEAST(n, (9 * n + 18) // 10)
    )
    SELECT p.event_type, q.n_cal, q.q_hat, p.d AS pred_day,
           p.forecast, p.actual,
           p.forecast - q.q_hat AS lo, p.forecast + q.q_hat AS hi,
           p.actual BETWEEN p.forecast - q.q_hat
                        AND p.forecast + q.q_hat AS covered
    FROM back p
    JOIN lastd l ON p.event_type = l.event_type AND p.d = l.last_d
    JOIN q ON q.event_type = p.event_type
    ORDER BY p.event_type
    """,
    tags=("analytics", "forecast", "conformal", "uncertainty"),
)
def ds_conformal_interval(spark, sf_dir):
    """SPLIT-CONFORMAL prediction interval on the seasonal-naive
    forecast: calibrate on every backtest day EXCEPT the newest (the
    past), take q̂ = the ⌈0.9·(n+1)⌉-th smallest absolute residual —
    the distribution-free quantile that guarantees ≥90% coverage with
    NO assumption on the error distribution (the conformal learning
    result) — and issue forecast ± q̂ for the held-out newest day,
    reporting whether the actual landed inside. This is the honest
    uncertainty wrapper a production forecast ships instead of
    Gaussian bands the residuals never earned.

    Everything is exact integers: residuals are count deltas, the
    calibration rank k = least(n, (9n+18) div 10) is integer
    arithmetic, q̂ is an order statistic picked by a rank window
    PARTITIONED BY TYPE over the calendar-bounded backtest relation.
    One daily aggregate is the only data-sized pass."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("actual")
    )
    f = daily.select(
        "event_type",
        F.date_add("d", 7).alias("d"),
        F.col("actual").alias("forecast"),
    )
    back = daily.join(f, ["event_type", "d"]).select(
        "event_type",
        "d",
        "actual",
        "forecast",
        F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
    )
    lastd = back.groupBy("event_type").agg(F.max("d").alias("last_d"))
    wp = Window.partitionBy("event_type")
    cal = (
        back.join(lastd, "event_type")
        .filter(F.col("d") < F.col("last_d"))
        .select(
            "event_type",
            "abs_err",
            F.row_number().over(wp.orderBy("abs_err", "d")).alias("rn"),
            F.count(F.lit(1)).over(wp).alias("n"),
        )
    )
    q = cal.filter(
        F.col("rn") == F.least(F.col("n"), F.expr("(9 * n + 18) div 10"))
    ).select(
        "event_type",
        F.col("n").cast("long").alias("n_cal"),
        F.col("abs_err").cast("long").alias("q_hat"),
    )
    pred = back.join(lastd, "event_type").filter(F.col("d") == F.col("last_d"))
    return (
        pred.join(q, "event_type")
        .select(
            "event_type",
            "n_cal",
            "q_hat",
            F.col("d").alias("pred_day"),
            "forecast",
            "actual",
            (F.col("forecast") - F.col("q_hat")).alias("lo"),
            (F.col("forecast") + F.col("q_hat")).alias("hi"),
            F.col("actual").between(
                F.col("forecast") - F.col("q_hat"),
                F.col("forecast") + F.col("q_hat"),
            ).alias("covered"),
        )
        .orderBy("event_type")
    )


_HW_DAYS = 64  # hard cap: fold over at most the last 64 days per series


@query(
    "ds_holt_winters",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY event_type, d
      QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY d DESC)
              <= {_HW_DAYS}
    ),
    seq AS (
      SELECT event_type, list(x ORDER BY d) AS vals
      FROM daily GROUP BY event_type
    ),
    st AS (
      SELECT event_type, len(vals) AS n_days,
             -- state = [level, trend, s1..s7] (flat DOUBLE list: DuckDB
             -- mis-folds STRUCT accumulators in multi-step list_reduce)
             list_reduce(
               list_prepend(
                 [vals[1], CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                  CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                  CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                  CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],
                 list_transform(vals[2:],
                   x -> [x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                         CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])),
               (acc, e) -> list_concat(list_concat(
                 [0.5 * (e[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
                  0.3 * ((0.5 * (e[1] - acc[3]) + 0.5 * (acc[1] + acc[2]))
                         - acc[1]) + 0.7 * acc[2]],
                 acc[4:9]),
                 [0.2 * (e[1] - acc[1] - acc[2]) + 0.8 * acc[3]])) AS s
      FROM seq
    )
    SELECT event_type, n_days, s[1] AS level, s[2] AS trend,
           s[3] AS season_next, s[1] + s[2] + s[3] AS forecast_next
    FROM st
    ORDER BY event_type
    """,
    tags=("analytics", "forecast", "holt-winters", "seasonal", "stateful"),
)
def ds_holt_winters(spark, sf_dir):
    """Additive Holt-Winters (level + trend + weekly seasonality) over
    per-event-type daily counts — the full triple-exponential recurrence
    on top of `win_holt_linear_fold`'s double smoothing and
    `ds_seasonal_naive_forecast`'s baseline: l' = α(x−s_{t−m}) +
    (1−α)(l+b), b' = β(l'−l) + (1−β)b, s' = γ(x−l−b) + (1−γ)s_{t−m},
    with α=0.5, β=0.3, γ=0.2, m=7. The state is one flat 9-double
    vector [l, b, s1..s7] whose seasonal block ROTATES each step (drop
    head, append s'), so the due seasonal factor is always slot 3 —
    the trick that makes the whole fold a pure positional expression
    both engines evaluate in the identical IEEE order (the duplicated
    l' subexpression inside b' is deliberate), bit-identical with no
    tolerance.

    Scale: the series is calendar-bounded (≤{_HW_DAYS} days per key by
    the QUALIFY tail cap — a hard per-group state bound, like the EWMA
    fold's 32-event tail), the pre-aggregation reduces the fact table to
    (type, day) cells before any list forms, and the fold itself is one
    `F.aggregate` over a ≤64-element array: per-key state is O(m), never
    corpus-sized. Same shape at 100 TB with millions of keys — the fold
    parallelizes per key with zero cross-key traffic."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("d").desc())
    tail = daily.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _HW_DAYS
    )
    seq = tail.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))), lambda s: s["x"]
        ).alias("vals")
    )
    a, one_a = F.lit(0.5), F.lit(0.5)
    b, one_b = F.lit(0.3), F.lit(0.7)
    g, one_g = F.lit(0.2), F.lit(0.8)

    def step(acc, x):
        lvl = a * (x - F.element_at(acc, 3)) + one_a * (
            F.element_at(acc, 1) + F.element_at(acc, 2)
        )
        trd = b * (
            (
                a * (x - F.element_at(acc, 3))
                + one_a * (F.element_at(acc, 1) + F.element_at(acc, 2))
            )
            - F.element_at(acc, 1)
        ) + one_b * F.element_at(acc, 2)
        ssn = g * (
            x - F.element_at(acc, 1) - F.element_at(acc, 2)
        ) + one_g * F.element_at(acc, 3)
        return F.concat(F.array(lvl, trd), F.slice(acc, 4, 6), F.array(ssn))

    zeros = [F.lit(0.0)] * 8
    st = F.aggregate(
        F.slice(F.col("vals"), 2, F.size("vals") - 1),
        F.concat(F.array(F.element_at("vals", 1)), F.array(*zeros)),
        step,
    )
    return seq.select(
        "event_type",
        F.size("vals").cast("long").alias("n_days"),
        F.element_at(st, 1).alias("level"),
        F.element_at(st, 2).alias("trend"),
        F.element_at(st, 3).alias("season_next"),
        (F.element_at(st, 1) + F.element_at(st, 2) + F.element_at(st, 3)).alias(
            "forecast_next"
        ),
    ).transform(order_bounded, "event_type")


@query(
    "ds_ols_moments",
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
             SUM(CAST(days AS HUGEINT) * CAST(days AS HUGEINT)) AS sxx,
             SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS syy
      FROM x GROUP BY segment
    )
    SELECT segment, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_day,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept_cents,
           ROUND((CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE))
                 * (CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * syy - sy * sy AS DOUBLE)), 8) AS r2
    FROM m
    ORDER BY segment
    """,
    tags=("analytics", "regression", "training", "production-twin"),
)
def ds_ols_moments(spark, sf_dir):
    """Per-segment closed-form OLS as a plain JVM-side aggregate — the
    production twin of `udf_grouped_ols_fit` (udfs.py): identical model
    (order value in cents vs calendar day per market segment), but the
    five moments accumulate in a map-combined `groupBy().agg()` with
    DECIMAL(38,0) sums instead of shuffling whole groups to a Python
    worker. This is the form a 100 TB run uses: per-group state is five
    numbers regardless of group size, no Arrow transfer, no
    one-task-per-group ceiling, whole-stage codegen end to end.

    Determinism: days·cents products are exact longs; their sums ride in
    decimal(38,0) (Spark) ≡ HUGEINT (DuckDB) — both exact integer
    arithmetic, so n·Σxy − ΣxΣy is the same integer in both engines and
    the final cast-to-double divisions round identically. r² avoids the
    Δxx·Δyy integer product (which can brush 10³⁸ at large SF) by
    multiplying two exact-int-cast double quotients instead — the same
    scalar IEEE chain in both engines. Slope/intercept are emitted RAW
    (no rounding): exact-int casts + single divisions are bit-identical,
    and equality with the applyInPandas twin is pinned in
    tests/test_extensions.py."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("days"),
        units("o_totalprice", 2).alias("cents"),
    )
    d38 = "decimal(38,0)"
    m = x.groupBy("segment").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("days").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("cents").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("days") * F.col("cents")).cast(d38)).cast(d38).alias("sxy"),
        F.sum((F.col("days") * F.col("days")).cast(d38)).cast(d38).alias("sxx"),
        F.sum((F.col("cents").cast(d38) * F.col("cents").cast(d38))).cast(d38).alias("syy"),
    )
    dxy = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d38)
    dxx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(d38)
    dyy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(d38)
    slope = dxy.cast("double") / dxx.cast("double")
    return (
        m.select(
            "segment",
            F.col("n").cast("long").alias("n"),
            slope.alias("slope_cents_per_day"),
            (
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("n").cast("double")
            ).alias("intercept_cents"),
            F.round(slope * (dxy.cast("double") / dyy.cast("double")), 8).alias("r2"),
        )
        .transform(order_bounded, "segment")
    )


@query(
    "ds_ols_residual_outliers",
    oracle=f"""
    WITH x AS (
      SELECT c.c_mktsegment AS segment, o.o_orderkey,
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
             SUM(CAST(days AS HUGEINT) * CAST(days AS HUGEINT)) AS sxx,
             SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS syy
      FROM x GROUP BY segment
    ),
    fit AS (
      SELECT segment, CAST(n AS BIGINT) AS n_seg,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE) AS a,
             CAST(sy AS DOUBLE) AS sy_d, CAST(sxy AS DOUBLE) AS sxy_d,
             CAST(syy AS DOUBLE) AS syy_d, CAST(n AS DOUBLE) AS n_d
      FROM m
    ),
    sig AS (
      SELECT segment, n_seg, a, b,
             (syy_d - a * sy_d - b * sxy_d) / (n_d - 2.0) AS sigma2
      FROM fit
    )
    SELECT x.segment, x.o_orderkey, x.cents,
           ROUND(CAST(x.cents AS DOUBLE) - (sig.a + sig.b * CAST(x.days AS DOUBLE)),
                 4) AS resid_cents,
           ROUND(SQRT(sig.sigma2), 4) AS sigma_cents,
           sig.n_seg
    FROM x JOIN sig ON x.segment = sig.segment
    WHERE (CAST(x.cents AS DOUBLE) - (sig.a + sig.b * CAST(x.days AS DOUBLE)))
          * (CAST(x.cents AS DOUBLE) - (sig.a + sig.b * CAST(x.days AS DOUBLE)))
          > 9.0 * sig.sigma2
    ORDER BY x.segment, x.o_orderkey
    """,
    tags=("analytics", "regression", "scoring", "outlier"),
)
def ds_ols_residual_outliers(spark, sf_dir):
    """Train → broadcast → score, entirely JVM-side: fit the per-segment
    OLS of `ds_ols_moments`, broadcast the 5 coefficient rows back onto
    the fact relation, and flag every order whose residual exceeds 3
    residual-σ — the batch-inference shape of a model pipeline, with the
    model TRAINED AND SERVED in one plan (no Python worker, no model
    file). Residual variance comes from the normal-equation identity
    SSE = Σy² − aΣy − bΣxy, so training needs only the same exact
    decimal(38)/HUGEINT moments as the fit itself.

    Determinism: moments are exact integers; a, b, σ² are fixed scalar
    IEEE chains on exact-int casts; each row's residual is one fused
    multiply-free chain (cents − (a + b·days)); the 3σ gate compares
    resid² > 9σ² in raw doubles (no sqrt in the predicate).

    Scale: one moment aggregate (map-combined), one broadcast-hash join
    of 5 coefficient rows onto the facts, one map-side filter — nothing
    materializes but the outliers. This is the production scoring path
    whose applyInPandas sibling (`udf_grouped_ols_fit`) would shuffle
    whole segments to Python workers."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("days"),
        units("o_totalprice", 2).alias("cents"),
    )
    x = x.persist()
    d38 = "decimal(38,0)"
    m = x.groupBy("segment").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("days").cast(d38)).cast(d38).alias("sx"),
        F.sum(F.col("cents").cast(d38)).cast(d38).alias("sy"),
        F.sum((F.col("days") * F.col("cents")).cast(d38)).cast(d38).alias("sxy"),
        F.sum((F.col("days") * F.col("days")).cast(d38)).cast(d38).alias("sxx"),
        F.sum((F.col("cents").cast(d38) * F.col("cents").cast(d38))).cast(d38).alias("syy"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(d38).cast("double") / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast(d38).cast("double")
    a = (F.col("sy").cast("double") - b * F.col("sx").cast("double")) / F.col("n").cast(
        "double"
    )
    sig = m.select(
        "segment",
        F.col("n").cast("long").alias("n_seg"),
        a.alias("a"),
        b.alias("b"),
        (
            (F.col("syy").cast("double") - a * F.col("sy").cast("double") - b * F.col("sxy").cast("double"))
            / (F.col("n").cast("double") - 2.0)
        ).alias("sigma2"),
    )
    resid = F.col("cents").cast("double") - (F.col("a") + F.col("b") * F.col("days").cast("double"))
    return (
        x.join(F.broadcast(sig), "segment")
        .filter(resid * resid > 9.0 * F.col("sigma2"))
        .select(
            "segment",
            "o_orderkey",
            "cents",
            F.round(resid, 4).alias("resid_cents"),
            F.round(F.sqrt("sigma2"), 4).alias("sigma_cents"),
            "n_seg",
        )
        .orderBy("segment", "o_orderkey")
    )


@query(
    "ds_mutual_information",
    oracle=f"""
    WITH jt AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y,
             CAST(COUNT(*) AS BIGINT) AS nxy
      FROM orders GROUP BY x, y
    ),
    mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM jt GROUP BY x),
    my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM jt GROUP BY y),
    tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM jt),
    terms AS (
      SELECT {sql_units(
                "(CAST(nxy AS DOUBLE) / n)"
                " * LN((CAST(n AS DOUBLE) * nxy) / (CAST(nx AS DOUBLE) * ny))", 12)} AS mi_t,
             {sql_units("-(CAST(nxy AS DOUBLE) / n) * LN(CAST(nxy AS DOUBLE) / n)", 12)} AS hxy_t
      FROM jt JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
    ),
    hx AS (
      SELECT {sql_fixed("-(CAST(nx AS DOUBLE) / n) * LN(CAST(nx AS DOUBLE) / n)", 12)} AS hx_f
      FROM mx, tot
    ),
    hy AS (
      SELECT {sql_fixed("-(CAST(ny AS DOUBLE) / n) * LN(CAST(ny AS DOUBLE) / n)", 12)} AS hy_f
      FROM my, tot
    )
    SELECT CAST(SUM(mi_t) AS DOUBLE) / 1e12 AS mi_nats,
           CAST(SUM(hxy_t) AS DOUBLE) / 1e12 AS h_joint,
           CAST(MAX(hx_f) AS DOUBLE) / 1e12 AS h_x,
           CAST(MAX(hy_f) AS DOUBLE) / 1e12 AS h_y,
           (CAST(SUM(mi_t) AS DOUBLE) / 1e12)
             / SQRT((CAST(MAX(hx_f) AS DOUBLE) / 1e12)
                    * (CAST(MAX(hy_f) AS DOUBLE) / 1e12)) AS nmi
    FROM terms, hx, hy
    """,
    tags=("datascience", "information-theory", "feature-selection"),
)
def ds_mutual_information(spark, sf_dir):
    """Mutual information between two categorical columns (order
    priority × order status) with marginal entropies and normalized
    MI — the information-gain primitive behind categorical feature
    selection and drift scoring (the nonlinear complement of
    `ds_chi_square_independence` on the same contingency shape):
    I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))).

    Determinism: every probability is a ratio of EXACT counts; each
    cell's term is per-row double math (identical IEEE chain, shared
    libm log — the same cross-engine contract `text_unigram_logprob`
    pins); the 15-term sums fold through fixed-point at 1e-12, far
    below any term's magnitude but exact and order-free. NMI divides
    the already-fixed sums — one more identical double op.

    Shape: one partial-aggregated groupBy builds the contingency
    relation (|X|·|Y| cells — the ONLY shuffle proportional to data);
    marginals re-aggregate those cells, never the fact table; the
    term join is broadcast (cells × 3 one-row/tiny sides). At 100 TB
    the contingency relation is still |X|·|Y| rows."""
    o = t(spark, sf_dir, "orders")
    jt = (
        o.groupBy(F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y"))
        .agg(F.count(F.lit(1)).alias("nxy"))
        .persist()
    )
    mx = jt.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = jt.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = jt.agg(F.sum("nxy").alias("n"))
    cell = (
        jt.crossJoin(F.broadcast(tot))
        .join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
    )
    nxy, nx, ny, n = (F.col(c).cast("double") for c in ("nxy", "nx", "ny", "n"))
    mi_t = units((nxy / n) * F.log((n * nxy) / (nx * ny)), 12)
    hxy_t = units(-(nxy / n) * F.log(nxy / n), 12)
    terms = cell.agg(
        (F.sum(mi_t).cast("double") / 1e12).alias("mi_nats"),
        (F.sum(hxy_t).cast("double") / 1e12).alias("h_joint"),
    )
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        fixsum(-(nx / n) * F.log(nx / n), 12).alias("h_x")
    )
    hy = my.crossJoin(F.broadcast(tot)).agg(
        fixsum(-(ny / n) * F.log(ny / n), 12).alias("h_y")
    )
    return (
        terms.crossJoin(hx)
        .crossJoin(hy)
        .select(
            "mi_nats",
            "h_joint",
            "h_x",
            "h_y",
            (F.col("mi_nats") / F.sqrt(F.col("h_x") * F.col("h_y"))).alias("nmi"),
        )
    )


@query(
    "ds_coarsened_exact_matching",
    oracle=f"""
    WITH units AS (
      SELECT c.c_custkey,
             (c.c_mktsegment = 'BUILDING') AS treated,
             c.c_nationkey,
             CAST(FLOOR(c.c_acctbal / 2000.0) AS BIGINT) AS bal_bin,
             COALESCE(SUM({sql_units("o.o_totalprice", 2)}), 0)
               AS spend_c
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, treated, c.c_nationkey, bal_bin
    ),
    strata AS (
      SELECT c_nationkey, bal_bin,
             CAST(COUNT(*) FILTER (WHERE treated) AS BIGINT) AS n_t,
             CAST(COUNT(*) FILTER (WHERE NOT treated) AS BIGINT) AS n_c,
             CAST(SUM(spend_c) FILTER (WHERE treated) AS BIGINT) AS s_t,
             CAST(SUM(spend_c) FILTER (WHERE NOT treated) AS BIGINT) AS s_c
      FROM units GROUP BY c_nationkey, bal_bin
    ),
    matched AS (SELECT * FROM strata WHERE n_t > 0 AND n_c > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(n_t) AS BIGINT) AS n_treated,
           CAST(SUM(n_c) AS BIGINT) AS n_control,
           CAST(SUM({sql_units(
                  "n_t * ((CAST(s_t AS DOUBLE) / 100.0) / n_t"
                  " - (CAST(s_c AS DOUBLE) / 100.0) / n_c)", 2)})
             AS DOUBLE) / 100.0 / SUM(n_t) AS att_spend
    FROM matched
    """,
    tags=("datascience", "causal", "matching"),
)
def ds_coarsened_exact_matching(spark, sf_dir):
    """Coarsened Exact Matching (CEM, Iacus–King–Porro) — the
    observational-causal estimator joining `ds_diff_in_diff` /
    `ds_ab_cuped_adjust`: units (customers) are coarsened onto a
    stratum grid (nation × account-balance bin), strata lacking
    common support (no treated or no control units) are PRUNED, and
    the ATT is the treated-weighted mean of within-stratum outcome
    gaps: Σ_s n_t(s)·(ȳ_t(s) − ȳ_c(s)) / Σ_s n_t(s). 'Treatment'
    here is a fixture-stable segment flag; the estimator mechanics
    are what this row attests.

    Determinism: outcomes accumulate as exact cents; within-stratum
    means are single divisions of exact integers; each stratum's
    weighted gap re-rounds to cents before the fixed-point fold, so
    the final ATT is one division of exact integers.

    Shape: one left join orders→customer (shuffle on custkey; at
    100 TB this is the fact-side shuffle and it's unavoidable — the
    outcome is per-unit), one groupBy onto the stratum grid (bounded:
    nations × bins), map-side-combined; pruning and the ATT fold run
    on the tiny stratum relation. No windows, no collects."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    units = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(
            "c_custkey",
            (F.col("c_mktsegment") == "BUILDING").alias("treated"),
            "c_nationkey",
            F.floor(F.col("c_acctbal") / 2000.0).cast("long").alias("bal_bin"),
        )
        .agg(
            F.coalesce(fixed("o_totalprice", 2), F.lit(0)).alias("spend_c")
        )
    )
    strata = units.groupBy("c_nationkey", "bal_bin").agg(
        F.count_if("treated").alias("n_t"),
        F.count_if(~F.col("treated")).alias("n_c"),
        F.sum(F.when(F.col("treated"), F.col("spend_c"))).alias("s_t"),
        F.sum(F.when(~F.col("treated"), F.col("spend_c"))).alias("s_c"),
    )
    matched = strata.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    gap = F.col("n_t") * (
        (F.col("s_t").cast("double") / 100.0) / F.col("n_t")
        - (F.col("s_c").cast("double") / 100.0) / F.col("n_c")
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_strata"),
        F.sum("n_t").alias("n_treated"),
        F.sum("n_c").alias("n_control"),
        (fixsum(gap, 2) / F.sum("n_t")).alias("att_spend"),
    ).select("n_strata", "n_treated", "n_control", "att_spend")


@query(
    "ds_price_elasticity",
    oracle=f"""
    WITH obs AS (
      SELECT l_returnflag, LN(l_extendedprice) AS x, LN(l_quantity) AS y
      FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ),
    m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             {sql_fixed("x", 6)} AS sx,
             {sql_fixed("y", 6)} AS sy,
             {sql_fixed("x * x", 6)} AS sxx,
             {sql_fixed("y * y", 6)} AS syy,
             {sql_fixed("x * y", 6)} AS sxy
      FROM obs GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)) AS elasticity,
           ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
            * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
            / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
               * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS r2
    FROM m ORDER BY l_returnflag
    """,
    tags=("datascience", "economics", "regression"),
)
def ds_price_elasticity(spark, sf_dir):
    """PRICE ELASTICITY of demand — the log-log OLS slope
    d ln(qty)/d ln(price) per return flag, the econometric workhorse
    (elasticity < −1 ⇒ revenue falls when price rises). Same grouped
    fixed-point-moments discipline as `ds_ols_moments`, with the log
    transform applied per row BEFORE accumulation (per-row LN is the
    shared-libm contract `text_unigram_logprob` pins; ln values are
    O(10), so scale 10⁻⁶ moments keep |terms| ≤ ~150·10⁶ per row —
    int64 headroom to ~6·10¹⁰ rows per group, documented bound).
    Emits slope (the elasticity) and r² from the same five sums.

    Shape: one partial-aggregated groupBy over the fact table — six
    moments per flag cross the exchange, nothing else. Identical at
    100 TB."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    x = F.log(F.col("l_extendedprice"))
    y = F.log(F.col("l_quantity"))

    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        fixed(x, 6).alias("sx"),
        fixed(y, 6).alias("sy"),
        fixed(x * x, 6).alias("sxx"),
        fixed(y * y, 6).alias("syy"),
        fixed(x * y, 6).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = n * sxy - sx * F.col("sy")
    denx = n * sxx - sx * F.col("sx")
    deny = n * syy - sy * F.col("sy")
    return m.select(
        "l_returnflag",
        "n",
        (num / denx).alias("elasticity"),
        (num * num / (denx * deny)).alias("r2"),
    ).transform(order_bounded, "l_returnflag")


@query(
    "ds_seasonality_index",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             EXTRACT(month FROM o_orderdate) AS month,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             SUM({sql_units("o_totalprice", 2)}) AS rev_c
      FROM orders GROUP BY 1, 2, 3
    ),
    monthly AS (
      SELECT o_orderstatus, CAST(month AS BIGINT) AS month,
             CAST(SUM(rev_c) AS BIGINT) AS rev_c,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1, 2
    ),
    total AS (
      SELECT o_orderstatus, CAST(SUM(rev_c) AS BIGINT) AS rev_all,
             CAST(SUM(n_days) AS BIGINT) AS days_all
      FROM monthly GROUP BY 1
    )
    SELECT m.o_orderstatus, m.month,
           (CAST(m.rev_c AS DOUBLE) / m.n_days)
             / (CAST(t.rev_all AS DOUBLE) / t.days_all) AS seasonality_index
    FROM monthly m JOIN total t ON m.o_orderstatus = t.o_orderstatus
    ORDER BY m.o_orderstatus, m.month
    """,
    tags=("datascience", "timeseries", "seasonality"),
)
def ds_seasonality_index(spark, sf_dir):
    """Month-of-year SEASONALITY INDEX per order status — mean daily
    revenue in month m over the all-months mean daily revenue (1.0 =
    no seasonal effect), the classical-decomposition seasonal factor
    that `ds_holt_winters`' multiplicative variant would estimate
    recursively, here computed in closed form. Using *mean daily*
    revenue (not total) removes the month-length confound. All
    cumulants exact cents/counts; the index is a ratio of two
    divisions of exact integers — bit-identical.

    Shape: calendar-bounded daily pre-aggregation (the only fact-table
    shuffle) → 12-row-per-status monthly relation → broadcast join to
    per-status totals. Identical at 100 TB."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn("month", F.month("o_orderdate").cast("long"))
        .withColumn(
            "d",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        )
        .groupBy("o_orderstatus", "month", "d")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    monthly = daily.groupBy("o_orderstatus", "month").agg(
        F.sum("rev_c").alias("rev_c"), F.count(F.lit(1)).alias("n_days")
    )
    total = monthly.groupBy("o_orderstatus").agg(
        F.sum("rev_c").alias("rev_all"), F.sum("n_days").alias("days_all")
    )
    return (
        monthly.join(F.broadcast(total), "o_orderstatus")
        .select(
            "o_orderstatus",
            "month",
            (
                (F.col("rev_c").cast("double") / F.col("n_days"))
                / (F.col("rev_all").cast("double") / F.col("days_all"))
            ).alias("seasonality_index"),
        )
        .orderBy("o_orderstatus", "month")
    )


@query(
    "ds_absorbing_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS prev, next_type AS nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT prev, CAST(SUM(n) AS BIGINT) AS tn FROM trans GROUP BY prev),
    p AS (
      SELECT t.prev, t.nxt, (1000000 * t.n) // tt.tn AS ppm
      FROM trans t JOIN tot tt ON t.prev = tt.prev
    ),
    r0 AS (
      SELECT prev AS state,
             CASE WHEN prev = 'purchase' THEN 1000000 ELSE 0 END AS reach
      FROM tot
    ),
    r1 AS (
      SELECT p.prev AS state,
             CASE WHEN p.prev = 'purchase' THEN 1000000
                  ELSE CAST(SUM(p.ppm * r0.reach) // 1000000 AS BIGINT) END AS reach
      FROM p JOIN r0 ON p.nxt = r0.state
      GROUP BY p.prev
    ),
    r2 AS (
      SELECT p.prev AS state,
             CASE WHEN p.prev = 'purchase' THEN 1000000
                  ELSE CAST(SUM(p.ppm * r1.reach) // 1000000 AS BIGINT) END AS reach
      FROM p JOIN r1 ON p.nxt = r1.state
      GROUP BY p.prev
    ),
    r3 AS (
      SELECT p.prev AS state,
             CASE WHEN p.prev = 'purchase' THEN 1000000
                  ELSE CAST(SUM(p.ppm * r2.reach) // 1000000 AS BIGINT) END AS reach
      FROM p JOIN r2 ON p.nxt = r2.state
      GROUP BY p.prev
    )
    SELECT state, CAST(reach AS BIGINT) AS reach_ppm
    FROM r3 ORDER BY state
    """,
    tags=("datascience", "markov", "attribution", "iterative"),
)
def ds_absorbing_markov(spark, sf_dir):
    """ABSORBING-MARKOV conversion probability — P(reach 'purchase'
    within ≤3 transitions | current state), the fixed-horizon version
    of the absorption probabilities behind Markov-chain attribution
    (removal effect), built ON the empirical transition matrix that
    `ds_event_transition` reports: purchase is made absorbing
    (reach ≡ 1), and reach_k(s) = Σ_s' P(s,s')·reach_{k-1}(s') is
    unrolled three steps. Probabilities are exact parts-per-million
    integers with integer division at every step — the
    `graph_pagerank_fixed` fixed-point discipline, so the oracle's
    chained CTEs hash-match bit-for-bit (no float drift over
    iterations).

    Shape: the per-user LEAD window shuffles the fact table once
    (partitioned by user — parallel, bounded per-user); after the
    transition aggregate the state space is |event_types|² — every
    iteration is one tiny join + aggregate. At 100 TB only the first
    window touches data; iterations cost nothing more."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    trans = seq.groupBy(
        F.col("event_type").alias("prev"), F.col("next_type").alias("nxt")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("prev").agg(F.sum("n").alias("tn"))
    p = (
        trans.join(tot, "prev")
        .select("prev", "nxt", F.expr("(1000000 * n) div tn").alias("ppm"))
        .persist()
    )
    r = tot.select(
        F.col("prev").alias("state"),
        F.when(F.col("prev") == "purchase", F.lit(1000000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("reach"),
    )
    for _ in range(3):
        r = (
            p.join(r, p.nxt == r.state)
            .groupBy("prev")
            .agg(F.expr("sum(ppm * reach) div 1000000").alias("s"))
            .select(
                F.col("prev").alias("state"),
                F.when(F.col("prev") == "purchase", F.lit(1000000))
                .otherwise(F.col("s"))
                .cast("long")
                .alias("reach"),
            )
        )
    return r.select("state", F.col("reach").alias("reach_ppm")).transform(order_bounded, "state")


@query(
    "ds_growth_accounting",
    oracle="""
    WITH um AS (
      SELECT DISTINCT o_custkey AS cust,
             CAST(EXTRACT(year FROM o_orderdate) * 12
                  + EXTRACT(month FROM o_orderdate) - 1 AS BIGINT) AS m
      FROM orders
    ),
    first_m AS (SELECT cust, MIN(m) AS fm FROM um GROUP BY cust),
    lagged AS (
      SELECT um.cust, um.m, f.fm,
             LAG(um.m) OVER (PARTITION BY um.cust ORDER BY um.m) AS prev_m
      FROM um JOIN first_m f ON um.cust = f.cust
    ),
    classified AS (
      SELECT m,
             CASE WHEN m = fm THEN 'new'
                  WHEN prev_m = m - 1 THEN 'retained'
                  ELSE 'resurrected' END AS kind
      FROM lagged
    ),
    active AS (
      SELECT m, kind, CAST(COUNT(*) AS BIGINT) AS n
      FROM classified GROUP BY m, kind
    ),
    churn AS (
      SELECT prev_m + 1 AS m, 'churned' AS kind, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT cust, m AS prev_m,
               LEAD(m) OVER (PARTITION BY cust ORDER BY m) AS nxt
        FROM um
      ) x
      WHERE nxt IS NULL OR nxt > prev_m + 1
      GROUP BY prev_m + 1
    )
    SELECT m AS month_index, kind, n FROM active
    UNION ALL
    SELECT m, kind, n FROM churn
    WHERE m <= (SELECT MAX(m) FROM um)
    ORDER BY month_index, kind
    """,
    tags=("datascience", "growth", "retention"),
)
def ds_growth_accounting(spark, sf_dir):
    """GROWTH ACCOUNTING — the monthly active-customer ledger
    (new / retained / resurrected / churned), the four-way
    decomposition every growth team reports (the Social Capital
    framework) and the strict superset of `ds_new_vs_returning`'s
    yearly two-way split: per month, actives split by whether this is
    their first month, they were active last month, or they returned
    after a gap; churned counts last-month actives who went silent.
    Identity: actives(m) = new + retained + resurrected, and
    retained(m) = actives(m−1) − churned(m) — both checkable from the
    output.

    Shape: one DISTINCT to (customer, month) — the only fact-table
    shuffle, keyed by customer; first-month via MIN aggregate; the
    lag/lead windows run per customer over ≤ |months| rows (calendar-
    bounded, parallel across customers); classification and the two
    final aggregates are map-side. At 100 TB identical — the windows
    never see more than one customer's month list per key."""
    o = t(spark, sf_dir, "orders")
    um = (
        o.select(
            F.col("o_custkey").alias("cust"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("m"),
        ).distinct()
    ).persist()
    first_m = um.groupBy("cust").agg(F.min("m").alias("fm"))
    wc = Window.partitionBy("cust").orderBy("m")
    lagged = um.join(first_m, "cust").select(
        "m", "fm", F.lag("m").over(wc).alias("prev_m")
    )
    classified = lagged.select(
        "m",
        F.when(F.col("m") == F.col("fm"), "new")
        .when(F.col("prev_m") == F.col("m") - 1, "retained")
        .otherwise("resurrected")
        .alias("kind"),
    )
    active = classified.groupBy("m", "kind").agg(F.count(F.lit(1)).alias("n"))
    nxt = um.select("cust", "m", F.lead("m").over(wc).alias("nxt"))
    churn = (
        nxt.filter(F.col("nxt").isNull() | (F.col("nxt") > F.col("m") + 1))
        .groupBy((F.col("m") + 1).alias("m"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("m", F.lit("churned").alias("kind"), "n")
    )
    mx = um.agg(F.max("m").alias("mx"))
    churn = churn.join(F.broadcast(mx), churn.m <= F.col("mx")).select(
        "m", "kind", "n"
    )
    return (
        active.select("m", "kind", "n")
        .unionByName(churn)
        .select(F.col("m").alias("month_index"), "kind", "n")
        .orderBy("month_index", "kind")
    )


@query(
    "ds_stl_decompose_lite",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus AS st,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             {sql_fixed("o_totalprice", 2)}
               AS rev_c
      FROM orders GROUP BY st, epoch_day
    ),
    tr AS (
      SELECT st, epoch_day, rev_c,
             CAST(SUM(rev_c) OVER w AS BIGINT) AS sum7,
             CAST(COUNT(*) OVER w AS BIGINT) AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY st ORDER BY epoch_day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT st, epoch_day, rev_c, sum7, cnt7,
             rev_c * 7 - sum7 AS d7,
             (epoch_day + 4) % 7 AS dow
      FROM tr
    ),
    seas AS (
      SELECT st, dow, CAST(SUM(d7) AS BIGINT) AS s_num,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM det WHERE cnt7 = 7 GROUP BY st, dow
    )
    SELECT det.st AS o_orderstatus, det.epoch_day, det.rev_c, det.dow,
           CASE WHEN det.cnt7 = 7
                THEN CAST(det.sum7 AS DOUBLE) / 7.0 END AS trend,
           CASE WHEN det.cnt7 = 7
                THEN CAST(s.s_num AS DOUBLE) / (7.0 * s.s_cnt) END AS seasonal,
           CASE WHEN det.cnt7 = 7
                THEN CAST(det.d7 AS DOUBLE) / 7.0
                     - CAST(s.s_num AS DOUBLE) / (7.0 * s.s_cnt) END AS resid
    FROM det JOIN seas s ON det.st = s.st AND det.dow = s.dow
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("analytics", "timeseries", "decomposition"),
)
def ds_stl_decompose_lite(spark, sf_dir):
    """Classical additive trend/seasonal/residual decomposition of the
    per-status daily revenue series (the moving-average STL ancestor:
    trend = centered 7-day mean, seasonal = day-of-week mean of the
    detrended series, residual = remainder). This is the anomaly
    baseline behind `ds_seasonality_index` and the forecast family —
    a spike only matters once trend and weekday rhythm are removed.

    Exactness: the centered mean never materializes as a float mid-
    pipeline — detrended is carried as d7 = rev_c·7 − sum7 (exact
    long, sevenths fixed-point), the per-(status, dow) seasonal
    numerator sums THOSE exact integers, and the three emitted
    doubles (trend, seasonal, resid) are raw divisions/one
    subtraction of exact integers — identical IEEE chains, NO
    rounding needed (the round-8 trap on ≥1e5 magnitudes doesn't
    apply to raw division). Edge rows (incomplete 7-day frame) emit
    NULL components via the cnt7 = 7 gate; day-of-week is pure
    integer arithmetic ((epoch_day + 4) % 7 — no engine dow()
    convention to reconcile).

    Shape: pre-aggregate to the calendar-bounded daily relation; one
    centered-frame Window pass per status partition; the seasonal
    relation is ≤ |status|·7 rows, broadcast back. No world sort, no
    single-partition window."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy(F.col("o_orderstatus").alias("st"), "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    w7 = (
        Window.partitionBy("st").orderBy("epoch_day").rowsBetween(-3, 3)
    )
    det = daily.select(
        "st",
        "epoch_day",
        "rev_c",
        F.sum("rev_c").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
    ).select(
        "*",
        (F.col("rev_c") * 7 - F.col("sum7")).alias("d7"),
        ((F.col("epoch_day") + 4) % 7).alias("dow"),
    )
    seas = (
        det.filter(F.col("cnt7") == 7)
        .groupBy("st", "dow")
        .agg(
            F.sum("d7").cast("long").alias("s_num"),
            F.count(F.lit(1)).cast("long").alias("s_cnt"),
        )
    )
    full = F.col("cnt7") == 7
    seasonal = F.col("s_num").cast("double") / (7.0 * F.col("s_cnt"))
    return (
        det.join(F.broadcast(seas), ["st", "dow"])
        .select(
            F.col("st").alias("o_orderstatus"),
            "epoch_day",
            "rev_c",
            "dow",
            F.when(full, F.col("sum7").cast("double") / 7.0).alias("trend"),
            F.when(full, seasonal).alias("seasonal"),
            F.when(
                full, F.col("d7").cast("double") / 7.0 - seasonal
            ).alias("resid"),
        )
        .orderBy("o_orderstatus", "epoch_day")
    )


_MACD_TAIL = 128


@query(
    "win_macd_fold",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             CAST(SUM({sql_units("o_totalprice", 2)}) AS DOUBLE)
               AS x
      FROM orders GROUP BY o_orderstatus, epoch_day
      QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                                 ORDER BY epoch_day DESC) <= {_MACD_TAIL}
    ),
    seq AS (
      SELECT o_orderstatus, list(x ORDER BY epoch_day) AS vals
      FROM daily GROUP BY o_orderstatus
    ),
    st AS (
      SELECT o_orderstatus, len(vals) AS n_days, vals[-1] AS last_close,
             -- state = [ema12, ema26, signal] (flat DOUBLE list; struct
             -- accumulators mis-fold in DuckDB multi-step list_reduce)
             list_reduce(
               list_prepend([vals[1], vals[1], CAST(0.0 AS DOUBLE)],
                 list_transform(vals[2:],
                   x -> [x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])),
               (acc, e) ->
                 [(2.0 / 13.0) * e[1] + (1.0 - 2.0 / 13.0) * acc[1],
                  (2.0 / 27.0) * e[1] + (1.0 - 2.0 / 27.0) * acc[2],
                  0.2 * (((2.0 / 13.0) * e[1] + (1.0 - 2.0 / 13.0) * acc[1])
                         - ((2.0 / 27.0) * e[1] + (1.0 - 2.0 / 27.0) * acc[2]))
                  + 0.8 * acc[3]]) AS s
      FROM seq
    )
    SELECT o_orderstatus, CAST(n_days AS BIGINT) AS n_days, last_close,
           s[1] AS ema12, s[2] AS ema26,
           s[1] - s[2] AS macd,
           s[3] AS signal_line,
           (s[1] - s[2]) - s[3] AS histogram
    FROM st
    ORDER BY o_orderstatus
    """,
    tags=("window", "finance", "momentum", "stateful"),
)
def win_macd_fold(spark, sf_dir):
    """MACD (12/26/9) on the per-status daily revenue series — the
    triple-EMA recurrence (`win_ewma_fold`'s three-accumulator sibling,
    `win_rsi`/`win_stochastic_oscillator`'s trend-following cousin):
    ema12' = α₁₂x + (1−α₁₂)ema12, same for ema26, and the signal line
    smooths the macd SERIES (not just its endpoint), so the state is a
    flat 3-double vector folded sequentially — no closed-form window
    frame expresses it. The ema12'/ema26' subexpressions are
    deliberately duplicated inside the signal slot so both engines
    evaluate the identical IEEE chain per step: bit-identical, no
    tolerance band, including the α constants spelled as the division
    2.0/13.0 in both engines.

    Seeding: textbook warm-up uses an SMA; this declared form seeds
    both EMAs with the first observation and the signal at 0 (the
    documented contract, exactly reproducible).

    Scale: pre-aggregate to the calendar-bounded daily relation, hard
    ≤{_MACD_TAIL}-day tail cap per key (QUALIFY — the per-group state
    bound, same posture as `ds_holt_winters`), one grouped collect +
    one fold per status. Parallel across keys; never more than
    {_MACD_TAIL} doubles of state."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(
            fixed("o_totalprice", 2)
            .cast("double")
            .alias("x")
        )
    )
    wt = Window.partitionBy("o_orderstatus").orderBy(F.col("epoch_day").desc())
    tail = (
        daily.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= _MACD_TAIL)
        .select("o_orderstatus", "epoch_day", "x")
    )
    seq = tail.groupBy("o_orderstatus").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("epoch_day", "x"))),
            lambda s: s["x"],
        ).alias("vals")
    )
    a12 = F.lit(2.0) / F.lit(13.0)
    a26 = F.lit(2.0) / F.lit(27.0)

    def step(acc, x):
        e12 = a12 * x + (F.lit(1.0) - a12) * acc[0]
        e26 = a26 * x + (F.lit(1.0) - a26) * acc[1]
        # duplicated subexpressions keep the IEEE chain identical to SQL
        sig = F.lit(0.2) * (
            (a12 * x + (F.lit(1.0) - a12) * acc[0])
            - (a26 * x + (F.lit(1.0) - a26) * acc[1])
        ) + F.lit(0.8) * acc[2]
        return F.array(e12, e26, sig)

    st = seq.select(
        "o_orderstatus",
        F.size("vals").cast("long").alias("n_days"),
        F.element_at("vals", -1).alias("last_close"),
        F.aggregate(
            F.slice(F.col("vals"), 2, F.size("vals") - 1),
            F.array(
                F.element_at("vals", 1),
                F.element_at("vals", 1),
                F.lit(0.0),
            ),
            step,
        ).alias("s"),
    )
    return st.select(
        "o_orderstatus",
        "n_days",
        "last_close",
        F.element_at("s", 1).alias("ema12"),
        F.element_at("s", 2).alias("ema26"),
        (F.element_at("s", 1) - F.element_at("s", 2)).alias("macd"),
        F.element_at("s", 3).alias("signal_line"),
        (
            F.element_at("s", 1)
            - F.element_at("s", 2)
            - F.element_at("s", 3)
        ).alias("histogram"),
    ).transform(order_bounded, "o_orderstatus")


@query(
    "ds_hhi_concentration",
    oracle=f"""
    WITH sup AS (
      SELECT s.s_nationkey AS nk, l.l_suppkey AS sk,
             {sql_fixed("l.l_extendedprice", 2)} AS rev_c
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY nk, sk
    ),
    per AS (
      SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(rev_c) AS BIGINT) AS nation_rev_c,
             SUM(CAST(rev_c AS HUGEINT) * rev_c) AS ssq
      FROM sup GROUP BY nk
    )
    SELECT n.n_name, p.n_suppliers, p.nation_rev_c,
           CAST(p.ssq AS DOUBLE)
             / (CAST(p.nation_rev_c AS DOUBLE) * CAST(p.nation_rev_c AS DOUBLE))
             AS hhi,
           (CAST(p.nation_rev_c AS DOUBLE) * CAST(p.nation_rev_c AS DOUBLE))
             / CAST(p.ssq AS DOUBLE) AS effective_n
    FROM per p JOIN nation n ON p.nk = n.n_nationkey
    ORDER BY n.n_name
    """,
    tags=("datascience", "concentration", "market"),
)
def ds_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman market-concentration index per supplier
    nation: HHI = Σᵢ shareᵢ² over each nation's supplier revenue
    shares, plus the effective-competitor count 1/HHI — the antitrust
    screen (HHI > 0.25 = highly concentrated) joining the Gini/Pareto
    inequality family with a market lens.

    Exactness: HHI = Σrevᵢ²/(Σrevᵢ)² never forms per-supplier float
    shares — the squared sum accumulates in decimal(38)/HUGEINT
    (supplier revenue crosses 2³¹ cents at moderate SF, so longs are
    NOT enough for the squares) and the two emitted doubles are raw
    divisions of exact integers, no rounding, identical IEEE chains.

    Scale: one partial-merged (nation, supplier) aggregate, one ≤|S|
    re-aggregate to nations, one 25-row broadcast name join. The
    shuffle carries 16-byte keys + cents; HHI at 100 TB is exactly
    this plan."""
    l = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sup = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nk"), F.col("l_suppkey").alias("sk"))
        .agg(
            fixed("l_extendedprice", 2).alias("rev_c")
        )
    )
    per = sup.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("rev_c").cast("long").alias("nation_rev_c"),
        F.sum(F.expr("cast(rev_c as decimal(38,0)) * rev_c")).alias("ssq"),
    )
    rev_d = F.col("nation_rev_c").cast("double")
    return (
        per.join(F.broadcast(n), per.nk == n.n_nationkey)
        .select(
            "n_name",
            "n_suppliers",
            "nation_rev_c",
            (F.col("ssq").cast("double") / (rev_d * rev_d)).alias("hhi"),
            ((rev_d * rev_d) / F.col("ssq").cast("double")).alias("effective_n"),
        )
        .orderBy("n_name")
    )


@query(
    "ds_decision_stump",
    oracle=f"""
    WITH base AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             {sql_units("l_discount", 2)} AS disc,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    vals AS (
      SELECT 'qty' AS feature, qty AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
      FROM base GROUP BY v
      UNION ALL
      SELECT 'disc' AS feature, disc AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(y) AS BIGINT) AS pos
      FROM base GROUP BY v
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
      FROM base
    ),
    cands AS (
      SELECT 'qty' AS feature, CAST(unnest(generate_series(5, 45, 5)) AS BIGINT) AS thr
      UNION ALL
      SELECT 'disc' AS feature, CAST(unnest(generate_series(1, 9)) AS BIGINT) AS thr
    ),
    split AS (
      SELECT c.feature, c.thr,
             CAST(SUM(v.cnt) AS BIGINT) AS n_l,
             CAST(SUM(v.pos) AS BIGINT) AS pos_l
      FROM cands c JOIN vals v ON v.feature = c.feature AND v.v <= c.thr
      GROUP BY c.feature, c.thr
    ),
    scored AS (
      SELECT s.feature, s.thr, s.n_l, s.pos_l,
             t.n - s.n_l AS n_r, t.p - s.pos_l AS pos_r,
             {sql_units(
                "2.0 * (CAST(s.pos_l AS DOUBLE) * (s.n_l - s.pos_l) / s.n_l"
                " + CAST(t.p - s.pos_l AS DOUBLE)"
                " * ((t.n - s.n_l) - (t.p - s.pos_l)) / (t.n - s.n_l)) / t.n", 12)} AS gini_fp
      FROM split s, tot t
      WHERE s.n_l > 0 AND t.n - s.n_l > 0
    ),
    best AS (
      SELECT feature AS bf, thr AS bt FROM scored
      ORDER BY gini_fp, feature, thr LIMIT 1
    )
    SELECT s.feature, s.thr, s.n_l, s.pos_l, s.n_r, s.pos_r,
           CAST(s.gini_fp AS DOUBLE) / 1e12 AS gini_split,
           CAST(s.feature = b.bf AND s.thr = b.bt AS BOOLEAN) AS is_best
    FROM scored s, best b
    ORDER BY s.feature, s.thr
    """,
    tags=("datascience", "ml", "tree", "train"),
)
def ds_decision_stump(spark, sf_dir):
    """One-level decision-tree training at scale: find the (feature,
    threshold) split minimizing weighted Gini impurity for predicting
    returns (l_returnflag = 'R') from quantity and discount — the
    split-search primitive inside every distributed tree/GBM learner
    (the per-feature candidate-split histogram IS how LightGBM/Spark
    MLlib scan splits), here exposed as a declared relational op.

    Plan shape — the part that matters at 100 TB: the fact table
    collapses ONCE into per-feature value histograms (≤50 + ≤11 rows
    of (value, count, positives) — integer-domain features make the
    histogram exact, no binning error), and ALL candidate evaluation
    runs on that tiny relation: a ≤18-row candidate spine θ-joins the
    histogram (v ≤ thr) to build left-side counts, right sides come
    from the one-row totals broadcast. The fact scan is one partial-
    merged aggregate; split search never rescans data.

    Exactness: left/right counts are exact longs; weighted Gini
    2·(pos·neg/n_l + pos·neg/n_r)/n is one double chain per candidate,
    landed in ×1e12 fixed-point BEFORE the argmin so best-split
    selection is an integer comparison with (feature, thr)
    tie-break."""
    li = t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        units("l_discount", 2).alias("disc"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    vals = (
        base.groupBy(F.col("qty").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"), F.sum("y").cast("long").alias("pos"))
        .select(F.lit("qty").alias("feature"), "v", "cnt", "pos")
        .unionAll(
            base.groupBy(F.col("disc").alias("v"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.sum("y").cast("long").alias("pos"),
            )
            .select(F.lit("disc").alias("feature"), "v", "cnt", "pos")
        )
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("y").cast("long").alias("p")
    )
    cands = (
        spark.range(1, 10)
        .select(F.lit("qty").alias("feature"), (F.col("id") * 5).cast("long").alias("thr"))
        .unionAll(
            spark.range(1, 10).select(
                F.lit("disc").alias("feature"), F.col("id").cast("long").alias("thr")
            )
        )
    )
    split = (
        cands.alias("c")
        .join(
            vals.alias("v"),
            (F.col("v.feature") == F.col("c.feature")) & (F.col("v.v") <= F.col("c.thr")),
        )
        .groupBy(F.col("c.feature").alias("feature"), F.col("c.thr").alias("thr"))
        .agg(
            F.sum("v.cnt").cast("long").alias("n_l"),
            F.sum("v.pos").cast("long").alias("pos_l"),
        )
    )
    sc = split.crossJoin(F.broadcast(tot)).filter(
        (F.col("n_l") > 0) & (F.col("n") - F.col("n_l") > 0)
    )
    n_r = F.col("n") - F.col("n_l")
    pos_r = F.col("p") - F.col("pos_l")
    gini = (
        2.0
        * (
            F.col("pos_l").cast("double") * (F.col("n_l") - F.col("pos_l")) / F.col("n_l")
            + pos_r.cast("double") * (n_r - pos_r) / n_r
        )
        / F.col("n")
    )
    scored = sc.select(
        "feature",
        "thr",
        "n_l",
        "pos_l",
        n_r.alias("n_r"),
        pos_r.alias("pos_r"),
        units(gini, 12).alias("gini_fp"),
    )
    best = (
        scored.orderBy("gini_fp", "feature", "thr")
        .limit(1)
        .select(F.col("feature").alias("bf"), F.col("thr").alias("bt"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "feature",
            "thr",
            "n_l",
            "pos_l",
            "n_r",
            "pos_r",
            (F.col("gini_fp").cast("double") / 1e12).alias("gini_split"),
            ((F.col("feature") == F.col("bf")) & (F.col("thr") == F.col("bt"))).alias(
                "is_best"
            ),
        )
        .orderBy("feature", "thr")
    )


_NB_LN = sql_units("LN({num} / {den})", 12)


def _nb_sql_lik(x: str, v_dom: int) -> str:
    """Per-(feature-value) class log-likelihood relation (wide, fp)."""
    cells = []
    for c in ("F", "O", "P"):
        num = f"(CAST(SUM(CASE WHEN o_orderstatus = '{c}' THEN 1 ELSE 0 END) AS DOUBLE) + 1.0)"
        den = f"(CAST(MAX(cl.n{c}) AS DOUBLE) + {v_dom}.0)"
        cells.append(_NB_LN.format(num=num, den=den) + f" AS l{c}")
    return f"""
      SELECT {x} AS v, {", ".join(cells)}
      FROM orders CROSS JOIN cls cl GROUP BY v
    """


@query(
    "ds_naive_bayes",
    oracle=f"""
    WITH cls AS (
      SELECT CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS nF,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS nO,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS nP,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders
    ),
    pri AS (
      SELECT {_NB_LN.format(num="(CAST(nF AS DOUBLE) + 1.0)", den="(CAST(n AS DOUBLE) + 3.0)")} AS pF,
             {_NB_LN.format(num="(CAST(nO AS DOUBLE) + 1.0)", den="(CAST(n AS DOUBLE) + 3.0)")} AS pO,
             {_NB_LN.format(num="(CAST(nP AS DOUBLE) + 1.0)", den="(CAST(n AS DOUBLE) + 3.0)")} AS pP
      FROM cls
    ),
    lik1 AS ({_nb_sql_lik("o_orderpriority", 5)}),
    lik2 AS ({_nb_sql_lik("month(o_orderdate)", 12)}),
    scored AS (
      SELECT o.o_orderstatus AS actual,
             pri.pF + a.lF + b.lF AS sF,
             pri.pO + a.lO + b.lO AS sO,
             pri.pP + a.lP + b.lP AS sP
      FROM orders o
      JOIN lik1 a ON a.v = o.o_orderpriority
      JOIN lik2 b ON b.v = month(o.o_orderdate)
      CROSS JOIN pri
    )
    SELECT actual,
           CASE WHEN sF >= sO AND sF >= sP THEN 'F'
                WHEN sO >= sP THEN 'O' ELSE 'P' END AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored
    GROUP BY actual, predicted
    ORDER BY actual, predicted
    """,
    tags=("datascience", "ml", "classifier", "train-score"),
)
def ds_naive_bayes(spark, sf_dir):
    """Categorical Naive Bayes, trained AND scored in one distributed
    pass: predict order status from (priority, order month) with
    Laplace(+1) smoothing, emit the confusion matrix — the train→
    broadcast→score shape of `ds_ols_residual_outliers` applied to
    classification (and the eval harness every data-quality "label
    sanity" check uses).

    Determinism: the model IS a handful of exact counts; every log
    term ln((cnt+1)/(n_c+V)) lands in ×1e12 fixed-point AT THE TERM
    (the `ds_mutual_information` posture — rounding each ln kills
    last-ulp libm drift), so per-row scores are exact LONG sums and
    argmax is an integer comparison with the documented F→O→P
    tie preference.

    Scale: training = one partial-merged aggregate per feature (5-row
    and 12-row relations) + a one-row class count; scoring joins the
    fact scan to those broadcast model relations — map-side, no
    shuffle of facts; the confusion matrix is a ≤9-cell aggregate.
    This is exactly how a 100 TB NB scorer deploys."""
    o = t(spark, sf_dir, "orders")

    def ln_fp(num, den):
        return units(F.log(num / den), 12)

    cls = o.agg(
        F.sum((F.col("o_orderstatus") == "F").cast("long")).alias("nF"),
        F.sum((F.col("o_orderstatus") == "O").cast("long")).alias("nO"),
        F.sum((F.col("o_orderstatus") == "P").cast("long")).alias("nP"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pri = cls.select(
        *[
            ln_fp(
                F.col(f"n{c}").cast("double") + 1.0, F.col("n").cast("double") + 3.0
            ).alias(f"p{c}")
            for c in ("F", "O", "P")
        ]
    )

    def lik(col, v_dom):
        per = o.groupBy(col.alias("v")).agg(
            *[
                F.sum((F.col("o_orderstatus") == c).cast("long")).alias(f"c{c}")
                for c in ("F", "O", "P")
            ]
        )
        return per.crossJoin(F.broadcast(cls)).select(
            "v",
            *[
                ln_fp(
                    F.col(f"c{c}").cast("double") + 1.0,
                    F.col(f"n{c}").cast("double") + float(v_dom),
                ).alias(f"l{c}")
                for c in ("F", "O", "P")
            ],
        )

    lik1 = lik(F.col("o_orderpriority"), 5)
    lik2 = lik(F.month("o_orderdate"), 12)
    a = lik1.select(
        F.col("v").alias("v1"),
        *[F.col(f"l{c}").alias(f"a{c}") for c in ("F", "O", "P")],
    )
    b = lik2.select(
        F.col("v").alias("v2"),
        *[F.col(f"l{c}").alias(f"b{c}") for c in ("F", "O", "P")],
    )
    scored = (
        o.select("o_orderstatus", "o_orderpriority", F.month("o_orderdate").alias("m"))
        .join(F.broadcast(a), F.col("o_orderpriority") == F.col("v1"))
        .join(F.broadcast(b), F.col("m") == F.col("v2"))
        .crossJoin(F.broadcast(pri))
        .select(
            F.col("o_orderstatus").alias("actual"),
            (F.col("pF") + F.col("aF") + F.col("bF")).alias("sF"),
            (F.col("pO") + F.col("aO") + F.col("bO")).alias("sO"),
            (F.col("pP") + F.col("aP") + F.col("bP")).alias("sP"),
        )
    )
    pred = (
        F.when(
            (F.col("sF") >= F.col("sO")) & (F.col("sF") >= F.col("sP")), F.lit("F")
        )
        .when(F.col("sO") >= F.col("sP"), F.lit("O"))
        .otherwise(F.lit("P"))
    )
    return (
        scored.select("actual", pred.alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(order_bounded, "actual", "predicted")
    )


@query(
    "ds_forecast_eval",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS d,
             {sql_fixed("o_totalprice", 2)}
               AS y
      FROM orders GROUP BY o_orderstatus, d
    ),
    scored AS (
      SELECT a.o_orderstatus, a.y, a.y - p.y AS e
      FROM daily a JOIN daily p
        ON a.o_orderstatus = p.o_orderstatus AND p.d = a.d - 7
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(ABS(e)) AS DOUBLE) / COUNT(*) AS mae,
           SQRT(CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE) / COUNT(*)) AS rmse,
           CAST(SUM(ABS(e) * 1000000000 // y) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 1e9) AS mape,
           CAST(SUM(GREATEST(9 * e, -e)) AS DOUBLE)
             / (10.0 * COUNT(*)) AS pinball90
    FROM scored
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("analytics", "forecast", "evaluation"),
)
def ds_forecast_eval(spark, sf_dir):
    """Forecast-accuracy scorecard for the seasonal-naive predictor
    (ŷ_t = y_{t−7}, the `ds_seasonal_naive_forecast` baseline): MAE,
    RMSE, MAPE, and the q=0.9 pinball loss per status series — the
    metric table every forecasting iteration is judged against
    (pinball being what quantile forecasts optimize; a model must
    beat seasonal-naive on THESE numbers to earn deployment).

    Exactness discipline per metric: MAE sums exact |e| cents; RMSE's
    Σe² runs in decimal(38)/HUGEINT (squared daily errors overflow
    longs at large SF); MAPE — the one metric that sums RATIOS — puts
    each |e|/y term in ×1e9 fixed-point integer division (order-free
    exact sum, no float accumulation); pinball uses the ×10 integer
    identity max(q·e, (q−1)·e) = GREATEST(9e, −e)/10. Each emitted
    double is one raw division chain.

    Shape: calendar-key self-join of the daily aggregate (the
    seasonal-naive join, never a row lag over facts) + one grouped
    fold."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "d",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("o_orderstatus", "d")
        .agg(fixed("o_totalprice", 2).alias("y"))
    )
    a = daily.alias("a")
    p = daily.select(
        "o_orderstatus", (F.col("d") + 7).alias("d"), F.col("y").alias("py")
    ).alias("p")
    scored = a.join(p, ["o_orderstatus", "d"]).select(
        "o_orderstatus", F.col("y"), (F.col("y") - F.col("py")).alias("e")
    )
    n = F.count(F.lit(1))
    return (
        scored.groupBy("o_orderstatus")
        .agg(
            n.cast("long").alias("n_scored"),
            (F.sum(F.abs("e")).cast("double") / n).alias("mae"),
            F.sqrt(
                F.sum(F.expr("cast(e as decimal(38,0)) * e")).cast("double") / n
            ).alias("rmse"),
            (
                F.sum(F.expr("(abs(e) * 1000000000) div y")).cast("double")
                / (n.cast("double") * 1e9)
            ).alias("mape"),
            (
                F.sum(F.greatest(9 * F.col("e"), -F.col("e"))).cast("double")
                / (10.0 * n)
            ).alias("pinball90"),
        )
        .transform(order_bounded, "o_orderstatus")
    )


_PVB_Y0, _PVB_Y1 = 1996, 1997


@query(
    "ds_price_volume_bridge",
    oracle=f"""
    WITH per AS (
      SELECT l_partkey AS pk, year(l_shipdate) AS yr,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q,
             {sql_fixed("l_extendedprice", 2)} AS r
      FROM lineitem WHERE year(l_shipdate) IN ({_PVB_Y0}, {_PVB_Y1})
      GROUP BY pk, yr
    ),
    w AS (
      SELECT p.p_brand AS brand, pk,
             MAX(CASE WHEN yr = {_PVB_Y0} THEN q END) AS q0,
             MAX(CASE WHEN yr = {_PVB_Y0} THEN r END) AS r0,
             MAX(CASE WHEN yr = {_PVB_Y1} THEN q END) AS q1,
             MAX(CASE WHEN yr = {_PVB_Y1} THEN r END) AS r1
      FROM per JOIN part p ON per.pk = p.p_partkey
      GROUP BY brand, pk
    ),
    eff AS (
      SELECT brand,
             CAST(SUM(COALESCE(r1, 0)) - SUM(COALESCE(r0, 0)) AS BIGINT)
               AS delta_rev_c,
             CAST(SUM(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
               THEN (q1 - q0) * ((r0 * 1000000) // q0) ELSE 0 END)
               AS HUGEINT) AS vol_fp,
             CAST(SUM(CASE WHEN q0 IS NOT NULL AND q1 IS NOT NULL
               THEN q1 * (((r1 * 1000000) // q1) - ((r0 * 1000000) // q0))
               ELSE 0 END) AS HUGEINT) AS price_fp,
             CAST(SUM(CASE WHEN q0 IS NULL THEN r1 ELSE 0 END) AS BIGINT)
               AS new_c,
             CAST(SUM(CASE WHEN q1 IS NULL THEN -r0 ELSE 0 END) AS BIGINT)
               AS discontinued_c
      FROM w GROUP BY brand
    )
    SELECT brand, delta_rev_c,
           CAST(vol_fp AS DOUBLE) / 1e6 AS volume_effect_c,
           CAST(price_fp AS DOUBLE) / 1e6 AS price_effect_c,
           new_c, discontinued_c,
           CAST(delta_rev_c - new_c - discontinued_c AS DOUBLE)
             - CAST(vol_fp AS DOUBLE) / 1e6
             - CAST(price_fp AS DOUBLE) / 1e6 AS residual_c
    FROM eff
    ORDER BY brand
    """,
    tags=("analytics", "finance", "decomposition"),
)
def ds_price_volume_bridge(spark, sf_dir):
    """Price-volume bridge (revenue waterfall) per brand between
    {_PVB_Y0} and {_PVB_Y1} — the FP&A decomposition "how much of the
    revenue change came from selling MORE vs charging MORE vs
    product churn": Laspeyres volume effect Σ(q₁−q₀)p₀ + price
    effect Σq₁(p₁−p₀) over parts sold in BOTH years, with new /
    discontinued parts carried as their own exact buckets (their
    whole revenue is the effect — no price to decompose).

    Exactness: per-part unit prices land in ×1e6 fixed-point integer
    division (deterministic truncation both engines); effect sums run
    in decimal(38)/HUGEINT (per-part terms reach ~1e14, corpus sums
    overflow longs at scale); Δrevenue and the churn buckets are
    exact cents. The emitted residual_c column IS the decomposition
    audit: it differs from zero only by the 1e-6-cent truncations,
    and identically so in both engines.

    Shape: one partial-merged (part, year) aggregate, one broadcast
    part-dim join, one grouped fold per brand — the fact table is
    read once."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate").isin(_PVB_Y0, _PVB_Y1)
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = li.groupBy(
        F.col("l_partkey").alias("pk"), F.year("l_shipdate").alias("yr")
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("q"),
        fixed("l_extendedprice", 2).alias("r"),
    )
    w = (
        per.join(F.broadcast(p), per.pk == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "pk")
        .agg(
            F.max(F.when(F.col("yr") == _PVB_Y0, F.col("q"))).alias("q0"),
            F.max(F.when(F.col("yr") == _PVB_Y0, F.col("r"))).alias("r0"),
            F.max(F.when(F.col("yr") == _PVB_Y1, F.col("q"))).alias("q1"),
            F.max(F.when(F.col("yr") == _PVB_Y1, F.col("r"))).alias("r1"),
        )
    )
    both = F.col("q0").isNotNull() & F.col("q1").isNotNull()
    p0 = F.expr("(r0 * 1000000) div q0")
    p1 = F.expr("(r1 * 1000000) div q1")
    eff = w.groupBy("brand").agg(
        (
            F.sum(F.coalesce("r1", F.lit(0))) - F.sum(F.coalesce("r0", F.lit(0)))
        )
        .cast("long")
        .alias("delta_rev_c"),
        F.sum(
            F.when(both, ((F.col("q1") - F.col("q0")) * p0).cast("decimal(38,0)"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("vol_fp"),
        F.sum(
            F.when(both, (F.col("q1") * (p1 - p0)).cast("decimal(38,0)"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("price_fp"),
        F.sum(F.when(F.col("q0").isNull(), F.col("r1")).otherwise(0))
        .cast("long")
        .alias("new_c"),
        F.sum(F.when(F.col("q1").isNull(), -F.col("r0")).otherwise(0))
        .cast("long")
        .alias("discontinued_c"),
    )
    return eff.select(
        "brand",
        "delta_rev_c",
        (F.col("vol_fp").cast("double") / 1e6).alias("volume_effect_c"),
        (F.col("price_fp").cast("double") / 1e6).alias("price_effect_c"),
        "new_c",
        "discontinued_c",
        (
            (F.col("delta_rev_c") - F.col("new_c") - F.col("discontinued_c")).cast(
                "double"
            )
            - F.col("vol_fp").cast("double") / 1e6
            - F.col("price_fp").cast("double") / 1e6
        ).alias("residual_c"),
    ).transform(order_bounded, "brand")


_MIG_SPLIT = "1998-01-01"


@query(
    "ds_segment_migration_matrix",
    oracle=f"""
    WITH p0 AS (
      SELECT o_custkey AS ck,
             {sql_fixed("o_totalprice", 2)}
               AS spend
      FROM orders WHERE o_orderdate < TIMESTAMP '{_MIG_SPLIT}'
      GROUP BY ck
    ),
    p1 AS (
      SELECT o_custkey AS ck,
             {sql_fixed("o_totalprice", 2)}
               AS spend
      FROM orders WHERE o_orderdate >= TIMESTAMP '{_MIG_SPLIT}'
      GROUP BY ck
    ),
    s0 AS (
      SELECT ck, (row_number() OVER (ORDER BY spend, ck) - 1) * 4
                   // (SELECT COUNT(*) FROM p0) + 1 AS q
      FROM p0
    ),
    s1 AS (
      SELECT ck, (row_number() OVER (ORDER BY spend, ck) - 1) * 4
                   // (SELECT COUNT(*) FROM p1) + 1 AS q
      FROM p1
    )
    SELECT CAST(COALESCE(s0.q, 0) AS BIGINT) AS seg_from,
           CAST(COALESCE(s1.q, 0) AS BIGINT) AS seg_to,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM s0 FULL OUTER JOIN s1 ON s0.ck = s1.ck
    GROUP BY seg_from, seg_to
    ORDER BY seg_from, seg_to
    """,
    tags=("analytics", "segmentation", "migration", "rank"),
)
def ds_segment_migration_matrix(spark, sf_dir):
    """Customer segment-migration matrix: spend-quartile membership in
    the early period ({_MIG_SPLIT}⁻) vs the late period, with 0 =
    absent — the "who moved up, who churned" transition table behind
    lifecycle marketing (the dynamic sequel to `ds_rfm_segmentation`'s
    static snapshot). Quartiles are row-quartiles of the per-period
    spend ranking — ONE grouped `_ranked_nosort` call (distributed
    rank, no world sort) ranks both periods in (spend, custkey) order,
    so segment boundaries are deterministic in both engines; one
    per-customer groupBy then pivots the two quartiles side by side
    (0 for a period the customer is absent from), and a ≤25-cell
    aggregate counts the matrix.

    Scale: one rank pass over the per-(period, customer) aggregate
    (facts collapse first), one slim per-customer aggregate. Migration
    at 100 TB is exactly this plan."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    split = F.lit(_MIG_SPLIT).cast("timestamp_ntz")
    per = o.groupBy(
        (F.col("o_orderdate") >= split).cast("int").alias("period"),
        F.col("o_custkey").alias("tie"),
    ).agg(fixed("o_totalprice", 2).alias("key"))
    ranked = _ranked_nosort(
        per.select("period", "key", "tie", F.col("key").alias("val")),
        with_totals=True,
        grp="period",
    )
    q = F.expr("(i - 1) * 4 div n_tot + 1")
    segs = ranked.groupBy("tie").agg(
        *[
            F.max(F.when(F.col("period") == p, q)).alias(f"q{p}")
            for p in (0, 1)
        ]
    )
    return (
        segs.select(
            F.coalesce("q0", F.lit(0)).cast("long").alias("seg_from"),
            F.coalesce("q1", F.lit(0)).cast("long").alias("seg_to"),
        )
        .groupBy("seg_from", "seg_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
        .transform(order_bounded, "seg_from", "seg_to")
    )


_PATH_TAIL = 8


@query(
    "ds_conversion_paths",
    oracle=f"""
    WITH fp AS (
      SELECT user_id, MIN(ts) AS p_ts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    pre AS (
      SELECT e.user_id, e.ts, e.event_id, substr(e.event_type, 1, 1) AS c
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE e.ts < fp.p_ts OR (e.ts = fp.p_ts AND e.event_type = 'purchase')
      QUALIFY row_number() OVER (PARTITION BY e.user_id
                                 ORDER BY e.ts DESC, e.event_id DESC)
              <= {_PATH_TAIL}
    ),
    paths AS (
      SELECT user_id,
             list_aggregate(list(c ORDER BY ts, event_id), 'string_agg', '>')
               AS path
      FROM pre GROUP BY user_id
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
    tags=("analytics", "funnel", "path", "attribution"),
)
def ds_conversion_paths(spark, sf_dir):
    """Top conversion paths — the ordered event trail (last
    {_PATH_TAIL} touches) ending at each converter's FIRST purchase,
    ranked by user count: the path-mining report behind journey
    analysis and the input relation Markov attribution
    (`ds_absorbing_markov`) estimates its transitions from. Events are
    initialled (c/e/p/s/v) so the path string stays tiny.

    State discipline: the per-user tail is HARD-bounded to
    {_PATH_TAIL} events BEFORE any collect (rank-desc window + filter,
    the `win_ewma_fold` posture — the window sort spills, a naive
    collect cannot); ties at the purchase instant resolve by the
    deterministic (ts, event_id) composite in both engines.

    Scale: one semi-join against the first-purchase relation, one
    bounded-tail window, one grouped path count, TakeOrdered-20."""
    e = t(spark, sf_dir, "events")
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    pre = (
        e.join(fp, "user_id")
        .filter(
            (F.col("ts") < F.col("p_ts"))
            | ((F.col("ts") == F.col("p_ts")) & (F.col("event_type") == "purchase"))
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.substring("event_type", 1, 1).alias("c"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tail = pre.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _PATH_TAIL
    )
    paths = tail.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "c"))),
                lambda s: s["c"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


_EB_TAU = 50  # pseudo-count prior strength


@query(
    "ds_empirical_bayes_shrinkage",
    oracle=f"""
    WITH per AS (
      SELECT l_partkey AS pk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM lineitem GROUP BY pk
    ),
    g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx
      FROM per
    )
    SELECT p.pk AS l_partkey, p.n AS n_lines, p.x AS n_returned,
           CAST(p.x AS DOUBLE) / p.n AS raw_rate,
           (CAST(p.x AS DOUBLE) * g.nn + CAST(g.xx AS DOUBLE) * {_EB_TAU})
             / (CAST(g.nn AS DOUBLE) * (p.n + {_EB_TAU})) AS shrunk_rate,
           CAST({_EB_TAU} * ABS(p.x * g.nn - p.n * g.xx) AS DOUBLE)
             / (CAST(p.n AS DOUBLE) * g.nn * (p.n + {_EB_TAU})) AS movement
    FROM per p, g
    ORDER BY movement DESC, l_partkey
    LIMIT 25
    """,
    tags=("analytics", "bayes", "shrinkage", "rates"),
)
def ds_empirical_bayes_shrinkage(spark, sf_dir):
    """Empirical-Bayes rate shrinkage — per-part return rates pulled
    toward the pooled corpus rate with a τ={_EB_TAU} pseudo-count
    prior (the add-τ form of beta-binomial shrinkage, the standard
    fix for small-sample leaderboards where a 1-of-2 part 'beats' a
    40-of-100 part): shrunk = (x + p̄τ)/(n + τ). The top-25 by
    |raw − shrunk| movement are exactly the low-evidence extremes the
    raw leaderboard overranks.

    Exactness: with the pooled rate kept as the exact ratio X/N, the
    shrunk rate is the integer-numerator rational (x·N + X·τ)/(N(n+τ))
    and movement reduces to τ|x·N − n·X| / (n·N(n+τ)) — every emitted
    double is ONE division chain over exact longs (identical IEEE,
    order-safe), with partkey breaking exact ties.

    Scale: one partial-merged per-key aggregate + one one-row pooled
    broadcast; the scoring is map-side arithmetic; top-25 is
    TakeOrdered."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).cast("long").alias("x"),
    )
    g = per.agg(
        F.sum("n").cast("long").alias("nn"), F.sum("x").cast("long").alias("xx")
    )
    tau = F.lit(_EB_TAU)
    j = per.crossJoin(F.broadcast(g))
    return (
        j.select(
            F.col("pk").alias("l_partkey"),
            F.col("n").alias("n_lines"),
            F.col("x").alias("n_returned"),
            (F.col("x").cast("double") / F.col("n")).alias("raw_rate"),
            (
                (
                    F.col("x").cast("double") * F.col("nn")
                    + F.col("xx").cast("double") * tau
                )
                / (F.col("nn").cast("double") * (F.col("n") + tau))
            ).alias("shrunk_rate"),
            (
                (tau * F.abs(F.col("x") * F.col("nn") - F.col("n") * F.col("xx")))
                .cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("nn")
                    * (F.col("n") + tau)
                )
            ).alias("movement"),
        )
        .orderBy(F.col("movement").desc(), "l_partkey")
        .limit(25)
    )


def _sql_corr_pair(a: str, b: str) -> str:
    return f"""
      SELECT '{a}' AS series_a, '{b}' AS series_b,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             ROUND((CAST(COUNT(*) AS DOUBLE) * SUM(CAST({a} AS HUGEINT) * {b})
                    - CAST(SUM({a}) AS DOUBLE) * SUM({b}))
                   / SQRT((CAST(COUNT(*) AS DOUBLE)
                             * SUM(CAST({a} AS HUGEINT) * {a})
                           - CAST(SUM({a}) AS DOUBLE) * SUM({a}))
                          * (CAST(COUNT(*) AS DOUBLE)
                               * SUM(CAST({b} AS HUGEINT) * {b})
                             - CAST(SUM({b}) AS DOUBLE) * SUM({b}))),
                   8) AS pearson_r
      FROM wide
    """


@query(
    "ds_corr_matrix_series",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             o_orderstatus,
             {sql_fixed("o_totalprice", 2)}
               AS rev_c
      FROM orders GROUP BY d, o_orderstatus
    ),
    wide AS (
      SELECT d,
             CAST(COALESCE(MAX(CASE WHEN o_orderstatus = 'F' THEN rev_c END), 0)
                  AS BIGINT) AS rev_f,
             CAST(COALESCE(MAX(CASE WHEN o_orderstatus = 'O' THEN rev_c END), 0)
                  AS BIGINT) AS rev_o,
             CAST(COALESCE(MAX(CASE WHEN o_orderstatus = 'P' THEN rev_c END), 0)
                  AS BIGINT) AS rev_p
      FROM daily GROUP BY d
    )
    {" UNION ALL ".join(_sql_corr_pair(a, b) for a, b in (("rev_f", "rev_o"), ("rev_f", "rev_p"), ("rev_o", "rev_p")))}
    ORDER BY series_a, series_b
    """,
    tags=("analytics", "correlation", "matrix", "timeseries"),
)
def ds_corr_matrix_series(spark, sf_dir):
    """Pairwise Pearson correlation matrix across the three
    status-revenue daily series — the cross-metric co-movement audit
    (`win_rolling_corr`'s static, all-pairs sibling): pivot the daily
    aggregate wide (absent days = 0 revenue, the series union
    convention), then each of the three pairs folds its five exact
    moments (n, Σx, Σy, Σx², Σxy) in the decimal/HUGEINT lane —
    squared daily cents overflow longs — and emits one rounded double
    per pair (O(1) magnitude, round-8 safe).

    Scale: one partial-merged daily pivot (calendar-bounded), then
    k(k−1)/2 scans of that tiny relation; at a larger metric count
    the pair list grows quadratically but the DATA cost stays one
    pivot pass."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "d",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("d", "o_orderstatus")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    wide = daily.groupBy("d").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("o_orderstatus") == s, F.col("rev_c"))),
                F.lit(0),
            )
            .cast("long")
            .alias(f"rev_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    ).persist()

    def pair(a, b):
        n = F.count(F.lit(1)).cast("double")
        sx = F.sum(a).cast("double")
        sy = F.sum(b).cast("double")
        sxx = F.sum(F.expr(f"cast({a} as decimal(38,0)) * {a}")).cast("double")
        syy = F.sum(F.expr(f"cast({b} as decimal(38,0)) * {b}")).cast("double")
        sxy = F.sum(F.expr(f"cast({a} as decimal(38,0)) * {b}")).cast("double")
        r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        return wide.agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(r, 8).alias("pearson_r"),
        ).select(
            F.lit(a).alias("series_a"), F.lit(b).alias("series_b"), "n_days", "pearson_r"
        )

    pairs = [("rev_f", "rev_o"), ("rev_f", "rev_p"), ("rev_o", "rev_p")]
    out = pair(*pairs[0])
    for p_ in pairs[1:]:
        out = out.unionAll(pair(*p_))
    return out.orderBy("series_a", "series_b")


_TB_CAP = 5          # bucket capacity, tokens
_TB_FP = 1_000_000   # token fixed-point scale
_TB_TAIL = 64        # per-user event cap (state bound)


@query(
    "ds_token_bucket_sim",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS t, event_id FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) <= {_TB_TAIL}
    ),
    seq AS (
      SELECT user_id, list(t ORDER BY t, event_id) AS ts_us
      FROM ev GROUP BY user_id
    ),
    sim AS (
      SELECT user_id, len(ts_us) AS n_events,
             -- state = [tokens_fp, last_us, n_admitted, n_dropped]
             list_reduce(
               list_prepend(
                 [{_TB_CAP} * {_TB_FP}, ts_us[1], CAST(0 AS BIGINT),
                  CAST(0 AS BIGINT)],
                 list_transform(ts_us, t -> [t, CAST(0 AS BIGINT),
                                             CAST(0 AS BIGINT),
                                             CAST(0 AS BIGINT)])),
               (s, e) -> CASE WHEN
                   LEAST({_TB_CAP} * {_TB_FP}, s[1] + (e[1] - s[2]) // 60)
                   >= {_TB_FP}
                 THEN [LEAST({_TB_CAP} * {_TB_FP},
                             s[1] + (e[1] - s[2]) // 60) - {_TB_FP},
                       e[1], s[3] + 1, s[4]]
                 ELSE [LEAST({_TB_CAP} * {_TB_FP},
                             s[1] + (e[1] - s[2]) // 60),
                       e[1], s[3], s[4] + 1] END) AS s
      FROM seq
    )
    SELECT CAST(s[4] AS BIGINT) AS n_dropped_per_user,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(s[3]) AS BIGINT) AS total_admitted
    FROM sim
    GROUP BY 1 ORDER BY 1
    """,
    tags=("analytics", "simulation", "rate-limit", "stateful"),
)
def ds_token_bucket_sim(spark, sf_dir):
    """Token-bucket admission replay — simulate a {_TB_CAP}-token,
    1-token-per-minute rate limiter over each user's event stream and
    report the drop distribution: the capacity-planning question
    ("how many users would a limiter at THESE settings throttle, and
    how hard") answered from history before the limiter ships. The
    recurrence (refill ∝ elapsed time, clamp at capacity, admit if a
    whole token is available) is sequential by nature — a fold, like
    `win_ewma_fold`/`ds_holt_winters`, not a window frame.

    Exactness: tokens live in ×{_TB_FP} fixed-point; with one token
    per 60s the per-gap refill is EXACTLY (gap_µs div 60) fp units —
    pure integer division, no big multiply to overflow — the whole simulation is INTEGER arithmetic,
    so admit/drop decisions are bit-identical (no float time math
    anywhere). Per-user state is a flat 4-long vector; the event tail
    caps at {_TB_TAIL} (QUALIFY — the hard per-group bound).

    Scale: one bounded-tail window + one grouped fold per user; the
    report is a ≤{_TB_TAIL}-row drop histogram."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TB_TAIL)
        .select("user_id", F.expr("unix_micros(ts)").alias("t"), "event_id")
    )
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("t", "event_id"))),
            lambda s: s["t"],
        ).alias("ts_us")
    )
    cap_fp = F.lit(_TB_CAP * _TB_FP).cast("long")

    def step(s, t_):
        gap = t_ - F.element_at(s, 2)
        # exact integer div-by-60: FP/REFILL_US = 1e6/6e7 = 1/60, and the
        # subtract-pmod form keeps the division exact in double space
        refill = F.least(
            cap_fp,
            F.element_at(s, 1)
            + ((gap - F.pmod(gap, F.lit(60))) / 60).cast("long"),
        )
        admit = refill >= _TB_FP
        return F.when(
            admit,
            F.array(
                refill - _TB_FP, t_, F.element_at(s, 3) + 1, F.element_at(s, 4)
            ),
        ).otherwise(
            F.array(refill, t_, F.element_at(s, 3), F.element_at(s, 4) + 1)
        )

    sim = seq.select(
        "user_id",
        F.aggregate(
            F.col("ts_us"),
            F.array(
                cap_fp,
                F.element_at("ts_us", 1),
                F.lit(0).cast("long"),
                F.lit(0).cast("long"),
            ),
            step,
        ).alias("s"),
    )
    return (
        sim.groupBy(F.element_at("s", 4).alias("n_dropped_per_user"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.element_at("s", 3)).cast("long").alias("total_admitted"),
        )
        .orderBy("n_dropped_per_user")
    )


@query(
    "ds_abc_classification",
    oracle=f"""
    WITH per AS (
      SELECT l_partkey AS pk,
             {sql_fixed("l_extendedprice", 2)} AS rev_c
      FROM lineitem GROUP BY pk
    ),
    tot AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS s FROM per),
    ranked AS (
      SELECT pk, rev_c,
             CAST(SUM(rev_c) OVER (ORDER BY rev_c, pk) AS BIGINT) AS cum_asc
      FROM per
    ),
    classed AS (
      SELECT r.pk, r.rev_c,
             CASE WHEN (t.s - r.cum_asc + r.rev_c) * 100 <= 80 * t.s THEN 'A'
                  WHEN (t.s - r.cum_asc + r.rev_c) * 100 <= 95 * t.s THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked r, tot t
    )
    SELECT c.abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(c.rev_c) AS BIGINT) AS rev_c_total,
           CAST(SUM(c.rev_c) AS DOUBLE) / t.s AS rev_share
    FROM classed c, tot t
    GROUP BY c.abc, t.s ORDER BY c.abc
    """,
    tags=("analytics", "inventory", "abc", "rank"),
)
def ds_abc_classification(spark, sf_dir):
    """ABC inventory classification — the 80/15/5 revenue-concentration
    cut every supply chain runs (A-parts get daily counts, C-parts get
    annual ones): a part is class A while the cumulative-from-top
    revenue share INCLUDING it stays ≤ 80%, B to 95%, else C. The
    decision needs each part's descending cumulative revenue — which
    is `_ranked_nosort`'s running-sum channel read from the other end
    (cum_from_top = S − cum_asc + own), so there is NO descending
    world sort and no second pass.

    Determinism: class boundaries are integer cross-products
    (cum_top·100 ≤ 80·S), never float shares; the per-class report
    divides exact cents once. Parts rank in (rev, pk) order.

    Scale: one per-key aggregate + one range-binned rank pass + a
    3-row class aggregate."""
    li = t(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        fixed("l_extendedprice", 2).alias("rev_c")
    )
    # Round-12 (guide §1.2): the revenue total used to be a second
    # aggregate over per, cross-joined back — re-executing the
    # per-part aggregate (an extra LINEITEM scan + groupBy, the big
    # fact). with_totals rides v_tot == Σ rev_c in through the offset
    # broadcast instead.
    ranked = _ranked_nosort(
        per.select(
            F.col("rev_c").alias("key"),
            F.col("pk").alias("tie"),
            F.col("rev_c").alias("val"),
        ),
        with_totals=True,
    ).withColumn("s", F.col("v_tot").cast("long"))
    cum_top = F.col("s") - F.col("cum") + F.col("val")
    classed = ranked.select(
        F.col("val").alias("rev_c"),
        F.when(cum_top * 100 <= 80 * F.col("s"), "A")
        .when(cum_top * 100 <= 95 * F.col("s"), "B")
        .otherwise("C")
        .alias("abc"),
        "s",
    )
    return (
        classed.groupBy("abc", "s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("rev_c").cast("long").alias("rev_c_total"),
        )
        .select(
            "abc",
            "n_parts",
            "rev_c_total",
            (F.col("rev_c_total").cast("double") / F.col("s")).alias("rev_share"),
        )
        .transform(order_bounded, "abc")
    )


_ERL_MU_PER_HR = 12.0  # service rate per agent (5-min mean handle time)
_ERL_KS = list(range(1, 13))


@query(
    "ds_erlang_c_staffing",
    oracle=f"""
    WITH span AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) AS span_us
      FROM events
    ),
    lam AS (
      SELECT n, span_us,
             CAST(n AS DOUBLE) * 3600000000.0 / span_us AS lambda_hr,
             CAST(n AS DOUBLE) * 3600000000.0 / span_us / {_ERL_MU_PER_HR}
               AS a
      FROM span
    ),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _ERL_KS)}]) AS k),
    terms AS (
      SELECT k, a, lambda_hr,
             -- state = [term_i, partial_sum]; fold i = 1..k-1 gives
             -- sum_{{i<k}} a^i/i! and a^{{k-1}}/(k-1)!
             list_reduce(
               list_prepend([CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)],
                 list_transform(generate_series(1, k - 1),
                                i -> [CAST(i AS DOUBLE), CAST(0 AS DOUBLE)])),
               (s, e) -> [s[1] * a / e[1], s[2] + s[1] * a / e[1]]) AS st
      FROM ks, lam
    )
    SELECT k, ROUND(a, 8) AS offered_erlangs,
           ROUND(a / k, 8) AS utilization,
           CASE WHEN k > a THEN
             ROUND((st[1] * a / k * (k / (k - a)))
                   / (st[2] + st[1] * a / k * (k / (k - a))), 8)
           END AS p_wait,
           CASE WHEN k > a THEN
             (st[1] * a / k * (k / (k - a)))
               / (st[2] + st[1] * a / k * (k / (k - a))) < 0.2
           END AS meets_sla
    FROM terms
    ORDER BY k
    """,
    tags=("analytics", "queueing", "staffing", "stateful"),
)
def ds_erlang_c_staffing(spark, sf_dir):
    """Erlang-C staffing curve — the queueing-theory readout behind
    every support/ops staffing decision: with the arrival rate λ
    MEASURED from the event stream (exact count over the exact µs
    span) and a {_ERL_MU_PER_HR}/hr service rate, what is P(wait) at
    k = 1..{_ERL_KS[-1]} agents, and which k first meets a 20% SLA?
    Offered load a = λ/μ; ErlangC(k,a) = (aᵏ/k!·k/(k−a)) /
    (Σᵢ<ₖ aⁱ/i! + aᵏ/k!·k/(k−a)), unstable regimes (k ≤ a) emit NULL.

    Determinism: a is a ratio of exact integers; the factorial series
    folds SEQUENTIALLY (state [term, partial-sum], term·a/i per step
    — no pow/gamma calls), so every per-k probability is one
    identical IEEE chain in both engines, rounded 1e-8 (O(1)
    magnitude).

    Scale: the DATA cost is one count+min+max aggregate; the k-sweep
    runs on a 12-row spine against the one-row load broadcast. At
    100 TB λ comes from the same aggregate over a time-bucketed
    relation (per-hour staffing = group the spine by hour)."""
    e = t(spark, sf_dir, "events")
    span = e.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.expr("unix_micros(MAX(ts)) - unix_micros(MIN(ts))")).alias("span_us"),
    )
    lam = span.select(
        "n",
        "span_us",
        (F.col("n").cast("double") * 3600000000.0 / F.col("span_us")).alias(
            "lambda_hr"
        ),
        (
            F.col("n").cast("double")
            * 3600000000.0
            / F.col("span_us")
            / _ERL_MU_PER_HR
        ).alias("a"),
    )
    ks = spark.range(1, _ERL_KS[-1] + 1).select(F.col("id").cast("int").alias("k"))
    j = ks.crossJoin(F.broadcast(lam))

    def fold(acc, i):
        term = F.element_at(acc, 1) * F.col("a") / i.cast("double")
        return F.array(term, F.element_at(acc, 2) + term)

    # sequence(1, 0) DESCENDS in Spark (it is not empty as in DuckDB's
    # generate_series), so the k = 1 spine row needs an explicit empty
    steps = F.expr(
        "CASE WHEN k > 1 THEN sequence(1, k - 1)"
        " ELSE CAST(array() AS array<int>) END"
    )
    st = F.aggregate(
        steps,
        F.array(F.lit(1.0), F.lit(1.0)),
        fold,
    )
    terms = j.select("k", "a", st.alias("st"))
    tail = (
        F.element_at("st", 1)
        * F.col("a")
        / F.col("k")
        * (F.col("k").cast("double") / (F.col("k") - F.col("a")))
    )
    p_wait = tail / (F.element_at("st", 2) + tail)
    unstable = F.col("k").cast("double") <= F.col("a")
    return terms.select(
        "k",
        F.round("a", 8).alias("offered_erlangs"),
        F.round(F.col("a") / F.col("k"), 8).alias("utilization"),
        F.when(~unstable, F.round(p_wait, 8)).alias("p_wait"),
        F.when(~unstable, p_wait < 0.2).alias("meets_sla"),
    ).orderBy("k")


@query(
    "ds_seasonal_strength",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus AS st,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             {sql_fixed("o_totalprice", 2)}
               AS rev_c
      FROM orders GROUP BY st, epoch_day
    ),
    tr AS (
      SELECT st, epoch_day, rev_c,
             CAST(SUM(rev_c) OVER w AS BIGINT) AS sum7,
             CAST(COUNT(*) OVER w AS BIGINT) AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY st ORDER BY epoch_day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT st, epoch_day, rev_c, rev_c * 7 - sum7 AS d7,
             (epoch_day + 4) % 7 AS dow
      FROM tr WHERE cnt7 = 7
    ),
    seas AS (
      SELECT st, dow, CAST(SUM(d7) AS BIGINT) AS s_num,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM det GROUP BY st, dow
    ),
    fp AS (
      SELECT d.st,
             (d.d7 * 1000000) // 7 AS x_fp,
             (d.d7 * 1000000) // 7
               - (s.s_num * 1000000) // (7 * s.s_cnt) AS r_fp,
             d.rev_c * 1000000
               - (s.s_num * 1000000) // (7 * s.s_cnt) AS y_fp
      FROM det d JOIN seas s ON d.st = s.st AND d.dow = s.dow
    ),
    m AS (
      SELECT st, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_fp) AS HUGEINT) AS sx,
             SUM(CAST(x_fp AS HUGEINT) * x_fp) AS sxx,
             CAST(SUM(r_fp) AS HUGEINT) AS sr,
             SUM(CAST(r_fp AS HUGEINT) * r_fp) AS srr,
             CAST(SUM(y_fp) AS HUGEINT) AS sy,
             SUM(CAST(y_fp AS HUGEINT) * y_fp) AS syy
      FROM fp GROUP BY st
    )
    SELECT st AS o_orderstatus, n,
           ROUND(GREATEST(0.0,
             1.0 - (CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
                    - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))), 8)
             AS strength_seasonal,
           ROUND(GREATEST(0.0,
             1.0 - (CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
                    - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 8)
             AS strength_trend
    FROM m ORDER BY o_orderstatus
    """,
    tags=("analytics", "timeseries", "decomposition", "diagnostics"),
)
def ds_seasonal_strength(spark, sf_dir):
    """Seasonal/trend strength diagnostics (Hyndman's F-measures) on
    the `ds_stl_decompose_lite` components: F_seasonal =
    max(0, 1 − Var(R)/Var(S+R)) and F_trend = max(0, 1 − Var(R)/
    Var(T+R)) — the two numbers that decide whether a series EARNS a
    seasonal model (`ds_holt_winters`) or a plain level/trend one
    (`win_holt_linear_fold`); model-selection gates, not plots.

    Exactness: the decomposition components are carried as EXACT
    fixed-point integers — detrended x = (d7·10⁶) div 7, seasonal s =
    (s_num·10⁶) div (7·s_cnt), residual r = x − s, deseasonalized
    y = rev·10⁶ − s — so every variance is the integer moment form
    nΣv² − (Σv)² in the HUGEINT/decimal lane, and each strength is
    ONE rounded double ratio. No float series is ever re-aggregated.

    Scale: the STL shapes (daily pre-aggregate, one centered-frame
    window per status, ≤|status|·7 seasonal relation) plus one
    grouped moment fold."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy(F.col("o_orderstatus").alias("st"), "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    w7 = Window.partitionBy("st").orderBy("epoch_day").rowsBetween(-3, 3)
    det = (
        daily.select(
            "st",
            "epoch_day",
            "rev_c",
            F.sum("rev_c").over(w7).cast("long").alias("sum7"),
            F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
        )
        .filter(F.col("cnt7") == 7)
        .select(
            "st",
            "rev_c",
            (F.col("rev_c") * 7 - F.col("sum7")).alias("d7"),
            ((F.col("epoch_day") + 4) % 7).alias("dow"),
        )
    )
    seas = det.groupBy("st", "dow").agg(
        F.sum("d7").cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    fp = det.join(F.broadcast(seas), ["st", "dow"]).select(
        "st",
        F.expr("(d7 * 1000000) div 7").alias("x_fp"),
        F.expr(
            "(d7 * 1000000) div 7 - (s_num * 1000000) div (7 * s_cnt)"
        ).alias("r_fp"),
        F.expr(
            "rev_c * 1000000 - (s_num * 1000000) div (7 * s_cnt)"
        ).alias("y_fp"),
    )
    m = fp.groupBy("st").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x_fp").alias("sx"),
        F.sum(F.expr("cast(x_fp as decimal(38,0)) * x_fp")).alias("sxx"),
        F.sum("r_fp").alias("sr"),
        F.sum(F.expr("cast(r_fp as decimal(38,0)) * r_fp")).alias("srr"),
        F.sum("y_fp").alias("sy"),
        F.sum(F.expr("cast(y_fp as decimal(38,0)) * y_fp")).alias("syy"),
    )
    n = F.col("n").cast("double")

    def var_num(s_, ss_):
        return n * F.col(ss_).cast("double") - F.col(s_).cast("double") * F.col(
            s_
        ).cast("double")

    return m.select(
        F.col("st").alias("o_orderstatus"),
        "n",
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var_num("sr", "srr") / var_num("sx", "sxx")),
            8,
        ).alias("strength_seasonal"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var_num("sr", "srr") / var_num("sy", "syy")),
            8,
        ).alias("strength_trend"),
    ).transform(order_bounded, "o_orderstatus")
