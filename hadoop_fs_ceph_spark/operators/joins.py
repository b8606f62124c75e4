"""Join family: inner/outer/semi/anti/cross/theta/as-of/null-safe;
broadcast vs SMJ.

Scale posture per join:
* fact⋈dim joins broadcast the dimension explicitly (``F.broadcast``) —
  no shuffle of the fact side; at 100 TB the dim tables (region, nation,
  part, supplier, even customer) stay far below executor memory.
* fact⋈fact joins (lineitem⋈orders) shuffle on the join key; AQE handles
  skew splitting. Plan shape asserted in tests/test_plans.py.
* The as-of join deliberately avoids the naive range-join pair blowup:
  it is union + window (one shuffle on the partition key), the only
  formulation that survives 100 TB event streams.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.canonical import dsum, fixed, sql_dsum, sql_fixed, sql_units, units
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import dim, order_bounded, t


@query(
    "join_inner_hash",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice', 'total_price')}
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    tags=("join",),
    bench=True,
)
def join_inner_hash(spark, sf_dir):
    """Inner equi-join orders⋈customer. customer is SF-scaled (multi-TB
    at warehouse scale), so no broadcast hint: AQE broadcasts it at test
    scale (under the threshold) and shuffle-joins at cluster scale."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_price"))
        .transform(order_bounded, "c_mktsegment")
    )


@query(
    "join_broadcast_dim",
    oracle=f"""
    SELECT n.n_name,
           COUNT(*) AS n_customers,
           {sql_dsum('c.c_acctbal', 'total_balance')}
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    tags=("join", "broadcast"),
    bench=True,
)
def join_broadcast_dim(spark, sf_dir):
    """Fact⋈dim with an explicit broadcast hint on a TRULY bounded dim:
    nation is 25 rows at every scale factor, so the hint is honest at
    100 TB (SF-scaled tables like part/customer must NOT be hinted — a
    forced broadcast bypasses the threshold and OOMs the driver; they go
    through AQE instead, see `tables.dim`). The segment filter stays on
    the probe side and pushes to the parquet scan."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    n = dim(spark, sf_dir, "nation")
    return (
        c.join(n, c.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_balance"),
        )
        .transform(order_bounded, "n_name")
    )


@query(
    "join_sortmerge_facts",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice', 'sum_price')}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "sortmerge"),
    bench=True,
)
def join_sortmerge_facts(spark, sf_dir):
    """Fact⋈fact (lineitem⋈orders): at 100 TB both sides exceed broadcast
    range, so this is the shuffle-join path — AQE picks SMJ there and
    splits skewed l_orderkey partitions at runtime; at test scale it may
    legitimately broadcast the filtered orders side instead. The SMJ plan
    shape is pinned in tests/test_plans.py by disabling auto-broadcast,
    not by hinting here — hints would pessimize every scale."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_extendedprice", "sum_price"))
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           COUNT(o.o_orderkey) AS n_recent_orders,
           COALESCE(MAX(o.o_totalprice), -1.0) AS max_recent_price
    FROM customer c
    LEFT JOIN (SELECT * FROM orders
               WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00') o
      ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join", "outer"),
)
def join_left_outer(spark, sf_dir):
    """Left outer join preserving customers with zero recent orders
    (COUNT over the null-extended side → 0; MAX → NULL → sentinel)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    )
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_recent_orders"),
            F.coalesce(F.max("o_totalprice"), F.lit(-1.0)).alias("max_recent_price"),
        )
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT n.n_name, s.s_suppkey, s.s_name
    FROM supplier s
    RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
    tags=("join", "outer"),
)
def join_right_outer(spark, sf_dir):
    """Right outer join: every nation appears even with no suppliers."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return s.join(n, s.s_nationkey == n.n_nationkey, "right").select(
        "n_name", "s_suppkey", "s_name"
    )


@query(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    tags=("join", "outer"),
)
def join_full_outer(spark, sf_dir):
    """Full outer join of two pre-aggregated sides (nations with only
    customers, only suppliers, or both)."""
    cn = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, cn.nk == sn.nk, "full").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
                    AND o.o_totalprice > 300000)
    """,
    tags=("join", "semi"),
)
def join_left_semi(spark, sf_dir):
    """Left semi join = EXISTS: customers with a big urgent order.
    Semi joins ship only the join key of the right side — cheapest of the
    join family at scale."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_mktsegment")


@query(
    "join_left_anti",
    oracle="""
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-06-01 00:00:00')
    """,
    tags=("join", "anti"),
)
def join_left_anti(spark, sf_dir):
    """Left anti join = NOT EXISTS: customers with no recent orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-06-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_acctbal")


@query(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name,
           CASE WHEN r.r_regionkey = n.n_regionkey THEN 1 ELSE 0 END AS is_home
    FROM region r CROSS JOIN nation n
    """,
    tags=("join", "cross"),
)
def join_cross(spark, sf_dir):
    """Cross join of two bounded dims (cardinality |r|×|n| is constant —
    cross joins are only ever declared over bounded inputs)."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name",
        "n_name",
        F.when(F.col("r_regionkey") == F.col("n_regionkey"), 1).otherwise(0).alias("is_home"),
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT s.s_suppkey,
           COUNT(*) AS n_richer_cust,
           MIN(c.c_custkey) AS first_cust
    FROM supplier s
    JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND c.c_acctbal > s.s_acctbal
    GROUP BY s.s_suppkey
    """,
    tags=("join", "theta"),
)
def join_theta_range(spark, sf_dir):
    """Theta join: equi key (nationkey) + range predicate (acctbal).
    The equi component keeps it a hash/SMJ join with the range as a
    post-join filter — never a cartesian."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_cust"), F.min("c_custkey").alias("first_cust"))
    )


@query(
    "join_asof_event",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('click', 'purchase')
    ), carried AS (
      SELECT *,
             LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_event_id,
             LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
      FROM tagged
    )
    SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
           click_event_id, click_ts
    FROM carried WHERE kind = 1
    """,
    tags=("join", "asof"),
)
def join_asof_event(spark, sf_dir):
    """As-of join: for each purchase, the latest click by the same user at
    or before the purchase timestamp.

    Implemented union-and-carry: tag both event kinds, sort within user
    (clicks before purchases at equal ts), and carry the last click forward
    with ``last(..., ignorenulls)``. One shuffle on user_id, zero pair
    blowup — this is the only as-of formulation that scales to 100 TB event
    logs (a range join materializes every click≤purchase pair)."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    click_ts = F.when(F.col("kind") == 0, F.col("ts"))
    return (
        tagged.withColumn("click_event_id", F.last(click_id, ignorenulls=True).over(w))
        .withColumn("click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "click_event_id",
            "click_ts",
        )
    )


@query(
    "join_asof_forward",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS kind
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    carried AS (
      SELECT user_id, ts, event_id, kind,
             FIRST_VALUE(CASE WHEN kind = 1 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_id,
             FIRST_VALUE(CASE WHEN kind = 1 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_view_ts
      FROM tagged
    )
    SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
           next_view_id, next_view_ts
    FROM carried WHERE kind = 0
    """,
    tags=("join", "asof", "forward"),
)
def join_asof_forward(spark, sf_dir):
    """Forward as-of join: for each purchase, the EARLIEST view by the
    same user at or after the purchase (the "what did they do next"
    direction; purchases sort before views at equal ts so a same-instant
    view counts). Same union-and-carry shape as the backward as-of —
    one shuffle on user_id, zero pair blowup — but carrying with
    first_value over the forward-unbounded frame instead of last over
    the trailing frame."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    view_id = F.when(F.col("kind") == 1, F.col("event_id"))
    view_ts = F.when(F.col("kind") == 1, F.col("ts"))
    return (
        tagged.withColumn("next_view_id", F.first(view_id, ignorenulls=True).over(w))
        .withColumn("next_view_ts", F.first(view_ts, ignorenulls=True).over(w))
        .filter(F.col("kind") == 0)
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "next_view_id",
            "next_view_ts",
        )
    )


@query(
    "join_existence_flag",
    oracle="""
    SELECT c_mktsegment, has_open, has_final,
           COUNT(*) AS n_customers
    FROM (
      SELECT c_custkey, c_mktsegment,
             EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
               AS has_open,
             EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
               AS has_final
      FROM customer
    )
    GROUP BY c_mktsegment, has_open, has_final
    ORDER BY c_mktsegment, has_open, has_final
    """,
    tags=("join", "existence", "mark-join"),
)
def join_existence_flag(spark, sf_dir):
    """Mark join: EXISTS as a retained boolean column rather than a
    filter (semi/anti discard the flag; analytics wants it as a
    dimension). Realized as two distinct-projected left joins — the
    de-duplicated key sets are orders-of-magnitude smaller than the
    fact table, so AQE broadcasts them and the customer side never
    shuffles. Segments are then profiled by their (has_open,
    has_final) lifecycle mix — the portfolio view behind churn
    dashboards. Oracle is the literal EXISTS-in-SELECT spelling."""
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = t(spark, sf_dir, "orders")

    def key_set(status, alias):
        return (
            o.filter(F.col("o_orderstatus") == status)
            .select(F.col("o_custkey").alias(alias))
            .distinct()
        )

    open_k = key_set("O", "open_key")
    final_k = key_set("F", "final_key")
    flagged = (
        c.join(open_k, c.c_custkey == open_k.open_key, "left")
        .join(final_k, c.c_custkey == final_k.final_key, "left")
        .select(
            "c_mktsegment",
            F.col("open_key").isNotNull().alias("has_open"),
            F.col("final_key").isNotNull().alias("has_final"),
        )
    )
    return (
        flagged.groupBy("c_mktsegment", "has_open", "has_final")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .transform(order_bounded, "c_mktsegment", "has_open", "has_final")
    )


@query(
    "join_dpp_partitioned",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
           COUNT(*) AS n,
           {sql_fixed("o_totalprice", 2)}
             AS cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "dpp", "partition-pruning"),
)
def join_dpp_partitioned(spark, sf_dir):
    """Dynamic partition pruning: the fact table is laid out
    partitioned by status; the dimension side carries the selective
    filter (status = 'F'); the JOIN key is the partition column — so
    at plan time Spark injects a DynamicPruning subquery that runs
    the dim filter FIRST and prunes fact partitions before the scan
    (asserted in tests/test_plans.py). At 100 TB this is the
    difference between scanning one partition and scanning the lake
    when the filter lives in a dimension, not on the fact — static
    pruning can't see through the join. The oracle is the post-join
    semantics expressed directly."""
    from hadoop_fs_ceph_spark.sources import write_table

    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "dpp_orders")
    write_table(o, path, format="parquet", mode="overwrite",
                partition_by=["o_orderstatus"])
    fact = spark.read.parquet(path)
    # The dim is a real table on disk (status → label): its filter sits
    # on a NON-join attribute whose mapping to the join key is data, not
    # expressions — Catalyst cannot fold it into a static partition
    # filter, so pruning the fact scan requires the runtime DPP subquery
    # (filter the dim first, broadcast the surviving keys, prune).
    dim_path = scratch.path(sf_dir, "dpp_status_dim")
    write_table(
        o.select("o_orderstatus")
        .distinct()
        .withColumnRenamed("o_orderstatus", "dim_status")
        .withColumn(
            "label",
            F.when(F.col("dim_status") == "F", "final").otherwise("open"),
        ),
        dim_path,
        format="parquet",
        mode="overwrite",
    )
    dim = (
        spark.read.parquet(dim_path)
        .filter(F.col("label") == "final")
        .select("dim_status")
    )
    return (
        fact.join(dim, fact.o_orderstatus == dim.dim_status)
        .groupBy(F.year("o_orderdate").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            fixed("o_totalprice", 2).alias("cents"),
        )
        .transform(order_bounded, "yr")
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
    pairs AS (
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             abs(epoch_us(v.ts) - epoch_us(p.ts)) AS gap_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)), v.event_id
             ) AS rn
      FROM p JOIN v ON p.user_id = v.user_id
    )
    SELECT user_id, purchase_id, view_id, gap_us
    FROM pairs WHERE rn = 1
    """,
    tags=("join", "asof", "nearest"),
)
def join_asof_nearest(spark, sf_dir):
    """Nearest-neighbor as-of join: each purchase pairs with the view
    closest in time in EITHER direction — the sensor-alignment
    semantics (match each reading to the nearest reference tick).
    Composed scale-safely from the two directional as-ofs in ONE
    union-and-carry pass: a backward window carries the last view ≤ t,
    a forward window carries the first view ≥ t (same sort, same
    single shuffle on user_id — Catalyst collapses the two window
    specs), and the winner is min by (gap, view_id). The naive
    formulation the oracle uses (all purchase×view pairs per user +
    rank) is exactly what this avoids: the union-carry never
    materializes a pair blowup."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type").isin("view", "purchase"))
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("kind"),
    )
    order = ["ts", "kind", "event_id"]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v_id = F.when(F.col("kind") == 0, F.col("event_id"))
    v_ts = F.when(F.col("kind") == 0, F.col("ts"))
    carried = (
        tagged.withColumn("b_id", F.last(v_id, ignorenulls=True).over(wb))
        .withColumn("b_ts", F.last(v_ts, ignorenulls=True).over(wb))
        .withColumn("f_id", F.first(v_id, ignorenulls=True).over(wf))
        .withColumn("f_ts", F.first(v_ts, ignorenulls=True).over(wf))
        .filter(F.col("kind") == 1)
    )
    gap_b = F.unix_micros("ts") - F.unix_micros("b_ts")
    gap_f = F.unix_micros("f_ts") - F.unix_micros("ts")
    pick_back = F.col("b_id").isNotNull() & (
        F.col("f_id").isNull()
        | (gap_b < gap_f)
        | ((gap_b == gap_f) & (F.col("b_id") <= F.col("f_id")))
    )
    return (
        carried.withColumn("view_id", F.when(pick_back, F.col("b_id")).otherwise(F.col("f_id")))
        .withColumn("gap_us", F.when(pick_back, gap_b).otherwise(gap_f))
        .filter(F.col("view_id").isNotNull())
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "view_id",
            "gap_us",
        )
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH fulfill AS (
      SELECT o.o_orderkey, o.o_custkey,
             CAST(o.o_orderdate AS DATE) AS f_start,
             MAX(CAST(l.l_shipdate AS DATE)) AS f_end
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
    ),
    pairs AS (
      SELECT a.o_custkey, COUNT(*) AS n_overlapping_pairs
      FROM fulfill a JOIN fulfill b
        ON a.o_custkey = b.o_custkey
       AND a.o_orderkey < b.o_orderkey
       AND a.f_start <= b.f_end
       AND b.f_start <= a.f_end
      GROUP BY a.o_custkey
    ),
    norder AS (
      SELECT o_custkey, COUNT(*) AS n_orders FROM fulfill GROUP BY o_custkey
    )
    SELECT p.o_custkey, CAST(n.n_orders AS BIGINT) AS n_orders,
           CAST(p.n_overlapping_pairs AS BIGINT) AS n_overlapping_pairs
    FROM pairs p JOIN norder n ON p.o_custkey = n.o_custkey
    ORDER BY p.o_custkey
    """,
    tags=("join", "interval", "overlap", "self-join"),
)
def join_interval_overlap(spark, sf_dir):
    """INTERVAL × INTERVAL overlap join: each order is a FULFILLMENT
    window [order date, last shipment date]; per customer, count the
    pairs of their orders whose windows overlap (the classic
    ``a.start ≤ b.end AND b.start ≤ a.end`` predicate) — concurrent
    open-order analysis, the interval-pair shape that neither as-of nor
    point-in-range joins express.

    Scale shape: the interval relation aggregates orders⋈lineitem DOWN
    to one row per order first; the overlap self-join carries o_custkey
    as its EQUALITY key — both sides are the SAME relation shuffled
    once (Catalyst reuses the exchange, like ds_market_basket) — and
    the theta predicate refines within each customer's ~10-order group
    (fan-out ≤ C(10,2), a spec constant independent of SF). Never a
    keyless cartesian; the order count re-joins a per-customer
    aggregate of the same shuffled relation."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    fulfill = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("f_end"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("f_start"),
            "f_end",
        )
    )
    a = fulfill.select(
        "o_custkey",
        F.col("o_orderkey").alias("ok_a"),
        F.col("f_start").alias("start_a"),
        F.col("f_end").alias("end_a"),
    )
    b = fulfill.select(
        "o_custkey",
        F.col("o_orderkey").alias("ok_b"),
        F.col("f_start").alias("start_b"),
        F.col("f_end").alias("end_b"),
    )
    pairs = (
        a.join(b, "o_custkey")
        .filter(
            (F.col("ok_a") < F.col("ok_b"))
            & (F.col("start_a") <= F.col("end_b"))
            & (F.col("start_b") <= F.col("end_a"))
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_overlapping_pairs"))
    )
    norder = fulfill.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        pairs.join(norder, "o_custkey")
        .select("o_custkey", "n_orders", "n_overlapping_pairs")
        .orderBy("o_custkey")
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour staleness bound


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind
      FROM events WHERE event_type IN ('click', 'purchase')
    ), carried AS (
      SELECT *,
             LAST_VALUE(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_id,
             LAST_VALUE(CASE WHEN kind = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, kind, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_ts
      FROM tagged
    )
    SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
           CASE WHEN c_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(c_ts) <= {_ASOF_TOL_US}
                THEN c_id END AS click_event_id,
           CASE WHEN c_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(c_ts) <= {_ASOF_TOL_US}
                THEN epoch_us(ts) - epoch_us(c_ts) END AS gap_us,
           CAST(c_ts IS NOT NULL
                AND epoch_us(ts) - epoch_us(c_ts) <= {_ASOF_TOL_US}
                AS BOOLEAN) AS matched
    FROM carried WHERE kind = 1
    """,
    tags=("join", "asof", "tolerance"),
)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness TOLERANCE (pandas ``merge_asof``'s
    ``tolerance=`` semantics): each purchase matches its latest
    preceding click only if that click is at most 1 hour old —
    attribution windows, quote-staleness rules, and sensor-alignment
    joins all need the bound, because an unbounded as-of silently
    attributes to arbitrarily ancient events.

    Same union-and-carry single-shuffle plan as `join_asof_event`
    (never a pair-materializing range join); the tolerance is one
    integer-microsecond comparison applied AFTER the carry, nulling
    out stale matches. `matched` makes the drop rate directly
    aggregable."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c_id = F.when(F.col("kind") == 0, F.col("event_id"))
    c_ts = F.when(F.col("kind") == 0, F.col("ts"))
    gap = F.unix_micros("ts") - F.unix_micros("c_ts")
    fresh = F.col("c_ts").isNotNull() & (gap <= _ASOF_TOL_US)
    return (
        tagged.withColumn("c_id", F.last(c_id, ignorenulls=True).over(w))
        .withColumn("c_ts", F.last(c_ts, ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.when(fresh, F.col("c_id")).alias("click_event_id"),
            F.when(fresh, gap).alias("gap_us"),
            fresh.alias("matched"),
        )
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS status,
             ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             CAST(row_number() OVER w AS BIGINT) AS version_no
      FROM events WHERE event_type <> 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    facts AS (
      SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT f.purchase_event_id, f.user_id, f.purchase_ts,
           d.status AS status_at_purchase, d.version_no
    FROM facts f LEFT JOIN dim d
      ON d.user_id = f.user_id
     AND d.valid_from <= f.purchase_ts
     AND (d.valid_to IS NULL OR f.purchase_ts < d.valid_to)
    """,
    tags=("join", "point-in-time", "scd2", "temporal"),
)
def join_point_in_time_scd2(spark, sf_dir):
    """Point-in-time (PIT) join against SCD2 history — THE feature-store
    primitive: each purchase retrieves the dimension version that was
    valid AT ITS TIMESTAMP (here: the user's last non-purchase status),
    never a later one — the join that makes backtests leakage-free.
    Consumes exactly the [valid_from, valid_to) intervals
    `src_scd2_build` produces; purchases before a user's first version
    survive with NULL status (left join), because silently dropping
    early facts is how training sets lose their cold-start rows.

    Scale shape: the join's EQUALITY key is user_id — the interval
    predicate only refines within one user's ~dozens of versions, so
    there is no range-join blowup; both sides shuffle once on the key.
    Because [valid_from, valid_to) intervals TILE each user's timeline
    (pinned by the SCD2 invariant test), at most one version matches
    per fact — cardinality is exactly |facts|."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dim = (
        e.filter(F.col("event_type") != "purchase")
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.row_number().over(w).cast("long").alias("version_no"),
        )
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (dim["user_id"] == facts["user_id"])
        & (dim["valid_from"] <= facts["purchase_ts"])
        & (dim["valid_to"].isNull() | (facts["purchase_ts"] < dim["valid_to"]))
    )
    return facts.join(dim, cond, "left").select(
        "purchase_event_id",
        facts["user_id"].alias("user_id"),
        "purchase_ts",
        F.col("status").alias("status_at_purchase"),
        "version_no",
    )


@query(
    "join_salted_replicated",
    oracle=f"""
    SELECT s.s_suppkey, s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey
    """,
    tags=("join", "skew", "salt"),
)
def join_salted_replicated(spark, sf_dir):
    """Salted replicated join — the manual skew breaker for when a
    shuffle join's hot key floods one reducer and neither AQE skew-join
    (which only splits, per-partition) nor broadcast (build side too
    big) applies: the BUILD side is replicated across 16 salt replicas
    (explode of a literal salt sequence), the PROBE side derives its
    salt from a high-cardinality column (l_orderkey % 16), and the join
    key becomes (suppkey, salt) — every hot key's probe rows now spread
    over 16 reducers, each finding its own build replica. The supplier
    relation here is deliberately low-cardinality (10 keys at sf0.001),
    so EVERY key is hot: the unsalted shuffle plan would put ~1/10th of
    the fact table on single reducers.

    Salting is semantically transparent — the salt partitions probe rows
    disjointly and each partition joins the same supplier tuple — so the
    oracle is the PLAIN join + aggregate, and the fixed-point revenue
    sum is order-independent by construction (salted partial order
    differs from unsalted). The 16× build replication is |build|·16
    rows — trivially bounded for the dim-sized build sides this pattern
    exists for."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "salt", (F.col("l_orderkey") % 16).cast("int")
    )
    s_rep = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("salt"),
    )
    return (
        li.join(s_rep, (li.l_suppkey == s_rep.s_suppkey) & (li.salt == s_rep.salt))
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("s_suppkey")
    )


_ER_JACCARD_MIN = 0.5


@query(
    "join_er_blocked",
    oracle=f"""
    WITH px AS (
      SELECT p_partkey, p_brand, p_name,
             list_distinct(string_split(p_name, ' ')) AS toks
      FROM part
    ),
    cand AS (
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
             a.p_name AS name_a, b.p_name AS name_b,
             a.p_brand AS brand,
             len(list_intersect(a.toks, b.toks)) AS inter,
             len(a.toks) + len(b.toks)
               - len(list_intersect(a.toks, b.toks)) AS uni,
             levenshtein(a.p_name, b.p_name) AS edit_dist
      FROM px a JOIN px b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    )
    SELECT part_a, part_b, brand, name_a, name_b,
           inter / CAST(uni AS DOUBLE) AS name_jaccard,
           CAST(edit_dist AS INTEGER) AS edit_dist
    FROM cand
    WHERE inter / CAST(uni AS DOUBLE) >= {_ER_JACCARD_MIN}
    ORDER BY part_a, part_b
    """,
    tags=("join", "entity-resolution", "blocked", "similarity"),
    bench=True,
)
def join_er_blocked(spark, sf_dir):
    """Blocked ENTITY-RESOLUTION join: candidate part pairs come ONLY
    from within a blocking key (brand — production composes several
    cheap keys: normalized prefix, phonetic code, geo bucket), then
    each candidate is scored with two independent match signals —
    token-set Jaccard of the names (≥ {_ER_JACCARD_MIN} gates the
    output) and Levenshtein distance (reported for the clerical-review
    tier). This is the textbook two-phase ER shape: blocking turns the
    n² all-pairs problem into Σ_b |block_b|², and the expensive string
    metrics run on candidates only — exactly the LSH-candidates-then-
    verify discipline of the dedup family, with attribute blocking in
    place of signature banding.

    Scale shape: the block self-join is an EQUALITY join on the
    blocking key (shuffle-partitioned by block, never cartesian);
    skewed mega-blocks are the known failure mode — production splits
    them with a salted sub-block key, the `join_salted_replicated`
    pattern. Jaccard is a ratio of exact integers and Levenshtein is
    an integer, so every column hash-matches.

    Round-12 (guide §3.2 pre-filter the big side, measured): candidates
    now come from a (brand, token) equality self-join instead of the
    full brand block — exact by theorem, since J ≥ {_ER_JACCARD_MIN}
    > 0 requires ≥ 1 shared name token, and a pair sharing a token
    within a brand collides on that (brand, token) key. At sf0.1 the
    brand blocks alone produced 8.0M scored pairs (jaccard over all of
    them cost ~7 s, 18.4 s total); the token sub-block yields ~250k
    candidate pairs before verification — the string metrics now run on
    1/30th the pairs: 18.4 → 3.1 s cold. Each pair is generated once
    per SHARED token, so the (doc_a, doc_b)-grain distinct stays ≤ the
    old block-pair volume by construction."""
    p = t(spark, sf_dir, "part")
    px = p.select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.array_distinct(F.split("p_name", " ")).alias("toks"),
    )
    ptoks = px.select(
        "p_partkey", "p_brand", F.explode("toks").alias("btok")
    )
    cand = (
        ptoks.alias("a")
        .join(
            ptoks.alias("b"),
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.btok") == F.col("b.btok")),
        )
        .filter(F.col("a.p_partkey") < F.col("b.p_partkey"))
        .select(
            F.col("a.p_partkey").alias("part_a"),
            F.col("b.p_partkey").alias("part_b"),
        )
        .distinct()
    )
    a = px.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_a"),
        F.col("toks").alias("toks_a"),
    )
    b = px.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
        F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    jac = inter / uni.cast("double")
    return (
        cand.join(a, "part_a")
        .join(b, "part_b")
        .select(
            "part_a",
            "part_b",
            "brand",
            "name_a",
            "name_b",
            jac.alias("name_jaccard"),
            F.levenshtein("name_a", "name_b").cast("int").alias("edit_dist"),
        )
        .filter(F.col("name_jaccard") >= _ER_JACCARD_MIN)
        .orderBy("part_a", "part_b")
    )


_BLOOM_BITS = 1 << 16  # m: 65,536 bits = 1,024 64-bit words
_BLOOM_K = 3  # hash probes per key


def _bloom_positions(key, m: int, k: int):
    """k bit positions for a key: pmod(xxhash64(key, seed_i), m)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m)).cast("long")
        for i in range(k)
    ]


@query(
    "join_bloom_prefilter",
    oracle=f"""
    SELECT s.s_suppkey, s.s_name,
           COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey % 5 = 3
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey
    """,
    tags=("join", "bloom", "prefilter", "scale"),
)
def join_bloom_prefilter(spark, sf_dir):
    """Bloom-filter semi-join reduction: the small side's join keys are
    folded into an 8 KiB (65,536-bit) bit array (k=3 xxhash64 probes, bits OR-ed into
    1,024 64-bit words) that is broadcast as ONE row and applied to the
    fact side BEFORE the join — the runtime-filter pattern Spark's own
    AQE injects for shuffle joins, built here explicitly so the
    reduction also applies when the join is broadcast or the filter must
    cross a stage boundary AQE cannot see through.

    Output contract: bit-identical to the plain equi-join (the oracle) —
    a Bloom filter has NO false negatives, and its false positives are
    eliminated by the real join that follows; the bloom stage only
    reduces the bytes that reach it. All hashing is JVM-side
    (`xxhash64`), the bitmap build is one ≤1,024-row map-combined
    `bit_or` aggregate, and the probe is three `element_at` + bitwise-AND
    tests inside whole-stage codegen — zero Python.

    Scale: at 100 TB the fact scan emits only rows whose key *might* be
    in the dim subset (expected pass rate ≈ keys_frac + FP rate; at
    thousands of bits/key here FP ≈ 0) — the shuffle/broadcast-probe
    volume drops by ~4/5 for the one-fifth dim subset before any join
    runs, and by m-sizing the same plan holds at any selectivity. The bitmap is O(m) = 8 KiB regardless of fact size and merges
    associatively (bit_or), so the build is one tiny all-to-one
    aggregate. Reference parity: the reference ships no joins at all
    (SURVEY.md §0); this is engine-layer machinery for the lake it
    mounts (`CephRgwFileSystem.java:1` provides only the byte transport).
    """
    sup = t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") % 5 == 3).select(
        "s_suppkey", "s_name"
    )
    # --- build: keys -> k positions -> distinct -> word/bit -> bit_or ---
    pos = sup.select(
        F.explode(F.array(*_bloom_positions(F.col("s_suppkey"), _BLOOM_BITS, _BLOOM_K))).alias("pos")
    ).distinct()
    words = pos.select(
        F.expr("pos div 64").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))").alias("bit"),
    ).groupBy("word").agg(F.bit_or("bit").alias("bits"))
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )
    # --- probe: fact rows keep only might-contain keys, then real join ---
    l = t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    probed = l.crossJoin(F.broadcast(bloom))
    cond = F.lit(True)
    for i in range(_BLOOM_K):
        probe = (
            f"(coalesce(element_at(bloom, pmod(xxhash64(l_suppkey, {i}), {_BLOOM_BITS}) div 64),"
            f" CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT),"
            f"   CAST(pmod(pmod(xxhash64(l_suppkey, {i}), {_BLOOM_BITS}), 64) AS INT))) != 0"
        )
        cond = cond & F.expr(probe)
    survivors = probed.filter(cond).drop("bloom")
    return (
        survivors.join(F.broadcast(sup), survivors.l_suppkey == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "join_null_bypass_left",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END AS attr_user
      FROM events
    ),
    prof AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_profile_events
      FROM events GROUP BY user_id
    )
    SELECT ev.event_type,
           (ev.attr_user IS NOT NULL) AS attributed,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(p.user_id) AS BIGINT) AS n_matched,
           CAST(COALESCE(SUM(p.n_profile_events), 0) AS BIGINT)
             AS sum_profile_events
    FROM ev LEFT JOIN prof p ON ev.attr_user = p.user_id
    GROUP BY ev.event_type, attributed
    ORDER BY ev.event_type, attributed
    """,
    tags=("join", "null-bypass", "skew", "scale"),
)
def join_null_bypass_left(spark, sf_dir):
    """NULL-key bypass for an outer join — the anti-skew rewrite for the
    unattributed-traffic shape: ~10% of events carry a NULL user key
    (synthesized here as user_id%10==0), and in a plain left join every
    one of those rows still shuffles — all INTO THE SAME null-hash
    partition, the single worst skew a 100 TB outer join can have. The
    rewrite splits the stream BEFORE the exchange: NULL-key rows take a
    map-only path (dim columns filled with typed NULLs — a left join
    can never match them anyway), only attributed rows shuffle, and the
    two legs union back. Result is IDENTICAL to the plain left join
    (the oracle), but the null partition never exists.

    The profile dim is itself derived (per-user event counts) so the
    query is self-contained; at scale it is any user/entity dimension.
    Output is the compact per-(type, attributed) audit: row counts,
    match counts, summed profile mass — exact integers throughout."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END").alias(
            "attr_user"
        ),
        "user_id",
    )
    prof = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("p_user"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_profile_events"))
    )
    with_key = e.filter(F.col("attr_user").isNotNull()).join(
        prof, F.col("attr_user") == F.col("p_user"), "left"
    ).select("event_type", "attr_user", "p_user", "n_profile_events")
    null_leg = e.filter(F.col("attr_user").isNull()).select(
        "event_type",
        "attr_user",
        F.lit(None).cast("long").alias("p_user"),
        F.lit(None).cast("long").alias("n_profile_events"),
    )
    joined = with_key.unionByName(null_leg)
    return (
        joined.groupBy(
            "event_type", F.col("attr_user").isNotNull().alias("attributed")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("p_user").cast("long").alias("n_matched"),
            F.coalesce(F.sum("n_profile_events"), F.lit(0))
            .cast("long")
            .alias("sum_profile_events"),
        )
        .transform(order_bounded, "event_type", "attributed")
    )


@query(
    "join_geo_radius_grid",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             ((c_custkey * 2654435761) % 1000003) % 1000 AS cx,
             ((c_custkey * 2246822519) % 1000033) % 1000 AS cy
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             ((s_suppkey * 2654435761 + 777771) % 1000003) % 1000 AS sx,
             ((s_suppkey * 2246822519 + 333331) % 1000033) % 1000 AS sy
      FROM supplier
    ),
    hits AS (
      SELECT c.c_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_in_radius,
             CAST(MIN(((c.cx - s.sx) * (c.cx - s.sx)
                       + (c.cy - s.sy) * (c.cy - s.sy)) * 100000
                      + s.s_suppkey) AS BIGINT) AS comp
      FROM c JOIN s
        ON (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) <= 2500
      GROUP BY c.c_custkey
    )
    SELECT c_custkey, n_in_radius,
           comp % 100000 AS nearest_suppkey,
           comp // 100000 AS nearest_dist2,
           SQRT(CAST(comp // 100000 AS DOUBLE)) AS nearest_dist
    FROM hits
    ORDER BY c_custkey
    """,
    tags=("join", "spatial", "grid-blocking"),
)
def join_geo_radius_grid(spark, sf_dir):
    """Fixed-radius spatial join via grid-cell blocking — the planar
    pattern behind geo radius lookups (nearest depot, store catchment):
    every customer paired with the suppliers within distance r = 50 on a
    synthetic 1000×1000 integer plane (coordinates derived from keys by
    Knuth/xxhash-style multiplicative mixes — the repo's testdata has no
    geo columns, and integer coords keep every distance EXACT).

    Blocking: space is tiled into r×r cells, so any point within radius
    of a customer lives in the 3×3 cell neighborhood. The supplier side
    (the dim) is exploded ×9 onto its neighbor cells and broadcast; the
    join is pure EQUALITY on the cell id — the quadratic all-pairs the
    oracle runs never materializes engine-side. Exact verification:
    integer dist² ≤ r², nearest = MIN over the composite
    dist²·10⁵ + suppkey (the argmin-without-window trick used across the
    repo — deterministic under ties, no single-partition window).

    Determinism: coordinates, distances, counts, and the composite are
    all exact int arithmetic; the only float is the final SQRT of an
    exact int — bit-identical cross-engine. The oracle is the naive
    theta-join (DuckDB range join), so the hash match proves the 3×3
    neighborhood is complete, not just plausible.

    Scale: cell ids hash-partition evenly by construction (mixed keys);
    the broadcast side is 9·|dim|. With two FACT tables instead, the
    same cell ids feed a sort-merge join with both sides shuffled on
    cell — the blocking logic is unchanged, which is the point."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 2654435761) % 1000003 % 1000).alias("cx"),
        ((F.col("c_custkey") * 2246822519) % 1000033 % 1000).alias("cy"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 2654435761 + 777771) % 1000003 % 1000).alias("sx"),
        ((F.col("s_suppkey") * 2246822519 + 333331) % 1000033 % 1000).alias("sy"),
    )
    r, cell = 50, 50
    cust_c = cust.withColumn("cellx", F.expr(f"cx div {cell}")).withColumn(
        "celly", F.expr(f"cy div {cell}")
    )
    # dim side replicated onto its 3x3 neighborhood => equality join key
    offs = F.expr("explode(arrays_zip(array(-1,-1,-1,0,0,0,1,1,1), array(-1,0,1,-1,0,1,-1,0,1)))")
    supp_n = supp.select(
        "s_suppkey", "sx", "sy", offs.alias("o")
    ).select(
        "s_suppkey",
        "sx",
        "sy",
        (F.expr(f"sx div {cell}") + F.col("o.0")).alias("cellx"),
        (F.expr(f"sy div {cell}") + F.col("o.1")).alias("celly"),
    )
    d2 = (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx")) + (
        F.col("cy") - F.col("sy")
    ) * (F.col("cy") - F.col("sy"))
    hits = (
        cust_c.join(F.broadcast(supp_n), ["cellx", "celly"])
        .filter(d2 <= r * r)
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in_radius"),
            F.min(d2 * 100000 + F.col("s_suppkey")).cast("long").alias("comp"),
        )
    )
    return hits.select(
        "c_custkey",
        "n_in_radius",
        (F.col("comp") % 100000).alias("nearest_suppkey"),
        F.expr("comp div 100000").alias("nearest_dist2"),
        F.sqrt(F.expr("comp div 100000").cast("double")).alias("nearest_dist"),
    ).orderBy("c_custkey")


# Fellegi–Sunter agreement weights (log2 m/u odds), written as exact double
# literals so BOTH engines parse the identical constant — no cross-engine
# transcendental log enters the plan. Illustrative m/u: type (m=.8,u=.2),
# size±1 (m=.8,u=.1 → penalties swapped), first-name-token (m=.9,u=.047).
_FS_W_TYPE, _FS_L_TYPE = 2.0, -3.0
_FS_W_SIZE, _FS_L_SIZE = 3.0, -2.0
_FS_W_NAME, _FS_L_NAME = 4.25, -4.25


@query(
    "join_record_linkage_fs",
    oracle=f"""
    WITH px AS (
      SELECT p_partkey, p_brand, p_type, p_size,
             list_distinct(string_split(p_name, ' ')) AS toks
      FROM part
    ),
    scored AS (
      SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
             a.p_type = b.p_type AS agree_type,
             ABS(a.p_size - b.p_size) <= 1 AS agree_size,
             len(list_intersect(a.toks, b.toks)) > 0 AS agree_name,
             (CASE WHEN a.p_type = b.p_type
                   THEN CAST({_FS_W_TYPE} AS DOUBLE)
                   ELSE CAST({_FS_L_TYPE} AS DOUBLE) END
              + CASE WHEN ABS(a.p_size - b.p_size) <= 1
                     THEN CAST({_FS_W_SIZE} AS DOUBLE)
                     ELSE CAST({_FS_L_SIZE} AS DOUBLE) END
              + CASE WHEN len(list_intersect(a.toks, b.toks)) > 0
                     THEN CAST({_FS_W_NAME} AS DOUBLE)
                     ELSE CAST({_FS_L_NAME} AS DOUBLE) END) AS fs_score
      FROM px a JOIN px b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    )
    SELECT part_a, part_b, agree_type, agree_size, agree_name, fs_score,
           CASE WHEN fs_score >= 5.0 THEN 'match' ELSE 'clerical' END AS tier
    FROM scored
    WHERE fs_score >= 0.0
    ORDER BY part_a, part_b
    """,
    tags=("join", "record-linkage", "fellegi-sunter", "er"),
)
def join_record_linkage_fs(spark, sf_dir):
    """Probabilistic record linkage (Fellegi–Sunter, JASA 1969 — public):
    brand-blocked candidate pairs scored by a WEIGHTED agreement vector
    instead of `join_er_blocked`'s single gated metric. Each field
    comparison contributes its log2 m/u odds (agreement) or
    log2 (1−m)/(1−u) (disagreement); the summed score is thresholded
    into match / clerical-review tiers — the decision structure every
    production linker (Splink et al.) still uses.

    Determinism: the weights are exact double LITERALS (see module
    constants) — the log-odds were folded by hand so no transcendental
    is evaluated in either engine; the score is a fixed-order sum of
    three literals, and every agreement test is integer/boolean.

    Scale: identical posture to `join_er_blocked` — equality self-join
    on the blocking key only, Σ_b |b|² never n²; the agreement vector
    is computed on candidates only, map-side. The m/u parameters
    themselves are estimated offline (EM over a sample — out of scope);
    at 100 TB the scoring pass is unchanged."""
    px = t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_type",
        "p_size",
        F.array_distinct(F.split("p_name", " ")).alias("toks"),
    )
    a = px.select(
        F.col("p_partkey").alias("part_a"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type_a"),
        F.col("p_size").alias("size_a"),
        F.col("toks").alias("toks_a"),
    ).repartition(max(8, spark.sparkContext.defaultParallelism), "part_a")
    # One |part|-row hash exchange spreads the single-file scan across
    # executor cores BEFORE the broadcast self-join fans out to Σ|block|²
    # pairs — without it every pair is generated and scored in the scan's
    # one task (the dedup_simhash disease; measured 4.99 -> 0.79 s at
    # sf0.1). Width is cluster-derived, not a local constant.
    b = px.select(
        F.col("p_partkey").alias("part_b"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("type_b"),
        F.col("p_size").alias("size_b"),
        F.col("toks").alias("toks_b"),
    )
    agree_type = F.col("type_a") == F.col("type_b")
    agree_size = F.abs(F.col("size_a") - F.col("size_b")) <= 1
    agree_name = F.arrays_overlap("toks_a", "toks_b")
    score = (
        F.when(agree_type, F.lit(_FS_W_TYPE)).otherwise(F.lit(_FS_L_TYPE))
        + F.when(agree_size, F.lit(_FS_W_SIZE)).otherwise(F.lit(_FS_L_SIZE))
        + F.when(agree_name, F.lit(_FS_W_NAME)).otherwise(F.lit(_FS_L_NAME))
    )
    return (
        a.join(b, "brand")
        .filter(F.col("part_a") < F.col("part_b"))
        .select(
            "part_a",
            "part_b",
            agree_type.alias("agree_type"),
            agree_size.alias("agree_size"),
            agree_name.alias("agree_name"),
            score.alias("fs_score"),
            F.when(score >= 5.0, F.lit("match")).otherwise(F.lit("clerical")).alias("tier"),
        )
        .filter(F.col("fs_score") >= 0.0)
        .orderBy("part_a", "part_b")
    )


@query(
    "join_aqe_skew_split",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END AS jk,
             {sql_units("l_extendedprice", 2)} AS cents
      FROM lineitem
    ),
    d AS (SELECT o_orderkey AS jk, o_orderpriority FROM orders)
    SELECT d.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(f.cents) AS BIGINT) AS cents
    FROM f JOIN d ON f.jk = d.jk
    GROUP BY d.o_orderpriority ORDER BY d.o_orderpriority
    """,
    tags=("join", "skew", "aqe"),
)
def join_aqe_skew_split(spark, sf_dir):
    """A deliberately skew-keyed fact⋈dim sort-merge join — half of all
    lineitems collapse onto join key 0 — executed WITHOUT manual
    salting. The merge hint pins the shuffle-join shape so the skewed
    exchange exists at every SF, and the oracle proves the answer is
    partition-layout-independent (exact integer cents).

    Mitigation ledger for this skew class: (1) at cluster scale, AQE's
    OptimizeSkewedJoin splits the hot reduce partition into parallel
    map-range sub-reads at runtime — zero code change, the engine ships
    with AQE on (`session.py`); in THIS single-JVM sandbox the rule
    demonstrably evaluates this exact join but declines to split it
    (its DEBUG size report shows the hot partition at ~25× median while
    local-mode map statistics fail its split-worthiness conditions), so
    the repo does NOT claim a skew=true plan it cannot reproduce.
    (2) The static mitigation IS pinned mechanically instead:
    tests/test_extensions.py::test_skew_salted_twin_equivalence re-runs
    this join with the `join_salted_replicated` salt-and-replicate
    rewrite and asserts bit-identical results — the rewrite a 100 TB
    job applies when a hot key is known ahead of time. (3) Aggregation
    skew (which AQE never touches) is covered by `agg_skewed_salted`."""
    li = t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("jk"),
        units("l_extendedprice", 2).alias("cents"),
    )
    d = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("jk"), "o_orderpriority"
    )
    return (
        li.hint("merge")
        .join(d, "jk")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "join_null_safe_keys",
    oracle="""
    WITH a AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END AS k,
             o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    b AS (
      SELECT CASE WHEN n_nationkey % 5 = 0 THEN NULL
                  ELSE list_extract(['F','O','P'], CAST(n_nationkey % 3 AS INTEGER) + 1)
             END AS k,
             n_nationkey
      FROM nation
    )
    SELECT a.k AS status_key, COUNT(*) AS n_pairs,
           CAST(SUM(b.n_nationkey) AS BIGINT) AS nation_sum
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k
    ORDER BY a.k NULLS FIRST
    """,
    tags=("join", "null-safe"),
)
def join_null_safe_keys(spark, sf_dir):
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension the
    plain equi-join family can't express. Spark still plans this as a
    hash-partitioned equi-join (keys wrapped in a null-coalescing
    struct), NOT a nested loop, so the scale posture is the same as any
    shuffle join; NULL becomes one join group, which at skewed scale is
    handled like any hot key (AQE skew split)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0)
    a = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
        "o_totalprice",
    )
    n = t(spark, sf_dir, "nation")
    statuses = F.array(F.lit("F"), F.lit("O"), F.lit("P"))
    b = n.select(
        F.when(F.col("n_nationkey") % 5 == 0, F.lit(None))
        .otherwise(F.element_at(statuses, (F.col("n_nationkey") % 3).cast("int") + 1))
        .alias("kb"),
        "n_nationkey",
    )
    return (
        a.join(b, a.k.eqNullSafe(b.kb))
        .groupBy(a.k.alias("status_key"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_nationkey").alias("nation_sum"),
        )
        .transform(order_bounded, F.col("status_key").asc_nulls_first())
    )
