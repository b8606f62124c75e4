"""TPC-H query shapes Q2–Q5 and Q7–Q22 (Q1 and Q6 are in ``relational``),
adapted to the driver's reduced star schema.

The schema (FIXTURES.md) omits ``partsupp``, ``l_shipmode`` /
``l_commitdate`` / ``l_receiptdate`` and ``c_phone``, so a query built on
those substitutes an available column while keeping its *structural*
challenge (Q2's correlated scalar-min subquery, Q13's outer-join count
distribution, Q21's double EXISTS / NOT EXISTS, ...); each docstring
states its substitution. Revenue is ``_REV``
(``l_extendedprice * (1 - l_discount)``), summed as fixed-point from
``canonical.py`` so both engines agree bit-for-bit; returns are
``l_returnflag = 'R'``.

Scale posture (100 TB): dimension chains (region→nation) broadcast;
fact-fact edges (orders⋈lineitem) shuffle on the order key; every
aggregate is partial before the exchange; correlated subqueries become
aggregate + window / broadcast-join plans rather than per-row re-scans;
global scalars (Q11's threshold, Q15's max, Q22's average) are single-row
broadcasts, not driver-side collects; top-k is TakeOrderedAndProject,
never a full sort.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import dsum, sql_dsum, sql_fixsum
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t

_REV = "l_extendedprice * (1 - l_discount)"
_TS = lambda s: F.lit(s).cast("timestamp")  # noqa: E731


def _rev_col():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           {sql_dsum(_REV, "revenue")},
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-06-01 00:00:00'
      AND l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
    bench=True,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-revenue top-10. customer filters
    broadcast into orders; orders⋈lineitem shuffles on the order key;
    the LIMIT folds into TakeOrderedAndProject."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(F.expr(_REV), "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name, {sql_dsum(_REV, "revenue")}
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
    tags=("tpch", "join"),
    bench=True,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: six-table join, revenue where customer and supplier
    share a nation inside one region. The region filter is pushed INTO
    customer and supplier as broadcast semi-joins against the qualifying
    nation keys (5 of 25 — spec-bounded at every SF) BEFORE any fact
    join (r9 cluster-shape rehearsal): both big-side shuffles then carry
    ~1/5 of the rows whether the engine picks broadcast or SMJ for the
    fact joins. The nation name attaches at the end via the same bounded
    broadcast."""
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = t(spark, sf_dir, "nation")
    nk = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )  # ≤25 rows by spec, at ANY scale factor
    c = t(spark, sf_dir, "customer").join(
        F.broadcast(nk.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    s = t(spark, sf_dir, "supplier").join(
        F.broadcast(nk.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
        "left_semi",
    )
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(nk), c.c_nationkey == nk.n_nationkey)
        .groupBy("n_name")
        .agg(dsum(F.expr(_REV), "revenue"))
        .transform(order_bounded, F.col("revenue").desc(), "n_name")
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("tpch", "join", "subquery", "having"),
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: large-quantity orders via HAVING semi-join.
    The qualifying-key set (orders with >300 total quantity) is an
    aggregate over lineitem reused as a left-semi join — at scale the
    aggregated key set is orders-of-magnitude smaller than lineitem, so
    it broadcasts into the main join tree. l_quantity is integral-valued
    (double-typed), so BIGINT accumulation is exact in both engines."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(big, li.l_orderkey == big.big_orderkey, "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("tpch", "subquery", "semi"),
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape: orders (in a date window) having at least one line
    shipped after the order date — correlated EXISTS compiled to a
    left-semi join on the order key; the lineitem side carries only
    (l_orderkey, l_shipdate) into the join."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate)
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {sql_dsum(_REV, "revenue")},
           ANY_VALUE(c.c_mktsegment) AS segment
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: customers who returned the most revenue — the
    churn-analysis join tree with a selective fact filter (returnflag
    pushed to the lineitem scan) and top-k on the aggregate."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum(F.expr(_REV), "revenue"),
            F.any_value("c_mktsegment").alias("segment"),
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q14_promo_share",
    oracle=f"""
    SELECT {sql_dsum(f"CASE WHEN p.p_type LIKE 'PROMO%' THEN {_REV} ELSE 0.0 END", "promo_rev")},
           {sql_dsum(_REV, "total_rev")}
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
    tags=("tpch", "join", "conditional"),
)
def q14_promo_share(spark, sf_dir):
    """TPC-H Q14 shape: promotional revenue share for one month — a
    broadcast dimension join with conditional aggregation (the CASE rides
    inside the fixed-point sum, so both engines accumulate identically)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    rev = F.expr(_REV)
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(dsum(promo, "promo_rev"), dsum(rev, "total_rev"))
    )


@query(
    "q19_disjunctive",
    oracle=f"""
    SELECT {sql_dsum(_REV, "revenue")}, COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 5)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 10)
       OR (p.p_size BETWEEN 40 AND 50 AND l.l_quantity < 3)
    """,
    tags=("tpch", "join", "disjunctive"),
)
def q19_disjunctive(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst's CNF
    conversion extracts the common single-side conjuncts so part of the
    disjunction still pushes into each scan — the canonical test that
    predicate pushdown survives disjunctions."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 10))
        | (F.col("p_size").between(40, 50) & (F.col("l_quantity") < 3))
    )
    return j.filter(cond).agg(
        dsum(F.expr(_REV), "revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH offer AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey, l.l_suppkey
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           o.unit_cost AS min_cost
    FROM offer o
    JOIN part p ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 15 AND p.p_type = 'LARGE'
      AND o.unit_cost = (SELECT MIN(o2.unit_cost) FROM offer o2
                         WHERE o2.l_partkey = o.l_partkey)
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 20
    """,
    tags=("tpch", "subquery", "join"),
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: cheapest regional supplier per part. No partsupp
    table exists, so the supplier's offered unit cost is derived from
    lineitem (MIN(l_extendedprice / l_quantity) per part+supplier). The
    correlated scalar-min subquery compiles to a partition window over the
    offer aggregate — one shuffle on the part key, no per-row re-scan. The
    per-row division is a single IEEE op, bit-identical in both engines,
    and MIN is order-independent, so double equality against the window
    minimum is deterministic."""
    sup = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = t(spark, sf_dir, "lineitem")
    eur_keys = eur.select(F.col("s_suppkey").alias("ek"))
    offer = (
        li.join(eur_keys, li.l_suppkey == F.col("ek"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = offer.withColumn("best", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("best")
    )
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    return (
        best.join(p, best.l_partkey == p.p_partkey)
        .join(eur, best.l_suppkey == eur.s_suppkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.col("unit_cost").alias("min_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           {sql_dsum(_REV, "revenue")}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join"),
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral shipping volume between two nations by
    year. The nation dimension joins twice under different roles (supplier
    nation vs customer nation) — the classic self-join-of-a-dimension test.
    Both nation sides broadcast; the disjunctive pair predicate applies
    after both joins, exactly as TPC-H specifies."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    # Pre-filtering each nation side to the two named nations is implied by
    # the pair disjunction — it lets both dimension scans prune before the
    # broadcast instead of relying on CNF extraction.
    two = F.col("n_name").isin("NATION_1", "NATION_2")
    n1 = nat.filter(two).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nat.filter(two).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(dsum(F.expr(_REV), "revenue"))
        .transform(order_bounded, "supp_nation", "cust_nation", "l_year")
    )


@query(
    "q8_market_share",
    oracle=f"""
    SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
           {sql_dsum(f"CASE WHEN n1.n_name = 'NATION_5' THEN {_REV} ELSE 0.0 END", "nation_rev")},
           {sql_dsum(_REV, "total_rev")}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n2.n_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year ORDER BY o_year
    """,
    tags=("tpch", "join", "conditional"),
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of regional market revenue by
    year — an 8-table join tree where nation joins twice (supplier side
    feeds the CASE numerator, customer side feeds the region filter).
    Numerator and denominator are returned as separate fixed-point sums
    (the driver hashes both; the share is their ratio) so the aggregate
    stays one pass."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _TS("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _TS("1998-01-01 00:00:00"))
    )
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nat.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    rev = F.expr(_REV)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(reg), F.col("n2_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            dsum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(F.lit(0.0)), "nation_rev"),
            dsum(rev, "total_rev"),
        )
        .transform(order_bounded, "o_year")
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, EXTRACT(year FROM o.o_orderdate) AS o_year,
           {sql_dsum(f"{_REV} - 0.5 * p.p_retailprice * l.l_quantity", "sum_profit")}
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%blue%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join"),
)
def q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and year for parts
    matching a name pattern. No partsupp.ps_supplycost exists, so cost is
    proxied as 0.5 * p_retailprice * l_quantity — same expression tree
    depth, same join fan-out. The profit expression is written identically
    on both engines so every per-row IEEE op matches before the
    fixed-point sum."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    profit = F.expr(f"{_REV} - 0.5 * p_retailprice * l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(profit, "sum_profit"))
        .transform(order_bounded, "nation", F.col("o_year").desc())
    )


@query(
    "q11_important_stock",
    oracle=f"""
    SELECT l.l_partkey, {sql_dsum("l.l_extendedprice * l.l_quantity", "value", 4)}
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_3'
    GROUP BY l.l_partkey
    HAVING {sql_fixsum("l.l_extendedprice * l.l_quantity", 4)} > 0.001 * (
      SELECT {sql_fixsum("l2.l_extendedprice * l2.l_quantity", 4)}
      FROM lineitem l2
      JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
      WHERE n2.n_name = 'NATION_3')
    ORDER BY value DESC, l.l_partkey
    """,
    tags=("tpch", "subquery", "having"),
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: parts representing a significant share of one
    nation's stock value — a GROUP BY whose HAVING compares against a
    scalar subquery over the same relation. partsupp is absent, so value
    is lineitem extendedprice*quantity for lines shipped by that nation's
    suppliers. The global threshold is a one-row aggregate cross-joined
    (broadcast) into the per-part aggregate — because fixed-point integer
    accumulation is exact, the per-group sums and the global sum agree
    across engines at any parallelism."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    lines = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", (F.col("l_extendedprice") * F.col("l_quantity")).alias("v"))
    )
    per_part = lines.groupBy("l_partkey").agg(dsum("v", "value", 4))
    total = lines.agg(dsum("v", "tot", 4))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > 0.001 * F.col("tot"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@query(
    "q12_priority_lines",
    oracle="""
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus ORDER BY l.l_linestatus
    """,
    tags=("tpch", "join", "conditional"),
)
def q12_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: late-shipment lines split by order priority.
    l_shipmode / l_commitdate / l_receiptdate don't exist, so the grouping
    key is l_linestatus and "late" is l_shipdate > o_orderdate — the
    structure (fact-fact join + theta predicate between the two tables'
    columns + dual conditional counts) is unchanged. Counts are integers:
    naturally order-independent, no fixed-point needed."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    o = t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.l_shipdate > o.o_orderdate))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .transform(order_bounded, "l_linestatus")
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "outer-join"),
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of orders-per-customer, keeping
    zero-order customers via LEFT OUTER JOIN with the filter in the join
    condition (NOT the WHERE — moving it would drop the zero bucket; this
    is the query that distinguishes the two). The comment-pattern filter
    becomes an o_orderpriority predicate. Two aggregations: the first
    shuffles on the customer key, the second on the tiny count domain."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no, {sql_dsum(_REV, "total_revenue")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    tags=("tpch", "subquery", "view"),
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue —
    an aggregate view consumed twice (once for per-supplier revenue, once
    for the global max). The Spark plan reuses one aggregate DataFrame for
    both; the max is a one-row broadcast. Fixed-point revenue makes the
    double equality against MAX exact across engines."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1997-04-01 00:00:00"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.expr(_REV), "total_revenue")
    )
    top = revenue.agg(F.max("total_revenue").alias("max_rev"))
    s = t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 9, 15, 25, 36, 49)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "distinct", "subquery"),
)
def q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: how many suppliers can supply parts of given
    brand/type/size, excluding a supplier blacklist via NOT IN. partsupp
    is absent, so the part↔supplier association is derived from lineitem;
    the complaint-comment blacklist becomes s_acctbal < 0. s_suppkey is
    non-null, so NOT IN compiles to a clean anti-join (no null-trap).
    COUNT(DISTINCT) shuffles on the group keys with distinct-aggregation
    expansion — the canonical two-phase distinct plan."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 9, 15, 25, 36, 49))
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .transform(order_bounded, F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH pavg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {sql_dsum("l.l_extendedprice", "sum_extended")},
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pavg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND p.p_type = 'SMALL'
      AND l.l_quantity < 0.5 * a.avg_qty
    """,
    tags=("tpch", "subquery", "join"),
)
def q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from unusually-small-quantity orders of
    one brand — a correlated per-part average consumed as a row filter.
    The correlated AVG becomes a pre-aggregated relation joined back on
    the part key (at scale: the aggregate is tiny relative to the fact —
    2 shuffles total, no re-scan per row). The p_container filter of spec
    TPC-H becomes brand+type. Quantities are integral doubles, so BIGINT
    accumulation + one division gives a bit-identical average in both
    engines; the 0.5× comparison is then deterministic."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    # The average only matters for parts that survive the brand/type filter
    # (the final join is inner on those parts), so restrict the aggregate's
    # input first — at 100 TB this shrinks the pre-aggregate from every
    # part to the filtered handful, and the result broadcasts.
    pkeys = p.select(F.col("p_partkey").alias("fk"))
    pavg = (
        li.join(pkeys, li.l_partkey == F.col("fk"), "left_semi")
        .groupBy("l_partkey")
        .agg(
            (F.sum(F.col("l_quantity").cast("long")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
        )
        .withColumnRenamed("l_partkey", "a_partkey")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pavg, li.l_partkey == pavg.a_partkey)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            dsum("l_extendedprice", "sum_extended"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q20_promo_suppliers",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_suppkey, l.l_partkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 50)
    ORDER BY s.s_name
    """,
    tags=("tpch", "subquery", "semi"),
)
def q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers with substantial stock movement of
    promo parts in one year — an IN over a grouped-HAVING subquery,
    compiled to aggregate → left-semi join. partsupp.ps_availqty is
    absent, so the threshold applies to shipped quantity per
    supplier+part. Quantity is integral: BIGINT sum, exact."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _TS("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _TS("1998-01-01 00:00:00"))
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    qual = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 50)
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH flagged AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY) AS late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM flagged f1
    JOIN supplier s ON s.s_suppkey = f1.l_suppkey
    WHERE f1.late
      AND EXISTS (SELECT 1 FROM flagged f2
                  WHERE f2.l_orderkey = f1.l_orderkey
                    AND f2.l_suppkey <> f1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM flagged f3
                      WHERE f3.l_orderkey = f1.l_orderkey
                        AND f3.l_suppkey <> f1.l_suppkey
                        AND f3.late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
    tags=("tpch", "subquery", "semi", "anti"),
)
def q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finished multi-supplier order — the double correlated EXISTS /
    NOT-EXISTS query, the hardest subquery shape in the suite. With no
    l_commitdate/l_receiptdate, "late" is shipped >45 days after the
    order date. The flagged relation is computed once and persisted
    (three logical consumers: the base rows, the EXISTS side, and the
    NOT-EXISTS side — without the persist, Catalyst would re-join
    lineitem⋈orders three times); EXISTS becomes a left-semi self-join,
    NOT EXISTS a left-anti, both shuffling on the order key."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    flagged = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey", "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")).alias("late"),
        )
        .persist()
    )
    f1 = flagged.filter(F.col("late"))
    f2 = flagged.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    f3 = flagged.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    s = t(spark, sf_dir, "supplier")
    return (
        f1.join(f2, (f1.l_orderkey == f2.o2) & (f1.l_suppkey != f2.s2), "left_semi")
        .join(f3, (f1.l_orderkey == f3.o3) & (f1.l_suppkey != f3.s3), "left_anti")
        .join(s, f1.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q22_global_sales_opportunity",
    oracle=f"""
    SELECT c.c_nationkey AS cntrycode, COUNT(*) AS numcust,
           {sql_dsum("c.c_acctbal", "totacctbal")}
    FROM customer c
    WHERE c.c_nationkey IN (3, 8, 11, 14, 19, 21, 24)
      AND c.c_acctbal > (
        SELECT {sql_fixsum("c2.c_acctbal", 6)} / COUNT(*)
        FROM customer c2
        WHERE c2.c_acctbal > 0.0
          AND c2.c_nationkey IN (3, 8, 11, 14, 19, 21, 24))
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("tpch", "subquery", "anti"),
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: rich customers in target countries with no recent
    orders — a scalar-average subquery plus an anti-join against orders.
    c_phone doesn't exist, so the country-code prefix becomes c_nationkey
    membership; every synthetic customer has *some* order, so "never
    ordered" becomes "no order since 1999" to keep the result non-empty.
    The average is a fixed-point sum / count (bit-identical across
    engines) broadcast as one row; NOT EXISTS is a left-anti join
    shuffling on the customer key."""
    c = t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(3, 8, 11, 14, 19, 21, 24)
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum("c_acctbal", "s") / F.count(F.lit(1))).alias("avg_bal")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= _TS("1999-01-01 00:00:00"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal", "totacctbal"),
        )
        .transform(order_bounded, "cntrycode")
    )
