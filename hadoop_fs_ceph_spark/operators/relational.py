"""Scan / projection / filter family + the flagship aggregation slice.

These exercise the storage contract the reference provides to engines
(parallel parquet scans with predicate pushdown and column pruning — the
Spark-side realization of its virtual-block split sizing,
``CephRgwFileSystem.java:112``) through fully declarative plans.

Scale notes: every query here is scan→(filter)→(project)→(agg) with no
joins; at 100 TB the only shuffle is the final partial/final aggregation
exchange on low-cardinality keys, and all filters/projections reach the
parquet reader (verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import davg, dsum, sql_davg, sql_dsum
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("relational", "aggregate"),
    bench=True,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the flagship scan→filter→agg→sort slice.

    Plan shape at scale: parquet scan with pushed ``l_shipdate`` predicate
    and 7-column pruned schema → partial hash agg (map-side) → exchange on
    (l_returnflag, l_linestatus) [6 groups] → final agg → ``Coalesce 1`` →
    global sort. The shuffle moves only #groups × #partitions rows. The
    sort over ``Coalesce 1`` is the bounded-result form
    (``tables.order_bounded``): the 6 groups are sorted in the result
    stage, with no range-partitioning sample job or range shuffle, so the
    query runs 2 jobs.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .transform(order_bounded, "l_returnflag", "l_linestatus")
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "filter"),
    bench=True,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: highly selective conjunctive filter, global agg.

    All four predicates push to parquet (range on timestamp + two doubles);
    the aggregate is a single-row global agg — partials combine map-side,
    one row per partition crosses the wire.
    """
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "proj_computed_columns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_quantity * 2.5 + 1.0 AS adj_qty,
           l_returnflag || '/' || l_linestatus AS flag_status
    FROM lineitem
    WHERE l_orderkey % 100 = 7
    """,
    tags=("relational", "projection"),
)
def proj_computed_columns(spark, sf_dir):
    """Projection with computed/aliased columns (per-row double math is
    bit-deterministic cross-engine, so no canonicalization needed)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 7).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (F.col("l_quantity") * 2.5 + 1.0).alias("adj_qty"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


@query(
    "filter_compound_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE (o_orderstatus IN ('F', 'P') OR o_totalprice > 400000)
      AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
      AND o_orderpriority LIKE '1-%'
      AND NOT (o_custkey = 0)
    """,
    tags=("relational", "filter"),
)
def filter_compound_predicates(spark, sf_dir):
    """AND/OR/NOT + IN + BETWEEN + LIKE, all pushable predicates."""
    o = t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus").isin("F", "P") | (F.col("o_totalprice") > 400000))
        & F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp"),
            F.lit("1998-12-31 00:00:00").cast("timestamp"),
        )
        & F.col("o_orderpriority").like("1-%")
        & ~(F.col("o_custkey") == 0)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "filter_null_semantics",
    oracle="""
    WITH c AS (
      SELECT c_custkey,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
             CASE WHEN c_nationkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS seg
      FROM customer
    )
    SELECT
      COUNT(*) AS n_total,
      COUNT(bal) AS n_bal_not_null,
      CAST(SUM(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bal_null,
      CAST(SUM(CASE WHEN seg IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seg_nullsafe_null,
      CAST(SUM(CASE WHEN seg IS DISTINCT FROM 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS n_not_building_nullsafe
    FROM c
    """,
    tags=("relational", "filter", "null"),
)
def filter_null_semantics(spark, sf_dir):
    """isNull / isNotNull / null-safe equality (<=>) over derived NULLs."""
    c = t(spark, sf_dir, "customer")
    withnulls = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("bal"),
        F.when(F.col("c_nationkey") % 5 == 0, None).otherwise(F.col("c_mktsegment")).alias("seg"),
    )
    return withnulls.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("bal").alias("n_bal_not_null"),
        F.sum(F.when(F.col("bal").isNull(), 1).otherwise(0)).alias("n_bal_null"),
        F.sum(F.when(F.col("seg").eqNullSafe(F.lit(None).cast("string")), 1).otherwise(0)).alias(
            "n_seg_nullsafe_null"
        ),
        F.sum(F.when(~F.col("seg").eqNullSafe(F.lit("BUILDING")), 1).otherwise(0)).alias(
            "n_not_building_nullsafe"
        ),
    )


@query(
    "distinct_projection",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1995-03-01 00:00:00'
    """,
    tags=("relational", "distinct"),
)
def distinct_projection(spark, sf_dir):
    """SELECT DISTINCT — hash-aggregate dedup on the projected key.

    At scale this shuffles only the distinct key set (partial distinct
    happens map-side inside the hash aggregate)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.lit("1995-03-01 00:00:00").cast("timestamp"))
        .select("l_returnflag", "l_linestatus", "l_shipdate")
        .distinct()
    )
