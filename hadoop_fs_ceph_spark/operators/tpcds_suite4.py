"""TPC-DS sixth tier (round 11) — the two spec shapes still untested plus
the owned-layout twin of Q14:

* Q31 — two-fact correlated seasonal growth: per-region quarter-over-
  quarter growth computed on BOTH fact tables independently (line-grain
  lineitem revenue standing in for store_sales, header-grain orders
  revenue for web_sales) and compared via a join spine — keep regions
  where the web series outgrew the store series across BOTH quarter
  transitions. New shape: the multi-fact agreement screen, where the same
  derived metric (growth ratio) must be computed twice from different
  grains and compared exactly.
* Q49 — per-channel worst-return ratios: per (channel, part) return-to-
  sold ratios for quantity AND currency, ranked within channel, keep the
  top-10 of either ranking. New shape: two simultaneous rank unions over
  ratio metrics with zero-sales guards (the spec's three channel CTE
  blocks unioned — the oracle keeps that phrasing; the Spark plan is one
  scan + a distributed two-phase top-k).
* Q14 bucketed — `ds_tpcds_q14_cross_channel` re-run on a layout the
  deployment OWNS: both fact inputs written ``bucketBy(orderkey)`` +
  ``sortBy`` first, so the two lineitem⋈orders sort-merge joins read
  pre-co-located buckets with ZERO exchange on either leg (plan-pinned in
  tests/test_plans.py; a LOCAL per-bucket sort persists — Spark ≥3.0
  drops bucketed sort-order propagation by default, SPARK-28632 — and
  moves no bytes) — the measured answer to the r10 verdict's "the
  residual Q14 shuffle is the two inherent SMJs, removable only by an
  owned co-bucketed layout".
* Q93 — returns-adjusted net customer value: the fact LEFT-joined against
  the returns relation AT LINE GRAIN with partial refunds in exact
  integer cents, then net spend per customer. The line-grain
  composite-key join is the shape Q75's item-grain conditional netting
  never exercises.
* Q34 — count-band buyers: order line counts banded, customers with ≥2
  band orders, dim join-back only for post-HAVING survivors.

Schema mapping and scale posture as tpcds_suite.py: channels from
``o_orderpriority``, all money exact integer cents, aggregate to entity
grain BEFORE joining dimensions, cross-multiplied comparisons instead of
divisions wherever a predicate needs exactness.

Reference parity: the reference ships no query engine (SURVEY.md §0 — a
FileSystem connector, ``CephRgwFileSystem.java``); the TPC-DS tiers pin
the engine layer built on the lake it feeds.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.operators.tpcds_suite import (
    _CHANNEL_SQL,
    _channel_col,
    _q14_report,
    _rev_col,
    Q14_ORACLE,
)
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import dim, t

_REV_CENTS = "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT)"


@query(
    "ds_tpcds_q31_seasonal_share",
    oracle=f"""
    WITH store AS (
      SELECT o_custkey, EXTRACT(quarter FROM o_orderdate) AS q,
             SUM({_REV_CENTS}) AS rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE EXTRACT(year FROM o_orderdate) = 1997
        AND EXTRACT(quarter FROM o_orderdate) <= 3
      GROUP BY o_custkey, q
    ),
    web AS (
      SELECT o_custkey, EXTRACT(quarter FROM o_orderdate) AS q,
             SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS rev
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) = 1997
        AND EXTRACT(quarter FROM o_orderdate) <= 3
      GROUP BY o_custkey, q
    ),
    sn AS (
      SELECT c_nationkey AS nk,
             SUM(CASE WHEN q = 1 THEN rev ELSE 0 END) AS ss1,
             SUM(CASE WHEN q = 2 THEN rev ELSE 0 END) AS ss2,
             SUM(CASE WHEN q = 3 THEN rev ELSE 0 END) AS ss3
      FROM store JOIN customer ON o_custkey = c_custkey
      GROUP BY nk
    ),
    wn AS (
      SELECT c_nationkey AS nk,
             SUM(CASE WHEN q = 1 THEN rev ELSE 0 END) AS ws1,
             SUM(CASE WHEN q = 2 THEN rev ELSE 0 END) AS ws2,
             SUM(CASE WHEN q = 3 THEN rev ELSE 0 END) AS ws3
      FROM web JOIN customer ON o_custkey = c_custkey
      GROUP BY nk
    )
    SELECT n_name,
           ROUND(CAST(ws2 AS DOUBLE) / ws1, 8) AS web_g2,
           ROUND(CAST(ss2 AS DOUBLE) / ss1, 8) AS store_g2,
           ROUND(CAST(ws3 AS DOUBLE) / ws2, 8) AS web_g3,
           ROUND(CAST(ss3 AS DOUBLE) / ss2, 8) AS store_g3
    FROM sn JOIN wn ON sn.nk = wn.nk
    JOIN nation ON n_nationkey = sn.nk
    WHERE ss1 > 0 AND ss2 > 0 AND ss3 > 0
      AND ws1 > 0 AND ws2 > 0 AND ws3 > 0
      AND CAST(ws2 AS HUGEINT) * ss1 > CAST(ss2 AS HUGEINT) * ws1
      AND CAST(ws3 AS HUGEINT) * ss2 > CAST(ss3 AS HUGEINT) * ws2
    ORDER BY n_name
    """,
    tags=("tpcds", "two-fact", "seasonal", "growth-agreement"),
)
def ds_tpcds_q31_seasonal_share(spark, sf_dir):
    """TPC-DS Q31: the multi-fact correlated-growth screen — per region
    (county in DS, customer nation here), quarter-over-quarter growth is
    computed INDEPENDENTLY on two fact tables (line-grain lineitem
    revenue = store_sales; header-grain orders revenue = web_sales) and
    regions are kept only where the web series strictly outgrew the
    store series across BOTH 1997 Q1→Q2 and Q2→Q3 transitions.

    Exactness: both series are integer cents; the growth comparisons
    cross-multiply (ws2·ss1 > ss2·ws1) instead of dividing — in Spark
    the operands are cast decimal(20,0), which holds EVERY possible
    BIGINT (≤ 9.3·10¹⁸ < 10²⁰, so the cast itself can never NULL a
    region the way a decimal(18,0) cast silently would past 10¹⁸
    cents), and the product (< 8.7·10³⁷) fits Spark's precision-capped
    decimal(38,0) exactly — mirrored by HUGEINT in the oracle. The
    reported growth ratios are single rounded doubles from exact ints.

    Scale shape: each fact pre-aggregates to (custkey, quarter) grain
    BEFORE the customer join — the dimension join probes customer-grain
    partials, never fact rows — then collapses to nation grain with
    quarterly conditional sums (3 cells per nation per fact). The spine
    join runs on two ≤|nations|-row relations; the nation dim
    broadcasts. Orders is scanned twice by construction (it IS both a
    fact and the store leg's date/channel source) — the inherent
    two-fact shape, pinned in test_plans."""
    dec = "decimal(20,0)"  # holds any BIGINT; product fits decimal(38,0)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", _rev_col().alias("rev")
    )
    o = t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997).filter(
        F.quarter("o_orderdate") <= 3
    )
    store = (
        li.join(
            o.select("o_orderkey", "o_custkey", F.quarter("o_orderdate").alias("q")),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey", "q")
        .agg(F.sum(F.round(F.col("rev") * 100.0).cast("long")).alias("rev"))
    )
    web = o.groupBy("o_custkey", F.quarter("o_orderdate").alias("q")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias("rev")
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    def pivot(fact, prefix):
        cells = [
            F.sum(F.when(F.col("q") == i, F.col("rev")).otherwise(F.lit(0)))
            .alias(f"{prefix}{i}")
            for i in (1, 2, 3)
        ]
        return (
            fact.join(c, fact.o_custkey == c.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nk"))
            .agg(*cells)
        )

    sn, wn = pivot(store, "ss"), pivot(web, "ws")
    n = dim(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    joined = sn.join(wn, "nk").join(n, F.col("nk") == n.n_nationkey)
    pos = None
    for col in ("ss1", "ss2", "ss3", "ws1", "ws2", "ws3"):
        cond = F.col(col) > 0
        pos = cond if pos is None else (pos & cond)
    grew = (
        F.col("ws2").cast(dec) * F.col("ss1").cast(dec)
        > F.col("ss2").cast(dec) * F.col("ws1").cast(dec)
    ) & (
        F.col("ws3").cast(dec) * F.col("ss2").cast(dec)
        > F.col("ss3").cast(dec) * F.col("ws2").cast(dec)
    )
    return (
        joined.filter(pos & grew)
        .select(
            "n_name",
            F.round(F.col("ws2").cast("double") / F.col("ws1"), 8).alias("web_g2"),
            F.round(F.col("ss2").cast("double") / F.col("ss1"), 8).alias("store_g2"),
            F.round(F.col("ws3").cast("double") / F.col("ws2"), 8).alias("web_g3"),
            F.round(F.col("ss3").cast("double") / F.col("ss2"), 8).alias("store_g3"),
        )
        .orderBy("n_name")
    )


_Q49_TOPK = 10

_Q49_GRAIN_SQL = f"""
      SELECT {_CHANNEL_SQL} AS channel, l_partkey,
             CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity
                                 ELSE 0 END)) AS BIGINT) AS ret_qty,
             CAST(ROUND(SUM(l_quantity)) AS BIGINT) AS sold_qty,
             SUM(CASE WHEN l_returnflag = 'R' THEN {_REV_CENTS}
                      ELSE 0 END) AS ret_amt,
             SUM({_REV_CENTS}) AS sold_amt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY channel, l_partkey
      HAVING ret_qty > 0 AND sold_amt > 0
"""


def _q49_channel_sql(ch: str) -> str:
    """One spec-style channel block: rank the channel's parts by both
    return ratios (ppm, exact integer division), keep either top-10."""
    return f"""
      SELECT channel, l_partkey, ret_qty_ppm, ret_amt_ppm,
             CASE WHEN qty_rank <= {_Q49_TOPK} THEN qty_rank END AS qty_rank,
             CASE WHEN amt_rank <= {_Q49_TOPK} THEN amt_rank END AS amt_rank
      FROM (
        SELECT channel, l_partkey,
               CAST((1000000 * ret_qty) // sold_qty AS BIGINT) AS ret_qty_ppm,
               CAST((1000000 * ret_amt) // sold_amt AS BIGINT) AS ret_amt_ppm,
               RANK() OVER (ORDER BY (1000000 * ret_qty) // sold_qty DESC,
                            l_partkey) AS qty_rank,
               RANK() OVER (ORDER BY (1000000 * ret_amt) // sold_amt DESC,
                            l_partkey) AS amt_rank
        FROM grain WHERE channel = '{ch}'
      )
      WHERE qty_rank <= {_Q49_TOPK} OR amt_rank <= {_Q49_TOPK}
"""


def _q49_grain(spark, sf_dir):
    """The (channel, part) return-ratio grain both Q49 phases rank: one
    fact scan, conditional exact sums, ppm integer ratios."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        _rev_col().alias("rev"),
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", _channel_col().alias("channel")
    )
    ret = F.col("l_returnflag") == "R"
    cents = F.round(F.col("rev") * 100.0).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("channel", "l_partkey")
        .agg(
            F.round(F.sum(F.when(ret, F.col("l_quantity")).otherwise(0.0)))
            .cast("long")
            .alias("ret_qty"),
            F.round(F.sum("l_quantity")).cast("long").alias("sold_qty"),
            F.sum(F.when(ret, cents).otherwise(F.lit(0))).alias("ret_amt"),
            F.sum(cents).alias("sold_amt"),
        )
        .filter((F.col("ret_qty") > 0) & (F.col("sold_amt") > 0))
        .select(
            "channel",
            "l_partkey",
            F.expr("(1000000 * ret_qty) div sold_qty").alias("ret_qty_ppm"),
            F.expr("(1000000 * ret_amt) div sold_amt").alias("ret_amt_ppm"),
        )
    )


def _q49_candidates(grain):
    """Phase 1 of the Q49 two-phase top-k: each input partition's local
    top-``_Q49_TOPK`` per channel for BOTH orderings. The candidate
    union is provably ≤ channels · partitions · 2·TOPK rows (each
    (channel, partition) cell contributes the union of two ≤TOPK
    lists) and provably CONTAINS every global top-TOPK row — pinned,
    including at the 200-partition cluster posture where P is largest,
    in tests/test_invariants.py::test_tier6_q49_candidates_bounded_at_cluster_posture."""
    pid = grain.withColumn("_pid", F.spark_partition_id())
    w_q = Window.partitionBy("channel", "_pid").orderBy(
        F.col("ret_qty_ppm").desc(), "l_partkey"
    )
    w_a = Window.partitionBy("channel", "_pid").orderBy(
        F.col("ret_amt_ppm").desc(), "l_partkey"
    )
    return (
        pid.withColumn("_lq", F.row_number().over(w_q))
        .withColumn("_la", F.row_number().over(w_a))
        .filter((F.col("_lq") <= _Q49_TOPK) | (F.col("_la") <= _Q49_TOPK))
        .drop("_pid", "_lq", "_la")
    )


@query(
    "ds_tpcds_q49_worst_returns",
    oracle=f"""
    WITH grain AS ({_Q49_GRAIN_SQL})
    SELECT * FROM ({_q49_channel_sql("express")})
    UNION ALL
    SELECT * FROM ({_q49_channel_sql("standard")})
    UNION ALL
    SELECT * FROM ({_q49_channel_sql("economy")})
    ORDER BY channel, l_partkey
    """,
    tags=("tpcds", "rank-union", "returns", "ratio"),
    bench=True,  # round 12 (VERDICT r11 item 6): measured at the
    # 200-partition rehearsal/soak/skew postures so the phase-2
    # exchange's P-dependence is observed, not just argued
)
def ds_tpcds_q49_worst_returns(spark, sf_dir):
    """TPC-DS Q49: per-channel worst-return screen — for every
    (channel, part) with at least one return, the return-to-sold ratio
    in QUANTITY and in CURRENCY, each ranked within the channel worst
    (highest) first; parts in the top-{_Q49_TOPK} of EITHER ranking
    survive, with ranks beyond the cutoff reported NULL (a row can make
    the currency list while being unranked on quantity). The oracle
    keeps the spec's three-channel rank-union phrasing.

    Exactness: ratios are exact parts-per-million integers
    ((10⁶·ret) div sold — no float division feeds a rank), and the rank
    order (ratio DESC, partkey) is total, so RANK == ROW_NUMBER and the
    survivor set is deterministic cross-engine.

    Scale shape: ONE fact scan (pinned) aggregated to (channel, part)
    grain with conditional sums; the ranking then runs TWO-PHASE
    because a window partitioned only by channel (3 partitions) would
    sort |parts|-row partitions in single tasks at 100 TB: phase 1
    takes each input partition's local top-{_Q49_TOPK} per channel per
    ordering (row_number over (channel, spark_partition_id) — per-task
    state is {_Q49_TOPK} rows, the TakeOrdered map side as dataflow);
    phase 2 ranks the ≤ 2·{_Q49_TOPK}·P-row candidate union exactly.
    Candidates provably contain every globally-top-{_Q49_TOPK} row (a
    global top-k row is its own partition's top-k), and candidate-set
    ranks equal global ranks for every rank ≤ {_Q49_TOPK} (all rows
    ahead of a global top-k row are themselves candidates), so the
    two-phase result is bit-identical to the oracle's global windows."""
    cand = _q49_candidates(_q49_grain(spark, sf_dir))
    # phase 2: exact ranks over the bounded candidate set
    g_q = Window.partitionBy("channel").orderBy(
        F.col("ret_qty_ppm").desc(), "l_partkey"
    )
    g_a = Window.partitionBy("channel").orderBy(
        F.col("ret_amt_ppm").desc(), "l_partkey"
    )
    ranked = cand.withColumn("qr", F.rank().over(g_q)).withColumn(
        "ar", F.rank().over(g_a)
    )
    return (
        ranked.filter((F.col("qr") <= _Q49_TOPK) | (F.col("ar") <= _Q49_TOPK))
        .select(
            "channel",
            "l_partkey",
            "ret_qty_ppm",
            "ret_amt_ppm",
            F.when(F.col("qr") <= _Q49_TOPK, F.col("qr")).alias("qty_rank"),
            F.when(F.col("ar") <= _Q49_TOPK, F.col("ar")).alias("amt_rank"),
        )
        .orderBy("channel", "l_partkey")
    )


# Layout generations already built this session, keyed by sf_dir tag.
# The bucketed twin is a LAYOUT, not a query step: a deployment writes it
# once per data generation and every order-keyed join reuses it, so the
# bench must not re-pay the two fact rewrites on every (cold, warm, warm)
# timing pass — round-12, VERDICT r11 "what's wrong" #1.
_Q14_LAYOUT: dict[str, dict] = {}


def ensure_q14_layout(spark, sf_dir):
    """Build the co-bucketed Q14 fact twin ONCE per (session, sf_dir).

    Returns ``(names, build_seconds)`` — ``build_seconds`` is 0.0 when the
    layout already exists in this session's catalog (bench.py calls this
    before its timing loop and reports the build cost as a separate
    ``layout_build_sec`` figure, so the per-query number times the REPORT
    alone and regressions in the query can no longer hide in write noise).

    Each fact is ``repartition(8, key)`` before ``bucketBy(8, key) +
    sortBy(key)``: repartition and bucketing use the same Murmur3 hash, so
    every write task holds exactly one bucket → ONE file per bucket (the
    precondition for any engine to trust the sortBy order, and cheaper
    bucket planning). The layout's pinned claim is ZERO EXCHANGE on the
    order-keyed legs; a LOCAL per-bucket Sort remains in the plan because
    Spark ≥3.0 does not propagate bucketed sort order by default
    (SPARK-28632 — recoverable via the legacy outputOrdering flag on a
    deployment that wants it). That Sort moves zero bytes; the exchange
    was the 100 TB cost, and it is gone (plan-pinned with a plain-Q14
    control in tests/test_plans.py::test_q14_bucketed_join_legs_no_exchange)."""
    import time as _time

    tag = scratch.tag(sf_dir)
    names = {tbl: f"q14b_{tbl}_{tag}" for tbl in ("orders", "lineitem")}
    if _Q14_LAYOUT.get(tag) and all(
        spark.catalog.tableExists(n) for n in names.values()
    ):
        return names, 0.0
    t0 = _time.perf_counter()
    for tbl, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority", "o_orderdate"]),
        (
            "lineitem",
            "l_orderkey",
            ["l_orderkey", "l_partkey", "l_extendedprice", "l_discount"],
        ),
    ):
        (
            t(spark, sf_dir, tbl)
            .select(*cols)
            .repartition(8, F.col(key))
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", scratch.path(sf_dir, f"q14_bucketed_{tbl}"))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(names[tbl])
        )
    _Q14_LAYOUT[tag] = names
    return names, _time.perf_counter() - t0


@query(
    "ds_tpcds_q14_bucketed",
    oracle=Q14_ORACLE,
    tags=("tpcds", "bucketed", "layout", "intersect"),
    bench=True,
)
def ds_tpcds_q14_bucketed(spark, sf_dir):
    """Q14 on an OWNED co-bucketed layout — same answer, same oracle as
    `ds_tpcds_q14_cross_channel`, different physics: the two fact
    inputs are written ``repartition(8, key) → bucketBy(8, orderkey) +
    sortBy`` once per session (`ensure_q14_layout`; one file per
    bucket), so the lineitem⋈orders sort-merge join reads
    pre-co-located buckets with ZERO exchange on either order-keyed leg
    (pinned with a plain-Q14 control in
    tests/test_plans.py::test_q14_bucketed_join_legs_no_exchange; a
    local no-network per-bucket Sort remains — SPARK-28632).
    This is the measured close of the r10 verdict's Q14 finding: after
    the round-10 qualification rewrite, the residual ×100 shuffle was
    the two inherent fact SMJs — inherent only while the layout is
    rented (plain parquet). A deployment that owns the layout buckets
    both facts on the order key once and every order-keyed join in the
    workload stops shuffling the facts forever; the remaining
    exchanges carry part-grain aggregates only.

    Timing contract (round-12): the layout build is excluded from this
    head's wall-clock — bench.py builds the twin before its timing loop
    and reports the cost separately as ``layout_build_sec``, the way a
    deployment pays it (once per layout generation, amortized over the
    workload). The head therefore times the REPORT alone and is
    directly comparable against plain Q14."""
    names, _ = ensure_q14_layout(spark, sf_dir)
    li = spark.table(names["lineitem"])
    o = spark.table(names["orders"]).select(
        "o_orderkey",
        _channel_col().alias("channel"),
        F.year("o_orderdate").alias("yr"),
    )
    dated = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_partkey", "channel", "yr", _rev_col().alias("rev")
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return _q14_report(dated, p)


@query(
    "ds_tpcds_q93_returns_adjusted_net",
    oracle="""
    WITH r AS (
      SELECT l_orderkey, l_linenumber,
             (CAST(ROUND(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT)
              // CAST(ROUND(l_quantity) AS BIGINT))
             * LEAST(CAST(ROUND(l_quantity) AS BIGINT), 10) AS refund_cents
      FROM lineitem WHERE l_returnflag = 'R'
    ),
    net AS (
      SELECT l.l_orderkey,
             CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100.0)
                  AS BIGINT) - COALESCE(r.refund_cents, 0) AS net_cents
      FROM lineitem l LEFT JOIN r
        ON l.l_orderkey = r.l_orderkey AND l.l_linenumber = r.l_linenumber
    )
    SELECT o_custkey, CAST(SUM(net_cents) AS BIGINT) AS net_cents_total,
           COUNT(*) AS n_lines
    FROM net JOIN orders ON net.l_orderkey = o_orderkey
    GROUP BY o_custkey
    ORDER BY net_cents_total DESC, o_custkey
    LIMIT 20
    """,
    tags=("tpcds", "returns", "line-grain-join", "netting"),
)
def ds_tpcds_q93_returns_adjusted_net(spark, sf_dir):
    """TPC-DS Q93: returns-adjusted customer value — net sales computed
    by LEFT-joining the fact against the returns table AT LINE GRAIN
    (store_sales ⋈ store_returns on (item, ticket) in the spec; here the
    returns relation is the fact's own R-flagged subset keyed
    (l_orderkey, l_linenumber)) and subtracting the per-line refund,
    then ranking customers by net spend. The refund is PARTIAL — the
    first 10 units of a returned line ((cents div qty)·LEAST(qty, 10),
    exact integer arithmetic) — which keeps the netting non-degenerate
    (a full-refund model collapses to a returnflag filter and never
    exercises the join). Distinct from Q75's item-grain conditional
    netting: the line-grain LEFT join is the shape whose scale cost is
    a fact-sized composite-key join.

    Scale shape: both join inputs derive from the SAME lineitem scan
    projected to the composite key, so the left join shuffles on
    (l_orderkey, l_linenumber) with exchange reuse between the two
    sides; the orders join is the standard fact⋈fact SMJ on the order
    key; the per-customer aggregate is map-side combined; top-20 is
    TakeOrdered. All money stays exact BIGINT cents end to end."""
    li = t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0).cast(
        "long"
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    r = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.expr(
                "(cast(round(l_extendedprice * (1 - l_discount) * 100.0) as bigint)"
                " div cast(round(l_quantity) as bigint))"
            ) * F.least(qty, F.lit(10))).alias("refund_cents"),
        )
    )
    net = (
        li.select("l_orderkey", "l_linenumber", cents.alias("cents"))
        .join(r, ["l_orderkey", "l_linenumber"], "left")
        .select(
            "l_orderkey",
            (F.col("cents") - F.coalesce("refund_cents", F.lit(0))).alias(
                "net_cents"
            ),
        )
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        net.join(o, net.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum("net_cents").cast("long").alias("net_cents_total"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("net_cents_total").desc(), "o_custkey")
        .limit(20)
    )


@query(
    "ds_tpcds_q34_band_buyers",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY l_orderkey
    ),
    band AS (
      SELECT l_orderkey FROM per_order WHERE n_lines BETWEEN 5 AND 7
    ),
    per_cust AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_band_orders
      FROM band JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey
      HAVING COUNT(*) >= 2
    )
    SELECT c.c_custkey, c.c_name, p.n_band_orders
    FROM per_cust p JOIN customer c ON p.o_custkey = c.c_custkey
    ORDER BY p.n_band_orders DESC, c.c_custkey
    LIMIT 50
    """,
    tags=("tpcds", "count-band", "join-back"),
)
def ds_tpcds_q34_band_buyers(spark, sf_dir):
    """TPC-DS Q34: the count-band buyer screen — orders whose line count
    falls in a target band (15–20 items per ticket in the spec; 5–7
    here, matching TPC-H basket geometry), rolled up to customers who
    placed at least two such orders, joined back to the dimension for
    display names. The defining shape is the DOUBLE aggregate with a
    band predicate BETWEEN the two (order grain → band filter →
    customer grain → HAVING), then a key join to the dim only for the
    survivors — the dim join probes a post-HAVING relation, never facts.

    Scale shape: the order-grain count is one map-side-combined
    aggregate of a key-only projection; the band filter drops most
    orders before anything joins; the customer aggregate runs on
    band-order keys only; the final dim join input is bounded by the
    HAVING. Top-50 on a total (count DESC, custkey) key is
    TakeOrdered."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    band = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .filter(F.col("n_lines").between(5, 7))
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        band.join(o, band.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_band_orders"))
        .filter(F.col("n_band_orders") >= 2)
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "n_band_orders")
        .orderBy(F.col("n_band_orders").desc(), "c_custkey")
        .limit(50)
    )
