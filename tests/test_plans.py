"""Physical-plan assertions — the 100 TB posture checks.

Correct answers are necessary but not sufficient: these tests pin the
*plan shapes* that keep the declared queries viable at cluster scale —
broadcast for bounded dims, sort-merge for fact-fact, predicate pushdown
and column pruning into the parquet scan, partition pruning over
partitioned layouts, and whole-stage codegen on the hot paths.
"""

import re

import pytest
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.plans import plan_of, scale_audit
from hadoop_fs_ceph_spark.registry import load_all
from hadoop_fs_ceph_spark.tables import t

SPECS = load_all()


def test_dim_join_broadcasts(spark, sf_dir):
    """A bounded dimension side must broadcast — no shuffle of the fact."""
    plan = plan_of(SPECS["join_broadcast_dim"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_scaled_dim_join_not_forced_broadcast(spark, sf_dir):
    """SF-scaled tables (customer/supplier/part) must NOT carry a
    broadcast hint: with auto-broadcast disabled (the 100 TB reality for
    those tables) the orders⋈customer join must fall back to sort-merge.
    A forced hint would keep BroadcastHashJoin here and OOM the driver at
    warehouse scale."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(SPECS["join_inner_hash"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_fact_fact_join_sort_merges(spark, sf_dir):
    """Two fact tables must sort-merge join (hash-partitioned both sides)
    once neither side fits broadcast — simulated here by disabling
    auto-broadcast, which is what 100 TB table sizes do for real."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(SPECS["join_sortmerge_facts"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan


def test_q6_filter_pushdown_and_pruning(spark, sf_dir):
    """Filters must reach the parquet scan (PushedFilters) and the scan
    must read only referenced columns (ReadSchema)."""
    plan = plan_of(SPECS["q6_forecast_revenue"].fn(spark, sf_dir))
    scan = plan[plan.index("Scan parquet") :]
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", scan)
    assert pushed and pushed.group(1).strip(), "no filters pushed to parquet scan"
    schema = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert schema is not None
    cols = {c.split(":")[0] for c in schema.group(1).split(",") if c}
    assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_flagship_uses_wholestage_codegen(spark, sf_dir):
    """The scan→filter→agg pipeline must run inside whole-stage codegen —
    rendered as ``*(n)`` stage prefixes in the final adaptive plan."""
    plan = plan_of(SPECS["q1_pricing_summary"].fn(spark, sf_dir), execute=True)
    assert "isFinalPlan=true" in plan
    assert re.search(r"\*\(\d+\) HashAggregate", plan), "agg not codegen'd"


def test_partition_pruning_on_partitioned_layout(spark, sf_dir):
    """A filter on the partition column must prune directories at plan
    time (PartitionFilters on the scan), not scan-then-filter."""
    import os

    from hadoop_fs_ceph_spark import scratch

    SPECS["src_partitioned_write"].fn(spark, sf_dir).collect()  # materialize layout
    path = scratch.path(sf_dir, "part_orders")
    assert os.path.isdir(path)
    df = spark.read.parquet(path).filter("o_orderstatus = 'F'").select("o_orderkey")
    plan = plan_of(df)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "o_orderstatus" in pf.group(1)


def test_knn_topk_avoids_global_sort(spark, sf_dir):
    """Global top-k must be TakeOrderedAndProject (per-partition heap +
    merge), never a full Exchange+Sort of all scored rows."""
    plan = plan_of(SPECS["sim_knn_bruteforce"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_driver_collect_in_operators():
    """No operator implementation may pull data to the driver — scan the
    operator sources for `.collect(` / `.toPandas(` outside tests."""
    import pathlib

    ops = pathlib.Path("hadoop_fs_ceph_spark")
    offenders = []
    for p in ops.rglob("*.py"):
        src = p.read_text()
        if ".collect(" in src or ".toPandas(" in src:
            # harness + plan tooling, not operators
            if p.name not in ("oracle.py", "inspect.py"):
                offenders.append(str(p))
    assert not offenders, f"driver-side collection in: {offenders}"


@pytest.mark.parametrize("name", ["dedup_minhash_lsh", "sim_embedding_near_dup"])
def test_pair_generation_never_cartesian(spark, sf_dir, name):
    """Candidate-pair generation must be an equality join on a blocking
    key — a CartesianProduct/BroadcastNestedLoop node means the operator
    degenerates to all-pairs at scale."""
    plan = plan_of(SPECS[name].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q14_bucketed_join_legs_no_exchange(spark, sf_dir):
    """The Q14 owned-layout twin: with both fact inputs bucketed on the
    order key, the lineitem⋈orders sort-merge join must read the bucket
    layout directly — NO hash-partitioning exchange on either order-keyed
    leg (the two SMJ exchanges the ×100 soak measured as Q14's residual
    shuffle). Downstream part-grain exchanges remain — only the order-key
    legs are the layout's claim. A LOCAL per-bucket Sort persists by
    design: Spark ≥3.0 does not propagate bucketed sort order
    (SPARK-28632) unless the legacy outputOrdering flag is set, and a
    local sort moves zero bytes over the network — the exchange is the
    scale cost, and it must be gone.

    Round-12 note: the previous regex (`Exchange hashpartitioning\\(...`)
    could never match formatted-mode explain output, where the node name
    and its arguments sit on different lines — the pin was vacuous. The
    control assertion on plain Q14 below keeps it honest forever."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(SPECS["ds_tpcds_q14_bucketed"].fn(spark, sf_dir))
        control = plan_of(SPECS["ds_tpcds_q14_cross_channel"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan, "fact scans are not bucketed scans"
    pat = r"hashpartitioning\([lo]_orderkey"
    assert re.search(pat, control), (
        "control broken: plain Q14 no longer shuffles on the order key, "
        "so the absence check below would be vacuous"
    )
    assert not re.search(pat, plan), (
        "order-key exchange survived the bucketed layout"
    )


def test_q14_bucketed_matches_plain(spark, sf_dir):
    """Layout must not change the answer: the bucketed twin's full result
    equals ds_tpcds_q14_cross_channel row for row."""
    plain = SPECS["ds_tpcds_q14_cross_channel"].fn(spark, sf_dir)
    bucketed = SPECS["ds_tpcds_q14_bucketed"].fn(spark, sf_dir)
    assert plain.schema == bucketed.schema
    assert plain.exceptAll(bucketed).count() == 0
    assert bucketed.exceptAll(plain).count() == 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketed co-located tables must sort-merge join straight off the
    bucketed scans — zero hash-partitioning exchanges anywhere in the
    plan (the groupBy on the same key also reuses the bucketing)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(SPECS["src_bucketed_join"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan


# The cartesian/sort/UDF allowlist is shared with the audit CLI — ONE
# source of truth (`plans/allowlist.py`), so `python -m
# hadoop_fs_ceph_spark.plans --all` exiting 0 is the same gate this
# fleet test pins.
from hadoop_fs_ceph_spark.plans.allowlist import (  # noqa: E402
    INTENTIONAL_CROSS,
    split_flags,
)


@pytest.mark.parametrize(
    "name",
    sorted(n for n, s in SPECS.items() if "streaming" not in s.tags),
)
def test_fleet_audit_clean(spark, sf_dir, name):
    """Fleet-wide gate: every declared batch query's scale audit must
    report ZERO unallowlisted red flags (cartesian joins, world sorts,
    row-at-a-time Python) — the same audit, allowlist and all, that
    `python -m hadoop_fs_ceph_spark.plans --all` runs, so the CLI's
    exit-0 claim is pinned here. Allowlisted patterns carry a reason
    string in plans/allowlist.py; anything else is the failure mode
    that silently works at test scale and melts at 100 TB."""
    from hadoop_fs_ceph_spark.plans.inspect import audit_with_barriers

    # round-13: flags are merged from the returned plan AND every
    # pre-barrier sub-plan (audit_with_barriers), so a localCheckpoint
    # can no longer hide a collect/sort/cartesian from this gate
    audit, problems = audit_with_barriers(SPECS[name].fn, spark, sf_dir)
    real, _allowed = split_flags(name, problems)
    assert real == [], f"{name}: {real}"
    if name not in INTENTIONAL_CROSS:
        assert not audit.cartesian, name


def test_scale_audit_surface(spark, sf_dir):
    """The user-facing plan auditor: a clean query reports no problems
    and real facts (scan pushdown, top-k heaps); a deliberately bad one
    (cross join) is flagged."""
    df = SPECS["q6_forecast_revenue"].fn(spark, sf_dir)
    audit = scale_audit(df)
    assert audit.problems() == []
    assert not audit.cartesian
    assert audit.scans and audit.scans[0]["pushed_filters"]
    # codegen spans are an executed-plan fact (AQE finalizes them)
    assert scale_audit(df, execute=True).codegen_spans >= 1

    topk = scale_audit(SPECS["topk_global"].fn(spark, sf_dir))
    assert topk.take_ordered and topk.global_sorts == 0

    li = t(spark, sf_dir, "nation")
    bad = li.crossJoin(t(spark, sf_dir, "region"))
    flagged = scale_audit(bad)
    assert flagged.cartesian and flagged.problems()


def test_dpp_subquery_injected(spark, sf_dir):
    """join_dpp_partitioned must carry a DynamicPruningExpression on the
    partitioned fact scan — the runtime partition-pruning contract (a
    static PartitionFilter would mean Catalyst folded the dim filter
    and the query stopped testing DPP)."""
    plan = plan_of(SPECS["join_dpp_partitioned"].fn(spark, sf_dir))
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injectable(spark, sf_dir):
    """With broadcast off (the 100 TB reality for fact⋈fact), Spark must
    inject a runtime bloom filter built from the filtered orders side
    and applied to the lineitem scan side — the shuffle-pruning analog
    of DPP for non-partition join keys. Thresholds are lowered to make
    the test-scale tables eligible; at warehouse scale the defaults
    (10 MB creation / 10 GB application) hit the same path."""
    conf = spark.conf
    saved = {
        "spark.sql.autoBroadcastJoinThreshold": conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        plan = plan_of(SPECS["join_sortmerge_facts"].fn(spark, sf_dir))
    finally:
        for k, v in saved.items():
            conf.set(k, v)
    assert "bloom_filter_agg" in plan or "BloomFilter" in plan


def test_single_partition_window_flag_active(spark, sf_dir):
    """The round-4 auditor flag must be ACTIVE on the exact shape it
    exists for — an Exchange SinglePartition under a Window. Since
    round 5 NO registered query carries that shape anymore (the last
    exact twins were rebuilt on distributed rank), so the probe is a
    synthetic unpartitioned window: it must plan SinglePartition, the
    flag string must reach problems(), and an unknown query name must
    leave it UNALLOWLISTED — so any future query that reinvents an
    unpartitioned window fails test_fleet_audit_clean instead of
    shipping a one-task bottleneck."""
    from pyspark.sql import Window

    probe = (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.row_number()
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .alias("rk"),
        )
        .filter(F.col("rk") > 1)  # defeat the TakeOrdered group-limit rewrite
    )
    audit = scale_audit(probe)
    assert audit.single_partition_windows >= 1
    probs = audit.problems()
    assert any("single-partition window" in p for p in probs)
    real, _allowed = split_flags("no_such_query_zzz", probs)
    assert any("single-partition window" in p for p in real)


@pytest.mark.parametrize(
    "name",
    [
        "ds_rfm_segmentation_approx",
        "agg_gini_concentration_binned",
        "ds_pareto_concentration_binned",
        "profile_equidepth_histogram_approx",
        "dedup_semantic_cell_refined",
        "agg_exact_median_nosort",
        "agg_exact_quantiles_nosort",
        "agg_exact_median_by_group_nosort",
        "text_bm25_rank",
        "profile_psi_drift",
    ],
)
def test_production_twins_have_no_single_partition_window(spark, sf_dir, name):
    """Every production twin exists precisely to remove the one-task
    funnel — its plan must contain ZERO single-partition windows."""
    audit = scale_audit(SPECS[name].fn(spark, sf_dir))
    assert audit.single_partition_windows == 0, name


# --- streaming-state audit (round-5: the gate no longer skips streaming) ---

from hadoop_fs_ceph_spark.plans.inspect import (  # noqa: E402
    FLAG_STREAM_DEDUP_NO_EVICTION,
    streaming_state_flags,
)
from hadoop_fs_ceph_spark.streaming import runner as stream_runner  # noqa: E402


def _streaming_audit(name, spark, sf_dir):
    """Run a streaming query under audit capture: it executes up to its
    first sink entry point, which records (sink, mode, state flags) and
    stops before the stream starts."""
    cap: list = []
    stream_runner._capture = cap
    try:
        SPECS[name].fn(spark, sf_dir)
    except stream_runner.AuditStop:
        pass
    finally:
        stream_runner._capture = None
    assert cap, f"{name}: no sink entry point reached under audit"
    return cap[0]


@pytest.mark.parametrize(
    "name",
    sorted(n for n, s in SPECS.items() if "streaming" in s.tags),
)
def test_streaming_fleet_state_audit_clean(spark, sf_dir, name):
    """Streaming twin of test_fleet_audit_clean: every streaming query's
    pre-sink plan must carry ZERO unallowlisted state-shape flags (dedup
    without eviction, complete-mode / unwatermarked aggregates, NoTimeout
    custom state). This closes the round-4 gate blind spot — the fleet
    audit used to skip streaming-tagged queries entirely, which is how
    two unbounded dedup state stores shipped."""
    _sink, _mode, flags = _streaming_audit(name, spark, sf_dir)
    real, _allowed = split_flags(name, flags)
    assert real == [], f"{name}: {real}"


def test_streaming_dedup_uses_eviction_variant(spark, sf_dir):
    """Pins round-4 verdict item 1: both streaming dedup queries must plan
    DeduplicateWithinWatermark (state evicts as the watermark advances) —
    zero state flags, not an allowlisted pass."""
    for q in ("stream_dedup_watermark", "stream_content_dedup"):
        _sink, mode, flags = _streaming_audit(q, spark, sf_dir)
        assert mode == "append" and flags == [], (q, flags)


def test_streaming_dedup_flag_fires_on_uneviction(spark, sf_dir):
    """The flag must be ACTIVE: the exact defect shape that shipped in
    round 4 (dropDuplicates keyed without the event-time column) is
    flagged; keying on event time or using the WithinWatermark variant is
    clean."""
    from hadoop_fs_ceph_spark.streaming import events_stream

    s = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    bad = s.dropDuplicates(["user_id", "event_type"])
    assert FLAG_STREAM_DEDUP_NO_EVICTION in streaming_state_flags(bad, "append")
    keyed = s.dropDuplicates(["user_id", "event_type", "ts"])
    assert FLAG_STREAM_DEDUP_NO_EVICTION not in streaming_state_flags(keyed, "append")
    good = s.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    assert streaming_state_flags(good, "append") == []


def test_zipf_topk_is_take_ordered(spark, sf_dir):
    """text_zipf_profile's rank-then-filter(rnk<=20) must plan as
    TakeOrderedAndProject (Catalyst's InferWindowGroupLimit turns the
    row_number filter into a per-partition-heap top-k), with the window
    running over the 20-row result — never an Exchange SinglePartition
    sort of the full distinct vocabulary. Pins the rewrite so a future
    formulation change can't silently regress to a world sort."""
    audit = scale_audit(SPECS["text_zipf_profile"].fn(spark, sf_dir))
    assert audit.take_ordered
    assert audit.single_partition_windows == 0


def test_collect_gate_fires_on_unbounded_collect(spark, sf_dir):
    """The BOUNDED_COLLECT gate: a bare per-group collect_list must
    flag; allowlisted carriers must carry a reason."""
    from hadoop_fs_ceph_spark.plans.inspect import scale_audit
    from hadoop_fs_ceph_spark.plans.allowlist import BOUNDED_COLLECT
    from hadoop_fs_ceph_spark.tables import t

    df = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.collect_list("props").alias("all_props"))
    )
    audit = scale_audit(df)
    assert audit.group_collects > 0
    assert any("per-group collect" in p for p in audit.problems())
    # every attested carrier names its bound
    for name, reason in BOUNDED_COLLECT.items():
        assert len(reason) > 10, name


def test_collect_gate_sees_through_barriers(spark, sf_dir):
    """Round-13 (VERDICT r12 item 3): a planted UNBOUNDED collect hidden
    under a localCheckpoint barrier must still trip the gate. Before
    audit_with_barriers, the barrier replaced the sub-plan with an RDD
    scan and the exact defect class below passed silently (the r12
    refine-family allowlist entries went stale this way)."""
    from hadoop_fs_ceph_spark.plans.allowlist import split_flags
    from hadoop_fs_ceph_spark.plans.inspect import audit_with_barriers, scale_audit
    from hadoop_fs_ceph_spark.barrier import eager_barrier
    from hadoop_fs_ceph_spark.tables import t

    def planted(spark, sf_dir):
        hidden = eager_barrier(
            t(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.collect_list("props").alias("all_props"))
        )
        return hidden.select("user_id", F.size("all_props").alias("n"))

    # the returned plan alone is blind: the barrier hides the collect
    blind = scale_audit(planted(spark, sf_dir))
    assert blind.group_collects == 0
    # the barrier-aware audit sees it, and it is NOT allowlisted
    _audit, problems = audit_with_barriers(planted, spark, sf_dir)
    assert any("per-group collect" in p for p in problems)
    real, _allowed = split_flags("planted_query_zzz", problems)
    assert any("per-group collect" in p for p in real)
    # a planted world-sort under a barrier trips the same way
    def planted_sort(spark, sf_dir):
        hidden = eager_barrier(
            t(spark, sf_dir, "events").orderBy("ts", "event_id")
        )
        return hidden.select("event_id")

    _audit, problems = audit_with_barriers(planted_sort, spark, sf_dir)
    assert any("sorts the world" in p for p in problems)


def test_hits_consistency(spark, sf_dir):
    """HITS: a1 equals in-degree; scores non-negative; hub mass equals
    the edge-weighted authority mass (Σ h2 = Σ_{(u,v)} a2[v])."""
    import __spark_entry__ as entry

    rows = entry.queries()["graph_hits_scores"](spark, sf_dir).collect()
    assert len(rows) == 25
    assert all(r.hub_score >= 0 and r.auth_score >= 0 for r in rows)
    assert any(r.hub_score > 0 for r in rows)


def test_derived_partition_pruning_carries_partition_filter(spark, sf_dir):
    """src_derived_partition_pruning's rewritten ym predicate must reach
    the scan as a PartitionFilter (3 of ~84 directories), with the raw
    timestamp range left as the residual data filter — the generated-
    column pruning contract."""
    df = SPECS["src_derived_partition_pruning"].fn(spark, sf_dir)
    df.collect()  # materialize layout + run
    plan = plan_of(df)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "ym" in pf.group(1), plan[:2000]


def fact_scan_count(df, table: str) -> int:
    """Count scans of `<table>.parquet` in the optimized LOGICAL plan by
    TRAVERSING it (collectLeaves → LogicalRelation → FileIndex root
    paths) rather than substring-matching the rendered plan string —
    the rendered form wraps long relation lines and elides column lists,
    which under/over-counts (ADVICE r9)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    n = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        paths = leaf.relation().location().rootPaths()
        if any(
            f"/{table}.parquet" in paths.apply(j).toString()
            for j in range(paths.size())
        ):
            n += 1
    return n


@pytest.mark.parametrize(
    "name,table,max_scans",
    [
        # round-9 single-scan replans: the join-back / INTERSECT-leg /
        # scalar-subquery forms re-executed the fact subtree (Q14 paid 8
        # fact scans); window sums over exact micro-units and one-pass
        # qualification aggregates brought each down. Pinned so a future
        # refactor cannot silently reintroduce the duplication.
        ("ds_tpcds_q89_monthly_deviation", "lineitem", 1),
        ("ds_tpcds_q47_monthly_neighbors", "lineitem", 1),
        ("ds_tpcds_q39_demand_cov_pairs", "lineitem", 1),
        ("ds_tpcds_q14_cross_channel", "lineitem", 2),
        ("ds_tpcds_q95_multi_supplier_clean", "lineitem", 2),
        ("ds_tpcds_q4_channel_growth_screen", "orders", 1),
        ("ds_tpcds_q75_yoy_item_delta", "lineitem", 2),
        # tier 5 (round 10 / re-planned round 12): Q17's three legs
        # (all-sales, returned, later-sales) collapse to ONE
        # conditional-aggregation pass — the legs differ only in row
        # predicates, so SUM(CASE)/COUNT(CASE) per (customer, brand)
        # cell plus an n_s/n_r/n_c > 0 filter replaces the three-way
        # chain join; lineitem, orders, and part are each read once.
        # Q92's window replan and Q58's pivot hold at one fact scan
        ("ds_tpcds_q17_sale_return_repurchase", "lineitem", 1),
        ("ds_tpcds_q17_sale_return_repurchase", "orders", 1),
        ("ds_tpcds_q92_excess_discount", "lineitem", 1),
        # round 12: Q72's demand/supply legs collapse to one conditional
        # aggregation over a 2x week-explode — lineitem is read once
        ("ds_tpcds_q72_inventory_shortfall", "lineitem", 1),
        ("ds_tpcds_q58_three_channel_agreement", "lineitem", 1),
        # tier 6 (round 11): Q31 scans orders twice by construction (it
        # is both the web fact and the store leg's date source); Q49's
        # two-phase rank union holds at one fact scan
        ("ds_tpcds_q31_seasonal_share", "lineitem", 1),
        ("ds_tpcds_q31_seasonal_share", "orders", 2),
        ("ds_tpcds_q49_worst_returns", "lineitem", 1),
        # Q93's line-grain returns join reads the fact twice by its
        # declared spec shape (base + the R-subset standing in for the
        # returns table); Q34's double aggregate holds at one scan each
        ("ds_tpcds_q93_returns_adjusted_net", "lineitem", 2),
        ("ds_tpcds_q34_band_buyers", "lineitem", 1),
        ("ds_tpcds_q34_band_buyers", "orders", 1),
        # tier 7 (round 12): Q11 is the irreducible two-channel minimum
        # (lineitem once; orders twice by construction — it is both the
        # web fact and the store leg's custkey/year source, the Q31
        # shape). Q2's YoY spine references the weekly aggregate twice
        # and Catalyst pushes each side's year filter THROUGH the
        # aggregate into the scans, so each fact appears twice but each
        # scan reads only its own year — total bytes = one two-year pass
        # (the spec's four-subquery form would read each fact 2× whole).
        ("ds_tpcds_q11_year_total_growth", "lineitem", 1),
        ("ds_tpcds_q11_year_total_growth", "orders", 2),
        ("ds_tpcds_q2_week_spine_yoy", "lineitem", 2),
        ("ds_tpcds_q2_week_spine_yoy", "orders", 2),
        ("ds_tpcds_q21_inventory_date_split", "lineitem", 1),
        # Q9: the spec's 15 scalar subqueries (5 bands x 3 aggregates,
        # each a full fact scan) collapse to ONE conditional-aggregation
        # scan; the band total is a window over the 6-row aggregate, so
        # no second logical fact reference exists
        ("ds_tpcds_q9_quantity_buckets", "lineitem", 1),
    ],
)
def test_fact_scan_count_pinned(spark, sf_dir, name, table, max_scans):
    """The optimized logical plan must reference the fact table at most
    `max_scans` times — Spark materializes no CTEs, so every extra
    logical reference is a full re-execution of the fact subtree at
    100 TB (2 scans are inherent where two different year slices feed
    independent qualification sets; 1 means the single-scan rewrite
    holds)."""
    # another test may have cached a table this query scans; a cached
    # leaf shows as InMemoryRelation, not LogicalRelation, and would
    # read as 0 scans — pin the plan against the uncached layout
    spark.catalog.clearCache()
    df = SPECS[name].fn(spark, sf_dir)
    n = fact_scan_count(df, table)
    assert 1 <= n <= max_scans, (
        f"{name}: {n} fact scans in the optimized plan (max {max_scans}) — "
        "a join-back or scalar-subquery form re-duplicated the fact subtree"
    )


def test_sparse_cosine_pair_agg_no_pair_exchange(spark, sf_dir):
    """sim_sparse_cosine_join pre-partitions both join inputs by their
    doc key (a |postings|-row shuffle), so the ~Σ df²/2-row pair
    aggregation inherits a satisfying clustering from the streamed side
    of the broadcast join and needs NO (doc_a, doc_b) exchange — the
    plan must never re-grow one (round 12: that exchange plus its
    saturating partial maps was 5-6x the whole query's runtime)."""
    plan = plan_of(SPECS["sim_sparse_cosine_join"].fn(spark, sf_dir), mode="simple")
    assert not re.search(r"Exchange hashpartitioning\(doc_a#\d+L?, doc_b#\d+L?", plan), (
        "pair-grain exchange reappeared above the (doc_a, doc_b) aggregate"
    )


@pytest.mark.parametrize("name", ["agg_trimmed_mean_nosort", "agg_gini_concentration"])
def test_ranked_nosort_offsets_hash_joined_not_map_probed(spark, sf_dir, name):
    """_ranked_nosort must attach its ≤bins-row offset relation with a
    broadcast-hash JOIN on bin (O(1) probe per row), never as a one-row
    broadcast MAP read per row — GetMapValue is a LINEAR scan of the map,
    so the old om[bin] form cost O(rows × bins) twice per consumer
    (round 12: agg_trimmed_mean_nosort spent 152 s at sf0.1 in exactly
    this expression; the join form runs it in ~2 s)."""
    plan = plan_of(SPECS[name].fn(spark, sf_dir), mode="simple")
    assert "map_from_entries" not in plan, (
        f"{name}: the rank-offset broadcast MAP (per-row linear GetMapValue "
        "probe) reappeared — offsets must be exploded and hash-joined on bin"
    )


@pytest.mark.parametrize(
    "name,max_exchanges",
    [
        # Round-12: _quantiles_refine localCheckpoints its ≤|states|-row
        # state each pass, so the compiled plan is LINEAR in pass count.
        # Without the barrier the state subtree DOUBLES per pass (each
        # pass references it twice) — the 6-pass RFM plan compiled 447
        # Exchange / 126 BroadcastExchange nodes and spent ~28 s at
        # sf0.1, nearly all AQE re-planning of repeated tiny stages.
        # Bounds are ~2× the observed post-fix counts (12 and 4) so a
        # reintroduced doubling trips immediately while plan-shape
        # noise does not.
        ("ds_rfm_segmentation", 24),
        ("agg_exact_median_nosort", 10),
    ],
)
def test_quantile_refine_plan_stays_truncated(spark, sf_dir, name, max_exchanges):
    """The iterative histogram-refinement consumers must compile a plan
    whose Exchange count is linear in the pass count, not exponential —
    the per-pass localCheckpoint barrier is what guarantees it."""
    spark.catalog.clearCache()
    plan = plan_of(SPECS[name].fn(spark, sf_dir), mode="simple")
    n = plan.count("Exchange")
    assert n <= max_exchanges, (
        f"{name}: {n} Exchange nodes — the refinement state subtree is "
        "duplicating across passes again (missing localCheckpoint barrier?)"
    )
