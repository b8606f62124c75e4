"""Physical-plan inspection utilities.

The reference connector's whole performance story is *storage-level*
(buffering, virtual blocks, prefetch — SURVEY.md §4.1); in a Spark-native
engine the equivalent story lives in the physical plan: did the filter
reach the scan, did the bounded side broadcast, did Python stay off the
hot path. This module turns those questions into data so tests
(`tests/test_plans.py`) and users can assert them instead of eyeballing
``.explain()`` output.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def plan_of(df: DataFrame, mode: str = "formatted", execute: bool = False) -> str:
    """Full explain string (formatted mode doesn't truncate scan fields);
    ``execute=True`` materializes first so AQE's *final* plan is shown.

    AQE note: the final plan (``isFinalPlan=true``) only exists after
    driving THIS DataFrame's own QueryExecution (``df.collect()``) — a
    separate sink action would plan a fresh QueryExecution.
    """
    if execute:
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()
    explain_mode = getattr(df.sparkSession._jvm, "org.apache.spark.sql.execution.ExplainMode")
    return df._jdf.queryExecution().explainString(explain_mode.fromString(mode))


def scan_info(plan: str) -> list[dict[str, str]]:
    """Per-scan pushdown facts: one dict per ``Scan parquet`` node with
    its pushed filters, partition filters, and read schema."""
    scans = []
    for m in re.finditer(r"Scan parquet", plan):
        seg = plan[m.start() : m.start() + 2000]
        scans.append(
            {
                "pushed_filters": _group(seg, r"PushedFilters: \[([^\]]*)\]"),
                "partition_filters": _group(seg, r"PartitionFilters: \[([^\]]*)\]"),
                "read_schema": _group(seg, r"ReadSchema: struct<([^>]*)>"),
            }
        )
    return scans


def _group(text: str, pattern: str) -> str:
    m = re.search(pattern, text)
    return m.group(1).strip() if m else ""


# A Window (or bare Sort) whose required distribution is AllTuples plans
# as Exchange SinglePartition directly under it — every input row funnels
# through ONE task. Window and Sort are unary operators, so in the plan
# dump their child is always the immediately following line; two physical
# shapes exist (sorted frames insert a partition-local Sort between):
#   Window ... \n +- Sort ..., false \n    +- Exchange SinglePartition
#   Window ... \n +- Exchange SinglePartition        (unbounded frame)
# Aggregates over SinglePartition exchanges are NOT matched: their partial
# side already reduced each partition to one row, so the exchange moves
# |partitions| rows, not the relation.
_SINGLE_PARTITION_WINDOW = re.compile(
    r"(?:Window|Sort) \[[^\n]*\n[^\n]*?[+:]- (?:Sort \[[^\n]*\n[^\n]*?[+:]- )?"
    r"Exchange SinglePartition"
)


@dataclass
class ScaleAudit:
    """Boiled-down plan facts that decide 100 TB viability."""

    cartesian: bool  # CartesianProduct / BroadcastNestedLoopJoin present
    broadcast_joins: int
    sort_merge_joins: int
    shuffles: int  # Exchange hashpartitioning count
    global_sorts: int  # Sort [..], global=true outside TakeOrdered
    take_ordered: bool  # top-k via per-partition heaps
    has_aggregate: bool  # any aggregate operator in the plan
    python_on_hot_path: bool  # BatchEvalPython (row-at-a-time UDF)
    arrow_python: bool  # ArrowEvalPython / pandas-UDF nodes
    codegen_spans: int  # WholeStageCodegen regions
    single_partition_windows: int = 0  # Exchange SinglePartition feeding Window/Sort
    group_collects: int = 0  # collect_list/collect_set sites (agg or window)
    scans: list[dict[str, str]] = field(default_factory=list)

    def problems(self) -> list[str]:
        """Human-readable red flags (empty list = plan looks scalable).

        The global-sort flag fires only when the plan contains NO
        aggregate: a sort above an aggregation orders a group-key-sized
        relation (the deterministic-output contract of the declared
        queries), while a sort of a raw scan/join output really does
        sort the world at scale. A global sort over ``Coalesce 1`` is the
        bounded-result form (``tables.order_bounded``): the aggregate
        under it is keyed by a domain that does not grow with the scale
        factor, so its rows are sorted in one task with no range
        exchange.

        The single-partition-window flag is NOT aggregate-suppressed: an
        unpartitioned window above an aggregate still funnels the whole
        aggregated relation through one task, and when that relation
        grows with the corpus (per-customer, per-token, ...) the single
        task is the scale ceiling no matter how the rest of the plan
        parallelizes."""
        out = []
        if self.cartesian:
            out.append("cartesian/nested-loop join — O(n·m) at scale")
        if self.global_sorts > 0 and not self.take_ordered and not self.has_aggregate:
            out.append("global sort of an unaggregated relation — sorts the world")
        if self.single_partition_windows > 0:
            out.append(
                "single-partition window — whole relation funnels through one task"
            )
        if self.python_on_hot_path:
            out.append("row-at-a-time Python UDF on the hot path")
        if self.group_collects > 0:
            out.append(
                "per-group collect aggregate — state grows with group size"
            )
        return out


# --- streaming state audit --------------------------------------------------
# Flag strings are shared with plans/allowlist.py (the allowlist keys on the
# exact text, like the batch flags above).
FLAG_STREAM_DEDUP_NO_EVICTION = (
    "streaming dedup without state eviction — key state grows with every "
    "unique key ever seen"
)
FLAG_STREAM_COMPLETE_AGG = (
    "complete-mode streaming aggregate — state and sink retain every group "
    "ever seen"
)
FLAG_STREAM_UNWATERMARKED_AGG = (
    "unwatermarked streaming aggregate — per-key state never expires"
)
FLAG_STREAM_STATE_NO_TIMEOUT = (
    "custom stateful operator without timeout — per-key state never expires"
)

# Streaming nodes print with a `~` marker (`+- ~Deduplicate [...]`); the
# eviction-correct variant is `~DeduplicateWithinWatermark [...]`, which the
# required space-before-bracket deliberately does NOT match.
_DEDUP_NODE = re.compile(r"~Deduplicate \[([^\]]*)\]")
# `~EventTimeWatermark <node-uuid>, ts#13: timestamp, 10 minutes`
_WATERMARK_NODE = re.compile(r"EventTimeWatermark (?:[0-9a-f-]+, )?(\w+)#\d+")


def streaming_state_flags(sdf: DataFrame, output_mode: str) -> list[str]:
    """State-shape red flags for a streaming DataFrame, read from its
    ANALYZED logical plan (the physical streaming plan only exists per
    micro-batch, so the audit runs pre-sink on the logical shape).

    The defect class this gate exists for (round-4 verdict): state that
    the watermark can never evict. Four shapes are inspected:

    * ``Deduplicate`` whose key set excludes the event-time column —
      Spark only evicts dedup state when event time is part of the keys;
      ``DeduplicateWithinWatermark`` is the eviction-correct variant and
      passes clean.
    * Any aggregate draining to a ``complete``-mode sink — complete mode
      must re-emit the full result each trigger, so neither state nor
      sink can ever drop a group (legitimate only for bounded key
      domains or declared batch-equivalence demos).
    * An ``update``-mode aggregate with no ``EventTimeWatermark`` in the
      plan — per-key state is kept forever because nothing marks a key
      finalizable.
    * ``FlatMapGroupsInPandasWithState`` with ``NoTimeout`` — user state
      that no timeout ever expires.
    """
    plan = sdf._jdf.queryExecution().analyzed().toString()
    flags: list[str] = []

    wm_cols = set(_WATERMARK_NODE.findall(plan))
    for m in _DEDUP_NODE.finditer(plan):
        key_cols = {c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()}
        if not (wm_cols & key_cols):
            flags.append(FLAG_STREAM_DEDUP_NO_EVICTION)
            break

    has_agg = "~Aggregate [" in plan
    if has_agg and output_mode == "complete":
        flags.append(FLAG_STREAM_COMPLETE_AGG)
    if has_agg and output_mode == "update" and not wm_cols:
        flags.append(FLAG_STREAM_UNWATERMARKED_AGG)

    if "FlatMapGroupsInPandasWithState" in plan and "NoTimeout" in plan:
        flags.append(FLAG_STREAM_STATE_NO_TIMEOUT)

    return flags


def audit_with_barriers(fn, spark, sf_dir) -> tuple["ScaleAudit", list[str]]:
    """Run a query function with barrier capture ON and audit BOTH the
    returned plan and every distinct pre-barrier sub-plan (round-13,
    VERDICT r12 item 3: ``localCheckpoint`` hides its input behind an RDD
    scan, so collects/sorts/cartesians placed under a barrier passed the
    gate silently). Returns (main ScaleAudit, merged problem list —
    main-plan problems first, then any additional flags surfaced by the
    barriers' inputs). Iterative loops capture one DataFrame per round;
    structurally identical rounds are deduped on their simple-plan string
    before the (more expensive) full audit."""
    from hadoop_fs_ceph_spark import barrier

    cap: list = []
    barrier._capture = cap
    try:
        df = fn(spark, sf_dir)
    finally:
        barrier._capture = None
    audit = scale_audit(df)
    problems = list(audit.problems())
    seen: set[str] = set()
    for bdf in cap:
        simple = plan_of(bdf, mode="simple")
        if simple in seen:
            continue
        seen.add(simple)
        for p in scale_audit(bdf).problems():
            if p not in problems:
                problems.append(p)
    return audit, problems


def scale_audit(df: DataFrame, execute: bool = False) -> ScaleAudit:
    """Audit a DataFrame's physical plan for scale red flags."""
    plan = plan_of(df, execute=execute)
    simple = plan_of(df, mode="simple") if not execute else plan
    return ScaleAudit(
        cartesian=("CartesianProduct" in plan) or ("BroadcastNestedLoopJoin" in plan),
        broadcast_joins=simple.count("BroadcastHashJoin"),
        sort_merge_joins=simple.count("SortMergeJoin"),
        shuffles=simple.count("Exchange hashpartitioning"),
        global_sorts=len(re.findall(r"\bSort \[.*\], true,", simple)),
        take_ordered="TakeOrderedAndProject" in simple,
        has_aggregate=any(
            a in simple for a in ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
        ),
        python_on_hot_path="BatchEvalPython" in simple,
        arrow_python="ArrowEvalPython" in simple or "FlatMapGroupsInPandas" in simple,
        single_partition_windows=len(_SINGLE_PARTITION_WINDOW.findall(simple)),
        # every collect_list/collect_set site buffers one group's rows in
        # memory; legitimate ONLY when the group is bounded by spec,
        # calendar, frame, or an explicit row cap — attested per query in
        # plans/allowlist.py BOUNDED_COLLECT
        group_collects=(
            simple.count("collect_list(") + simple.count("collect_set(")
        ),
        # codegen regions render as "[codegen id : n]" (formatted mode),
        # "WholeStageCodegen (n)" (tree dump), or "*(n) Op" (executed/simple)
        codegen_spans=len(
            set(re.findall(r"codegen id : (\d+)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
            | set(re.findall(r"\*\((\d+)\)", plan))
        ),
        scans=scan_info(plan),
    )
