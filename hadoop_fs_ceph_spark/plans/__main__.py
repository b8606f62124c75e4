"""Scale-audit CLI: per-query 100 TB posture report.

    python -m hadoop_fs_ceph_spark.plans q5_local_supplier_volume
    python -m hadoop_fs_ceph_spark.plans --all [sf_dir]   # fleet summary

Batch queries: join strategies, shuffle count, codegen spans, scan pushdown
facts, and red flags (cartesian joins, world sorts, row-at-a-time Python,
single-partition windows). Streaming queries are NOT skipped (the round-4
verdict's gate blind spot): each is audited pre-sink via the audit-capture
hook in streaming/runner.py — the query function runs until its first sink
entry point, which records the analyzed streaming plan's state-shape flags
(dedup without eviction, complete-mode/unwatermarked aggregates, NoTimeout
custom state) and stops before the stream starts.

``--all`` prints one summary line per declared query and exits non-zero if
any query has an UNALLOWLISTED red flag — the same allowlist
(`plans/allowlist.py`) the plan tests pin, so exit 0 is the real gate.
Allowlisted flags still print (prefixed ``ok:``) with their reason. Stale
allowlist entries are reported per (group, name): an entry is 'used' only
when a flag mapping to ITS group matched, so a query listed in two groups
cannot mask staleness in either.
"""

from __future__ import annotations

import sys

from hadoop_fs_ceph_spark.plans.allowlist import ALLOW_GROUPS, split_flags_detail
from hadoop_fs_ceph_spark.plans.inspect import audit_with_barriers
from hadoop_fs_ceph_spark.registry import load_all
from hadoop_fs_ceph_spark.session import get_spark
from hadoop_fs_ceph_spark.tables import DEFAULT_SF_DIR


def _report(name: str, spec, spark, sf_dir: str):
    # audit_with_barriers (round-13): flags are merged from the returned
    # plan AND every pre-barrier sub-plan, so localCheckpoint can no
    # longer hide a collect/sort/cartesian from the gate
    audit, problems = audit_with_barriers(spec.fn, spark, sf_dir)
    line = (
        f"{name}: bhj={audit.broadcast_joins} smj={audit.sort_merge_joins} "
        f"shuffles={audit.shuffles} codegen={audit.codegen_spans} "
        f"topk={'y' if audit.take_ordered else 'n'} "
        f"spw={audit.single_partition_windows}"
    )
    real, allowed, used = split_flags_detail(name, problems)
    return line, real, allowed, used, audit


def _report_streaming(name: str, spec, spark, sf_dir: str):
    """Audit a streaming query's pre-sink plan without draining the stream."""
    from hadoop_fs_ceph_spark.streaming import runner

    cap: list = []
    runner._capture = cap
    try:
        spec.fn(spark, sf_dir)
    except runner.AuditStop:
        pass
    finally:
        runner._capture = None
    if not cap:
        raise RuntimeError("streaming query reached no sink entry point under audit")
    sink_name, mode, flags = cap[0]
    line = f"{name}: streaming mode={mode} sink={sink_name} state_flags={len(flags)}"
    real, allowed, used = split_flags_detail(name, flags)
    return line, real, allowed, used


def main() -> None:
    args = [a for a in sys.argv[1:]]
    fleet = "--all" in args
    args = [a for a in args if a != "--all"]
    names = [a for a in args if not a.startswith("/")]
    dirs = [a for a in args if a.startswith("/")]
    sf_dir = dirs[0] if dirs else DEFAULT_SF_DIR

    specs = load_all()
    if not fleet and not names:
        print(__doc__)
        sys.exit(2)
    if fleet:
        names = sorted(specs)

    spark = get_spark("scale-audit", driver_memory="8g")
    spark.sparkContext.setLogLevel("ERROR")
    flagged = 0
    used: set[tuple[str, str]] = set()
    for name in names:
        if name not in specs:
            print(f"unknown query: {name}")
            flagged += 1
            continue
        spec = specs[name]
        try:
            if "streaming" in spec.tags:
                line, real, allowed, used_pairs = _report_streaming(
                    name, spec, spark, sf_dir
                )
                audit = None
            else:
                line, real, allowed, used_pairs, audit = _report(
                    name, spec, spark, sf_dir
                )
        except Exception as e:  # noqa: BLE001 - CLI reports, caller decides
            print(f"{name}: ERROR {e}")
            flagged += 1
            continue
        finally:
            # a query may persist() an intermediate that a later query
            # plans as an InMemoryRelation; drop it so each query is
            # audited as it plans alone, whatever ran before
            spark.catalog.clearCache()
        print(line)
        for p in real:
            print(f"  !! {p}")
            flagged += 1
        for p in allowed:
            print(f"  ok: {p}")
        used.update(used_pairs)
        if not fleet and audit is not None:
            for s in audit.scans:
                print(f"  scan: {s}")
    if fleet:
        # Allowlist hygiene: an entry whose query no longer carries a flag
        # of its group is drift — not a gate failure, but visible so
        # entries get retired when a reformulation removes the pattern
        # they excused.
        listed = {
            (label, n) for label, allow in ALLOW_GROUPS.items() for n in allow
        }
        for label, stale in sorted(listed - used):
            print(f"note: allowlist entry no longer matches any flag: {label}:{stale}")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
