"""Capture .explain("formatted") for bench-head queries into plans/r13/.

Usage:
    python tools/capture_plans.py before [name ...]
    python tools/capture_plans.py after  [name ...]

With no names, captures every bench head. Output files:
plans/r13/<query>_<stage>.txt — the judge checks plan claims against these.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_fs_ceph_spark.plans.inspect import plan_of  # noqa: E402
from hadoop_fs_ceph_spark.registry import load_all  # noqa: E402
from hadoop_fs_ceph_spark.session import get_spark  # noqa: E402


def main() -> None:
    stage = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = load_all()
    if not names:
        names = sorted(n for n, s in specs.items() if s.bench)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans", driver_memory="24g")
    spark.sparkContext.setLogLevel("ERROR")
    from hadoop_fs_ceph_spark.operators.tpcds import ensure_q14_layout

    ensure_q14_layout(spark, sf_dir)
    for name in names:
        spec = specs[name]
        try:
            plan = plan_of(spec.fn(spark, sf_dir))
        except Exception as exc:  # streaming heads have no batch plan pre-sink
            plan = f"(no batch plan: {type(exc).__name__}: {exc})"
        path = os.path.join(out_dir, f"{name}_{stage}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({stage})\n")
            fh.write(plan)
        print(f"wrote {path}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
