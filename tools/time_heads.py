"""Isolated per-head timing: noop-sink wall clock for named bench heads.

Usage: python tools/time_heads.py name [name ...] [--passes N]

Mirrors bench.py methodology (cold = cache cleared before each run, warm =
immediate re-run, min over passes) on one session, so A/B comparisons of a
single operator don't pay a full-suite run. Each cold run also records the
CPU seconds its Python workers used (``cold_py_cpu``), the cost of the
Python/Arrow boundary for UDF, pandas and Python-source heads, and the
classes Janino compiled for it (``cold_compiles``): after the first pass a
head whose generated code stays cached compiles 0.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_fs_ceph_spark.registry import load_all  # noqa: E402
from hadoop_fs_ceph_spark.session import codegen_compiles, get_spark  # noqa: E402
from perfbench.probes import jvm_pid, tree_cpu_s  # noqa: E402


def python_worker_cpu_s(jvm: int) -> float:
    """CPU seconds the driver JVM's Python workers have used so far: the
    JVM's process tree (workers it or a daemon has reaped included) less
    the JVM's own time."""
    with open(f"/proc/{jvm}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return tree_cpu_s(jvm) - (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 3
    confs = []
    for a in sys.argv[1:]:
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1])
        elif a.startswith("--conf="):
            confs.append(a[len("--conf="):].split("=", 1))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = load_all()
    spark = get_spark("time-heads", driver_memory="24g")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs:
        spark.conf.set(k, v)
        print(f"conf {k}={v}")
    from hadoop_fs_ceph_spark.operators.tpcds_suite4 import ensure_q14_layout

    ensure_q14_layout(spark, sf_dir)
    # warm JVM/codegen once
    specs[args[0]].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    jvm = jvm_pid(spark)
    out = {}
    for name in args:
        cold, warm, py_cpu, compiles = [], [], [], []
        for _ in range(passes):
            cpu0, n0 = python_worker_cpu_s(jvm), codegen_compiles(spark)
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold.append(time.perf_counter() - t0)
            py_cpu.append(python_worker_cpu_s(jvm) - cpu0)
            compiles.append(codegen_compiles(spark) - n0)
            t0 = time.perf_counter()
            specs[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            warm.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        out[name] = {
            "cold": round(min(cold), 3),
            "warm": round(min(warm), 3),
            "cold_all": [round(v, 3) for v in cold],
            "warm_all": [round(v, 3) for v in warm],
            "cold_py_cpu": [round(v, 2) for v in py_cpu],
            "cold_compiles": compiles,
        }
        print(json.dumps({name: out[name]}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
