"""Isolated per-head timing: noop-sink wall clock for named queries.

Usage:
    python tools/time_heads.py name [name ...] [--passes=N] [--conf=KEY=VALUE ...]
    python tools/time_heads.py --all [--passes=N] [--conf=KEY=VALUE ...]

Runs each head through bench.py's run path (``bench.suite``: cold = cache
cleared before each run, warm = immediate re-run, min over passes) on one
session, so A/B comparisons of a single operator don't pay a full-suite
run. Passes of a head run back to back. Each head prints one JSON line as
soon as it finishes, and the last line holds them all. Per cold run it also
records the seconds spent inside the query function (``cold_fn``), the CPU
seconds its Python workers used (``cold_py_cpu``, the cost of the
Python/Arrow boundary for UDF, pandas and Python-source heads) and the
classes Janino compiled for it (``cold_compiles``: after the first pass a
head whose generated code stays cached compiles 0) and the Spark jobs it ran
(``cold_jobs``, so the driver's fixed cost per job can be ranked over
``--all``).

``--all`` sweeps every registered query, finding tail hotspots the bench
heads miss; a query that raises is recorded as ``"skip:<ExceptionName>"``
and the sweep goes on. ``--conf`` pairs go to ``get_spark(extra_conf=...)``,
so runtime, core and static confs all take effect.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run, session, suite, warm_up  # noqa: E402
from hadoop_fs_ceph_spark.session import codegen_compiles  # noqa: E402
from perfbench.probes import jvm_pid, tree_cpu_s  # noqa: E402


def python_worker_cpu_s(jvm: int) -> float:
    """CPU seconds the driver JVM's Python workers have used so far: the
    JVM's process tree (workers it or a daemon has reaped included) less
    the JVM's own time."""
    with open(f"/proc/{jvm}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return tree_cpu_s(jvm) - (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def time_heads(spark, specs: dict, sf_dir: str, passes: int):
    """Yield ``(name, record)`` per head once its passes are done; the
    record is ``"skip:<ExceptionName>"`` for a head that raised."""
    jvm = jvm_pid(spark)
    for name, spec in specs.items():
        rec = {k: [] for k in ("cold", "warm", "fn", "py_cpu", "compiles", "jobs")}
        try:
            for _ in range(passes):
                cpu0, n0 = python_worker_cpu_s(jvm), codegen_compiles(spark)
                for _, cold in suite(spark, {name: spec}, sf_dir):
                    rec["py_cpu"].append(python_worker_cpu_s(jvm) - cpu0)
                    rec["compiles"].append(codegen_compiles(spark) - n0)
                    rec["cold"].append(cold.wall)
                    rec["fn"].append(cold.fn_s)
                    rec["jobs"].append(cold.stages.jobs)
                    rec["warm"].append(run(spark, spec, sf_dir).wall)
        except Exception as exc:
            print(f"skip {name}: {exc!r:.300}", file=sys.stderr)
            yield name, f"skip:{type(exc).__name__}"
            continue
        yield name, {
            "cold": round(min(rec["cold"]), 3),
            "warm": round(min(rec["warm"]), 3),
            "cold_all": [round(v, 3) for v in rec["cold"]],
            "warm_all": [round(v, 3) for v in rec["warm"]],
            "cold_fn": [round(v, 3) for v in rec["fn"]],
            "cold_py_cpu": [round(v, 2) for v in rec["py_cpu"]],
            "cold_compiles": rec["compiles"],
            "cold_jobs": rec["jobs"],
        }


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    passes = 3
    conf = {}
    for a in sys.argv[1:]:
        if a.startswith("--passes"):
            passes = int(a.split("=", 1)[1])
        elif a.startswith("--conf="):
            k, v = a[len("--conf="):].split("=", 1)
            conf[k] = v
    spark, sf_dir, specs = session("time-heads", bench_only=False, extra_conf=conf)
    for k in conf:
        print(f"conf {k}={spark.conf.get(k)}")
    if "--all" in sys.argv[1:]:
        names = list(specs)
    heads = {n: specs[n] for n in names}
    warm_up(spark, heads, sf_dir)
    out = {}
    for name, rec in time_heads(spark, heads, sf_dir, passes):
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
