"""Lake benchmark entry point.

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 12 --trace 0

Run from the repository root. The run sets up twice (fresh engine import,
``get_spark``, staging, warm-up and answer checks), then measures a closed
loop of operations after one untimed warm-up pass, for ``--seconds`` seconds,
in whole passes and until the workload's tail percentile has enough samples
beyond it.
The last line of standard output is one JSON object: with ``--trace 0`` it
holds the end-to-end metrics, with ``--trace 1`` the per-layer metrics. The
line before it prints the same metrics and the wall-time figures of the run.
A traced run also writes per-operation counters and spans under
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "hadoop_fs_ceph_spark"
SETUP_ROUNDS = 2  # the median of two rounds is their mean: one cold, one warm
SHUFFLE_PARTITIONS = 8  # fixed, so stage and task counts do not follow the host
BLOCKSIZE = 640 * 1024  # rgw_http virtual block: 8 splits over the staged lineitem
DRIVER_MEMORY = "2g"
MEASURE_CAP_S = 100.0  # stop measuring here even if a pass is unfinished


class Engine:
    """The engine's modules, imported afresh for one set-up round."""

    def __init__(self):
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
        self.registry = importlib.import_module(f"{PKG}.registry")
        self.session = importlib.import_module(f"{PKG}.session")
        self.oracle = importlib.import_module(f"{PKG}.oracle")
        self.writers = importlib.import_module(f"{PKG}.sources.writers")
        self.rgw_http = importlib.import_module(f"{PKG}.sources.rgw_http")
        self.sigv4 = importlib.import_module(f"{PKG}.sources.sigv4")
        self.pydatasource = importlib.import_module(f"{PKG}.sources.pydatasource")


class Ctx:
    """State one run shares with its workload."""

    def __init__(self, seed: int, traced: bool, work: str):
        from perfbench.tracing import Tracer

        self.seed = seed
        self.traced = traced
        self.work = work
        self.data = os.path.join(ROOT, "perfbench", "data")
        self.cores = len(os.sched_getaffinity(0))
        self.blocksize = BLOCKSIZE
        self.tracer = Tracer(traced)
        self.engine: Engine | None = None
        self.spark = None
        self.specs = None
        self.probe = None
        self.op_count = 0
        self.checks = 0
        self.check_failures = 0
        self.check_cpu_s = 0.0  # CPU the in-loop answer checks took
        self.stage_s: list[float] = []
        self.layer: dict[str, list[float]] = {}

    def check(self, ok: bool, detail: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures += 1
            print(f"answer check failed: {detail}", file=sys.stderr)

    def poll(self):
        """Stage counters since the last poll and the seconds the poll took;
        (None, 0.0) in untraced runs, which never read the status store."""
        if self.probe is None:
            return None, 0.0
        with self.tracer.span("trace.poll") as s:
            c = self.probe.take()
        return c, s.duration

    def layer_mean(self, name: str) -> float:
        vals = self.layer.get(name, [])
        return statistics.fmean(vals) if vals else 0.0


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched up front, so peak RSS does not
        # follow the garbage collector's sizing decisions from run to run;
        # the JIT compiler threads live as long as the JVM, so their CPU can
        # be told apart from the engine's (probes.jit_cpu_s)
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every stage and job row so no probe diff loses history
        conf["spark.ui.retainedStages"] = "100000"
        conf["spark.ui.retainedJobs"] = "100000"
    return conf


def setup_round(ctx: Ctx, workload) -> tuple[float, float, float]:
    """One set-up: fresh engine import, SparkSession, the workload's staging,
    warm-up and answer checks. Returns (total, get_spark, load_all) seconds.

    Only the first round launches the driver JVM; the second gets the
    running session back from ``get_spark`` and repeats the rest warm."""
    tr = ctx.tracer
    with tr.span("setup"):
        t0 = time.perf_counter()
        with tr.span("registry.load_all"):
            ctx.engine = Engine()
            ctx.specs = ctx.engine.registry.load_all()
        t1 = time.perf_counter()
        with tr.span("session.get_spark"):
            ctx.spark = ctx.engine.session.get_spark(
                "perfbench",
                master=f"local[{ctx.cores}]",
                shuffle_partitions=SHUFFLE_PARTITIONS,
                driver_memory=DRIVER_MEMORY,
                extra_conf=spark_conf(ctx.work, ctx.traced),
            )
            ctx.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        with tr.span("setup.workload"):
            workload.setup(ctx)
        t3 = time.perf_counter()
    print(f"setup round: load_all {t1 - t0:.3f}s get_spark {t2 - t1:.3f}s "
          f"workload {t3 - t2:.3f}s", file=sys.stderr)
    return t3 - t0, t2 - t1, t1 - t0


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(results, setup_times: list[float], cpu_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics of an untraced run; ``cpu_s`` is the CPU the
    measured loop took, JIT compilation and answer checks left out."""
    from perfbench.metrics import END_TO_END

    values = {
        "setup_s": statistics.median(setup_times),
        "cpu_s_per_op": cpu_s / len(results),
        "peak_rss_mb": rss_mb,
    }
    return {k: {"value": values[k], "unit": unit} for k, (unit, _) in END_TO_END.items()}


def wall_figures(workload, results) -> dict:
    """Wall-time figures of a run's operations. They are printed, not
    reported in the result line: on a shared host they follow the
    neighbours' load (see README.md, "Why CPU and not wall time")."""
    from perfbench import stats
    from perfbench.metrics import WALL

    good = [r for r in results if r.ok]
    walls = [r.wall for r in good]
    by_op: dict[str, list[float]] = {}
    for r in good:
        by_op.setdefault(r.name, []).append(r.wall)
    values = {
        "wall_p50_s": statistics.median(walls),
        "wall_tail_s": stats.percentile(walls, workload.tail_pct),
        "geomean_wall_s": stats.geomean([statistics.median(v) for v in by_op.values()]),
        "ops_per_min": 60 * len(walls) / sum(walls),
        "mb_per_s": sum(r.nbytes for r in good) / 1e6 / sum(walls),
    }
    return {k: {"value": values[k], "unit": unit} for k, unit in WALL.items()}


def per_layer(ctx: Ctx, results, measured: dict[str, float]) -> dict:
    """The per-layer metrics of a traced run: per-operation means of what the
    operations recorded, plus ``measured`` (set-up and replay figures). A
    layer the workload never exercises reads 0."""
    from perfbench.metrics import PER_LAYER

    values = {name: 0.0 for name in PER_LAYER}
    for name in ctx.layer:
        values[name] = ctx.layer_mean(name)
    values["trace.wall_p50_s"] = statistics.median(r.wall for r in results if r.ok)
    values["trace.poll_ms"] = ctx.tracer.total("trace.poll") / max(1, len(results)) * 1e3
    values.update(measured)
    return {k: {"value": values[k], "unit": layer.unit} for k, layer in PER_LAYER.items()}


def collect_layers(ctx: Ctx, r) -> None:
    """Per-operation layer values from one traced operation."""
    add = lambda k, v: ctx.layer.setdefault(k, []).append(v)  # noqa: E731
    for k, v in r.layer.items():
        add(k, v)
    c = r.total
    add("operators.fn_jobs", r.fn.jobs)
    add("operators.fn_stages", r.fn.stages)
    add("operators.stages", c.stages)
    add("operators.tasks", c.tasks)
    add("operators.exec_run_s", c.exec_run_s)
    add("operators.exec_cpu_s", c.exec_cpu_s)
    add("operators.gc_s", c.gc_s)
    add("operators.busy_ratio", c.exec_run_s / (r.wall * ctx.cores))
    add("operators.input_mb", c.input_bytes / 1e6)
    add("operators.input_rows", c.input_rows)
    add("operators.shuffle_write_mb", c.shuffle_write_bytes / 1e6)
    add("operators.shuffle_read_mb", c.shuffle_read_bytes / 1e6)
    add("operators.spill_mb", c.spill_bytes / 1e6)
    add("operators.result_rows", r.result_rows)


def invariant_counts(r) -> dict[str, int]:
    """The host-invariant counts of one traced operation."""
    c = r.total
    return {
        "jobs": c.jobs,
        "stages": c.stages,
        "tasks": c.tasks,
        "fn_jobs": r.fn.jobs,
        "fn_stages": r.fn.stages,
        "shuffle_write_bytes": c.shuffle_write_bytes,
        "shuffle_write_rows": c.shuffle_write_rows,
        "shuffle_read_bytes": c.shuffle_read_bytes,
        "input_rows": c.input_rows,
        "result_rows": r.result_rows,
    }


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package beside perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # everything the JVM, the Python workers and tempfile create stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too: no hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    ctx = Ctx(args.seed, bool(args.trace), work)
    workload = WORKLOADS[args.workload](args.seed)
    try:
        rounds = [setup_round(ctx, workload) for _ in range(SETUP_ROUNDS)]
        for op in workload.ops(-1):  # one untimed pass, so the loop starts warm
            r = workload.run(ctx, op)
            ctx.op_count += 1
            ctx.check(r.ok, f"warm-up pass: {op} failed")
        from perfbench.probes import StageProbe, jit_cpu_s, jvm_pid, peak_rss_mb, tree_cpu_s

        if ctx.traced:
            ctx.probe = StageProbe(ctx.spark)
        results, counts = [], {}
        ctx.check_cpu_s = 0.0  # the warm-up's checks ran before the loop
        jvm = jvm_pid(ctx.spark)
        cpu_start, jit_start = tree_cpu_s(os.getpid()), jit_cpu_s(jvm)
        t_start = time.perf_counter()
        pass_no = 0
        while True:
            for op in workload.ops(pass_no):
                r = workload.run(ctx, op)
                ctx.op_count += 1
                results.append(r)
                if ctx.traced and r.ok:
                    collect_layers(ctx, r)
                    counts.setdefault(op, invariant_counts(r))
            pass_no += 1
            elapsed = time.perf_counter() - t_start
            n_good = sum(r.ok for r in results)
            if elapsed >= MEASURE_CAP_S:
                break
            if elapsed >= args.seconds and n_good >= workload.samples_min:
                break
        cpu_s = tree_cpu_s(os.getpid()) - cpu_start
        jit_s = jit_cpu_s(jvm) - jit_start
        print(f"loop cpu: {cpu_s:.2f}s, of it JIT compiler {jit_s:.2f}s "
              f"and answer checks {ctx.check_cpu_s:.2f}s", file=sys.stderr)
        cpu_s -= jit_s + ctx.check_cpu_s
        if ctx.traced:
            measured = workload.traced_extras(ctx)
            measured.update({
                "session.jvm_start_s": rounds[0][1],
                "session.get_spark_s": statistics.median(r[1] for r in rounds),
                "registry.load_all_s": statistics.median(r[2] for r in rounds),
                "rgw_http.stage_s": statistics.median(ctx.stage_s or [0.0]),
            })
            metrics = per_layer(ctx, results, measured)
            tag = f"{args.workload}-seed{args.seed}"
            with open(os.path.join(out_dir, f"{tag}-counters.json"), "w") as f:
                json.dump(counts, f, indent=1, sort_keys=True)
            ctx.tracer.dump(os.path.join(out_dir, f"{tag}-spans.json"))
        else:
            rss = peak_rss_mb(jvm)
    finally:
        workload.close()
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    if not ctx.traced:
        metrics = end_to_end(results, [r[0] for r in rounds], cpu_s, rss)

    failed = ctx.check_failures + sum(not r.ok for r in results)
    attempted = ctx.checks + len(results)
    shown = metrics if ctx.traced else {**metrics, **wall_figures(workload, results)}
    table = " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in shown.items())
    per_op = " ".join(
        f"{name}={statistics.median(r.wall for r in results if r.ok and r.name == name):.3f}s"
        for name in sorted({r.name for r in results if r.ok})
    )
    print(f"{args.workload} seed={args.seed} ops={len(results)} tail=p{workload.tail_pct} "
          f"error_rate={failed / attempted:.4g} {table} | median per operation: {per_op}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
