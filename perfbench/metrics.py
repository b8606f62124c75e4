"""Every metric the benchmark prints, with its unit.

``BENCHMARK.json`` repeats the names and units; ``tests/test_perfbench.py``
keeps the two in lockstep. Each per-layer metric also names the end-to-end
metric it should move and on which workloads, written down before any
change is measured against it.
"""

from __future__ import annotations

from dataclasses import dataclass

# name -> (unit, better): the metrics of an untraced run's result line
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_s_per_op": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# name -> unit: wall-time figures an untraced run prints beside them
WALL = {
    "wall_p50_s": "s",
    "wall_tail_s": "s",
    "geomean_wall_s": "s",
    "ops_per_min": "1/min",
    "mb_per_s": "MB/s",
}

LAKE = ("lake_sql",)
RGW = ("rgw",)
ALL = LAKE + RGW


@dataclass(frozen=True)
class Layer:
    unit: str
    better: str
    moves: str  # the end-to-end metric or wall figure this metric should move
    on: tuple[str, ...]  # workloads where it should move it


PER_LAYER = {
    "session.jvm_start_s": Layer("s", "lower", "setup_s", ALL),
    "session.get_spark_s": Layer("s", "lower", "setup_s", ALL),
    "registry.load_all_s": Layer("s", "lower", "setup_s", ALL),
    "rgw_http.stage_s": Layer("s", "lower", "setup_s", RGW),
    "operators.fn_s": Layer("s", "lower", "wall_p50_s", LAKE),
    "operators.fn_jobs": Layer("count", "lower", "wall_p50_s", LAKE),
    "operators.fn_stages": Layer("count", "lower", "wall_p50_s", LAKE),
    "operators.plan_s": Layer("s", "lower", "wall_p50_s", LAKE),
    "operators.action_s": Layer("s", "lower", "wall_p50_s", LAKE),
    "operators.stages": Layer("count", "lower", "wall_p50_s", ALL),
    "operators.tasks": Layer("count", "lower", "wall_p50_s", ALL),
    "operators.exec_run_s": Layer("s", "lower", "wall_p50_s", ALL),
    "operators.exec_cpu_s": Layer("s", "lower", "cpu_s_per_op", ALL),
    "operators.gc_s": Layer("s", "lower", "cpu_s_per_op", ALL),
    "operators.busy_ratio": Layer("ratio", "higher", "wall_p50_s", ALL),
    "operators.input_mb": Layer("MB", "lower", "wall_p50_s", LAKE),
    "operators.input_rows": Layer("count", "lower", "wall_p50_s", LAKE),
    "operators.shuffle_write_mb": Layer("MB", "lower", "wall_p50_s", LAKE),
    "operators.shuffle_read_mb": Layer("MB", "lower", "wall_p50_s", LAKE),
    "operators.spill_mb": Layer("MB", "lower", "wall_p50_s", LAKE),
    "operators.result_rows": Layer("count", "lower", "wall_p50_s", LAKE),
    "rgw_http.list_ms": Layer("ms", "lower", "wall_p50_s", RGW),
    "rgw_http.plan_ms": Layer("ms", "lower", "wall_p50_s", RGW),
    "rgw_http.splits": Layer("count", "higher", "wall_p50_s", RGW),
    "rgw_http.get_range_ms": Layer("ms", "lower", "mb_per_s", RGW),
    "rgw_http.get_mb_per_s": Layer("MB/s", "higher", "mb_per_s", RGW),
    "rgw_http.requests_per_split": Layer("count", "lower", "mb_per_s", RGW),
    "rgw_http.read_amplification": Layer("ratio", "lower", "mb_per_s", RGW),
    "rgw_http.parse_rows_per_s": Layer("1/s", "higher", "mb_per_s", RGW),
    "rgw_http.engine_overhead_s": Layer("s", "lower", "mb_per_s", RGW),
    "rgw_http.multipart_put_s": Layer("s", "lower", "mb_per_s", RGW),
    "rgw_http.parts": Layer("count", "lower", "mb_per_s", RGW),
    "rgw_http.put_mb_per_s": Layer("MB/s", "higher", "mb_per_s", RGW),
    "writers.write_table_s": Layer("s", "lower", "mb_per_s", RGW),
    "sigv4.sign_get_us": Layer("us", "lower", "cpu_s_per_op", RGW),
    "sigv4.verify_get_us": Layer("us", "lower", "cpu_s_per_op", RGW),
    "sigv4.sign_put_us": Layer("us", "lower", "cpu_s_per_op", RGW),
    "sigv4.verify_put_us": Layer("us", "lower", "cpu_s_per_op", RGW),
    "rgw_http.server_cpu_s": Layer("s", "lower", "cpu_s_per_op", RGW),
    "trace.wall_p50_s": Layer("s", "lower", "wall_p50_s", ALL),
    "trace.poll_ms": Layer("ms", "lower", "wall_p50_s", ALL),
}
