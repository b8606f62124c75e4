"""Tests for the benchmark itself (not part of the engine's tier-1 suite).

    python3 -m pytest perfbench/tests -q                      # fast checks
    PERFBENCH_E2E=1 python3 -m pytest perfbench/tests -q      # + real runs (minutes)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, WALL  # noqa: E402
from perfbench.run import BLOCKSIZE, Ctx, end_to_end, per_layer, wall_figures  # noqa: E402
from perfbench.tracing import Span, Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    LAKE_HEADS,
    RGW_PASS,
    WORKLOADS,
    OpResult,
    Rgw,
    lineitem_csv_lines,
    object_layout,
    pass_order,
)

DATA = os.path.join(ROOT, "perfbench", "data")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --------------------------------------------------------------------------
# metric names and units
# --------------------------------------------------------------------------
def test_declared_metrics_match_benchmark_json():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: (v.unit, v.better) for k, v in PER_LAYER.items()
    }
    for name, layer in PER_LAYER.items():
        assert layer.moves in END_TO_END or layer.moves in WALL, name
        assert set(layer.on) <= set(WORKLOADS), name


def _results() -> list[OpResult]:
    return [OpResult(n, ok=True, wall=0.1 + 0.01 * i, nbytes=1000) for i, n in
            enumerate(list(LAKE_HEADS) * 3)]


def test_printed_metrics_match_benchmark_json(tmp_path):
    spec = _spec()
    workload = WORKLOADS["lake_sql"](seed=1)
    results = _results()
    plain = end_to_end(results, [1.0, 2.0, 3.0], 5.4, 900.0)
    assert {k: v["unit"] for k, v in plain.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert all(v["value"] > 0 for v in plain.values())
    assert plain["setup_s"]["value"] == 2.0
    assert plain["cpu_s_per_op"]["value"] == pytest.approx(5.4 / len(results))
    walls = wall_figures(workload, results)
    assert {k: v["unit"] for k, v in walls.items()} == WALL
    assert not set(walls) & set(plain)
    assert walls["ops_per_min"]["value"] == pytest.approx(
        60 * len(results) / sum(r.wall for r in results))
    traced = per_layer(Ctx(1, True, str(tmp_path)), _results(), {"session.get_spark_s": 2.0})
    assert {k: v["unit"] for k, v in traced.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]}
    assert traced["session.get_spark_s"]["value"] == 2.0


# --------------------------------------------------------------------------
# seeds
# --------------------------------------------------------------------------
def test_seed_reproduces_operation_order():
    for seed in (0, 1, 7):
        first = [pass_order(seed, p, LAKE_HEADS) for p in range(4)]
        assert first == [pass_order(seed, p, LAKE_HEADS) for p in range(4)]
        assert all(sorted(o) == sorted(LAKE_HEADS) for o in first)
        assert sorted(pass_order(seed, 0, RGW_PASS)) == sorted(RGW_PASS)
    assert pass_order(1, 0, LAKE_HEADS) != pass_order(2, 0, LAKE_HEADS)
    assert pass_order(1, 0, LAKE_HEADS) != pass_order(1, 1, LAKE_HEADS)


def test_seed_reproduces_object_layout():
    n = 60_000
    for seed in range(20):
        counts = object_layout(seed, n)
        assert counts == object_layout(seed, n)
        assert sum(counts) == n and len(counts) == 6
        assert 0.40 <= max(counts) / n <= 0.50
    assert object_layout(1, n) != object_layout(2, n)
    assert Rgw(3).part_size == Rgw(3).part_size >= 5 * 1024 * 1024


def test_layout_plans_the_same_split_count_for_every_seed():
    lines = lineitem_csv_lines(DATA)
    for seed in range(12):
        objects = Rgw(seed).layout(DATA)
        assert b"".join(b for _, b in objects) == b"".join(lines)
        blocks = [-(-len(b) // BLOCKSIZE) for _, b in objects]
        assert sum(blocks) == 8, (seed, blocks)
        assert max(blocks) >= 2  # straddling-line continuation fetches happen


# --------------------------------------------------------------------------
# the tail-percentile rule
# --------------------------------------------------------------------------
def test_tail_percentile_rule():
    sample = [float(v) for v in range(1, 101)]  # 1..100, shuffled below
    sample = sample[37:] + sample[:37]
    assert stats.percentile(sample, 50) == 50.0
    assert stats.percentile(sample, 90) == 90.0
    assert stats.percentile(sample, 60) == 60.0
    # the highest percentile with at least ten samples beyond it
    assert stats.samples_beyond(100, 90) == 10 > stats.samples_beyond(100, 91)
    assert stats.samples_beyond(25, 60) == 10 > stats.samples_beyond(24, 60)
    assert stats.min_samples(90) == 100
    assert stats.min_samples(60) == 25
    assert stats.min_samples(50) == 20
    assert stats.min_samples(60, beyond=6) == 15


def test_every_run_supports_its_tail_percentile():
    for cls in WORKLOADS.values():
        w = cls(seed=0)
        assert stats.samples_beyond(w.samples_min, w.tail_pct) >= w.tail_beyond
        assert w.samples_min == max(stats.min_samples(w.tail_pct, w.tail_beyond),
                                    w.passes_min * len(w.ops(0)))
    assert WORKLOADS["lake_sql"](seed=0).tail_beyond == stats.TAIL_BEYOND


# --------------------------------------------------------------------------
# process CPU
# --------------------------------------------------------------------------
def test_tree_cpu_counts_processes_below_the_root():
    from perfbench.probes import tree_cpu_s

    before = tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    # a child that exits (reaped: its parent's cutime) and a grandchild
    subprocess.run([sys.executable, "-c", burn], check=True)
    subprocess.run([sys.executable, "-c",
                    f"import subprocess, sys; subprocess.run([sys.executable, '-c', {burn!r}])"],
                   check=True)
    assert tree_cpu_s(os.getpid()) - before >= 0.5


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------
def test_spans_nest():
    tr = Tracer(enabled=True)
    with tr.span("op", trace="q#1") as op:
        with tr.span("fn") as fn:
            with tr.span("poll") as poll:
                pass
        with tr.span("action") as act:
            pass
    assert (fn.parent, poll.parent, act.parent) == (op.id, fn.id, op.id)
    assert {s.trace for s in tr.spans} == {"q#1"}
    for child in (fn, act):
        assert op.start <= child.start <= child.end <= op.end
    assert fn.start <= poll.start <= poll.end <= fn.end
    assert Tracer(enabled=False).spans == []


def test_self_time_is_duration_minus_child_coverage():
    tr = Tracer(enabled=True)
    tr.spans = [
        Span(0, None, "t", "op", 0.0, 10.0),
        Span(1, 0, "t", "a", 1.0, 4.0),
        Span(2, 0, "t", "b", 3.0, 6.0),  # overlaps a: covered once
        Span(3, 0, "t", "c", 9.0, 12.0),  # runs past the parent: clipped
        Span(4, 1, "t", "a.1", 1.5, 2.0),  # grandchild: not the op's child
    ]
    op, a = tr.spans[0], tr.spans[1]
    assert tr.self_time(op) == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert tr.self_time(a) == pytest.approx(3.0 - 0.5)
    assert tr.self_time(tr.spans[4]) == pytest.approx(0.5)


# --------------------------------------------------------------------------
# runs of the benchmark
# --------------------------------------------------------------------------
def _run(cwd: str, workload: str, seed: int, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "lake_sql", 1, 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


e2e = pytest.mark.skipif(not os.environ.get("PERFBENCH_E2E"), reason="set PERFBENCH_E2E=1")


@e2e
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_runs_print_declared_metrics_and_repeat_counts(workload):
    spec = _spec()
    plain = _run(ROOT, workload, 5, 0)
    assert plain.returncode == 0, plain.stderr[-2000:]
    line = json.loads(plain.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}

    counts = []
    for _ in range(2):
        traced = _run(ROOT, workload, 5, 1)
        assert traced.returncode == 0, traced.stderr[-2000:]
        line = json.loads(traced.stdout.strip().splitlines()[-1])
        assert {k: v["unit"] for k, v in line["metrics"].items()} == {
            m["name"]: m["unit"] for m in spec["per_layer"]}
        with open(os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed5-counters.json")) as f:
            counts.append(json.load(f))
    assert counts[0] == counts[1]
