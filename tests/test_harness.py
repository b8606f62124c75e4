"""The shared measured-run pieces of bench.py and tools/time_heads.py:
the conf context manager, the suite loop's per-head stage counters, the
``--all`` sweep's skip records, ``--conf`` for confs a live session
refuses, the labels of the soak section bench.py splices, and the one
stdout line of the headline bench."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import bench  # noqa: E402
from bench import run, soak_header, soak_labels, suite  # noqa: E402
from hadoop_fs_ceph_spark.session import confs  # noqa: E402
from hadoop_fs_ceph_spark.registry import load_all  # noqa: E402
from time_heads import time_heads  # noqa: E402

PARTS = "spark.sql.shuffle.partitions"
FRESH = "spark.graft.test.harness_key"


def test_confs_restores_prior_values_and_unsets_new_keys(spark):
    before = spark.conf.get(PARTS)
    assert spark.conf.get(FRESH, None) is None
    with confs(spark, {PARTS: "3", FRESH: "on"}):
        assert spark.conf.get(PARTS) == "3"
        assert spark.conf.get(FRESH) == "on"
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(FRESH, None) is None


def test_confs_restores_on_exception(spark):
    before = spark.conf.get(PARTS)
    with pytest.raises(RuntimeError):
        with confs(spark, {PARTS: "5", FRESH: "on"}):
            raise RuntimeError("head failed")
    assert spark.conf.get(PARTS) == before
    assert spark.conf.get(FRESH, None) is None


def test_confs_nest(spark):
    before = spark.conf.get(PARTS)
    with confs(spark, {PARTS: "7"}):
        with confs(spark, {PARTS: "9"}):
            assert spark.conf.get(PARTS) == "9"
        assert spark.conf.get(PARTS) == "7"
    assert spark.conf.get(PARTS) == before


def _shape(rec):
    c = rec.stages
    return (c.jobs, c.stages, c.tasks, c.shuffle_write_bytes, c.shuffle_read_bytes)


def test_suite_counters_match_each_head_run_alone(spark, sf_dir):
    specs = load_all()
    heads = {n: specs[n] for n in ("q1_pricing_summary", "q3_shipping_priority")}
    for spec in heads.values():  # first reads resolve and keep table schemas
        run(spark, spec, sf_dir)
    alone = {n: _shape(next(suite(spark, {n: s}, sf_dir))[1]) for n, s in heads.items()}
    # the content-hash job after each head must not reach the next head
    together = dict(suite(spark, heads, sf_dir, content_hash=True))
    assert {n: _shape(r) for n, r in together.items()} == alone
    for jobs, stages, tasks, shuffle_w, shuffle_r in alone.values():
        assert jobs >= 1 and stages >= 2 and tasks >= stages
        assert shuffle_w > 0 and shuffle_r > 0
    assert all(r.content[0] > 0 and r.action_s > 0 for r in together.values())


def test_bounded_order_by_runs_two_jobs(spark, sf_dir):
    """``q1_pricing_summary`` orders its few groups on one partition
    (``tables.order_bounded``): the partial-aggregate map stage and the
    result stage are its only jobs. A distributed sort added a sampling job
    (which ran the final aggregate a second time) and a range-shuffle map
    stage: 4 jobs."""
    spec = load_all()["q1_pricing_summary"]
    spec.fn(spark, sf_dir)  # the first read resolves and keeps the table schema
    assert run(spark, spec, sf_dir).stages.jobs == 2


class _Spec:
    def __init__(self, fn):
        self.fn = fn


def _raise_in_fn(spark, sf_dir):
    raise ValueError("no such table")


def _raise_in_action(spark, sf_dir):
    return spark.range(1).selectExpr("raise_error('boom') AS x")


def test_sweep_records_skip_and_keeps_going(spark, sf_dir):
    specs = {
        "bad_fn": _Spec(_raise_in_fn),
        "bad_action": _Spec(_raise_in_action),
        "q6_forecast_revenue": load_all()["q6_forecast_revenue"],
    }
    out = dict(time_heads(spark, specs, sf_dir, passes=1))
    assert list(out) == list(specs)
    assert out["bad_fn"] == "skip:ValueError"
    assert out["bad_action"].startswith("skip:")
    rec = out["q6_forecast_revenue"]
    assert set(rec) == {
        "cold", "warm", "cold_all", "warm_all", "cold_fn", "cold_py_cpu", "cold_compiles",
        "cold_jobs",
    }
    assert len(rec["cold_all"]) == len(rec["cold_fn"]) == len(rec["cold_jobs"]) == 1
    assert rec["cold_fn"][0] <= rec["cold_all"][0]
    assert rec["cold_jobs"][0] >= 1


def test_time_heads_conf_reaches_core_confs(sf_dir):
    """``--conf`` must work for a conf a live session refuses to change
    (``spark.ui.retainedStages`` raises CANNOT_MODIFY_CONFIG there)."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "time_heads.py"),
            "--passes=1",
            "--conf=spark.ui.retainedStages=50",
            "q6_forecast_revenue",
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.splitlines()
    assert "conf spark.ui.retainedStages=50" in lines
    assert '"q6_forecast_revenue"' in lines[-1]


def test_soak_header_names_the_data_scale_and_host():
    md = "\n".join(soak_header("/data/tpch/sf0.01", 2, 4, 1.5))
    assert "## Measured soak: sf0.01 -> 2x (sf0.02-equivalent)" in md
    assert "The sf0.01 tier" in md
    assert "local[4]" in md
    assert "| wall sf0.01 (s) | wall sf0.02-equivalent (s) |" in md
    assert "sf0.1" not in md and "local[32]" not in md
    assert soak_labels("/data/sf0.1/", 10) == ("sf0.1", "sf1-equivalent")
    assert soak_labels("/data/lake", 3) == ("lake", "lake x3")


def test_bench_prints_only_the_driver_contract_line(spark, sf_dir, monkeypatch, capsys):
    """``python bench.py`` prints one line, the compact driver-contract
    line, with the key set of the checked-in r13 artifact's line."""
    specs = load_all()
    heads = {n: specs[n] for n in ("q1_pricing_summary", "q3_shipping_priority")}
    monkeypatch.setattr(bench, "session", lambda app: (spark, sf_dir, heads))
    bench.main()
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    with open(os.path.join(ROOT, "BENCH_r13.json")) as f:
        r13 = json.load(f)["parsed"]
    line = json.loads(lines[0])
    assert set(line) == set(r13)
    assert set(line["queries"]) == set(heads) and line["sf"] == 0.001
