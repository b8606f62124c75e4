"""Unit pins for bench.py's round-over-round noise verdict.

No Spark: the parser and verdict logic are pure functions over the
driver's BENCH_r*.json artifact shape. Pins the artifact-discovery rules
(newest round wins, SF must match, compact line found amid tail noise)
and every verdict branch (ok / regr / impr / new) including the
tolerance composition (both spreads + max(0.15, 20%·prev) slack).
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _compact_line, _noise_verdicts, _prev_per_query, _prev_round_compact


def _artifact(sf, q, calib=0.285):
    """A BENCH_r*.json holding a compact line in the r13 shape: ``q`` maps
    a head to its (cold, spread) pair, stored as the ``queries`` dict and
    the ``s`` array parallel to the sorted names."""
    names = sorted(q)
    compact = json.dumps(
        {
            "metric": "headline_queries_total_wall_clock",
            "sf": sf,
            "queries": {n: q[n][0] for n in names},
            "s": [q[n][1] for n in names],
            "calib_spark_sec": calib,
            "calib_ref": 0.285,
        },
        separators=(",", ":"),
    )
    return {
        "n": 1,
        "sf": sf,
        "tail": "WARN noisy spark line\n{broken json\n" + compact + "\n",
    }


def test_prev_round_compact_picks_newest_matching_sf(tmp_path):
    old = _artifact(0.1, {"q1": (1.0, 0.1)})
    new = _artifact(0.1, {"q1": (2.0, 0.2)})
    other_sf = _artifact(0.01, {"q1": (9.0, 9.0)})
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(old))
    (tmp_path / "BENCH_r02.json").write_text(json.dumps(new))
    (tmp_path / "BENCH_r03.json").write_text(json.dumps(other_sf))
    obj, name = _prev_round_compact(str(tmp_path), 0.1)
    assert name == "BENCH_r02.json"  # newest artifact at the SAME SF
    assert obj["queries"]["q1"] == 2.0


def test_prev_round_compact_none_when_no_match(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text(json.dumps(_artifact(0.01, {})))
    # a tail holding the verbose line whole but no compact line: the
    # verbose line has "queries" too, and must never be adopted
    verbose = json.dumps({"queries": {"q1": 1.5}, "calib_probes": [[0.3, 0.1]]})
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"sf": 0.1, "tail": "noise\n" + verbose + "\n"})
    )
    obj, name = _prev_round_compact(str(tmp_path), 0.1)
    assert obj is None and name is None


def test_noise_verdict_branches():
    prev = _artifact(0.1, {
        "steady": (2.0, 0.1),
        "shrunk": (4.0, 0.1),
        "blown": (1.0, 0.1),
    })
    prev_obj = json.loads(prev["tail"].strip().splitlines()[-1])
    timings = {"steady": 2.1, "shrunk": 1.0, "blown": 3.0, "fresh": 0.5}
    spread = {n: 0.1 for n in timings}
    v = _noise_verdicts(prev_obj, timings, spread, scale=1.0)
    # steady: delta 0.1 <= 0.1 + 0.1 + max(0.15, 0.4) -> ok
    assert v["steady"] == "ok"
    # shrunk: delta -3.0, tol = 0.2 + max(0.15, 0.8) = 1.0 -> improved
    assert v["shrunk"] == "impr"
    # blown: delta +2.0, tol = 0.2 + max(0.15, 0.2) = 0.4 -> regressed
    assert v["blown"] == "regr"
    assert v["fresh"] == "new"


def test_noise_verdict_normalizes_prev_spread_by_prev_calib():
    # previous round ran on a 2x-slow host (calib 0.57): its RAW spread
    # halves after normalization, so a delta just past the naive sum
    # still flags
    prev = _artifact(0.1, {"x": (2.0, 1.0)}, calib=0.57)
    prev_obj = json.loads(prev["tail"].strip().splitlines()[-1])
    # this run: normalized value 1.8 vs prev 1.0 -> delta 0.8;
    # tol = 0.1 + 1.0*0.5 + max(0.15, 0.2) = 0.8 -> boundary ok
    v = _noise_verdicts(prev_obj, {"x": 1.8}, {"x": 0.1}, scale=1.0)
    assert v["x"] == "ok"
    v = _noise_verdicts(prev_obj, {"x": 1.85}, {"x": 0.1}, scale=1.0)
    assert v["x"] == "regr"


def test_all_new_when_no_prev():
    assert _noise_verdicts(None, {"a": 1.0}, {"a": 0.0}, 1.0) == {"a": "new"}


def _compact_args(timings, prev=None, prev_name=None, noise=None, **kw):
    names = sorted(timings)
    defaults = dict(
        warm={n: timings[n] * 0.8 for n in names},
        spread={n: 0.1 for n in names},
        exec_sec={n: 3.0 for n in names},
        noise=noise or {n: "ok" for n in names},
        scale=1.0,
        prev=prev,
        prev_name=prev_name,
        sf=0.1,
        passes=3,
        calib_spark=0.285,
        layout_build_sec=7.0,
    )
    defaults.update(kw)
    return defaults


def test_compact_line_is_driver_contract_shape():
    """Round-13 (VERDICT r12 item 1): the final line must carry a PLAIN
    {"queries": {name: cold_sec}} dict — the shape the driver's PERF
    comparator parses — not the r11-12 q/q_cols array encoding."""
    timings = {"alpha": 1.23, "beta": 0.41}
    line = _compact_line(timings, **_compact_args(timings))
    obj = json.loads(line)
    assert obj["queries"] == {"alpha": 1.2, "beta": 0.4}
    assert obj["metric"] == "headline_queries_total_wall_clock"
    assert obj["unit"] == "sec" and obj["sf"] == 0.1
    assert abs(obj["value"] - 1.64) < 1e-9
    assert "q" not in obj and "q_cols" not in obj
    # parallel arrays ride along while the budget allows
    assert obj["s"] == [0.1, 0.1] and obj["e"] == [3, 3]
    # every owned layout whose build cost sits OUTSIDE `value` is named
    assert obj["layouts"] == ["q14_bucketed"]
    assert "layout_build_sec" in obj


def test_compact_line_common_subtotal_vs_prev():
    """VERDICT r12 item 2: promoting new heads must not read as a total
    regression — the compact line carries a like-for-like subtotal over
    the heads present in BOTH rounds."""
    prev = {
        "queries": {"alpha": 1.0},
        "s": [0.1],
        "calib_spark_sec": 0.285,
        "calib_ref": 0.285,
    }
    timings = {"alpha": 1.2, "newhead": 9.9}
    line = _compact_line(
        timings, **_compact_args(timings, prev=prev, prev_name="BENCH_r12.json")
    )
    obj = json.loads(line)
    assert obj["common"] == {"n": 1, "now": 1.2, "prev": 1.0, "now_norm": 1.2, "prev_norm": 1.0}
    assert obj["value"] > obj["common"]["now"]  # full set still reported


def test_compact_line_common_subtotal_normalized_across_hosts():
    """ADVICE low: on a cross-host round the raw common pair can read as a
    regression that is host drift; the normalized pair puts both rounds in
    reference-host seconds. The queries dict stays raw."""
    prev = {
        "queries": {"alpha": 1.0, "beta": 2.0},
        "s": [0.1, 0.1],
        "calib_spark_sec": 0.57,  # the previous host ran at half speed
        "calib_ref": 0.285,
    }
    timings = {"alpha": 1.4, "beta": 2.6}
    line = _compact_line(
        timings,
        **_compact_args(timings, prev=prev, prev_name="BENCH_r13.json", scale=0.75),
    )
    obj = json.loads(line)
    assert obj["common"] == {"n": 2, "now": 4.0, "prev": 3.0, "now_norm": 3.0, "prev_norm": 1.5}
    assert obj["queries"] == {"alpha": 1.4, "beta": 2.6}


def test_compact_line_fits_budget_for_full_head_set():
    """The whole point of the compact line is surviving the driver's
    ~2000-char tail capture — pin it against the REAL registry head set
    (queries dict + scalars must fit even if the parallel arrays drop)."""
    from hadoop_fs_ceph_spark.registry import load_all

    names = sorted(n for n, s in load_all().items() if s.bench)
    timings = {n: 12.345 for n in names}
    noise = {n: "regr" for n in names}  # worst case: 10-name regressed list
    line = _compact_line(timings, **_compact_args(timings, noise=noise))
    assert len(line) <= 1950
    obj = json.loads(line)
    assert set(obj["queries"]) == set(names)


def test_compact_line_drops_arrays_before_queries():
    """Degradation order under a tight budget: e then s go first; the
    driver-contract queries dict and scalars always survive whole."""
    timings = {f"query_name_{i:02d}": 1.0 for i in range(40)}
    args = _compact_args(timings)
    full = _compact_line(timings, **args)
    assert "s" in json.loads(full) and "e" in json.loads(full)
    base_obj = {k: v for k, v in json.loads(full).items() if k not in ("s", "e")}
    base_len = len(json.dumps(base_obj, separators=(",", ":")))
    # budget one short of the full line: e (lowest priority) must drop
    # while s stays
    line = _compact_line(timings, **args, budget=len(full) - 1)
    obj = json.loads(line)
    assert len(line) < len(full)
    assert "s" in obj and "e" not in obj
    assert set(obj["queries"]) == set(timings)
    # below even the s array: only the base survives
    line2 = _compact_line(timings, **args, budget=base_len)
    obj2 = json.loads(line2)
    assert "s" not in obj2 and "e" not in obj2
    assert set(obj2["queries"]) == set(timings)


def test_prev_per_query_parses_queries_shape():
    one = {
        "queries": {"x": 2.0},
        "s": [0.2],
        "calib_spark_sec": 0.57,
        "calib_ref": 0.285,
    }
    pq = _prev_per_query(one)
    assert pq["x"]["cold"] == 2.0 and pq["x"]["normalized"] == 1.0
    assert abs(pq["x"]["spread"] - 0.1) < 1e-9  # normalized by prev calib
    new = {
        "queries": {"x": 2.0, "y": 1.0},
        "s": [0.2, 0.4],
        "calib_spark_sec": 0.57,
        "calib_ref": 0.285,
    }
    pq = _prev_per_query(new)
    assert pq["x"]["cold"] == 2.0 and pq["x"]["normalized"] == 1.0
    assert abs(pq["x"]["spread"] - 0.1) < 1e-9
    assert abs(pq["y"]["spread"] - 0.2) < 1e-9  # parallel to sorted names


def test_noise_verdict_reads_new_shape_prev():
    prev = {
        "queries": {"steady": 2.0, "blown": 1.0},
        "s": [0.1, 0.1],
        "calib_spark_sec": 0.285,
        "calib_ref": 0.285,
        "sf": 0.1,
    }
    v = _noise_verdicts(prev, {"steady": 2.1, "blown": 3.0}, {"steady": 0.1, "blown": 0.1}, 1.0)
    assert v["steady"] == "ok" and v["blown"] == "regr"


def test_prev_round_compact_accepts_new_shape(tmp_path):
    compact = json.dumps(
        {"queries": {"q1": 1.5}, "s": [0.1], "sf": 0.1, "metric": "m"},
        separators=(",", ":"),
    )
    (tmp_path / "BENCH_r13.json").write_text(
        json.dumps({"sf": 0.1, "tail": "noise\n" + compact + "\n"})
    )
    obj, name = _prev_round_compact(str(tmp_path), 0.1)
    assert name == "BENCH_r13.json" and obj["queries"]["q1"] == 1.5


def test_prev_round_compact_reads_the_checked_in_r13_artifact():
    """The newest sf0.1 artifact in the repo carries the compact line the
    parser reads: a queries dict with its parallel spread array."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    obj, name = _prev_round_compact(repo, 0.1)
    assert int(name[len("BENCH_r"):-len(".json")]) >= 13
    pq = _prev_per_query(obj)
    assert len(pq) == len(obj["queries"]) == len(obj["s"]) > 0
    assert all(row["cold"] > 0 for row in pq.values())


def test_prev_round_compact_sorts_rounds_numerically(tmp_path):
    """Round-12 (ADVICE r11): artifact recency is the ROUND NUMBER, not
    the filename string — 'BENCH_r100.json' must beat 'BENCH_r99.json'
    even though it sorts lower lexicographically, and an unpadded
    'BENCH_r9.json' must lose to both."""
    (tmp_path / "BENCH_r9.json").write_text(
        json.dumps(_artifact(0.1, {"q1": (9.0, 0.1)}))
    )
    (tmp_path / "BENCH_r99.json").write_text(
        json.dumps(_artifact(0.1, {"q1": (2.0, 0.1)}))
    )
    (tmp_path / "BENCH_r100.json").write_text(
        json.dumps(_artifact(0.1, {"q1": (1.0, 0.1)}))
    )
    obj, name = _prev_round_compact(str(tmp_path), 0.1)
    assert name == "BENCH_r100.json"
    assert obj["queries"]["q1"] == 1.0
