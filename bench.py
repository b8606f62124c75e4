"""Headline bench: run the bench-tagged declared queries at $SPARK_GRAFT_SF_DIR.

``python bench.py`` prints one JSON line, the driver-contract line
(``_compact_line``):
  {"metric": "...", "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Every mode, and ``tools/time_heads.py``, times queries through one run path:
``run`` builds a head's DataFrame, writes it to the no-op sink (full
execution, no driver collection, so timings measure the distributed plan,
not toPandas) and records ``fn_s`` + ``action_s`` with the
``perfbench.probes.StageCounters`` of exactly that run; ``suite`` runs one
cold pass over a head set. Each mode starts from ``session`` and warms up
with ``warm_up``; conf overrides go through the engine's ``session.confs``.

The compact line carries a NOISE-AWARE verdict against the previous round:
its per-query cold walls and spreads are read back from the newest same-SF
BENCH_r*.json artifact, and every query gets a code in ``noise`` (inside
combined noise, slower or faster beyond it, or new), so a regression claim
cites both rounds' measured spreads instead of a hand-eyeballed diff.

``python bench.py --rehearsal`` runs the CLUSTER-SHAPE rehearsal: the
whole headline suite again with ``autoBroadcastJoinThreshold=-1``
(auto-broadcasts off; explicit ``broadcast()`` hints, which are design
decisions, stay honored) and ``shuffle.partitions=200``, the planner
posture of a 1000-executor cluster. Each query's row count and content
hash must match the default-config run, and the wall-clock ratio is
reported (a plan that silently depended on a tiny-scale auto-broadcast
shows up as a blow-up here). Results splice into ``SCALE.md``.

``python bench.py --soak`` runs the measured-scaling soak: it builds an
sf×1 and an sf×N dataset the same way (N = $SPARK_GRAFT_SOAK_REPLICAS,
default 10; ×100 ≈ sf10 is the deep tier, see ``_build_soak_tables``), so
the two differ in scale alone, runs every headline query at BOTH scales
(two passes each, alternating 1x, Nx, 1x, Nx) recording wall-clock and
shuffle read/write bytes, and splices the
per-query table into ``SCALE.md``'s SOAK{N} section.

``python bench.py --skew`` runs the HOT-KEY rehearsal: the headline suite
on a planted-skew variant of the data (one whale customer owns 25% of
orders, one part/supplier on 20% of lineitems, one user emits 20% of
events, one ORDER owns ~10% of lineitem lines; row counts and FK join
fan-outs unchanged) at the cluster shape, with AQE's skew-split threshold
lowered so the rewrite fires at test scale. Two gates per query: the
skew-split rewrite must not change the answer (content hash, skewJoin on
vs off), and the wall-clock ratio vs the uniform data must stay bounded.
Results splice into ``SCALE.md``'s SKEW section.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.registry import load_all
from hadoop_fs_ceph_spark.session import _cpus, confs, get_spark
from hadoop_fs_ceph_spark.tables import DEFAULT_SF_DIR
from perfbench.probes import StageCounters, StageProbe


@dataclass
class Run:
    """One measured execution of a query head. ``fn_s`` is the time spent
    inside ``spec.fn()`` (eager barriers, streaming drains, driver
    scalars), ``action_s`` the final noop-sink write, and ``stages`` the
    counters of exactly the Spark jobs and stages those two spans ran.
    ``content`` is the result's (rows, hash) when a suite asks for it."""

    fn_s: float
    action_s: float
    stages: StageCounters
    content: tuple[int, int] | None = None

    @property
    def wall(self) -> float:
        return self.fn_s + self.action_s


# One probe per SparkContext: each run takes it before and after, so runs
# from any caller share it without seeing each other's stages.
_PROBES: dict = {}


def run(spark, spec, sf_dir: str) -> Run:
    """Build ``spec``'s DataFrame and write it to the noop sink, timing the
    two steps. The session's probe is taken just before and just after, so
    the counters hold this run's stages only, whatever ran in between."""
    sc = spark.sparkContext
    if sc not in _PROBES:
        _PROBES[sc] = StageProbe(spark)
    probe = _PROBES[sc]
    probe.take()
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return Run(t1 - t0, t2 - t1, probe.take())


def suite(spark, specs: dict, sf_dir: str, *, content_hash: bool = False, head_conf=None):
    """One cold pass: ``run`` each head of ``specs`` in order and yield
    ``(name, Run)``. ``content_hash`` adds each result's (rows, hash);
    ``head_conf`` maps a head to conf overrides held for its run and hash.
    Persisted intermediates are dropped when the caller's loop body is done
    (so a warm re-run placed there still finds them), also if a head raises."""
    for name, spec in specs.items():
        try:
            with confs(spark, (head_conf or {}).get(name, {})):
                rec = run(spark, spec, sf_dir)
                if content_hash:
                    rec.content = _content_hash(spec.fn(spark, sf_dir))
            yield name, rec
        finally:
            spark.catalog.clearCache()


def session(app: str, *, bench_only: bool = True, driver_memory: str = "24g", extra_conf=None):
    """What every mode starts from: the data dir ($SPARK_GRAFT_SF_DIR), the
    registry sorted by name (bench heads only unless told otherwise) and a
    quiet session."""
    specs = {n: s for n, s in sorted(load_all().items()) if s.bench or not bench_only}
    spark = get_spark(app, driver_memory=driver_memory, extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, DEFAULT_SF_DIR, specs


def warm_up(spark, specs: dict, sf_dir: str) -> float:
    """Build ``sf_dir``'s owned layouts, then run the first head of
    ``specs`` once so timed runs measure plans, not JVM warm-up, first file
    listings and first-time codegen. Returns the layout build seconds."""
    layout_sec = _prebuild_layouts(spark, sf_dir)
    run(spark, next(iter(specs.values())), sf_dir)
    spark.catalog.clearCache()
    return layout_sec


def _prev_round_compact(repo_dir: str, sf) -> tuple[dict | None, str | None]:
    """The newest BENCH_r*.json's compact tail line (same SF), parsed.

    The driver records each round's bench stdout tail; the final compact
    line is a complete JSON object with a ``queries`` dict of cold walls
    and a parallel ``s`` spread array. Loading the previous round's line
    lets THIS run attach a per-query noise verdict (is the normalized
    round-over-round delta inside the two rounds' combined spread?)."""
    import glob

    def _round_no(p: str) -> int:
        # Numeric, not lexicographic: 'BENCH_r100.json' must sort after
        # 'BENCH_r99.json' even though it compares lower as a string.
        m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1

    for path in sorted(
        glob.glob(os.path.join(repo_dir, "BENCH_r*.json")),
        key=_round_no,
        reverse=True,
    ):
        try:
            art = json.load(open(path))
        except (OSError, ValueError):
            continue
        if art.get("sf") != sf:
            continue
        for line in reversed((art.get("tail") or "").strip().splitlines()):
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            # older tails (BENCH_r05-r08) also hold a verbose line with
            # "queries" and "calib_probes"; adopting it would zero every
            # previous spread
            if "queries" in obj and "calib_probes" not in obj:
                return obj, os.path.basename(path)
    return None, None


def _prev_per_query(prev: dict | None) -> dict[str, dict[str, float]]:
    """Per-query {cold, normalized, spread} from a previous round's compact
    line: its ``queries`` dict with the parallel ``s`` spread array in
    sorted-name order. Values and spreads are normalized to the reference
    host so tolerance composition is calibration-consistent."""
    if not prev or "queries" not in prev:
        return {}
    pscale = prev.get("calib_ref", 0.285) / max(
        prev.get("calib_spark_sec", 0.285), 1e-9
    )
    s = prev.get("s") or []
    out: dict[str, dict[str, float]] = {}
    for i, n in enumerate(sorted(prev["queries"])):
        cold = prev["queries"][n]
        out[n] = {
            "cold": cold,
            "normalized": cold * pscale,
            "spread": (s[i] if i < len(s) else 0.0) * pscale,
        }
    return out


def _noise_verdicts(
    prev: dict | None, timings: dict, spread: dict, scale: float
) -> dict[str, str]:
    """Per-query noise verdict vs the previous round's compact record:
    'ok' (delta inside combined spread + slack), 'regr'/'impr' (outside,
    slower/faster), 'new' (no previous observation). Tolerance = both
    rounds' normalized spreads + max(0.15 s, 20% of the previous value) —
    the absolute floor covers scheduling jitter on sub-second heads, the
    relative slack covers the documented single-scalar calibration
    undercorrection on cross-host rounds (VERDICT r10 'what's missing'
    #5: like-for-like drift ~1.18x read as uniform host noise)."""
    pq = _prev_per_query(prev)
    if not pq:
        return {n: "new" for n in timings}
    out = {}
    for n in timings:
        row = pq.get(n)
        if not row:
            out[n] = "new"
            continue
        p_norm = row["normalized"]
        p_spread = row["spread"]
        delta = timings[n] * scale - p_norm
        tol = spread[n] * scale + p_spread + max(0.15, 0.2 * p_norm)
        out[n] = "ok" if abs(delta) <= tol else ("regr" if delta > 0 else "impr")
    return out


def _compact_line(
    timings: dict,
    warm: dict,
    spread: dict,
    exec_sec: dict,
    noise: dict,
    scale: float,
    prev: dict | None,
    prev_name: str | None,
    sf,
    passes: int,
    calib_spark: float,
    layout_build_sec: float,
    budget: int = 1950,
) -> str:
    """The FINAL compact JSON line.

    The driver's BENCH artifact preserves only the last ~2000 characters
    of stdout and its PERF comparator reads a plain ``{"queries": {name:
    cold_sec}}`` dict. This line therefore leads with that driver-contract
    ``queries`` dict (1-decimal cold seconds) plus:

    * ``common`` — like-for-like subtotal over the heads present in BOTH
      this round and the previous artifact (VERDICT r12 item 2: a head-set
      change must never masquerade as a total regression; ``value`` keeps
      the full-set total), raw (``now``/``prev``) and calibration-
      normalized (``now_norm``/``prev_norm``).
    * ``s`` — per-query cold spreads, parallel to ``sorted(queries)``
      (feeds the next round's noise verdict).
    * ``e`` — per-query executor task-time (whole seconds, pass-1 cold,
      from the run's ``StageCounters``; VERDICT r12 item 6: attributes a flat
      low-core wall to fixed cost vs serial plans — a compute-bound head
      shows e >> wall shrinkage, a fixed-cost head shows e ≈ 0).

    Parallel arrays are dropped (``e`` first, then ``s``) if the line
    would exceed the tail-capture budget; ``queries`` and the scalars
    always survive whole."""
    names = sorted(timings)
    pq = _prev_per_query(prev)
    common_names = [n for n in names if n in pq]
    base = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "passes": passes,
        "queries": {n: round(timings[n], 1) for n in names},
        "noise": {
            "prev": prev_name,
            # capped at 10 names so a pathological round can't push the
            # compact line past the driver's tail capture
            "regressed": sorted(n for n, v in noise.items() if v == "regr")[:10],
            "improved": sum(v == "impr" for v in noise.values()),
            "new": sum(v == "new" for v in noise.values()),
        },
        "common": {
            "n": len(common_names),
            "now": round(sum(timings[n] for n in common_names), 2),
            "prev": round(sum(pq[n]["cold"] for n in common_names), 2),
            # the same pair in reference-host seconds, as the noise verdict
            # compares them, so host drift does not read as a regression
            "now_norm": round(sum(timings[n] for n in common_names) * scale, 2),
            "prev_norm": round(sum(pq[n]["normalized"] for n in common_names), 2),
        },
        "total_warm": round(sum(warm.values()), 3),
        "calib_spark_sec": calib_spark,
        "calib_ref": 0.285,
        "layout_build_sec": layout_build_sec,
        "layouts": list(_OWNED_LAYOUTS),
        "total_normalized": round(sum(timings.values()) * scale, 3),
        "total_warm_normalized": round(sum(warm.values()) * scale, 3),
    }
    extras = [
        ("s", [round(spread[n], 1) for n in names]),
        ("e", [int(round(exec_sec.get(n, 0.0))) for n in names]),
    ]
    best = json.dumps(base, separators=(",", ":"))
    for key, arr in extras:
        cand = json.dumps({**base, key: arr}, separators=(",", ":"))
        if len(cand) <= budget:
            base[key] = arr
            best = cand
    return best


# Every owned layout built outside the timed region MUST be named here —
# the compact line publishes the list (round-13, VERDICT r12 "what's
# wrong" #2: `value` excludes layout_build_sec, so any NEW prebuilt layout
# has to be visible in the artifact, not discovered from a diff).
_OWNED_LAYOUTS = ("q14_bucketed",)


def _prebuild_layouts(spark, sf_dir: str) -> float:
    """Build owned-layout generations (the Q14 co-bucketed fact twin)
    OUTSIDE the timing loops, once per (session, data dir) — round-12,
    VERDICT r11 "what's wrong" #1: a layout rebuild inside a query head
    conflates ETL with the query, masks query regressions behind write
    noise, and can't be compared against the plain-layout twin. Returns
    the build seconds (0.0 when the session already holds the layout);
    the default suite reports it as ``layout_build_sec`` and names the
    layouts in the compact line (``_OWNED_LAYOUTS``)."""
    from hadoop_fs_ceph_spark.operators.tpcds import ensure_q14_layout

    _, sec = ensure_q14_layout(spark, sf_dir)
    return round(sec, 3)


def main() -> None:
    spark, sf_dir, bench_specs = session("bench")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    layout_build_sec = warm_up(spark, bench_specs, sf_dir)

    # Host-speed calibration probe (calib_spark_sec: a fixed 32-partition
    # JVM aggregate, parallel throughput incl. the codegen path), reported
    # with the timings so cross-round comparisons can normalize for
    # container/CPU variance: round-to-round runs land on different hosts,
    # and a 1.5-2x per-core frequency difference otherwise reads as a code
    # regression.
    def _calibrate() -> float:
        start = time.perf_counter()
        spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 % 7)").collect()
        return round(time.perf_counter() - start, 3)

    calibs = [_calibrate()]

    # Best-of-3 per query, as three INTERLEAVED full passes (VERDICT r8
    # item 1: error bars): the first pass pays one-time whole-stage-codegen
    # + JIT compilation (~1s for the widest expression trees), which at
    # 100 TB amortizes to nothing — steady-state execution is the
    # throughput being measured. Interleaving matters on these hosts:
    # contention arrives in multi-second bursts (observed 40% total swings,
    # single queries 5x), so back-to-back repeats of one query all land in
    # the same burst, while passes separated by the full suite length give
    # every query ~3 independent draws against the burst process.
    # Two tiers per query:
    # * COLD (the headline `queries` dict): every run starts with a cleared
    #   SQL cache, so operators that persist() intermediates pay their full
    #   pipeline — the number a first execution at 100 TB pays.
    # * WARM (`total_warm`): an immediate re-run with the persisted
    #   intermediates still cached — the steady-state of a pipeline that
    #   keeps its signature/gram tables materialized, and the semantics
    #   earlier BENCH_r* rounds effectively reported (min of back-to-back
    #   runs reused the cache), kept for series continuity.
    # Per-query SPREAD (max−min over the draws EXCLUDING pass 1, which
    # pays the one-time JIT/codegen cost and would conflate warmup with
    # noise) is reported so a round-over-round delta can be judged against
    # the measurement noise: a ±15% drift INSIDE the spread is host
    # contention, outside it is a plan regression — the distinction
    # BENCH_r8 could not make.
    _PASSES = 3
    cold_samples: dict[str, list[float]] = {n: [] for n in bench_specs}
    warm_samples: dict[str, list[float]] = {n: [] for n in bench_specs}
    exec_sec: dict[str, float] = {}
    for _pass in range(_PASSES):
        if _pass:
            calibs.append(_calibrate())  # mid-suite probes, interleaved
        for name, cold in suite(spark, bench_specs, sf_dir):
            cold_samples[name].append(cold.wall)
            if _pass == 0:
                exec_sec[name] = round(cold.stages.exec_run_s, 1)
            warm_samples[name].append(run(spark, bench_specs[name], sf_dir).wall)
    timings = {n: round(min(v), 3) for n, v in cold_samples.items()}
    warm = {n: round(min(v), 3) for n, v in warm_samples.items()}
    spread = {
        n: round(max(v[1:]) - min(v[1:]), 3) for n, v in cold_samples.items()
    }

    calibs.append(_calibrate())
    # Normalization: 4 interleaved probes (pre / between passes / post),
    # MEDIAN spark-calib — min undersells sustained contention, mean is
    # hostage to one burst. calib_ref pins the round-3 host (0.285 s) so
    # normalized numbers are comparable across rounds: they are what this
    # suite would have clocked on the r3 reference host; the noise verdict
    # and the "common" subtotal compare rounds in those units.
    calib_ref = 0.285
    calib_spark = sorted(calibs)[len(calibs) // 2]
    scale = calib_ref / calib_spark
    prev, prev_name = _prev_round_compact(
        os.path.dirname(os.path.abspath(__file__)), sf
    )
    noise = _noise_verdicts(prev, timings, spread, scale)
    # The one stdout line: see _compact_line (round-13 driver-contract
    # shape — a plain "queries" dict the driver's PERF comparator parses,
    # plus the like-for-like "common" subtotal and per-query spread /
    # executor-task-time arrays while they fit the tail-capture budget).
    print(
        _compact_line(
            timings,
            warm,
            spread,
            exec_sec,
            noise,
            scale,
            prev,
            prev_name,
            sf,
            _PASSES,
            calib_spark,
            layout_build_sec,
        )
    )


def _splice_scale_section(marker: str, md_lines: list[str]) -> None:
    """Splice a generated section into SCALE.md between
    ``<!-- {marker}:BEGIN/END -->`` markers, keeping the hand-written
    plan-audit prose around it intact (appended at EOF on first run)."""
    begin, end = f"<!-- {marker}:BEGIN -->", f"<!-- {marker}:END -->"
    section = begin + "\n" + "\n".join(md_lines) + "\n" + end
    scale_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALE.md")
    text = open(scale_path).read() if os.path.exists(scale_path) else ""
    if begin in text and end in text:
        head, rest = text.split(begin, 1)
        _, tail = rest.split(end, 1)
        text = head + section + tail
    else:
        text = text.rstrip() + "\n\n" + section + "\n"
    with open(scale_path, "w") as fh:
        fh.write(text)


# ---------------------------------------------------------------------------
# --soak: measured scaling over one decade (sf0.1 -> sf1-equivalent)
# ---------------------------------------------------------------------------

# Key columns shifted per replica so referential integrity holds WITHIN each
# replica (both sides of every FK shift by the same offset) while replicas
# never join to each other — exactly how TPC-H data itself scales (dims
# region/nation stay fixed; everything else grows linearly with SF).
_SOAK_KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_SOAK_DIMS = ["region", "nation"]
_SOAK_OFFSET = 10**12  # per-replica key shift, far above any real key


def _build_soak_tables(spark, src_dir: str, dst_dir: str, replicas: int) -> None:
    """Materialize an sf×replicas dataset with CONSTANT duplicate density.

    Naive ×N replication of `documents`/`embeddings` would plant each
    near-dup group N times verbatim — pair counts then grow O(N²) by data
    construction and every dedup query reads as superlinear no matter how
    good its plan is. Real corpora don't scale like that (dup density is
    roughly constant), so each replica decorrelates content while
    preserving within-replica geometry exactly:

    * documents.text: per-replica character rotation (``translate`` over
      'a'..'t') — within a replica every dup/shingle relationship is
      isomorphic to the original; across replicas shingles disagree.
    * embeddings.embedding: per-replica diag(±1) sign flip
      (``hash(i, r) % 2``) — an ORTHOGONAL transform, so all
      within-replica inner products/cosines are bit-preserved; across
      replicas cosines decay to noise. n_chars/langs/labels unchanged.
    """
    import pyspark.sql.functions as F

    for name in _SOAK_DIMS:
        spark.read.parquet(f"{src_dir}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst_dir}/{name}.parquet")
    # Two DISJOINT rotation groups compose to 20x6 = 120 distinct character
    # maps — a single 20-char rotation cycles at r=10 (2r mod 20), which
    # would hand replicas 10/20/... identical text and reintroduce the
    # O(N^2) duplicate blowup for deep soaks (replicas up to 120 are safe).
    alpha = "abcdefghijklmnopqrst"
    beta = "uvwxyz"
    for name, keys in _SOAK_KEY_COLS.items():
        base = spark.read.parquet(f"{src_dir}/{name}.parquet")
        parts = []
        for r in range(replicas):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(r * _SOAK_OFFSET))
            if name == "documents" and r:
                r1, r2 = r % 20, (r // 20) % 6
                rot1 = alpha[r1:] + alpha[:r1]
                rot2 = beta[r2:] + beta[:r2]
                rep = rep.withColumn(
                    "text", F.translate("text", alpha + beta, rot1 + rot2)
                )
            if name == "embeddings" and r:
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, i) -> "
                        f"x * cast(1 - 2 * pmod(hash(i, {r}), 2) as float))"
                    ),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{dst_dir}/{name}.parquet")


def soak_labels(base_dir: str, replicas: int) -> tuple[str, str]:
    """Names of the soak's two tiers: the data dir's basename (``sf0.01``)
    and, for a ``sf<scale>`` name, the scale its replicas add up to
    (``sf0.02-equivalent`` at 2 replicas)."""
    small = os.path.basename(os.path.normpath(base_dir))
    m = re.fullmatch(r"sf(\d+(?:\.\d+)?)", small)
    if m is None:
        return small, f"{small} x{replicas}"
    return small, f"sf{float(m.group(1)) * replicas:g}-equivalent"


def soak_header(base_dir: str, replicas: int, cores: int, build_sec: float) -> list[str]:
    """The SCALE.md soak section down to its table header, labelled with
    the data dir's scale and the ``local[cores]`` master the run used."""
    small, big = soak_labels(base_dir, replicas)
    return [
        f"## Measured soak: {small} -> {replicas}x ({big})",
        "",
        f"Data: `{base_dir}` × {replicas} replicas, re-keyed per replica "
        f"(`bench.py::_build_soak_tables` — referential integrity holds within "
        f"each replica; documents/embeddings are content-decorrelated across "
        f"replicas so duplicate DENSITY stays constant, which is how real "
        f"corpora scale; build took {build_sec}s). The {small} tier is the same "
        f"builder at 1 replica, so both tiers share a file layout. Every "
        f"headline query ran at both scales on the same session "
        f"(local[{cores}], tiers timed alternately 1x, {replicas}x, 1x, "
        f"{replicas}x, min wall of each tier's 2 passes; shuffle bytes diffed "
        f"from the Spark AppStatusStore around each tier's first pass).",
        "",
        "Verdict `linear` = wall-clock ratio <= replicas × 1.5 (slack for "
        "host-contention bursts) or big-scale wall < 2 s (fixed scheduling "
        "cost dominates). A `SUPERLINEAR` row means the plan does NOT "
        "survive the decade and must be fixed.",
        "",
        f"| query | wall {small} (s) | wall {big} (s) | ratio | shufW {small} | "
        f"shufW {big} | shufW ratio | verdict |",
        "|---|---|---|---|---|---|---|---|",
    ]


def soak_main() -> None:
    spark, base_dir, bench_specs = session("bench-soak", driver_memory="48g")
    replicas = int(os.environ.get("SPARK_GRAFT_SOAK_REPLICAS", "10"))
    small_dir, soak_dir = scratch.fresh("soak1"), scratch.fresh("soak")
    # the 1x tier goes through the same builder as the Nx tier, so the
    # two share a file layout and the wall ratio measures scale alone
    _build_soak_tables(spark, base_dir, small_dir, 1)
    t0 = time.perf_counter()
    _build_soak_tables(spark, base_dir, soak_dir, replicas)
    build_sec = round(time.perf_counter() - t0, 1)

    # owned layouts are built once per data dir, outside the timed
    # passes (a deployment pays them per generation)
    warm_up(spark, bench_specs, small_dir)
    _prebuild_layouts(spark, soak_dir)
    # tiers alternate (1x, Nx, 1x, Nx) and each keeps the min wall of
    # its two passes, so neither tier owns the session's cold start and
    # a host-contention burst hits one pass, not one tier; shuffle bytes
    # come from each tier's first pass (they are deterministic)
    passes: dict[str, list[dict]] = {small_dir: [], soak_dir: []}
    for _ in range(2):
        for sf_dir in (small_dir, soak_dir):
            passes[sf_dir].append(dict(suite(spark, bench_specs, sf_dir)))

    def tier(sf_dir: str) -> dict[str, dict[str, float]]:
        first, second = passes[sf_dir]
        return {
            n: {
                "wall": round(min(first[n].wall, second[n].wall), 3),
                "shuffle_write": first[n].stages.shuffle_write_bytes,
                "shuffle_read": first[n].stages.shuffle_read_bytes,
            }
            for n in bench_specs
        }

    small, big = tier(small_dir), tier(soak_dir)

    rows = []
    for name in bench_specs:
        s, b = small[name], big[name]
        wall_ratio = b["wall"] / s["wall"] if s["wall"] else float("inf")
        sw_ratio = (
            b["shuffle_write"] / s["shuffle_write"] if s["shuffle_write"] else None
        )
        # linear-decade verdict: wall must grow at most ~data×slack; tiny
        # queries are dominated by fixed scheduling cost, so also accept
        # anything that stays under 2s at the big scale outright
        ok = wall_ratio <= replicas * 1.5 or b["wall"] < 2.0
        rows.append((name, s, b, wall_ratio, sw_ratio, ok))

    md = soak_header(base_dir, replicas, _cpus(), build_sec)
    small_label, big_label = soak_labels(base_dir, replicas)

    def _mb(n: float) -> str:
        return f"{n / 1048576:.1f} MiB" if n >= 1048576 else f"{n / 1024:.0f} KiB"

    for name, s, b, wall_ratio, sw_ratio, ok in rows:
        # displayed ratio computed from the SAME rounded walls shown in the
        # row (ADVICE r12: a ratio from unrounded walls can disagree with
        # the two numbers beside it); the linear-gate verdict keeps the
        # unrounded ratio
        disp_ratio = round(b["wall"], 2) / max(round(s["wall"], 2), 1e-9)
        md.append(
            f"| {name} | {s['wall']:.2f} | {b['wall']:.2f} | "
            f"{disp_ratio:.1f}x | {_mb(s['shuffle_write'])} | "
            f"{_mb(b['shuffle_write'])} | "
            f"{'-' if sw_ratio is None else f'{sw_ratio:.1f}x'} | "
            f"{'linear' if ok else '**SUPERLINEAR**'} |"
        )
    tot_s = sum(s["wall"] for _, s, _, _, _, _ in rows)
    tot_b = sum(b["wall"] for _, _, b, _, _, _ in rows)
    md += [
        "",
        f"**Totals:** {small_label} = {tot_s:.1f}s, {big_label} = {tot_b:.1f}s "
        f"(ratio {tot_b / tot_s:.1f}x over {replicas}x data, "
        f"{sum(1 for r in rows if not r[5])} superlinear).",
        "",
        "Shuffle-bytes ratios above the data ratio are expected only where "
        f"the {small_label} baseline was beneath broadcast/local thresholds; "
        "wall ratios are the gate.",
    ]
    _splice_scale_section(f"SOAK{replicas}", md)

    print(
        json.dumps(
            {
                "metric": "soak_decade_wall_ratio",
                "value": round(tot_b / tot_s, 3),
                "unit": "x",
                "replicas": replicas,
                "superlinear": [r[0] for r in rows if not r[5]],
                "total_small_sec": round(tot_s, 3),
                "total_big_sec": round(tot_b, 3),
            }
        )
    )


# ---------------------------------------------------------------------------
# --rehearsal: cluster-shape pass (no auto-broadcast, wide shuffles)
# ---------------------------------------------------------------------------

_REHEARSAL_CONF = {
    # kill AUTO broadcasts in both the static planner and AQE's runtime
    # re-plan; explicit broadcast() hints (bounded-by-construction dims,
    # one-row gates) remain honored — those are design, not scale luck
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # the shuffle fan-out of a real cluster, not local[32]'s cozy 32
    "spark.sql.shuffle.partitions": "200",
}


def _content_hash(df) -> tuple[int, int]:
    """(row_count, order-independent content hash) of a result — doubles
    rounded to 6 digits first so a partition-count change can never flip
    a ulp into a false alarm; bit_xor of per-row xxhash64 is insensitive
    to row order, which legitimately differs across shuffle widths."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 6)
        cols.append(c.alias(f.name))
    row = (
        df.select(*cols)
        .select(F.to_json(F.struct(*[f.name for f in df.schema.fields])).alias("j"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(j))").alias("h"),
        )
        .collect()[0]
    )
    return int(row["n"]), int(row["h"] or 0)


def _sched_probe(spark) -> float:
    """Fixed-shape 1-exchange aggregate on trivial data: its wall under a
    given shuffle-partition count is ~pure task-dispatch overhead. The
    rehearsal gate uses (probe_rehearsal − probe_baseline) × exchanges as
    the allowance for fan-out cost that amortizes to nothing at real
    scale — 200 partitions of 3k rows each is scheduling, not work."""
    import pyspark.sql.functions as F

    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        (
            spark.range(0, 2_000_000, 1, 32)
            .groupBy((F.col("id") % 10_000).alias("k"))
            .agg(F.sum("id").alias("s"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        best = min(best, time.perf_counter() - start)
    return best


def rehearsal_main() -> None:
    spark, sf_dir, bench_specs = session("bench-rehearsal")
    # warm once so the baseline and rehearsal passes compare steady-state
    # plans, not JIT noise
    warm_up(spark, bench_specs, sf_dir)

    # a STREAMING query's state-partition count is frozen into its
    # checkpoint at first start — production never re-plans it with
    # cluster width (changing it means a full state rebuild), so the
    # 200-partition posture is a BATCH-planner rehearsal only. Streaming
    # heads keep the deployment's state width (the session default)
    # while still running under the no-auto-broadcast posture (their
    # stream-static joins must survive it).
    stream_pin = {"spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions")}
    pins = {n: stream_pin for n, s in bench_specs.items() if "streaming" in s.tags}

    def run_suite() -> dict[str, Run]:
        return dict(suite(spark, bench_specs, sf_dir, content_hash=True, head_conf=pins))

    probe_base = _sched_probe(spark)
    base = run_suite()
    with confs(spark, _REHEARSAL_CONF):
        probe_reh = _sched_probe(spark)
        reh = run_suite()
    base2 = run_suite()  # bracket host drift: compare vs best baseline

    # per-exchange fan-out overhead measured ON THIS HOST, ×4 for the
    # widest headline plans (3-4 wide exchanges). At sf0.1 a 200-partition
    # exchange moves ~3k rows per task — the delta is task dispatch, which
    # a real cluster amortizes across executors; without subtracting it
    # every sub-second multi-join reads as a fake "collapse"
    allowance = 4.0 * max(0.05, probe_reh - probe_base)

    rows, bad = [], []
    for name in bench_specs:
        b = min(base[name].wall, base2[name].wall)
        r = reh[name].wall
        same = base[name].content == reh[name].content == base2[name].content
        ratio = r / b if b else float("inf")
        # a no-broadcast pass legitimately pays SMJ + wider shuffles; the
        # gate catches plans that COLLAPSE without the tiny-scale
        # broadcast (slowdown beyond SMJ-cost + measured scheduling
        # allowance), or answers that change with planner posture (the
        # real correctness claim)
        ok = same and (ratio <= 3.0 or r - b <= 1.0 + allowance)
        rows.append((name, b, r, ratio, same, ok))
        if not ok:
            bad.append(name)

    md = [
        "## Cluster-shape rehearsal: no auto-broadcast, 200 shuffle partitions",
        "",
        f"Data: `{sf_dir}`. Same session, three suite passes: baseline → "
        "rehearsal (`autoBroadcastJoinThreshold=-1` static AND adaptive, "
        "`shuffle.partitions=200`) → baseline again (drift bracket; the "
        "reported baseline is the per-query min of the two). Explicit "
        "`broadcast()` hints stay honored — they are design decisions; the "
        "pass proves no headline plan silently depends on a tiny-scale "
        "AUTO-broadcast. `content` = row count + order-independent hash "
        "(doubles rounded to 6) equal across all three passes. Scheduling "
        f"allowance: a fixed 1-exchange probe measured {probe_base:.2f}s at "
        f"baseline vs {probe_reh:.2f}s at 200 partitions — per-query verdict "
        f"grants ratio ≤ 3 OR absolute delta ≤ 1.0s + 4×probe-delta "
        f"(= {1.0 + allowance:.2f}s): 200-partition task dispatch on ~3k-row "
        "partitions is overhead a real cluster amortizes, not plan collapse. "
        "STREAMING heads run the rehearsal pass with their STATE width "
        "pinned at the deployment constant (the session default) — a "
        "streaming job's state-partition count is frozen into its "
        "checkpoint at first start and production never re-plans it with "
        "cluster width (changing it is a full state rebuild), so only the "
        "no-auto-broadcast posture applies to them (their stream-static "
        "joins must survive it; measured here: one store-lifecycle per "
        "partition ×2 stateful ops made the 200-partition form 5× pure "
        "fixed cost on local[32]'s serialized store opens).",
        "",
        "| query | baseline (s) | rehearsal (s) | ratio | content | verdict |",
        "|---|---|---|---|---|---|",
    ]
    for name, b, r, ratio, same, ok in rows:
        md.append(
            f"| {name} | {b:.2f} | {r:.2f} | {ratio:.2f}x | "
            f"{'same' if same else '**DIFFERS**'} | "
            f"{'ok' if ok else '**FAIL**'} |"
        )
    tot_b = sum(r[1] for r in rows)
    tot_r = sum(r[2] for r in rows)
    md += [
        "",
        f"**Totals:** baseline = {tot_b:.1f}s, rehearsal = {tot_r:.1f}s "
        f"(ratio {tot_r / tot_b:.2f}x), {len(bad)} failing.",
    ]
    _splice_scale_section("REHEARSAL", md)

    print(
        json.dumps(
            {
                "metric": "rehearsal_wall_ratio",
                "value": round(tot_r / tot_b, 3),
                "unit": "x",
                "failing": bad,
                "total_baseline_sec": round(tot_b, 3),
                "total_rehearsal_sec": round(tot_r, 3),
            }
        )
    )


# ---------------------------------------------------------------------------
# --skew: planted hot-key rehearsal (whale customer/part/supplier/user)
# ---------------------------------------------------------------------------

_SKEW_CONF = dict(_REHEARSAL_CONF)  # no auto-broadcast + 200 partitions:
# broadcasts HIDE join skew (the hot key never shuffles), so the skew pass
# must run at the cluster shape where the hash exchanges are real
_SKEW_AQE_ON = {
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # sf0.1 shuffle partitions are ~KBs-MBs; the production default
    # threshold (256 MiB) never fires at test scale, so the rehearsal
    # lowers it to let AQE's skew-split rewrite actually run — a real
    # cluster keeps the default and fires at its own partition sizes
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
}
_SKEW_AQE_OFF = {
    "spark.sql.adaptive.skewJoin.enabled": "false",
}


def _build_skew_tables(spark, src_dir: str, dst_dir: str) -> dict:
    """Materialize a HOT-KEY variant of the dataset: one whale customer
    owns 25% of orders, one hot part and one hot supplier each appear on
    20% of lineitems, one whale user emits 20% of events, and one whale
    ORDER owns ~10% of lineitem lines (round-11: a planted monster
    basket — the input that makes any uncapped per-order pair self-join
    quadratic; the basket_common cap is what keeps graph_kcore /
    ds_market_basket bounded here). Row counts and FK join fan-outs are
    UNCHANGED (every remapped FK still points at an existing unique
    parent row — each fact row still matches exactly one dim/order row);
    per-KEY group sizes are the pathology being planted. The hash gate
    is deterministic (xxhash64 of the row key), so the build is
    reproducible bit-for-bit."""
    import pyspark.sql.functions as F

    hot = {}
    for name, key in (("customer", "c_custkey"), ("part", "p_partkey"),
                      ("supplier", "s_suppkey")):
        hot[key] = (
            spark.read.parquet(f"{src_dir}/{name}.parquet")
            .agg(F.min(key)).collect()[0][0]
        )
    for name in ("region", "nation", "customer", "supplier", "part",
                 "documents", "embeddings"):
        spark.read.parquet(f"{src_dir}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst_dir}/{name}.parquet")
    o = spark.read.parquet(f"{src_dir}/orders.parquet")
    o.withColumn(
        "o_custkey",
        F.when(
            F.pmod(F.xxhash64("o_orderkey"), F.lit(4)) == 0,
            F.lit(hot["c_custkey"]),
        ).otherwise(F.col("o_custkey")),
    ).write.mode("overwrite").parquet(f"{dst_dir}/orders.parquet")
    li = spark.read.parquet(f"{src_dir}/lineitem.parquet")
    hot["l_orderkey"] = li.agg(F.min("l_orderkey")).collect()[0][0]
    row_h = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(5))
    # independent gate (extra literal seed) so the whale-basket remap is
    # uncorrelated with the hot-part/supplier remap above
    basket_h = F.pmod(
        F.xxhash64(F.lit("whale-basket"), "l_orderkey", "l_linenumber"),
        F.lit(10),
    )
    li.withColumn(
        "l_partkey",
        F.when(row_h == 0, F.lit(hot["p_partkey"])).otherwise(F.col("l_partkey")),
    ).withColumn(
        "l_suppkey",
        F.when(row_h == 1, F.lit(hot["s_suppkey"])).otherwise(F.col("l_suppkey")),
    ).withColumn(
        "l_orderkey",
        F.when(basket_h == 0, F.lit(hot["l_orderkey"])).otherwise(
            F.col("l_orderkey")
        ),
    ).write.mode("overwrite").parquet(f"{dst_dir}/lineitem.parquet")
    e = spark.read.parquet(f"{src_dir}/events.parquet")
    hot_user = e.agg(F.min("user_id")).collect()[0][0]
    e.withColumn(
        "user_id",
        F.when(
            F.pmod(F.xxhash64("event_id"), F.lit(5)) == 0, F.lit(hot_user)
        ).otherwise(F.col("user_id")),
    ).write.mode("overwrite").parquet(f"{dst_dir}/events.parquet")
    hot["user_id"] = hot_user
    return hot


def skew_main() -> None:
    spark, sf_dir, bench_specs = session("bench-skew")
    skew_dir = scratch.fresh("skew")
    t0 = time.perf_counter()
    hot = _build_skew_tables(spark, sf_dir, skew_dir)
    build_sec = round(time.perf_counter() - t0, 1)

    def run_suite(data_dir: str, with_hash: bool) -> dict[str, Run]:
        # owned layouts built once per data dir, outside the timing
        _prebuild_layouts(spark, data_dir)
        return dict(suite(spark, bench_specs, data_dir, content_hash=with_hash))

    # warm codegen once, then run every suite at the cluster shape
    warm_up(spark, bench_specs, sf_dir)
    with confs(spark, {**_SKEW_CONF, **_SKEW_AQE_ON}):
        uniform = run_suite(sf_dir, with_hash=False)
        skew_on = run_suite(skew_dir, with_hash=True)
        with confs(spark, _SKEW_AQE_OFF):
            skew_off = run_suite(skew_dir, with_hash=True)
        # drift bracket re-runs uniform under the SAME conf as the
        # first uniform pass (skew-split back on), so the per-query
        # min() compares like with like
        uniform2 = run_suite(sf_dir, with_hash=False)

    rows, bad = [], []
    for name in bench_specs:
        u = min(uniform[name].wall, uniform2[name].wall)
        s_on, s_off = skew_on[name], skew_off[name]
        ratio = s_on.wall / u if u else float("inf")
        same = s_on.content == s_off.content
        # gate: planted whales may legitimately cost one oversized task,
        # but must not collapse the plan (ratio) and the AQE skew-split
        # rewrite must never change the answer (content)
        ok = same and (ratio <= 2.5 or s_on.wall - u <= 1.0)
        rows.append((name, u, s_on.wall, s_off.wall, ratio, same, ok))
        if not ok:
            bad.append(name)

    md = [
        "## Skew rehearsal: planted hot keys at the cluster shape",
        "",
        f"Data: `{sf_dir}` remapped so ONE customer owns 25% of orders, one "
        "part and one supplier each sit on 20% of lineitems, one user emits "
        "20% of events, and one ORDER owns ~10% of lineitem lines — a "
        "monster basket that makes any uncapped per-order pair self-join "
        "quadratic (`bench.py::_build_skew_tables`; row counts and FK join "
        f"fan-outs unchanged — every remapped FK still matches exactly one "
        f"parent row; build {build_sec}s). All suites run with auto-broadcast "
        "OFF and 200 shuffle partitions (broadcasts hide join skew), AQE "
        "skew-split threshold lowered to 1 MiB so the rewrite fires at test "
        "scale (a cluster keeps the 256 MiB default). `content` = the "
        "skew-split rewrite (AQE skewJoin on vs off) must not change row "
        "count or order-independent hash. Verdict ok = content same AND "
        "(wall ratio vs uniform ≤ 2.5 or absolute delta ≤ 1 s).",
        "",
        "| query | uniform (s) | skew AQE-on (s) | skew AQE-off (s) | "
        "ratio | content | verdict |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, u, s1, s0, ratio, same, ok in rows:
        md.append(
            f"| {name} | {u:.2f} | {s1:.2f} | {s0:.2f} | {ratio:.2f}x | "
            f"{'same' if same else '**DIFFERS**'} | "
            f"{'ok' if ok else '**FAIL**'} |"
        )
    tot_u = sum(r[1] for r in rows)
    tot_s = sum(r[2] for r in rows)
    md += [
        "",
        f"**Totals:** uniform = {tot_u:.1f}s, skewed (AQE on) = {tot_s:.1f}s "
        f"(ratio {tot_s / tot_u:.2f}x), {len(bad)} failing. Hot keys: "
        f"custkey {hot['c_custkey']}, partkey {hot['p_partkey']}, "
        f"suppkey {hot['s_suppkey']}, user {hot['user_id']}, "
        f"orderkey {hot['l_orderkey']} (whale basket).",
    ]
    _splice_scale_section("SKEW", md)

    print(
        json.dumps(
            {
                "metric": "skew_wall_ratio",
                "value": round(tot_s / tot_u, 3),
                "unit": "x",
                "failing": bad,
                "total_uniform_sec": round(tot_u, 3),
                "total_skew_sec": round(tot_s, 3),
            }
        )
    )


if __name__ == "__main__":
    if "--soak" in sys.argv[1:]:
        soak_main()
    elif "--rehearsal" in sys.argv[1:]:
        rehearsal_main()
    elif "--skew" in sys.argv[1:]:
        skew_main()
    else:
        main()
