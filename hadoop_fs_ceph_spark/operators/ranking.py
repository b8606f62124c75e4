"""Distributed-rank helpers shared by several operator families (no
queries): ``_ranked_nosort``, ``_quantiles_refine`` with its ``_MED_*``
tiers, and the per-customer cents relation many consumers rank."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.barrier import eager_barrier
from hadoop_fs_ceph_spark.tables import t

# Exact-median refinement: bucket count per pass. Three passes cover a
# value domain of B^3 ≈ 6.9e10 distinct integers — far above the
# per-customer cents range at any TPC-H scale factor (~5e9 at SF 100);
# the is_exact output column verifies convergence instead of trusting it.
_MED_B = 4096
_MED_PASSES = 3
# Wide-domain tier: composite keys (value·1e8 + tiebreak — the exact
# RFM / equi-depth reformulations) span up to the full signed-long range, so
# 3 passes at B=4096 (4096³ ≈ 6.9e10) cannot collapse them. Each pass
# narrows the bracket WIDTH to exactly (hi − lo) div B (the selected bucket
# spans w = (hi−lo) div B + 1 values, so hi_new − lo_new ≤ w − 1), hence
# 4 passes at B=65536 pin ANY long bracket: floor(w₀ / 65536⁴) =
# floor(w₀ / 2^64) = 0 — convergence by arithmetic, not luck. Round 12
# (guide §1.2 — touch each byte once): the wide tier used 6 passes at
# B=4096 (4096⁶ = 2^72 > 2^64); widening its buckets 16× deletes two full
# data passes (and two per-pass localCheckpoint barriers) from every
# wide-domain consumer while the per-pass state stays combiner-sized
# (≤65536 count rows per refining key). The default 3-pass tier keeps
# B=4096: its consumers' plans, docs and domain claims are unchanged.
_MED_B_WIDE = 65536
_MED_PASSES_WIDE = 4


def _quantiles_refine(x, states, key="pct", weight=None, b=_MED_B):
    """One shared refinement pass over ALL quantile states at once: the
    bounded (key, lo, hi, k) state relation broadcasts onto the value
    relation, then each state's crossing bucket is located by its own
    fold and the narrowed state relation emerges from one tiny join —
    ONE data scan per pass regardless of how many states refine.
    Two binding modes, chosen by whether ``key`` is a column of ``x``:
    a state-key column in ``x`` (per-GROUP quantiles) equi-joins each
    row to ITS group's state; otherwise (multi-quantile over one
    population) the states fan out to every row. Bucket ids and range
    narrowing use true integer ``div`` — a double divide + cast can
    round up across an integer boundary (and loses exactness past
    2^53). Binning is WIDTH-based (b = (cents − lo) div w with
    w = ⌈range/B⌉) rather than ((cents − lo)·B) div range: the product
    form overflows long once the value domain nears 2^63/B — and the
    composite value·1e8 + key domains of the exact RFM/histogram
    reformulations live there — while the width form's largest
    intermediate is the range itself. ``agg_exact_median_nosort`` is
    the 1-row state case. ``weight``: optional integer weight column in
    ``x`` — bucket mass becomes Σweight instead of COUNT (k then binds
    a WEIGHTED rank), and nothing else changes: the weighted median is
    the same three passes. ``b``: buckets per pass — ``_MED_B`` (4096)
    for the default 3-pass tier, ``_MED_B_WIDE`` (65536) for the 4-pass
    wide-domain tier (see the tier comment above); either way the
    per-pass state stays ≤b count rows per refining key."""
    bound = (
        x.join(F.broadcast(states), key)
        if key in x.columns
        else x.crossJoin(F.broadcast(states))
    )
    w_expr = f"((hi - lo) div {b}) + 1"
    binned = (
        bound.filter(F.col("cents").between(F.col("lo"), F.col("hi")))
        .select(
            key,
            F.expr(f"(cents - lo) div ({w_expr})").alias("b"),
            *([weight] if weight else []),
        )
        .groupBy(key, "b")
        .agg(
            (F.sum(weight) if weight else F.count(F.lit(1))).alias("cnt")
        )
    )
    lz = F.lit(0).cast("long")
    init = F.struct(
        lz.alias("cum"),
        F.lit(False).alias("found"),
        lz.alias("sel_b"),
        lz.alias("cum_before"),
    )

    def step(acc, p):
        new_cum = acc["cum"] + p["cnt"]
        now = new_cum >= F.col("k")
        return F.when(acc["found"], acc).otherwise(
            F.struct(
                new_cum.alias("cum"),
                now.alias("found"),
                F.when(now, p["b"]).otherwise(lz).alias("sel_b"),
                F.when(now, acc["cum"]).otherwise(lz).alias("cum_before"),
            )
        )

    arrs = binned.groupBy(key).agg(
        F.collect_list(F.struct("b", "cnt")).alias("arr")
    )
    return (
        states.join(arrs, key)
        .select(
            key,
            F.aggregate(F.array_sort("arr"), init, step).alias("acc"),
            "lo",
            "hi",
            "k",
        )
        .selectExpr(
            key,
            f"lo + acc.sel_b * ({w_expr}) AS lo",
            f"least(hi, lo + (acc.sel_b + 1) * ({w_expr}) - 1) AS hi",
            "k - acc.cum_before AS k",
        )
        # Round-12 (guide §3.3/§5 — a materialized intermediate truncates
        # the plan): each pass references `states` TWICE (the broadcast
        # into `bound` and the final narrow join), so without a barrier
        # the state subtree DOUBLES per pass — the 6-pass wide-domain
        # consumers compiled 2⁶ copies of the base state into one plan
        # (ds_rfm_segmentation: 447 Exchange / 126 BroadcastExchange
        # nodes, ~28 s at sf0.1, nearly all AQE re-planning of repeated
        # tiny stages). The state is ≤|states| rows (bounded by groups ×
        # quantiles — control-plane-sized, the same class as the k-core
        # survivor vector), so an eager localCheckpoint per pass costs
        # one small job and keeps the compiled plan LINEAR in pass
        # count. Measured at sf0.1: RFM 27.9 → 6.3 s (4.4×), grouped
        # quantiles 4.3 → 2.9 s cold; the 3-pass single-state consumers
        # (2³ = 8 copies) roughly break even — the checkpoint jobs cost
        # what the redundant tiny stages did — and the win grows with
        # pass count and state width. Hashes unchanged (all seven
        # refinement consumers re-verified at sf0.001 + sf0.01).
        .transform(eager_barrier)
    )


def _conc_customer_cents(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )


def _ranked_nosort(x, bins=4096, with_totals=False):
    """EXACT global rank + inclusive running sum over DISTINCT long keys
    with NO single-partition window — the distributed-rank pattern:

    1. range-bin every row against a broadcast one-row (lo, hi) bound
       (map-side, width-based integer ``div`` — same overflow posture as
       ``_quantiles_refine``);
    2. one partial-merged aggregate gives per-bin (count, value-sum) —
       ≤ ``bins`` rows — whose sorted array folds sequentially into a
       per-bin EXCLUSIVE prefix map {bin → (rows_before, value_before)};
    3. the per-row window runs ``partitionBy(bin)`` — parallel across
       bins, never a single task — and the broadcast prefix map turns
       within-bin rank/running-sum into the global ones.

    This is how a range-partitioned sort ranks without sorting the world
    through one task: the only global object is the ≤``bins``-row offset
    relation. Composite keys (value·1e8 + tiebreak) spread ties across
    the tiebreak domain, so equal VALUES never pile into one bin; a
    pathologically clustered value distribution concentrates bins (the
    classic range-sort skew), which AQE splits at runtime — or a
    refinement pass re-bins the heavy range, same machinery.

    ``x``: columns ``key`` (distinct long) and ``val`` (long). Returns
    ``key, val, i`` (1-based global rank by key) and ``cum`` (inclusive
    running sum of val in key order), all exact integers.

    ``with_totals=True`` additionally returns ``n_tot``/``v_tot`` (the
    global COUNT and SUM(val)) on every row — the fold's final
    accumulator already holds both, so exposing them through the same
    ≤``bins``-row broadcast is FREE, where a caller-side
    ``ranked.agg(...)`` would re-execute the whole rank pipeline a
    second time (round-12, guide §1.2: it cost ds_lift_gains_deciles a
    full extra rank pass)."""
    st = x.agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
    w_expr = f"((hi - lo) div {bins}) + 1"
    b = x.crossJoin(F.broadcast(st)).select(
        "key", "val", F.expr(f"(key - lo) div ({w_expr})").alias("bin")
    )
    per = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("val").alias("vs")
    )
    lz = F.lit(0).cast("long")
    init = F.struct(
        lz.alias("c"),
        lz.alias("v"),
        F.array().cast("array<struct<bin:long,cb:long,vb:long>>").alias("es"),
    )

    def step(acc, p):
        return F.struct(
            (acc["c"] + p["cnt"]).alias("c"),
            (acc["v"] + p["vs"]).alias("v"),
            F.concat(
                acc["es"],
                F.array(
                    F.struct(
                        p["bin"].alias("bin"),
                        acc["c"].alias("cb"),
                        acc["v"].alias("vb"),
                    )
                ),
            ).alias("es"),
        )

    # Round-12 (guide §4-adjacent — per-row work, measured): the offsets
    # used to ship as ONE broadcast row holding a ≤4096-entry MAP, read
    # per data row via om[bin] — but Spark's GetMapValue is a LINEAR scan
    # of the map, and both output columns paid it, so the per-row cost
    # was O(bins) twice: rows × bins ≈ 150k × 4096 × 2 ≈ 1.2G probes on
    # the widest consumer (agg_trimmed_mean_nosort), measured 152 s cold
    # at sf0.1 — the slowest query in the tree, and every distributed-rank
    # consumer paid proportionally (gini 5.2 s on 15k customers). The
    # same fold now EXPLODES into a ≤``bins``-row (bin, cb, vb) relation
    # and broadcast-hash-JOINS on bin: an O(1) hash probe per row,
    # identical integer arithmetic (every bin of ``b`` exists in ``per``
    # by construction, so the inner join drops nothing). Measured:
    # trimmed mean 152 → 2.1 s (72×), gini 5.2 → 1.5 s; all eleven
    # consumers hash-identical at sf0.001 + sf0.01.
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("bin", "cnt", "vs"))),
        init,
        step,
    )
    if with_totals:
        # the fold's final accumulator c/v ARE the global totals: every
        # bin's (cnt, vs) was added exactly once, in bin order
        offs = (
            per.agg(folded.alias("f"))
            .select(
                F.col("f.c").alias("n_tot"),
                F.col("f.v").alias("v_tot"),
                F.explode("f.es").alias("e"),
            )
            .select(
                F.col("e.bin").alias("bin"),
                F.col("e.cb").alias("cb"),
                F.col("e.vb").alias("vb"),
                "n_tot",
                "v_tot",
            )
        )
    else:
        offs = (
            per.agg(folded["es"].alias("es"))
            .select(F.explode("es").alias("e"))
            .select(F.col("e.bin").alias("bin"), F.col("e.cb").alias("cb"), F.col("e.vb").alias("vb"))
        )
    w = Window.partitionBy("bin").orderBy("key")
    out = b.join(F.broadcast(offs), "bin").select(
        "key",
        "val",
        (F.col("cb") + F.row_number().over(w)).alias("i"),
        (
            F.col("vb")
            + F.sum("val").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cum"),
        *(["n_tot", "v_tot"] if with_totals else []),
    )
    return out
