"""Distributed-rank helpers shared by several operator families (no
queries): ``_ranked_nosort``, ``_quantiles_refine`` with its ``_MED_*``
constants, and the per-customer cents relation many consumers rank."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.barrier import eager_barrier
from hadoop_fs_ceph_spark.canonical import fixed
from hadoop_fs_ceph_spark.tables import t

# Exact-median refinement: bucket count per pass. Three passes cover a
# value domain of B^3 ≈ 6.9e10 distinct integers — far above the
# per-customer cents range at any TPC-H scale factor (~5e9 at SF 100);
# the is_exact output column verifies convergence instead of trusting it.
_MED_B = 4096
_MED_PASSES = 3


def _quantiles_refine(x, states, key="pct", weight=None):
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
    form overflows long once the value domain nears 2^63/B, while the
    width form's largest intermediate is the range itself.
    ``agg_exact_median_nosort`` is the 1-row state case. ``weight``:
    optional integer weight column in ``x`` — bucket mass becomes
    Σweight instead of COUNT (k then binds a WEIGHTED rank), and nothing
    else changes: the weighted median is the same three passes. The per-pass state stays ≤``_MED_B`` count
    rows per refining key."""
    bound = (
        x.join(F.broadcast(states), key)
        if key in x.columns
        else x.crossJoin(F.broadcast(states))
    )
    w_expr = f"((hi - lo) div {_MED_B}) + 1"
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
        # the state subtree DOUBLES per pass (a 6-pass consumer once
        # compiled 447 Exchange nodes, ~28 s at sf0.1, nearly all AQE
        # re-planning of repeated tiny stages). The state is ≤|states|
        # rows (groups × quantiles — control-plane-sized), so an eager
        # localCheckpoint per pass costs one small job and keeps the
        # compiled plan LINEAR in pass count.
        .transform(eager_barrier)
    )


def _conc_customer_cents(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        fixed("o_totalprice", 2).alias("cents")
    )


def _ranked_nosort(x, bins=4096, with_totals=False, grp=None):
    """EXACT rank + inclusive running sum in ``(key, tie)`` order with NO
    single-partition window — the distributed-rank pattern:

    1. range-bin every row on ``key`` against its (lo, hi) bound
       (map-side, width-based integer ``div`` — same overflow posture as
       ``_quantiles_refine``);
    2. one partial-merged aggregate gives per-bin (count, value-sum) —
       ≤ ``bins`` rows — whose sorted array folds sequentially into a
       per-bin EXCLUSIVE prefix relation (bin, rows_before, value_before);
    3. the per-row window runs ``partitionBy(bin)`` ordered by
       ``(key, tie)`` — parallel across bins, never a single task — and
       the broadcast prefix relation turns within-bin rank/running-sum
       into the global ones.

    This is how a range-partitioned sort ranks without sorting the world
    through one task: the only global object is the ≤``bins``-row offset
    relation. The bin is a function of ``key`` alone, so rows that share
    a key share a bin and ``tie`` orders them inside it; ``tie`` can be
    any orderable column (a long, or a struct for a multi-column
    tiebreak), so no (key, tie) pair is ever packed into one long. A
    heavily tied key concentrates one bin (the classic range-sort skew).

    ``x``: columns ``key`` (long), ``tie`` (orderable; ``(key, tie)``
    distinct) and ``val`` (long). Returns ``key, tie, val, i`` (1-based
    rank in ``(key, tie)`` order) and ``cum`` (inclusive running sum of
    val in that order), all exact integers.

    ``grp``: optional name of a group column of ``x``. Each group is then
    ranked on its own — its own bounds, bins, offsets and windows, bound
    to the rows by equi-joins on ``grp`` the way ``_quantiles_refine``
    binds a state key — and ``grp`` leads the output columns. One grouped
    call ranks a relation on several orders at once (explode it into one
    group per order) in a single pass.

    ``with_totals=True`` additionally returns ``n_tot``/``v_tot`` (the
    COUNT and SUM(val), per group under ``grp``) on every row — the
    fold's final accumulator already holds both, so exposing them through
    the same offset broadcast is FREE, where a caller-side
    ``ranked.agg(...)`` would re-execute the whole rank pipeline a
    second time (round-12, guide §1.2: it cost ds_lift_gains_deciles a
    full extra rank pass)."""
    g = [grp] if grp else []
    st = x.groupBy(*g).agg(F.min("key").alias("lo"), F.max("key").alias("hi"))
    w_expr = f"((hi - lo) div {bins}) + 1"
    bound = x.join(F.broadcast(st), grp) if grp else x.crossJoin(F.broadcast(st))
    b = bound.select(
        *g, "key", "tie", "val", F.expr(f"(key - lo) div ({w_expr})").alias("bin")
    )
    per = b.groupBy(*g, "bin").agg(
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
    # the fold's final accumulator c/v ARE the (per-group) totals: every
    # bin's (cnt, vs) was added exactly once, in bin order
    tot = ["n_tot", "v_tot"] if with_totals else []
    offs = (
        per.groupBy(*g)
        .agg(folded.alias("f"))
        .select(
            *g,
            F.col("f.c").alias("n_tot"),
            F.col("f.v").alias("v_tot"),
            F.explode("f.es").alias("e"),
        )
        .select(*g, "e.bin", "e.cb", "e.vb", *tot)
    )
    w = Window.partitionBy(*g, "bin").orderBy("key", "tie")
    return b.join(F.broadcast(offs), [*g, "bin"]).select(
        *g,
        "key",
        "tie",
        "val",
        (F.col("cb") + F.row_number().over(w)).alias("i"),
        (
            F.col("vb")
            + F.sum("val").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cum"),
        *tot,
    )
