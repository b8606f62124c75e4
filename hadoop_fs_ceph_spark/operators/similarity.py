"""Similarity-search family (north-star LLM-pipeline operators) over
``embeddings`` (array<float>, dim 64).

Brute-force cosine top-k is the baseline; sign-bit LSH bucketing and
coarse-partition (IVF-style) search are the scale paths. All vector math
is higher-order column expressions (`zip_with` + sequential `aggregate`
fold) — JVM-side, no UDFs, bit-identical to the DuckDB oracle.

Scale notes (100 TB): the query vector travels as a broadcast (one-row
dimension table); candidate generation is an equality join on a bucket
key; per-vector top-k is a ranking window inside the coarse partition,
never a global sort of all pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.barrier import eager_barrier
from hadoop_fs_ceph_spark.canonical import fixsum, sql_units, units
from hadoop_fs_ceph_spark.functions.similarity import (
    cosine,
    dot,
    norm,
    sql_cosine,
    sql_dot,
    vec_double,
)
from hadoop_fs_ceph_spark.functions.text import (
    sql_token_hashes,
    token_hashes,
    tokens,
)
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.sources.readers import relation_bytes
from hadoop_fs_ceph_spark.tables import order_bounded, t

# Sign-bit LSH: bucket = 4 sign bits of the first 4 components. At
# production scale this generalizes to b random-hyperplane bits; the
# first-components variant keeps the oracle exactly portable.
_N_SIGN_BITS = 4
_SQL_BUCKET = " + ".join(
    f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END" for i in range(_N_SIGN_BITS)
)


def _bucket(col: str = "embedding") -> Column:
    acc = F.lit(0)
    for i in range(_N_SIGN_BITS):
        acc = acc + F.when(F.element_at(col, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


@query(
    "sim_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe, SQRT({sql_dot("embedding", "embedding")}) AS qn
               FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           {sql_dot("e.embedding", "q.qe")} / (SQRT({sql_dot("e.embedding", "e.embedding")}) * q.qn) AS cos_sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("similarity", "knn", "bruteforce"),
    bench=True,
)
def sim_knn_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k against one query vector: broadcast the
    query WITH its norm precomputed (one fold total, not one per scored
    row), score every vector (map-only), global top-10 via
    TakeOrderedAndProject (no full sort materialized)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), norm(F.col("embedding")).alias("qn")
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            (dot(F.col("embedding"), F.col("qe")) / (norm(F.col("embedding")) * F.col("qn"))).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "sim_ann_lsh_bucket",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings),
    q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0)
    SELECT e.vec_id, {sql_cosine("e.embedding", "q.qe")} AS cos_sim
    FROM b e JOIN q ON e.bucket = q.qb
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 5
    """,
    tags=("similarity", "ann", "lsh"),
)
def sim_ann_lsh_bucket(spark, sf_dir):
    """ANN via sign-bit LSH: score only the vectors in the query's
    hyperplane-sign bucket (here ~1/16 of the table) — the
    candidates-then-rank shape of a production IVF/LSH index, as one
    equality join on the bucket key."""
    e = t(spark, sf_dir, "embeddings").withColumn("bucket", _bucket())
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .select("vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
    )


@query(
    "sim_nn_per_label",
    oracle=f"""
    SELECT a.vec_id, b.vec_id AS nn_id,
           {sql_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id <> b.vec_id
    WHERE a.vec_id % 5 = 0
    QUALIFY row_number() OVER (PARTITION BY a.vec_id
                               ORDER BY cos_sim DESC, b.vec_id) = 1
    """,
    tags=("similarity", "knn", "ivf"),
)
def sim_nn_per_label(spark, sf_dir):
    """Nearest neighbor per vector within its coarse partition (label =
    IVF cell): self-join bounded by the partition key, ranking window
    picks the argmax — the all-vectors kNN shape where partition size,
    not n², bounds the work. Scale note: IVF keeps cells bounded by
    growing the cell COUNT with the corpus (k ≈ √n centroids), so the
    per-cell quadratic stays ~n per cell and ~n^1.5 total — the label
    column stands in for that assignment here."""
    e = t(spark, sf_dir, "embeddings")
    a = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id"), F.col("label"), F.col("embedding").alias("ea")
    )
    b = e.select(
        F.col("vec_id").alias("nn_id"), F.col("label"), F.col("embedding").alias("eb")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "nn_id")
    return (
        a.join(b, "label")
        .filter(F.col("vec_id") != F.col("nn_id"))
        .select("vec_id", "nn_id", cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "nn_id", "cos_sim")
    )


@query(
    "sim_embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.embedding", "b.embedding")} > 0.4
    """,
    tags=("similarity", "dedup", "embedding"),
)
def sim_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: all same-label pairs above a
    cosine threshold — the semantic-dedup primitive. Blocking on the
    coarse label bounds the pair count; production raises the threshold
    (0.99) and feeds survivors to the dedup keeper policy."""
    e = t(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("ea")
    ).repartition(max(8, spark.sparkContext.defaultParallelism), "vec_a")
    # One |vectors|-row exchange spreads the single-file scan across
    # executor cores before the label-blocked self-join fans out to
    # Σ|label|² cosine evaluations — without it the broadcast join streams
    # every pair through the scan's one task (measured 3.17 -> 0.53 s at
    # sf0.1). Width is cluster-derived, not a local constant.
    b = e.select(F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("eb"))
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
        .filter(F.col("cos_sim") > 0.4)
    )


@query(
    "sim_centroid_per_label",
    oracle=f"""
    WITH u AS (
      SELECT label, i - 1 AS pos,
             CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    m AS (
      SELECT label, pos,
             CAST(SUM({sql_units("val", 6)}) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS a
      FROM u GROUP BY label, pos
    )
    SELECT label, list(a ORDER BY pos) AS centroid FROM m
    GROUP BY label ORDER BY label
    """,
    tags=("similarity", "centroid", "kmeans"),
)
def sim_centroid_per_label(spark, sf_dir):
    """Per-class mean vector (prototype/centroid) — the k-means update
    step and class-prototype primitive, computed distributed: posexplode
    each embedding to (label, dim, value), fixed-point-sum per (label,
    dim) — 10 labels × 64 dims = 640 groups regardless of corpus size —
    and reassemble the ordered array. The shuffle carries only group
    partials (map-side combine), so a 100 TB corpus reduces to KB of
    traffic; fixed-point sums keep each coordinate bit-identical to the
    oracle at any parallelism. DuckDB lacks WITH ORDINALITY, so its twin
    indexes the list through a generate_series join."""
    e = t(spark, sf_dir, "embeddings")
    exploded = e.select("label", F.posexplode("embedding").alias("pos", "v")).select(
        "label", "pos", F.col("v").cast("double").alias("val")
    )
    m = exploded.groupBy("label", "pos").agg(
        (fixsum("val", 6) / F.count(F.lit(1))).alias("a")
    )
    return (
        m.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))), lambda x: x["a"]
            ).alias("centroid")
        )
        .transform(order_bounded, "label")
    )


@query(
    "sim_knn_batch_queries",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe
      FROM embeddings WHERE vec_id < 5
    )
    SELECT q.query_id, e.vec_id,
           {sql_cosine("e.embedding", "q.qe")} AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id >= 5
    QUALIFY row_number() OVER (PARTITION BY q.query_id
                               ORDER BY cos_sim DESC, e.vec_id) <= 3
    ORDER BY query_id, cos_sim DESC, vec_id
    """,
    tags=("similarity", "knn", "batch"),
)
def sim_knn_batch_queries(spark, sf_dir):
    """Batched kNN: five query vectors scored against the corpus in ONE
    pass — the retrieval-service shape (batch your queries, don't rescan
    per query). The query block broadcasts; every corpus row scores all
    five queries map-side; a ranking window per query keeps top-3. At
    scale the corpus is scanned once regardless of batch size, and the
    window's shuffle carries only (query, candidate, score) rows."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        e.filter(F.col("vec_id") >= 5)
        .crossJoin(F.broadcast(q))
        .select(
            "query_id", "vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "vec_id", "cos_sim")
        .orderBy("query_id", F.col("cos_sim").desc(), "vec_id")
    )


@query(
    "sim_l2_normalize",
    oracle=f"""
    SELECT vec_id,
           CAST(embedding[1] AS DOUBLE) / SQRT({sql_dot("embedding", "embedding")}) AS c1,
           CAST(embedding[2] AS DOUBLE) / SQRT({sql_dot("embedding", "embedding")}) AS c2,
           CAST(embedding[3] AS DOUBLE) / SQRT({sql_dot("embedding", "embedding")}) AS c3,
           CAST(embedding[4] AS DOUBLE) / SQRT({sql_dot("embedding", "embedding")}) AS c4
    FROM embeddings ORDER BY vec_id
    """,
    tags=("similarity", "normalize", "feature-prep"),
)
def sim_l2_normalize(spark, sf_dir):
    """L2 normalization — the feature-prep step before cosine search
    (normalized vectors turn cosine into a plain dot product, halving the
    per-pair fold work downstream). Emits the first four components of
    each unit vector; the norm is ONE sequential fold per row shared by
    all four divisions (projected once — Catalyst keeps the repeated
    alias common). Map-only: no shuffle at any scale."""
    e = t(spark, sf_dir, "embeddings")
    nrm = norm(F.col("embedding"))
    out = e.select("vec_id", "embedding", nrm.alias("nrm"))
    return out.select(
        "vec_id",
        *[
            (F.element_at("embedding", i + 1).cast("double") / F.col("nrm")).alias(f"c{i + 1}")
            for i in range(4)
        ],
    ).orderBy("vec_id")


@query(
    "sim_ann_recall_report",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings),
    q AS (
      SELECT vec_id AS qid, embedding AS qe, bucket AS qb
      FROM b WHERE vec_id % 100 = 0
    ),
    truth AS (
      SELECT q.qid, e.vec_id AS nn_id
      FROM b e JOIN q ON e.vec_id <> q.qid
      QUALIFY row_number() OVER (
        PARTITION BY q.qid
        ORDER BY {sql_cosine("e.embedding", "q.qe")} DESC, e.vec_id
      ) <= 5
    ),
    approx AS (
      SELECT q.qid, e.vec_id AS nn_id
      FROM b e JOIN q ON e.bucket = q.qb AND e.vec_id <> q.qid
      QUALIFY row_number() OVER (
        PARTITION BY q.qid
        ORDER BY {sql_cosine("e.embedding", "q.qe")} DESC, e.vec_id
      ) <= 5
    ),
    hits AS (
      SELECT t.qid, COUNT(*) AS n_hits
      FROM truth t JOIN approx a ON t.qid = a.qid AND t.nn_id = a.nn_id
      GROUP BY t.qid
    )
    SELECT q.qid, COALESCE(h.n_hits, 0) AS n_hits,
           COALESCE(h.n_hits, 0) / 5.0 AS recall_at_5
    FROM q LEFT JOIN hits h ON q.qid = h.qid
    ORDER BY q.qid
    """,
    tags=("similarity", "ann", "recall", "evaluation"),
)
def sim_ann_recall_report(spark, sf_dir):
    """Self-evaluating ANN: recall@5 of the sign-LSH bucket index against
    brute-force truth, per query — the acceptance metric an ANN rollout
    ships with, computed inside the engine instead of a notebook. Truth
    is the bounded-batch brute-force (queries broadcast, scores map-side,
    per-query top-5 via ranking window); the approximate side ranks only
    the query's bucket. Both candidate sets join on (query, neighbor) to
    count hits. Scale: cost is |Q|·n for truth — recall evaluation is
    run on a SAMPLED query set by construction (vec_id % 100), exactly
    how production recall audits bound the brute-force pass.

    Statistical companion: this is the production READOUT (per-query
    recall on natural neighbors, which sit at cos ≈ 0.33 here — too far
    for bucket collisions to carry binomial content); the calibration
    with planted twins, exactly-known collision probability, ≥30 trials
    per cell and the shared 4σ verdict is `sim_ann_recall_calibration`
    below."""
    e = t(spark, sf_dir, "embeddings").withColumn("bucket", _bucket())
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
    )

    def topk(cands):
        w = Window.partitionBy("qid").orderBy(F.col("cs").desc(), "vec_id")
        return (
            cands.select("qid", "vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cs"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("qid", F.col("vec_id").alias("nn_id"))
        )

    truth = topk(e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid")))
    approx = topk(
        e.join(F.broadcast(q), F.col("bucket") == F.col("qb")).filter(
            F.col("vec_id") != F.col("qid")
        )
    )
    hits = truth.join(approx, ["qid", "nn_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        q.select("qid")
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


# Planted-cohort calibration for the axis-sign ANN bucket (VERDICT r9
# item 7): sim_ann_recall_report's natural top-5 pairs sit at cos ≈ 0.33
# on this corpus, where a 16-bit bucket's collision probability is ~1e-4 —
# "expected 0, measured 0", binomially vacuous, the same defect the r8
# dedup calibrations had. The cohort instead plants twins whose axis-sign
# bits flip with an EXACTLY known rate: per level m, dimension i's sign
# flips iff H(i, vec_id, m) ≡ 0 (mod 2^m) for a well-mixed integer hash,
# so P(bucket collision) = (1−2⁻ᵐ)^(#nonzero sign dims) per pair — a
# closed-form expectation needing no isotropy assumption and no ACOS.
# Levels m = 2..5 span expected recall ~1% → ~60%. The hash was chosen
# empirically for marginal rate AND cross-dimension independence (a
# quadratic-in-i LCG mix; simpler product forms measured 10–30% flip-rate
# bias or within-pair clustering that lands outside 4σ).
_ANN_CAL_LEVELS = (2, 3, 4, 5)


def _ann_cal_flip(i: int, vid, m):
    """True iff calibration level `m` flips dimension `i` (1-based, ≤16)
    of vector `vid` — exact integer arithmetic, identical in DuckDB."""
    h = (
        F.lit(i * i * 2654435761)
        + F.lit(i * 40503) * (F.pmod(vid, F.lit(10007)) + F.lit(3))
        + F.pmod(vid, F.lit(101)) * F.lit(69069)
        + F.col("m").cast("long") * F.lit(12345)
    )
    denom = F.expr("CAST(shiftleft(1, m) AS BIGINT)")
    return F.pmod(F.pmod(h, F.lit(1000003)), denom) == 0


_SQL_ANN_CAL_FLIP = (
    "(((CAST(i AS BIGINT) * i * 2654435761 + i * ((vec_id % 10007) + 3) * 40503"
    " + (vec_id % 101) * 69069 + m * 12345) % 1000003) % (1 << m)) = 0"
)


@query(
    "sim_ann_recall_calibration",
    oracle=f"""
    WITH levels AS (SELECT * FROM (VALUES (2), (3), (4), (5)) v(m)),
    sample AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0
    ),
    pairs AS (
      SELECT vec_id, m,
             list_sum(list_transform(generate_series(1, 16), i ->
               CASE WHEN {_SQL_ANN_CAL_FLIP}
                         AND embedding[i] <> 0
                    THEN 1 ELSE 0 END)) AS flipped_bits,
             list_sum(list_transform(generate_series(1, 16), i ->
               CASE WHEN embedding[i] <> 0 THEN 1 ELSE 0 END)) AS nz16
      FROM sample CROSS JOIN levels
    ),
    scored AS (
      SELECT m,
             CASE WHEN flipped_bits = 0 THEN 1 ELSE 0 END AS caught,
             ROUND(POW(1.0 - 1.0 / (1 << m), nz16), 6) AS p6
      FROM pairs
    )
    SELECT m AS level,
           CAST(1 << m AS BIGINT) AS flip_denom,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(SUM(caught) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm,
           ROUND(SUM(p6), 6) AS expected_caught,
           ROUND(SQRT(SUM(p6 * (1.0 - p6))), 6) AS sigma,
           CAST(ABS(CAST(SUM(caught) AS DOUBLE) - ROUND(SUM(p6), 6))
                < 4.0 * ROUND(SQRT(SUM(p6 * (1.0 - p6))), 6) + 1.5
                AS BOOLEAN) AS within_tolerance
    FROM scored GROUP BY m ORDER BY m
    """,
    tags=("similarity", "ann", "lsh", "calibration", "recall"),
)
def sim_ann_recall_calibration(spark, sf_dir):
    """Planted-cohort recall calibration for the axis-sign ANN bucket
    (`sim_ann_lsh_bucket` / `sim_ann_recall_report`'s index), completing
    the one statistical standard across all three recall reports
    (VERDICT r9 item 7): ~n/7 planted twins PER LEVEL (72 at sf0.01, 286
    at sf0.1 — every cell ≥ 30 Bernoulli trials), a closed-form
    expectation, and the binomial verdict |measured − expected| <
    4σ + 1.5 shared with `dedup_lsh_recall_report` and
    `dedup_semantic_recall_report`.

    Construction: level m flips the sign of each of the first 16
    coordinates (the bucket's sign dims) independently with probability
    exactly 2⁻ᵐ via a deterministic integer hash, so a twin shares its
    original's bucket iff NO nonzero sign dim flipped —
    P = (1−2⁻ᵐ)^nz16 per pair, no isotropy assumption, no ACOS (the
    only non-integer op is one POW, rounded to 6 per pair, r9's float-
    parity convention). Levels 2..5 span expected recall ~1% → ~60%, so
    the verdict has power in both the catch-almost-nothing and the
    catch-most regimes. What a failing verdict means: the bucket fold
    reads the wrong bits (mis-indexed dims, wrong width, a > vs ≥ sign
    drift) or the flip hash lost its independence — each lands ≫4σ
    away (a single dropped bit shifts expected collision by a factor
    of (1−2⁻ᵐ)⁻¹ across ~all pairs).

    Scale shape: map-only O(n·levels) — each vector meets only its own
    4 planted twins (no join at all; the collision test is a bit-fold
    comparison inlined per row); the report is a 4-row aggregate."""
    e = t(spark, sf_dir, "embeddings")
    levels = F.array(*[F.lit(m) for m in _ANN_CAL_LEVELS])
    sample = (
        e.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id", "embedding", F.explode(levels).alias("m"))
    )
    vid = F.col("vec_id")
    flipped = sum(
        (
            _ann_cal_flip(i, vid, F.col("m"))
            & (F.element_at("embedding", i) != 0)
        ).cast("int")
        for i in range(1, 17)
    )
    nz16 = sum(
        (F.element_at("embedding", i) != 0).cast("int") for i in range(1, 17)
    )
    denom_d = F.expr("CAST(shiftleft(1, m) AS DOUBLE)")
    scored = sample.select(
        "m",
        (flipped == 0).cast("long").alias("caught"),
        F.round(F.pow(F.lit(1.0) - F.lit(1.0) / denom_d, nz16), 6).alias("p6"),
    )
    return (
        scored.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("caught").cast("long").alias("n_caught"),
            F.round(F.sum("p6"), 6).alias("expected_caught"),
            F.round(F.sqrt(F.sum(F.col("p6") * (1.0 - F.col("p6")))), 6).alias(
                "sigma"
            ),
        )
        .select(
            F.col("m").alias("level"),
            F.expr("CAST(shiftleft(1, m) AS BIGINT)").alias("flip_denom"),
            "n_pairs",
            "n_caught",
            F.expr("n_caught * 1000000 div n_pairs").alias("recall_ppm"),
            "expected_caught",
            "sigma",
            (
                F.abs(F.col("n_caught").cast("double") - F.col("expected_caught"))
                < 4.0 * F.col("sigma") + 1.5
            ).alias("within_tolerance"),
        )
        .transform(order_bounded, "level")
    )


@query(
    "sim_scalar_quantize",
    oracle="""
    WITH ex AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS x,
             unnest(generate_series(0, len(embedding) - 1)) AS dim
      FROM embeddings
    ),
    stats AS (
      SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim
    ),
    q AS (
      SELECT vec_id,
             CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                  ELSE LEAST(CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT),
                             255)
             END AS code
      FROM ex JOIN stats USING (dim)
    )
    SELECT vec_id,
           COUNT(*) AS n_dims,
           CAST(SUM(code) AS BIGINT) AS sum_code,
           CAST(MAX(code) AS BIGINT) AS max_code
    FROM q GROUP BY vec_id ORDER BY vec_id
    """,
    tags=("similarity", "quantization", "compression"),
)
def sim_scalar_quantize(spark, sf_dir):
    """Scalar (int8-style) quantization of the embedding corpus: per-
    DIMENSION min/max over the whole corpus (64 tiny groups), then
    each component maps to an 8-bit code floor((x−mn)·255/(mx−mn)) —
    the compression step every large-scale ANN index applies before
    storage (4× smaller than float32, distance error bounded by the
    cell width). All arithmetic is double (explicit casts both
    engines) ending in floor → exact integer codes, so the checksum
    per vector hash-matches with no tolerance. The stats relation is
    64 rows and broadcasts; codes never leave the executor as
    floats."""
    e = t(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    stats = ex.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    q = ex.join(F.broadcast(stats), "dim").select(
        "vec_id",
        F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("x") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))
                ).cast("long"),
                F.lit(255).cast("long"),
            )
        )
        .alias("code"),
    )
    return (
        q.groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.sum("code").alias("sum_code"),
            F.max("code").alias("max_code"),
        )
        .orderBy("vec_id")
    )


@query(
    "sim_knn_quality_mrr",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS qlabel
      FROM embeddings WHERE vec_id % 100 = 7
    ),
    scored AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label,
             row_number() OVER (
               PARTITION BY q.qid
               ORDER BY (list_reduce(list_transform(
                           generate_series(1, 64),
                           i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                           (a, b) -> a + b)
                         / (SQRT(list_reduce(list_transform(generate_series(1, 64),
                              i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)),
                              (a, b) -> a + b))
                          * SQRT(list_reduce(list_transform(generate_series(1, 64),
                              i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                              (a, b) -> a + b)))) DESC,
                        e.vec_id
             ) AS rnk
      FROM q JOIN embeddings e ON e.vec_id <> q.qid
    ),
    top10 AS (SELECT * FROM scored WHERE rnk <= 10)
    SELECT qid, MAX(qlabel) AS qlabel,
           CAST(COALESCE(MIN(CASE WHEN label = qlabel THEN rnk END), 0) AS INTEGER)
             AS first_hit_rank,
           CAST(SUM(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS INTEGER)
             AS n_hits_top10
    FROM top10 GROUP BY qid ORDER BY qid
    """,
    tags=("similarity", "knn", "quality", "mrr"),
)
def sim_knn_quality_mrr(spark, sf_dir):
    """Retrieval-quality evaluation of the vector index: for each
    sampled query vector, rank the corpus by cosine (deterministic
    ordered-fold dot products, vec_id tiebreak), take top-10, and
    report the rank of the first same-label neighbor (the integer
    numerator of MRR) plus precision@10 counts — the recall/MRR
    scorecard every ANN deployment tracks against ground-truth
    labels. Integer outputs make the check exact. Scale shape: the
    query set is a bounded broadcast; scoring is map-side over the
    corpus; per-query top-10 is a windowed heap, never a global
    sort."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid",
        "qlabel",
        "vec_id",
        "label",
        cosine(F.col("qv"), F.col("embedding")).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    top10 = scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)
    hit_rank = F.min(
        F.when(F.col("label") == F.col("qlabel"), F.col("rnk"))
    )
    return (
        top10.groupBy("qid")
        .agg(
            F.max("qlabel").alias("qlabel"),
            F.coalesce(hit_rank, F.lit(0)).cast("int").alias("first_hit_rank"),
            F.sum(
                F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0)
            ).cast("int").alias("n_hits_top10"),
        )
        .orderBy("qid")
    )


@query(
    "sim_matryoshka_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv FROM embeddings
      WHERE vec_id % 100 = 7
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             {sql_cosine('e.embedding', 'q.qv', 64)} AS full_cos,
             {sql_cosine('e.embedding', 'q.qv', 16)} AS pre_cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ft AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY full_cos DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 10
    ),
    pt AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY pre_cos DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 10
    )
    SELECT f.qid, CAST(COUNT(*) AS BIGINT) AS n_overlap,
           COUNT(*) / 10.0 AS recall_at_10
    FROM ft f JOIN pt p ON f.qid = p.qid AND f.vec_id = p.vec_id
    GROUP BY f.qid ORDER BY f.qid
    """,
    tags=("similarity", "matryoshka", "recall", "embedding"),
)
def sim_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation quality report: top-10 neighbors ranked by
    the 16-dim embedding PREFIX versus the full 64-dim ranking, reported
    as recall@10 per query — the measurement that decides whether
    truncated (4× cheaper to store, scan, and compare) vectors are good
    enough for first-stage retrieval, with full-dim rescoring reserved
    for the short list. Prefix scoring is a dim=16 sequential fold over
    the same arrays (no re-embedding), and both rankings carry a total
    tie-break (score desc, vec_id) over bit-identical doubles, so the
    per-query overlap is deterministic cross-engine.

    Scale shape: the bounded query batch broadcasts (1% sample stands in
    for a fixed eval set); scoring is map-side over the corpus; each
    ranking is a per-query window (rows ≈ |corpus|×|queries|, the
    brute-force truth pass an ANN evaluation runs offline)."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine(F.col("embedding"), F.col("qv")).alias("full_cos"),
            cosine(
                F.slice(F.col("embedding"), 1, 16), F.slice(F.col("qv"), 1, 16)
            ).alias("pre_cos"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.col("full_cos").desc(), "vec_id")
    wp = Window.partitionBy("qid").orderBy(F.col("pre_cos").desc(), "vec_id")
    ft = scored.withColumn("rn", F.row_number().over(wf)).filter(F.col("rn") <= 10)
    pt = scored.withColumn("rn", F.row_number().over(wp)).filter(F.col("rn") <= 10)
    return (
        ft.select("qid", "vec_id")
        .join(pt.select("qid", "vec_id"), ["qid", "vec_id"])
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select("qid", "n_overlap", (F.col("n_overlap") / 10.0).alias("recall_at_10"))
        .orderBy("qid")
    )


_N_SEM_CELLS = 8
_SEM_THRESHOLD = 0.4
# Hard ceiling for the fixed-K cell tier (VERDICT r8 item 2): the ×100
# soak MEASURED this operator at 764× wall for 100× data (n=200,000) —
# with K fixed, within-cell pairs grow quadratically, so past this size
# the quadratic term dominates and the run must be refused, not merely
# warned about in a docstring. 50,000 keeps every oracle/bench scale
# (≤2,000 rows) and a generous margin while stopping the measured
# blow-up region. The scale path is `dedup_semantic_bucket_scaled`.
_SEM_CELL_MAX_N = 50_000


def _with_norm(e):
    """embeddings → (vec_id, embedding, en): the vector norm folded ONCE
    per row, before any K-way centroid cross-product (cosine() inside
    the scoring select would re-fold it K times per vector)."""
    return e.select("vec_id", "embedding", norm(F.col("embedding")).alias("en"))


def _nearest_centroid(en_df, cents):
    """Assign every (vec_id, embedding, en) row to its max-cosine
    centroid from the bounded ``cents`` relation (cid, cv, cvn), tie
    broken by lowest cid. Scoring uses dot/(en·cvn) — the exact
    expression cosine() expands to, with both norms pre-folded — so the
    assignment is bit-identical to the naive form (the oracles pin
    this). Returns (vec_id, cell, embedding, en)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("c_cos").desc(), "cid")
    return (
        en_df.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "embedding",
            "en",
            "cid",
            (dot(F.col("embedding"), F.col("cv")) / (F.col("en") * F.col("cvn"))).alias(
                "c_cos"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"), "embedding", "en")
    )


@query(
    "dedup_semantic_cell",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv
      FROM embeddings WHERE vec_id < {_N_SEM_CELLS}
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding, s.seed_id AS cell
      FROM embeddings e CROSS JOIN seeds s
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {sql_cosine("e.embedding", "s.sv")} DESC, s.seed_id) = 1
    )
    SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM assigned a JOIN assigned b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.embedding", "b.embedding")} > {_SEM_THRESHOLD}
    """,
    tags=("dedup", "similarity", "semantic", "embedding"),
)
def dedup_semantic_cell(spark, sf_dir):
    """SemDeDup-style semantic deduplication: coarse-quantize every
    embedding to its nearest of K seed centroids (the IVF cell), then
    emit high-cosine pairs WITHIN each cell only — the cell id is the
    blocking key that replaces the all-pairs scan, exactly how
    embedding-level dedup runs over web-scale corpora (cluster first,
    compare within clusters).

    K=8 deterministic seeds (the lowest vec_ids) keep the oracle
    portable. Scale shape: the seed table broadcasts (K rows);
    assignment is map-side scoring + a per-vector top-1 window
    (partitioned by vec_id — never global); the pair stage is an
    EQUALITY join on cell, so candidates are bounded by cell sizes.

    MEASURED LIMIT (SCALE.md ×100 soak): with K FIXED, cell population
    grows linearly and within-cell pairs quadratically — 764× wall at
    100× data. This variant is therefore the bounded-K declared-truth
    tier only; the production/bench tier is
    `dedup_semantic_bucket_scaled` (adaptive sign-LSH bucket width,
    bucket count doubles with data → linear decade), and centroid
    refinement lives in `dedup_semantic_cell_refined` /
    `sim_kmeans_converged`, where K would scale as n/target in a real
    deployment. Cosines are sequential folds — bit-identical
    cross-engine.

    GUARDED (VERDICT r8 item 2): refuses outright above
    ``_SEM_CELL_MAX_N`` rows with a RuntimeError naming the scaled tier
    — the measured-quadratic region must be unreachable, not just
    documented. The one COUNT scalar that sizes the guard is a
    control-plane read, the same class as the scaled tier's bucket-width
    count."""
    e = t(spark, sf_dir, "embeddings")
    n = e.count()  # control-plane scalar: feeds only the size guard
    if n > _SEM_CELL_MAX_N:
        raise RuntimeError(
            f"dedup_semantic_cell: {n} embeddings exceeds the fixed-K tier's "
            f"ceiling of {_SEM_CELL_MAX_N} — with K={_N_SEM_CELLS} cells the "
            "within-cell pair stage is quadratic in n (measured 764x wall at "
            "100x data, SCALE.md); use dedup_semantic_bucket_scaled, whose "
            "adaptive bucket width keeps candidate pairs O(n)."
        )
    en = _with_norm(e)
    seeds = en.filter(F.col("vec_id") < _N_SEM_CELLS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("en").alias("cvn"),
    )
    assigned = _nearest_centroid(en, seeds).persist()
    a = assigned.select(
        F.col("vec_id").alias("vec_a"), "cell", F.col("embedding").alias("ea"),
        F.col("en").alias("ena"),
    )
    b = assigned.select(
        F.col("vec_id").alias("vec_b"), "cell", F.col("embedding").alias("eb"),
        F.col("en").alias("enb"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cell",
            "vec_a",
            "vec_b",
            (dot(F.col("ea"), F.col("eb")) / (F.col("ena") * F.col("enb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") > _SEM_THRESHOLD)
    )


_JL_OUT_DIM = 16
_JL_IN_DIM = 64


def _jl_sign(i, j):
    """Deterministic ±1 from (input dim i, output dim j): parity of a
    product folded through a large odd prime — nonlinear in (i, j), so
    the sign matrix is not a degenerate checkerboard (any LINEAR form
    mod 2 would be), yet exact integer arithmetic in both engines."""
    return F.when(
        ((i + 1) * (j + 7) * 104729) % 1000003 % 2 == 0, F.lit(1).cast("long")
    ).otherwise(F.lit(-1).cast("long"))


_SQL_JL_SIGN = (
    "CASE WHEN ((i + 1) * (j + 7) * 104729) % 1000003 % 2 = 0 "
    "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END"
)


@query(
    "sim_random_projection",
    oracle=f"""
    SELECT vec_id, label,
           list_transform(generate_series(0, {_JL_OUT_DIM - 1}), j ->
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(generate_series(0, {_JL_IN_DIM - 1}), i ->
                 {_SQL_JL_SIGN}
                 * {sql_units("CAST(embedding[i + 1] AS DOUBLE)", 6)})),
               (a, b) -> a + b) AS DOUBLE) / 1000000.0) AS reduced
    FROM embeddings
    """,
    tags=("similarity", "projection", "dimensionality-reduction"),
    bench=True,
)
def sim_random_projection(spark, sf_dir):
    """Johnson-Lindenstrauss random projection 64 → 16 dims with a
    DETERMINISTIC ±1 sign matrix derived from (i, j) by integer
    arithmetic — the dimensionality-reduction step that runs before ANN
    indexing (4× smaller vectors, pairwise cosines preserved within the
    JL distortion bound). Sparse/±1 projections (Achlioptas) need no
    stored matrix at all: every executor re-derives sign(i, j) locally,
    so NOTHING broadcasts and the operator is pure map work inside
    whole-stage codegen — at 100 TB the projection adds zero shuffle
    and zero driver state.

    Components quantize to fixed-point integers BEFORE the signed sum,
    so each reduced coordinate is an exact integer fold — bit-identical
    cross-engine regardless of fold order or parallelism.

    Round-12 (guide §1.2 per-row work, measured): the quantized array is
    bound ONCE per row as a lambda variable (transform over a 1-element
    array) instead of being inlined into the fold. Inlined, every one of
    the 16 × 64 element_at probes re-ran the whole 64-element round/cast
    transform — higher-order lambdas get no common-subexpression
    elimination, and CollapseProject folds a separate projection straight
    back into the lambda — ~65k array rebuilds per row, measured 50.7 s
    at sf0.1 for a pure map operator over 2000 rows. A lambda-bound
    variable is evaluated once per row by construction and cannot be
    collapsed away; identical arithmetic, same fold order."""
    e = t(spark, sf_dir, "embeddings")
    qint = F.transform(
        vec_double(F.col("embedding")),
        lambda x: units(x, 6),
    )
    reduced = F.element_at(
        F.transform(
            F.array(qint),
            lambda q: F.transform(
                F.sequence(F.lit(0), F.lit(_JL_OUT_DIM - 1)),
                lambda j: F.aggregate(
                    F.sequence(F.lit(0), F.lit(_JL_IN_DIM - 1)),
                    F.lit(0).cast("long"),
                    lambda acc, i: acc + _jl_sign(i, j) * F.element_at(q, i + 1),
                ).cast("double")
                / F.lit(1e6),
            ),
        ),
        1,
    )
    return e.select("vec_id", "label", reduced.alias("reduced"))


@query(
    "sim_kmeans_update",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv
      FROM embeddings WHERE vec_id < {_N_SEM_CELLS}
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding, s.seed_id AS cell
      FROM embeddings e CROSS JOIN seeds s
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {sql_cosine("e.embedding", "s.sv")} DESC, s.seed_id) = 1
    ),
    u AS (
      SELECT cell, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM assigned, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    m AS (
      SELECT cell, pos,
             CAST(SUM({sql_units("val", 6)}) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS a,
             COUNT(*) AS nc
      FROM u GROUP BY cell, pos
    )
    SELECT cell, CAST(MIN(nc) AS BIGINT) AS n_members,
           list(a ORDER BY pos) AS centroid
    FROM m GROUP BY cell ORDER BY cell
    """,
    tags=("similarity", "kmeans", "iterative", "clustering"),
)
def sim_kmeans_update(spark, sf_dir):
    """One full Lloyd iteration of k-means, distributed: ASSIGN every
    vector to its nearest seed centroid (broadcast seeds, map-side
    scoring, per-vector top-1 window — the same cell assignment
    `dedup_semantic_cell` blocks on), then UPDATE each cell's centroid
    as the fixed-point mean of its members. Looping this query's two
    stages with the output fed back as the next round's seeds IS
    distributed k-means — each round is one broadcast + one
    partial-merged aggregate over (cell, dim) groups (K x 64 groups
    regardless of corpus size), the exact iteration/checkpoint pattern
    `graph_pagerank_fixed` pins for Pregel-style loops.

    Fixed-point coordinate sums keep each mean bit-identical to the
    oracle at any parallelism; `n_members` exposes the cluster-size
    skew a production run watches (empty/withered cells get reseeded)."""
    e = t(spark, sf_dir, "embeddings")
    en = _with_norm(e)
    seeds = en.filter(F.col("vec_id") < _N_SEM_CELLS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("en").alias("cvn"),
    )
    assigned = _nearest_centroid(en, seeds).select("cell", "embedding")
    m = (
        assigned.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .select("cell", "pos", F.col("v").cast("double").alias("val"))
        .groupBy("cell", "pos")
        .agg(
            (fixsum("val", 6) / F.count(F.lit(1))).alias("a"),
            F.count(F.lit(1)).alias("nc"),
        )
    )
    return (
        m.groupBy("cell")
        .agg(
            F.min("nc").alias("n_members"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))), lambda x: x["a"]
            ).alias("centroid"),
        )
        .transform(order_bounded, "cell")
    )


@query(
    "dedup_semantic_cell_refined",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv
      FROM embeddings WHERE vec_id < {_N_SEM_CELLS}
    ),
    a0 AS (
      SELECT e.vec_id, e.embedding, s.seed_id AS cell
      FROM embeddings e CROSS JOIN seeds s
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {sql_cosine("e.embedding", "s.sv")} DESC, s.seed_id) = 1
    ),
    u AS (
      SELECT cell, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
      FROM a0, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    m AS (
      SELECT cell, pos,
             CAST(SUM({sql_units("val", 6)}) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS a
      FROM u GROUP BY cell, pos
    ),
    cent AS (SELECT cell, list(a ORDER BY pos) AS cv FROM m GROUP BY cell),
    a1 AS (
      SELECT e.vec_id, e.embedding, c.cell
      FROM embeddings e CROSS JOIN cent c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY {sql_cosine("e.embedding", "c.cv")} DESC, c.cell) = 1
    )
    SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM a1 a JOIN a1 b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE {sql_cosine("a.embedding", "b.embedding")} > {_SEM_THRESHOLD}
    """,
    tags=("dedup", "similarity", "semantic", "embedding", "kmeans"),
)
def dedup_semantic_cell_refined(spark, sf_dir):
    """SemDeDup with REFINED centroids — the real centroid pipeline:
    the K=8 deterministic seed vectors feed one full Lloyd round (the
    ``sim_kmeans_update`` assign+update shapes), and the resulting
    fixed-point mean centroids — not the raw seeds — define the cells
    that near-duplicate pairs block on. This is how production SemDeDup
    actually runs (k-means the corpus, then compare within clusters);
    ``dedup_semantic_cell`` keeps the raw-seed formulation as the
    simplest oracle shape.

    Scale shape, per stage: seed assign = K-row broadcast + map-side
    scoring + per-vector top-1 window (partitioned by vec_id, never
    global); centroid update = one partial-merged aggregate over K×64
    (cell, dim) groups regardless of corpus size; refined assign = the
    same broadcast shape over the 8-row computed centroid relation; the
    pair stage is an EQUALITY join on the refined cell id. Fixed-point
    centroid coordinates (integer sums / 1e6 / count) and sequential
    cosine folds keep every double bit-identical cross-engine, so the
    full output — including cos_sim values — hash-matches the oracle."""
    e = t(spark, sf_dir, "embeddings")
    en0 = _with_norm(e)
    seeds = en0.filter(F.col("vec_id") < _N_SEM_CELLS).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("en").alias("cvn"),
    )
    a0 = _nearest_centroid(en0, seeds).select("cell", "embedding")
    cent = (
        a0.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .select("cell", "pos", F.col("v").cast("double").alias("val"))
        .groupBy("cell", "pos")
        .agg(
            (fixsum("val", 6) / F.count(F.lit(1))).alias("a")
        )
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "a"))), lambda x: x["a"]
            ).alias("cv")
        )
    )
    cents = cent.select(
        F.col("cell").alias("cid"), "cv", norm(F.col("cv")).alias("cvn")
    )
    a1 = _nearest_centroid(en0, cents).persist()
    a = a1.select(
        F.col("vec_id").alias("vec_a"), "cell", F.col("embedding").alias("ea"),
        F.col("en").alias("ena"),
    )
    b = a1.select(
        F.col("vec_id").alias("vec_b"), "cell", F.col("embedding").alias("eb"),
        F.col("en").alias("enb"),
    )
    return (
        a.join(b, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cell",
            "vec_a",
            "vec_b",
            (dot(F.col("ea"), F.col("eb")) / (F.col("ena") * F.col("enb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") > _SEM_THRESHOLD)
    )


_KM_MAX_ROUNDS = 30
# Convergence-check cadence for the Lloyd fixpoint loop (round-13): the
# driver-side shift scalar costs one tiny job per evaluation, so it runs
# every 5th round; exact-equivalence argument at the loop site.
_KM_CHECK_EVERY = 5


@query(
    "sim_kmeans_converged",
    oracle=f"""
    WITH RECURSIVE exp AS (
      SELECT vec_id, i - 1 AS pos,
             {sql_units("CAST(embedding[i] AS DOUBLE)", 6)} AS xu
      FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    cent(r, cell, pos, cu, shift) AS (
      SELECT 0, CAST(vec_id AS BIGINT), pos, xu, CAST(1 AS BIGINT)
      FROM exp WHERE vec_id < {_N_SEM_CELLS}
      UNION ALL
      SELECT nw.r, nw.cell, nw.pos, nw.cu, MAX(ABS(nw.cu - nw.cu_old)) OVER ()
      FROM (
        SELECT o.r + 1 AS r, o.cell, o.pos, o.cu AS cu_old,
               COALESCE(
                 CASE WHEN m.s >= 0 THEN (2 * m.s + m.n) // (2 * m.n)
                      ELSE -((2 * (-m.s) + m.n) // (2 * m.n)) END,
                 o.cu) AS cu
        FROM cent o
        LEFT JOIN (
          SELECT a.cell, e.pos, CAST(SUM(e.xu) AS BIGINT) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM (
            SELECT vec_id, MIN(d * {_N_SEM_CELLS} + cell) % {_N_SEM_CELLS} AS cell
            FROM (
              SELECT e2.vec_id, c2.cell,
                     CAST(SUM((e2.xu - c2.cu) * (e2.xu - c2.cu)) AS BIGINT) AS d
              FROM exp e2 JOIN cent c2 ON e2.pos = c2.pos
              GROUP BY e2.vec_id, c2.cell
            ) GROUP BY vec_id
          ) a JOIN exp e ON e.vec_id = a.vec_id
          GROUP BY a.cell, e.pos
        ) m ON m.cell = o.cell AND m.pos = o.pos
        WHERE o.r < {_KM_MAX_ROUNDS} AND o.shift > 0
      ) nw
    ),
    fin AS (SELECT cell, pos, cu FROM cent WHERE r = (SELECT MAX(r) FROM cent)),
    stats AS (
      SELECT CAST((SELECT MAX(r) FROM cent) AS INTEGER) AS n_rounds,
             (SELECT MAX(shift) FROM cent
              WHERE r = (SELECT MAX(r) FROM cent)) AS final_shift_micro
    ),
    asgf AS (
      SELECT vec_id, MIN(d * {_N_SEM_CELLS} + cell) % {_N_SEM_CELLS} AS cell
      FROM (
        SELECT e2.vec_id, f.cell,
               CAST(SUM((e2.xu - f.cu) * (e2.xu - f.cu)) AS BIGINT) AS d
        FROM exp e2 JOIN fin f ON e2.pos = f.pos GROUP BY e2.vec_id, f.cell
      ) GROUP BY vec_id
    ),
    mem AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members FROM asgf GROUP BY cell)
    SELECT f.cell, s.n_rounds, s.final_shift_micro = 0 AS converged,
           s.final_shift_micro,
           COALESCE(m.n_members, 0) AS n_members,
           list(CAST(f.cu AS DOUBLE) / 1000000.0 ORDER BY f.pos) AS centroid
    FROM fin f LEFT JOIN mem m USING (cell), stats s
    GROUP BY f.cell, s.n_rounds, s.final_shift_micro, m.n_members
    ORDER BY f.cell
    """,
    tags=("similarity", "kmeans", "iterative", "exact"),
)
def sim_kmeans_converged(spark, sf_dir):
    """Distributed k-means run to CONVERGENCE — ``sim_kmeans_update``'s
    one Lloyd round wrapped in the CC-style fixpoint loop: every round
    is assign (squared-L2 in 1e6 fixed-point integer space — Lloyd's
    textbook objective — with the deal-proof composite tie-break
    min(d·K + cell) % K) then update (per-(cell,pos) integer sums,
    half-away-from-zero integer rounding back to the µ lattice; empty
    cells keep their centroid), with ``localCheckpoint`` truncating
    per-round lineage and a single driver-side scalar (max µ-shift) as
    the convergence check — the same discipline ``dedup_cluster_cc``
    pins for Pregel-style loops. Convergence is shift == 0: an EXACT
    fixpoint on the integer lattice, so equality — not a tolerance —
    ends the loop; a 2-cycle on the lattice (possible under rounding)
    stops at ``_KM_MAX_ROUNDS`` and reports ``converged = false``
    honestly instead of raising, because capped centroids are still
    valid output (CC raises at its bound because labels would be
    WRONG; capped k-means is merely unconverged). Per-round cost is
    one n·64·K join + two partial-merged aggregates over ≤ K·64
    groups; nothing driver-side but the one scalar.

    The oracle replays the SAME integer iteration as a DuckDB
    recursive CTE (aggregates and a window over the recursive
    reference — verified supported), so round count, shift, and every
    centroid coordinate hash-match cross-engine; n_members comes from
    one final assignment against the converged centroids in both."""
    K = _N_SEM_CELLS
    e = t(spark, sf_dir, "embeddings")
    exp = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            "pos",
            units(F.col("v").cast("double"), 6).alias("xu"),
        )
        .persist()
    )
    cent = (
        exp.filter(F.col("vec_id") < K)
        .select(F.col("vec_id").cast("long").alias("cell"), "pos", F.col("xu").alias("cu"))
        .transform(eager_barrier)
    )

    # Round-13 (guide §1.2/§2.4, VERDICT r12 item 4 — per-round structure):
    # the assignment used to be TWO aggregations (groupBy(vec_id, cell)
    # summing squared diffs, then groupBy(vec_id) taking the tie-broken
    # min), i.e. two exchanges per round. Since the cell domain is the
    # query constant K, the first aggregation pivots into K conditional
    # sums inside ONE groupBy(vec_id) — d_c = SUM(CASE cell = c) — and the
    # arg-min becomes least(d_0·K+0, …, d_{K-1}·K+K-1) % K, the exact
    # composite tie-break the row-wise MIN applied (every cell contributes
    # all 64 positions, so no d_c is NULL). One exchange per round instead
    # of two; every other structure (localCheckpoint barrier, single
    # driver-side shift scalar) measured FASTER than the alternatives
    # tried this round (single-collect rounds, 2-round batched barriers,
    # one-row-gate HOF distances, collect_list piggyback — all slower;
    # see OPTIMIZATION_r13.md). Hash-identical at sf0.001 + sf0.01.
    def assign(c):
        j = exp.join(c.select("cell", "pos", "cu"), "pos")
        sq = (F.col("xu") - F.col("cu")) * (F.col("xu") - F.col("cu"))
        g = j.groupBy("vec_id").agg(
            *[
                F.sum(F.when(F.col("cell") == ci, sq)).alias(f"d{ci}")
                for ci in range(K)
            ]
        )
        return g.select(
            "vec_id",
            (F.least(*[F.col(f"d{ci}") * K + ci for ci in range(K)]) % K).alias(
                "cell"
            ),
        )

    # Round-13 (VERDICT r12 item 4 — convergence-check cadence): the shift
    # scalar is evaluated every _KM_CHECK_EVERY rounds (and at the cap)
    # instead of every round. EXACT by lattice-fixpoint monotonicity:
    # shift_j = 0 means cent_j == cent_{j-1}, so round j+1 computes the
    # identical assignment and update and shift_{j+1} = 0 too — zero
    # shifts form a SUFFIX of the round sequence. A zero at a check round
    # therefore pins convergence somewhere in the block just run, and the
    # backward walk below recovers the FIRST zero round exactly (each
    # checkpointed round still holds its own cu_old), so (n_rounds,
    # final_shift_micro, centroids) are bit-identical to per-round
    # checking — pinned by test_kmeans_check_cadence_equivalent and the
    # DuckDB oracle's per-round recursive replay. Rounds past the
    # fixpoint that a sparse check runs before noticing are no-ops on the
    # centroids by the same monotonicity.
    def _shift_of(df):
        return df.agg(F.max(F.abs(F.col("cu") - F.col("cu_old")))).head()[0]

    n_rounds, shift = 0, 1
    block: list = []  # this check-block's checkpointed rounds, oldest first
    for i in range(1, _KM_MAX_ROUNDS + 1):
        magg = (
            assign(cent)
            .join(exp, "vec_id")
            .groupBy("cell", "pos")
            .agg(F.sum("xu").alias("s"), F.count(F.lit(1)).alias("n"))
        )
        new = (
            cent.select("cell", "pos", F.col("cu").alias("cu_old"))
            .join(magg, ["cell", "pos"], "left")
            .select(
                "cell",
                "pos",
                "cu_old",
                F.coalesce(
                    F.expr(
                        "CASE WHEN s >= 0 THEN (2*s + n) div (2*n)"
                        " ELSE -((2*(-s) + n) div (2*n)) END"
                    ),
                    F.col("cu_old"),
                ).alias("cu"),
            )
            .transform(eager_barrier)  # eager: materializes + cuts lineage
        )
        block.append(new)
        cent = new.select("cell", "pos", "cu")
        if i % _KM_CHECK_EVERY and i != _KM_MAX_ROUNDS:
            continue
        shift = _shift_of(new)
        if shift != 0:
            n_rounds = i
            block = []
            continue
        # converged inside this block: walk back to the FIRST zero-shift
        # round (zeros are a suffix, so stop at the first non-zero)
        n_rounds = i
        for prev_new in reversed(block[:-1]):
            if _shift_of(prev_new) != 0:
                break
            n_rounds -= 1
        break
    mem = assign(cent).groupBy("cell").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cent.groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cu"))),
                lambda x: x["cu"].cast("double") / F.lit(1e6),
            ).alias("centroid")
        )
        .join(mem, "cell", "left")
        .select(
            "cell",
            F.lit(n_rounds).cast("int").alias("n_rounds"),
            F.lit(shift == 0).alias("converged"),
            F.lit(shift).cast("long").alias("final_shift_micro"),
            F.coalesce("n_members", F.lit(0).cast("long")).alias("n_members"),
            "centroid",
        )
        .orderBy("cell")
    )


_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace
_PQ_K = 4  # codewords per subspace (seed vectors 0..3)


def _sql_pq_dist(m: int) -> str:
    """Integer squared L2 between e's and c's m-th subvector (1e6 fixed point)."""
    def diff(k: int) -> str:
        e = sql_units(f"CAST(e.embedding[{k}] AS DOUBLE)", 6)
        c = sql_units(f"CAST(c.sv[{k}] AS DOUBLE)", 6)
        return f"({e} - {c})"

    terms = " + ".join(
        f"{diff(m * _PQ_DSUB + j + 1)} * {diff(m * _PQ_DSUB + j + 1)}" for j in range(_PQ_DSUB)
    )
    return f"({terms})"


@query(
    "sim_pq_encode",
    oracle=f"""
    WITH cw AS (
      SELECT vec_id AS code, embedding AS sv FROM embeddings
      WHERE vec_id < {_PQ_K}
    ),
    dists AS (
      SELECT e.vec_id, c.code,
             {", ".join(f"{_sql_pq_dist(m)} AS d{m}" for m in range(_PQ_M))}
      FROM embeddings e CROSS JOIN cw c
    ),
    best AS (
      SELECT vec_id,
             {", ".join(f"MIN(d{m}) AS min{m}" for m in range(_PQ_M))},
             {", ".join(f"MIN_BY(code, d{m} * 10 + code) AS c{m}" for m in range(_PQ_M))}
      FROM dists GROUP BY vec_id
    )
    SELECT vec_id,
           [{", ".join(f"c{m}" for m in range(_PQ_M))}] AS codes,
           CAST({" + ".join(f"min{m}" for m in range(_PQ_M))} AS BIGINT)
             AS total_sqerr_fp
    FROM best
    """,
    tags=("similarity", "pq", "quantization", "compression"),
)
def sim_pq_encode(spark, sf_dir):
    """Product-quantization encoding: split each 64-dim embedding into
    8 subvectors of 8 dims, snap each subvector to its nearest of K=4
    codewords (seed vectors stand in for per-subspace k-means
    codebooks), emit the 8-byte code word per vector plus the total
    squared reconstruction error — the memory layout ANN systems
    (FAISS-IVFPQ) scan: 64 floats → 8 small ints, 32× smaller, with
    distances approximated per-subspace by codebook lookup tables.

    Distances are computed in 1e6 fixed-point integers, so the argmin
    per subspace (ties → lowest codeword) and the error sum are EXACT —
    no float tolerance anywhere. Scale shape: the K-codeword table
    broadcasts; encoding is map-side expression work per row (the
    oracle's cross-join formulation is the same bounded K-row
    broadcast); nothing shuffles.

    Per-row work is single-evaluation by construction: the codebook is
    quantized ONCE inside the broadcast row, the row's fixed-point
    embedding and the 8×4 distance matrix are bound as lambda variables
    (higher-order lambdas get no common-subexpression elimination, so
    the previous inline form re-quantized per probe and evaluated every
    subspace's distance array three times — argmin + position + sum;
    measured 1.66 → 0.50 s at sf0.1, identical output)."""
    e = t(spark, sf_dir, "embeddings")
    cb = (
        e.filter(F.col("vec_id") < _PQ_K)
        .select(F.struct(F.col("vec_id").alias("code"), F.col("embedding").alias("sv")).alias("c"))
        .agg(F.array_sort(F.collect_list("c")).alias("cb"))
        .select(
            F.transform(
                "cb",
                lambda c: F.struct(
                    c["code"].alias("code"),
                    F.transform(
                        c["sv"],
                        lambda x: units(x.cast("double"), 6),
                    ).alias("qsv"),
                ),
            ).alias("qcb")
        )
    )
    enc = e.crossJoin(F.broadcast(cb))
    qe = F.transform(
        "embedding", lambda x: units(x.cast("double"), 6)
    )

    def sub_dists(qe_b):
        # ds[m][k] = ‖qe[m·8+1 .. m·8+8] − qcb[k].qsv[same slice]‖² as an
        # exact int64 left-fold in dim order (same op order as the
        # unrolled loop it replaces).
        return F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda m: F.transform(
                F.col("qcb"),
                lambda cw: F.aggregate(
                    F.zip_with(
                        F.slice(qe_b, m * _PQ_DSUB + 1, _PQ_DSUB),
                        F.slice(cw["qsv"], m * _PQ_DSUB + 1, _PQ_DSUB),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ),
            ),
        )

    res = F.transform(
        F.array(qe),
        lambda qe_b: F.transform(
            F.array(sub_dists(qe_b)),
            lambda ds: F.struct(
                F.transform(
                    ds,
                    lambda a: (F.array_position(a, F.array_min(a)) - 1).cast("long"),
                ).alias("codes"),
                F.aggregate(
                    F.transform(ds, lambda a: F.array_min(a)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("err"),
            ),
        )[0],
    )[0]
    return enc.select(
        "vec_id", res["codes"].alias("codes"), res["err"].alias("total_sqerr_fp")
    )


@query(
    "sim_two_stage_retrieval",
    oracle=f"""
    WITH b AS (SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings),
    q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding, q.qe,
             {sql_cosine("list_transform(generate_series(1, 16), i -> e.embedding[i])",
                         "list_transform(generate_series(1, 16), i -> q.qe[i])", dim=16)}
               AS coarse_score
      FROM b e JOIN q ON e.bucket = q.qb
      WHERE e.vec_id <> 0
      ORDER BY coarse_score DESC, e.vec_id
      LIMIT 8
    )
    SELECT vec_id, coarse_score,
           {sql_cosine("embedding", "qe")} AS exact_score
    FROM cand
    ORDER BY exact_score DESC, vec_id
    LIMIT 3
    """,
    tags=("similarity", "retrieval", "two-stage", "rerank"),
)
def sim_two_stage_retrieval(spark, sf_dir):
    """Two-stage retrieval — the production serving shape end-to-end:
    stage 1 narrows by the LSH bucket (equality join) and ranks a
    SHORT LIST of 8 by a cheap truncated-prefix (dim-16) cosine; stage
    2 rescores only the short list at full dimension and returns the
    final top-3. Coarse recall then exact rerank is how every
    vector-search system trades accuracy for scan cost (IVF probe →
    PQ/ADC scan → exact rerank); here each stage's score is visible so
    the rerank's effect is auditable.

    Scale shape: the query row broadcasts; stage 1 scores only one
    bucket (~1/2^b of the corpus) on 16 of 64 dims — a 4× cheaper fold
    — and keeps 8 rows via TakeOrderedAndProject; stage 2's full-dim
    folds run on exactly 8 rows. Nothing outside the probed bucket is
    read past the bucket key; both stages' ranks carry total
    tie-breaks over bit-identical doubles."""
    e = t(spark, sf_dir, "embeddings").withColumn("bucket", _bucket())
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qb")
    )
    cand = (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .select(
            "vec_id",
            "embedding",
            "qe",
            cosine(F.slice(F.col("embedding"), 1, 16), F.slice(F.col("qe"), 1, 16)).alias(
                "coarse_score"
            ),
        )
        .orderBy(F.col("coarse_score").desc(), "vec_id")
        .limit(8)
    )
    return (
        cand.select(
            "vec_id",
            "coarse_score",
            cosine(F.col("embedding"), F.col("qe")).alias("exact_score"),
        )
        .orderBy(F.col("exact_score").desc(), "vec_id")
        .limit(3)
    )


@query(
    "sim_threshold_calibration",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings
    ),
    pairs AS (
      SELECT {sql_cosine("a.embedding", "e.embedding")} AS cs
      FROM b a JOIN b e ON a.bucket = e.bucket AND a.vec_id < e.vec_id
    ),
    binned AS (
      SELECT GREATEST(0, LEAST(19, CAST(FLOOR((cs + 1.0) * 10.0) AS BIGINT))) AS bin
      FROM pairs
    ),
    spine AS (SELECT unnest(generate_series(0, 19)) AS bin),
    c AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM binned GROUP BY bin)
    SELECT s.bin,
           CAST(s.bin - 10 AS DOUBLE) / 10.0 AS cos_lo,
           CAST(s.bin - 9 AS DOUBLE) / 10.0 AS cos_hi,
           COALESCE(c.n_pairs, 0) AS n_pairs
    FROM spine s LEFT JOIN c USING (bin)
    ORDER BY s.bin
    """,
    tags=("similarity", "calibration", "histogram", "quality"),
)
def sim_threshold_calibration(spark, sf_dir):
    """Semantic-threshold calibration — the embedding-side partner of
    ``dedup_lsh_recall_report``: the cosine distribution over all pairs
    the sign-LSH blocking actually produces, as a fixed 20-bin histogram
    on [-1, 1]. Reading the histogram is how the `_SEM_THRESHOLD` of the
    semantic-dedup family gets chosen (the valley between the near-dup
    mode and the background mass), and re-running it per corpus version
    is the drift check on that choice.

    Scale shape: candidate pairs come from the EQUALITY join on the
    sign-bucket key (never all-pairs — ~n²/16 worst case bounded by
    bucket sizes, the same blocking the ANN queries use); per-pair work
    is one cosine with pre-folded norms; the histogram is a 20-group
    aggregate on a fixed spine. Bin ids floor a bit-identical double and are clamped on BOTH sides
    (a cosine can land an ulp outside [-1, 1] for (anti)parallel pairs —
    an unclamped low side would silently drop rows from the spine join
    in both engines identically, invisible to the differential), so
    counts hash-match exactly and partition every blocked pair."""
    en = _with_norm(t(spark, sf_dir, "embeddings")).withColumn(
        "bucket", _bucket()
    )
    a = en.select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"),
        F.col("en").alias("ena"), "bucket",
    )
    b = en.select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"),
        F.col("en").alias("enb"), F.col("bucket").alias("bucket_b"),
    )
    pairs = (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("ida") < F.col("idb")))
        .select(
            (dot(F.col("ea"), F.col("eb")) / (F.col("ena") * F.col("enb"))).alias("cs")
        )
    )
    binned = pairs.select(
        F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(19).cast("long"), F.floor((F.col("cs") + 1.0) * 10.0).cast("long")),
        ).alias("bin")
    )
    c = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n_pairs"))
    spine = spark.range(0, 20).select(F.col("id").alias("bin"))
    return (
        spine.join(c, "bin", "left")
        .select(
            "bin",
            ((F.col("bin") - 10).cast("double") / F.lit(10.0)).alias("cos_lo"),
            ((F.col("bin") - 9).cast("double") / F.lit(10.0)).alias("cos_hi"),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        )
        .orderBy("bin")
    )


@query(
    "sim_binary_hamming_topk",
    oracle="""
    WITH sig AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(generate_series(1, 63),
                  j -> CASE WHEN embedding[j] > 0
                            THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE 0 END))
                  AS BIGINT) AS sig
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, sig AS qsig FROM sig WHERE vec_id % 97 = 0),
    scored AS (
      SELECT q.qid, s.vec_id,
             CAST(bit_count(xor(q.qsig, s.sig)) AS INTEGER) AS hamming,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY bit_count(xor(q.qsig, s.sig)), s.vec_id)
               AS rk
      FROM q JOIN sig s ON s.vec_id <> q.qid
    )
    SELECT qid, vec_id, hamming, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 5
    ORDER BY qid, rk
    """,
    tags=("similarity", "binary-embedding", "hamming", "topk"),
)
def sim_binary_hamming_topk(spark, sf_dir):
    """BINARY-EMBEDDING retrieval — sign-bit quantization to a single
    63-bit integer signature per vector (one bit per dimension; bit 63
    is left unused so the packed value stays positive in engines whose
    `1 << 63` overflows), then top-k nearest by HAMMING distance
    (`bit_count(xor)`) — the 32×-compression retrieval tier below
    `sim_scalar_quantize` (int8) and `sim_matryoshka_recall`
    (truncation): state-of-practice for billion-vector first-stage
    retrieval, re-ranked by exact cosine downstream
    (`sim_two_stage_retrieval`'s shape). Exact integer signatures,
    integer distances, deterministic vec_id tie-break — no floats
    anywhere after the sign test.

    Shape: signature packing is one map-side fold in codegen; the
    63× size reduction makes the signature relation broadcastable far
    beyond float-vector limits (8 bytes/vector ≈ 1 GB per 128M
    vectors); the query side broadcasts, candidates rank per query in
    a bounded window. At larger query sets the same plan flips the
    broadcast side; at billions of vectors the signature scan is the
    cheapest possible full sweep, or feeds multi-probe LSH bucketing
    (`sim_ann_lsh_bucket`) unchanged."""
    e = t(spark, sf_dir, "embeddings")
    sig_expr = F.expr(
        "aggregate(sequence(0, 62), 0L,"
        " (acc, j) -> acc + CASE WHEN element_at(embedding, j + 1) > 0"
        " THEN shiftleft(1L, j) ELSE 0L END)"
    )
    sig = e.select("vec_id", sig_expr.alias("sig")).persist()
    q = sig.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"), F.col("sig").alias("qsig")
    )
    joined = F.broadcast(q).join(sig, sig.vec_id != F.col("qid"))
    ham = F.bit_count(F.expr("qsig ^ sig")).cast("int")
    w = Window.partitionBy("qid").orderBy(ham, "vec_id")
    scored = joined.select(
        "qid", "vec_id", ham.alias("hamming"), F.row_number().over(w).alias("rk")
    )
    return (
        scored.filter(F.col("rk") <= 5)
        .select("qid", "vec_id", "hamming", F.col("rk").cast("long").alias("rk"))
        .orderBy("qid", "rk")
    )


_MMR_POOL = 16
_MMR_K = 5


def _sql_mmr_pick(sel: str, rank: int) -> str:
    """One MMR selection round as SQL: among candidates not yet in
    ``sel``, maximize 7·sim_q − 3·max_sel_sim (×10 fixed-point, exact
    integers), ties to the smallest vec_id."""
    return f"""
      SELECT c.vec_id, c.sfp, CAST({rank} AS BIGINT) AS rank,
             7 * c.sfp - 3 * MAX(p.pfp) AS mmr_fp
      FROM cand c
      JOIN pairs p ON p.av = c.vec_id
      JOIN {sel} s ON p.bv = s.vec_id
      WHERE c.vec_id NOT IN (SELECT vec_id FROM {sel})
      GROUP BY c.vec_id, c.sfp
      ORDER BY mmr_fp DESC, c.vec_id LIMIT 1
    """


@query(
    "sim_mmr_diversify",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding,
             {sql_units(sql_cosine("e.embedding", "q.qe"), 9)} AS sfp
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY sfp DESC, e.vec_id LIMIT {_MMR_POOL}
    ),
    pairs AS (
      SELECT a.vec_id AS av, b.vec_id AS bv,
             {sql_units(sql_cosine("a.embedding", "b.embedding"), 9)} AS pfp
      FROM cand a, cand b WHERE a.vec_id <> b.vec_id
    ),
    s1 AS (
      SELECT vec_id, sfp, CAST(1 AS BIGINT) AS rank,
             CAST(NULL AS BIGINT) AS mmr_fp
      FROM cand ORDER BY sfp DESC, vec_id LIMIT 1
    ),
    p2 AS ({_sql_mmr_pick("s1", 2)}),
    s2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM p2),
    p3 AS ({_sql_mmr_pick("s2", 3)}),
    s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM p3),
    p4 AS ({_sql_mmr_pick("s3", 4)}),
    s4 AS (SELECT * FROM s3 UNION ALL SELECT * FROM p4),
    p5 AS ({_sql_mmr_pick("s4", 5)}),
    s5 AS (SELECT * FROM s4 UNION ALL SELECT * FROM p5)
    SELECT rank, vec_id, CAST(sfp AS DOUBLE) / 1e9 AS sim_q, mmr_fp
    FROM s5 ORDER BY rank
    """,
    tags=("similarity", "retrieval", "mmr", "diversification"),
)
def sim_mmr_diversify(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking — the standard RAG/search
    diversification pass: from the query's top-{_MMR_POOL} cosine
    candidates, greedily select {_MMR_K} results maximizing
    λ·sim(q,c) − (1−λ)·max_{{s∈selected}} sim(c,s) with λ = 0.7, so the
    short list trades raw relevance against redundancy (the re-rank
    stage after `sim_two_stage_retrieval`'s rescore).

    Determinism: every cosine lands in ×1e9 fixed-point BEFORE any
    comparison (cosines are bit-identical cross-engine per the
    functions.similarity contract), and λ folds to the INTEGER
    objective 7·sfp − 3·max_sel — each greedy argmax is an exact
    integer maximum with vec_id tie-break. The {_MMR_K − 1} selection
    rounds are unrolled dataframe rounds (the `graph_bfs_distance`
    chained-rounds posture) over bounded relations: a {_MMR_POOL}-row
    candidate pool (TakeOrdered), its {_MMR_POOL}×{_MMR_POOL} pairwise
    cosine relation, and a ≤{_MMR_K}-row selected set.

    Scale: candidate generation is the only data-sized stage (broadcast
    query + TakeOrdered top-{_MMR_POOL}); everything after runs on
    O(pool²) rows regardless of corpus size — at 100 TB the pool comes
    from the ANN index instead, same re-rank."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cand = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            units(cosine(F.col("embedding"), F.col("qe")), 9).alias("sfp"),
        )
        .orderBy(F.col("sfp").desc(), "vec_id")
        .limit(_MMR_POOL)
        .persist()
    )
    a = cand.select(
        F.col("vec_id").alias("av"), F.col("embedding").alias("ea")
    )
    b = cand.select(
        F.col("vec_id").alias("bv"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("av") != F.col("bv"))
        .select(
            "av",
            "bv",
            units(cosine(F.col("ea"), F.col("eb")), 9).alias("pfp"),
        )
        .persist()
    )
    sel = (
        cand.orderBy(F.col("sfp").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "sfp",
            F.lit(1).cast("long").alias("rank"),
            F.lit(None).cast("long").alias("mmr_fp"),
        )
    )
    for r in range(2, _MMR_K + 1):
        ms = (
            pairs.join(
                F.broadcast(sel.select(F.col("vec_id").alias("bv"))), "bv"
            )
            .groupBy("av")
            .agg(F.max("pfp").alias("max_sel"))
        )
        pick = (
            cand.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(ms, cand.vec_id == ms.av)
            .select(
                "vec_id",
                "sfp",
                F.lit(r).cast("long").alias("rank"),
                (7 * F.col("sfp") - 3 * F.col("max_sel")).alias("mmr_fp"),
            )
            .orderBy(F.col("mmr_fp").desc(), "vec_id")
            .limit(1)
        )
        # Round-12 (guide §3.3/§5, the _quantiles_refine barrier): each
        # round references `sel` TWICE (the broadcast into ms and the
        # anti-join + union), so without a barrier the selected-set
        # subtree DOUBLES per round — the 5-round plan compiled 2⁴
        # copies of the pool/pairs build (120 BroadcastHashJoins, 40
        # exchanges; ~4.9 s at sf0.1 mostly re-planning tiny stages).
        # `sel` is ≤{_MMR_K} rows — control-plane-sized — so an eager
        # localCheckpoint per round costs one small job and keeps the
        # plan LINEAR in rounds: 4.96 → 2.0 s cold, 4.72 → 1.6 s
        # warm. Hash-identical at sf0.001 + sf0.01.
        sel = eager_barrier(sel.unionAll(pick))
    return sel.select(
        "rank",
        "vec_id",
        (F.col("sfp").cast("double") / 1e9).alias("sim_q"),
        "mmr_fp",
    ).orderBy("rank")


_N_TABLES = 4


def _sql_bucket_j(j: int) -> str:
    return " + ".join(
        f"CASE WHEN embedding[{4 * j + i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(4)
    )


def _bucket_j(j: int) -> Column:
    acc = F.lit(0)
    for i in range(4):
        acc = acc + F.when(
            F.element_at("embedding", 4 * j + i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return acc


@query(
    "sim_ann_multitable",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_sql_bucket_j(j)} AS b{j}" for j in range(_N_TABLES))}
      FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id = 0),
    cand AS (
      {" UNION ".join(
          f"SELECT e.vec_id, e.embedding FROM b e, q WHERE e.b{j} = q.b{j} AND e.vec_id <> 0"
          for j in range(_N_TABLES)
      )}
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand)
    SELECT c.vec_id, {sql_cosine("c.embedding", "q.qe")} AS cos_sim, n.n_candidates
    FROM cand c, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q, n
    ORDER BY cos_sim DESC, c.vec_id LIMIT 10
    """,
    tags=("similarity", "ann", "lsh", "amplification"),
)
def sim_ann_multitable(spark, sf_dir):
    """OR-amplified LSH: {_N_TABLES} independent 4-bit sign-hash tables
    (disjoint component groups), candidates = anyone colliding with the
    query in ANY table — the standard recall amplifier over
    `sim_ann_lsh_bucket`'s single table (miss probability decays as
    (1−p₄)^L), re-ranked by exact cosine. This is how production ANN
    actually deploys hyperplane LSH: several cheap tables, union,
    dedup, exact re-rank of a small candidate set.

    Plan: each table is an EQUALITY join on its bucket key against the
    one-row query (broadcast); the union dedups on vec_id (UNION
    DISTINCT — candidates carry only (vec_id, embedding)); exact
    cosines are computed once per distinct candidate; the emitted
    top-10 is TakeOrdered with vec_id tie-break; candidate count rides
    a one-row broadcast so the recall/cost trade is visible in the
    result itself.

    Scale: bucket keys are map-side integer folds; L grows cost
    linearly while the per-table join stays an equality shuffle —
    never all-pairs (the plan gate enforces it)."""
    e = t(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        "embedding",
        *[_bucket_j(j).alias(f"b{j}") for j in range(_N_TABLES)],
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        *[F.col(f"b{j}").alias(f"qb{j}") for j in range(_N_TABLES)],
    )
    legs = [
        b.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q.select(F.col(f"qb{j}").alias("qb"))), F.col(f"b{j}") == F.col("qb"))
        .select("vec_id", "embedding")
        for j in range(_N_TABLES)
    ]
    cand = legs[0]
    for leg in legs[1:]:
        cand = cand.unionAll(leg)
    cand = cand.dropDuplicates(["vec_id"]).persist()
    n = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    qe = q.select("qe")
    return (
        cand.crossJoin(F.broadcast(qe))
        .crossJoin(F.broadcast(n))
        .select(
            "vec_id",
            cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"),
            "n_candidates",
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


def _sql_ann_sweep_row(L: int) -> str:
    legs = " UNION ".join(
        f"SELECT e.vec_id FROM b e, q WHERE e.b{j} = q.b{j} AND e.vec_id <> 0"
        for j in range(L)
    )
    return f"""
      SELECT CAST({L} AS BIGINT) AS n_tables,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ({legs})) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth t
              WHERE t.vec_id IN ({legs})) AS n_top10_found,
             CAST((SELECT COUNT(*) FROM truth t
                   WHERE t.rk = 1 AND t.vec_id IN ({legs})) > 0
                  AS BOOLEAN) AS top1_found
    """


@query(
    "sim_ann_table_sweep",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {", ".join(f"{_sql_bucket_j(j)} AS b{j}" for j in range(_N_TABLES))}
      FROM embeddings
    ),
    q AS (SELECT * FROM b WHERE vec_id = 0),
    truth AS (
      SELECT e.vec_id,
             row_number() OVER (
               ORDER BY {sql_cosine("e.embedding", "qq.qe")} DESC, e.vec_id
             ) AS rk
      FROM embeddings e,
           (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) qq
      WHERE e.vec_id <> 0
      QUALIFY rk <= 10
    )
    {" UNION ALL ".join(_sql_ann_sweep_row(L) for L in range(1, _N_TABLES + 1))}
    ORDER BY n_tables
    """,
    tags=("similarity", "ann", "lsh", "calibration"),
)
def sim_ann_table_sweep(spark, sf_dir):
    """LSH amplification curve — the L-tables recall/cost trade
    measured, not assumed: for L = 1..{_N_TABLES} OR-ed sign-hash
    tables, how many candidates does the union admit and how much of
    the TRUE cosine top-10 does it capture (plus the headline "did we
    find the top-1"). This is the calibration readout that picks L
    for `sim_ann_multitable` the way `dedup_lsh_recall_report` picks
    the banding for MinHash — the sweep IS the sizing decision, run
    on a sample before the 100 TB pass.

    Determinism: candidate sets are exact (equality joins on integer
    buckets), the truth set is the exact top-10 with vec_id
    tie-break, and every emitted number is an exact count — no
    tolerance bands anywhere.

    Scale: ONE corpus pass computes every vector's FIRST matching
    table index jmin (a vector is a candidate at sweep point L iff
    jmin < L — the L unions are nested, so the sweep is a cumulative
    count over jmin, not {_N_TABLES} re-executed leg unions); the
    truth pass is the declared exact tier (TakeOrdered); the
    {_N_TABLES}-row sweep relation assembles from one ≤{_N_TABLES}-row
    aggregate of (count, top10-count, top1-flag) by jmin. Round 12
    (guide §1.2): the incremental per-L union re-executed leg j
    (N−j) times — 10 leg scans, 4 distinct exchanges and 4 truth
    joins collapsed into this single pass."""
    e = t(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id",
        "embedding",
        *[_bucket_j(j).alias(f"b{j}") for j in range(_N_TABLES)],
    )
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        *[F.col(f"b{j}").alias(f"qb{j}") for j in range(_N_TABLES)],
    )
    truth = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q.select("qe")))
        .select("vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cs"))
        .orderBy(F.col("cs").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.row_number().over(
            Window.orderBy(F.col("cs").desc(), "vec_id")
        ).alias("rk"))
    )
    # One corpus pass: first matching table index per vector (null = never
    # admitted by any table); truth membership rides the same rows via a
    # 10-row broadcast so candidates, top-10 hits and the top-1 flag fold
    # in ONE ≤_N_TABLES-row aggregate.
    jm = (
        b.filter(F.col("vec_id") != 0)
        .crossJoin(
            F.broadcast(q.select(*[f"qb{j}" for j in range(_N_TABLES)]))
        )
        .select(
            "vec_id",
            F.array_min(
                F.array(
                    *[
                        F.when(F.col(f"b{j}") == F.col(f"qb{j}"), F.lit(j))
                        for j in range(_N_TABLES)
                    ]
                )
            ).alias("jmin"),
        )
        .filter(F.col("jmin").isNotNull())
        .join(F.broadcast(truth), "vec_id", "left")
    )
    by_j = jm.groupBy("jmin").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.count("rk").cast("long").alias("c_t10"),
        F.max((F.col("rk") == 1).cast("int")).alias("has_t1"),
    )
    # A jmin=j vector is inside every sweep point L >= j+1: explode each
    # ≤_N_TABLES-row bucket to its covered L range, left-join onto the
    # dense L spine (rows with zero candidates must still appear).
    per_l = by_j.select(
        F.explode(
            F.sequence(F.col("jmin") + 1, F.lit(_N_TABLES))
        ).alias("l"),
        "c",
        "c_t10",
        "has_t1",
    )
    spine = spark.range(1, _N_TABLES + 1).select(
        F.col("id").cast("int").alias("l")
    )
    return (
        spine.join(F.broadcast(per_l), "l", "left")
        .groupBy("l")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce(F.sum("c_t10"), F.lit(0))
            .cast("long")
            .alias("n_top10_found"),
            (F.coalesce(F.max("has_t1"), F.lit(0)) > 0).alias("top1_found"),
        )
        .select(
            F.col("l").cast("long").alias("n_tables"),
            "n_candidates",
            "n_top10_found",
            "top1_found",
        )
        .transform(order_bounded, "n_tables")
    )


_SPC_MIN_SHARED = 3  # candidate gate: pairs sharing >= this many tokens
_SPC_MAX_SLICES = 16  # sliced-broadcast ladder cap (~4 TB of documents);
# beyond it a deployment uses the measured B x B doc-bucket grid instead


def _spc_slices(spark, sf_dir) -> int:
    """Broadcast slices for the sparse-cosine build side: one per 256 MiB of
    documents as the storage layer sizes them, capped at _SPC_MAX_SLICES."""
    doc_bytes = relation_bytes(spark, os.path.join(sf_dir, "documents.parquet"))
    return min(_SPC_MAX_SLICES, int(1 + doc_bytes // (256 * 1024 * 1024)))


@query(
    "sim_sparse_cosine_join",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, h AS tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id, unnest({sql_token_hashes("string_split(text, ' ')")}) AS h
        FROM documents
      ) GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS dfreq FROM tok GROUP BY tok),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tok),
    w AS (
      SELECT t.doc_id, t.tok,
             {sql_units(
                "t.tf * LN((CAST(nd.n_docs AS DOUBLE) + 1.0)"
                " / (CAST(d.dfreq AS DOUBLE) + 1.0))", 6)} AS wfp
      FROM tok t JOIN df d USING (tok) CROSS JOIN nd
    ),
    nrm AS (
      SELECT doc_id, CAST(SUM(CAST(wfp AS HUGEINT) * wfp) AS BIGINT) AS n2
      FROM w GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(CAST(a.wfp AS HUGEINT) * b.wfp) AS BIGINT) AS dot_fp,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
      HAVING COUNT(*) >= {_SPC_MIN_SHARED}
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           CAST(p.dot_fp AS DOUBLE)
             / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
             AS cosine_tfidf
    FROM pairs p
    JOIN nrm na ON na.doc_id = p.doc_a
    JOIN nrm nb ON nb.doc_id = p.doc_b
    ORDER BY cosine_tfidf DESC, p.doc_a, p.doc_b
    LIMIT 25
    """,
    tags=("similarity", "sparse", "tfidf", "join"),
    bench=True,
)
def sim_sparse_cosine_join(spark, sf_dir):
    """SPARSE cosine similarity as a relational join — the tf-idf
    doc-doc similarity that dense-vector ops can't express: a sparse
    dot product IS an equality join on the token key followed by a
    grouped sum (the inverted-index formulation every search engine
    uses), so the all-pairs problem reduces to pairs that actually
    share tokens, gated at ≥{_SPC_MIN_SHARED} shared terms. Completes
    the similarity family's third representation: dense embeddings
    (`sim_knn_bruteforce`), binary signatures
    (`sim_binary_hamming_topk`), and now sparse lexical vectors.

    Determinism: tf-idf weights land in ×1e6 fixed-point AT THE TERM
    (tf · ln((N+1)/(df+1)), one shared-libm ln each, rounded before
    any product), so dot products and norms are EXACT integers in the
    decimal lane; the emitted cosine is one double chain, ordered
    AFTER the exact integers say so? — no: ordered by the final
    double, which is bit-identical cross-engine because every input
    is the same exact integer. Top-25 ties break on (doc_a, doc_b).

    Scale: the join key is the 8-byte token hash; posting lists for
    stop-like tokens fan out quadratically, which production bounds
    by df-capping the posting list (drop tokens with df > cap —
    exactly what the idf weight already sends toward 0). The shuffle
    carries (tok, doc, wfp) triples only — never text."""
    d = t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(token_hashes(tokens("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfq = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("dfreq"))
    nd = tok.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    w = (
        tok.join(dfq, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "tok",
            units(
                F.col("tf")
                * F.log(
                    (F.col("n_docs").cast("double") + 1.0) / (F.col("dfreq").cast("double") + 1.0)
                ),
                6,
            ).alias("wfp"),
        )
        .persist()
    )
    # Round-12 (guide §1.2 per-task work): the pair join below probes
    # ~Σ df² joined rows (448M at sf0.1 — the 31-token synthetic vocab
    # makes every posting list ~n_docs/31 long), and each row paid a
    # 128-bit decimal multiply + decimal sum. The decimal lane is
    # provably redundant inside the query's own output envelope: every
    # wfp ≥ 0 (idf = ln((N+1)/(df+1)) ≥ 0 since df ≤ N), so partial
    # sums are monotone, and the output contract ALREADY casts n2 and
    # dot_fp to BIGINT — by Cauchy-Schwarz dot ≤ √(na2·nb2) ≤ max n2
    # and every per-token product wa·wb ≤ dot, so if the declared
    # outputs fit in int64 (the DuckDB twin's checked HUGEINT→BIGINT
    # cast raises loudly if they ever don't), every intermediate fits
    # too and int64 arithmetic is bit-equal to the decimal lane.
    # Measured at sf0.1: 33.9 → 12.9 s cold (the whole win is the
    # per-joined-row multiply); hashes unchanged at sf0.001 + sf0.01.
    nrm = w.groupBy("doc_id").agg(
        F.sum(F.expr("wfp * wfp")).cast("long").alias("n2")
    )
    # Round-12 (guide §2.4 — establish the partitioning once, where it
    # is cheap): the pair aggregation below groups ~Σ df²/2 generated
    # rows (224M at sf0.1) by (doc_a, doc_b). With w's natural
    # partitioning that cost a full pair-grain exchange AND per-task
    # partial hash maps that saturate toward the full 12.5M-pair key
    # space (every task sees almost every pair — spill + GC dominated
    # the head). Pre-partitioning each join input by its DOC key is a
    # |postings|-row shuffle (116k rows — noise), and a broadcast-hash
    # join preserves the streamed side's partitioning, so whichever
    # side streams, the aggregation's clustering requirement
    # ({doc_a, doc_b} ⊇ one doc key) is already satisfied: the pair
    # aggregate runs complete-per-partition with bounded maps and the
    # 224M-row exchange vanishes. At a posture where w outgrows the
    # broadcast threshold the join reverts to SMJ on tok and the pair
    # exchange returns — the two tiny doc-key shuffles are then wasted
    # work of |postings| rows, a price the BHJ tier's win dwarfs.
    # Measured at sf0.1 (with the fixed-point lane above): 33.9 s →
    # 5.7 s cold, 40.1 → 4.2 s warm; hashes unchanged.
    shuf_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = w.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("wfp").alias("wa")
    ).repartition(shuf_w, "doc_a")
    b = w.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("wfp").alias("wb")
    ).repartition(shuf_w, "doc_b")
    # Round-13 (VERDICT r12 item 5 + guide §8 "broadcast less, in
    # slices"): the pair join's exchange-elimination rode the AUTO
    # broadcast tier, so the cluster-shape rehearsal (auto-broadcast off,
    # 200 partitions) collapsed it to a sort-merge join on the 31-key
    # token column — 31 mega-tasks, 6.3 → 50.0 s (7.9×). Measured
    # fallbacks at that posture: one-sided salt 43 s (partial aggregation
    # scatters each pair across token-tasks), B×B doc-bucket grid 22.5 s
    # (SMJ) / 25 s (SHUFFLE_HASH) — the honest grid regime, but still 3.5×.
    # The production answer is an EXPLICIT broadcast of the build side in
    # SIZE-BOUNDED SLICES: B derives from the source bytes (one slice per
    # ≤256 MiB of documents, the stream_state_width discipline), so each
    # broadcast is bounded by construction at ANY corpus size; B == 1
    # (every local SF) is exactly the old plan with the hint made
    # explicit — posture-independent, honored by the rehearsal as a
    # design decision. At the corpus size where B would exceed
    # _SPC_MAX_SLICES a deployment switches to the measured grid
    # decomposition above; the slice ladder covers ~4 TB of documents
    # before that point.
    n_slices = _spc_slices(spark, sf_dir)
    if n_slices == 1:
        joined = a.join(F.broadcast(b), "tok")
    else:
        # every slice filters b: cache it once. The union runs at the
        # caller's action, so spark.catalog.clearCache() releases it.
        b = b.persist()
        sliced = None
        for j in range(n_slices):
            s = a.join(
                F.broadcast(
                    b.filter(F.pmod(F.xxhash64("doc_b"), F.lit(n_slices)) == j)
                ),
                "tok",
            )
            sliced = s if sliced is None else sliced.unionByName(s)
        joined = sliced
    pairs = (
        joined
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.expr("wa * wb")).cast("long").alias("dot_fp"),
            F.count(F.lit(1)).cast("long").alias("n_shared"),
        )
        .filter(F.col("n_shared") >= _SPC_MIN_SHARED)
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("dot_fp").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("cosine_tfidf"),
        )
        .orderBy(F.col("cosine_tfidf").desc(), "doc_a", "doc_b")
        .limit(25)
    )


_EMB_DUP_COS = 0.99
_EMB_LABEL_CAP = 40


@query(
    "pipeline_embedding_curation",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, label, embedding,
             {sql_dot("embedding", "embedding")} AS n2,
             {_SQL_BUCKET} AS bucket
      FROM embeddings
    ),
    valid AS (SELECT * FROM base WHERE n2 > 0),
    dup_b AS (
      SELECT DISTINCT b.vec_id
      FROM valid a JOIN valid b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {sql_cosine("a.embedding", "b.embedding")} >= {_EMB_DUP_COS}
    ),
    deduped AS (
      SELECT v.* FROM valid v
      WHERE NOT EXISTS (SELECT 1 FROM dup_b d WHERE d.vec_id = v.vec_id)
    ),
    final AS (
      SELECT * FROM deduped
      QUALIFY row_number() OVER (
        PARTITION BY label
        ORDER BY (vec_id * 2654435761) % 1000003, vec_id
      ) <= {_EMB_LABEL_CAP}
    )
    SELECT b.label,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST((SELECT COUNT(*) FROM valid v WHERE v.label = b.label)
                AS BIGINT) AS n_valid,
           CAST((SELECT COUNT(*) FROM deduped d WHERE d.label = b.label)
                AS BIGINT) AS n_deduped,
           CAST((SELECT COUNT(*) FROM final f WHERE f.label = b.label)
                AS BIGINT) AS n_final
    FROM base b GROUP BY b.label
    ORDER BY b.label
    """,
    tags=("pipeline", "curation", "embedding", "composite"),
)
def pipeline_embedding_curation(spark, sf_dir):
    """END-TO-END embedding-corpus curation — the vector-side twin of
    `pipeline_curation_funnel` as ONE declared query: validity gate
    (positive norm — dead/zero vectors out) → near-duplicate drop
    (cosine ≥ {_EMB_DUP_COS} within sign-LSH buckets, keeper = min
    vec_id, the `sim_embedding_near_dup` convention) → per-label cap
    ({_EMB_LABEL_CAP} by deterministic hash priority, the
    `sample_domain_cap` machinery), reporting the per-label funnel
    n_raw ≥ n_valid ≥ n_deduped ≥ n_final.

    Every stage is the already-proven shape: map-side norm fold,
    bucket-equality pair join (never all-pairs — the plan gate
    enforces it), anti-join against the drop set, hash-priority
    QUALIFY. Stages cascade on one pass of the embeddings relation;
    the funnel aggregate makes the pipeline self-auditing (monotone
    counts pinned in tests).

    Scale: the pair stage is the LSH-bucketed candidate plan; the cap
    is a per-label window over the already-thinned relation; at
    100 TB this is exactly the nightly embedding-dedup job."""
    e = t(spark, sf_dir, "embeddings")
    base = (
        e.repartition(max(8, spark.sparkContext.defaultParallelism), "vec_id")
        # One |vectors|-row exchange spreads the single-file scan across
        # executor cores BEFORE the persist, so the bucket self-join's
        # streamed side (and every funnel aggregate) reads a parallel
        # cache instead of pushing all candidate cosines through one
        # task (measured 4.66 -> 2.33 s at sf0.1; the rest is the four
        # funnel aggregates). Width is cluster-derived, not a local
        # constant.
        .select(
            "vec_id",
            "label",
            "embedding",
            dot(F.col("embedding"), F.col("embedding")).alias("n2"),
            _bucket("embedding").alias("bucket"),
        )
        .persist()
    )
    valid = base.filter(F.col("n2") > 0)
    a = valid.select(
        F.col("vec_id").alias("va"), F.col("bucket").alias("ba"),
        F.col("embedding").alias("ea"),
    )
    b = valid.select(
        F.col("vec_id").alias("vb"), F.col("bucket").alias("bb"),
        F.col("embedding").alias("eb"),
    )
    dup_b = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("va") < F.col("vb")))
        .filter(cosine(F.col("ea"), F.col("eb")) >= _EMB_DUP_COS)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
    )
    deduped = valid.join(dup_b, "vec_id", "left_anti")
    w = Window.partitionBy("label").orderBy(
        F.pmod(F.col("vec_id") * 2654435761, F.lit(1000003)), "vec_id"
    )
    final = deduped.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _EMB_LABEL_CAP
    )
    n_raw = base.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    n_valid = valid.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_valid")
    )
    n_dedup = deduped.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_deduped")
    )
    n_final = final.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_final")
    )
    return (
        n_raw.join(n_valid, "label", "left")
        .join(n_dedup, "label", "left")
        .join(n_final, "label", "left")
        .select(
            "label",
            "n_raw",
            F.coalesce("n_valid", F.lit(0)).cast("long").alias("n_valid"),
            F.coalesce("n_deduped", F.lit(0)).cast("long").alias("n_deduped"),
            F.coalesce("n_final", F.lit(0)).cast("long").alias("n_final"),
        )
        .orderBy("label")
    )


# -------------------------------------------------------------------------
# Scaled semantic dedup: adaptive sign-LSH bucket blocking (linear decade)
# -------------------------------------------------------------------------
_SEM_BUCKET_TARGET = 32  # aimed-for vectors per bucket
_SEM_BUCKET_MAX_BITS = 16  # SQL-ladder bound; the formula itself is unbounded


def _sem_plane_sign(i, j):
    """Deterministic ±1 hyperplane entry for (1-indexed input dim i,
    plane j): parity of a nonlinear integer form — exact in both
    engines (same family as _jl_sign, different constants so the LSH
    planes are independent of the JL projection)."""
    return F.when(
        ((i + 3) * (j + 11) * 104729) % 1000003 % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def _sem_plane_dot(emb, j):
    """Sequential fold of <emb, plane_j> — bit-identical to the DuckDB
    list_reduce twin (same order, same per-element IEEE ops)."""
    prods = F.transform(
        emb, lambda x, idx: x.cast("double") * _sem_plane_sign(idx + 1, j)
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _sql_sem_plane_dot(emb: str, j_expr: str) -> str:
    sign = (
        f"(CASE WHEN ((i + 3) * (({j_expr}) + 11) * 104729) % 1000003 % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END)"
    )
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, 64), "
        f"i -> CAST({emb}[i] AS DOUBLE) * {sign})), (x, y) -> x + y)"
    )


_SEM_BUCKET_LADDER = " + ".join(
    f"(CASE WHEN ct >= {1 << k} THEN 1 ELSE 0 END)"
    for k in range(1, _SEM_BUCKET_MAX_BITS + 1)
)
_SEM_BUCKET_TERMS = " + ".join(
    f"(CASE WHEN {k} < p.b AND "
    f"{_sql_sem_plane_dot('e.embedding', f't.tbl * 16 + {k}')} >= 0 "
    f"THEN {1 << k} ELSE 0 END)"
    for k in range(_SEM_BUCKET_MAX_BITS)
)


@query(
    "dedup_semantic_bucket_scaled",
    oracle=f"""
    WITH params AS (
      SELECT LEAST({_SEM_BUCKET_MAX_BITS}, GREATEST(1, {_SEM_BUCKET_LADDER})) AS b
      FROM (SELECT (COUNT(*) + {_SEM_BUCKET_TARGET - 1}) // {_SEM_BUCKET_TARGET}
                   AS ct
            FROM embeddings)
    ),
    buckets AS (
      SELECT e.vec_id, e.embedding, t.tbl,
             {_SEM_BUCKET_TERMS} AS bucket
      FROM embeddings e CROSS JOIN params p CROSS JOIN (VALUES (0), (1)) t(tbl)
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine("a.embedding", "b.embedding")} AS cos_sim
    FROM buckets a JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
    WHERE a.vec_id < b.vec_id
      AND {sql_cosine("a.embedding", "b.embedding")} > {_SEM_THRESHOLD}
    """,
    tags=("dedup", "similarity", "semantic", "embedding", "lsh", "scaled"),
    bench=True,
)
def dedup_semantic_bucket_scaled(spark, sf_dir):
    """Semantic dedup, the LINEAR-decade production tier — built after
    the ×100 soak measured the K=8 cell variant at 764× wall for 100×
    data (SCALE.md): with a FIXED cell count, per-cell population grows
    linearly and within-cell pairs quadratically, so bounded-K blocking
    cannot survive a scale-up no matter how good the plan is.

    Here the blocking key is an adaptive-width sign-LSH bucket:
    b = clamp(1..16, floor(log2(ceil(n / {_SEM_BUCKET_TARGET})))) sign
    bits per table (planes are deterministic ±1 hyperplanes; the dot
    folds are bit-identical cross-engine), TWO independent tables OR'd
    for recall (multi-probe, same shape as `sim_ann_multitable`).
    Bucket count doubles as data doubles → expected bucket population
    stays ~{_SEM_BUCKET_TARGET} and candidate pairs grow O(n), which the
    soak verifies empirically. The 16-bit cap exists only to bound the
    oracle's CASE ladder; the formula is unbounded (100 TB wants
    b≈25 — 32M buckets — and the same two map-side fold columns).

    Blocking-defined semantics, like every SemDeDup-family operator:
    the output is "pairs above τ that share a bucket in either table".
    The K=8 cell variant (`dedup_semantic_cell`) remains the declared
    ORACLE-STRENGTH tier; `sim_kmeans_*` / `sim_ivf_cells` carry the
    centroid-refinement story. The single n = COUNT scalar that sizes b
    is a one-row driver read (control plane, same class as the k-means
    convergence check)."""
    e = t(spark, sf_dir, "embeddings")
    n = e.count()  # one scalar: sizes the bucket width, never row data
    ct = max(1, (n + _SEM_BUCKET_TARGET - 1) // _SEM_BUCKET_TARGET)
    b = max(1, min(_SEM_BUCKET_MAX_BITS, ct.bit_length() - 1))
    en = _with_norm(e)

    def bucketed(tbl: int):
        bucket = F.lit(0)
        for k in range(b):
            bucket = bucket + F.when(
                _sem_plane_dot(F.col("embedding"), tbl * 16 + k) >= 0,
                F.lit(1 << k),
            ).otherwise(F.lit(0))
        return en.select(
            "vec_id", "embedding", "en",
            F.lit(tbl).alias("tbl"), bucket.alias("bucket"),
        )

    buckets = bucketed(0).unionByName(bucketed(1))
    a = buckets.select(
        F.col("vec_id").alias("vec_a"), "tbl", "bucket",
        F.col("embedding").alias("ea"), F.col("en").alias("ena"),
    )
    bb = buckets.select(
        F.col("vec_id").alias("vec_b"), "tbl", "bucket",
        F.col("embedding").alias("eb"), F.col("en").alias("enb"),
    )
    return (
        a.join(bb, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (dot(F.col("ea"), F.col("eb")) / (F.col("ena") * F.col("enb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") > _SEM_THRESHOLD)
        .distinct()
    )


# Planted-cohort recall calibration (VERDICT r8 item 3): the natural 1/7
# sample yields only 1-2 true pairs at sf0.01 — binomially vacuous. Each
# sampled vector instead gets a DETERMINISTIC perturbed twin per level
# (y_i = x_i * (1 + eps * s_i), s_i = ±1 from an exact integer form), so
# every level contributes ~n/7 true pairs (>=30 at sf0.01) at a distinct
# angle band: cos(x, y) ~= 1/sqrt(1+eps^2) when the ±mass balances —
# ~0.96 / 0.88 / 0.76 / 0.61 for these eps — all above tau=0.4, spanning
# the S-curve from the easy high-cosine band real SemDeDup targets down
# to the hard near-threshold band.
_SEM_RECALL_LEVELS = ((0, 0.30), (1, 0.55), (2, 0.85), (3, 1.30))


def _sem_twin_sign(i1, lvl, vid):
    """Deterministic ±1 from (1-based dim, level, vec_id): nonlinear
    integer form, exact in both engines (same family as _sem_plane_sign;
    vec_id folded in so twins vary within a level). Factors are cast to
    long BEFORE multiplying — the product reaches ~8.5e9, past int32."""
    m = (
        (i1.cast("long") + F.lit(13))
        * (lvl.cast("long") + F.lit(7))
        * (F.pmod(vid.cast("long"), F.lit(89)) + F.lit(17))
        * F.lit(104729)
    )
    return F.lit(1.0) - 2.0 * F.pmod(F.pmod(m, F.lit(1000003)), F.lit(2)).cast(
        "double"
    )


_SQL_SEM_TWIN = """list_transform(generate_series(1, 64), i ->
           CAST(embedding[i] AS DOUBLE) * (1.0 + CAST(eps AS DOUBLE) * CAST(
             1 - 2 * (((CAST(i AS BIGINT) + 13) * (lvl + 7)
                       * (vec_id % 89 + 17) * 104729) % 1000003 % 2)
           AS DOUBLE)))"""


def _sql_sem_bucket_terms(emb_expr: str) -> str:
    """The adaptive-width sign-LSH bucket ladder over an arbitrary
    embedding expression (the e.embedding instance is _SEM_BUCKET_TERMS)."""
    return " + ".join(
        f"(CASE WHEN {k} < p.b AND "
        f"{_sql_sem_plane_dot(emb_expr, f't.tbl * 16 + {k}')} >= 0 "
        f"THEN {1 << k} ELSE 0 END)"
        for k in range(_SEM_BUCKET_MAX_BITS)
    )


_SQL_SEM_LEVELS = ", ".join(
    f"({lvl}, CAST({eps} AS DOUBLE))" for lvl, eps in _SEM_RECALL_LEVELS
)


@query(
    "dedup_semantic_recall_report",
    oracle=f"""
    WITH params AS (
      SELECT LEAST({_SEM_BUCKET_MAX_BITS}, GREATEST(1, {_SEM_BUCKET_LADDER})) AS b
      FROM (SELECT (COUNT(*) + {_SEM_BUCKET_TARGET - 1}) // {_SEM_BUCKET_TARGET}
                   AS ct
            FROM embeddings)
    ),
    levels AS (SELECT * FROM (VALUES {_SQL_SEM_LEVELS}) AS v(lvl, eps)),
    sample AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0
    ),
    twins AS (
      SELECT vec_id, lvl, eps, embedding,
             {_SQL_SEM_TWIN} AS temb
      FROM sample CROSS JOIN levels
    ),
    bucketed AS (
      SELECT e.vec_id, e.lvl, e.eps, t.tbl,
             {_sql_sem_bucket_terms("e.embedding")} AS bo,
             {_sql_sem_bucket_terms("e.temb")} AS bt,
             {sql_cosine("e.embedding", "e.temb")} AS cos_sim
      FROM twins e CROSS JOIN params p CROSS JOIN (VALUES (0), (1)) t(tbl)
    ),
    wide AS (
      SELECT vec_id, lvl, eps, MAX(cos_sim) AS cos_sim,
             MAX(CASE WHEN tbl = 0 THEN bo END) AS bo0,
             MAX(CASE WHEN tbl = 1 THEN bo END) AS bo1,
             MAX(CASE WHEN tbl = 0 THEN bt END) AS bt0,
             MAX(CASE WHEN tbl = 1 THEN bt END) AS bt1
      FROM bucketed GROUP BY vec_id, lvl, eps
    ),
    truth AS (
      SELECT lvl, eps,
             CASE WHEN bo0 = bt0 OR bo1 = bt1 THEN 1 ELSE 0 END AS caught,
             ROUND(1.0
                   - (1.0 - POW(1.0 - ACOS(LEAST(GREATEST(cos_sim, -1.0),
                                                 1.0)) / PI(), p.b))
                   * (1.0 - POW(1.0 - ACOS(LEAST(GREATEST(cos_sim, -1.0),
                                                 1.0)) / PI(), p.b)), 6) AS p6
      FROM wide CROSS JOIN params p
      WHERE cos_sim > {_SEM_THRESHOLD}
    )
    SELECT lvl AS level, eps,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           CAST(SUM(caught) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm,
           ROUND(SUM(p6), 6) AS expected_caught,
           ROUND(SQRT(SUM(p6 * (1.0 - p6))), 6) AS sigma,
           CAST(ABS(CAST(SUM(caught) AS DOUBLE) - ROUND(SUM(p6), 6))
                < 4.0 * ROUND(SQRT(SUM(p6 * (1.0 - p6))), 6) + 1.5
                AS BOOLEAN) AS within_tolerance
    FROM truth GROUP BY lvl, eps ORDER BY lvl
    """,
    tags=("dedup", "similarity", "semantic", "lsh", "calibration", "recall"),
)
def dedup_semantic_recall_report(spark, sf_dir):
    """Blocking-recall calibration for `dedup_semantic_bucket_scaled`,
    with STATISTICAL content (VERDICT r8 item 3 — the previous natural
    1/7-sample truth pass found 1-2 true pairs, so measured-vs-expected
    recall was binomially vacuous): every ~7th vector gets a
    deterministic perturbed twin per calibration level
    (y_i = x_i·(1+eps·s_i), s_i exact-integer ±1), planting ≥30 true
    pairs PER LEVEL at sf0.01 across four angle bands (cos ≈ 0.96 →
    0.61, all above τ={_SEM_THRESHOLD}). For each planted pair the
    report measures whether the pair shares a production sign-LSH bucket
    in either table, and compares the caught count against the S-curve
    expectation Σ 1-(1-p^b)², p = 1-θ/π, with a binomial verdict
    |measured − expected| < 4σ + 1.5 (σ = √Σp(1-p); the 1.5 absolute
    slack is the integer-count analog of the bloom calibrator's 0.003 —
    `profile_bloom_fpp_calibration`). The bucket width b comes from the
    FULL corpus count, so the cohort is scored under production
    blocking, not easier sample-sized blocking.

    Float parity (ADVICE r8): ACOS/POW are not correctly-rounded, so the
    theory terms are rounded to 6 digits PER PAIR before summing and the
    sums re-rounded to 6 — ulp-level engine drift cannot reach the
    emitted digits, and the boolean verdict carries the 1.5-count slack
    besides. Everything else (twin construction, cosines, buckets,
    counts) is exact integer arithmetic or identical IEEE fold chains.

    Scale shape: the truth stage is O(n) — each vector meets only its
    own 4 planted twins, never other vectors (the previous design's
    sampled all-pairs join is gone); bucketing is the same map-side fold
    columns as the production tier; the report is a 4-row aggregate."""
    e = t(spark, sf_dir, "embeddings")
    n = e.count()  # full-corpus scalar: production bucket width
    ct = max(1, (n + _SEM_BUCKET_TARGET - 1) // _SEM_BUCKET_TARGET)
    b = max(1, min(_SEM_BUCKET_MAX_BITS, ct.bit_length() - 1))
    levels = F.array(
        *[
            F.struct(F.lit(lvl).alias("lvl"), F.lit(eps).alias("eps"))
            for lvl, eps in _SEM_RECALL_LEVELS
        ]
    )
    twins = (
        e.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id", "embedding", F.explode(levels).alias("L"))
        .select("vec_id", "embedding", "L.lvl", "L.eps")
        .withColumn(
            "temb",
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                * (
                    F.lit(1.0)
                    + F.col("eps")
                    * _sem_twin_sign(i + F.lit(1), F.col("lvl"), F.col("vec_id"))
                ),
            ),
        )
    )

    def bucket_col(emb_name: str, tbl: int):
        acc = F.lit(0)
        for k in range(b):
            acc = acc + F.when(
                _sem_plane_dot(F.col(emb_name), tbl * 16 + k) >= 0,
                F.lit(1 << k),
            ).otherwise(F.lit(0))
        return acc

    scored = twins.select(
        "lvl",
        "eps",
        bucket_col("embedding", 0).alias("bo0"),
        bucket_col("embedding", 1).alias("bo1"),
        bucket_col("temb", 0).alias("bt0"),
        bucket_col("temb", 1).alias("bt1"),
        (
            dot(F.col("embedding"), F.col("temb"))
            / (norm(F.col("embedding")) * norm(F.col("temb")))
        ).alias("cos_sim"),
    )
    p_bit = 1.0 - F.acos(
        F.least(F.greatest(F.col("cos_sim"), F.lit(-1.0)), F.lit(1.0))
    ) / F.lit(3.141592653589793)
    p_tbl = F.pow(p_bit, F.lit(float(b)))
    p6 = F.round(1.0 - (1.0 - p_tbl) * (1.0 - p_tbl), 6)
    truth = scored.filter(F.col("cos_sim") > _SEM_THRESHOLD).select(
        "lvl",
        "eps",
        ((F.col("bo0") == F.col("bt0")) | (F.col("bo1") == F.col("bt1")))
        .cast("long")
        .alias("caught"),
        p6.alias("p6"),
    )
    return (
        truth.groupBy("lvl", "eps")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("caught").cast("long").alias("n_caught"),
            F.round(F.sum("p6"), 6).alias("expected_caught"),
            F.round(F.sqrt(F.sum(F.col("p6") * (1.0 - F.col("p6")))), 6).alias(
                "sigma"
            ),
        )
        .select(
            F.col("lvl").alias("level"),
            "eps",
            "n_pairs",
            "n_caught",
            F.expr("n_caught * 1000000 div n_pairs").alias("recall_ppm"),
            "expected_caught",
            "sigma",
            (
                F.abs(F.col("n_caught").cast("double") - F.col("expected_caught"))
                < 4.0 * F.col("sigma") + 1.5
            ).alias("within_tolerance"),
        )
        .transform(order_bounded, "level")
    )
