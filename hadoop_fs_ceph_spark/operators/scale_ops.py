"""Scale-technique operators: the physical-plan patterns that keep a
100 TB job alive, each expressed so its *result* is still exactly
oracle-checkable against the naive formulation.

* ``join_skew_salted``   — salt a hot join key across N sub-keys so one
                           skewed key's rows spread over N tasks (the
                           manual fallback when AQE skew handling can't
                           see the skew, e.g. pre-shuffle bucketing).
* ``join_range_binned``  — turn a pure interval predicate (no equality
                           key) into an equi-join on a time bin; without
                           this a range join is a nested-loop cartesian.
* ``sim_ivf_cells``      — IVF-style ANN: assign vectors to their nearest
                           coarse centroid (map-only vs a broadcast
                           centroid table), probe the query's top cells
                           only — the candidates-then-rank index shape
                           that bounds scoring work at any corpus size.

Reference parity note: the reference (a Hadoop→Ceph FS connector,
`CephRgwFileSystem.java`) contains no join/similarity machinery; these
operators belong to the engine layer built on top of its storage surface
(SURVEY.md §2B north-star rows).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import dsum, sql_dsum
from hadoop_fs_ceph_spark.functions.similarity import cosine, sql_cosine
from hadoop_fs_ceph_spark.operators.tpch import _REV
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t

_N_SALT = 8


@query(
    "join_skew_salted",
    oracle=f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_lines, {sql_dsum(_REV, "revenue")}
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "skew", "salt"),
)
def join_skew_salted(spark, sf_dir):
    """Skew-salted fact-fact join. The fact side appends a deterministic
    salt in [0, N); the other side explodes each row into all N salts; the
    join key becomes (orderkey, salt), so a pathological orderkey's rows
    land in N different shuffle partitions instead of one straggler task.
    The oracle is the UNSALTED join — identical results prove salting is a
    pure physical rewrite. At 100 TB: N chosen per observed skew (rows per
    hottest key / target partition rows); the N× duplication is confined
    to the exploded side, which is why the bigger relation gets the salt
    and the smaller one the explosion."""
    li = t(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(_N_SALT))
    )
    o = t(spark, sf_dir, "orders").withColumn(
        "osalt", F.explode(F.array(*[F.lit(i) for i in range(_N_SALT)]))
    )
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey) & (F.col("salt") == F.col("osalt")),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.expr(_REV), "revenue"),
        )
        .transform(order_bounded, "o_orderpriority")
    )


@query(
    "join_range_binned",
    oracle="""
    SELECT p.event_id, COUNT(*) AS n_clicks
    FROM events p JOIN events c
      ON c.event_type = 'click'
     AND c.ts > p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    ORDER BY p.event_id
    """,
    tags=("join", "range", "binned"),
)
def join_range_binned(spark, sf_dir):
    """Interval join with NO equality key — clicks from any user in the
    hour before each purchase — rewritten as an equi-join on an hour bin.
    Each purchase emits its window's two covering bins (the 1-hour lookback
    spans at most two hour buckets); clicks carry their own bin; the exact
    interval predicate filters the binned candidates. The oracle is the
    naive theta join. At scale the naive plan is a broadcast-nested-loop /
    cartesian (there is no key!); the binned plan shuffles both sides by
    the bin key, and work scales with events-per-hour × windows, not
    |clicks| × |purchases|."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts"),
        F.expr("unix_micros(ts) div 3600000000").alias("bin"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.col("ts").alias("p_ts"),
        F.expr("unix_micros(ts) div 3600000000").alias("p_bin"),
    )
    probed = purchases.withColumn(
        "bin", F.explode(F.array(F.col("p_bin") - 1, F.col("p_bin")))
    )
    return (
        probed.join(clicks, "bin")
        .filter(
            (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
        .orderBy("event_id")
    )


_CENT_LO, _CENT_HI = 1, 8  # vec_ids whose embeddings serve as coarse centroids
_N_PROBE = 2


@query(
    "sim_ivf_cells",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS ce
      FROM embeddings WHERE vec_id BETWEEN {_CENT_LO} AND {_CENT_HI}
    ),
    assign AS (
      SELECT e.vec_id, e.embedding, c.cent_id,
             {sql_cosine("e.embedding", "c.ce")} AS cs
      FROM embeddings e CROSS JOIN cents c
      QUALIFY row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY cs DESC, c.cent_id) = 1
    ),
    probe AS (
      SELECT c.cent_id AS cell, {sql_cosine("q.embedding", "c.ce")} AS qcs
      FROM embeddings q CROSS JOIN cents c
      WHERE q.vec_id = 0
      QUALIFY row_number() OVER (ORDER BY qcs DESC, c.cent_id) <= {_N_PROBE}
    ),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT a.vec_id, {sql_cosine("a.embedding", "qv.qe")} AS cos_sim
    FROM assign a JOIN probe p ON a.cent_id = p.cell CROSS JOIN qv
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id
    LIMIT 5
    """,
    tags=("similarity", "ann", "ivf"),
)
def sim_ivf_cells(spark, sf_dir):
    """IVF (inverted-file) ANN with explicit coarse centroids. Build:
    every vector is assigned to its nearest centroid — a map-only pass
    against a broadcast centroid table (k centroids, here the embeddings
    of vec_ids 1..8 so the oracle shares them; production would k-means
    them). Search: the query probes its nProbe=2 best cells and scores
    only vectors assigned there. All cosine math is the sequential-fold
    expression shared with the oracle — bit-identical doubles, so the
    cell boundaries agree exactly across engines. At 100 TB: k grows ~√n
    keeping cells bounded; assignment is embarrassingly parallel and the
    per-query cost is nProbe·(n/k) instead of n."""
    e = t(spark, sf_dir, "embeddings")
    cents = e.filter(F.col("vec_id").between(_CENT_LO, _CENT_HI)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("ce")
    )
    scored = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "embedding",
        "cent_id",
        cosine(F.col("embedding"), F.col("ce")).alias("cs"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), "cent_id")
    assign = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "cent_id")
    )
    w_probe = Window.orderBy(F.col("cs").desc(), "cent_id")
    probe = (
        scored.filter(F.col("vec_id") == 0)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _N_PROBE)
        .select(F.col("cent_id").alias("cell"))
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return (
        assign.join(F.broadcast(probe), assign.cent_id == F.col("cell"))
        .crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .select("vec_id", cosine(F.col("embedding"), F.col("qe")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
    )
