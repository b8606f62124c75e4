"""Streaming building blocks: the events file-stream source and a
finite-drain runner (availableNow → memory sink).

At production scale the same plans run unchanged against an unbounded
directory (or Kafka) with a real sink; ``availableNow`` is the bounded
verification mode. Checkpoint dirs are per-run scratch — a real deployment
points them at durable storage.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.sources.readers import read_parquet, relation_bytes

# --- streaming-state audit capture ------------------------------------------
# When the scale-audit CLI (plans/__main__.py --all) audits a streaming
# query, it must see the PRE-SINK streaming plan without draining the
# stream. It sets `_capture` to a list; every sink entry point then records
# (sink_name, output_mode, state_flags) and raises AuditStop instead of
# starting the query. Normal runs (``_capture is None``) are unaffected.
_capture: list | None = None


class AuditStop(Exception):
    """Raised by audit_gate in audit mode — the stream was inspected, not run."""


def audit_gate(sdf: DataFrame, name: str, output_mode: str) -> None:
    """Record the streaming-state audit for a sink-bound plan and, in audit
    mode, stop before the stream starts. Called by run_to_memory and by
    every streaming query that drives its own ``writeStream...start()``."""
    if _capture is None:
        return
    from hadoop_fs_ceph_spark.plans.inspect import streaming_state_flags

    _capture.append((name, output_mode, streaming_state_flags(sdf, output_mode)))
    raise AuditStop(name)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events table directory.

    Schema comes from a batch read (streaming file sources require an
    explicit schema — inference would be an extra full pass at scale).
    ``ts`` is normalized to a zoned TIMESTAMP exactly like the batch path
    in ``tables.t`` — handles both the old NANOS-as-long fixtures and the
    current TIMESTAMP(MICROS) no-tz fixtures (Spark 4 reads the latter as
    TIMESTAMP_NTZ, which ``withWatermark`` rejects).
    """
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw_schema = read_parquet(spark, path).schema
    if os.path.isdir(path):
        # Spark-written layout (e.g. the soak replicas): events.parquet is
        # a DIRECTORY of part files — stream it directly; the glob filter
        # below would reject every part-*.parquet inside it.
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # Single-file fixture layout: the file stream source requires a
        # *directory*; stream the sf_dir and glob-filter down to the
        # events table file(s).
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def stream_state_width(sf_dir: str, table: str = "events") -> int:
    """STATE-partition width for a streaming query, derived from the
    source table's size as its storage layer lists it (``relation_bytes``
    through the active session) — the same data-sized-width discipline
    the iterative graph operators use (guide §2: make partitioning
    scale-adaptive, not a constant tuned for one deployment).

    A streaming aggregation/dedup opens, commits, and checkpoints one
    state store per shuffle partition per stateful operator per
    micro-batch; that lifecycle is pure fixed cost wherever the
    per-partition state is small. Inheriting the session's
    ``spark.sql.shuffle.partitions`` (sized for batch scans) buys
    nothing — state width is frozen into the checkpoint at first start
    and never re-planned with cluster width — so the width should track
    the DATA: one state partition per ~128 MiB of source, floor 8.
    Measured at sf0.1 (2 MiB events): the chained dedup→window head's
    availableNow drain drops 3.5 s → ~1.6 s with identical results (the
    hash partitioning of keys over fewer stores changes no group). At
    100 TB of events the same rule yields thousands of partitions. A
    real deployment that wants a different width pins it via
    ``spark.sql.shuffle.partitions`` at FIRST start of its checkpoint;
    this rule is the sane default the fixtures and soaks exercise."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    n_bytes = relation_bytes(SparkSession.active(), path)
    return max(8, n_bytes // (128 * 1024 * 1024) + 1)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_width: int | None = None,
) -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink
    and return the resulting (batch) table.

    The sink table name is uniquified per invocation: a memory sink in
    append mode otherwise accumulates across re-runs of the same declared
    query within one session (fresh checkpoint ⇒ full replay ⇒ doubled
    rows).

    ``state_width`` (from :func:`stream_state_width`) sets
    ``spark.sql.shuffle.partitions`` for the duration of the start —
    the conf is read when the query begins and frozen into its (fresh)
    checkpoint, so restoring it afterwards cannot affect the running
    stream; batch queries composed around the drain see the session
    value untouched."""
    audit_gate(sdf, name, output_mode)
    spark = sdf.sparkSession
    run_id = uuid.uuid4().hex[:8]
    table = f"{name}_{run_id}"
    checkpoint = scratch.fresh("ckpt")
    old_width = spark.conf.get("spark.sql.shuffle.partitions")
    if state_width is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_width))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if state_width is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_width)
    return spark.table(table)
