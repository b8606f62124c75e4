"""Streaming semantics beyond the oracle checks:

* append mode + watermark must *withhold* windows that the watermark has
  not finalized when the input drains (late-data discipline) — exactly the
  windows within 10 minutes of the max event time.
* batch equivalence: the complete-mode streaming aggregate equals the same
  aggregation run as a batch query.
* the events source picks its layout (one file or a directory of parts)
  through the storage layer, never through ``os``.
"""

import os

import pyspark.sql.functions as F
import pytest

from hadoop_fs_ceph_spark.streaming import events_stream, run_to_memory
from hadoop_fs_ceph_spark.tables import t


def test_append_watermark_withholds_tail(spark, sf_dir):
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    streamed = run_to_memory(agg, "t_append_wm", "append").collect()

    batch = t(spark, sf_dir, "events")
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    full = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n")
        .collect()
    )
    import datetime

    wm = max_ts - datetime.timedelta(minutes=10)
    expected = {(r.w_start, r.n) for r in full if r.w_end <= wm}
    got = {(r.w_start, r.n) for r in streamed}
    assert got == expected
    # sanity: something was withheld (the unfinalized tail) and something emitted
    assert len(got) < len(full)
    assert len(got) > 0


def test_trending_topk_watermarked_eviction_horizon(spark, sf_dir):
    """stream_trending_topk_watermarked must emit top-2 rows for EXACTLY
    the daily windows the 1-hour watermark finalized (w_end ≤ max_ts−1h)
    and withhold the open tail — the bounded-state contract vs the
    complete-mode twin, which must agree on every finalized window."""
    import datetime

    from hadoop_fs_ceph_spark.registry import load_all

    SPECS = load_all()
    wm_rows = SPECS["stream_trending_topk_watermarked"].fn(spark, sf_dir).collect()
    full_rows = SPECS["stream_trending_topk"].fn(spark, sf_dir).collect()

    max_ts = t(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=1)
    finalized = {
        r.w_start
        for r in full_rows
        if r.w_start + datetime.timedelta(days=1) <= horizon
    }
    assert {r.w_start for r in wm_rows} == finalized
    assert len(finalized) > 0  # something emitted
    assert finalized < {r.w_start for r in full_rows}  # the open tail withheld
    # on finalized windows, both forms agree row-for-row
    want = {(r.w_start, r.event_type, r.n, r.rnk) for r in full_rows if r.w_start in finalized}
    assert {(r.w_start, r.event_type, r.n, r.rnk) for r in wm_rows} == want


def test_streaming_equals_batch_counts(spark, sf_dir):
    s = events_stream(spark, sf_dir)
    streamed = run_to_memory(
        s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")), "t_equiv", "complete"
    )
    batch = t(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert {(r.event_type, r.n) for r in streamed.collect()} == {
        (r.event_type, r.n) for r in batch.collect()
    }


def test_max_files_per_trigger_batches_are_slices(spark, sf_dir):
    import pyspark.sql.functions as F

    from hadoop_fs_ceph_spark.registry import load_all
    from hadoop_fs_ceph_spark.tables import t

    got = load_all()["stream_max_files_per_trigger"].fn(spark, sf_dir).collect()
    assert len(got) == 4  # one micro-batch per landed file
    sizes = sorted(r["batch_rows"] for r in got)
    truth = sorted(
        r["n"]
        for r in t(spark, sf_dir, "events")
        .groupBy((F.col("event_id") % 4).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sizes == truth
    assert sum(sizes) == t(spark, sf_dir, "events").count()


def test_rocksdb_state_store_materializes_ssts(spark, sf_dir, tmp_path):
    """`stream_rocksdb_state_window` claims the RocksDB state backend —
    pin that the provider actually engages: a stateful drain with the
    provider set must leave RocksDB SST artifacts in the checkpoint's
    state directory (a silent fallback to the default provider would
    leave the usual .delta/.snapshot files and no SSTs)."""
    import os

    key = "spark.sql.streaming.stateStore.providerClass"
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    spark.conf.set(key, provider)
    try:
        s = events_stream(spark, sf_dir)
        agg = (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        ck = str(tmp_path / "ck")
        q = (
            agg.writeStream.format("memory")
            .queryName("rocks_pin")
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.unset(key)
    ssts = [
        os.path.join(r, f)
        for r, _, fs in os.walk(os.path.join(ck, "state"))
        for f in fs
        if f.endswith(".sst") or r.endswith("SSTs")
    ]
    assert ssts, "no RocksDB SST artifacts under the checkpoint state dir"


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_events_stream_layout_comes_from_storage_layer(
    spark, sf_dir, tmp_path, monkeypatch, layout
):
    """The file-or-directory choice reads the path's Hadoop ``FileStatus``,
    so a root ``os`` cannot see (``s3a://``, ``viewfs://``) streams too."""
    data_dir = sf_dir
    if layout == "directory":
        data_dir = str(tmp_path)
        src = os.path.join(sf_dir, "events.parquet")
        dst = os.path.join(data_dir, "events.parquet")
        spark.read.parquet(src).repartition(3).write.parquet(dst)

    def refuse(*args, **kwargs):
        raise AssertionError("layout chosen through os, not the storage layer")

    monkeypatch.setattr(os.path, "isdir", refuse)
    drained = run_to_memory(events_stream(spark, data_dir), f"t_layout_{layout}", "append")
    assert drained.count() == t(spark, sf_dir, "events").count() > 0
