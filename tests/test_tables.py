"""Parquet schema resolution: ``read_parquet`` infers a path's schema once
per file listing and session inference confs, and ``tables.t`` goes
through it; ``relation_bytes`` sizes a table from the same listing."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType
from pyspark.errors import AnalysisException

from hadoop_fs_ceph_spark.sources import readers
from hadoop_fs_ceph_spark.operators.similarity import _spc_slices
from hadoop_fs_ceph_spark.sources.readers import read_parquet, relation_bytes
from hadoop_fs_ceph_spark.streaming import events_stream, stream_state_width
from hadoop_fs_ceph_spark.tables import t

_groups = itertools.count()


def jobs_run(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_groups)}"
    sc.setJobGroup(group, "read_parquet job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def write(spark, path, ncols):
    cols = [F.col("id").alias(f"c{i}") for i in range(ncols)]
    spark.range(5).select(*cols).write.mode("overwrite").parquet(path)


def test_hit_runs_no_job(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write(spark, path, 2)
    first, n_first = jobs_run(spark, lambda: read_parquet(spark, path))
    again, n_again = jobs_run(spark, lambda: read_parquet(spark, path))
    assert n_first >= 1
    assert n_again == 0
    assert again.schema == first.schema


def test_rewrite_with_extra_column_is_seen(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write(spark, path, 2)
    assert read_parquet(spark, path).columns == ["c0", "c1"]
    write(spark, path, 3)
    df, n = jobs_run(spark, lambda: read_parquet(spark, path))
    assert df.columns == ["c0", "c1", "c2"]
    assert n >= 1
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    # Written without Spark's schema in the footer, which would win over
    # the conf.
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).schema["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        assert read_parquet(spark, path).schema["b"].dataType == StringType()
        spark.conf.set(key, "false")
        assert read_parquet(spark, path).schema["b"].dataType == BinaryType()
    finally:
        spark.conf.set(key, saved)


def test_one_entry_per_path(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write(spark, a, 1)
    write(spark, b, 2)
    before = len(readers._schemas)
    read_parquet(spark, a)
    read_parquet(spark, b)
    assert len(readers._schemas) == before + 2
    assert readers._schemas[a][1] != readers._schemas[b][1]

    write(spark, a, 3)
    read_parquet(spark, a)
    assert len(readers._schemas) == before + 2
    assert readers._schemas[a][1].fieldNames() == ["c0", "c1", "c2"]


def test_hit_on_lineitem_collects_the_uncached_rows(spark, sf_dir):
    path = os.path.join(sf_dir, "lineitem.parquet")
    read_parquet(spark, path)
    hit, n = jobs_run(spark, lambda: read_parquet(spark, path))
    assert n == 0
    plain = spark.read.parquet(path)
    assert hit.schema == plain.schema
    assert sorted(hit.collect()) == sorted(plain.collect())


def test_events_load_resolves_its_schema_once(spark, sf_dir):
    first = t(spark, sf_dir, "events")
    again, n = jobs_run(spark, lambda: t(spark, sf_dir, "events"))
    assert n == 0
    assert again.dtypes == first.dtypes
    assert dict(again.dtypes)["ts"] == "timestamp"


def test_partitioned_hit_keeps_column_order_and_types(spark, tmp_path):
    path = str(tmp_path / "part")
    spark.range(6).select(
        F.col("id"), (F.col("id") % 2).alias("p"), F.lit("x").alias("s")
    ).write.partitionBy("p").parquet(path)
    first = read_parquet(spark, path)
    hit, n = jobs_run(spark, lambda: read_parquet(spark, path))
    assert n == 0
    assert hit.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(hit.collect()) == sorted(spark.read.parquet(path).collect())


def test_unlistable_path_is_spark_error_and_not_kept(spark, tmp_path):
    path = str(tmp_path / "missing")
    with pytest.raises(AnalysisException):
        read_parquet(spark, path)
    assert path not in readers._schemas


def test_relation_bytes_sizes_without_os(spark, sf_dir, tmp_path, monkeypatch):
    """Slice count and state width come from the Hadoop listing: the same
    on sf0.001 with ``os.walk``/``getsize`` refusing, and past their floors
    on sparse table directories of 300 MiB (documents) and 1 GiB (events)."""
    MiB = 1024 * 1024
    docs = os.path.join(sf_dir, "documents.parquet")
    events = os.path.join(sf_dir, "events.parquet")
    sizes = (os.path.getsize(docs), os.path.getsize(events))
    for table, size in (("documents", 300 * MiB), ("events", 1024 * MiB)):
        (tmp_path / f"{table}.parquet").mkdir()
        with open(tmp_path / f"{table}.parquet" / "part-0.parquet", "wb") as f:
            f.truncate(size)

    def refuse(*args, **kwargs):
        raise AssertionError("sized through os, not the storage layer")

    monkeypatch.setattr(os, "walk", refuse)
    monkeypatch.setattr(os.path, "getsize", refuse)

    assert (relation_bytes(spark, docs), relation_bytes(spark, events)) == sizes
    assert _spc_slices(spark, sf_dir) == 1
    assert stream_state_width(sf_dir) == 8
    assert relation_bytes(spark, str(tmp_path / "documents.parquet")) == 300 * MiB
    assert _spc_slices(spark, str(tmp_path)) == 2
    assert stream_state_width(str(tmp_path)) == 9
    with pytest.raises(FileNotFoundError):
        relation_bytes(spark, str(tmp_path / "missing.parquet"))


def test_events_load_keeps_caller_nanos_conf_and_types_ts_alike(spark, sf_dir):
    """Loading the fixture ``events`` (batch or stream) leaves the caller's
    ``nanosAsLong`` as it was: it is a schema-cache key, so flipping it
    would re-infer every table read after. Both paths read ``ts`` as the
    same zoned TIMESTAMP."""
    from bench import confs

    key = "spark.sql.legacy.parquet.nanosAsLong"
    with confs(spark, {key: "false"}):
        batch = t(spark, sf_dir, "events")
        stream = events_stream(spark, sf_dir)
        assert spark.conf.get(key) == "false"
    assert dict(batch.dtypes)["ts"] == dict(stream.dtypes)["ts"] == "timestamp"
