"""Parquet relation reuse: ``read_parquet`` resolves a path once per
session, file listing and session conf map, and ``tables.t`` goes
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


def test_any_conf_change_resolves_again(spark, tmp_path):
    """The key holds the session's whole conf map, not a list of the confs
    a relation is known to capture: a conf no such list named still makes
    the next read resolve the path again, and so does putting it back."""
    path = str(tmp_path / "tbl")
    write(spark, path, 2)
    key = "spark.sql.parquet.filterPushdown"
    saved = spark.conf.get(key)
    read_parquet(spark, path)
    try:
        spark.conf.set(key, "false")
        _, n_changed = jobs_run(spark, lambda: read_parquet(spark, path))
        _, n_hit = jobs_run(spark, lambda: read_parquet(spark, path))
    finally:
        spark.conf.set(key, saved)
    _, n_restored = jobs_run(spark, lambda: read_parquet(spark, path))
    assert n_changed >= 1 and n_hit == 0 and n_restored >= 1


def kept_fields(path):
    """Column names of the relation ``read_parquet`` keeps for ``path``."""
    return list(readers._relations[path][2].schema().fieldNames())


def test_one_entry_per_path(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write(spark, a, 1)
    write(spark, b, 2)
    before = len(readers._relations)
    read_parquet(spark, a)
    read_parquet(spark, b)
    assert len(readers._relations) == before + 2
    assert kept_fields(a) != kept_fields(b)

    write(spark, a, 3)
    read_parquet(spark, a)
    assert len(readers._relations) == before + 2
    assert kept_fields(a) == ["c0", "c1", "c2"]


def test_two_hits_self_join_like_uncached_reads(spark, sf_dir):
    """Each hit is a new instance of the kept relation, with its own
    attribute ids, so two hits join on their own columns."""
    path = os.path.join(sf_dir, "orders.parquet")
    read_parquet(spark, path)
    (o1, o2), n = jobs_run(spark, lambda: (read_parquet(spark, path), read_parquet(spark, path)))
    assert n == 0
    p1, p2 = spark.read.parquet(path), spark.read.parquet(path)
    want = p1.join(p2, p1.o_custkey == p2.o_custkey).count()
    assert o1.join(o2, o1.o_custkey == o2.o_custkey).count() == want > 0


def test_new_session_resolves_its_own_relation(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write(spark, path, 2)
    read_parquet(spark, path)
    other = spark.newSession()
    df, n = jobs_run(spark, lambda: read_parquet(other, path))
    assert n >= 1
    assert df.sparkSession._jsparkSession.sessionUUID() == other._jsparkSession.sessionUUID()
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_session_time_zone_is_part_of_the_key(spark, tmp_path):
    """Timestamp partition values are parsed in the session time zone when
    the relation is built, so a hit across a time-zone change would hand
    back the old instants."""
    path = str(tmp_path / "tsp")
    spark.createDataFrame([(1, "2020-01-01 00:00:00")], "id long, ts string").write.partitionBy(
        "ts"
    ).parquet(path)
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)

    def epoch(df):
        return df.select(F.col("ts").cast("long")).first()[0]

    try:
        spark.conf.set(key, "UTC")
        utc = epoch(read_parquet(spark, path))
        spark.conf.set(key, "America/Los_Angeles")
        la, n = jobs_run(spark, lambda: read_parquet(spark, path))
        assert n >= 1
        assert epoch(la) == epoch(spark.read.parquet(path)) == utc + 8 * 3600
    finally:
        spark.conf.set(key, saved)


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
    assert path not in readers._relations


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
