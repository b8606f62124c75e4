"""Python DataSource contracts: virtual-block split planning, Hadoop
line-split exactness, and the pure-Python Avro container codec.

The load-bearing property for both sources is *split exactness*: reading
the same files at ANY virtual.blocksize yields the same multiset of rows —
every record read exactly once no matter where block boundaries fall
(including boundaries inside a record).  That is the contract the reference
connector's virtual blocks + positioned reads exist to serve
(`CephRgwFileSystem.java:112`, `CephRgwInputStream.java:103-120`).
"""

import io
import math
import os

import pytest
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.sources.avro_lite import (
    _Cursor,
    _enc_long,
    avro_schema_json,
    read_header,
    write_avro,
    write_container,
)
from hadoop_fs_ceph_spark.sources.pydatasource import (
    plan_virtual_blocks,
    register_python_sources,
)

# ---------------------------------------------------------------------------
# avro binary primitives (no spark)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n", [0, 1, -1, 63, -64, 64, 2**31, -(2**31), 2**62, -(2**62), 2**63 - 1, -(2**63)]
)
def test_zigzag_long_roundtrip(n):
    assert _Cursor(_enc_long(n)).long() == n


def test_container_roundtrip_null_and_deflate():
    schema = avro_schema_json(
        "row", [("k", "long"), ("s", "string"), ("x", "double"), ("b", "boolean")]
    )
    rows = [(i, f"s{i}·", i / 7.0, i % 2 == 0) for i in range(-5, 500)]
    for codec in ("null", "deflate"):
        buf = io.BytesIO()
        n = write_container(buf, iter(rows), schema, part=3, codec=codec, block_records=64)
        assert n == len(rows)
        got_schema, got_codec, sync, header_end = read_header(io.BytesIO(buf.getvalue()))
        assert got_schema == schema and got_codec == codec and len(sync) == 16
        assert header_end > 20


def test_sync_marker_deterministic_and_distinct():
    from hadoop_fs_ceph_spark.sources.avro_lite import sync_marker

    s = avro_schema_json("row", [("k", "long")])
    assert sync_marker(s, 0) == sync_marker(s, 0)
    assert sync_marker(s, 0) != sync_marker(s, 1)


# ---------------------------------------------------------------------------
# split planning (no spark)
# ---------------------------------------------------------------------------


def test_plan_virtual_blocks_counts(tmp_path):
    f1 = tmp_path / "a.bin"
    f2 = tmp_path / "b.bin"
    for bs in (100, 999, 1000, 1001, 10**9):
        plan = plan_virtual_blocks([(str(f1), 1000), (str(f2), 2501)], bs)
        assert len(plan) == math.ceil(1000 / bs) + math.ceil(2501 / bs)
        # splits tile each file exactly: contiguous, non-overlapping, full cover
        for f, size in ((str(f1), 1000), (str(f2), 2501)):
            spans = sorted((s, e) for ff, s, e in plan if ff == f)
            assert spans[0][0] == 0 and spans[-1][1] == size
            assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))


def test_plan_skips_empty_and_hidden_files(tmp_path):
    from hadoop_fs_ceph_spark.sources.pydatasource import list_data_files

    (tmp_path / "data.csv").write_bytes(b"1\n")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    (tmp_path / ".hidden.crc").write_bytes(b"zz")
    (tmp_path / "empty.csv").write_bytes(b"")
    files = list_data_files(str(tmp_path))
    assert files == [str(tmp_path / "data.csv"), str(tmp_path / "empty.csv")]
    sized = [(f, os.path.getsize(f)) for f in files]
    assert plan_virtual_blocks(sized, 10) == [(str(tmp_path / "data.csv"), 0, 2)]


# ---------------------------------------------------------------------------
# end-to-end split exactness (spark)
# ---------------------------------------------------------------------------


def _lines_fixture(tmp_path) -> tuple[str, list[tuple]]:
    """Variable-width lines so block boundaries land mid-record for most
    blocksizes; two files to exercise multi-file listing."""
    rows = [(i, "v" * (i % 37 + 1)) for i in range(400)]
    d = tmp_path / "lines"
    d.mkdir()
    half = len(rows) // 2
    for name, chunk in (("p0.csv", rows[:half]), ("p1.csv", rows[half:])):
        with open(d / name, "wb") as fh:
            for k, v in chunk:
                fh.write(f"{k},{v}\n".encode())
    return str(d), rows


def test_cephfs_like_blocksize_invariance(spark, tmp_path):
    path, rows = _lines_fixture(tmp_path)
    register_python_sources(spark)
    expected = sorted(rows)
    total = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    for bs in (7, 64, 1000, 10**9):  # 7 bytes < every record width
        df = (
            spark.read.format("cephfs_like")
            .schema("k bigint, v string")
            .option("virtual.blocksize", bs)
            .load(path)
        )
        n_parts = df.rdd.getNumPartitions()
        assert n_parts == sum(
            math.ceil(os.path.getsize(os.path.join(path, f)) / bs)
            for f in os.listdir(path)
        ), f"split count must track virtual.blocksize (bs={bs}, total={total})"
        got = sorted((r.k, r.v) for r in df.toLocalIterator())
        assert got == expected, f"line-split exactness broken at bs={bs}"


def test_avro_blocksize_invariance_and_schema(spark, tmp_path):
    register_python_sources(spark)
    src = spark.range(0, 999).selectExpr(
        "id AS k",
        "repeat('x', CAST(id % 23 AS INT)) AS s",
        "CAST(id AS DOUBLE) / 3.0 AS x",
        "timestamp_ntz'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts",
    )
    path = str(tmp_path / "avro")
    manifest = write_avro(src.repartition(3), path, [
        ("k", "long"), ("s", "string"), ("x", "double"), ("ts", "local-timestamp-micros"),
    ]).collect()
    assert sum(r.records for r in manifest) == 999
    baseline = None
    for bs in (333, 4096, 10**9):
        df = spark.read.format("avro_lite").option("virtual.blocksize", bs).load(path)
        assert df.schema.simpleString() == (
            "struct<k:bigint,s:string,x:double,ts:timestamp_ntz>"
        )
        got = sorted(tuple(r) for r in df.toLocalIterator())
        if baseline is None:
            baseline = got
            assert len(got) == 999
        else:
            assert got == baseline, f"avro sync-split exactness broken at bs={bs}"
    # exactness vs the source relation itself, timestamps included
    assert baseline == sorted(tuple(r) for r in src.toLocalIterator())


def test_avro_write_replaces_directory(spark, tmp_path):
    """A re-write with fewer partitions must not leave stale containers."""
    register_python_sources(spark)
    path = str(tmp_path / "avro_replace")
    write_avro(spark.range(100).selectExpr("id AS k").repartition(5), path,
               [("k", "long")]).collect()
    assert len(os.listdir(path)) == 5
    write_avro(spark.range(10).selectExpr("id AS k").repartition(1), path,
               [("k", "long")]).collect()
    assert len(os.listdir(path)) == 1
    df = spark.read.format("avro_lite").load(path)
    assert df.count() == 10


def test_stream_reader_resumes_from_checkpoint(spark, tmp_path):
    """Offset contract: a restarted stream (same checkpoint) must consume
    ONLY files appended after the committed listing position — no
    duplicates, no loss."""
    register_python_sources(spark)
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def arrive(name, lo, hi):
        with open(src / name, "wb") as fh:
            for i in range(lo, hi):
                fh.write(f"{i},v{i}\n".encode())

    def drain():
        q = (
            spark.readStream.format("cephfs_like")
            .schema("k bigint, v string")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.k for r in spark.read.parquet(out).collect())

    arrive("part-00000.csv", 0, 10)
    assert drain() == list(range(10))
    arrive("part-00001.csv", 10, 15)
    assert drain() == list(range(15))  # resumed: no dup of file 0


def test_writer_api_roundtrip_and_manifest(spark, tmp_path):
    """df.write.format('avro_lite') writes one container per task plus a
    _committed manifest (invisible to the reader's listing); overwrite
    replaces the directory; content round-trips exactly."""
    import json

    register_python_sources(spark)
    path = str(tmp_path / "w")
    df = spark.range(0, 300).selectExpr(
        "id AS k", "CAST(id AS DOUBLE)/7 AS x",
        "timestamp_ntz'2024-05-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts")
    df.repartition(3).write.format("avro_lite").mode("overwrite").save(path)
    man = json.load(open(os.path.join(path, "_committed")))
    assert man["records"] == 300 and len(man["files"]) == 3
    back = spark.read.format("avro_lite").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    # overwrite with fewer partitions leaves no stale containers
    df.limit(10).repartition(1).write.format("avro_lite").mode("overwrite").save(path)
    assert len([f for f in os.listdir(path) if f.endswith(".avro")]) == 1
    assert spark.read.format("avro_lite").load(path).count() == 10


def test_cephfs_like_filter_pushdown_plan_and_semantics(spark, tmp_path):
    """Spark 4.1 pushFilters through cephfs_like (VERDICT r9 item 6):
    claimed predicates must appear in the scan's PushedFilters AND be
    absent from the residual Filter; unclaimed types (double) must stay
    Spark-side; results must equal the same filters evaluated by Spark
    over the unfiltered read — including NULL fields, which every
    claimed predicate except IsNull must reject (SQL three-valued
    semantics, the one way a too-eager pushdown silently corrupts)."""
    import re

    d = tmp_path / "push"
    d.mkdir()
    with open(d / "p0.csv", "wb") as fh:
        for i in range(500):
            name = f"name{i % 7}" if i % 11 else ""  # empty field -> NULL
            fh.write(f"{i},{name},{i * 1.5}\n".encode())
    register_python_sources(spark)

    def load():
        return (
            spark.read.format("cephfs_like")
            .schema("id bigint, name string, score double")
            .option("virtual.blocksize", 512)
            .load(str(d))
        )

    cond = (
        (F.col("id") > 100)
        & F.col("name").isin("name2", "name3")
        & (F.col("score") < 600.0)
    )
    q = load().filter(cond)
    # the rendered physical tree omits PushedFilters for Python scans;
    # the formatted explain carries them in the BatchScan detail block
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, plan[:1500]
    assert "GreaterThan(id,100)" in pushed.group(1), pushed.group(1)
    assert "In(name" in pushed.group(1), pushed.group(1)
    assert "score" not in pushed.group(1), (
        "double predicates must NOT be claimed (NaN ordering diverges): "
        + pushed.group(1)
    )
    # residual Spark-side filter keeps the double predicate only
    resid = [
        ln for ln in q._jdf.queryExecution().optimizedPlan().toString().splitlines()
        if "Filter" in ln
    ]
    assert resid and "score" in resid[0] and "name" not in resid[0], resid
    # semantics: identical to Spark evaluating everything (collect the
    # unfiltered source first so nothing is pushed on the control side)
    control = sorted(
        (r.id, r.name, r.score)
        for r in load().collect()
        if r.id > 100 and r.name in ("name2", "name3") and r.score < 600.0
    )
    got = sorted((r.id, r.name, r.score) for r in q.collect())
    assert got == control and got, (len(got), len(control))
    # IsNull pushes and keeps exactly the planted NULL rows
    nulls = load().filter(F.col("name").isNull())
    p2 = re.search(
        r"PushedFilters: \[([^\]]*)\]",
        nulls._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        ),
    )
    assert p2 and "IsNull(name)" in p2.group(1), p2
    assert nulls.count() == sum(1 for i in range(500) if i % 11 == 0)
