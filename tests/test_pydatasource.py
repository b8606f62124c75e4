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
import struct
import time
from datetime import date, datetime, timezone
from decimal import ROUND_HALF_EVEN, Context, Decimal
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In, IsNull, Not
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from hadoop_fs_ceph_spark.plans.inspect import plan_of
from hadoop_fs_ceph_spark.sources.avro_lite import (
    _Cursor,
    _enc_long,
    avro_schema_json,
    read_header,
    write_avro,
    write_container,
)
from hadoop_fs_ceph_spark.sources import pydatasource
from hadoop_fs_ceph_spark.sources.pydatasource import (
    _compile_pushed_filter,
    batch_rows,
    decode_batches,
    plan_virtual_blocks,
    register_python_sources,
    split_lines,
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
# the line decoder (no spark)
# ---------------------------------------------------------------------------


def _schema(*types):
    return StructType([StructField(f"c{i}", t) for i, t in enumerate(types)])


def _decode(lines, *types, sep=",", pushed=()):
    return list(batch_rows(decode_batches(lines, _schema(*types), sep, pushed)))


_ALL_TYPES = (
    LongType(), IntegerType(), DoubleType(), FloatType(), DecimalType(12, 2),
    BooleanType(), TimestampType(), TimestampNTZType(), DateType(), StringType(),
)


def test_decode_batches_match_to_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    line = b"1,2,0.5,0.25,1.50,true,2024-01-01T00:00:00,2024-01-01T00:00:00,2024-01-01,x"
    (batch,) = decode_batches([line], _schema(*_ALL_TYPES), ",")
    assert batch.schema == to_arrow_schema(_schema(*_ALL_TYPES))


def test_decode_empty_field_is_null_for_every_type():
    assert _decode([b",,,,,,,,,"], *_ALL_TYPES) == [(None,) * len(_ALL_TYPES)]
    # one column: an empty line is one NULL row, wherever it stands
    assert _decode([b"", b"a", b""], StringType()) == [(None,), ("a",), (None,)]


def test_decode_null_spellings_stay_strings():
    lines = [b"NULL", b"NA", b"nan", b"None", b"null"]
    assert _decode(lines, StringType()) == [(s.decode(),) for s in lines]
    # nan is a double, not a NULL
    (x,) = _decode([b"nan"], DoubleType())[0]
    assert x != x


def test_decode_bool_true_only_for_exact_true():
    lines = [b"true", b"True", b"TRUE", b"1", b"yes", b"false", b""]
    assert _decode(lines, BooleanType()) == [
        (True,), (False,), (False,), (False,), (False,), (False,), (None,),
    ]


@pytest.fixture
def kolkata(monkeypatch):
    """The worker's local zone set to UTC+05:30 for the test."""
    monkeypatch.setenv("TZ", "Asia/Kolkata")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_decode_timestamp_is_local_wall_time_taken_to_utc(kolkata):
    lines = [b"2024-01-01T05:30:00", b"2024-01-01T05:30:00Z", b"2024-01-01", b""]
    utc = datetime(2024, 1, 1, tzinfo=timezone.utc)
    got = _decode(lines, TimestampType())
    assert got == [(utc,), (utc,), (datetime(2023, 12, 31, 18, 30, tzinfo=timezone.utc),), (None,)]
    # exactly what Spark's converter made of the naive datetime before
    naive = datetime.fromisoformat("2024-01-01T05:30:00")
    assert got[0][0] == naive.astimezone(timezone.utc)


def test_decode_timestamp_ntz_date_decimal(kolkata):
    got = _decode(
        [b"2024-02-29T23:59:59.123456Z,2024-02-29,1.235", b"1996-01-02,1996-01-02,1.245",
         b"2000-01-01 10:00,2000-01-01,-1.245", b"2000-01-01,2000-01-01,nan"],
        TimestampNTZType(), DateType(), DecimalType(12, 2),
    )
    assert got == [
        (datetime(2024, 2, 29, 23, 59, 59, 123456), date(2024, 2, 29), Decimal("1.24")),
        (datetime(1996, 1, 2), date(1996, 1, 2), Decimal("1.24")),  # HALF_EVEN
        (datetime(2000, 1, 1, 10), date(2000, 1, 1), Decimal("-1.24")),
        (datetime(2000, 1, 1), date(2000, 1, 1), None),  # a NaN decimal is NULL
    ]


def test_decode_wrong_field_count_quotes_the_line():
    with pytest.raises(ValueError, match=r"expected 2 fields, got 3 in line b'1,a,b'"):
        _decode([b"0,x", b"1,a,b"], LongType(), StringType())
    with pytest.raises(ValueError, match=r"expected 2 fields, got 1 in line b''"):
        _decode([b"0,x", b""], LongType(), StringType())


def test_decode_carriage_returns():
    # a CRLF line loses its \r; a \r anywhere else is refused, not split
    assert _decode([b"1,a\r", b"2,b"], LongType(), StringType()) == [(1, "a"), (2, "b")]
    with pytest.raises(ValueError, match="carriage return inside line"):
        _decode([b"1,a\rb"], LongType(), StringType())


def test_decode_reads_one_batch_of_lines_at_a_time():
    """Decoding is lazy: the first batch is out after ``BATCH_ROWS`` lines,
    so a task holds its block plus one batch, not every row it owns."""
    pulled = []

    def lines():
        for i in range(25):
            pulled.append(i)
            yield b"%d" % i

    with mock.patch.object(pydatasource, "BATCH_ROWS", 10):
        batches = decode_batches(lines(), _schema(LongType()), ",")
        assert next(batches).num_rows == 10 and len(pulled) == 10
        assert [b.num_rows for b in batches] == [10, 5]


def test_pushed_masks_follow_sql_null_rules():
    schema = _schema(LongType(), StringType())
    lines = [b"1,a", b"2,", b",b", b"3,c"]

    def keep(flt):
        compiled = _compile_pushed_filter(flt, schema)
        assert compiled is not None
        return _decode(lines, LongType(), StringType(), pushed=[compiled])

    assert keep(GreaterThan(("c0",), 1)) == [(2, None), (3, "c")]
    assert keep(Not(EqualTo(("c1",), "a"))) == [(None, "b"), (3, "c")]
    assert keep(In(("c1",), ("a", "b"))) == [(1, "a"), (None, "b")]
    assert keep(IsNull(("c1",))) == [(2, None)]
    # a batch every row of which fails is not yielded
    assert list(decode_batches(lines, schema, ",", [_compile_pushed_filter(
        EqualTo(("c0",), 9), schema)])) == []
    # DOUBLE columns and IN with a NULL literal stay with Spark
    assert _compile_pushed_filter(GreaterThan(("c0",), 1.0), _schema(DoubleType())) is None
    assert _compile_pushed_filter(In(("c1",), ("a", None)), schema) is None


def _reference_rows(lines, types):
    """The per-field row decoder the Arrow one replaced, followed by the
    conversions Spark's Python-to-Arrow converter applied to its values:
    the reference the decoder must equal."""

    def value(s, t):
        if not s:
            return None
        if isinstance(t, (LongType, IntegerType)):
            return int(s)
        if isinstance(t, DoubleType):
            return float(s)
        if isinstance(t, FloatType):
            return struct.unpack("f", struct.pack("f", float(s)))[0]
        if isinstance(t, DecimalType):
            d = Decimal(s)
            ctx = Context(prec=t.precision, rounding=ROUND_HALF_EVEN)
            return None if d.is_nan() else d.quantize(Decimal(f"1E-{t.scale}"), context=ctx)
        if isinstance(t, BooleanType):
            return s == "true"
        if isinstance(t, TimestampType):
            return datetime.fromisoformat(s.rstrip("Z")).astimezone(timezone.utc)
        if isinstance(t, TimestampNTZType):
            return datetime.fromisoformat(s.rstrip("Z"))
        if isinstance(t, DateType):
            return date.fromisoformat(s)
        return s

    return [
        tuple(value(raw.decode(), t) for raw, t in zip(line.split(b","), types))
        for line in lines
    ]


def _nan_safe(rows):
    return [tuple("NaN" if v != v else v for v in row) for row in rows]


_WALL = st.datetimes(datetime(1901, 1, 1), datetime(2100, 1, 1))
_VALUES = {
    LongType(): st.integers(-(2**63), 2**63 - 1).map(str),
    IntegerType(): st.integers(-(2**31), 2**31 - 1).map(str),
    DoubleType(): st.floats().map(repr),
    FloatType(): st.floats(width=32).map(repr),
    DecimalType(12, 2): st.decimals(-(10**9), 10**9, places=4).map(str),
    BooleanType(): st.sampled_from(["true", "false", "True", "1", "yes"]),
    TimestampType(): st.tuples(_WALL, st.sampled_from(["", "Z"])).map(
        lambda wz: wz[0].isoformat() + wz[1]
    ),
    TimestampNTZType(): _WALL.map(datetime.isoformat),
    DateType(): st.dates(date(1, 1, 1), date(9999, 12, 31)).map(date.isoformat),
    StringType(): st.text(
        st.characters(blacklist_characters=",\n\r", blacklist_categories=("Cs",)), max_size=6
    ),
}


@settings(
    max_examples=80, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(data=st.data())
def test_decode_equals_reference_row_decoder(kolkata, data):
    """Every leaf type, NULLs included, decodes exactly as the per-field
    row decoder did; TIMESTAMP walls are read in a non-UTC local zone."""
    types = data.draw(st.lists(st.sampled_from(list(_VALUES)), min_size=1, max_size=4))
    field = lambda t: st.one_of(st.just(""), _VALUES[t])  # noqa: E731
    rows = data.draw(st.lists(st.tuples(*map(field, types)), min_size=1, max_size=12))
    lines = [",".join(row).encode() for row in rows]
    got = _decode(lines, *types)
    assert _nan_safe(got) == _nan_safe(_reference_rows(lines, types))


_FIELD = st.text(
    st.characters(blacklist_characters=",\n\r", blacklist_categories=("Cs",)), max_size=6
)


@settings(max_examples=60, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)), _FIELD, st.booleans()),
        max_size=40,
    ),
    blocksize=st.integers(1, 400),
    final_newline=st.booleans(),
    batch_rows_=st.integers(1, 7),
)
def test_decode_is_independent_of_split_layout(rows, blocksize, final_newline, batch_rows_):
    """Decoding the lines of every split of any layout, in split order,
    equals decoding the whole data as one split."""
    data = b"\n".join(
        b"%s,%s,%s" % (b"" if k is None else b"%d" % k, s.encode(), b"true" if f else b"x")
        for k, s, f in rows
    ) + (b"\n" if final_newline and rows else b"")
    size = len(data)
    pread = lambda offset, length: data[offset : offset + length]  # noqa: E731
    types = (LongType(), StringType(), BooleanType())
    with mock.patch.object(pydatasource, "BATCH_ROWS", batch_rows_):
        whole = _decode(split_lines(pread, 0, size, size), *types)
        split = [
            row
            for _, start, end in plan_virtual_blocks([("f", size)], blocksize)
            for row in _decode(split_lines(pread, start, end, size), *types)
        ]
    assert split == whole
    assert whole == [(k, s or None, f) for k, s, f in rows]


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
    plan = plan_of(q, "formatted")
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
        plan_of(nulls, "formatted"),
    )
    assert p2 and "IsNull(name)" in p2.group(1), p2
    assert nulls.count() == sum(1 for i in range(500) if i % 11 == 0)
