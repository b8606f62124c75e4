"""avro_lite — pure-Python Avro Object Container Files as a Spark DataSource.

The sandbox's pyspark distribution carries the Avro *core* jars but not the
``spark-avro`` connector, so ``spark.read.format("avro")`` is unavailable
(pinned by ``tests/test_contracts.py``).  Rather than waive the format, this
module implements the Avro 1.x Object Container File spec (a public format:
magic ``Obj\\x01``, metadata map, 16-byte sync marker, then blocks of
``count, byte_size, payload, sync``) in pure Python:

* a distributed writer — ``write_avro`` runs ``mapInPandas`` so every task
  serializes and deflates its own partition's blocks; record bytes never
  visit the driver;
* a reader registered as ``format("avro_lite")`` through the same
  ``pyspark.sql.datasource`` API as ``cephfs_like``.

Avro's container layout is *designed* for exactly the positioned-read +
virtual-block-split contract of the reference connector
(``CephRgwFileSystem.java:112``, ``CephRgwInputStream.java:103-120``): a
reader dropped at an arbitrary byte offset scans forward to the next sync
marker and owns every block that starts inside its split.  Ownership rule
(standard Hadoop Avro splitting): the split ``[start, end)`` reads blocks
whose post-sync starting offset ``q`` satisfies ``start <= q < end``; the
first block (right after the header) belongs to the split containing the
header's end.  Sync markers are 16 bytes drawn from sha256 of the schema and
part number — collision with payload bytes is the same 2^-128 assumption the
Avro spec itself makes.

Wire encoding implemented here (Avro spec §binary encoding):
``long``/``int`` zig-zag varints, ``double`` little-endian IEEE-754 bytes,
``string``/``bytes`` length-prefixed UTF-8, ``deflate`` codec = raw zlib
(wbits=-15).  Logical type ``local-timestamp-micros`` maps to Spark
``timestamp_ntz``.

100 TB posture: write side is embarrassingly parallel (one container file
per task, block-buffered, deflate per block); read side plans
Σ ceil(size/blocksize) splits and each task reads only its own byte range
plus one sync-scan overlap — the same scaling argument as ``pydatasource``.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
)

from hadoop_fs_ceph_spark.sources.pydatasource import (
    DEFAULT_BLOCKSIZE,
    list_data_files,
    plan_virtual_blocks,
)

MAGIC = b"Obj\x01"
_EPOCH = datetime(1970, 1, 1)

# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


def _enc_long(n: int) -> bytes:
    """Zig-zag varint (Avro long)."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_bytes(b: bytes) -> bytes:
    return _enc_long(len(b)) + b


def _enc_str(s: str) -> bytes:
    return _enc_bytes(s.encode("utf-8"))


class _Cursor:
    """Sequential decoder over an in-memory buffer."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def long(self) -> int:
        buf, pos = self.buf, self.pos
        shift = z = 0
        while True:
            b = buf[pos]
            pos += 1
            z |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        self.pos = pos
        return (z >> 1) ^ -(z & 1)

    def raw(self, n: int) -> bytes:
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def bytes_(self) -> bytes:
        return self.raw(self.long())

    def str_(self) -> str:
        return self.bytes_().decode("utf-8")

    def double(self) -> float:
        return struct.unpack("<d", self.raw(8))[0]


# ---------------------------------------------------------------------------
# schema: (name, type) specs <-> avro record schema JSON <-> spark DDL
# ---------------------------------------------------------------------------

# supported leaf types: avro name -> (spark ddl, encoder, decoder-method tag)
_TYPES = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "local-timestamp-micros": "timestamp_ntz",
}


def avro_schema_json(name: str, fields: list[tuple[str, str]]) -> str:
    """Record schema for (field, type) specs; types from _TYPES."""
    fs = []
    for fname, ftype in fields:
        if ftype == "local-timestamp-micros":
            ft: object = {"type": "long", "logicalType": "local-timestamp-micros"}
        elif ftype in _TYPES:
            ft = ftype
        else:
            raise TypeError(f"avro_lite does not carry type {ftype!r}")
        fs.append({"name": fname, "type": ft})
    return json.dumps({"type": "record", "name": name, "fields": fs})


def _parse_schema(schema_json: str) -> list[tuple[str, str]]:
    """Back out (name, logical type) specs from a record schema."""
    rec = json.loads(schema_json)
    if rec.get("type") != "record":
        raise TypeError("avro_lite reads record-typed containers only")
    out = []
    for f in rec["fields"]:
        ft = f["type"]
        if isinstance(ft, dict):
            ft = ft.get("logicalType", ft["type"])
        if ft not in _TYPES:
            raise TypeError(f"avro_lite does not carry type {ft!r}")
        out.append((f["name"], ft))
    return out


def specs_to_ddl(specs: list[tuple[str, str]]) -> str:
    return ", ".join(f"{n} {_TYPES[t]}" for n, t in specs)


def _encoders(specs):
    enc = []
    for _, t in specs:
        if t in ("long", "int"):
            enc.append(_enc_long)
        elif t == "double":
            enc.append(lambda v: struct.pack("<d", v))
        elif t == "string":
            enc.append(_enc_str)
        elif t == "boolean":
            enc.append(lambda v: b"\x01" if v else b"\x00")
        elif t == "local-timestamp-micros":
            enc.append(lambda v: _enc_long(v))  # caller pre-converts to micros
    return enc


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def sync_marker(schema_json: str, part: int) -> bytes:
    """Deterministic 16-byte sync (the spec only requires uniqueness per
    file; deriving from (schema, part) keeps the whole engine RNG-free)."""
    return hashlib.sha256(f"{schema_json}#{part}".encode()).digest()[:16]


def write_container(
    out: io.BufferedIOBase,
    rows: Iterator[tuple],
    schema_json: str,
    part: int,
    codec: str = "deflate",
    block_records: int = 1000,
) -> int:
    """Serialize rows into one Object Container File; returns record count.

    Timestamp fields must already be epoch-micros ints (the distributed
    writer converts pandas datetimes before calling)."""
    specs = _parse_schema(schema_json)
    enc = _encoders(specs)
    sync = sync_marker(schema_json, part)
    header = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    header += _enc_long(len(meta))
    for k, v in meta.items():
        header += _enc_str(k) + _enc_bytes(v)
    header += _enc_long(0)  # map terminator
    header += sync
    out.write(bytes(header))

    total = 0
    block: list[bytes] = []

    def flush():
        nonlocal total
        if not block:
            return
        payload = b"".join(block)
        if codec == "deflate":
            c = zlib.compressobj(9, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        out.write(_enc_long(len(block)) + _enc_long(len(payload)) + payload + sync)
        total += len(block)
        block.clear()

    for row in rows:
        block.append(b"".join(e(v) for e, v in zip(enc, row)))
        if len(block) >= block_records:
            flush()
    flush()
    return total


def write_avro(df, path: str, specs: list[tuple[str, str]], codec: str = "deflate"):
    """Distributed Avro write: one container file per input partition via
    mapInPandas (bytes serialized and deflated task-side, never shuffled,
    never collected).  Returns a 1-row-per-file DataFrame (file, records)."""
    from pyspark import TaskContext

    import shutil

    schema_json = avro_schema_json("row", specs)
    shutil.rmtree(path, ignore_errors=True)  # replace-directory semantics:
    # a previous run with more partitions must not leave stale containers
    os.makedirs(path, exist_ok=True)
    cols = [n for n, _ in specs]
    ts_cols = [n for n, t in specs if t == "local-timestamp-micros"]

    def write_part(batches):
        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}.avro")

        def rows():
            for pdf in batches:
                pdf = pdf[cols]
                for c in ts_cols:
                    pdf = pdf.assign(**{c: pdf[c].astype("datetime64[us]").astype("int64")})
                yield from pdf.itertuples(index=False, name=None)

        import pandas as pd

        with open(fname, "wb") as fh:
            n = write_container(fh, rows(), schema_json, pid, codec=codec)
        yield pd.DataFrame({"file": [fname], "records": [n]})

    return df.select(cols).mapInPandas(write_part, "file string, records long")


# ---------------------------------------------------------------------------
# reader (DataSource)
# ---------------------------------------------------------------------------


@dataclass
class _AvroPartition(InputPartition):
    file: str
    start: int
    end: int


def read_header(fh) -> tuple[str, str, bytes, int]:
    """Parse (schema_json, codec, sync, header_end) from an open container."""
    fh.seek(0)
    head = fh.read(1 << 16)  # metadata map is tiny; 64 KiB is generous
    if head[:4] != MAGIC:
        raise ValueError("not an Avro object container file")
    cur = _Cursor(head, 4)
    meta = {}
    while True:
        n = cur.long()
        if n == 0:
            break
        if n < 0:  # negative count form: abs(count) then byte size
            n = -n
            cur.long()
        for _ in range(n):
            k = cur.str_()  # key strictly before value: dict-subscript
            meta[k] = cur.bytes_()  # assignment evaluates its RHS first
    sync = cur.raw(16)
    return meta["avro.schema"].decode(), meta.get("avro.codec", b"null").decode(), sync, cur.pos


def _decoders(specs):
    dec = []
    for _, t in specs:
        if t in ("long", "int"):
            dec.append(_Cursor.long)
        elif t == "double":
            dec.append(_Cursor.double)
        elif t == "string":
            dec.append(_Cursor.str_)
        elif t == "boolean":
            dec.append(lambda c: c.raw(1) == b"\x01")
        elif t == "local-timestamp-micros":
            dec.append(lambda c: _EPOCH + timedelta(microseconds=c.long()))
    return dec


_SCAN_CHUNK = 1 << 20


def _find_sync(fh, sync: bytes, from_pos: int, file_size: int) -> int:
    """First offset >= from_pos where a sync marker starts (chunked scan
    with 15-byte overlap — positioned reads only)."""
    pos = max(from_pos, 0)
    tail = b""
    while pos < file_size:
        fh.seek(pos)
        chunk = tail + fh.read(_SCAN_CHUNK)
        i = chunk.find(sync)
        if i >= 0:
            return pos - len(tail) + i
        if fh.tell() >= file_size:
            return -1
        tail = chunk[-15:]
        pos = fh.tell()
    return -1


class AvroLiteReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_lite requires .load(path)")
        self.blocksize = int(options.get("virtual.blocksize", DEFAULT_BLOCKSIZE))
        self._files = [f for f in list_data_files(self.path) if f.endswith(".avro")]
        self._plan = plan_virtual_blocks(
            [(f, os.path.getsize(f)) for f in self._files], self.blocksize
        )

    def partitions(self) -> Sequence[InputPartition]:
        return [_AvroPartition(file=f, start=s, end=e) for f, s, e in self._plan]

    def read(self, partition: _AvroPartition) -> Iterator[tuple]:
        size = os.path.getsize(partition.file)
        with open(partition.file, "rb") as fh:
            schema_json, codec, sync, header_end = read_header(fh)
            specs = _parse_schema(schema_json)
            dec = _decoders(specs)
            start, end = partition.start, partition.end
            # first owned block: header_end if it falls in [start, end),
            # else the first post-sync offset q with start <= q < end.
            if start <= header_end:
                q = header_end
            else:
                i = _find_sync(fh, sync, start - 16, size)
                q = i + 16 if i >= 0 else size
            while start <= q < end and q < size:
                fh.seek(q)
                # count + size varints are <= 20 bytes; read enough
                head = fh.read(20)
                cur = _Cursor(head)
                n_rec = cur.long()
                n_bytes = cur.long()
                fh.seek(q + cur.pos)
                payload = fh.read(n_bytes)
                if fh.read(16) != sync:
                    raise ValueError(f"{partition.file}: sync mismatch at block {q}")
                if codec == "deflate":
                    payload = zlib.decompress(payload, -15)
                elif codec != "null":
                    raise ValueError(f"unsupported avro codec {codec!r}")
                rcur = _Cursor(payload)
                for _ in range(n_rec):
                    yield tuple(d(rcur) for d in dec)
                q = q + cur.pos + n_bytes + 16


class AvroLiteDataSource(DataSource):
    """``spark.read.format("avro_lite").load(dir)`` — schema comes from the
    container header (first file), exactly like spark-avro."""

    @classmethod
    def name(cls) -> str:
        return "avro_lite"

    def schema(self) -> str:
        files = [f for f in list_data_files(self.options["path"]) if f.endswith(".avro")]
        if not files:
            raise ValueError(f"no .avro files under {self.options['path']}")
        with open(files[0], "rb") as fh:
            schema_json, _, _, _ = read_header(fh)
        return specs_to_ddl(_parse_schema(schema_json))

    def reader(self, schema) -> AvroLiteReader:
        return AvroLiteReader(self.options)

    def writer(self, schema, overwrite: bool) -> "AvroLiteWriter":
        return AvroLiteWriter(schema, self.options, overwrite)


# ---------------------------------------------------------------------------
# writer (DataSourceWriter) — df.write.format("avro_lite")
# ---------------------------------------------------------------------------


def _specs_from_spark_schema(schema) -> list[tuple[str, str]]:
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        TimestampNTZType,
    )

    out = []
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, LongType):
            out.append((f.name, "long"))
        elif isinstance(dt, IntegerType):
            out.append((f.name, "int"))
        elif isinstance(dt, DoubleType):
            out.append((f.name, "double"))
        elif isinstance(dt, StringType):
            out.append((f.name, "string"))
        elif isinstance(dt, BooleanType):
            out.append((f.name, "boolean"))
        elif isinstance(dt, TimestampNTZType):
            out.append((f.name, "local-timestamp-micros"))
        else:
            raise TypeError(f"avro_lite writer does not carry {dt}")
    return out


from pyspark.sql.datasource import WriterCommitMessage


@dataclass
class AvroCommit(WriterCommitMessage):
    file: str = ""
    records: int = 0


def _micros(dt: datetime) -> int:
    d = dt - _EPOCH
    return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds


class AvroLiteWriter(DataSourceWriter):
    """Task-parallel container writer behind ``df.write.format("avro_lite")``
    — the idiomatic twin of :func:`write_avro`: each task serializes its own
    partition into ``part-<pid>.avro`` and returns a (file, records) commit
    message; the driver's ``commit`` writes a ``_committed`` manifest (the
    underscore prefix keeps it invisible to the reader's listing, exactly
    like Spark's own ``_SUCCESS``). ``overwrite`` replaces the directory
    driver-side before any task runs."""

    def __init__(self, schema, options: dict, overwrite: bool):
        import shutil

        self.path = options.get("path")
        if not self.path:
            raise ValueError("avro_lite requires .save(path)")
        self.codec = options.get("codec", "deflate")
        self.specs = _specs_from_spark_schema(schema)
        self.schema_json = avro_schema_json("row", self.specs)
        self.ts_idx = [i for i, (_, t) in enumerate(self.specs)
                       if t == "local-timestamp-micros"]
        if overwrite:
            shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path, exist_ok=True)

    def write(self, rows):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = os.path.join(self.path, f"part-{pid:05d}.avro")
        ts_idx = self.ts_idx

        def tuples():
            for row in rows:
                vals = list(row)
                for i in ts_idx:
                    vals[i] = _micros(vals[i])
                yield tuple(vals)

        with open(fname, "wb") as fh:
            n = write_container(fh, tuples(), self.schema_json, pid, codec=self.codec)
        return AvroCommit(file=fname, records=n)

    def commit(self, messages):
        total = sum(m.records for m in messages)
        with open(os.path.join(self.path, "_committed"), "w") as fh:
            fh.write(
                json.dumps(
                    {
                        "files": sorted(os.path.basename(m.file) for m in messages),
                        "records": total,
                    }
                )
            )

    def abort(self, messages):
        for m in messages:
            try:
                os.remove(m.file)
            except OSError:
                pass
