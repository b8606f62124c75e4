"""HTTP object-store path (sources/rgw_http.py): REST semantics of the
loopback RGW, ranged-GET split exactness under any virtual blocksize, and
the pinned s3a:// waiver (VERDICT r6 item 2).

Split exactness is the load-bearing property (same contract as
test_pydatasource.py, but over the wire): reading the same objects at ANY
``virtual.blocksize`` must yield the same multiset of rows — every line
read exactly once no matter where block boundaries fall, including inside
a line, with straddling lines completed by bounded continuation fetches.
The split tests run through both line-protocol sources (``rgw_http`` and
``cephfs_like``), which share one planner and one framing function.
"""

import os
import urllib.error
import urllib.request
from types import SimpleNamespace

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

_ID_S_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("s", StringType())]
)

import hadoop_fs_ceph_spark.sources.rgw_http as rgw_mod
from hadoop_fs_ceph_spark.sources.pydatasource import CephFsLikeReader, batch_rows
from hadoop_fs_ceph_spark.sources.rgw_http import (
    CONTINUATION_BYTES,
    LoopbackRgw,
    RgwHttpReader,
    get_range,
    list_objects,
    probe_s3a_loadable,
)


@pytest.fixture()
def rgw():
    with LoopbackRgw() as server:
        yield server


# ---------------------------------------------------------------------------
# REST semantics (no Spark)
# ---------------------------------------------------------------------------


def test_put_get_head_roundtrip(rgw):
    body = bytes(range(256)) * 4
    rgw.put("b", "k/obj.bin", body)
    with urllib.request.urlopen(f"{rgw.endpoint}/b/k/obj.bin") as resp:
        assert resp.status == 200
        assert resp.read() == body
    req = urllib.request.Request(f"{rgw.endpoint}/b/k/obj.bin", method="HEAD")
    with urllib.request.urlopen(req) as resp:
        assert int(resp.headers["Content-Length"]) == len(body)


def test_ranged_get_rfc7233(rgw):
    body = b"0123456789abcdef"
    rgw.put("b", "o", body)
    assert get_range(rgw.endpoint, "b", "o", 4, 5) == b"45678"
    assert get_range(rgw.endpoint, "b", "o", 0, 1) == b"0"
    # suffix clamped to object end
    assert get_range(rgw.endpoint, "b", "o", 10, 100) == b"abcdef"
    # start beyond end -> 416 -> empty (how pread reports EOF)
    assert get_range(rgw.endpoint, "b", "o", 16, 4) == b""


def test_missing_object_404(rgw):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{rgw.endpoint}/b/nope")
    assert ei.value.code == 404


def test_list_objects_v2_prefix(rgw):
    rgw.put("lake", "a/x.csv", b"1")
    rgw.put("lake", "a/y.csv", b"22")
    rgw.put("lake", "b/z.csv", b"333")
    rgw.put("other", "a/w.csv", b"4444")
    assert list_objects(rgw.endpoint, "lake", "a/") == [
        ("a/x.csv", 1),
        ("a/y.csv", 2),
    ]
    assert list_objects(rgw.endpoint, "lake", "") == [
        ("a/x.csv", 1),
        ("a/y.csv", 2),
        ("b/z.csv", 3),
    ]


def test_listing_paginates_on_truncation():
    """A server that pages ListObjectsV2 at 3 keys (smaller than the
    object count) forces the client's IsTruncated/NextContinuationToken
    loop — the HTTP analog of the reference's readdir-until-eof loop
    (native_rgw.c:269-283). One page must visibly truncate on the wire."""
    import xml.etree.ElementTree as ET

    with LoopbackRgw(page_size=3) as rgw:
        expect = []
        for i in range(10):
            rgw.put("lake", f"d/k{i:02d}", b"v" * (i + 1))
            expect.append((f"d/k{i:02d}", i + 1))
        # client loop reassembles the full listing across 4 pages
        assert list_objects(rgw.endpoint, "lake", "d/") == expect
        # raw first page really is truncated with a continuation token
        with urllib.request.urlopen(
            f"{rgw.endpoint}/lake?list-type=2&prefix=d/"
        ) as resp:
            root = ET.fromstring(resp.read())
        assert root.findtext("IsTruncated") == "true"
        assert root.findtext("KeyCount") == "3"
        assert root.findtext("NextContinuationToken") == "d/k02"


def test_get_range_retries_transient_503(rgw):
    """Bounded retry with backoff absorbs transient 5xx (a loaded RGW);
    exhausting the budget surfaces the error instead of looping forever."""
    from hadoop_fs_ceph_spark.sources.rgw_http import RETRY_ATTEMPTS

    rgw.put("b", "o", b"0123456789")
    rgw.fail_next(RETRY_ATTEMPTS - 1)  # all-but-last attempts fail
    assert get_range(rgw.endpoint, "b", "o", 2, 4) == b"2345"
    rgw.fail_next(RETRY_ATTEMPTS)  # every attempt fails -> surfaces
    with pytest.raises(urllib.error.HTTPError) as ei:
        get_range(rgw.endpoint, "b", "o", 0, 1)
    assert ei.value.code == 503
    # listing shares the same retry helper
    rgw.fail_next(1)
    assert list_objects(rgw.endpoint, "b", "") == [("o", 10)]


def test_range_suffix_and_malformed_forms(rgw):
    """RFC 7233 suffix form bytes=-N serves the final N bytes (206);
    malformed Range values are ignored per §3.1 (200 full body) instead
    of crashing the handler thread and dropping the connection."""
    body = b"0123456789abcdef"
    rgw.put("b", "o", body)

    def fetch(range_value):
        req = urllib.request.Request(
            f"{rgw.endpoint}/b/o", headers={"Range": range_value}
        )
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read()

    assert fetch("bytes=-4") == (206, b"cdef")
    assert fetch("bytes=-100") == (206, body)  # suffix longer than object
    assert fetch("bytes=abc-def") == (200, body)
    assert fetch("bytes=5") == (200, body)  # no dash: malformed
    assert fetch("lines=0-4") == (200, body)  # unknown unit
    assert fetch("bytes=9-3") == (200, body)  # inverted span


# ---------------------------------------------------------------------------
# Split exactness through both line-protocol sources (reader logic, no Spark
# session): rgw_http over ranged GETs and cephfs_like over os.pread share the
# planner and the framing, so they must agree on rows AND on reads
# ---------------------------------------------------------------------------


@pytest.fixture(params=["rgw_http", "cephfs_like"])
def lines_source(request, tmp_path, monkeypatch):
    """``put(name, data)`` stores one object; ``read_all(blocksize)`` plans
    and reads every split with the source's own reader and returns
    ``(rows, splits, reads)``. Reads are counted the way the benchmark's
    traced run counts GETs: by replacing ``rgw_http.get_range`` (or
    ``os.pread``) after the reader is built and its splits are planned, so
    the reader must look the function up at call time."""
    if request.param == "rgw_http":
        server = request.getfixturevalue("rgw")
        io_fn = (rgw_mod, "get_range")

        def put(name, data):
            server.put("lake", "data/" + name, data)

        def reader(bs):
            return RgwHttpReader(
                _ID_S_SCHEMA,
                {
                    "endpoint": server.endpoint,
                    "bucket": "lake",
                    "prefix": "data/",
                    "virtual.blocksize": str(bs),
                },
            )

    else:
        d = tmp_path / "data"
        d.mkdir()
        io_fn = (os, "pread")

        def put(name, data):
            (d / name).write_bytes(data)

        def reader(bs):
            return CephFsLikeReader(
                _ID_S_SCHEMA, {"path": str(d), "virtual.blocksize": str(bs)}
            )

    def read_all(bs):
        r = reader(bs)
        parts = r.partitions()
        real, reads = getattr(*io_fn), []

        def counted(*a, **kw):
            reads.append(a)
            return real(*a, **kw)

        monkeypatch.setattr(*io_fn, counted)
        try:
            rows = [row for part in parts for row in batch_rows(r.read(part))]
        finally:
            monkeypatch.setattr(*io_fn, real)
        return rows, len(parts), len(reads)

    return SimpleNamespace(put=put, read_all=read_all)


def _expected_reads(payloads, bs):
    """Reads the split contract needs: one per split covering
    ``[start, end + 1)``, plus ``CONTINUATION_BYTES`` reads until the
    split's last owned line (the last line starting in ``(start, end]``,
    or at 0 for split 0) is terminated."""
    n = 0
    for data in payloads:
        size = len(data)
        starts = [p for p in range(size) if p == 0 or data[p - 1] == ord("\n")]
        for start in range(0, size, bs):
            end = min(start + bs, size)
            n += 1
            owned = [p for p in starts if start < p <= end or p == start == 0]
            if not owned:
                continue
            t = data.find(b"\n", owned[-1])
            short = (size if t < 0 else t + 1) - min(end + 1, size)
            n += max(0, -(-short // CONTINUATION_BYTES))
    return n


def test_split_exactness_any_blocksize(lines_source):
    # ragged line lengths so boundaries fall mid-line for most blocksizes
    # (i % 37 == 0 rows carry an EMPTY field: the line protocol maps it to
    # NULL, same convention as cephfs_like)
    lines = [f"{i},{'x' * (i % 37)}" for i in range(500)]
    payload = ("\n".join(lines) + "\n").encode()
    lines_source.put("part-0.csv", payload)
    lines_source.put("part-1.csv", payload.rstrip(b"\n"))  # no final \n
    expect = sorted(
        [(i, ("x" * (i % 37)) or None) for i in range(500)] * 2,
        key=lambda r: (r[0], r[1] or ""),
    )
    for bs in (7, 64, 1000, len(payload), 10 * len(payload)):
        rows, splits, reads = lines_source.read_all(bs)
        got = sorted(rows, key=lambda r: (r[0], r[1] or ""))
        assert got == expect, f"blocksize={bs}"
        assert reads == _expected_reads([payload, payload.rstrip(b"\n")], bs)
        if bs >= len(payload):  # one split per object: one read each
            assert splits == reads == 2


def test_straddling_line_continuation_fetches(lines_source):
    # one line far longer than CONTINUATION_BYTES forces multiple
    # continuation reads to complete the straddling read
    big = "y" * (3 * CONTINUATION_BYTES)
    payload = ("1,short\n2," + big + "\n3,tail\n").encode()
    lines_source.put("big.csv", payload)
    rows, splits, reads = lines_source.read_all(16)
    assert sorted(rows) == [(1, "short"), (2, big), (3, "tail")]
    assert reads == _expected_reads([payload], 16)
    assert reads - splits >= 3


def test_block_interior_to_one_line_yields_nothing(lines_source):
    # blocksize smaller than the line: interior blocks contain no \n and
    # must yield zero rows (the line belongs to the split that owns its
    # starting offset)
    payload = b"7," + b"z" * 200 + b"\n"
    lines_source.put("one.csv", payload)
    rows, splits, reads = lines_source.read_all(10)
    assert rows == [(7, "z" * 200)]
    # one read per split; only split 0 continues, to finish its line
    assert splits == 21 and reads == splits + 1


def test_partition_count_tracks_blocksize(rgw):
    rgw.put("lake", "data/f.csv", b"1,a\n" * 100)  # 400 bytes
    reader = RgwHttpReader(
        _ID_S_SCHEMA,
        {
            "endpoint": rgw.endpoint,
            "bucket": "lake",
            "prefix": "data/",
            "virtual.blocksize": "100",
        },
    )
    assert len(reader.partitions()) == 4


# ---------------------------------------------------------------------------
# Spark end-to-end + the s3a waiver
# ---------------------------------------------------------------------------


def test_spark_reads_rgw_http(spark, rgw):
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    rgw.put("lake", "t/p0.csv", b"1,ab\n2,cd\n")
    rgw.put("lake", "t/p1.csv", b"3,ef\n")
    df = (
        spark.read.format("rgw_http")
        .schema("id bigint, s string")
        .option("endpoint", rgw.endpoint)
        .option("bucket", "lake")
        .option("prefix", "t/")
        .option("virtual.blocksize", 4)
        .load()
    )
    assert sorted((r.id, r.s) for r in df.collect()) == [
        (1, "ab"),
        (2, "cd"),
        (3, "ef"),
    ]


def test_s3a_waiver_pinned(spark):
    """s3a:// is unloadable here: the pyspark wheel ships no hadoop-aws /
    aws-sdk jars (verified: org.apache.hadoop.fs.s3a.S3AFileSystem is not
    on the JVM classpath), so no test can drive a real s3a URI. The
    loopback-RGW path (`src_rgw_http_roundtrip`) covers the object-store
    protocol surface instead — listing, ranged reads, PUT framing.

    This waiver SELF-EXPIRES: the day hadoop-aws appears on the
    classpath, this test fails, signalling that a real `s3a://`
    round-trip against a loopback S3 endpoint must replace the waiver
    (point it at LoopbackRgw with path-style access + anonymous
    credentials provider; VERDICT r6 item 2)."""
    assert not probe_s3a_loadable(spark), (
        "S3AFileSystem is now loadable — implement the real s3a:// "
        "round-trip (LoopbackRgw + fs.s3a.endpoint + path-style access) "
        "and retire this waiver"
    )


def test_read_is_linear_in_block_size(rgw):
    """Pin for the ADVICE r7 O(n²) fix: scanning a multi-MiB block of
    SHORT lines must be one pass over the buffer (offset scan into
    immutable bytes), not a per-line copy/shift of the remainder. The
    pre-fix implementation did ~2 MiB of memcpy per 10-byte line here
    (≈ 800 GB total — minutes); the fixed one finishes in well under the
    generous bound."""
    import time as _time

    n_lines = 400_000
    payload = b"".join(b"%d,x\n" % i for i in range(n_lines))  # ~4 MiB
    rgw.put("lake", "data/wide.csv", payload)
    reader = RgwHttpReader(
        _ID_S_SCHEMA,
        {
            "endpoint": rgw.endpoint,
            "bucket": "lake",
            "prefix": "data/",
            "virtual.blocksize": str(len(payload) + 1),  # one block = whole object
        },
    )
    (part,) = reader.partitions()
    t0 = _time.perf_counter()
    count = sum(1 for _ in batch_rows(reader.read(part)))
    elapsed = _time.perf_counter() - t0
    assert count == n_lines
    assert elapsed < 30, f"block scan took {elapsed:.1f}s — O(n^2) regression?"


# ---------------------------------------------------------------------------
# Multipart upload (the S3 write path of the reference's buffered stream)
# ---------------------------------------------------------------------------


def test_multipart_assembles_in_part_order(rgw):
    """Parts concatenate by partNumber regardless of upload order, and the
    assembled object is byte-identical to a single PUT — part boundaries
    must be invisible to readers."""
    import urllib.parse
    import xml.etree.ElementTree as ET

    from hadoop_fs_ceph_spark.sources.rgw_http import multipart_put

    data = bytes(range(256)) * 40  # 10240 bytes
    n = multipart_put(rgw.endpoint, "lake", "mp/obj.bin", data, part_size=1000)
    assert n == 11  # 10 full parts + 1 tail
    assert get_range(rgw.endpoint, "lake", "mp/obj.bin", 0, len(data)) == data
    # ranged reads spanning part boundaries see one continuous object
    assert get_range(rgw.endpoint, "lake", "mp/obj.bin", 995, 10) == data[995:1005]

    # out-of-order manual upload: initiate, send part 2 then part 1, complete
    base = f"{rgw.endpoint}/lake/ooo.bin"
    with urllib.request.urlopen(
        urllib.request.Request(base + "?uploads", data=b"", method="POST")
    ) as resp:
        uid = ET.fromstring(resp.read()).findtext("UploadId")
    for part_no, chunk in ((2, b"WORLD"), (1, b"HELLO-")):
        url = f"{base}?partNumber={part_no}&uploadId={urllib.parse.quote(uid)}"
        urllib.request.urlopen(
            urllib.request.Request(url, data=chunk, method="PUT")
        ).close()
    urllib.request.urlopen(
        urllib.request.Request(
            f"{base}?uploadId={urllib.parse.quote(uid)}", data=b"", method="POST"
        )
    ).close()
    assert get_range(rgw.endpoint, "lake", "ooo.bin", 0, 100) == b"HELLO-WORLD"


def test_multipart_abort_discards(rgw):
    """An aborted upload leaves nothing behind (the failed-task path);
    completing it afterwards is a 404."""
    import urllib.parse
    import xml.etree.ElementTree as ET

    from hadoop_fs_ceph_spark.sources.rgw_http import abort_multipart

    base = f"{rgw.endpoint}/lake/gone.bin"
    with urllib.request.urlopen(
        urllib.request.Request(base + "?uploads", data=b"", method="POST")
    ) as resp:
        uid = ET.fromstring(resp.read()).findtext("UploadId")
    url = f"{base}?partNumber=1&uploadId={urllib.parse.quote(uid)}"
    urllib.request.urlopen(
        urllib.request.Request(url, data=b"partial", method="PUT")
    ).close()
    abort_multipart(rgw.endpoint, "lake", "gone.bin", uid)
    assert list_objects(rgw.endpoint, "lake", "gone") == []  # never visible
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(
            urllib.request.Request(
                f"{base}?uploadId={urllib.parse.quote(uid)}", data=b"", method="POST"
            )
        )
    assert ei.value.code == 404


def test_multipart_signed_end_to_end():
    """Multipart under SigV4 enforcement: every leg (initiate, each part,
    complete) carries its own signature; an unsigned initiate is 403."""
    from hadoop_fs_ceph_spark.sources.rgw_http import multipart_put

    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
    with LoopbackRgw(credentials=creds) as rgw:
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                urllib.request.Request(
                    f"{rgw.endpoint}/lake/x?uploads", data=b"", method="POST"
                )
            )
        assert ei.value.code == 403
        data = b"abc" * 5000
        n = multipart_put(
            rgw.endpoint, "lake", "signed.bin", data, part_size=4096, creds=creds
        )
        assert n == 4
        assert (
            get_range(rgw.endpoint, "lake", "signed.bin", 0, len(data), creds=creds)
            == data
        )


def test_concurrent_initiates_mint_distinct_upload_ids(rgw):
    """Review r8: UploadId minting is a read-modify-write on shared
    state under ThreadingHTTPServer — concurrent initiates must never
    collide (a collision interleaves two executors' parts into one
    object)."""
    import threading
    import urllib.parse
    import xml.etree.ElementTree as ET

    ids, errs = [], []

    def initiate(i):
        try:
            req = urllib.request.Request(
                f"{rgw.endpoint}/lake/c{i}.bin?uploads", data=b"", method="POST"
            )
            with urllib.request.urlopen(req) as resp:
                ids.append(ET.fromstring(resp.read()).findtext("UploadId"))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=initiate, args=(i,)) for i in range(16)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert len(ids) == 16 and len(set(ids)) == 16, f"duplicate UploadIds: {ids}"


def test_malformed_part_number_answers_400(rgw):
    """Review r8: partNumber=abc (or out of S3's 1..10000 range) answers
    400, never an uncaught ValueError severing the connection — same
    failure class as the malformed-Range fix."""
    import urllib.parse
    import xml.etree.ElementTree as ET

    base = f"{rgw.endpoint}/lake/pn.bin"
    with urllib.request.urlopen(
        urllib.request.Request(base + "?uploads", data=b"", method="POST")
    ) as resp:
        uid = ET.fromstring(resp.read()).findtext("UploadId")
    for bad in ("abc", "0", "-1", "10001"):
        url = f"{base}?partNumber={bad}&uploadId={urllib.parse.quote(uid)}"
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                urllib.request.Request(url, data=b"x", method="PUT")
            )
        assert ei.value.code == 400, f"partNumber={bad}"


def test_max_keys_zero_answers_empty_untruncated(rgw):
    """Review r9 (ADVICE): max-keys=0 is valid per the S3 API — the answer
    is an EMPTY page with IsTruncated=false and NO continuation token
    (AWS behavior), never an IndexError severing the connection from
    emitting a token off an empty page. Negative values clamp to 0."""
    import xml.etree.ElementTree as ET

    for i in range(5):
        rgw.put("lake", f"z/k{i}", b"v")
    for mk in ("0", "-3"):
        with urllib.request.urlopen(
            f"{rgw.endpoint}/lake?list-type=2&prefix=z/&max-keys={mk}"
        ) as resp:
            root = ET.fromstring(resp.read())
        assert root.findtext("KeyCount") == "0", f"max-keys={mk}"
        assert root.findtext("IsTruncated") == "false"
        assert root.findtext("NextContinuationToken") is None
        assert not root.findall("Contents")
    # non-numeric max-keys falls back to the server page size (ignored)
    with urllib.request.urlopen(
        f"{rgw.endpoint}/lake?list-type=2&prefix=z/&max-keys=abc"
    ) as resp:
        root = ET.fromstring(resp.read())
    assert root.findtext("KeyCount") == "5"


def test_retry_is_restricted_to_idempotent_methods(monkeypatch):
    """Review r9 (ADVICE): non-idempotent multipart POSTs
    (initiate/complete) must NOT auto-retry — a response lost after
    server-side success would re-apply the complete, answer 404, and turn
    a successful upload into a client failure. Idempotent methods keep
    the full retry budget."""
    import io

    calls = {"n": 0}

    def flaky_urlopen(req, timeout=None):
        calls["n"] += 1
        raise urllib.error.HTTPError(
            req.full_url, 503, "slow down", {}, io.BytesIO(b"")
        )

    monkeypatch.setattr(rgw_mod.urllib.request, "urlopen", flaky_urlopen)

    post = urllib.request.Request(
        "http://127.0.0.1:1/b/k?uploads", data=b"", method="POST"
    )
    with pytest.raises(urllib.error.HTTPError):
        rgw_mod._open_with_retry(post)
    assert calls["n"] == 1, "POST must get exactly one attempt"

    calls["n"] = 0
    get = urllib.request.Request("http://127.0.0.1:1/b/k")
    with pytest.raises(urllib.error.HTTPError):
        rgw_mod._open_with_retry(get)
    assert calls["n"] == rgw_mod.RETRY_ATTEMPTS


def test_abort_twice_is_idempotent(rgw):
    """A second abort of the same upload (the retried-DELETE case: first
    attempt landed, response lost) returns success, not HTTPError 404 —
    DELETE is in the auto-retry set so the retry must be safe end to end."""
    import xml.etree.ElementTree as ET

    from hadoop_fs_ceph_spark.sources.rgw_http import abort_multipart

    base = f"{rgw.endpoint}/lake/ab2.bin"
    with urllib.request.urlopen(
        urllib.request.Request(base + "?uploads", data=b"", method="POST")
    ) as resp:
        uid = ET.fromstring(resp.read()).findtext("UploadId")
    abort_multipart(rgw.endpoint, "lake", "ab2.bin", uid)
    abort_multipart(rgw.endpoint, "lake", "ab2.bin", uid)  # must not raise


def test_concurrent_delete_during_complete_never_severs(rgw):
    """Review r9 (ADVICE): the CompleteMultipartUpload ETag is computed
    from the assembled bytes INSIDE the server lock; a DELETE racing the
    complete can win or lose the race, but the complete must always answer
    a well-formed response (200 or 404), never drop the connection."""
    import threading
    import urllib.parse
    import xml.etree.ElementTree as ET

    errs = []

    def one_round(i):
        try:
            key = f"race{i}.bin"
            base = f"{rgw.endpoint}/lake/{key}"
            with urllib.request.urlopen(
                urllib.request.Request(base + "?uploads", data=b"", method="POST")
            ) as resp:
                uid = ET.fromstring(resp.read()).findtext("UploadId")
            url = f"{base}?partNumber=1&uploadId={urllib.parse.quote(uid)}"
            urllib.request.urlopen(
                urllib.request.Request(url, data=b"payload", method="PUT")
            ).close()

            def deleter():
                try:
                    urllib.request.urlopen(
                        urllib.request.Request(base, method="DELETE")
                    ).close()
                except urllib.error.HTTPError as e:
                    if e.code != 404:
                        raise

            th = threading.Thread(target=deleter)
            th.start()
            try:
                urllib.request.urlopen(
                    urllib.request.Request(
                        f"{base}?uploadId={urllib.parse.quote(uid)}",
                        data=b"",
                        method="POST",
                    )
                ).close()
            except urllib.error.HTTPError as e:
                if e.code != 404:
                    raise
            th.join()
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    threads = [threading.Thread(target=one_round, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
