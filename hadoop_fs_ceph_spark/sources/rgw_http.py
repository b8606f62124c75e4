"""HTTP object-store path, end to end — the reference's actual identity.

The reference connector's whole purpose is to mount a Ceph **RGW** bucket —
an HTTP object store speaking the S3 REST dialect — as a Hadoop FileSystem
(``CephRgwFileSystem.java:98-147``) and serve positioned reads from it
(``CephRgwInputStream.java:103-120``, each pread is a ranged object read).
The sandbox has no Ceph and no hadoop-aws jars (the s3a:// scheme is
unloadable — pinned by ``tests/test_rgw_http.py::test_s3a_waiver_pinned``),
so this module drives the SAME protocol surface over a loopback HTTP
server, all stdlib:

* :class:`LoopbackRgw` — a threading HTTP server implementing the
  S3/RGW REST subset the connector consumes: ``PUT`` object, ``HEAD``
  object (Content-Length), ``GET`` object with **RFC 7233 Range** support
  (``bytes=a-b`` → 206 partial content — the wire form of pread; suffix
  ``bytes=-N`` honored, malformed ranges ignored per §3.1), paginated
  ListObjectsV2 (``IsTruncated``/``NextContinuationToken``, real
  ``ListBucketResult`` XML), the **multipart upload** protocol
  (initiate / UploadPart / complete-in-part-order / abort), and optional
  **SigV4 enforcement** (403 on unsigned/mis-signed requests).
* :class:`RgwHttpDataSource` — a Spark Python DataSource (format
  ``rgw_http``) that performs the connector's three mechanics against that
  endpoint: list the bucket (one listing call = ``listStatus``), plan one
  input partition per *virtual block* (``CephRgwFileSystem.java:112`` —
  the store has no blocks; the connector invents them for parallelism),
  and serve each partition with ranged GETs honoring the Hadoop
  line-split contract (a record crossing a block boundary is read exactly
  once). Planning, line framing and decoding are the ones ``cephfs_like``
  uses — ``block_partitions``, ``split_lines`` and ``decode_batches``
  (Arrow record batches) in ``pydatasource.py``, whose docstring states
  the two ownership rules; only the pread differs (a ranged GET here).

100 TB posture: planning is one ListObjectsV2 pass (O(#objects) driver
metadata, paginated in real RGW); every task fetches only its own
``[start, end + one straddling line]`` byte range — ranged GETs mean a
1000-executor cluster reads disjoint slices of the same multi-GB objects
with zero coordination, which is exactly how the reference divides RGW
objects among Hadoop splits. Swap ``endpoint`` for a real RGW URL and the
source is production-shaped: the listing paginates on IsTruncated/
NextContinuationToken, GETs retry transient 5xx with bounded backoff, and
requests are **SigV4-signed** when ``access.key``/``secret.key`` options
are set (sources/sigv4.py — the wire form of the credential resolution
the reference delegates to the Hadoop conf,
``CephRgwFileSystem.java:124-126``; our session-level analog remains
``session.s3a_storage_conf``). The loopback server ENFORCES the signature
when constructed with credentials, so the auth path is driven end to end.
"""

from __future__ import annotations

import threading
import time
import urllib.error
import urllib.parse
import urllib.request
import xml.etree.ElementTree as ET
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Iterator, Sequence

import pyarrow as pa
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

# CONTINUATION_BYTES is re-exported: this module's readers continue
# straddling lines in reads of that size
from hadoop_fs_ceph_spark.sources.pydatasource import (  # noqa: F401
    CONTINUATION_BYTES,
    DEFAULT_BLOCKSIZE,
    _BlockPartition,
    block_partitions,
    decode_batches,
    split_lines,
)

RETRY_ATTEMPTS = 4
RETRY_BASE_DELAY = 0.1  # seconds; doubles per attempt (0.1, 0.2, 0.4)


def _parse_range(rng: str, size: int):
    """RFC 7233 single-range parser for ``Range: bytes=...``.

    Returns an inclusive ``(lo, hi)`` span, ``"unsatisfiable"`` (→ 416), or
    ``None`` for no/malformed ranges (→ serve 200 full; RFC 7233 §3.1 lets a
    recipient ignore an invalid header — previously garbage or the suffix
    form ``bytes=-N`` raised ValueError in the handler thread and dropped
    the connection)."""
    if not rng.startswith("bytes="):
        return None
    lo_s, dash, hi_s = rng[len("bytes="):].partition("-")
    if dash != "-":
        return None
    try:
        if lo_s == "":  # suffix form bytes=-N: the final N bytes
            nsuf = int(hi_s)
            if nsuf <= 0:
                return "unsatisfiable" if nsuf == 0 else None
            return (max(0, size - nsuf), size - 1) if size else "unsatisfiable"
        lo = int(lo_s)
        hi = min(int(hi_s), size - 1) if hi_s else size - 1
    except ValueError:
        return None
    if lo < 0 or (hi_s and int(hi_s) < lo):
        return None
    if lo >= size:
        return "unsatisfiable"
    return (lo, hi)


# --------------------------------------------------------------------------
# Loopback RGW: the minimal S3 REST subset the connector consumes
# --------------------------------------------------------------------------
_ACCEPT_RANGES = [("Accept-Ranges", "bytes")]


class _RgwHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server_version = "LoopbackRgw/1.0"

    # object store lives on the server instance: {(bucket, key): bytes}
    def _store(self) -> dict:
        return self.server.objects  # type: ignore[attr-defined]

    def log_message(self, *a):  # quiet: tests assert on responses, not logs
        pass

    def _split(self) -> tuple[str, str, dict]:
        parsed = urllib.parse.urlsplit(self.path)
        parts = parsed.path.lstrip("/").split("/", 1)
        bucket = parts[0]
        key = urllib.parse.unquote(parts[1]) if len(parts) > 1 else ""
        q = dict(urllib.parse.parse_qsl(parsed.query, keep_blank_values=True))
        return bucket, key, q

    def _uploads(self) -> dict:
        return self.server.uploads  # type: ignore[attr-defined]

    def _reply(self, status: int, body: bytes = b"", headers=()) -> None:
        """Status line, ``headers`` in order, then ``Content-Length`` of
        ``body``. A HEAD reply carries the headers of the GET but no body."""
        self.send_response(status)
        for name, value in headers:
            self.send_header(name, value)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body and self.command != "HEAD":
            self.wfile.write(body)

    def do_PUT(self):
        bucket, key, q = self._split()
        n = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(n)
        if not self._authorized(payload=body):
            self._deny()
            return
        if "partNumber" in q and "uploadId" in q:
            # multipart UploadPart: buffer under the upload, not the store
            try:
                part_no = int(q["partNumber"])
                if not 1 <= part_no <= 10000:  # S3's documented part range
                    raise ValueError
            except ValueError:
                # malformed partNumber answers 400 — never an uncaught
                # exception severing the connection (same failure class
                # as the malformed-Range fix, review r8)
                self._reply(400)
                return
            with self.server.lock:  # type: ignore[attr-defined]
                up = self._uploads().get((bucket, key, q["uploadId"]))
                if up is not None:
                    up[part_no] = body
            if up is None:
                self._reply(404)
                return
            self._reply(200, headers=[("ETag", f'"part-{part_no}-{len(body)}"')])
            return
        self._store()[(bucket, key)] = body
        self._reply(200, headers=[("ETag", f'"{len(body)}"')])

    def do_POST(self):
        bucket, key, q = self._split()
        n = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(n)
        if not self._authorized(payload=body):
            self._deny()
            return
        if "uploads" in q:  # InitiateMultipartUpload
            # seq increment + registration under the server lock: two
            # concurrent initiates (the many-executors story) must never
            # mint the same UploadId (review r8)
            with self.server.lock:  # type: ignore[attr-defined]
                self.server.upload_seq += 1  # type: ignore[attr-defined]
                uid = f"upload-{self.server.upload_seq}"  # type: ignore[attr-defined]
                self._uploads()[(bucket, key, uid)] = {}
            root = ET.Element("InitiateMultipartUploadResult")
            ET.SubElement(root, "Bucket").text = bucket
            ET.SubElement(root, "Key").text = key
            ET.SubElement(root, "UploadId").text = uid
            self._reply_xml(root)
            return
        if "uploadId" in q:  # CompleteMultipartUpload
            with self.server.lock:  # type: ignore[attr-defined]
                up = self._uploads().pop((bucket, key, q["uploadId"]), None)
                if up is not None:
                    # parts concatenate in partNumber order regardless of
                    # upload order; the ETag length is taken from the
                    # assembled bytes INSIDE the lock — re-reading the store
                    # after release would KeyError if a concurrent DELETE
                    # removed the key (review r9)
                    assembled = b"".join(up[p] for p in sorted(up))
                    self._store()[(bucket, key)] = assembled
            if up is None:
                self._reply(404)
                return
            root = ET.Element("CompleteMultipartUploadResult")
            ET.SubElement(root, "Bucket").text = bucket
            ET.SubElement(root, "Key").text = key
            ET.SubElement(root, "ETag").text = f'"{len(assembled)}"'
            self._reply_xml(root)
            return
        self._reply(400)

    def do_DELETE(self):
        bucket, key, q = self._split()
        if not self._authorized():
            self._deny()
            return
        if "uploadId" in q:  # AbortMultipartUpload: discard buffered parts
            with self.server.lock:  # type: ignore[attr-defined]
                existed = self._uploads().pop((bucket, key, q["uploadId"]), None)
            self._reply(204 if existed is not None else 404)
            return
        existed = self._store().pop((bucket, key), None)
        self._reply(204 if existed is not None else 404)

    def do_HEAD(self):
        if not self._authorized():
            self._deny()
            return
        bucket, key, _ = self._split()
        body = self._store().get((bucket, key))
        if body is None:
            self._reply(404)
            return
        self._reply(200, body, _ACCEPT_RANGES)

    def _authorized(self, payload: bytes = b"") -> bool:
        """SigV4 gate: when the server holds credentials, every request
        must carry a valid signature (recomputed server-side from the
        shared secret — sources/sigv4.py), exactly as real RGW enforces
        the S3 dialect. Credential-less servers accept everything (the
        anonymous test mode)."""
        creds = getattr(self.server, "credentials", None)
        if not creds:
            return True
        from hadoop_fs_ceph_spark.sources.sigv4 import verify_request

        parsed = urllib.parse.urlsplit(self.path)
        return verify_request(
            self.command,
            parsed.path,
            parsed.query,
            dict(self.headers),
            secret_key=creds[1],
            payload=payload,
            access_key=creds[0],  # wrong key ID refuses even with the secret
            # replay window: a captured signed request dies after ~15 min,
            # as real SigV4 gateways enforce (review r9)
            now_amzdate=time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
        )

    def _deny(self):
        self._reply(403)

    def do_GET(self):
        with self.server.lock:  # type: ignore[attr-defined]
            inject = getattr(self.server, "fail_next_count", 0) > 0
            if inject:
                # test-only failure injection: transient 503, as a loaded RGW
                self.server.fail_next_count -= 1  # type: ignore[attr-defined]
        if inject:
            self._reply(503)
            return
        if not self._authorized():
            self._deny()
            return
        bucket, key, q = self._split()
        if not key:  # bucket listing (ListObjectsV2 dialect)
            self._list_bucket(bucket, q)
            return
        body = self._store().get((bucket, key))
        if body is None:
            self._reply(404)
            return
        rng = self.headers.get("Range")
        span = _parse_range(rng, len(body)) if rng else None
        if span == "unsatisfiable":
            self._reply(416, headers=[("Content-Range", f"bytes */{len(body)}")])
            return
        if isinstance(span, tuple):
            lo, hi = span
            self._reply(
                206,
                body[lo : hi + 1],
                [("Content-Range", f"bytes {lo}-{hi}/{len(body)}")],
            )
            return
        # span is None: no Range header, or a malformed one (RFC 7233 §3.1:
        # a recipient MAY ignore an invalid Range and answer 200 full)
        self._reply(200, body, _ACCEPT_RANGES)

    def _list_bucket(self, bucket: str, q: dict):
        """ListObjectsV2 with real pagination: results come back in pages of
        ``max-keys`` (capped by the server's ``page_size``), in key order,
        with ``IsTruncated`` + ``NextContinuationToken`` exactly as S3/RGW
        emit them. The continuation token is start-after semantics (the last
        key of the previous page) — the HTTP analog of the reference's
        readdir-until-eof loop (``native_rgw.c:269-283``)."""
        prefix = q.get("prefix", "")
        after = q.get("continuation-token", "")
        page = getattr(self.server, "page_size", 1000)
        try:
            # clamp at 0: max-keys=0 is valid S3 (empty page, IsTruncated
            # false, no token) — an unclamped negative would slice from the
            # tail, and page=0 with truncated=true would emit a token from
            # an empty page (IndexError severing the connection; review r9)
            page = min(page, max(0, int(q.get("max-keys", page))))
        except ValueError:
            pass
        matches = sorted(
            (k, len(body))
            for (b, k), body in self._store().items()
            if b == bucket and k.startswith(prefix) and k > after
        )
        emitted, truncated = matches[:page], page > 0 and len(matches) > page
        root = ET.Element("ListBucketResult")
        ET.SubElement(root, "Name").text = bucket
        ET.SubElement(root, "Prefix").text = prefix
        ET.SubElement(root, "MaxKeys").text = str(page)
        ET.SubElement(root, "IsTruncated").text = "true" if truncated else "false"
        if truncated:
            ET.SubElement(root, "NextContinuationToken").text = emitted[-1][0]
        for k, size in emitted:
            c = ET.SubElement(root, "Contents")
            ET.SubElement(c, "Key").text = k
            ET.SubElement(c, "Size").text = str(size)
        ET.SubElement(root, "KeyCount").text = str(len(emitted))
        self._reply_xml(root)

    def _reply_xml(self, root: ET.Element) -> None:
        out = ET.tostring(root, encoding="utf-8", xml_declaration=True)
        self._reply(200, out, [("Content-Type", "application/xml")])


class LoopbackRgw:
    """In-process RGW stand-in; context manager. ``endpoint`` is the base
    URL (http://127.0.0.1:<port>) executors hit with ranged GETs.
    ``page_size`` caps each ListObjectsV2 page (default 1000, as S3) —
    tests set it below the object count to force real truncation loops.
    ``credentials=(access_key, secret_key)`` turns on SigV4 enforcement:
    every request must carry a valid signature or is answered 403, as a
    real RGW gateway would."""

    def __init__(
        self, page_size: int = 1000, credentials: tuple[str, str] | None = None
    ):
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), _RgwHandler)
        self._server.objects = {}  # type: ignore[attr-defined]
        self._server.uploads = {}  # type: ignore[attr-defined]
        self._server.upload_seq = 0  # type: ignore[attr-defined]
        self._server.lock = threading.Lock()  # type: ignore[attr-defined]
        self._server.page_size = page_size  # type: ignore[attr-defined]
        self._server.credentials = credentials  # type: ignore[attr-defined]
        self._server.daemon_threads = True
        self.credentials = credentials
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    def __enter__(self) -> "LoopbackRgw":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()

    @property
    def endpoint(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}"

    def fail_next(self, n: int) -> None:
        """Make the next ``n`` GETs answer 503 — injects the transient
        server-overload failures the client's bounded retry must absorb."""
        self._server.fail_next_count = n  # type: ignore[attr-defined]

    def put(self, bucket: str, key: str, data: bytes) -> None:
        """Upload through the real HTTP path (not a dict poke), so the
        round-trip exercises PUT framing too — signed when the server
        enforces SigV4."""
        url = f"{self.endpoint}/{bucket}/{urllib.parse.quote(key)}"
        req = _signed_request("PUT", url, self.credentials, data)
        with urllib.request.urlopen(req, timeout=30) as resp:
            if resp.status != 200:
                raise IOError(f"PUT {key} -> {resp.status}")


# --------------------------------------------------------------------------
# Client helpers (used by both planner and partition readers)
# --------------------------------------------------------------------------
def _signed_request(
    method: str,
    url: str,
    creds: tuple[str, str] | None,
    data: bytes | None = None,
    extra: dict[str, str] | None = None,
) -> urllib.request.Request:
    """One request carrying ``data`` (None: no body), with SigV4 headers
    merged with ``extra`` (e.g. Range, which S3 includes in the signed set).
    Anonymous mode sends just ``extra``. The timestamp is stamped here —
    sources/sigv4.py stays a pure function of its inputs. urllib supplies
    the Host header from the URL; the signed 'host' value is identical, so
    it is dropped from the outgoing set."""
    headers = dict(extra or {})
    if creds:
        from hadoop_fs_ceph_spark.sources.sigv4 import sign_request

        headers = sign_request(
            method,
            url,
            access_key=creds[0],
            secret_key=creds[1],
            amzdate=time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
            payload=data or b"",
            extra_headers=extra,
        )
        headers.pop("host", None)
    return urllib.request.Request(url, data=data, method=method, headers=headers)


_IDEMPOTENT_METHODS = frozenset({"GET", "HEAD", "PUT", "DELETE"})


def _open_with_retry(req, attempts: int = RETRY_ATTEMPTS):
    """urlopen with bounded exponential backoff. Retries transient failures
    (connection reset/refused, timeout, HTTP 5xx — the failure modes of a
    real RGW under load); 4xx are semantic answers and surface immediately.
    The reference leaves retries to the S3A client; this is our analog.

    Only IDEMPOTENT methods auto-retry (GET/HEAD/PUT/DELETE — S3 PUTs of
    both objects and numbered parts are last-writer-wins, so a repeat is
    safe). Non-idempotent POSTs (InitiateMultipartUpload,
    CompleteMultipartUpload) get ONE attempt: a response lost after
    server-side success would otherwise trigger a duplicate complete that
    answers 404 and turns a successful upload into a client failure
    (review r9) — the caller owns recovery (abort + restart)."""
    delay = RETRY_BASE_DELAY
    if req.get_method() not in _IDEMPOTENT_METHODS:
        attempts = 1
    for attempt in range(attempts):
        try:
            return urllib.request.urlopen(req, timeout=30)
        except urllib.error.HTTPError as e:
            if e.code < 500 or attempt == attempts - 1:
                raise
        except (urllib.error.URLError, ConnectionError, TimeoutError):
            if attempt == attempts - 1:
                raise
        time.sleep(delay)
        delay *= 2


def list_objects(
    endpoint: str,
    bucket: str,
    prefix: str,
    creds: tuple[str, str] | None = None,
) -> list[tuple[str, int]]:
    """ListObjectsV2: sorted (key, size) pairs under the prefix — the
    ``listStatus`` of the object world. Honors truncation: loops on
    ``IsTruncated``/``NextContinuationToken`` until the listing is complete,
    exactly as a real RGW paginates (and as the reference's readdir loops
    until eof, ``native_rgw.c:269-283``). SigV4-signed when ``creds`` is
    given (each page signed separately — the query string differs)."""
    out, token = [], None
    while True:
        url = f"{endpoint}/{bucket}?list-type=2&prefix={urllib.parse.quote(prefix)}"
        if token:
            url += f"&continuation-token={urllib.parse.quote(token)}"
        with _open_with_retry(_signed_request("GET", url, creds)) as resp:
            root = ET.fromstring(resp.read())
        for c in root.findall("Contents"):
            out.append((c.findtext("Key"), int(c.findtext("Size"))))
        if root.findtext("IsTruncated") != "true":
            break
        token = root.findtext("NextContinuationToken")
        if not token:
            raise IOError("truncated listing without NextContinuationToken")
    return sorted(out)


def get_range(
    endpoint: str,
    bucket: str,
    key: str,
    start: int,
    length: int,
    creds: tuple[str, str] | None = None,
) -> bytes:
    """One ranged GET — the HTTP form of the connector's pread
    (``CephRgwInputStream.java:103-120``). Returns at most ``length``
    bytes (shorter at object end). Transient failures retry with backoff
    via :func:`_open_with_retry`; SigV4-signed when ``creds`` is given
    (the Range header is part of the signed set, as S3 requires)."""
    if length <= 0:
        return b""
    url = f"{endpoint}/{bucket}/{urllib.parse.quote(key)}"
    rng = {"Range": f"bytes={start}-{start + length - 1}"}
    try:
        with _open_with_retry(_signed_request("GET", url, creds, extra=rng)) as resp:
            if resp.status not in (200, 206):
                raise IOError(f"GET {key} range -> {resp.status}")
            return resp.read()
    except urllib.error.HTTPError as e:
        if e.code == 416:  # start beyond object end
            return b""
        raise


def multipart_put(
    endpoint: str,
    bucket: str,
    key: str,
    data: bytes,
    part_size: int,
    creds: tuple[str, str] | None = None,
) -> int:
    """S3 multipart upload: InitiateMultipartUpload → UploadPart×N →
    CompleteMultipartUpload. Returns the part count.

    This is the wire form of the reference's buffered sequential write
    path: ``CephRgwOutputStream.java:53-63`` flushes bounded chunks at a
    moving cursor, and the S3AFileSystem the connector embeds
    (``CephRgwFileSystem.java:106-110``) turns exactly that pattern into
    multipart uploads for large objects. Each part is signed separately
    (the URLs differ); parts assemble in partNumber order server-side, so
    an uploader may parallelize or retry parts independently — the
    property that makes multi-GB writes from 1000 executors feasible."""
    if part_size <= 0:
        raise ValueError(f"part_size must be positive, got {part_size}")
    base = f"{endpoint}/{bucket}/{urllib.parse.quote(key)}"
    req = _signed_request("POST", base + "?uploads", creds, b"")
    with _open_with_retry(req) as resp:
        uid = ET.fromstring(resp.read()).findtext("UploadId")
    if not uid:
        raise IOError("InitiateMultipartUpload returned no UploadId")
    n = 0
    for i, start in enumerate(range(0, len(data), part_size), start=1):
        chunk = data[start : start + part_size]
        purl = f"{base}?partNumber={i}&uploadId={urllib.parse.quote(uid)}"
        with _open_with_retry(_signed_request("PUT", purl, creds, chunk)) as resp:
            if resp.status != 200:
                raise IOError(f"UploadPart {i} -> {resp.status}")
        n = i
    curl = f"{base}?uploadId={urllib.parse.quote(uid)}"
    with _open_with_retry(_signed_request("POST", curl, creds, b"")) as resp:
        if resp.status != 200:
            raise IOError(f"CompleteMultipartUpload -> {resp.status}")
    return n


def abort_multipart(
    endpoint: str,
    bucket: str,
    key: str,
    upload_id: str,
    creds: tuple[str, str] | None = None,
) -> None:
    """AbortMultipartUpload: discard an upload's buffered parts — the
    task-abort path of a distributed writer (a failed executor's partial
    upload must never become visible)."""
    url = f"{endpoint}/{bucket}/{urllib.parse.quote(key)}?uploadId={urllib.parse.quote(upload_id)}"
    try:
        with _open_with_retry(_signed_request("DELETE", url, creds)) as resp:
            if resp.status not in (200, 204):
                raise IOError(f"AbortMultipartUpload -> {resp.status}")
    except urllib.error.HTTPError as e:
        # 404 = upload already gone — the success state for an abort whose
        # first attempt landed but whose response was lost (DELETE is in the
        # auto-retry set, so the retry must be idempotent end to end)
        if e.code != 404:
            raise


# --------------------------------------------------------------------------
# The rgw_http DataSource
# --------------------------------------------------------------------------
class RgwHttpReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.endpoint = options.get("endpoint")
        self.bucket = options.get("bucket")
        if not self.endpoint or not self.bucket:
            raise ValueError("rgw_http requires .option('endpoint', ...) and .option('bucket', ...)")
        self.prefix = options.get("prefix", "")
        self.blocksize = int(options.get("virtual.blocksize", DEFAULT_BLOCKSIZE))
        self.sep = options.get("sep", ",")
        # SigV4 credentials, same option names as the reference's Hadoop
        # conf delegation (fs.s3a.access.key / fs.s3a.secret.key analogs)
        ak, sk = options.get("access.key"), options.get("secret.key")
        self.creds = (ak, sk) if ak and sk else None

    def partitions(self) -> Sequence[InputPartition]:
        listing = list_objects(self.endpoint, self.bucket, self.prefix, creds=self.creds)
        return block_partitions(listing, self.blocksize)

    def read(self, partition: _BlockPartition) -> Iterator[pa.RecordBatch]:
        """The lines this split owns (``split_lines``), each pread a ranged
        GET: one for the block, then continuation GETs for a straddling
        line; decoded into record batches (``decode_batches``)."""
        ep, bk, key, creds = self.endpoint, self.bucket, partition.name, self.creds

        def pread(offset: int, length: int) -> bytes:
            # the module-level get_range is looked up per call, so a caller
            # that replaces it (to count or time GETs) sees every request
            return get_range(ep, bk, key, offset, length, creds=creds)

        lines = split_lines(pread, partition.start, partition.end, partition.size)
        yield from decode_batches(lines, self.schema, self.sep)


class RgwHttpDataSource(DataSource):
    """``spark.read.format("rgw_http").schema(ddl)
    .option("endpoint", url).option("bucket", b).option("prefix", p)``.

    Options: ``virtual.blocksize`` (bytes per split), ``sep`` (delimiter).
    Schema-on-read line protocol, same as ``cephfs_like`` — the FS/object
    layer never interprets content (the reference's byte-stream contract).
    """

    @classmethod
    def name(cls) -> str:
        return "rgw_http"

    def reader(self, schema: StructType) -> RgwHttpReader:
        return RgwHttpReader(schema, self.options)


def probe_s3a_loadable(spark) -> bool:
    """True iff org.apache.hadoop.fs.s3a.S3AFileSystem is on the JVM
    classpath (it is NOT in this sandbox — hadoop-aws doesn't ship with
    the pyspark wheel). The waiver test pins this so the day the class
    appears, the real ``s3a://`` round-trip must replace the loopback."""
    try:
        getattr(spark._jvm, "java.lang.Class").forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:
        return False
