"""The benchmark's workloads, driven only through the engine's public functions.

Each workload is a closed loop with one client: the next operation starts
when the previous one returns. A workload knows how to set itself up (one
set-up round: staging, warm-up and answer checks), which operations make
up one pass, and how to run one operation.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

from perfbench.probes import StageCounters
from perfbench.stats import TAIL_BEYOND, min_samples

BUCKET = "lake"
CREDS = ("perfbench-access", "perfbench-secret")
MiB = 1024 * 1024


@dataclass
class OpResult:
    name: str
    ok: bool
    wall: float = 0.0  # seconds, excluding the tracer's own polls
    nbytes: int = 0  # user bytes scanned or ingested
    fn: StageCounters | None = None  # work run while building the DataFrame
    total: StageCounters | None = None  # all work of the operation
    layer: dict[str, float] = field(default_factory=dict)  # traced layer times
    result_rows: int = 0


class Workload:
    name = ""
    tail_pct = 50
    tail_beyond = TAIL_BEYOND  # samples a run measures beyond its tail percentile
    passes_min = 1  # whole passes a run measures at least

    def __init__(self, seed: int):
        self.seed = seed

    @property
    def samples_min(self) -> int:
        return max(min_samples(self.tail_pct, self.tail_beyond),
                   self.passes_min * len(self.ops(0)))

    def ops(self, pass_no: int) -> list[str]:
        raise NotImplementedError

    def setup(self, ctx) -> None:
        raise NotImplementedError

    def run(self, ctx, op: str) -> OpResult:
        raise NotImplementedError

    def traced_extras(self, ctx) -> dict[str, float]:
        return {}

    def close(self) -> None:
        pass


def _guarded(op: str, fn) -> OpResult:
    """Run one operation; an exception counts as a failed operation."""
    try:
        return fn()
    except Exception:  # noqa: BLE001 - the benchmark reports failures, it does not stop
        traceback.print_exc(file=sys.stderr)
        return OpResult(op, ok=False)


# --------------------------------------------------------------------------
# lake_sql: cold single-action query heads written to the noop sink
# --------------------------------------------------------------------------
LAKE_HEADS = (
    "q1_pricing_summary",  # scan-bound
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",  # scan-bound
    "join_broadcast_dim",
    "join_sortmerge_facts",  # shuffle-bound
    "topk_global",
    "ds_tpcds_q72_inventory_shortfall",
    "join_er_blocked",  # compute-bound
)


def pass_order(seed: int, pass_no: int, names: tuple[str, ...]) -> list[str]:
    """The seed's permutation of ``names`` for one pass."""
    return random.Random(f"{seed}:{pass_no}").sample(list(names), len(names))


class LakeSql(Workload):
    name = "lake_sql"
    tail_pct = 60
    passes_min = 3

    def __init__(self, seed: int):
        super().__init__(seed)
        self.input_bytes: dict[str, int] = {}
        self.result_rows: dict[str, int] = {}

    def ops(self, pass_no: int) -> list[str]:
        return pass_order(self.seed, pass_no, LAKE_HEADS)

    def setup(self, ctx) -> None:
        oracle = ctx.engine.oracle
        con = oracle.duckdb_connection(ctx.data)
        for head in LAKE_HEADS:
            spec = ctx.specs[head]
            ctx.spark.catalog.clearCache()
            try:
                r = oracle.run_one(ctx.spark, con, spec, ctx.data)
                ctx.check(r.ok, f"{head}: {r.detail}")
            except Exception as e:  # noqa: BLE001 - a failed check is reported, not raised
                ctx.check(False, f"{head}: {e!r}")
            if head not in self.input_bytes:
                df = spec.fn(ctx.spark, ctx.data)
                files = {urllib.parse.urlsplit(u).path for u in df.inputFiles()}
                self.input_bytes[head] = sum(os.path.getsize(p) for p in files)
                if ctx.traced:
                    self.result_rows[head] = df.count()
        con.close()

    def run(self, ctx, head: str) -> OpResult:
        return _guarded(head, lambda: self._run(ctx, head))

    def traced_extras(self, ctx) -> dict[str, float]:
        """The query heads never touch the object store. So that its layer
        metrics read as measured rather than 0, a traced run times that layer
        on its own afterwards: one ``rgw`` set-up, scan and ingest, and the
        split-plan replay."""
        rgw = Rgw(self.seed)
        try:
            rgw.setup(ctx)
            rgw.scan_exec_run.clear()  # the warm-up scan was cold
            ops = [rgw.scan(ctx), rgw.ingest(ctx)]
            for r in ops:
                ctx.check(r.ok, f"object-store probe: {r.name} failed")
            out = {}
            for k in {k for r in ops for k in r.layer if k.startswith(("rgw_http.", "writers."))}:
                out[k] = statistics.fmean(r.layer[k] for r in ops if k in r.layer)
            out.update(rgw.traced_extras(ctx))
            return out
        finally:
            rgw.close()

    def _run(self, ctx, head: str) -> OpResult:
        spec, spark, tr = ctx.specs[head], ctx.spark, ctx.tracer
        spark.catalog.clearCache()
        r = OpResult(head, ok=True, nbytes=self.input_bytes[head])
        r.result_rows = self.result_rows.get(head, 0)
        polls = 0.0
        with tr.span("op", trace=f"{head}#{ctx.op_count}"):
            t0 = time.perf_counter()
            with tr.span("operators.fn") as s_fn:
                df = spec.fn(spark, ctx.data)
            r.fn, dt = ctx.poll()
            polls += dt
            if ctx.traced:
                with tr.span("operators.plan") as s_plan:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("operators.action") as s_act:
                df.write.format("noop").mode("overwrite").save()
            r.wall = time.perf_counter() - t0 - polls
            act, dt = ctx.poll()
        if r.fn is not None:
            r.total = r.fn + act
            r.layer = {
                "operators.fn_s": s_fn.duration,
                "operators.plan_s": s_plan.duration,
                "operators.action_s": s_act.duration,
            }
        return r


# --------------------------------------------------------------------------
# Shared object-store pieces
# --------------------------------------------------------------------------
LINEITEM_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
    "l_returnflag string, l_linestatus string, l_shipdate timestamp"
)
LINEITEM_COLS = [c.split()[0] for c in LINEITEM_DDL.split(", ")]


def _csv_field(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def lineitem_csv_lines(data_dir: str) -> list[bytes]:
    """``lineitem`` as headerless CSV lines in file order, in the line
    protocol the rgw_http reader parses (no quoting: no field holds a comma)."""
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(data_dir, "lineitem.parquet"), columns=LINEITEM_COLS)
    cols = [table.column(c).to_pylist() for c in LINEITEM_COLS]
    return [
        (",".join(_csv_field(v) for v in row) + "\n").encode() for row in zip(*cols)
    ]


def object_layout(seed: int, n_rows: int, n_objects: int = 6) -> list[int]:
    """Row counts per staged object, in a seed-drawn order. One object holds
    40-50% of the rows, so it spans three virtual blocks; the rest share the
    remainder with seed-drawn weights and fit one block each, so every seed
    plans the same number of splits."""
    rng = random.Random(seed)
    big = int(n_rows * rng.uniform(0.40, 0.50))
    weights = [rng.uniform(0.8, 1.2) for _ in range(n_objects - 1)]
    rest = n_rows - big
    counts = [int(rest * w / sum(weights)) for w in weights]
    counts[-1] += rest - sum(counts)
    at = rng.randrange(n_objects)
    return counts[:at] + [big] + counts[at:]


def q1_style(df):
    """Q1-style aggregate with exact integer outputs, so two scans of the
    same rows compare equal whatever the summation order."""
    from pyspark.sql import functions as F

    def cents(c):
        return F.sum(F.round(F.col(c) * 100).cast("bigint"))

    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        cents("l_extendedprice").alias("price_cents"),
        cents("l_discount").alias("disc_cents"),
        cents("l_tax").alias("tax_cents"),
        F.max("l_orderkey").alias("max_orderkey"),
    )


def _rows(collected) -> list[tuple]:
    return sorted(tuple(r) for r in collected)


def delete_object(endpoint: str, bucket: str, key: str, sigv4) -> None:
    """Signed DELETE of one object (the engine has no client helper for it)."""
    url = f"{endpoint}/{bucket}/{urllib.parse.quote(key)}"
    headers = sigv4.sign_request(
        "DELETE",
        url,
        access_key=CREDS[0],
        secret_key=CREDS[1],
        amzdate=time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()),
    )
    headers.pop("host")
    req = urllib.request.Request(url, method="DELETE", headers=headers)
    with urllib.request.urlopen(req, timeout=30) as resp:
        if resp.status != 204:
            raise IOError(f"DELETE {key} -> {resp.status}")


def sigv4_costs(sigv4, endpoint: str, payload: bytes, extra: dict, reps: int) -> tuple[float, float]:
    """Median microseconds to sign and to verify one request of a shape."""
    url = f"{endpoint}/{BUCKET}/lineitem/part-00000.csv"
    path = urllib.parse.urlsplit(url).path
    amzdate = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    sign, verify = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        headers = sigv4.sign_request(
            "PUT" if payload else "GET", url, access_key=CREDS[0], secret_key=CREDS[1],
            amzdate=amzdate, payload=payload, extra_headers=extra,
        )
        t1 = time.perf_counter()
        ok = sigv4.verify_request(
            "PUT" if payload else "GET", path, "", headers, secret_key=CREDS[1],
            payload=payload, access_key=CREDS[0], now_amzdate=amzdate,
        )
        t2 = time.perf_counter()
        if not ok:
            raise RuntimeError("sigv4 round trip failed to verify")
        sign.append((t1 - t0) * 1e6)
        verify.append((t2 - t1) * 1e6)
    return sorted(sign)[reps // 2], sorted(verify)[reps // 2]


# --------------------------------------------------------------------------
# rgw: the object-store path. A pass is one scan and three ingests: the tail
# percentile then falls inside the ingest cluster instead of at the edge
# between the two kinds of operation, and scans still take about two fifths
# of the run's time.
#   scan   - signed ranged-GET scan through the rgw_http DataSource, then a
#            Q1-style aggregate
#   ingest - the engine's CSV encode (write_table), signed multipart upload
#            of every file, then delete
# --------------------------------------------------------------------------
RGW_PASS = ("scan", "ingest", "ingest", "ingest")


class Rgw(Workload):
    name = "rgw"
    tail_pct = 60
    # four passes (16 operations, six beyond p60) keep a run inside the time
    # a full campaign allows; ten beyond p60 would take seven passes
    passes_min = 4
    tail_beyond = 6

    def __init__(self, seed: int):
        super().__init__(seed)
        self.server = None
        self.objects: list[tuple[str, bytes]] = []
        self.expected: list[tuple] = []
        self.scan_exec_run: list[float] = []
        # parts of at least S3's 5 MiB minimum; the doubled lineitem file
        # (~8.5 MB) always needs two of them
        self.part_size = 5 * MiB + random.Random(seed).randrange(0, 3 * MiB, 64 * 1024)

    def ops(self, pass_no: int) -> list[str]:
        return pass_order(self.seed, pass_no, RGW_PASS)

    def layout(self, data_dir: str) -> list[tuple[str, bytes]]:
        lines = lineitem_csv_lines(data_dir)
        out, at = [], 0
        for i, n in enumerate(object_layout(self.seed, len(lines))):
            out.append((f"lineitem/part-{i:05d}.csv", b"".join(lines[at : at + n])))
            at += n
        return out

    def close(self) -> None:
        if self.server is not None:
            self.server.__exit__(None, None, None)
            self.server = None

    def setup(self, ctx) -> None:
        tr = ctx.tracer
        if not self.objects:
            with tr.span("inputs"):
                self.objects = self.layout(ctx.data)
            splits = sum(-(-len(b) // ctx.blocksize) for _, b in self.objects)
            if splits < 2 * ctx.cores:
                print(f"rgw: {splits} splits for {ctx.cores} cores", file=sys.stderr)
        with tr.span("rgw_http.stage"):
            t0 = time.perf_counter()
            self.close()
            self.server = ctx.engine.rgw_http.LoopbackRgw(credentials=CREDS).__enter__()
            for key, body in self.objects:
                self.server.put(BUCKET, key, body)
            ctx.stage_s.append(time.perf_counter() - t0)
        ctx.engine.pydatasource.register_python_sources(ctx.spark)
        with tr.span("check.expected"):
            lineitem = ctx.spark.read.parquet(os.path.join(ctx.data, "lineitem.parquet"))
            self.expected = _rows(q1_style(lineitem).collect())
        with tr.span("warmup"):
            for op in ("scan", "ingest"):
                r = self.run(ctx, op)
                ctx.check(r.ok, f"rgw {op}: result differs from its reference")

    def run(self, ctx, op: str) -> OpResult:
        return _guarded(op, lambda: getattr(self, op)(ctx))

    def reader_options(self, ctx) -> dict[str, str]:
        return {
            "endpoint": self.server.endpoint,
            "bucket": BUCKET,
            "prefix": "lineitem/",
            "virtual.blocksize": str(ctx.blocksize),
            "access.key": CREDS[0],
            "secret.key": CREDS[1],
        }

    def scan(self, ctx) -> OpResult:
        spark, tr = ctx.spark, ctx.tracer
        r = OpResult("scan", ok=False, nbytes=sum(len(b) for _, b in self.objects))
        polls = 0.0
        cpu0 = time.process_time()
        with tr.span("op", trace=f"scan#{ctx.op_count}"):
            t0 = time.perf_counter()
            with tr.span("operators.fn") as s_fn:
                reader = spark.read.format("rgw_http").schema(LINEITEM_DDL)
                df = q1_style(reader.options(**self.reader_options(ctx)).load())
            r.fn, dt = ctx.poll()
            polls += dt
            if ctx.traced:
                with tr.span("operators.plan") as s_plan:
                    df._jdf.queryExecution().executedPlan()
            with tr.span("operators.action") as s_act:
                rows = _rows(df.collect())
            r.wall = time.perf_counter() - t0 - polls
            act, dt = ctx.poll()
        cpu = time.process_time() - cpu0
        r.ok = rows == self.expected
        r.result_rows = len(rows)
        if r.fn is not None:
            r.total = r.fn + act
            self.scan_exec_run.append(r.total.exec_run_s)
            r.layer = {
                "operators.fn_s": s_fn.duration,
                "operators.plan_s": s_plan.duration,
                "operators.action_s": s_act.duration,
                "rgw_http.server_cpu_s": cpu,
            }
        return r

    def frame(self, ctx):
        lineitem = ctx.spark.read.parquet(os.path.join(ctx.data, "lineitem.parquet"))
        return lineitem.unionByName(lineitem).coalesce(1)

    def ingest(self, ctx) -> OpResult:
        rgw, tr = ctx.engine.rgw_http, ctx.tracer
        ep = self.server.endpoint
        out_dir = os.path.join(ctx.work, "ingest")
        prefix = f"ingest/{ctx.op_count:06d}/"
        r = OpResult("ingest", ok=False)
        polls = 0.0
        cpu0 = time.process_time()
        with tr.span("op", trace=f"ingest#{ctx.op_count}"):
            t0 = time.perf_counter()
            with tr.span("operators.fn") as s_fn:
                df = self.frame(ctx)
            r.fn, dt = ctx.poll()
            polls += dt
            with tr.span("writers.write_table") as s_write:
                ctx.engine.writers.write_table(df, out_dir, format="csv", mode="overwrite")
            act, dt = ctx.poll()
            polls += dt
            sent, parts = [], 0
            with tr.span("rgw_http.multipart_put") as s_put:
                for i, path in enumerate(sorted(glob.glob(os.path.join(out_dir, "part-*")))):
                    with open(path, "rb") as f:
                        body = f.read()
                    key = f"{prefix}part-{i:05d}.csv"
                    parts += rgw.multipart_put(ep, BUCKET, key, body, self.part_size, creds=CREDS)
                    sent.append((key, body))
            t1 = time.perf_counter()
            cpu_check = time.process_time()
            with tr.span("check.readback"):
                listed = rgw.list_objects(ep, BUCKET, prefix, creds=CREDS)
                ok = listed == sorted((k, len(b)) for k, b in sent) and all(
                    hashlib.sha256(rgw.get_range(ep, BUCKET, k, 0, len(b), creds=CREDS)).digest()
                    == hashlib.sha256(b).digest()
                    for k, b in sent
                )
            cpu_check = time.process_time() - cpu_check
            ctx.check_cpu_s += cpu_check
            t2 = time.perf_counter()
            with tr.span("rgw_http.delete"):
                for key, _ in sent:
                    delete_object(ep, BUCKET, key, ctx.engine.sigv4)
            t3 = time.perf_counter()
        shutil.rmtree(out_dir, ignore_errors=True)
        r.wall = (t1 - t0) + (t3 - t2) - polls
        cpu = time.process_time() - cpu0 - cpu_check
        r.ok = ok and bool(sent)
        r.nbytes = sum(len(b) for _, b in sent)
        if r.fn is not None:
            r.total = r.fn + act
            r.layer = {
                "operators.fn_s": s_fn.duration,
                "writers.write_table_s": s_write.duration,
                "rgw_http.multipart_put_s": s_put.duration,
                "rgw_http.parts": parts,
                "rgw_http.put_mb_per_s": r.nbytes / 1e6 / s_put.duration,
                "rgw_http.server_cpu_s": cpu,
            }
        return r

    def traced_extras(self, ctx) -> dict[str, float]:
        """Replay the scan's split plan in this process through RgwHttpReader,
        with every ranged GET timed and counted; then time SigV4 signing and
        verification at the GET-range and PUT-part shapes."""
        rgw = ctx.engine.rgw_http
        opts = self.reader_options(ctx)
        schema = ctx.spark.read.format("rgw_http").schema(LINEITEM_DDL).options(**opts).load().schema
        real_get = rgw.get_range
        stats = {"n": 0, "bytes": 0, "s": 0.0}

        def counted_get(*a, **kw):
            t0 = time.perf_counter()
            body = real_get(*a, **kw)
            stats["s"] += time.perf_counter() - t0
            stats["n"] += 1
            stats["bytes"] += len(body)
            return body

        runs = []
        for _ in range(3):
            stats.update(n=0, bytes=0, s=0.0)
            t0 = time.perf_counter()
            rgw.list_objects(opts["endpoint"], BUCKET, opts["prefix"], creds=CREDS)
            t1 = time.perf_counter()
            reader = rgw.RgwHttpReader(schema, opts)
            parts = reader.partitions()
            t2 = time.perf_counter()
            rgw.get_range = counted_get
            try:
                rows = sum(1 for p in parts for _ in reader.read(p))
            finally:
                rgw.get_range = real_get
            t3 = time.perf_counter()
            runs.append((t1 - t0, t2 - t1, len(parts), dict(stats), t3 - t2, rows))
        list_s, plan_s, splits, st, read_s, rows = sorted(runs, key=lambda x: x[4])[1]
        object_bytes = sum(len(b) for _, b in self.objects)
        out = {
            "rgw_http.list_ms": list_s * 1e3,
            "rgw_http.plan_ms": plan_s * 1e3,
            "rgw_http.splits": splits,
            "rgw_http.get_range_ms": st["s"] / st["n"] * 1e3,
            "rgw_http.get_mb_per_s": st["bytes"] / 1e6 / st["s"],
            "rgw_http.requests_per_split": st["n"] / splits,
            "rgw_http.read_amplification": st["bytes"] / object_bytes,
            "rgw_http.parse_rows_per_s": rows / (read_s - st["s"]),
            "rgw_http.engine_overhead_s": statistics.fmean(self.scan_exec_run) - read_s,
        }
        sigv4, ep = ctx.engine.sigv4, self.server.endpoint
        out["sigv4.sign_get_us"], out["sigv4.verify_get_us"] = sigv4_costs(
            sigv4, ep, b"", {"Range": f"bytes=0-{ctx.blocksize}"}, reps=301
        )
        out["sigv4.sign_put_us"], out["sigv4.verify_put_us"] = sigv4_costs(
            sigv4, ep, bytes(self.part_size), {}, reps=11
        )
        return out


WORKLOADS = {w.name: w for w in (LakeSql, Rgw)}
