"""SparkSession factory with scale-aware defaults.

The reference connector's performance model is: large buffered I/O (4 MiB,
``CephRgwFileSystem.java:120``), server-side prefetch, and a *virtual block
size* (32 MiB, ``CephRgwFileSystem.java:112``) that drives input-split count
and hence scan parallelism. In Spark the same three levers are the format
readers' buffering, ``spark.sql.files.maxPartitionBytes`` (split sizing),
and AQE. We pin them here once so every operator inherits them.

Scale posture (100 TB): AQE on (runtime coalesce + skew-join splitting),
explicit broadcast threshold for bounded dimension tables, Arrow for any
Python exchange, UTC session timezone for cross-engine determinism.

Generated code is compiled once per workload, not once per query run.
Spark keeps the classes Janino compiles (whole-stage codegen, expression
evaluators) in one LRU cache per JVM, keyed by their source text, so a
repeated plan reuses its classes only while they are still cached. Spark's
default cap (``spark.sql.codegen.cache.maxEntries`` = 100) is smaller than
one pass of any workload here: the lake benchmark's 9 query heads generate
113 distinct classes, bench.py's 39 heads 685 at sf0.1. Under that cap every
pass evicted classes the next one needed and compiled them again, and the
JIT then compiled each new class again. ``CODEGEN_CACHE_MAX_ENTRIES`` was
sized from those counts (``codegen_compiles`` before and after a pass): it
holds a full pass of all 39 heads with room to spare, so a repeated pass
compiles nothing. The cached classes are small; the lake benchmark's peak
RSS did not grow.

The cap is a *static* SQL conf: Spark reads it once per JVM, when the code
generator is first used, and refuses to set it on a running session. So it
only takes effect on a session ``get_spark`` creates in a new JVM. A
session built elsewhere, such as the one an external driver passes to
``__spark_entry__.entry(spark)``, keeps Spark's default of 100.

Two pins cut the driver-side cost of building and starting every query;
``extra_conf`` overrides either one (it is applied after them):

- ``spark.python.sql.dataFrameDebugging.enabled=false``. With it on,
  PySpark wraps every column function (``F.col``, ``F.sum``, ...; about 26
  per lake benchmark head) so that it walks the Python stack and sends the
  call site to the JVM, about 8 py4j round trips per call. Switched off, a
  runtime error still names the failing expression, but no longer the
  Python line that built it. Pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to get the lines back. PySpark reads the flag once per process, the first
  time a wrapped function runs with an active session, and keeps that
  value: set it before the first DataFrame is built, not on a running
  session.
- ``spark.sql.ui.explainMode=simple``. Spark renders a plan description at
  every SQL execution start and at every adaptive re-plan, for the UI and
  the event log, whether or not a UI runs. The default *formatted* mode
  numbers every operator, prints the tree and then a detail block per
  operator; ``simple`` prints the tree alone. Nothing in the engine reads
  the description (``plans.inspect.plan_of`` passes its own mode). A
  deployment that reads plans in the Spark UI or the history server can
  pass ``extra_conf={"spark.sql.ui.explainMode": "formatted"}``.

JVM classes are looked up in one step, ``getattr(jvm, "org.x.Y")``: an
attribute chain from ``jvm`` makes one py4j round trip per name, and each
of them is a failed class load across the whole classpath.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference reports a fabricated 32 MiB block size per file purely as a
# parallelism hint (AbstractFileHandlerReceiver.java:29). Spark's equivalent
# knob is maxPartitionBytes; we keep Spark's 128 MiB default for local tests
# but record the mapping so a cluster deployment can tune it the same way.
DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024
# Dimension tables (region/nation/customer/supplier/part at warehouse scale)
# stay broadcast-able well past the 10 MB Spark default; 64 MiB is a safe
# bound for 1000-executor clusters with multi-GiB executors.
DEFAULT_BROADCAST_THRESHOLD = 64 * 1024 * 1024
# Generated classes the JVM keeps compiled (see the module docstring): about
# 3x the 714 one pass of bench.py (39 heads, sf0.1, layout build included)
# compiles in a fresh session.
CODEGEN_CACHE_MAX_ENTRIES = 2000


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compile count); a class served from the cache adds
    nothing."""
    metrics = getattr(spark._jvm, "org.apache.spark.metrics.source.CodegenMetrics")
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _worker_daemon_conf() -> dict[str, str]:
    """Start Python workers from ``worker_daemon`` (the installed pyspark
    in place of Spark's zipped copy) when a worker can import this package:
    from the working directory it inherits, which ``python -m`` puts on
    ``sys.path``, or from ``PYTHONPATH``.  Otherwise Spark's own daemon."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    if root not in {os.path.abspath(p) for p in seen if p}:
        return {}
    return {"spark.python.daemon.module": "hadoop_fs_ceph_spark.worker_daemon"}


def s3a_storage_conf(
    endpoint: str,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool = True,
    ssl_enabled: bool = False,
    bucket: str | None = None,
) -> dict[str, str]:
    """Build the ``fs.s3a.*`` configuration for a Ceph RGW (or any
    S3-compatible) object-store deployment — the production analog of the
    reference connector's mount-time setup: endpoint + credential
    resolution (``CephRgwFileSystem.java:98-147``; AWS-style credential
    provider delegation at ``:106-110,124-126``) expressed as Hadoop s3a
    options Spark's readers/writers consume directly.

    Per-bucket scoping (``bucket=...``) mirrors the reference's
    one-filesystem-per-bucket mount model: the returned keys become
    ``fs.s3a.bucket.<name>.*`` overrides so several RGW tenants can
    coexist in one session. Credentials may be omitted to fall back to
    the provider chain (env vars / instance profile), matching the
    reference's delegation order."""
    prefix = f"fs.s3a.bucket.{bucket}" if bucket else "fs.s3a"
    conf = {
        f"{prefix}.endpoint": endpoint,
        f"{prefix}.path.style.access": str(path_style_access).lower(),
        f"{prefix}.connection.ssl.enabled": str(ssl_enabled).lower(),
    }
    if access_key is not None:
        conf[f"{prefix}.access.key"] = access_key
    if secret_key is not None:
        conf[f"{prefix}.secret.key"] = secret_key
    return conf


def get_spark(
    app_name: str = "hadoop-fs-ceph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    storage_conf: dict[str, str] | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    On a real cluster ``master``/memory come from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default to
    the core count — at 100 TB this should instead be ~2-3× total cluster
    cores, but AQE's partition coalescing makes the initial number mostly a
    ceiling rather than a tuning cliff.

    ``DEFAULT_MAX_PARTITION_BYTES`` (``extra_conf`` overrides it) is the
    split-sizing lever — the Spark analog of the reference's virtual block
    size (32 MiB, ``CephRgwFileSystem.java:112``), which exists purely to
    drive input split count and scan parallelism. Smaller values → more,
    smaller scan tasks (the reference's choice for object-store latency
    hiding); Spark's 128 MiB default suits parquet over fast storage.

    ``storage_conf`` takes the ``fs.s3a.*`` mapping from
    :func:`s3a_storage_conf` (endpoint/credentials/path-style for a Ceph
    RGW deployment) and lands each entry under ``spark.hadoop.`` so the
    Hadoop S3A connector — the production substitute for the reference's
    ``cephrgw://`` scheme — picks it up.
    """
    cpus = _cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(DEFAULT_BROADCAST_THRESHOLD))
        .config("spark.sql.files.maxPartitionBytes", str(DEFAULT_MAX_PARTITION_BYTES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource filter pushdown (Spark 4.1): off by default
        # upstream, and a reader implementing pushFilters ERRORS while
        # disabled — cephfs_like pushes supported predicates into its
        # positioned-read loop (sources/pydatasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # the two driver-cost pins of the module docstring
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.ui.explainMode", "simple")
    )
    for k, v in (storage_conf or {}).items():
        builder = builder.config(f"spark.hadoop.{k}", v)
    for k, v in {**_worker_daemon_conf(), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if storage_conf:
        # getOrCreate() may hand back a pre-existing session, whose Hadoop
        # configuration ignores builder-time spark.hadoop.* entries — apply
        # directly so a later mount (the reference's per-bucket initialize,
        # CephRgwFileSystem.java:98-147) works mid-session too.
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in storage_conf.items():
            hconf.set(k, v)
    return spark
