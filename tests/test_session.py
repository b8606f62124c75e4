"""Session-factory tests: the production storage-config surface (the
reference connector's mount-time endpoint + credential resolution,
CephRgwFileSystem.java:98-147, re-expressed as Hadoop s3a options) and
the split-sizing lever (virtual block size, CephRgwFileSystem.java:112 →
spark.sql.files.maxPartitionBytes), the Python-worker daemon that
imports the installed pyspark instead of Spark's zipped copy, and the
generated-code cache that holds a whole benchmark pass, and the driver
cost of building a query: its Python-to-JVM round trips."""

import collections
import os
import zipfile

import pytest
from py4j import protocol
from pyspark.errors import AnalysisException

from hadoop_fs_ceph_spark.registry import load_all
from hadoop_fs_ceph_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
    get_spark,
    s3a_storage_conf,
)
from hadoop_fs_ceph_spark.sources.readers import read_parquet
from hadoop_fs_ceph_spark.worker_daemon import worker_path
from perfbench.workloads import LAKE_HEADS


def test_s3a_storage_conf_shapes():
    conf = s3a_storage_conf(
        "http://rgw.example:7480",
        access_key="AK",
        secret_key="SK",
        path_style_access=True,
        ssl_enabled=False,
    )
    assert conf["fs.s3a.endpoint"] == "http://rgw.example:7480"
    assert conf["fs.s3a.access.key"] == "AK"
    assert conf["fs.s3a.secret.key"] == "SK"
    assert conf["fs.s3a.path.style.access"] == "true"
    assert conf["fs.s3a.connection.ssl.enabled"] == "false"

    # per-bucket scoping = the reference's one-filesystem-per-bucket mount
    scoped = s3a_storage_conf("http://rgw:7480", bucket="lake")
    assert scoped["fs.s3a.bucket.lake.endpoint"] == "http://rgw:7480"
    # credentials omitted -> provider-chain fallback (no key entries)
    assert not any(k.endswith((".access.key", ".secret.key")) for k in scoped)


def test_storage_conf_lands_on_session(spark):
    # getOrCreate returns the SHARED session: snapshot and restore every
    # touched fs.s3a.* key so the fake endpoint/credentials don't leak
    # into the rest of the pytest session.
    conf = s3a_storage_conf(
        "http://rgw.test:7480", access_key="AKTEST", secret_key="SKTEST"
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = {k: hconf.get(k) for k in conf}
    try:
        s = get_spark("storage-conf-test", storage_conf=conf)
        hc = s.sparkContext._jsc.hadoopConfiguration()
        assert hc.get("fs.s3a.endpoint") == "http://rgw.test:7480"
        assert hc.get("fs.s3a.access.key") == "AKTEST"
        assert hc.get("fs.s3a.path.style.access") == "true"
    finally:
        for k, v in saved.items():
            if v is None:
                hconf.unset(k)
            else:
                hconf.set(k, v)


def test_max_partition_bytes_applied(spark):
    # the session fixture already exists; maxPartitionBytes is a runtime
    # SQL conf, so a fresh get_spark call re-applies it via the builder
    # only on new sessions — assert the default landed on this one.
    assert spark.conf.get("spark.sql.files.maxPartitionBytes").rstrip("b") in (
        str(128 * 1024 * 1024),
        "134217728",
    )


def test_codegen_cache_cap_applied(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == str(CODEGEN_CACHE_MAX_ENTRIES)
    # static: only a session get_spark creates can size it
    with pytest.raises(AnalysisException, match="static"):
        spark.conf.set(key, "100")


def test_second_pass_of_lake_heads_compiles_nothing(spark, sf_dir):
    """Every class the lake benchmark's heads generate stays cached: a
    repeat pass of the 9 heads reuses them all (Spark's default cap of 100
    entries evicts and recompiles part of each pass)."""
    specs = load_all()

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for head in LAKE_HEADS:
            spark.catalog.clearCache()
            specs[head].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() == 0


def test_driver_cost_pins_applied_and_overridable(spark):
    debugging = "spark.python.sql.dataFrameDebugging.enabled"
    explain = "spark.sql.ui.explainMode"
    assert spark.conf.get(debugging) == "false"
    assert spark.conf.get(explain) == "simple"
    try:
        s = get_spark("pins-test", extra_conf={explain: "formatted"})
        assert s.conf.get(explain) == "formatted"
    finally:
        spark.conf.set(explain, "simple")


def py4j_round_trips(spark, fn) -> collections.Counter:
    """Python-to-JVM commands sent while ``fn()`` runs: ``release`` counts
    py4j's notices that a Python proxy was garbage collected (their number
    follows the collector, not the code), ``call`` every other command."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, collections.Counter()

    def counting(command, *args, **kwargs):
        release = command.startswith(protocol.MEMORY_COMMAND_NAME)
        sent["release" if release else "call"] += 1
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        fn()
    finally:
        del client.send_command
    return sent


def test_read_parquet_hit_round_trips(spark, sf_dir):
    """A kept relation is served in a fixed, small number of round trips:
    the file signature, the session id, one JVM-side comparison of the
    session's conf map, and the Dataset around a new instance of the
    relation. 19 measured with the conf map compared in the JVM; 31 when
    15 key confs were read one ``spark.conf.get`` each; 37 when a hit
    re-read the path with its kept schema and looked ``Path`` up as an
    attribute chain."""
    path = os.path.join(sf_dir, "orders.parquet")
    read_parquet(spark, path)
    sent = py4j_round_trips(spark, lambda: read_parquet(spark, path))
    assert sent["call"] <= 19, sent


def test_query_leaves_session_conf_map_as_it_found_it(spark, sf_dir):
    """A query that overrides a conf for one write puts the map back as it
    was, with no key added: ``read_parquet`` keys each kept relation on the
    whole map, so a leaked key makes every later read resolve its path
    again. The key starts unset, as on a fresh ``get_spark`` session."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark._jsparkSession.conf().getAll()
    load_all()["src_dynamic_partition_overwrite"].fn(spark, sf_dir)
    assert before.equals(spark._jsparkSession.conf().getAll())


def test_lake_heads_build_round_trips(spark, sf_dir):
    """Building the DataFrames of the lake benchmark's 9 heads, after a warm
    pass, stays within the round trips measured at sf0.001: 1499 in total,
    166.6 per head. That is 1506 before the 5 heads with a bounded final
    sort resolved their string sort keys as ``df[name]`` in
    ``tables.order_bounded``, 1578 when the fixed-point scale went to the
    JVM as an ``F.lit`` of its own, 1806 when each hit read 15 key confs
    one at a time and 4250 (472.2 per head) before relation reuse, one-step
    class lookups and the dataFrameDebugging pin."""
    specs = load_all()
    for head in LAKE_HEADS:
        specs[head].fn(spark, sf_dir)
    per_head = {
        head: py4j_round_trips(spark, lambda: specs[head].fn(spark, sf_dir))["call"]
        for head in LAKE_HEADS
    }
    assert sum(per_head.values()) <= 1499, per_head


def test_python_workers_import_installed_pyspark(spark):
    """Python tasks run under ``worker_daemon``, so their pyspark is the
    installed package directory, not a module inside ``pyspark.zip``."""
    import pyarrow as pa

    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "hadoop_fs_ceph_spark.worker_daemon"
    )

    def where(batches):
        import pyspark

        for b in batches:
            yield pa.RecordBatch.from_pydict({"path": [pyspark.__file__] * b.num_rows})

    df = spark.range(4, numPartitions=2).mapInArrow(where, "path string")
    (path,) = {r.path for r in df.collect()}
    assert ".zip" not in path and os.path.isfile(path), path


_VERSION = b'__version__: str = "4.1.2"\n'


def _spark_like_path(tmp_path, zipped_version=_VERSION, installed=("pyspark", "py4j")):
    """A worker ``sys.path``: the working directory, Spark's three archives,
    then a site directory holding the ``installed`` packages."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", zipped_version)
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"")
    for pkg in installed:
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    if "pyspark" in installed:
        (site / "pyspark" / "version.py").write_bytes(_VERSION)
    archives = ("pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar")
    return [str(tmp_path), *(str(lib / a) for a in archives), str(site)]


def test_worker_path_drops_archives_for_same_release(tmp_path):
    path = _spark_like_path(tmp_path)
    assert worker_path(path) == [path[0], path[4]]


@pytest.mark.parametrize(
    "case",
    [
        {"zipped_version": b'__version__: str = "4.1.1"\n'},
        {"installed": ("py4j",)},
        {"installed": ("pyspark",)},
    ],
    ids=["version_differs", "no_installed_pyspark", "no_installed_py4j"],
)
def test_worker_path_unchanged_unless_installed_matches(tmp_path, case):
    path = _spark_like_path(tmp_path, **case)
    before = list(path)
    assert worker_path(path) == before and path == before
