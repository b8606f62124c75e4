"""A representative subset of the registry read through Hadoop's
``viewfs://`` scheme instead of the local path.

``ViewFileSystem`` ships in Hadoop's client jar, so a mount table entry
``fs.viewfs.mounttable.<name>.link./sf = file:///…/sf0.001`` gives every
test table a ``viewfs://<name>/sf/…`` URI that no ``os.*`` call can open:
a query that reaches its tables through anything but the Hadoop
``FileSystem`` layer fails here. One query per surface: a MinHash-LSH
dedup head, a source round trip, a streaming head, the sparse-cosine
join and a catalog head. Each must answer exactly as it does on the
local path (canonicalized the way the oracle harness compares).
"""

import os
import uuid

import pytest

from hadoop_fs_ceph_spark.oracle import compare
from hadoop_fs_ceph_spark.registry import load_all

SUBSET = [
    "dedup_minhash_lsh",
    "src_csv_roundtrip",
    "stream_dedup_then_window",
    "sim_sparse_cosine_join",
    "src_catalog_access",
]


@pytest.fixture(scope="module")
def viewfs_dir(spark, sf_dir):
    """``sf_dir`` mounted as ``viewfs://<name>/sf`` for this module only.

    The mount and an uncached ``viewfs`` scheme are set on the session's
    Hadoop configuration and unset afterwards, so no mount table, conf key
    or cached ``ViewFileSystem`` outlives the module."""
    name = f"hfcs-test-{uuid.uuid4().hex[:8]}"
    keys = {
        f"fs.viewfs.mounttable.{name}.link./sf": "file://" + os.path.abspath(sf_dir),
        "fs.viewfs.impl.disable.cache": "true",
    }
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    before = {k: hconf.get(k) for k in keys}
    for k, v in keys.items():
        hconf.set(k, v)
    try:
        yield f"viewfs://{name}/sf"
    finally:
        for k, v in before.items():
            if v is None:
                hconf.unset(k)
            else:
                hconf.set(k, v)


@pytest.mark.parametrize("name", SUBSET)
def test_query_answers_through_viewfs_as_on_local_path(name, spark, sf_dir, viewfs_dir):
    spec = load_all()[name]
    try:
        local = spec.fn(spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        mounted = spec.fn(spark, viewfs_dir).toPandas()
    finally:
        spark.catalog.clearCache()
    assert len(local) > 0
    result = compare(name, mounted, local)
    assert result.ok, result.detail
