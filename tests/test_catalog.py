"""Catalog lifecycle tests — the reference-surface contract
(mount/create/list/rename/delete, SURVEY.md §2A rows 1, 3-4, 6-8, 10).
"""

import os

import pytest

from hadoop_fs_ceph_spark.catalog import TESTDATA_TABLES, Catalog


@pytest.fixture()
def cat(spark, sf_dir):
    return Catalog(spark, sf_dir)


def test_mount_registers_driver_tables(cat, sf_dir):
    present = [n for n in TESTDATA_TABLES if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))]
    assert set(cat.list_tables()) == set(present)


def test_create_list_rename_drop(cat, spark, tmp_path):
    df = cat.table("region")
    path = str(tmp_path / "region_copy")
    cat.write_table(df, "region_copy", path)
    assert cat.exists("region_copy")
    assert spark.read.parquet(path).count() == df.count()

    # errorifexists refuses an existing target (CreateFlag contract)
    with pytest.raises(Exception):
        cat.write_table(df, "region_copy", path)  # default mode=errorifexists

    cat.rename_table("region_copy", "region_v2")
    assert not cat.exists("region_copy")
    assert cat.exists("region_v2")
    assert cat.table("region_v2").count() == df.count()

    assert cat.drop_table("region_v2", purge=True)
    assert not cat.exists("region_v2")
    assert not os.path.exists(path)
    assert cat.drop_table("region_v2") is False  # missing → False, like delete()


def test_purge_refuses_source_root(cat):
    with pytest.raises(PermissionError):
        cat.drop_table("region", purge=True)
    # non-purge drop of a registered source table is allowed (catalog-only)
    assert cat.drop_table("nation") is True


def test_table_files_metadata(cat, sf_dir):
    rows = cat.table_files("lineitem").collect()
    assert rows, "lineitem must report at least one data file"
    total = sum(r.row_count for r in rows)
    assert total == cat.table("lineitem").count()
    for r in rows:
        assert r.file_size > 0
        assert r.file_name.endswith(".parquet")


def test_mount_discovers_tables_through_storage_layer(spark, sf_dir, monkeypatch):
    """Tables are found through the Hadoop ``FileSystem`` listing, so a
    root that ``os`` cannot see (``s3a://``, ``viewfs://``) mounts too."""

    def refuse(*args, **kwargs):
        raise AssertionError("discovered through os, not the storage layer")

    monkeypatch.setattr(os.path, "exists", refuse)
    assert Catalog(spark, sf_dir).list_tables() == sorted(TESTDATA_TABLES)
