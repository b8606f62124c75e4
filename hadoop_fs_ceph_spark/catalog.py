"""Path-based table catalog — the engine's "reference-surface" layer.

The reference is a Hadoop ``FileSystem`` over Ceph RGW: a name→bytes
namespace with create / list / getattr / rename / delete and split-sizing
metadata (see SURVEY.md §2A; ``CephRgwFileSystem.java``). A Spark-native
engine consumes that contract through ``spark.read``/``spark.write``, so the
user-visible equivalent is a *catalog* mapping table names to storage paths
(local paths in tests; ``s3a://bucket/...`` against Ceph RGW in production —
the reference itself embeds and delegates to ``S3AFileSystem``,
``CephRgwFileSystem.java:106-110,310-313``, certifying s3a as the idiomatic
access path).

Semantics mapping (reference → here):

* ``initialize``/mount (``CephRgwFileSystem.java:98-147``) → ``Catalog(root)``
* ``create`` + CreateFlag OVERWRITE/CREATE (``:250-289``) → ``write_table``
  save modes ``overwrite`` / ``errorifexists`` — the connector's two
  CreateFlag behaviors are exactly Spark's two save modes.
* ``append`` is unsupported on the object store (``:304-308``) but tables
  support ``append`` because table-append = *new files in the directory*,
  never byte-append.
* ``delete(recursive)`` (``:315-330,546-560``) → ``drop_table``.
* ``listStatus`` (``:374-386``) → ``list_tables`` / ``table_files``.
* ``getFileStatus`` (``:432-439``) → ``table_stats`` (via Spark's hidden
  ``_metadata`` column: file path, size, modification time).
* ``rename`` (non-atomic copy+delete via S3A, ``:310-313``) → ``rename_table``
  updates the name→path mapping; we never rely on atomic directory rename
  for commit correctness (Spark's committer owns that).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from hadoop_fs_ceph_spark.sources import writers
from hadoop_fs_ceph_spark.sources.readers import _file_signature

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass
class TableEntry:
    name: str
    path: str
    format: str = "parquet"
    options: dict[str, str] = field(default_factory=dict)


class Catalog:
    """Name→path catalog over a filesystem/object-store root."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self._tables: dict[str, TableEntry] = {}
        if root:
            self.register_testdata(root)

    # -- mount-time discovery -------------------------------------------------
    def register_testdata(self, sf_dir: str) -> None:
        """Register every driver table present under ``sf_dir``, found
        through the Hadoop ``FileSystem`` of its URI (so an ``s3a://`` or
        ``viewfs://`` root is discovered too)."""
        for name in TESTDATA_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if _file_signature(self.spark, path) is not None:
                self.register(name, path, "parquet")

    def register(
        self,
        name: str,
        path: str,
        format: str = "parquet",
        options: dict[str, str] | None = None,
    ) -> None:
        self._tables[name] = TableEntry(name, path, format, options or {})

    # -- metadata surface ------------------------------------------------------
    def list_tables(self) -> list[str]:
        return sorted(self._tables)

    def exists(self, name: str) -> bool:
        return name in self._tables

    def entry(self, name: str) -> TableEntry:
        if name not in self._tables:
            raise KeyError(f"table not found in catalog: {name!r}")
        return self._tables[name]

    # -- read path -------------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        e = self.entry(name)
        reader = self.spark.read.format(e.format)
        for k, v in e.options.items():
            reader = reader.option(k, v)
        return reader.load(e.path)

    def table_files(self, name: str) -> DataFrame:
        """File-level metadata, the listStatus analog: one row per data file."""
        from pyspark.sql import functions as F

        return (
            self.table(name)
            .select("_metadata.file_path", "_metadata.file_size", "_metadata.file_modification_time")
            .groupBy("file_path", "file_size", "file_modification_time")
            .count()
            .withColumnRenamed("count", "row_count")
            .withColumn("file_name", F.element_at(F.split("file_path", "/"), -1))
        )

    # -- write path --------------------------------------------------------
    def write_table(
        self,
        df: DataFrame,
        name: str,
        path: str,
        format: str = "parquet",
        mode: str = "errorifexists",
        partition_by: list[str] | None = None,
    ) -> None:
        """Materialize ``df`` as a table.

        ``mode`` mirrors the connector's CreateFlag handling
        (CephRgwFileSystem.java:263-271): ``overwrite`` replaces,
        ``errorifexists`` fails on existing target, ``append`` adds files.
        """
        writers.write_table(df, path, format, mode, partition_by)
        self.register(name, path, format)

    def rename_table(self, old: str, new: str) -> None:
        e = self.entry(old)
        del self._tables[old]
        self._tables[new] = TableEntry(new, e.path, e.format, e.options)

    def drop_table(self, name: str, purge: bool = False) -> bool:
        """Drop from the catalog; ``purge`` also deletes the files
        (the recursive-delete analog of CephRgwFileSystem.java:546-560).
        Refuses to purge paths under the read-only testdata root."""
        if name not in self._tables:
            return False
        e = self._tables.pop(name)
        if purge:
            if self.root and os.path.abspath(e.path).startswith(os.path.abspath(self.root)):
                raise PermissionError(f"refusing to purge source data: {e.path}")
            shutil.rmtree(e.path, ignore_errors=True)
        return True
