"""hadoop_fs_ceph_spark — a PySpark-native analytics engine.

Re-expresses, Spark-first, the capability surface of the reference
``kunpengcompute/hadoop-fs-ceph`` (a Hadoop FileSystem connector for Ceph
RGW object storage; see /root/reference and SURVEY.md):

* **Storage layer** (``sources/``, ``catalog.py``): the reference exposes a
  POSIX-ish namespace over an object bucket so split-based engines can scan
  objects in parallel (virtual 32 MiB blocks, 4 MiB buffered I/O —
  ``CephRgwFileSystem.java:112,120``). In Spark that contract is consumed by
  ``spark.read``/``spark.write``; we provide a path-based table catalog plus
  readers/writers whose save modes mirror the connector's CreateFlag
  semantics (``CephRgwFileSystem.java:263-271``).
* **Engine layer** (``operators/``, ``functions/``, ``streaming/``): batch
  SQL/DataFrame operators, streaming, and the LLM-data-pipeline extensions
  (dedup, similarity search, text analysis, multimodal columns) — all
  declarative DataFrame plans optimized by Catalyst, designed for 100 TB
  (no driver-side collection, broadcast only for bounded dims, explicit
  shuffle keys, LSH to bound all-pairs blowups).

Every declared query lives in the registry (``registry.py``) with both a
PySpark implementation and an ANSI-SQL oracle string for differential
checking against DuckDB.
"""

import importlib

__all__ = ["get_spark", "Catalog"]
__version__ = "0.1.0"

# Resolved on first use (PEP 562), so importing a submodule that needs no
# pyspark — ``worker_daemon``, which must run before pyspark is imported —
# imports none.
_LAZY = {"get_spark": "hadoop_fs_ceph_spark.session", "Catalog": "hadoop_fs_ceph_spark.catalog"}


def __getattr__(name: str):
    if name not in _LAZY:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    return getattr(importlib.import_module(_LAZY[name]), name)
