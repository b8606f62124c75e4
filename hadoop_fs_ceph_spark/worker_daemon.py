"""Python-worker daemon: ``pyspark.daemon`` on the interpreter's installed
pyspark instead of Spark's zipped copy.

Spark starts its Python workers with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*.zip`` and its ``spark-core_*.jar`` (which holds no Python) first
on ``PYTHONPATH``.  Every task then runs
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``; on Python 3.11 that makes each
zipimporter re-read its archive's central directory, 0.1-0.2 s of CPU per
task on a 4-vCPU host.  Importing the installed package instead makes the
call cheap.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Before anything imports pyspark it drops those three archives from
``sys.path``, but only when the installed ``pyspark`` and ``py4j`` resolve
without them and the installed ``pyspark/version.py`` is byte-identical to
the zip's; otherwise ``sys.path`` stays as Spark built it.  It then runs
``pyspark.daemon`` as ``__main__``, whose ``argv[1]`` still names the
worker module.  Only task workers start here: the Python data source
planner workers (``create_data_source``, ``plan_data_source_read``,
``lookup_data_sources``) always start under ``-m pyspark.daemon``, because
Spark 4.1.2's ``PythonPlannerRunner`` calls the ``SparkEnv.createPythonWorker``
overload that takes no daemon module.  Only the standard library may be
imported here.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or any(
        name.startswith(prefix) and name.endswith(ext)
        for prefix, ext in (("py4j-", ".zip"), ("spark-core_", ".jar"))
    )


def _installed_dir(package: str, path: list[str]) -> str | None:
    """Directory of ``package`` as found on ``path`` without importing it,
    or None if it is missing or not a plain directory (a zip, say)."""
    spec = PathFinder.find_spec(package, path)
    origin = spec and spec.origin
    if not origin or not os.path.isfile(origin):
        return None
    return os.path.dirname(origin)


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's ``pyspark.zip``, ``py4j-*.zip`` and
    ``spark-core_*.jar`` when the installed pyspark is the same release,
    else ``path`` itself."""
    rest = [p for p in path if not _is_spark_archive(p)]
    pyspark_zip = next((p for p in path if os.path.basename(p) == "pyspark.zip"), None)
    installed = _installed_dir("pyspark", rest)
    if pyspark_zip is None or installed is None or _installed_dir("py4j", rest) is None:
        return path
    try:
        with zipfile.ZipFile(pyspark_zip) as zf:
            zipped = zf.read("pyspark/version.py")
        with open(os.path.join(installed, "version.py"), "rb") as fh:
            same = fh.read() == zipped
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if same else path


def main() -> None:
    if "pyspark" not in sys.modules:
        path = worker_path(sys.path)
        for entry in set(sys.path) - set(path):
            sys.path_importer_cache.pop(entry, None)
        sys.path[:] = path
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
