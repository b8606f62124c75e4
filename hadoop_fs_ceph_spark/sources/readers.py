"""Format readers. All scans are split-parallel (the Spark-side analog of
the reference's virtual-block sizing, ``CephRgwFileSystem.java:112``):
``spark.sql.files.maxPartitionBytes`` carves objects into read tasks the
same way the connector's fabricated 32 MiB block size drives input splits.

CSV/JSON take an explicit schema: at 100 TB, schema inference is a full
extra pass over the data. Parquet tables are resolved once per session and
file listing, the way the reference mounts a bucket once and serves every
later open from that mount (``CephRgwFileSystem.java:98-147``). Each
``spark.read.parquet`` resolves a fresh DataSource: a ServiceLoader scan of
the classpath, a new ``InMemoryFileIndex`` over a copied Hadoop conf, and a
Spark job that reads the footers. ``read_parquet`` keeps, per path, the
analyzed relation of its first read and serves later reads from it.

The kept relation is keyed by everything it captured when it was built:

- the JVM session (``sessionUUID``): the relation holds its session, so a
  read through ``spark.newSession()`` resolves its own;
- the path's file signature (every file's path, length and modification
  time), so a rewritten table is listed again;
- the session's whole conf map (``RuntimeConfig.getAll``), kept as a JVM
  object and compared on the JVM side (three round trips): a relation
  captures the footer type mapping, schema merge and partition-column
  typing (timestamps in ``spark.sql.session.timeZone``) of the confs it
  was built under. Any conf change resolves the path again, so no list of
  the confs Spark reads there has to follow Spark upgrades.

A hit wraps ``relation.newInstance()`` (fresh attribute ids, so a self-join
of two hits resolves as two reads) in a Dataset through
``classic.Dataset.ofRows``. Both are Spark internals, not public API: a
Spark upgrade has to keep them or change this module.
"""

from __future__ import annotations

from py4j.java_gateway import JavaObject
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# path -> (key, conf map, analyzed JVM relation): one entry per path,
# replaced when its key or the session's confs change.
_relations: dict[str, tuple[tuple, JavaObject, JavaObject]] = {}


def _status(spark: SparkSession, path: str) -> tuple[JavaObject, JavaObject]:
    """The Hadoop ``FileSystem`` of ``path``'s URI (local, ``s3a://``,
    ``cephrgw://``) and the path's ``FileStatus`` there; raises
    ``Py4JJavaError`` when the path does not exist."""
    root = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = root.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    return fs, fs.getFileStatus(root)


def is_directory(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` is a directory, as its storage layer reports it."""
    return _status(spark, path)[1].isDirectory()


def _file_signature(spark: SparkSession, path: str) -> tuple | None:
    """Sorted (path, length, modification time) of every file under ``path``,
    listed through its Hadoop ``FileSystem`` without a Spark job; None when
    it cannot be listed (a missing path or a glob), which leaves the read
    uncached."""
    # getFileStatus/listStatus, not listFiles: its LocatedFileStatus looks up
    # block locations and owners, about 11 ms per local file.
    try:
        fs, status = _status(spark, path)
        todo, files = [status], []
        while todo:
            status = todo.pop()
            if status.isDirectory():
                todo.extend(fs.listStatus(status.getPath()))
            else:
                files.append(
                    (status.getPath().toString(), status.getLen(), status.getModificationTime())
                )
    except Py4JJavaError:
        return None
    return tuple(sorted(files))


def relation_bytes(spark: SparkSession, path: str) -> int:
    """Total length of the files under ``path`` as its storage layer lists
    them (so an ``s3a://`` or ``cephrgw://`` table is sized too). Raises
    ``FileNotFoundError`` when the path cannot be listed: a size of 0 would
    read as an empty relation to the callers that size work by it."""
    files = _file_signature(spark, path)
    if files is None:
        raise FileNotFoundError(path)
    return sum(length for _, length, _ in files)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` resolved once per session, file listing
    and conf map (see the module docstring); a hit runs no Spark job and
    lists nothing but the signature. The key is taken before the read, so
    files rewritten during the read only cause a miss on the next call."""
    files = _file_signature(spark, path)
    if files is None:
        return spark.read.parquet(path)
    jsession = spark._jsparkSession
    key, conf = (jsession.sessionUUID(), files), jsession.conf().getAll()
    hit = _relations.get(path)
    if hit is not None and hit[0] == key and hit[1].equals(conf):
        dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
        return DataFrame(dataset.ofRows(jsession, hit[2].newInstance()), spark)
    df = spark.read.parquet(path)
    _relations[path] = (key, conf, df._jdf.queryExecution().analyzed())
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    timestamp_format: str = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    **options: str,
) -> DataFrame:
    return (
        spark.read.schema(schema)
        .option("header", str(header).lower())
        .option("timestampFormat", timestamp_format)
        .options(**options)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
