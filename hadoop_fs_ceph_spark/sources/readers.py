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
- the session values of ``_RELATION_CONFS``: the footer type mapping and
  schema merge, and the partition-column typing, whose timestamp values
  follow ``spark.sql.session.timeZone``. The list comes from the confs
  Spark 4.1's ``DataSource.resolveRelation``, ``ParquetFileFormat``,
  ``PartitioningAwareFileIndex`` and ``PartitioningUtils`` read while
  building a relation; confs read only when a scan runs (filter pushdown,
  the vectorized reader, rebase modes) stay live and are not in the key.

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

# Session confs a parquet relation captures when it is built: the footer
# type mapping, which footers are read and merged, the typing and parsing of
# partition-directory values (timestamps in the session time zone), and
# whether the reader builds a V1 or a V2 relation.
_RELATION_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.sources.validatePartitionColumns",
    "spark.sql.files.ignoreInvalidPartitionPaths",
    "spark.sql.sources.useV1SourceList",
)

# path -> (key, analyzed JVM relation): one entry per path, replaced when
# its key changes.
_relations: dict[str, tuple[tuple, JavaObject]] = {}


def _file_signature(spark: SparkSession, path: str) -> tuple | None:
    """Sorted (path, length, modification time) of every file under ``path``,
    listed through the Hadoop ``FileSystem`` of its URI (local, ``s3a://``,
    ``cephrgw://``) without a Spark job; None when it cannot be listed (a
    missing path or a glob), which leaves the read uncached."""
    # getFileStatus/listStatus, not listFiles: its LocatedFileStatus looks up
    # block locations and owners, about 11 ms per local file.
    try:
        root = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
        fs = root.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
        todo, files = [fs.getFileStatus(root)], []
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
    and ``_RELATION_CONFS`` values (see the module docstring); a hit runs no
    Spark job and lists nothing but the signature. The key is taken before
    the read, so files rewritten during the read only cause a miss on the
    next call."""
    files = _file_signature(spark, path)
    if files is None:
        return spark.read.parquet(path)
    jsession = spark._jsparkSession
    key = (
        jsession.sessionUUID(),
        files,
        tuple(spark.conf.get(k, None) for k in _RELATION_CONFS),
    )
    hit = _relations.get(path)
    if hit is not None and hit[0] == key:
        dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
        return DataFrame(dataset.ofRows(jsession, hit[1].newInstance()), spark)
    df = spark.read.parquet(path)
    _relations[path] = (key, df._jdf.queryExecution().analyzed())
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
