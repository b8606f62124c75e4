"""Format readers. All scans are split-parallel (the Spark-side analog of
the reference's virtual-block sizing, ``CephRgwFileSystem.java:112``):
``spark.sql.files.maxPartitionBytes`` carves objects into read tasks the
same way the connector's fabricated 32 MiB block size drives input splits.

CSV/JSON take an explicit schema: at 100 TB, schema inference is a full
extra pass over the data. Parquet schemas are resolved once per file
listing: ``spark.read.parquet`` launches a Spark job to read a footer on
every call, so ``read_parquet`` keeps each path's inferred schema and hands
it back as an explicit one until the path's files or the inference confs
change.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Session confs that change the schema Spark infers for a parquet path: the
# footer type mapping, which footers are read and merged, and the typing of
# partition-directory columns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

# path -> (key, schema): one entry per path, replaced when its key changes.
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _file_signature(spark: SparkSession, path: str) -> tuple | None:
    """Sorted (path, length, modification time) of every file under ``path``,
    listed through the Hadoop ``FileSystem`` of its URI (local, ``s3a://``,
    ``cephrgw://``) without a Spark job; None when it cannot be listed (a
    missing path or a glob), which leaves the read uncached."""
    jvm = spark._jvm
    # getFileStatus/listStatus, not listFiles: its LocatedFileStatus looks up
    # block locations and owners, about 11 ms per local file.
    try:
        root = jvm.org.apache.hadoop.fs.Path(path)
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
    them (so an ``s3a://`` or ``cephrgw://`` table is sized too); 0 when the
    path cannot be listed."""
    return sum(length for _, length, _ in _file_signature(spark, path) or ())


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    listing. The key is the path's file signature plus the session values of
    ``_SCHEMA_CONFS``; on a hit the read takes the kept schema and
    runs no Spark job. The key is taken before the read, so files rewritten
    during inference only cause a miss on the next call."""
    files = _file_signature(spark, path)
    if files is None:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (key, df.schema)
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
