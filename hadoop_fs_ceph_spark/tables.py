"""Table loading helpers shared by all declared queries."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.sources.readers import read_parquet

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Tables whose cardinality is FIXED by the TPC-H spec (25 nations, 5
# regions) regardless of scale factor. Everything else (customer,
# supplier, part, orders, lineitem, events, documents, embeddings) grows
# linearly with SF — at 100 TB those are multi-TB relations, and a forced
# broadcast hint on them bypasses the autoBroadcastJoinThreshold and OOMs
# the driver instead of gracefully falling back to a shuffle join.
BOUNDED_TABLES = frozenset({"region", "nation"})


def dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a dimension table, hinting broadcast ONLY if it is truly
    bounded (cardinality independent of scale factor). SF-scaled tables
    come back unhinted so AQE broadcasts them at test scale (under the
    threshold) and shuffle-joins them at cluster scale."""
    df = t(spark, sf_dir, name)
    return F.broadcast(df) if name in BOUNDED_TABLES else df


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table (parquet) from the scale-factor directory.

    ``events.ts`` has shipped in two parquet physical types across fixture
    generations: TIMESTAMP(NANOS) (read as raw nanos via ``nanosAsLong`` and
    floored to µs) and TIMESTAMP(MICROS) without timezone (Spark 4 infers
    ``TIMESTAMP_NTZ``). Either way we normalize to a zoned ``TIMESTAMP`` so
    ``unix_micros()`` / ``withWatermark()`` accept it; the session timezone is
    pinned UTC so the NTZ→LTZ cast is the identity wall-clock mapping and both
    engines (Spark, DuckDB) see identical µs timestamps.

    The schema is resolved once per file listing (``read_parquet``): a
    repeat load runs no Spark job. The ``events`` confs are set before the
    read so ``nanosAsLong`` is part of the cache key; they stay here rather
    than in ``get_spark`` because the external driver calls
    ``__spark_entry__.entry`` on a session it built itself.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Pin the session to UTC so ts rendering matches DuckDB regardless of
        # how the consuming session was built (all other tables have no ts).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = read_parquet(spark, path)
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":  # old fixtures: nanos-as-long
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_dtype == "timestamp_ntz":  # current fixtures: µs no-tz
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, path)
