"""Table loading helpers shared by all declared queries."""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
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


def order_bounded(df: DataFrame, *cols) -> DataFrame:
    """``df.orderBy(*cols)`` on one partition, for the final ORDER BY of a
    relation that is bounded by construction.

    Bounded means a grouped aggregate in which every grouping key comes
    from a domain that does not grow with the scale factor: a
    ``BOUNDED_TABLES`` column, a TPC-H code column (``l_returnflag``,
    ``o_orderpriority``, ``c_mktsegment``, ``p_brand``, ...), a calendar
    bucket of the fixed date range, an ``event_type``/``lang``/``source``
    enum, or a fixed bin, fold or cluster count. A result keyed by an
    entity (a user, document, customer or part pair) is not bounded and
    keeps ``orderBy``.

    Spark plans a plain global sort as ``Exchange rangepartitioning``:
    one job that samples the sort keys (running the final aggregate a
    second time) and one shuffle map stage. On one partition the ``Sort``
    needs no exchange, so the final aggregate runs once, in the result
    stage, and the query runs 2 fewer Spark jobs.

    String keys resolve as ``df[name]`` (one py4j round trip, against
    three for ``F.col(name)``).
    """
    return df.coalesce(1).orderBy(*(df[c] if isinstance(c, str) else c for c in cols))


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table (parquet) from the scale-factor directory.

    The schema is resolved once per file listing (``read_parquet``): a
    repeat load runs no Spark job. ``events`` goes through ``read_events``
    and ``events_ts``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return events_ts(spark, read_events(spark, path))
    return read_parquet(spark, path)


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """``read_parquet`` of an ``events`` table, raw ``ts`` included.

    The fixtures store ``ts`` as TIMESTAMP(MICROS), which reads under any
    session conf. A file written by pandas stores TIMESTAMP(NANOS), which
    Spark reads only under ``nanosAsLong`` (as raw nanos). Only such a file
    makes this set that conf, and on the session: the scan reads the file
    again when the query runs.
    """
    try:
        return read_parquet(spark, path)
    except AnalysisException as e:
        if e.getCondition() != "PARQUET_TYPE_ILLEGAL":
            raise
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return read_parquet(spark, path)


def events_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The ``events.ts`` rules, for the batch (``t``) and the stream
    (``streaming.events_stream``) alike.

    ``ts`` becomes a zoned ``TIMESTAMP`` so ``unix_micros()`` /
    ``withWatermark()`` accept it: TIMESTAMP(MICROS) without timezone,
    which Spark 4 infers as ``TIMESTAMP_NTZ``, is cast; raw nanos
    (``read_events``) are floored to µs. The session timezone is pinned to
    UTC first, so the NTZ→LTZ cast is the identity wall-clock mapping and
    both engines (Spark, DuckDB) see identical µs timestamps. The pin stays
    here rather than in ``get_spark`` because the external driver calls
    ``__spark_entry__.entry`` on a session it built itself.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_dtype = dict(df.dtypes).get("ts")
    if ts_dtype == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
