"""Source/sink declared queries: format round-trips, partitioned writes,
catalog-mediated access.

Each round-trip writes a deterministic projection to scratch space, reads
it back through the engine's reader, and aggregates; the oracle runs the
same aggregate on the original parquet — so a hash match proves the
write→read cycle is lossless (the reference-surface guarantee: bytes out
== bytes in, ``CephRgwOutputStream``/``CephRgwInputStream``).
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.canonical import dsum, sql_dsum
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.sources import read_csv, read_json, read_orc, write_table
from hadoop_fs_ceph_spark.tables import t

_ORDERS_AGG_SQL = f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           {sql_dsum('o_totalprice', 'sum_price')},
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus
"""


def _orders_agg(df):
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", "sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@query("src_csv_roundtrip", oracle=_ORDERS_AGG_SQL, tags=("source", "csv"))
def src_csv_roundtrip(spark, sf_dir):
    """parquet → CSV (header) → read with explicit schema → aggregate.
    Timestamps round-trip via an explicit ISO format; doubles via Spark's
    shortest-repr serialization (lossless)."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "csv_orders")
    write_table(o, path, format="csv", mode="overwrite", header="true",
                timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    )
    return _orders_agg(read_csv(spark, path, schema))


@query("src_json_roundtrip", oracle=_ORDERS_AGG_SQL, tags=("source", "json"))
def src_json_roundtrip(spark, sf_dir):
    """parquet → JSON lines → schema'd read-back → aggregate."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "json_orders")
    write_table(o, path, format="json", mode="overwrite",
                timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    )
    return _orders_agg(read_json(spark, path, schema))


@query("src_orc_roundtrip", oracle=_ORDERS_AGG_SQL, tags=("source", "orc"))
def src_orc_roundtrip(spark, sf_dir):
    """parquet → ORC → read-back → aggregate (DuckDB lacks ORC, so the
    oracle runs on the original parquet — a hash match proves the ORC
    cycle lossless)."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "orc_orders")
    write_table(o, path, format="orc", mode="overwrite")
    return _orders_agg(read_orc(spark, path))


@query("src_xml_roundtrip", oracle=_ORDERS_AGG_SQL, tags=("source", "xml"))
def src_xml_roundtrip(spark, sf_dir):
    """parquet → XML (Spark 4 built-in source, one <order> element per
    row) → schema'd read-back → aggregate. DuckDB has no XML reader, so
    the oracle runs on the original parquet — the hash match proves the
    XML cycle lossless. Timestamps round-trip via an explicit ISO
    format; doubles via shortest-repr serialization (same contract as
    the CSV/JSON roundtrips).

    Scale: the XML source splits files like any text source; schema'd
    reads skip inference (a full extra pass at 100 TB)."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "xml_orders")
    (
        o.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .save(path)
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .schema(schema)
        .load(path)
    )
    return _orders_agg(back)


@query(
    "src_partitioned_write",
    oracle="""
    SELECT o_orderstatus, YEAR(o_orderdate) AS yr, COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus, YEAR(o_orderdate)
    """,
    tags=("source", "partitioned"),
)
def src_partitioned_write(spark, sf_dir):
    """Hive-style partitioned write (partitionBy status, year) and
    read-back with partition-column recovery; the count-per-partition must
    survive the layout change. Partition pruning over this layout is
    asserted in tests/test_plans.py."""
    o = t(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    path = scratch.path(sf_dir, "part_orders")
    write_table(o, path, mode="overwrite", partition_by=["o_orderstatus", "yr"])
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderstatus", "yr")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("o_orderstatus", F.col("yr").cast("int").alias("yr"), "n")
    )


@query(
    "src_save_modes",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n
    FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)
    GROUP BY o_orderstatus
    """,
    tags=("source", "savemode"),
)
def src_save_modes(spark, sf_dir):
    """Save-mode semantics — the engine's mirror of the reference's
    CreateFlag contract (`CephRgwFileSystem.java:263-274`): errorifexists
    must refuse an existing target (FileAlreadyExistsException analog),
    overwrite replaces it, and append adds table-level data — new files in
    the directory, exactly how object storage gets 'append' even though
    byte-append is unsupported (`CephRgwFileSystem.java:304-308`).

    The returned counts prove the sequence: overwrite(1x) → errorifexists
    rejected (still 1x) → append(+1x) = 2x the source rows."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "modes_orders")
    write_table(o, path, mode="overwrite")
    try:
        write_table(o, path, mode="errorifexists")
    except Exception:
        pass  # contract: existing target must be refused
    else:  # pragma: no cover - would be a save-mode contract violation
        raise AssertionError("errorifexists overwrote an existing target")
    write_table(o, path, mode="append")
    return spark.read.parquet(path).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "src_catalog_access",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    tags=("source", "catalog"),
)
def src_catalog_access(spark, sf_dir):
    """Access through the name→path catalog (the reference-surface layer:
    mount → lookup → read, SURVEY.md §2A rows 1/8/9)."""
    from hadoop_fs_ceph_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    n = cat.table("nation")
    r = cat.table("region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@query(
    "src_file_metadata",
    oracle=None,  # file paths/sizes are engine-internal; rows-only check
    tags=("source", "metadata"),
)
def src_file_metadata(spark, sf_dir):
    """The listStatus/getFileStatus analog: per-file metadata via Spark's
    hidden ``_metadata`` column (path, size, mtime → SURVEY.md §2A rows
    8-9)."""
    from hadoop_fs_ceph_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    return cat.table_files("lineitem").select("file_name", "file_size", "row_count")


@query(
    "src_bucketed_join",
    oracle=f"""
    SELECT l.l_orderkey, COUNT(*) AS n_lines,
           {sql_dsum('l.l_extendedprice', 'sum_price')}
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 50 = 0
    GROUP BY l.l_orderkey
    """,
    tags=("source", "bucketed", "join"),
)
def src_bucketed_join(spark, sf_dir):
    """Bucketed co-located join: both fact tables written bucketBy(8) +
    sortBy on the join key, then joined — Spark matches the bucket specs
    and sort-merge joins with NO shuffle exchange on either side (asserted
    in tests/test_plans.py). At 100 TB this is the difference between a
    join that re-shuffles both tables every run and one that reads
    pre-co-located buckets; the bucketed write is the reference's
    virtual-block idea (split-friendly layout) taken one step further:
    key-aligned layout."""
    tag = scratch.tag(sf_dir)
    names = {}
    for tbl, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey"]),
        ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]),
    ):
        name = f"b_{tbl}_{tag}"
        names[tbl] = name
        (
            t(spark, sf_dir, tbl)
            .select(*cols)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", scratch.path(sf_dir, f"bucketed_{tbl}"))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
    o = spark.table(names["orders"]).filter(F.col("o_orderkey") % 50 == 0)
    li = spark.table(names["lineitem"])
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_extendedprice", "sum_price"))
    )


@query(
    "src_upsert_merge",
    oracle=f"""
    WITH updates AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
      SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
             COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
             COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
      FROM orders b FULL JOIN updates u ON b.o_orderkey = u.o_orderkey
    )
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM merged GROUP BY o_orderstatus
    """,
    tags=("source", "upsert", "merge"),
)
def src_upsert_merge(spark, sf_dir):
    """MERGE/upsert on a plain-parquet lake: updates full-outer-joined to
    the base snapshot, update wins per column, result is the next
    snapshot. This is the copy-on-write merge a table format (Delta/
    Iceberg) performs internally — expressed directly so the engine can
    maintain mutable tables on immutable object storage (the reference's
    world: no byte-level update, `CephRgwFileSystem.java:304-308`).

    At scale: the join shuffles on the primary key; with the base laid
    out bucketed by key (src_bucketed_join) the rewrite touches only the
    buckets containing updates."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd = o.filter(F.col("o_orderkey") % 20 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    b, u = o.alias("b"), upd.alias("u")
    merged = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full").select(
        *[
            F.coalesce(F.col(f"u.{c}"), F.col(f"b.{c}")).alias(c)
            for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        ]
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@query(
    "src_delete_rewrite",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders b
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = b.o_custkey AND c.c_custkey % 25 = 3
    )
    GROUP BY o_orderstatus
    """,
    tags=("source", "delete", "anti"),
)
def src_delete_rewrite(spark, sf_dir):
    """Targeted delete on an immutable lake (the GDPR/right-to-erasure
    shape): the delete-set (customers to forget) anti-joins the base
    table and the survivors become the next snapshot. The delete-set is
    tiny → broadcast anti-join: one pass over the base, no shuffle."""
    o = t(spark, sf_dir, "orders")
    forget = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 25 == 3)
        .select("c_custkey")
    )
    survivors = o.join(
        forget, o.o_custkey == forget.c_custkey, "left_anti"
    )
    return survivors.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@query(
    "src_text_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars,
           MIN(length(text)) AS min_len,
           MAX(length(text)) AS max_len
    FROM documents
    """,
    tags=("source", "text"),
)
def src_text_roundtrip(spark, sf_dir):
    """Plain text-file sink/source: one line per document out, lines back
    in — the lowest-common-denominator format (raw byte streams are all
    the reference's FileSystem actually moves; structure is always layered
    on top)."""
    d = t(spark, sf_dir, "documents").select("text")
    path = scratch.path(sf_dir, "text_docs")
    d.write.mode("overwrite").text(path)
    back = spark.read.text(path)  # column: value
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value").cast("long")).alias("total_chars"),
        F.min(F.length("value")).alias("min_len"),
        F.max(F.length("value")).alias("max_len"),
    )


@query(
    "src_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS o_channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_channel, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
    FROM unioned GROUP BY o_channel
    """,
    tags=("source", "schema_evolution"),
)
def src_schema_evolution(spark, sf_dir):
    """Schema evolution on a plain-parquet table: generation 1 files lack
    a column that generation 2 adds; reading with mergeSchema unifies
    them (old rows surface NULL). This is how a lake table grows columns
    without rewriting history — the schema lives in the files, exactly
    the reference's world where the FS stores only bytes."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "evolve_orders")
    gen1 = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    gen1.write.mode("overwrite").parquet(path)
    gen2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "web").otherwise("store").alias("o_channel"),
    )
    gen2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy("o_channel").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias("cents"),
    )


@query("src_parquet_codecs", oracle=_ORDERS_AGG_SQL, tags=("source", "codec"))
def src_parquet_codecs(spark, sf_dir):
    """parquet re-encode under different compression codecs (zstd for the
    write here; snappy is the read-side default) → read-back → aggregate.
    Codec choice is a pure storage trade (zstd ~2× smaller, snappy
    fastest to decode) and must be invisible to results — mirroring the
    reference's byte-transparency contract (`CephRgwOutputStream` writes
    whatever bytes the format layer hands it). At 100 TB codec choice is
    a first-order cost knob, so the engine proves re-encoding lossless."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "zstd_orders")
    write_table(o, path, mode="overwrite", compression="zstd")
    return _orders_agg(spark.read.parquet(path))


@query("src_compact_small_files", oracle=_ORDERS_AGG_SQL, tags=("source", "compaction"))
def src_compact_small_files(spark, sf_dir):
    """Small-file compaction — THE object-store maintenance op. A
    64-way-fragmented copy of orders (the shape streaming ingest leaves
    behind) is rewritten into ≤4 right-sized files via coalesce (no
    shuffle: it only glues task outputs); results must be byte-equivalent
    to the original. Small files are the documented pain point the
    reference's FH-cache/readonly mode exists for
    (`CephRgwFileSystem.java:113,485` — metadata lookups dominate); at
    100 TB the same rewrite runs per-partition with a target file size of
    ~1 GiB, keyed off AQE advisory partition sizes."""
    o = t(spark, sf_dir, "orders")
    frag = scratch.path(sf_dir, "frag_orders")
    write_table(o.repartition(64), frag, mode="overwrite")
    compacted = scratch.path(sf_dir, "compact_orders")
    write_table(spark.read.parquet(frag).coalesce(4), compacted, mode="overwrite")
    return _orders_agg(spark.read.parquet(compacted))


@query(
    "src_clustered_write",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum("o_totalprice", "sum_price")}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
    GROUP BY o_orderstatus
    """,
    tags=("source", "clustering"),
)
def src_clustered_write(spark, sf_dir):
    """Range-clustered write: repartitionByRange + sortWithinPartitions
    on the query key before writing, so each parquet file covers a narrow
    o_orderdate span and its row-group min/max statistics let a date
    filter skip whole files — the object-store substitute for an index
    (file-level zone maps). The read-back query filters one quarter; its
    scan touches ~1/8 of the files. Same idea generalizes to multi-column
    Z-ordering; single-key range clustering is the Spark-native form."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "clustered_orders")
    write_table(
        o.repartitionByRange(8, "o_orderdate").sortWithinPartitions("o_orderdate"),
        path,
        mode="overwrite",
    )
    back = spark.read.parquet(path).filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price")
    )


@query("src_csv_dialect", oracle=_ORDERS_AGG_SQL, tags=("source", "csv", "dialect"))
def src_csv_dialect(spark, sf_dir):
    """Non-default CSV dialect round-trip: pipe delimiter, single-quote
    quoting, backslash escape, and an explicit NULL marker (the dialect
    knobs a lake ingests from third-party dumps with). Reader and writer
    must agree on every knob for the aggregate to hash-match the
    original parquet — proving dialect fidelity, not just the happy
    path. NULLs are injected into a nullable copy of o_orderpriority to
    force the nullValue marker through the cycle, then the aggregate
    ignores that column so the oracle stays the shared orders truth."""
    o = t(spark, sf_dir, "orders").withColumn(
        "o_priority_nullable",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    path = scratch.path(sf_dir, "csv_dialect_orders")
    write_table(
        o, path, format="csv", mode="overwrite", header="true",
        timestampFormat="yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        sep="|", quote="'", escape="\\", nullValue="\\N",
    )
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string, "
        "o_priority_nullable string"
    )
    back = read_csv(
        spark, path, schema, sep="|", quote="'", escape="\\", nullValue="\\N"
    )
    return _orders_agg(back)


@query("src_multi_path_read", oracle=_ORDERS_AGG_SQL, tags=("source", "multi-path"))
def src_multi_path_read(spark, sf_dir):
    """Multi-path scan: one logical table split across two directory
    roots (the layout object-store lakes grow into — per-ingest-batch
    prefixes), loaded in a SINGLE `spark.read.parquet(pathA, pathB)`
    call so both file sets share one scan, one schema, and one set of
    pushdown filters — not a manual union of two reads. The aggregate
    hash-matching the unsplit original proves no rows are lost or
    doubled across the path split."""
    o = t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    pa = scratch.path(sf_dir, "multi_a")
    pb = scratch.path(sf_dir, "multi_b")
    write_table(o.filter(urgent), pa, format="parquet", mode="overwrite")
    write_table(o.filter(~urgent), pb, format="parquet", mode="overwrite")
    return _orders_agg(spark.read.parquet(pa, pb))


@query(
    "src_dynamic_partition_overwrite",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM (
      SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus <> 'F'
      UNION ALL
      SELECT o_orderstatus, o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "partitioned", "dynamic-overwrite"),
)
def src_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite: rewrite ONLY the partitions present
    in the incoming frame (partitionOverwriteMode=dynamic), leaving
    sibling partitions untouched — the partition-level upsert every
    object-store lake uses for late-arriving restatements (static mode
    would wipe the whole table root). Here the 'F' partition is restated
    with repriced rows while 'O'/'P' survive from the first write; the
    aggregate hash-matching the reconstructed truth proves exactly one
    partition changed. At scale this is the idempotent daily-restate
    primitive: the job rewrites day partitions it saw, never the lake."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = scratch.path(sf_dir, "dyn_overwrite_orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    restated = o.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    back = spark.read.parquet(path)
    shift = 10**6
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("o_totalprice") * shift).cast("long")).cast("double")
                / shift
            ).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "src_time_travel",
    oracle=f"""
    SELECT 0 AS version, COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 1 AS version, COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    ORDER BY version
    """,
    tags=("source", "catalog", "time-travel"),
)
def src_time_travel(spark, sf_dir):
    """Snapshot time travel the way Iceberg/Delta implement it: data
    files are immutable, a snapshot is a tiny JSON manifest listing
    member directories, and a commit writes ONLY new files plus a new
    manifest (v1 = v0's files + the appended delta — zero rewrite).
    Reading "as of v0" is a multi-path parquet scan over exactly the
    files v0 listed; the delta written later is invisible to it. At
    100 TB this is why lake commits are O(delta) not O(table), and why
    concurrent readers never see torn state: the old manifest keeps
    resolving to the old immutable file set. The result profiles both
    snapshots side by side, proving v0 survived the v1 commit."""
    import json

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scratch.path(sf_dir, "time_travel")
    base, delta = os.path.join(root, "data", "base"), os.path.join(root, "data", "delta")
    write_table(o.filter(F.col("o_orderkey") % 3 != 0), base,
                format="parquet", mode="overwrite")
    write_table(o.filter(F.col("o_orderkey") % 3 == 0), delta,
                format="parquet", mode="overwrite")
    snap_dir = os.path.join(root, "snap")
    os.makedirs(snap_dir, exist_ok=True)
    manifests = {0: ["data/base"], 1: ["data/base", "data/delta"]}
    for v, members in manifests.items():
        with open(os.path.join(snap_dir, f"v{v}.json"), "w") as fh:
            json.dump({"version": v, "members": members}, fh)

    def read_snapshot(version):
        with open(os.path.join(snap_dir, f"v{version}.json")) as fh:
            members = json.load(fh)["members"]
        return spark.read.parquet(*[os.path.join(root, m) for m in members])

    def profile(version):
        return read_snapshot(version).agg(
            F.lit(version).alias("version"),
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "sum_price"),
        ).select("version", "n", "sum_price")

    return profile(0).unionByName(profile(1)).orderBy("version")


@query(
    "src_nested_struct_roundtrip",
    oracle="""
    WITH s AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn_a,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
      FROM orders WHERE o_custkey % 50 = 0
    )
    SELECT o_custkey,
           COUNT(*) AS n,
           MIN(CASE WHEN rn_a = 1 THEN o_orderkey END) AS first_key,
           MIN(CASE WHEN rn_a = 1 THEN cents END) AS first_cents,
           MIN(CASE WHEN rn_d = 1 THEN o_orderkey END) AS last_key
    FROM s GROUP BY o_custkey ORDER BY o_custkey
    """,
    tags=("source", "nested", "struct"),
)
def src_nested_struct_roundtrip(spark, sf_dir):
    """Nested-type round trip: per customer, an ARRAY<STRUCT<date,key,
    cents>> order history (sorted by lexicographic struct order =
    (date, key) since keys are unique) is built with one aggregate,
    written to parquet, read back, and unpacked via element_at +
    dotted field access — the schema shape every feature store and
    training-manifest table uses (multimodal metadata rides the same
    ARRAY<STRUCT> rails, SURVEY.md §2B north star). Parquet encodes
    the nesting losslessly (repeated groups), so pruning still
    reaches scalar leaves; the oracle reconstructs first/last
    semantics with rank windows — no nested types needed on the
    DuckDB side."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 50 == 0)
    nested = o.groupBy("o_custkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("o_orderdate").alias("d"),
                    F.col("o_orderkey").alias("k"),
                    F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
                )
            )
        ).alias("hist")
    )
    path = scratch.path(sf_dir, "nested_struct")
    write_table(nested, path, format="parquet", mode="overwrite")
    back = spark.read.parquet(path)
    first = F.element_at("hist", 1)
    last = F.element_at("hist", F.size("hist"))
    return back.select(
        "o_custkey",
        F.size("hist").cast("long").alias("n"),
        first.getField("k").alias("first_key"),
        first.getField("cents").alias("first_cents"),
        last.getField("k").alias("last_key"),
    ).orderBy("o_custkey")


@query(
    "src_csv_permissive_corrupt",
    oracle="""
    SELECT (doc_id % 7 = 0) AS is_corrupt,
           COUNT(*) AS n,
           CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           CAST(SUM(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars END) AS BIGINT)
             AS sum_chars
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    tags=("source", "csv", "permissive", "data-quality"),
)
def src_csv_permissive_corrupt(spark, sf_dir):
    """Malformed-record ingest contract: a CSV where every 7th row
    carries a non-numeric value in a BIGINT column is read in
    PERMISSIVE mode — the default lake posture: bad fields become
    NULL, the raw line is preserved in columnNameOfCorruptRecord, and
    the batch NEVER fails (FAILFAST would kill a 100 TB ingest for
    one bad row; DROPMALFORMED silently loses data — quarantining via
    the corrupt column is the auditable middle). The aggregate splits
    the file by quarantine flag and proves well-formed fields survive
    parsing next to poisoned ones."""
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    lines = d.select(
        F.concat_ws(
            ",",
            F.col("doc_id"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("xx")).otherwise(
                F.col("n_chars").cast("string")
            ),
            F.col("source"),
        ).alias("value")
    )
    path = scratch.path(sf_dir, "csv_permissive")
    lines.write.mode("overwrite").text(path)
    back = spark.read.csv(
        path,
        schema="doc_id BIGINT, n_chars BIGINT, source STRING, _corrupt STRING",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    return (
        back.groupBy(F.col("_corrupt").isNotNull().alias("is_corrupt"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sum_ids"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("sum_chars"),
        )
        .orderBy("is_corrupt")
    )


def _z_bits(a: str, b: str, nbits: int = 16) -> str:
    """SQL expression interleaving the low nbits of two int columns into
    a Z-order (Morton) value — identical text works in Spark SQL and
    DuckDB (>>, &, and multiplication by powers of two)."""
    terms = []
    for i in range(nbits):
        terms.append(f"((({a} >> {i}) & 1) * {1 << (2 * i)})")
        terms.append(f"((({b} >> {i}) & 1) * {1 << (2 * i + 1)})")
    return " + ".join(terms)


_Z_EXPR = _z_bits("l_orderkey", "l_partkey")


@query(
    "src_zorder_write",
    oracle=f"""
    SELECT COUNT(*) AS n,
           CAST(SUM({_Z_EXPR}) AS BIGINT) AS sum_z,
           {sql_dsum('l_extendedprice', 'sum_price')}
    FROM lineitem
    WHERE l_orderkey % 16 < 2 AND l_partkey % 16 < 2
    """,
    tags=("source", "zorder", "clustering"),
)
def src_zorder_write(spark, sf_dir):
    """Z-order (Morton) clustered write: interleave the low bits of the
    two query keys into one z-value, range-partition + sort the write
    by it, so files cover compact RECTANGLES of (orderkey, partkey)
    space — parquet min/max stats then skip files for predicates on
    EITHER dimension, which single-key range clustering (see
    src_clustered_write) can only do for one. This is Delta/Iceberg
    OPTIMIZE ZORDER re-expressed with repartitionByRange — layout-time
    cost, query-time skipping. The read-back probes a small rectangle;
    sum_z proves the interleave arithmetic is bit-identical to the
    oracle's."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    z = F.expr(_Z_EXPR).alias("z")
    path = scratch.path(sf_dir, "zorder_lineitem")
    write_table(
        li.select("*", z)
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z"),
        path,
        format="parquet",
        mode="overwrite",
    )
    back = spark.read.parquet(path)
    return back.filter(
        (F.col("l_orderkey") % 16 < 2) & (F.col("l_partkey") % 16 < 2)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("z").alias("sum_z"),
        dsum("l_extendedprice", "sum_price"),
    )


@query(
    "src_catalog_rename",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("source", "catalog", "rename"),
)
def src_catalog_rename(spark, sf_dir):
    """Catalog rename lifecycle: create → rename → read via the new
    name → old name gone. The reference implements rename by
    delegating to its embedded S3AFileSystem — a non-atomic
    server-side copy+delete of every object
    (`CephRgwFileSystem.java:310-313`, SURVEY.md §2A #6); our catalog
    renames by swapping the name→path pointer, an O(1) metadata
    operation that never touches data files — the reason lakehouse
    table formats keep naming OUT of the object store. The aggregate
    through the post-rename handle proves the data followed the
    name."""
    from hadoop_fs_ceph_spark.catalog import Catalog

    cat = Catalog(spark, sf_dir)
    sample = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    path = scratch.path(sf_dir, "rename_orders")
    cat.write_table(sample, "orders_staging", path, mode="overwrite")
    cat.rename_table("orders_staging", "orders_final")
    if cat.exists("orders_staging"):  # pragma: no cover - contract violation
        raise AssertionError("rename left the old name resolvable")
    back = cat.table("orders_final")
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "src_scd2_build",
    oracle="""
    WITH chg AS (
      SELECT user_id, ts, event_id, event_type AS status
      FROM events WHERE user_id % 40 = 7
    )
    SELECT user_id, status,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current,
           CAST(row_number() OVER w AS BIGINT) AS version_no
    FROM chg
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("source", "scd2", "cdc", "versioning"),
)
def src_scd2_build(spark, sf_dir):
    """SCD Type-2 dimension build from a CDC change feed: each change row
    becomes a version with [valid_from, valid_to) bounds — valid_to is
    the NEXT change's timestamp (lead), NULL marks the current version,
    and version_no is the per-key change ordinal. This is the
    lake-maintenance pattern that turns the reference's immutable-object
    write model (create/overwrite only, no in-place update —
    ``CephRgwOutputStream.java`` append-only buffering) into queryable
    history: instead of updating a dimension row in place, every change
    appends and the window derives the validity intervals.

    Scale shape: one window over (user_id | ts, event_id) = one shuffle
    on the dimension key; both window functions share the frame so
    Catalyst evaluates them in a single Window operator. The modulo
    filter stands in for the changed-partition pruning a real CDC batch
    gets from its partition columns (a partition-column predicate would
    prune directories; a modulo is evaluated at the scan but not pushed
    into parquet row-group stats)."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 40 == 7)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.row_number().over(w).cast("long").alias("version_no"),
    )


@query(
    "src_multi_table_snapshot",
    oracle=f"""
    WITH j AS (
      SELECT l.l_orderkey, l.l_extendedprice, o.o_orderstatus
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey % 4 = 1
    )
    SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice', 'sum_price')}
    FROM j WHERE l_orderkey % 2 = 1 GROUP BY o_orderstatus
    UNION ALL
    SELECT 1 AS version, o_orderstatus, COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice', 'sum_price')}
    FROM j GROUP BY o_orderstatus
    ORDER BY version, o_orderstatus
    """,
    tags=("source", "catalog", "transaction", "snapshot"),
)
def src_multi_table_snapshot(spark, sf_dir):
    """Cross-table atomic commit: ONE manifest versions the member file
    sets of BOTH tables (orders + lineitem), so a reader of version v
    always joins table states that were committed together — never
    orders@v1 against lineitem@v0, the torn-read hazard of versioning
    tables independently. The commit protocol is the multi-table
    generalization of src_time_travel: write the two deltas (immutable
    files, O(delta)), then publish one new manifest naming both tables'
    new member lists — the single-file manifest swap IS the transaction
    boundary, exactly the Iceberg/Delta commit model over a path catalog.
    The query joins each snapshot's two tables and profiles both
    versions side by side, proving v0's join view survived the v1
    commit."""
    import json

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey", "o_orderstatus"
    )
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    li = li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_semi")
    root = scratch.path(sf_dir, "multi_snap")
    paths = {
        ("orders", "base"): o,  # full dim in the base commit
        ("lineitem", "base"): li.filter(F.col("l_orderkey") % 2 == 1),
        ("lineitem", "delta"): li.filter(F.col("l_orderkey") % 2 == 0),
    }
    for (tbl, part), df in paths.items():
        write_table(df, os.path.join(root, "data", tbl, part),
                    format="parquet", mode="overwrite")
    snap_dir = os.path.join(root, "snap")
    os.makedirs(snap_dir, exist_ok=True)
    manifests = {
        0: {"orders": ["base"], "lineitem": ["base"]},
        1: {"orders": ["base"], "lineitem": ["base", "delta"]},
    }
    for v, members in manifests.items():
        with open(os.path.join(snap_dir, f"v{v}.json"), "w") as fh:
            json.dump({"version": v, "tables": members}, fh)

    def snapshot_table(version, tbl):
        with open(os.path.join(snap_dir, f"v{version}.json")) as fh:
            members = json.load(fh)["tables"][tbl]
        return spark.read.parquet(
            *[os.path.join(root, "data", tbl, m) for m in members]
        )

    def profile(version):
        ov = snapshot_table(version, "orders")
        lv = snapshot_table(version, "lineitem")
        return (
            lv.join(ov, lv.l_orderkey == ov.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_lines"), dsum("l_extendedprice", "sum_price"))
            .select(
                F.lit(version).alias("version"), "o_orderstatus", "n_lines", "sum_price"
            )
        )

    return profile(0).unionByName(profile(1)).orderBy("version", "o_orderstatus")


@query(
    "src_partition_evolution",
    oracle="""
    SELECT o_orderstatus, CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus, yr
    ORDER BY o_orderstatus, yr
    """,
    tags=("source", "partition-evolution", "layout"),
)
def src_partition_evolution(spark, sf_dir):
    """Partition-spec evolution: the table's OLD half lives under the
    original spec (partitioned by status only), the NEW half under the
    evolved spec (status, year) — the Iceberg-style migration where old
    data is never rewritten when the partitioning scheme changes, because
    rewriting history is exactly the O(table) cost partition evolution
    exists to avoid. A reader unions the two layouts (each scan prunes by
    its own spec's directories) and the combined aggregate must equal the
    unpartitioned truth.

    At 100 TB: new specs apply forward-only; queries filtered on year
    prune directories in the new half and fall back to parquet row-group
    stats in the old half — graceful, not wrong, which is the contract."""
    o = t(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    old_half = o.filter(F.col("o_orderkey") % 2 == 0)
    new_half = o.filter(F.col("o_orderkey") % 2 == 1)
    root = scratch.path(sf_dir, "part_evolution")
    p_old, p_new = os.path.join(root, "spec0"), os.path.join(root, "spec1")
    write_table(old_half, p_old, mode="overwrite", partition_by=["o_orderstatus"])
    write_table(new_half, p_new, mode="overwrite", partition_by=["o_orderstatus", "yr"])
    back = spark.read.parquet(p_old).unionByName(spark.read.parquet(p_new))
    return (
        back.groupBy("o_orderstatus", F.col("yr").cast("long").alias("yr"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus", "yr")
    )


@query(
    "src_merge_on_read_deletes",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_live,
           {sql_dsum('o_totalprice', 'sum_price')},
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 17 = 5)
             AS n_deleted
    FROM orders
    WHERE o_orderkey % 17 <> 5
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("source", "lakehouse", "merge-on-read", "delete-vector"),
)
def src_merge_on_read_deletes(spark, sf_dir):
    """Merge-on-read row deletes — the Iceberg-v2 / Delta deletion-vector
    model, the complement of `src_delete_rewrite` (copy-on-write): the
    base data files are NEVER rewritten; a delete commit writes only a
    tiny sidecar of deleted row keys, and readers subtract it with an
    anti-join at scan time. Deletes become O(|deleted|) metadata writes
    instead of O(|file|) rewrites — the only viable delete path when
    compliance erasures hit a 100 TB table daily — at the cost of a
    read-side join until compaction folds the vectors in.

    The query materializes base + sidecar as real parquet (base written
    once per process, reused across runs), then serves the MOR read: anti-join on
    the key, aggregate the surviving rows, and report the delete count
    from the sidecar alone. At scale the sidecar is broadcast-sized by
    construction (deletes ≪ base) and the anti-join is AQE-broadcast;
    the oracle replays the same subtraction relationally."""
    base_p = scratch.path(sf_dir, "mor_base")
    del_p = scratch.path(sf_dir, "mor_deletes")
    o = t(spark, sf_dir, "orders")
    if not os.path.exists(base_p):
        o.write.mode("overwrite").parquet(base_p)
    # the delete commit: keys only, no data rewrite
    o.filter(F.col("o_orderkey") % 17 == 5).select("o_orderkey").write.mode(
        "overwrite"
    ).parquet(del_p)

    base = spark.read.parquet(base_p)
    dels = spark.read.parquet(del_p)
    n_del = dels.agg(F.count(F.lit(1)).alias("n_deleted"))
    live = base.join(dels, "o_orderkey", "left_anti")
    return (
        live.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_live"), dsum("o_totalprice", "sum_price"))
        .crossJoin(F.broadcast(n_del))
        .orderBy("o_orderstatus")
    )


@query(
    "src_schema_drift_report",
    oracle="""
    SELECT * FROM (VALUES
      ('o_custkey',       'bigint', 'string', 'type_changed'),
      ('o_orderdate',     'timestamp_ntz', 'timestamp_ntz', 'unchanged'),
      ('o_orderkey',      'bigint', 'bigint', 'unchanged'),
      ('o_orderpriority', 'string', 'string', 'unchanged'),
      ('o_orderstatus',   'string', NULL,     'removed'),
      ('o_revenue_class', NULL,     'string', 'added'),
      ('o_totalprice',    'double', 'double', 'unchanged')
    ) AS t(column_name, v0_type, v1_type, status)
    ORDER BY column_name
    """,
    tags=("source", "schema", "drift", "governance"),
)
def src_schema_drift_report(spark, sf_dir):
    """Schema-drift report between two table versions — the governance
    check a lake runs before every promotion: columns added, removed,
    and type-changed between snapshot v0 and snapshot v1, derived from
    the PARQUET FOOTERS of the two versions (the files are the truth —
    no registry to trust). v1 deliberately drops a column, adds one,
    and changes a type, and the report must call out exactly those
    three against the unchanged remainder.

    Scale shape: schema comes from file metadata (footer reads, no data
    scan); the diff is a full outer join of two column-name relations —
    bounded by schema width, not table size. The oracle pins the
    expected drift rows literally, so any regression in the evolution
    machinery (or in how Spark round-trips types through parquet)
    surfaces as a hash mismatch."""
    o = t(spark, sf_dir, "orders")
    v0_p = scratch.path(sf_dir, "drift_v0")
    v1_p = scratch.path(sf_dir, "drift_v1")
    o.write.mode("overwrite").parquet(v0_p)
    (
        o.select(
            "o_orderkey",
            F.col("o_custkey").cast("string").alias("o_custkey"),
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
            F.when(F.col("o_totalprice") > 200000, "high")
            .otherwise("standard")
            .alias("o_revenue_class"),
        )
        .write.mode("overwrite")
        .parquet(v1_p)
    )

    def schema_rows(path, alias):
        fields = spark.read.parquet(path).schema.fields
        return spark.createDataFrame(
            [(f.name, f.dataType.simpleString()) for f in fields],
            f"column_name string, {alias} string",
        )

    v0 = schema_rows(v0_p, "v0_type")
    v1 = schema_rows(v1_p, "v1_type")
    status = (
        F.when(F.col("v0_type").isNull(), "added")
        .when(F.col("v1_type").isNull(), "removed")
        .when(F.col("v0_type") != F.col("v1_type"), "type_changed")
        .otherwise("unchanged")
    )
    return (
        v0.join(v1, "column_name", "full_outer")
        .select("column_name", "v0_type", "v1_type", status.alias("status"))
        .orderBy("column_name")
    )


@query(
    "src_binaryfile_scan",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
           sha256(text || chr(10)) AS sha_hex
    FROM documents
    WHERE lang = 'en' AND doc_id < 100
    ORDER BY doc_id
    """,
    tags=("source", "binary", "multimodal"),
)
def src_binaryfile_scan(spark, sf_dir):
    """The `binaryFile` source — Spark's whole-file ingestion format for
    opaque media (image/audio/model checkpoints): each file becomes one
    row of (path, modificationTime, length, content bytes), the entry
    point of every multimodal decode pipeline (`mm_*` operators consume
    exactly this shape). Demonstrated end-to-end: a bounded English doc
    sample (doc_id < 100 — an absolute bound, not SF-scaled) is written
    as one text file per document via a partitioned text sink, read back
    with `binaryFile` + `pathGlobFilter`, and verified byte-for-byte —
    the byte length and sha256 digest of each file's content must match
    the oracle's recomputation from the source strings (UTF-8 + the text
    sink's trailing newline).

    Scale shape: binaryFile lists and reads files in parallel across
    executors (driver holds only the file index); digest/length are
    map-side; the join back to doc_id is a path-regex projection, no
    shuffle until the final bounded sort. Whole-file rows mean files
    must fit an executor's memory — the chunked-transfer operator
    (`mm_chunked_transfer`) is the declared path for larger blobs."""
    d = t(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("doc_id") < 100)
    )
    path = scratch.path(sf_dir, "binfiles")
    (
        d.select(F.col("text").alias("value"), "doc_id")
        .repartition(4)
        .write.mode("overwrite")
        .partitionBy("doc_id")
        .text(path)
    )
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "false")
        .load(path)
    )
    return (
        raw.select(
            F.regexp_extract(F.col("path"), r"doc_id=(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.length("content").cast("long").alias("n_bytes"),
            F.sha2("content", 256).alias("sha_hex"),
        )
        .orderBy("doc_id")
    )


# Snapshot-expiry fixture: four manifest versions over five data files.
# v3 is a compaction commit (c0 rewrites f0+f1) plus an append; retaining
# only the latest snapshot makes f0/f1 expendable while f2 survives by
# being referenced from the live manifest too.
_EXPIRY_FILES = {  # file_id -> o_orderkey % 4 residue class it holds
    "f0": 0,
    "f1": 1,
    "f2": 2,
    "f3": 3,
}
_EXPIRY_MANIFESTS = {
    0: ["f0"],
    1: ["f0", "f1"],
    2: ["f0", "f1", "f2"],
    3: ["c0", "f2", "f3"],
}
_EXPIRY_RETAIN_FROM = 3  # versions >= this stay live


@query(
    "src_snapshot_expiry_plan",
    oracle="""
    WITH counts AS (
      SELECT 'c0' AS file_id, CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders WHERE o_orderkey % 4 IN (0, 1)
      UNION ALL
      SELECT 'f0', CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT 'f1', CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 4 = 1
      UNION ALL
      SELECT 'f2', CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 4 = 2
      UNION ALL
      SELECT 'f3', CAST(COUNT(*) AS BIGINT) FROM orders WHERE o_orderkey % 4 = 3
    )
    SELECT file_id,
           CASE WHEN file_id IN ('c0', 'f2', 'f3') THEN 'live'
                ELSE 'expendable' END AS status,
           n_rows
    FROM counts ORDER BY file_id
    """,
    tags=("source", "lakehouse", "vacuum", "snapshot"),
)
def src_snapshot_expiry_plan(spark, sf_dir):
    """VACUUM planning — the metadata-only computation behind snapshot
    retention: given the manifest series of `src_time_travel`'s commit
    model extended with a COMPACTION commit (v3's c0 rewrites f0+f1, so
    older manifests are the only thing keeping the original files
    alive), compute which data files become deletable when only the
    latest snapshot is retained. live = members of retained manifests;
    expendable = members of expired manifests minus live — pure set
    algebra over the manifest relation (read through Spark's JSON
    source, exploded, distinct-anti-joined), never a data scan. The
    per-file row counts come from reading each parquet file set, proving
    the plan points at the right bytes; at 100 TB the counts column
    would come from manifest statistics and the whole operation stays
    O(|manifests|).

    The expiry decision every lakehouse runs daily (Iceberg
    expire_snapshots / Delta VACUUM), re-expressed over the same path
    catalog as the rest of the `src_*` family."""
    import json

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scratch.path(sf_dir, "snap_expiry")
    for fid, residue in _EXPIRY_FILES.items():
        write_table(
            o.filter(F.col("o_orderkey") % 4 == residue),
            os.path.join(root, "data", fid),
            format="parquet",
            mode="overwrite",
        )
    write_table(
        o.filter(F.col("o_orderkey") % 4 <= 1),
        os.path.join(root, "data", "c0"),
        format="parquet",
        mode="overwrite",
    )
    snap_dir = os.path.join(root, "snap")
    os.makedirs(snap_dir, exist_ok=True)
    for v, members in _EXPIRY_MANIFESTS.items():
        with open(os.path.join(snap_dir, f"v{v}.json"), "w") as fh:
            json.dump({"version": v, "members": members}, fh)

    man = spark.read.json(snap_dir).select(
        "version", F.explode("members").alias("file_id")
    )
    live = (
        man.filter(F.col("version") >= _EXPIRY_RETAIN_FROM)
        .select("file_id")
        .distinct()
    )
    expired = (
        man.filter(F.col("version") < _EXPIRY_RETAIN_FROM)
        .select("file_id")
        .distinct()
    )
    expendable = expired.join(live, "file_id", "left_anti")
    plan = live.select("file_id", F.lit("live").alias("status")).unionByName(
        expendable.select("file_id", F.lit("expendable").alias("status"))
    )
    counts = None
    for fid in sorted(list(_EXPIRY_FILES) + ["c0"]):
        c = (
            spark.read.parquet(os.path.join(root, "data", fid))
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(fid).alias("file_id"), "n_rows")
        )
        counts = c if counts is None else counts.unionByName(c)
    return plan.join(counts, "file_id").orderBy("file_id")


@query(
    "src_zonemap_overlap",
    oracle="""
    WITH z AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS part,
             CAST(MIN(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS lo,
             CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    ),
    ov AS (
      SELECT a.part, CAST(COUNT(b.part) AS BIGINT) AS n_overlaps
      FROM z a LEFT JOIN z b
        ON a.part <> b.part AND a.lo <= b.hi AND b.lo <= a.hi
      GROUP BY a.part
    )
    SELECT z.part, z.lo, z.hi, z.n_rows, ov.n_overlaps,
           ov.n_overlaps = 0 AS prunable
    FROM z JOIN ov USING (part)
    ORDER BY z.part
    """,
    tags=("source", "zonemap", "clustering", "maintenance"),
)
def src_zonemap_overlap(spark, sf_dir):
    """ZONE-MAP overlap audit — the metric behind every OPTIMIZE /
    Z-ORDER decision: per partition (order month), the min/max zone of
    a would-be filter column (price cents) and how many OTHER
    partitions' zones overlap it. A point/range filter on the column
    must scan every overlapping zone, so ``n_overlaps`` IS the
    data-skipping miss count: all-overlapping means the column is
    unclustered across partitions (re-cluster by Z-order —
    `src_zorder_write` — or re-partition by range to fix);
    ``prunable`` marks zones a point lookup would isolate. This
    computes from the data what a lakehouse reads from parquet footer
    min/max stats — identical math, catalog-free.

    Scale shape: one map-combined per-partition min/max/count (the
    only data-sized pass), then an interval self-join of the
    |partitions|-row zone relation — the classic bounded
    interval-overlap shape of `join_interval_overlap`."""
    o = t(spark, sf_dir, "orders")
    z = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("part")
    ).agg(
        F.min(F.round(F.col("o_totalprice") * 100).cast("long")).alias("lo"),
        F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    a = z.select(
        F.col("part"), F.col("lo"), F.col("hi"), F.col("n_rows")
    )
    b = z.select(
        F.col("part").alias("bpart"), F.col("lo").alias("blo"), F.col("hi").alias("bhi")
    )
    ov = (
        a.join(
            b,
            (F.col("part") != F.col("bpart"))
            & (F.col("lo") <= F.col("bhi"))
            & (F.col("blo") <= F.col("hi")),
            "left",
        )
        .groupBy("part")
        .agg(F.count("bpart").alias("n_overlaps"))
    )
    return (
        z.join(ov, "part")
        .select(
            "part",
            "lo",
            "hi",
            "n_rows",
            "n_overlaps",
            (F.col("n_overlaps") == 0).alias("prunable"),
        )
        .orderBy("part")
    )


@query(
    "src_write_audit_publish",
    oracle="""
    WITH b1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders WHERE o_orderstatus = 'F'
    ),
    b2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
                  AS BIGINT) AS n_nulls
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT 1 AS batch_id, b1.n AS n_staged,
           CAST(0 AS BIGINT) AS n_null_keys,
           TRUE AS audit_pass, b1.n AS n_published_after
    FROM b1
    UNION ALL
    SELECT 2 AS batch_id, b2.n AS n_staged, b2.n_nulls AS n_null_keys,
           FALSE AS audit_pass, b1.n AS n_published_after
    FROM b1, b2
    ORDER BY batch_id
    """,
    tags=("source", "write", "wap", "commit-protocol"),
)
def src_write_audit_publish(spark, sf_dir):
    """Write-Audit-Publish (WAP) — the commit protocol a lake uses so
    readers NEVER see an unvalidated batch: each batch is written to a
    staging path, an audit query runs against the staged files (row
    count > 0, zero null keys), and only a passing batch is PUBLISHED by
    an atomic directory rename — the same rename-as-commit primitive the
    reference exposes (`CephRgwFileSystem.java:311-312` delegates rename
    to the object store; Hadoop committers build exactly this protocol
    on it). A failing batch's staging dir is torn down and the published
    table is untouched.

    Exercised both ways: batch 1 (status-F orders) passes its audit and
    publishes; batch 2 (status-O orders with keys deliberately nulled on
    urgent rows) FAILS the null-key audit and is aborted — the emitted
    trail proves the published row count never moved. At 100 TB the
    audit reads only staged-batch statistics (count/null aggregates —
    map-combined), and publish is O(1) metadata, not a data copy."""
    import shutil as _shutil

    base = scratch.fresh("wap")
    staging = os.path.join(base, "staging")
    published = os.path.join(base, "published")
    o = t(spark, sf_dir, "orders")

    def stage_audit_publish(batch_id: int, df):
        _shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").parquet(staging)
        staged = spark.read.parquet(staging)
        audit = staged.agg(
            F.count(F.lit(1)).cast("long").alias("n_staged"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_keys"),
        ).first()  # control-plane read: ONE row decides the commit,
        # the same driver-side posture as the CC fixpoint's convergence
        # count — never row data
        ok = audit.n_staged > 0 and audit.n_null_keys == 0
        if ok:
            os.rename(staging, published)  # the atomic commit
        else:
            _shutil.rmtree(staging, ignore_errors=True)  # abort
        n_pub = (
            spark.read.parquet(published).count()
            if os.path.exists(published)
            else 0
        )
        return (batch_id, audit.n_staged, audit.n_null_keys, ok, n_pub)

    r1 = stage_audit_publish(1, o.filter(F.col("o_orderstatus") == "F"))
    r2 = stage_audit_publish(
        2,
        o.filter(F.col("o_orderstatus") == "O").withColumn(
            "o_orderkey",
            F.when(F.col("o_orderpriority") == "1-URGENT", None).otherwise(
                F.col("o_orderkey")
            ),
        ),
    )
    return spark.createDataFrame(
        [r1, r2],
        "batch_id int, n_staged long, n_null_keys long, audit_pass boolean, n_published_after long",
    ).orderBy("batch_id")


_PYDS_ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
)
_PYDS_ORDERS_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
]


@query(
    "src_python_datasource",
    oracle=_ORDERS_AGG_SQL,
    tags=("source", "pydatasource", "connector"),
)
def src_python_datasource(spark, sf_dir):
    """The reference connector's identity as a RUNNABLE artifact: read
    through the registered `cephfs_like` Python DataSource
    (sources/pydatasource.py) instead of Spark's native scan.

    The source performs the connector's three mechanics itself —
    directory listing (`CephRgwFileSystem.java:98-147`), one
    InputPartition per configured virtual block
    (`CephRgwFileSystem.java:112`), and positioned per-split byte reads
    with Hadoop line-split semantics (`CephRgwInputStream.java:103-120`).
    A 256 KiB blocksize forces genuinely multi-split reads at every SF
    (the split-count-tracks-blocksize contract is pinned in
    tests/test_pydatasource.py); the oracle hash-match proves the whole
    cycle — engine CSV write, Python listing/split/pread, line reassembly
    across block boundaries — is lossless."""
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    o = t(spark, sf_dir, "orders").select(*_PYDS_ORDERS_COLS)
    path = scratch.path(sf_dir, "pyds_orders")
    write_table(o, path, format="csv", mode="overwrite")
    back = (
        spark.read.format("cephfs_like")
        .schema(_PYDS_ORDERS_DDL)
        .option("virtual.blocksize", 256 * 1024)
        .load(path)
    )
    return _orders_agg(back)


@query(
    "src_pyds_filter_pushdown",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           {{dsum}}
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderkey > 1000
      AND o_totalprice > 1000.0
    GROUP BY o_orderstatus
    """.format(dsum=sql_dsum("o_totalprice", "sum_price")),
    tags=("source", "pydatasource", "connector", "pushdown"),
)
def src_pyds_filter_pushdown(spark, sf_dir):
    """Predicate pushdown THROUGH the Python DataSource (Spark 4.1
    `pushFilters`, VERDICT r9 item 6): the same cephfs_like read as
    `src_python_datasource`, but filtered — the IN and the long-key
    range predicate are claimed by the reader (the scan's
    `PushedFilters` carries them, pinned in tests/test_pydatasource.py)
    and evaluated inside the positioned-read loop, so a rejected line
    parses only its two filter columns and never crosses Arrow; the
    DOUBLE predicate is deliberately NOT claimed (IEEE NaN ordering
    diverges between raw Python comparison and SQL semantics) and stays
    a Spark-side residual Filter — completing the reference's
    read-only-what-you-need design (CephRgwInputStream.java:103-120)
    at the row level. The oracle hash-match proves the claimed
    predicates drop EXACTLY the rows SQL would."""
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    o = t(spark, sf_dir, "orders").select(*_PYDS_ORDERS_COLS)
    path = scratch.path(sf_dir, "pyds_orders_push")
    write_table(o, path, format="csv", mode="overwrite")
    back = (
        spark.read.format("cephfs_like")
        .schema(_PYDS_ORDERS_DDL)
        .option("virtual.blocksize", 256 * 1024)
        .load(path)
    )
    return (
        back.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderkey") > 1000)
            & (F.col("o_totalprice") > 1000.0)
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
    )


@query("src_avro_roundtrip", oracle=_ORDERS_AGG_SQL, tags=("source", "avro"))
def src_avro_roundtrip(spark, sf_dir):
    """Avro Object Container round-trip without the spark-avro jar (absent
    from this sandbox's pyspark distribution — pinned by
    tests/test_contracts.py): sources/avro_lite.py implements the public
    container spec in pure Python. Write side is a distributed
    mapInPandas (each task deflates and writes its own container file —
    bytes never visit the driver); read side is the registered
    `avro_lite` DataSource whose splits honor `virtual.blocksize` and
    attach to the next 16-byte sync marker — Avro's container layout is
    designed for exactly the positioned-read split contract of the
    reference (`CephRgwInputStream.java:103-120`). Schema comes from the
    container header (as spark-avro's would). 64 KiB blocks force
    multi-split reads of each file; the oracle hash-match proves the
    binary encode → deflate → sync-split read → decode cycle lossless,
    timestamps included (local-timestamp-micros ≡ timestamp_ntz)."""
    from hadoop_fs_ceph_spark.sources.avro_lite import write_avro
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    o = t(spark, sf_dir, "orders").select(*_PYDS_ORDERS_COLS)
    path = scratch.path(sf_dir, "avro_orders")
    specs = [
        ("o_orderkey", "long"),
        ("o_custkey", "long"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "local-timestamp-micros"),
        ("o_orderpriority", "string"),
    ]
    manifest = write_avro(o.repartition(8), path, specs)
    if manifest.count() == 0:  # run the distributed write (no row collect)
        raise ValueError("avro write produced no files")
    back = (
        spark.read.format("avro_lite")
        .option("virtual.blocksize", 64 * 1024)
        .load(path)
    )
    return _orders_agg(back)


@query(
    "src_csv_malformed_permissive",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           {sql_dsum('o_totalprice', 'sum_price')},
           CAST(SUM(o_orderkey + o_custkey) AS BIGINT) AS key_sum,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    """,
    tags=("source", "csv", "data-quality", "permissive"),
)
def src_csv_malformed_permissive(spark, sf_dir):
    """PERMISSIVE-mode CSV ingestion with quarantine accounting — the
    robustness contract of a lake ingest job: a fixture directory holds
    the engine's own orders CSV plus a planted file of 3 malformed lines
    (non-numeric keys, unparseable timestamp); the read must (a) not
    fail, (b) surface each bad line in `columnNameOfCorruptRecord`, and
    (c) leave every good row's values untouched. The aggregate proves
    all three at once: n_good equals the clean row count, n_corrupt
    equals exactly the planted 3, and the fixed-point price sum over
    good rows hash-matches the parquet original (so no good row was
    silently dropped or mangled). The reference's byte-stream layer has
    no parse semantics — this is the Spark-side contract a user of the
    connector actually relies on when objects contain dirty data.

    Scale: PERMISSIVE parsing is per-task and stateless; the corrupt
    column adds one string per BAD row only. The quarantine pattern at
    100 TB filters `_corrupt IS NOT NULL` to a dead-letter sink in the
    same pass."""
    o = t(spark, sf_dir, "orders").select(*_PYDS_ORDERS_COLS)
    path = scratch.path(sf_dir, "csv_malformed")
    # default timestampNTZFormat on BOTH sides (yyyy-MM-dd'T'HH:mm:ss[.SSS])
    # — timestamp_ntz columns ignore the plain timestampFormat option
    write_table(o, path, format="csv", mode="overwrite")
    bad = os.path.join(path, "part-planted-bad.csv")
    with open(bad, "w") as fh:
        fh.write("notakey,77,Q,12.5,not-a-date,1-URGENT\n")
        fh.write("123,notacust,F,xx.yy,2024-01-01T00:00:00.000,2-HIGH\n")
        fh.write("456,88,O,9.99,also-not-a-date,3-MEDIUM\n")
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string, "
        "_corrupt string"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    # the aggregate references EVERY typed column: Spark's CSV column
    # pruning only PARSES required columns, so an unreferenced malformed
    # field would never be detected (that near-miss is the point of the
    # key_sum/date columns — and a caveat this query documents)
    good = F.col("_corrupt").isNull()
    good_cents = F.when(good, F.round(F.col("o_totalprice") * F.lit(1000000.0)).cast("long")).otherwise(F.lit(0))
    return back.agg(
        F.sum(F.when(good, 1).otherwise(0)).cast("long").alias("n_good"),
        F.sum(F.when(good, 0).otherwise(1)).cast("long").alias("n_corrupt"),
        (F.sum(good_cents).cast("double") / F.lit(1000000.0)).alias("sum_price"),
        F.sum(F.when(good, F.col("o_orderkey") + F.col("o_custkey")).otherwise(0))
        .cast("long")
        .alias("key_sum"),
        F.min(F.when(good, F.col("o_orderdate"))).alias("first_date"),
        F.max(F.when(good, F.col("o_orderdate"))).alias("last_date"),
    )


@query("src_avro_datasource_writer", oracle=_ORDERS_AGG_SQL, tags=("source", "avro", "writer"))
def src_avro_datasource_writer(spark, sf_dir):
    """The write HALF of the Python DataSource surface:
    ``df.write.format("avro_lite").mode("overwrite").save(...)`` through
    the registered `AvroLiteWriter` (sources/avro_lite.py) — each task
    serializes its partition into its own container file and returns a
    (file, records) commit message; the driver's commit writes a
    ``_committed`` manifest the reader's listing ignores (underscore
    prefix, like `_SUCCESS`), and abort removes the task files — the
    commit/abort protocol the reference's rename-based committers
    implement at the FS layer (`CephRgwFileSystem.java:311-312`),
    expressed at the DataSource layer. Read back through the same
    format's sync-split reader and hash-matched against the parquet
    original: the third leg (batch read / stream read / WRITE) of the
    connector-identity artifact."""
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    o = t(spark, sf_dir, "orders").select(*_PYDS_ORDERS_COLS)
    path = scratch.path(sf_dir, "avro_writer_api")
    o.repartition(8).write.format("avro_lite").mode("overwrite").save(path)
    back = (
        spark.read.format("avro_lite")
        .option("virtual.blocksize", 64 * 1024)
        .load(path)
    )
    return _orders_agg(back)


_DIFF_MOD_PRICE = 1.5  # planted modification applied to keys % 97 == 0


@query(
    "profile_data_diff",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT k,
             CASE WHEN k % 97 = 0
                  THEN cents + CAST(ROUND({_DIFF_MOD_PRICE} * 100) AS BIGINT)
                  ELSE cents END AS cents
      FROM a WHERE k % 101 <> 0
      UNION ALL
      SELECT k + 100000000 AS k, cents FROM a WHERE k % 103 = 0
    ),
    d AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN b.k IS NULL THEN 'deleted'
                  WHEN a.k IS NULL THEN 'inserted'
                  WHEN a.cents <> b.cents THEN 'modified'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(a.cents, 0) AS cents_a,
             COALESCE(b.cents, 0) AS cents_b
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents_a) AS BIGINT) AS cents_before,
           CAST(SUM(cents_b) AS BIGINT) AS cents_after
    FROM d GROUP BY change_type ORDER BY change_type
    """,
    tags=("profile", "reconciliation", "diff"),
)
def profile_data_diff(spark, sf_dir):
    """Snapshot reconciliation (table diff): classify every key of two
    snapshots as unchanged / modified / inserted / deleted with value
    checksums per class — the audit a pipeline runs after a backfill or
    migration ('what exactly changed?'). Snapshot B is DERIVED from A by
    deterministic planted edits (delete keys ≡0 mod 101, bump price on
    ≡0 mod 97, clone-insert ≡0 mod 103 under shifted keys), so both
    engines construct the identical pair and the full classification is
    exactly checkable — the same planted-truth method as
    `src_csv_malformed_permissive`.

    Scale: ONE full outer sort-merge join on the key — the canonical
    diff plan; counts and integer checksums partial-aggregate map-side.
    For repeated diffs production snapshots share bucketing on k and the
    exchange disappears (`src_bucketed_join` shows that plan)."""
    a = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = (
        a.filter(F.col("k") % 101 != 0)
        .select(
            "k",
            F.when(
                F.col("k") % 97 == 0,
                F.col("cents") + F.lit(int(round(_DIFF_MOD_PRICE * 100))),
            )
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionAll(
            a.filter(F.col("k") % 103 == 0).select(
                (F.col("k") + 100000000).alias("k"), "cents"
            )
        )
    )
    aa = a.select(F.col("k").alias("ka"), F.col("cents").alias("cents_a"))
    bb = b.select(F.col("k").alias("kb"), F.col("cents").alias("cents_b"))
    d = aa.join(bb, aa.ka == bb.kb, "full_outer").select(
        F.when(F.col("kb").isNull(), "deleted")
        .when(F.col("ka").isNull(), "inserted")
        .when(F.col("cents_a") != F.col("cents_b"), "modified")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce("cents_a", F.lit(0)).alias("ca"),
        F.coalesce("cents_b", F.lit(0)).alias("cb"),
    )
    return (
        d.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("ca").cast("long").alias("cents_before"),
            F.sum("cb").cast("long").alias("cents_after"),
        )
        .orderBy("change_type")
    )


@query(
    "src_parquet_bloom_write",
    oracle=_ORDERS_AGG_SQL,
    tags=("source", "parquet", "bloom-filter"),
)
def src_parquet_bloom_write(spark, sf_dir):
    """Parquet BLOOM-FILTER write — point-lookup acceleration baked
    into the file format: every row group carries a split-block bloom,
    so a `o_custkey = ?` scan can skip row groups whose min/max zone
    covers the probe but whose bloom says 'not here' (the case zone
    maps can't prune: scattered keys with wide zones). The read-back
    aggregate hash-matches the direct-table oracle, proving the option
    changes bytes-on-disk, not semantics;
    `tests/test_extensions.py::test_parquet_bloom_filter_grows_file`
    pins that the filter actually materializes (bloom file strictly
    larger than the plain twin of identical data).

    Environment note (verified empirically, all three config routes):
    the per-column `parquet.bloom.filter.enabled#col` suffix keys are
    silently ignored by this Spark 4.1 / parquet-mr 1.16 pairing, so
    the query uses the GLOBAL toggle with `parquet.bloom.filter.
    max.bytes` bounding each filter — at 100 TB you scope the write to
    a slim key projection (as lakehouse bloom columns are configured
    per table anyway) and the same cap keeps footer regions sane.

    Scale: blooms are written map-side per row group at negligible
    cost and read lazily from the footer region; they turn needle-in-
    haystack lookups from 'scan every row group the zones admit' into
    footer-only skips."""
    o = t(spark, sf_dir, "orders")
    root = scratch.path(sf_dir, "bloom_orders")
    write_table(
        o,
        root,
        mode="overwrite",
        **{
            "parquet.bloom.filter.enabled": "true",
            "parquet.bloom.filter.max.bytes": "65536",
        },
    )
    return _orders_agg(spark.read.parquet(root))


@query(
    "src_footer_stats_audit",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("source", "parquet", "metadata", "zonemap"),
)
def src_footer_stats_audit(spark, sf_dir):
    """Footer-statistics audit — the METADATA-ONLY twin of
    `src_zonemap_overlap`: write the fact table partitioned by flag
    (repartition-by-key first, so each partition directory holds one
    file), then reconstruct per-partition row counts and min/max
    purely from parquet FOOTERS (pyarrow metadata walk: num_rows and
    column-chunk statistics folded across row groups — zero data pages
    touched) and hash-match the result against the oracle's full GROUP
    BY of the source table. Green means the stats every zone-map /
    CBO decision trusts are exactly the data truth for what Spark
    wrote.

    Scale: the footer walk is O(files·row_groups) driver-side here
    (bounded: one file per flag); at 100 TB the identical fold runs
    as a distributed job over the file listing (binaryFile the footers
    or read the lakehouse manifest stats column) — the audited
    INVARIANT (footer == truth) and the GROUP BY oracle are unchanged.
    Cited pattern: parquet-mr footer stats contract; the reference's
    getFileStatus/listStatus surface (CephRgwFileSystem.java) is the
    metadata tier this audit exercises end-to-end."""
    import pyarrow.parquet as pq

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    root = scratch.path(sf_dir, "footer_stats")
    (
        li.repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(root)
    )
    rows = []
    for ent in sorted(os.listdir(root)):
        if not ent.startswith("l_returnflag="):
            continue
        flag = ent.split("=", 1)[1]
        n, mn, mx = 0, None, None
        pdir = os.path.join(root, ent)
        for fn in sorted(os.listdir(pdir)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(pdir, fn)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            idx = names.index("l_quantity")
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                n += g.num_rows
                st = g.column(idx).statistics
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        rows.append((flag, n, float(mn), float(mx)))
    return spark.createDataFrame(
        rows, "l_returnflag string, n_rows long, min_qty double, max_qty double"
    ).orderBy("l_returnflag")


@query(
    "src_vacuum_orphans",
    oracle="""
    WITH counts AS (
      SELECT 'f0' AS file_id, 'referenced' AS status,
             CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT 'f1', 'referenced', CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 1
      UNION ALL
      SELECT 'f2', 'referenced', CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 2
      UNION ALL
      SELECT 'zz_orphan', 'orphan', CAST(COUNT(*) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT file_id, status, n_rows FROM counts ORDER BY file_id
    """,
    tags=("source", "lakehouse", "vacuum", "orphans"),
)
def src_vacuum_orphans(spark, sf_dir):
    """ORPHAN-FILE detection — the other half of VACUUM, complementing
    `src_snapshot_expiry_plan`'s retention math: files present on disk
    but referenced by NO manifest version (crashed-task leftovers,
    aborted commits — exactly what the WAP protocol's audit branch
    would have quarantined). The planted `zz_orphan` directory
    simulates an uncommitted write; the verdict is pure set algebra —
    disk listing LEFT-joined against the union of all manifest
    membership, unreferenced ⇒ orphan. Per-file row counts prove the
    plan points at real bytes.

    Scale: the listing is a metadata enumeration (the reference's
    listStatus surface, `CephRgwFileSystem.java`); at 100 TB it runs
    as a distributed recursive listing joined against the manifest
    relation — same anti-join shape, never a data scan. The safety
    property production adds (age threshold so in-flight writers
    aren't reaped) is a WHERE on mtime in the same plan."""
    import json

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = scratch.path(sf_dir, "vacuum_orphans")
    data = os.path.join(root, "data")
    for fid, res in (("f0", 0), ("f1", 1), ("f2", 2)):
        write_table(
            o.filter(F.col("o_orderkey") % 3 == res),
            os.path.join(data, fid),
            mode="overwrite",
        )
    write_table(
        o.filter(F.col("o_orderkey") % 3 == 0),
        os.path.join(data, "zz_orphan"),
        mode="overwrite",
    )
    snap = os.path.join(root, "snap")
    os.makedirs(snap, exist_ok=True)
    for v, members in ((1, ["f0", "f1"]), (2, ["f0", "f1", "f2"])):
        with open(os.path.join(snap, f"v{v}.json"), "w") as fh:
            json.dump({"version": v, "members": members}, fh)
    disk = spark.createDataFrame(
        [(d,) for d in sorted(os.listdir(data))], "file_id string"
    )
    ref = (
        spark.read.json(snap).select(F.explode("members").alias("file_id")).distinct()
    )
    status = disk.join(ref.withColumn("r", F.lit(1)), "file_id", "left").select(
        "file_id",
        F.when(F.col("r").isNotNull(), "referenced").otherwise("orphan").alias("status"),
    )
    counts = [
        (d, spark.read.parquet(os.path.join(data, d)).count())
        for d in sorted(os.listdir(data))
    ]
    cdf = spark.createDataFrame(counts, "file_id string, n_rows long")
    return status.join(cdf, "file_id").orderBy("file_id")


@query(
    "src_scan_pruning_plan",
    oracle="""
    WITH zones AS (
      SELECT EXTRACT(month FROM o_orderdate) AS file_month,
             MIN(o_totalprice) AS zmin, MAX(o_totalprice) AS zmax,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1
    )
    SELECT CAST(file_month AS BIGINT) AS file_month, n_rows,
           CASE WHEN zmax >= 400000.0 THEN 'scan' ELSE 'skip' END AS verdict
    FROM zones ORDER BY file_month
    """,
    tags=("source", "parquet", "pruning", "zonemap"),
)
def src_scan_pruning_plan(spark, sf_dir):
    """SCAN-PRUNING plan from footer statistics — the skip/scan
    decision a lakehouse makes per file for `o_totalprice >= 400000`:
    write the table partitioned by order month, read back ONLY parquet
    footers (pyarrow metadata: zone min/max + row counts folded across
    row groups — zero data pages), and emit each file's verdict. The
    oracle recomputes the zones from the raw table, so green means the
    skip set derived from metadata is exactly the skip set the data
    justifies — the end-to-end proof behind `src_zonemap_overlap`'s
    overlap metric and `src_footer_stats_audit`'s stats parity.

    Scale: at 100 TB this is the planner path that turns a full scan
    into reading the handful of files whose zone admits the predicate;
    the footer walk distributes over the file listing (manifest stats
    column in a real lakehouse) and the verdict is a map-side CASE.
    The reference's metadata tier (listStatus/getFileStatus,
    CephRgwFileSystem.java) is exactly what it exercises."""
    import pyarrow.parquet as pq

    o = t(spark, sf_dir, "orders").withColumn(
        "file_month", F.month("o_orderdate").cast("long")
    )
    root = scratch.path(sf_dir, "scan_pruning")
    (
        o.repartition("file_month")
        .write.mode("overwrite")
        .partitionBy("file_month")
        .parquet(root)
    )
    rows = []
    for ent in sorted(os.listdir(root)):
        if not ent.startswith("file_month="):
            continue
        mo = int(ent.split("=", 1)[1])
        n, mn, mx = 0, None, None
        pdir = os.path.join(root, ent)
        for fn in sorted(os.listdir(pdir)):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(pdir, fn)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            idx = names.index("o_totalprice")
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                n += g.num_rows
                st = g.column(idx).statistics
                mn = st.min if mn is None else min(mn, st.min)
                mx = st.max if mx is None else max(mx, st.max)
        rows.append((mo, n, float(mn), float(mx)))
    zones = spark.createDataFrame(
        rows, "file_month long, n_rows long, zmin double, zmax double"
    )
    return zones.select(
        "file_month",
        "n_rows",
        F.when(F.col("zmax") >= 400000.0, "scan").otherwise("skip").alias("verdict"),
    ).orderBy("file_month")


@query(
    "src_table_cache",
    oracle=_ORDERS_AGG_SQL,
    tags=("source", "cache", "memory"),
)
def src_table_cache(spark, sf_dir):
    """TABLE CACHING through the catalog (`spark.catalog.cacheTable`) —
    the runnable artifact for SURVEY §2A row 15: the reference keeps a
    file-handle cache per opened path (`CephRgwFileSystem.java` FH
    cache); Spark's analog at the engine layer is the columnar
    in-memory relation the cache manager substitutes for the scan
    (InMemoryTableScan replaces the parquet read on second reference).
    The query materializes the cache with a first aggregate pass, then
    answers from the cached relation; results must equal the direct-
    table oracle exactly — caching is a pure plan substitution.
    `tests/test_extensions.py::test_table_cache_plan_substitution` pins
    the InMemoryTableScan actually appearing.

    Scale: executor-memory columnar cache with LRU spill
    (MEMORY_AND_DISK), partition-grained; at 100 TB you cache the hot
    aggregate/dimension layer, never the fact table — same API, and
    uncaching is metadata-only."""
    o = t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_cached_src")
    spark.catalog.cacheTable("orders_cached_src")
    _orders_agg(spark.table("orders_cached_src")).count()  # materialize
    return _orders_agg(spark.table("orders_cached_src"))


@query(
    "src_derived_partition_pruning",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           MIN(o_orderdate) AS first_ts, MAX(o_orderdate) AS last_ts
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-03-01'
      AND o_orderdate <  TIMESTAMP '1996-06-01'
    """,
    tags=("source", "partition", "pruning", "generated-column"),
)
def src_derived_partition_pruning(spark, sf_dir):
    """Generated-column partition pruning — the lakehouse trick for
    pruning on a DERIVED key: the table is laid out by ym =
    year*100+month (a function of the timestamp, which itself is far
    too fine-grained to partition by), and the reader REWRITES its raw
    timestamp range into the implied ym ∈ [199603, 199605] partition
    predicate + the residual row filter. Without the rewrite the scan
    touches every partition (ts is not a partition column); with it,
    `PartitionFilters` prunes to 3 of ~84 directories — a test pins
    that the executed plan carries a non-empty partition filter, and
    the oracle hash-match proves the rewrite loses no rows (the
    month predicate is implied by, not equal to, the ts range).

    This is Delta/Iceberg generated-column pruning expressed manually
    — at 100 TB it is THE difference between a 3-partition read and a
    full-table scan for every time-range query."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "derived_part_orders")
    write_table(
        o.withColumn(
            "ym", (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("int")
        ),
        path,
        mode="overwrite",
        partition_by=["ym"],
    )
    back = spark.read.parquet(path)
    lo, hi = "1996-03-01", "1996-06-01"
    pruned = back.filter(
        # the implied partition predicate (prunable) AND the raw range
        (F.col("ym") >= 199603)
        & (F.col("ym") <= 199605)
        & (F.col("o_orderdate") >= F.lit(lo).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp_ntz"))
    )
    return pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
        F.min("o_orderdate").alias("first_ts"),
        F.max("o_orderdate").alias("last_ts"),
    )


@query(
    "src_incremental_join_view",
    oracle="""
    WITH a0 AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
    da AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
    b0 AS (SELECT * FROM customer WHERE c_custkey % 20 <> 0),
    db AS (SELECT * FROM customer WHERE c_custkey % 20 = 0),
    j0 AS (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
      FROM a0 JOIN b0 ON o_custkey = c_custkey GROUP BY nk
    ),
    dj AS (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s
      FROM (
        SELECT o_totalprice, c_nationkey FROM da JOIN b0 ON o_custkey = c_custkey
        UNION ALL
        SELECT o_totalprice, c_nationkey FROM a0 JOIN db ON o_custkey = c_custkey
        UNION ALL
        SELECT o_totalprice, c_nationkey FROM da JOIN db ON o_custkey = c_custkey
      ) GROUP BY nk
    ),
    inc AS (
      SELECT COALESCE(j0.nk, dj.nk) AS nk,
             COALESCE(j0.n, 0) + COALESCE(dj.n, 0) AS n_inc,
             COALESCE(j0.s, 0) + COALESCE(dj.s, 0) AS s_inc
      FROM j0 FULL OUTER JOIN dj ON j0.nk = dj.nk
    ),
    full_v AS (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_full,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s_full
      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY nk
    )
    SELECT f.nk AS c_nationkey,
           CAST(i.n_inc AS BIGINT) AS n_inc,
           CAST(i.s_inc AS BIGINT) AS sum_inc_c,
           f.n_full, f.s_full AS sum_full_c,
           CAST(i.n_inc = f.n_full AS BOOLEAN) AS counts_match,
           CAST(i.s_inc = f.s_full AS BOOLEAN) AS sums_match
    FROM full_v f JOIN inc i ON f.nk = i.nk
    ORDER BY c_nationkey
    """,
    tags=("source", "incremental", "materialized-view", "join"),
)
def src_incremental_join_view(spark, sf_dir):
    """Incremental maintenance of a JOIN view — the delta algebra
    behind every materialized-view refresh: with base snapshots A₀, B₀
    and arriving deltas ΔA (new orders), ΔB (new customers), the view
    delta is EXACTLY ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB (disjoint because the
    batches partition the tables), merged into the view's mergeable
    (count, sum) states. The query computes the view BOTH ways —
    incremental merge and full recompute — and emits per-nation
    equality verdicts, so the algebra is self-auditing (the join-view
    sibling of `agg_incremental_rollup`'s aggregate-only maintenance;
    the three-term cross-delta is what naive implementations drop).

    Scale: the three delta joins touch only delta-sized inputs on the
    big side (ΔA is 10% here; in production it's a day against
    years); the full recompute exists ONLY as the in-query audit. All
    states are exact integers (count, cents sum) — associative,
    re-mergeable, no floats."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    a0 = o.filter(F.col("o_orderkey") % 10 != 0)
    da = o.filter(F.col("o_orderkey") % 10 == 0)
    b0 = c.filter(F.col("c_custkey") % 20 != 0)
    db = c.filter(F.col("c_custkey") % 20 == 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def agg_nk(df):
        return df.groupBy(F.col("c_nationkey").alias("nk")).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(cents).cast("long").alias("s"),
        )

    j0 = agg_nk(a0.join(F.broadcast(b0), a0.o_custkey == b0.c_custkey))
    dj = agg_nk(
        da.join(F.broadcast(b0), da.o_custkey == b0.c_custkey)
        .select("o_totalprice", "c_nationkey")
        .unionAll(
            a0.join(F.broadcast(db), a0.o_custkey == db.c_custkey).select(
                "o_totalprice", "c_nationkey"
            )
        )
        .unionAll(
            da.join(F.broadcast(db), da.o_custkey == db.c_custkey).select(
                "o_totalprice", "c_nationkey"
            )
        )
    )
    inc = (
        j0.select(F.col("nk"), F.col("n").alias("n0"), F.col("s").alias("s0"))
        .join(
            dj.select(F.col("nk"), F.col("n").alias("nd"), F.col("s").alias("sd")),
            "nk",
            "full_outer",
        )
        .select(
            "nk",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("nd", F.lit(0)))
            .cast("long")
            .alias("n_inc"),
            (F.coalesce("s0", F.lit(0)) + F.coalesce("sd", F.lit(0)))
            .cast("long")
            .alias("s_inc"),
        )
    )
    full_v = agg_nk(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)).select(
        F.col("nk"), F.col("n").alias("n_full"), F.col("s").alias("s_full")
    )
    return (
        full_v.join(inc, "nk")
        .select(
            F.col("nk").alias("c_nationkey"),
            "n_inc",
            F.col("s_inc").alias("sum_inc_c"),
            "n_full",
            F.col("s_full").alias("sum_full_c"),
            (F.col("n_inc") == F.col("n_full")).alias("counts_match"),
            (F.col("s_inc") == F.col("s_full")).alias("sums_match"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "src_metadata_lineage_audit",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files,
           TRUE AS row_index_contract
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("source", "metadata", "lineage"),
)
def src_metadata_lineage_audit(spark, sf_dir):
    """Row-level lineage via the `_metadata` hidden struct — Spark's
    per-row provenance surface (file_path, file_size, row_index) that
    incident forensics and GDPR deletes navigate by ("which FILE did
    this row come from, at which position"). The audit: write a
    one-file-per-status layout, read back selecting `_metadata`, and
    verify the row_index contract per file — indexes run 0..n−1, so
    max(row_index)+1 must equal the file's row count, and the distinct
    file count per status must be exactly the one file written. The
    oracle pins those contract columns as literals over the real
    per-status counts — a broken `_metadata` (or a silently split
    write) hash-mismatches.

    Scale: `_metadata` is generated at the scan from the reader state
    (no storage cost, no shuffle); the audit aggregate is
    partial-merged per file."""
    o = t(spark, sf_dir, "orders")
    path = scratch.path(sf_dir, "lineage_orders")
    write_table(
        o.repartition(1, "o_orderstatus"),
        path,
        mode="overwrite",
        partition_by=["o_orderstatus"],
    )
    back = spark.read.parquet(path).select(
        "o_orderstatus",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
    )
    per_file = back.groupBy("o_orderstatus", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.max("ri") + 1).cast("long").alias("max_ri1"),
    )
    return (
        per_file.groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_files"),
            (F.sum((F.col("n") == F.col("max_ri1")).cast("long")) == F.count(F.lit(1))).alias(
                "row_index_contract"
            ),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "src_rgw_http_roundtrip",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM documents
    GROUP BY lang
    """,
    tags=("source", "rgw", "http", "connector", "object-store"),
)
def src_rgw_http_roundtrip(spark, sf_dir):
    """The reference's ACTUAL identity, end to end: mount an HTTP object
    store and serve Spark splits from it with ranged reads
    (`CephRgwFileSystem.java:98-147` mounts RGW — an S3-dialect HTTP
    store; every pread is a ranged object read,
    `CephRgwInputStream.java:103-120`). The sandbox has no Ceph and no
    hadoop-aws jars (s3a:// unloadable — waiver pinned in
    tests/test_rgw_http.py), so the store is a loopback HTTP server
    implementing the same REST subset (PUT, HEAD, RFC 7233 ranged GET,
    ListObjectsV2 XML — sources/rgw_http.py) and the engine side is the
    registered `rgw_http` Python DataSource doing the connector's three
    mechanics over the wire: one listing call, one InputPartition per
    virtual block, ranged GETs per split with Hadoop line-split
    semantics (straddling lines completed by bounded continuation
    fetches).

    Flow: documents projection → engine CSV write (repartitioned to 4 so
    the bucket holds ≥4 objects) → SigV4-signed HTTP PUT each part
    object into the bucket → `rgw_http` scan at 16 KiB virtual blocks
    (dozens of ranged splits per object at every SF) against a server
    that (a) paginates ListObjectsV2 at 2 keys/page (the listing MUST
    loop on IsTruncated/NextContinuationToken to see every object —
    real RGW semantics, VERDICT r7 item 3) and (b) ENFORCES SigV4 on
    every request (sources/sigv4.py; creds flow through the
    access.key/secret.key reader options, the analog of the reference's
    Hadoop-conf credential delegation at CephRgwFileSystem.java:124-126)
    → per-lang aggregate, materialized WHILE the store is up (the eager
    write is the end-to-end execution; the returned frame re-reads the
    materialized result so it outlives the server). The oracle runs the
    same aggregate on the original parquet — a hash match proves the
    whole authenticated HTTP cycle (signed PUT framing, signed paginated
    XML listing, signed range arithmetic, boundary reassembly)
    byte-lossless.

    Scale: swap `endpoint` for a real RGW URL and this is the production
    path — disjoint ranged GETs per task, zero coordination, listing is
    the only O(#objects) step (paginated in real RGW)."""
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources
    from hadoop_fs_ceph_spark.sources.rgw_http import LoopbackRgw

    register_python_sources(spark)
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
        .repartition(4, "doc_id")  # ≥4 objects → the 2-key pages MUST paginate
    )
    path = scratch.path(sf_dir, "rgw_docs_csv")
    write_table(d, path, format="csv", mode="overwrite")
    out = scratch.path(sf_dir, "rgw_docs_back")
    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
    with LoopbackRgw(page_size=2, credentials=creds) as rgw:
        for fname in sorted(os.listdir(path)):
            if fname.startswith(("_", ".")) or not os.path.isfile(
                os.path.join(path, fname)
            ):
                continue
            with open(os.path.join(path, fname), "rb") as fh:
                rgw.put("lake", f"docs/{fname}", fh.read())
        back = (
            spark.read.format("rgw_http")
            .schema("doc_id bigint, lang string, source string, n_chars bigint")
            .option("endpoint", rgw.endpoint)
            .option("bucket", "lake")
            .option("prefix", "docs/")
            .option("virtual.blocksize", 16 * 1024)
            .option("access.key", creds[0])
            .option("secret.key", creds[1])
            .load()
        )
        agg = back.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        write_table(agg, out, mode="overwrite")
    return spark.read.parquet(out)


@query(
    "src_observe_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
             AS price_cents,
           CAST(SUM(CASE WHEN l_discount > 0.06 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_discounted,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_qty
    FROM lineitem
    """,
    tags=("source", "observe", "quality", "accounting"),
)
def src_observe_metrics(spark, sf_dir):
    """In-flight data-quality accounting via the Observation API
    (`df.observe`): the validation ledger — row count, exact-cents value
    total, predicate counters, null counter — is computed AS A SIDE
    CHANNEL of the main pass (here a noop-sink materialization of the
    fact scan), not by a second scan. This is the production pattern for
    write-time quality gates: at 100 TB a re-scan for COUNT(*)+invariant
    checks doubles the I/O bill, while observed metrics ride the
    existing job's task results to the driver at zero extra I/O (they
    are accumulator-backed aggregates, exactly one row regardless of
    data size — a control-plane read, not a collect).

    The returned one-row frame is rebuilt from the observation so the
    oracle can hash-match the same aggregates computed relationally."""
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem")
    obs = Observation("quality_ledger")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long")).alias(
            "price_cents"
        ),
        F.sum((F.col("l_discount") > 0.06).cast("long")).alias("n_discounted"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("n_null_qty"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the main pass
    m = obs.get  # one dict, driver-side by design (control plane)
    return spark.createDataFrame(
        [(m["n_rows"], m["price_cents"], m["n_discounted"], m["n_null_qty"])],
        "n_rows long, price_cents long, n_discounted long, n_null_qty long",
    )


@query(
    "src_rgw_multipart_write",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents
    GROUP BY source
    """,
    tags=("source", "rgw", "http", "multipart", "connector", "object-store"),
)
def src_rgw_multipart_write(spark, sf_dir):
    """The WRITE half of the object-store wire protocol: S3 multipart
    upload under SigV4 enforcement. The reference's output stream
    flushes bounded chunks at a moving cursor
    (`CephRgwOutputStream.java:53-63`), and the S3AFileSystem it embeds
    (`CephRgwFileSystem.java:106-110`) turns that pattern into multipart
    uploads for large objects — initiate, independent signed part PUTs,
    complete — which is what makes multi-GB writes from many executors
    feasible (parts retry/parallelize independently; nothing is visible
    until complete; aborts discard).

    Flow: documents projection → CSV bytes → each part object uploaded
    via `multipart_put` at a part size far below the object size (every
    object takes the initiate/parts/complete path, parts straddling CSV
    lines arbitrarily) → `rgw_http` ranged-split scan back (4 KiB
    virtual blocks) → per-source aggregate materialized while the store
    is up. Hash-matching the oracle on the original parquet proves the
    part-boundary assembly byte-lossless THROUGH the line-split reader.
    """
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources
    from hadoop_fs_ceph_spark.sources.rgw_http import LoopbackRgw, multipart_put

    register_python_sources(spark)
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .repartition(4, "doc_id")
    )
    path = scratch.path(sf_dir, "rgw_mp_csv")
    write_table(d, path, format="csv", mode="overwrite")
    out = scratch.path(sf_dir, "rgw_mp_back")
    creds = ("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")
    with LoopbackRgw(credentials=creds) as rgw:
        for fname in sorted(os.listdir(path)):
            if fname.startswith(("_", ".")) or not os.path.isfile(
                os.path.join(path, fname)
            ):
                continue
            with open(os.path.join(path, fname), "rb") as fh:
                multipart_put(
                    rgw.endpoint,
                    "lake",
                    f"docs/{fname}",
                    fh.read(),
                    part_size=2048,  # many parts per object, line-agnostic cuts
                    creds=creds,
                )
        back = (
            spark.read.format("rgw_http")
            .schema("doc_id bigint, source string, n_chars bigint")
            .option("endpoint", rgw.endpoint)
            .option("bucket", "lake")
            .option("prefix", "docs/")
            .option("virtual.blocksize", 4 * 1024)
            .option("access.key", creds[0])
            .option("secret.key", creds[1])
            .load()
        )
        agg = back.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        write_table(agg, out, mode="overwrite")
    return spark.read.parquet(out)
