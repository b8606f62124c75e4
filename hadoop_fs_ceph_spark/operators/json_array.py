"""JSON / VARIANT / map / array / higher-order function family, with
array set algebra.

Exercised on ``events.props`` (JSON strings) and ``embeddings.embedding``
(array<float>, dim 64) plus tokenized ``documents.text``.

Higher-order parity: Spark ``aggregate(arr, 0.0, (acc,x) -> acc+x)`` is a
sequential left fold; DuckDB ``list_reduce`` folds left using the first
element as init — identical IEEE result because ``0.0 + x == x`` exactly.
Embedding floats are widened float→double (exact) before any arithmetic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import t


@query(
    "fn_json_family",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract_string(props, '$.missing') AS VARCHAR) AS missing_key,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
                THEN 'high' ELSE 'low' END AS k_bucket
    FROM events WHERE event_id % 10 = 4
    """,
    tags=("function", "json"),
)
def fn_json_family(spark, sf_dir):
    """get_json_object path extraction + typed parse + missing-key NULL."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 10 == 4)
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing_key"),
        F.when(k.cast("int") > 50, "high").otherwise("low").alias("k_bucket"),
    )


@query(
    "fn_json_map",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("function", "json", "map"),
)
def fn_json_map(spark, sf_dir):
    """from_json into a typed map, element_at access, aggregate over the
    extracted value — schema-on-read over semi-structured props."""
    e = t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return (
        e.select("event_type", F.element_at(m, "k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "fn_array_family",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tok FROM documents
    )
    SELECT doc_id,
           len(tok) AS n_tokens,
           len(list_distinct(tok)) AS n_unique,
           CAST(list_contains(tok, 'spark') AS BOOLEAN) AS has_spark,
           array_to_string(list_sort(list_distinct(tok))[1:4], ',') AS first_uniq,
           tok[1] AS first_tok,
           tok[len(tok)] AS last_tok
    FROM toks WHERE doc_id % 5 = 2
    """,
    tags=("function", "array"),
)
def fn_array_family(spark, sf_dir):
    """size / distinct / contains / sort+slice / element_at over token
    arrays (arrays emitted as joined strings for canonical comparison)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 2)
    tok = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(tok).alias("n_tokens"),
        F.size(F.array_distinct(tok)).alias("n_unique"),
        F.array_contains(tok, "spark").alias("has_spark"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(tok)), 1, 4), ",").alias("first_uniq"),
        F.element_at(tok, 1).alias("first_tok"),
        F.element_at(tok, -1).alias("last_tok"),
    )


@query(
    "fn_higher_order",
    oracle="""
    SELECT vec_id, label,
           list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (acc, x) -> acc + x) AS norm_sq,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                       (acc, x) -> acc + x) AS comp_sum,
           CAST(embedding[1] AS DOUBLE) AS first_comp
    FROM embeddings WHERE vec_id % 10 = 3
    """,
    tags=("function", "array", "higher_order"),
)
def fn_higher_order(spark, sf_dir):
    """transform / filter / aggregate (fold) over embedding vectors — the
    no-UDF vector-math path (all JVM-side, codegen'd)."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 3)
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)  # noqa: E731
    return e.select(
        "vec_id",
        "label",
        fold(sq).alias("norm_sq"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        fold(dbl).alias("comp_sum"),
        F.element_at("embedding", 1).cast("double").alias("first_comp"),
    )


@query(
    "fn_explode_tf",
    oracle="""
    SELECT token, COUNT(*) AS tf FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 20
    """,
    tags=("function", "array", "explode"),
    bench=True,
)
def fn_explode_tf(spark, sf_dir):
    """explode → term-frequency top-20: the flatten-then-aggregate shape
    (shuffle carries (token, partial count), not the exploded rows)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(20)
    )


@query(
    "fn_zip_with_dot",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           list_reduce(list_transform(generate_series(1, 64),
                       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)),
                       (acc, x) -> acc + x) AS dot0
    FROM embeddings e, q
    WHERE e.vec_id % 25 = 1
    """,
    tags=("function", "array", "higher_order"),
)
def fn_zip_with_dot(spark, sf_dir):
    """zip_with + fold = dot product against a (broadcast) query vector —
    the primitive under all cosine-similarity operators."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    pair = e.filter(F.col("vec_id") % 25 == 1).crossJoin(F.broadcast(q))
    prods = F.zip_with("embedding", "qe", lambda a, b: a.cast("double") * b.cast("double"))
    return pair.select(
        "vec_id",
        F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x).alias("dot0"),
    )


@query(
    "fn_json_roundtrip",
    oracle="""
    SELECT event_id, event_type AS rt_type, value AS rt_value
    FROM events WHERE event_id % 9 = 5
    """,
    tags=("function", "json", "roundtrip"),
)
def fn_json_roundtrip(spark, sf_dir):
    """Serialize→parse losslessness: struct → to_json → from_json →
    fields. The oracle reads the original columns, so a hash match proves
    the JSON cycle loses nothing (doubles survive via shortest-repr)."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 9 == 5)
    j = F.to_json(F.struct("event_type", "value"))
    parsed = F.from_json(j, "event_type string, value double")
    return e.select(
        "event_id",
        parsed.getField("event_type").alias("rt_type"),
        parsed.getField("value").alias("rt_value"),
    )


@query(
    "fn_map_family",
    oracle="""
    WITH m AS (
      SELECT event_id,
             map(['k'], [CAST(json_extract_string(props, '$.k') AS INTEGER)]) AS base
      FROM events WHERE event_id % 12 = 6
    )
    SELECT event_id,
           array_to_string(list_sort(map_keys(base)), ',') AS keys_csv,
           CAST(map_values(base)[1] AS INTEGER) AS k_val,
           len(map_keys(base)) AS n_entries
    FROM m
    """,
    tags=("function", "map"),
)
def fn_map_family(spark, sf_dir):
    """MapType construction + introspection: build a typed map from
    arrays, then map_keys / map_values / size — canonicalized to sorted
    CSV so map iteration order (undefined in both engines) can't leak
    into the comparison."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 12 == 6)
    base = F.map_from_arrays(
        F.array(F.lit("k")),
        F.array(F.get_json_object("props", "$.k").cast("int")),
    )
    return e.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(base)), ",").alias("keys_csv"),
        F.element_at(F.map_values(base), 1).alias("k_val"),
        F.size(F.map_keys(base)).alias("n_entries"),
    )


@query(
    "fn_variant_shred",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           json_extract_string(props, '$.k') AS k_str,
           CAST(NULL AS VARCHAR) AS missing,
           'OBJECT<k: BIGINT>' AS vschema
    FROM events WHERE event_id % 11 = 5
    """,
    tags=("function", "json", "variant"),
)
def fn_variant_shred(spark, sf_dir):
    """Spark 4 VARIANT semi-structured type: ``parse_json`` shreds the
    props JSON once into the binary variant encoding, then typed path
    extraction (``variant_get``), safe extraction of an absent path
    (``try_variant_get`` → NULL, no error), and per-row schema
    introspection (``schema_of_variant`` — asserted against the expected
    shredded type, which proves the engine sees BIGINT, not strings).

    At scale VARIANT beats JSON strings because the binary encoding is
    parsed once at scan time and path access is field lookup, not
    re-parsing; with parquet variant shredding the extracted paths
    become column chunks with stats. The oracle runs the equivalent
    string-JSON extraction in DuckDB."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 5)
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "string").alias("missing"),
        F.schema_of_variant(v).alias("vschema"),
    )


@query(
    "fn_variant_family",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.k') AS BIGINT) * 2 AS k_doubled,
           json_extract_string(props, '$.missing') AS absent,
           (json_extract(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    WHERE event_id % 11 = 0
    ORDER BY event_id
    """,
    tags=("function", "json", "variant"),
)
def fn_variant_family(spark, sf_dir):
    """Semi-structured VARIANT surface (Spark 4): parse once with
    try_parse_json, then typed path extraction via variant_get —
    int, string (numeric→string cast), arithmetic on the typed value,
    a missing path (NULL in both engines), and an existence flag.
    VARIANT stores a parsed binary encoding, so repeated path reads
    skip re-tokenizing the JSON text — the 100 TB win over
    get_json_object, which re-parses the string per call. Oracle is
    DuckDB's JSON path family over the same props column."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 0)
    v = F.try_parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k_int"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        (F.variant_get(v, "$.k", "long") * 2).alias("k_doubled"),
        F.variant_get(v, "$.missing", "string").alias("absent"),
        F.variant_get(v, "$.k", "long").isNotNull().alias("has_k"),
    ).orderBy("event_id")


@query(
    "fn_array_setops",
    oracle="""
    WITH halves AS (
      SELECT doc_id,
             string_split(text, ' ') AS tok,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE doc_id % 11 = 3 AND len(string_split(text, ' ')) >= 2
    ),
    ab AS (
      SELECT doc_id,
             tok[1 : CAST(n // 2 AS INTEGER)] AS a,
             tok[CAST(n // 2 + 1 AS INTEGER) : CAST(n AS INTEGER)] AS b
      FROM halves
    )
    SELECT doc_id,
           len(list_distinct(list_concat(a, b))) AS n_union,
           len(list_distinct(list_filter(a, x -> NOT list_contains(b, x))))
             AS n_except,
           len(list_distinct(list_filter(a, x -> list_contains(b, x))))
             AS n_inter,
           list_has_any(a, b) AS overlap,
           len(flatten([a, b])) AS flat_n,
           array_to_string(list_sort(list_distinct(list_concat(a, b))), ' ')
             AS union_csv
    FROM ab
    ORDER BY doc_id
    """,
    tags=("function", "array", "setops"),
)
def fn_array_setops(spark, sf_dir):
    """Array set algebra on each document's two token halves:
    array_union / array_except / array_intersect (all distinct-set
    semantics), arrays_overlap, and flatten — the vocabulary-diff
    primitives behind incremental dedup (what's new in this shard vs
    the last) and split-half consistency checks. Sorted-CSV output
    pins the set content, not just its size; everything is per-row
    JVM codegen over the scan, zero shuffle before the sample sort."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 3)
    halves = d.select(
        "doc_id", F.split("text", " ").alias("tok")
    ).withColumn("n", F.size("tok")).filter(F.col("n") >= 2)
    ab = halves.select(
        "doc_id",
        F.slice("tok", 1, (F.col("n") / 2).cast("int")).alias("a"),
        F.expr("slice(tok, CAST(n / 2 AS INT) + 1, n - CAST(n / 2 AS INT))").alias("b"),
    )
    return ab.select(
        "doc_id",
        F.size(F.array_union("a", "b")).alias("n_union"),
        F.size(F.array_except("a", "b")).alias("n_except"),
        F.size(F.array_intersect("a", "b")).alias("n_inter"),
        F.arrays_overlap("a", "b").alias("overlap"),
        F.size(F.flatten(F.array("a", "b"))).alias("flat_n"),
        F.array_join(F.array_sort(F.array_union("a", "b")), " ").alias("union_csv"),
    ).orderBy("doc_id")
