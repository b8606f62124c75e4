"""Scalar function families: string, regexp, date/time, interval, math,
trig, bitwise, digest, codec, conditional, cast.

All built-in ``pyspark.sql.functions`` (JVM-side, whole-stage codegen) —
never Python UDFs. Cross-engine parity notes (verified on both engines)
live next to each use:

* ``regexp_replace``: Spark replaces all matches; DuckDB needs the ``'g'``
  flag.
* ``round(double, s)``: Spark rounds the shortest decimal repr (HALF_UP on
  BigDecimal.valueOf), DuckDB rounds the binary value — they agree only
  when ``s`` exceeds the value's actual decimal precision or the value is
  tie-free at scale ``s``; used accordingly.
* libm transcendentals (exp/ln/pow) may differ by 1 ulp between the JVM
  and libstdc++ — results are rounded at 1e-6 on bounded arguments.
* ``sign``: DuckDB returns int, Spark double → cast explicitly.
* Trig outputs are rounded to 9 decimal digits on both engines, for the
  same last-ulp reason.
* ``dayofweek``: Spark is 1-based (Sunday=1), DuckDB 0-based — the oracle
  adds 1. ``add_months`` is DuckDB's ``d + TO_MONTHS(n)`` (a timestamp,
  cast back to date).
* Regexp no-match: DuckDB ``array_to_string(regexp_extract_all(...))``
  yields NULL where Spark ``array_join`` yields ``''`` (oracle wraps in
  ``COALESCE``); DuckDB ``regexp_extract`` yields ``''`` where Spark
  ``regexp_substr`` yields NULL (oracle wraps in ``NULLIF``). ``\\b`` is
  ASCII-only in RE2 but Unicode-aware in Java, so regexp queries read
  ``lang = 'en'`` text only.
* XOR is ``^`` in Spark and ``xor()`` in DuckDB; ``sequence`` is
  ``generate_series``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import sql_units, units
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t


@query(
    "fn_string_family",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_upper,
           LOWER(p_brand) AS brand_lower,
           LENGTH(p_name) AS name_len,
           SUBSTR(p_name, 1, 5) AS name_head,
           TRIM('  ' || p_name || ' ') AS name_trim,
           p_brand || ':' || p_type AS brand_type,
           CONCAT_WS('-', p_brand, p_type, CAST(p_size AS VARCHAR)) AS brand_key,
           LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
           REPLACE(p_name, ' ', '_') AS name_snake,
           INSTR(p_name, 'red') AS red_pos,
           split_part(p_name, ' ', 1) AS first_word,
           REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num,
           REGEXP_REPLACE(p_name, '[aeiou]', '*', 'g') AS name_devoweled
    FROM part
    """,
    tags=("function", "string"),
)
def fn_string_family(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.concat_ws("-", "p_brand", "p_type", F.col("p_size").cast("string")).alias("brand_key"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("key_padded"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.instr("p_name", "red").alias("red_pos"),
        F.element_at(F.split("p_name", " "), 1).alias("first_word"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("name_devoweled"),
    )


@query(
    "fn_datetime_family",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate) AS yr,
           MONTH(o_orderdate) AS mon,
           DAY(o_orderdate) AS dom,
           HOUR(o_orderdate) AS hr,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
           epoch_us(o_orderdate) AS order_us,
           CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS order_epoch_s
    FROM orders WHERE o_orderkey % 50 = 3
    """,
    tags=("function", "datetime"),
)
def fn_datetime_family(spark, sf_dir):
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 3)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.hour("o_orderdate").alias("hr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.to_date("o_orderdate").alias("order_date"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_2002"
        ),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("order_us"),
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(1000000))
        .cast("long")
        .alias("order_epoch_s"),
    )


@query(
    "fn_math_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ABS(l_discount - 0.05) AS disc_dev,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
           ROUND(SQRT(l_quantity), 6) AS qty_sqrt,
           ROUND(EXP(l_discount), 6) AS disc_exp,
           ROUND(LN(l_extendedprice), 6) AS price_ln,
           l_quantity * l_quantity AS qty_sq,
           CAST(POW(l_quantity, 2) AS DOUBLE) AS qty_pow2,
           ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_pmod,
           CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           GREATEST(l_discount, l_tax) AS max_rate,
           LEAST(l_discount, l_tax) AS min_rate
    FROM lineitem WHERE l_orderkey % 40 = 11
    """,
    tags=("function", "math"),
)
def fn_math_family(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 40 == 11)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        (F.col("l_quantity") * F.col("l_quantity")).alias("qty_sq"),
        F.pow("l_quantity", F.lit(2)).alias("qty_pow2"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_pmod"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
        F.least("l_discount", "l_tax").alias("min_rate"),
    )


@query(
    "fn_conditional_family",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'rich' END AS bal_bucket,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_masked,
           CASE WHEN c_nationkey % 3 = 0 THEN NULL ELSE c_nationkey END AS nk_or_null,
           COALESCE(CASE WHEN c_nationkey % 3 = 0 THEN NULL ELSE c_nationkey END, -1) AS nk_filled,
           CASE WHEN c_acctbal > 9000 THEN 'vip' ELSE 'std' END AS tier
    FROM customer
    """,
    tags=("function", "conditional"),
)
def fn_conditional_family(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    nk_or_null = F.when(F.col("c_nationkey") % 3 == 0, None).otherwise(F.col("c_nationkey"))
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("rich")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_masked"
        ),
        nk_or_null.alias("nk_or_null"),
        F.coalesce(nk_or_null, F.lit(-1)).alias("nk_filled"),
        F.expr("if(c_acctbal > 9000, 'vip', 'std')").alias("tier"),
    )


@query(
    "fn_cast_family",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey AS INTEGER) AS key_int,
           CAST(o_orderkey AS DOUBLE) AS key_double,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(o_totalprice AS DECIMAL(12,2)) AS price_dec,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_roundtrip,
           CAST('123.5' AS DOUBLE) AS parsed_double,
           CAST('42' AS BIGINT) AS parsed_long,
           CAST(o_orderdate AS DATE) AS date_cast,
           CAST(CAST('2000-06-15 12:30:00' AS TIMESTAMP) AS DATE) AS literal_ts_date
    FROM orders WHERE o_orderkey % 100 = 42
    """,
    tags=("function", "cast"),
)
def fn_cast_family(spark, sf_dir):
    """Casts across long/int/double/string/timestamp/decimal(12,2).
    o_totalprice carries exactly 2 decimals, so the decimal(12,2) cast is
    exact in both engines (no rounding-mode divergence)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 42)
    return o.select(
        "o_orderkey",
        F.col("o_orderkey").cast("int").alias("key_int"),
        F.col("o_orderkey").cast("double").alias("key_double"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price_dec"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("double").alias("price_roundtrip"),
        F.lit("123.5").cast("double").alias("parsed_double"),
        F.lit("42").cast("bigint").alias("parsed_long"),
        F.col("o_orderdate").cast("date").alias("date_cast"),
        F.lit("2000-06-15 12:30:00").cast("timestamp").cast("date").alias("literal_ts_date"),
    )


@query(
    "fn_na_cleaning",
    oracle="""
    WITH dirty AS (
      SELECT o_orderkey,
             NULLIF(o_orderstatus, 'P') AS status,
             CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price
      FROM orders
    )
    SELECT o_orderkey,
           COALESCE(status, 'UNKNOWN') AS status,
           COALESCE(price, 0.0) AS price
    FROM dirty
    WHERE NOT (status IS NULL AND price IS NULL)
      AND o_orderkey % 7 = 0
    """,
    tags=("function", "null", "cleaning"),
)
def fn_na_cleaning(spark, sf_dir):
    """Data-cleaning surface (DataFrameNaFunctions): inject NULLs, then
    na.drop(how='all' over the data columns) + na.fill with per-column
    defaults — the standardize-missing-values pass every ingest runs."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    dirty = o.select(
        "o_orderkey",
        F.nullif(F.col("o_orderstatus"), F.lit("P")).alias("status"),
        F.when(F.col("o_totalprice") < 50000, None)
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    return dirty.na.drop(how="all", subset=["status", "price"]).na.fill(
        {"status": "UNKNOWN", "price": 0.0}
    )


@query(
    "fn_posexplode_outer",
    oracle="""
    WITH hits AS (
      SELECT doc_id,
             list_filter(string_split(text, chr(32)), x -> x = 'spark' OR x = 'hash') AS h
      FROM documents WHERE doc_id % 6 = 1
    ),
    grid AS (
      SELECT doc_id,
             CASE WHEN len(h) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE h END AS h2
      FROM hits
    ),
    z AS (
      SELECT doc_id,
             unnest(generate_series(1, len(h2))) AS pos1,
             unnest(h2) AS hit
      FROM grid
    )
    SELECT doc_id,
           CASE WHEN hit IS NULL THEN NULL ELSE pos1 - 1 END AS pos,
           hit
    FROM z
    """,
    tags=("function", "array", "explode", "outer"),
)
def fn_posexplode_outer(spark, sf_dir):
    """posexplode_outer: flatten with positions, KEEPING rows whose array
    is empty (as a NULL row) — the outer variant every flatten-then-join
    pipeline needs so empty documents don't silently vanish."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 1)
    hits = F.filter(
        F.split("text", " "), lambda x: (x == "spark") | (x == "hash")
    )
    return d.select("doc_id", hits.alias("h")).select(
        "doc_id", F.posexplode_outer("h").alias("pos", "hit")
    )


@query(
    "fn_try_family",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           TRY_CAST(event_type AS DOUBLE) AS bad_double,
           value / NULLIF(CAST(event_id % 5 AS DOUBLE), 0.0) AS safe_div
    FROM events WHERE event_id % 11 = 7
    """,
    tags=("function", "try", "null"),
)
def fn_try_family(spark, sf_dir):
    """Error-safe evaluation: try_cast returns NULL instead of raising
    under ANSI semantics (malformed input is data, not an exception at
    100 TB), and try_divide maps division-by-zero to NULL."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 11 == 7)
    return e.select(
        "event_id",
        F.try_to_number(F.get_json_object("props", "$.k"), F.lit("999999")).cast("int").alias("k_int"),
        F.col("event_type").try_cast("double").alias("bad_double"),
        F.try_divide(F.col("value"), (F.col("event_id") % 5).cast("double")).alias("safe_div"),
    )


@query(
    "fn_hash_family",
    oracle="""
    SELECT c_custkey,
           md5(c_name) AS md5_hex,
           sha256(c_name) AS sha256_hex,
           md5(c_name || '|' || c_mktsegment) AS md5_composite
    FROM customer
    ORDER BY c_custkey
    """,
    tags=("function", "hash"),
)
def fn_hash_family(spark, sf_dir):
    """Cryptographic digest functions over strings — content-hash dedup's
    primitive (`sha2` is what dedup_exact_content builds on). Both engines
    emit lowercase hex for identical byte input, so digests hash-match
    directly. Map-only; at scale this is the cheapest possible pass."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("md5_hex"),
        F.sha2("c_name", 256).alias("sha256_hex"),
        F.md5(F.concat_ws("|", "c_name", "c_mktsegment")).alias("md5_composite"),
    ).orderBy("c_custkey")


@query(
    "fn_bitwise_family",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS band,
           o_orderkey | 4096 AS bor,
           xor(o_orderkey, 21845) AS bxor,
           (o_orderkey & 15) << 2 AS shl,
           o_orderkey >> 3 AS shr,
           bit_count(o_orderkey) AS popcount
    FROM orders
    WHERE o_orderkey % 7 = 0
    ORDER BY o_orderkey
    """,
    tags=("function", "bitwise"),
)
def fn_bitwise_family(spark, sf_dir):
    """Bitwise operator family on int64 keys — the machinery under hash
    partitioning, LSH band packing, and bloom-filter addressing. Spark
    spells XOR ``^`` where DuckDB uses ``xor()``; all results are exact
    integers."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").alias("band"),
        F.expr("o_orderkey | 4096").alias("bor"),
        F.expr("o_orderkey ^ 21845").alias("bxor"),
        F.expr("shiftleft(o_orderkey & 15, 2)").alias("shl"),
        F.expr("shiftright(o_orderkey, 3)").alias("shr"),
        F.expr("bit_count(o_orderkey)").alias("popcount"),
    ).orderBy("o_orderkey")


@query(
    "fn_sequence_spine",
    oracle="""
    WITH spine AS (
      SELECT unnest(generate_series(TIMESTAMP '1997-01-01',
                                    TIMESTAMP '1997-03-31',
                                    INTERVAL 1 DAY)) AS day
    ),
    daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS cnt
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s.day, COALESCE(d.cnt, 0) AS n_orders
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    ORDER BY s.day
    """,
    tags=("function", "sequence", "spine"),
)
def fn_sequence_spine(spark, sf_dir):
    """Dense date spine via ``sequence`` + ``explode`` (DuckDB:
    ``generate_series`` + ``unnest``) left-joined to daily order counts so
    zero-activity days appear explicitly — the standard gap-free
    time-series frame. The spine is generated, not scanned, and is tiny
    (one row per day), so it broadcasts; the fact side aggregates BEFORE
    the join, keeping the outer join at spine-size × 1."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    daily = o.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(timestamp'1997-01-01', timestamp'1997-03-31', interval 1 day)"
            )
        ).alias("day")
    )
    return (
        spine.join(daily, "day", "left_outer")
        .select("day", F.coalesce("cnt", F.lit(0)).alias("n_orders"))
        .orderBy("day")
    )


@query(
    "fn_edit_distance",
    oracle="""
    SELECT p_partkey,
           levenshtein(lower(p_name), lower(p_type)) AS lev_name_type,
           levenshtein(p_brand, 'Brand#1') AS lev_brand
    FROM part
    WHERE p_size <= 10
    ORDER BY p_partkey
    """,
    tags=("function", "string", "distance"),
)
def fn_edit_distance(spark, sf_dir):
    """Levenshtein edit distance — the character-level near-dup metric
    (complements token-level Jaccard in the dedup family). Exact integer
    DP in both engines. Scale note: edit distance is O(len²) per pair, so
    production runs it only on LSH-blocked candidate pairs, never
    all-pairs; here it runs row-local against fixed references."""
    p = t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return p.select(
        "p_partkey",
        F.levenshtein(F.lower("p_name"), F.lower("p_type")).alias("lev_name_type"),
        F.levenshtein("p_brand", F.lit("Brand#1")).alias("lev_brand"),
    ).orderBy("p_partkey")


@query(
    "fn_unpivot_stack",
    oracle="""
    SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
      FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem
    )
    WHERE l_orderkey % 50 = 0
    ORDER BY l_orderkey, l_linenumber, metric
    """,
    tags=("function", "unpivot", "reshape"),
)
def fn_unpivot_stack(spark, sf_dir):
    """Wide→long reshape (unpivot/melt) of four lineitem measures into
    (metric, value) rows via ``stack`` — the transpose primitive feature
    stores and metric pipelines lean on. The oracle spells it as the
    equivalent UNION ALL. Unpivot is a zero-shuffle Expand: output rows
    = 4× input, produced map-side; the selective filter is pushed below
    the expand by Catalyst so only matching rows quadruple."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(4, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount, 'tax', l_tax) AS (metric, value)"
        ),
    ).orderBy("l_orderkey", "l_linenumber", "metric")


@query(
    "fn_trig_family",
    oracle="""
    SELECT n_nationkey,
           ROUND(SIN(n_nationkey * 0.1), 9) AS sin_v,
           ROUND(COS(n_nationkey * 0.1), 9) AS cos_v,
           ROUND(TAN(n_nationkey * 0.1), 9) AS tan_v,
           ROUND(ATAN(n_nationkey * 0.1), 9) AS atan_v,
           ROUND(ATAN2(CAST(n_nationkey AS DOUBLE), 7.0), 9) AS atan2_v,
           ROUND(COT(n_nationkey * 0.1 + 1.0), 9) AS cot_v,
           ROUND(CBRT(CAST(n_nationkey AS DOUBLE)), 9) AS cbrt_v,
           ROUND(DEGREES(n_nationkey * 0.1), 9) AS deg_v,
           ROUND(RADIANS(CAST(n_nationkey AS DOUBLE)), 9) AS rad_v
    FROM nation
    ORDER BY n_nationkey
    """,
    tags=("function", "math", "trig"),
)
def fn_trig_family(spark, sf_dir):
    """Trigonometric scalar family over the nation key domain: sin, cos,
    tan, atan, atan2, cot, cbrt, degrees, radians. Each is a single JVM
    intrinsic inside whole-stage codegen. Hyperbolics are omitted from
    the declared surface because the oracle engine lacks them natively;
    they remain available via exp() composition."""
    n = t(spark, sf_dir, "nation")
    x = F.col("n_nationkey") * 0.1
    kd = F.col("n_nationkey").cast("double")
    return n.select(
        "n_nationkey",
        F.round(F.sin(x), 9).alias("sin_v"),
        F.round(F.cos(x), 9).alias("cos_v"),
        F.round(F.tan(x), 9).alias("tan_v"),
        F.round(F.atan(x), 9).alias("atan_v"),
        F.round(F.atan2(kd, F.lit(7.0)), 9).alias("atan2_v"),
        F.round(F.cot(x + 1.0), 9).alias("cot_v"),
        F.round(F.cbrt(kd), 9).alias("cbrt_v"),
        F.round(F.degrees(x), 9).alias("deg_v"),
        F.round(F.radians(kd), 9).alias("rad_v"),
    ).orderBy("n_nationkey")


@query(
    "fn_calendar_family",
    oracle="""
    SELECT o_orderkey,
           LAST_DAY(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS week_start,
           CAST(DATE_TRUNC('quarter', o_orderdate) AS DATE) AS quarter_start,
           CAST(EXTRACT(week FROM o_orderdate) AS INTEGER) AS iso_week,
           CAST(DAYOFWEEK(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
           CAST(DAYOFYEAR(CAST(o_orderdate AS DATE)) AS INTEGER) AS doy,
           CAST(CAST(o_orderdate AS DATE) + TO_MONTHS(3) AS DATE) AS plus_quarter,
           CAST(EXTRACT(year FROM o_orderdate) * 12
                + EXTRACT(month FROM o_orderdate) - (1992 * 12 + 1)
                AS INTEGER) AS months_since_epoch
    FROM orders
    WHERE o_orderkey % 97 = 0
    ORDER BY o_orderkey
    """,
    tags=("function", "datetime", "calendar"),
)
def fn_calendar_family(spark, sf_dir):
    """Calendar arithmetic on order dates: month-end snapping
    (last_day), ISO week/quarter truncation, ISO week number,
    day-of-week / day-of-year, month shifting (add_months), and a
    month-index since the corpus epoch (the portable replacement for
    fractional months_between, whose day-fraction semantics are
    engine-specific). Pure JVM date intrinsics inside codegen; the
    modulo sample keeps oracle rows bounded at any SF."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.last_day(d).alias("month_end"),
        F.to_date(F.date_trunc("week", "o_orderdate")).alias("week_start"),
        F.to_date(F.date_trunc("quarter", "o_orderdate")).alias("quarter_start"),
        F.weekofyear(d).alias("iso_week"),
        F.dayofweek(d).alias("dow"),
        F.dayofyear(d).alias("doy"),
        F.add_months(d, 3).alias("plus_quarter"),
        (
            F.year(d) * F.lit(12) + F.month(d) - F.lit(1992 * 12 + 1)
        ).cast("int").alias("months_since_epoch"),
    ).orderBy("o_orderkey")


@query(
    "fn_string2_family",
    oracle="""
    SELECT c_custkey,
           REPEAT(LEFT(c_name, 2), 3) AS rep2,
           REVERSE(c_mktsegment) AS seg_rev,
           ASCII(c_name) AS first_code,
           CHR(65 + CAST(c_custkey % 26 AS INTEGER)) AS letter,
           LEFT(c_name, 8) AS name_l8,
           RIGHT(c_name, 4) AS name_r4,
           CAST(POSITION('0' IN c_name) AS INTEGER) AS zero_at,
           TRANSLATE(c_mktsegment, 'AEIOU', 'aeiou') AS seg_folded,
           STARTS_WITH(c_name, 'Customer') AS is_cust,
           ENDS_WITH(c_mktsegment, 'RY') AS seg_ry
    FROM customer
    WHERE c_custkey % 53 = 0
    ORDER BY c_custkey
    """,
    tags=("function", "string"),
)
def fn_string2_family(spark, sf_dir):
    """Second string-function wave: repeat, reverse, ascii/chr codec,
    left/right slicing, substring position, character translation, and
    prefix/suffix predicates. Every member is a JVM intrinsic with an
    exact 1:1 oracle equivalent — no collation or locale dependence on
    ASCII-range fixture data."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 53 == 0)
    return c.select(
        "c_custkey",
        F.repeat(F.left(F.col("c_name"), F.lit(2)), 3).alias("rep2"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.ascii("c_name").alias("first_code"),
        F.chr(F.lit(65) + (F.col("c_custkey") % 26).cast("int")).alias("letter"),
        F.left(F.col("c_name"), F.lit(8)).alias("name_l8"),
        F.right(F.col("c_name"), F.lit(4)).alias("name_r4"),
        F.locate("0", F.col("c_name")).alias("zero_at"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_folded"),
        F.startswith(F.col("c_name"), F.lit("Customer")).alias("is_cust"),
        F.endswith(F.col("c_mktsegment"), F.lit("RY")).alias("seg_ry"),
    ).orderBy("c_custkey")


@query(
    "fn_format_radix_family",
    oracle="""
    SELECT p_partkey,
           hex(p_partkey) AS key_hex,
           bin(p_partkey % 256) AS key_bin,
           to_base(p_partkey, 16) AS key_base16,
           printf('%s=%d@%05.2f', p_brand, CAST(p_size AS INTEGER), p_retailprice)
             AS label,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           rpad(p_brand, 12, '.') AS brand_padded
    FROM part
    WHERE p_partkey % 41 = 0
    ORDER BY p_partkey
    """,
    tags=("function", "format", "radix"),
)
def fn_format_radix_family(spark, sf_dir):
    """Radix conversion (hex / bin / arbitrary base via conv) and
    printf-style formatting (format_string — same %-spec engine as the
    oracle's printf), plus pad-to-width. All JVM intrinsics. Note
    format_string rejects DECIMAL for %f — the price is double already;
    conv() uppercases like to_base."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") % 41 == 0)
    return p.select(
        "p_partkey",
        F.hex("p_partkey").alias("key_hex"),
        F.bin(F.col("p_partkey") % 256).alias("key_bin"),
        F.conv(F.col("p_partkey").cast("string"), 10, 16).alias("key_base16"),
        F.format_string(
            "%s=%d@%05.2f",
            F.col("p_brand"),
            F.col("p_size").cast("int"),
            F.col("p_retailprice"),
        ).alias("label"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_padded"),
    ).orderBy("p_partkey")


@query(
    "fn_url_family",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/' || lang || '/doc/'
               || CAST(doc_id AS VARCHAR) || '?v=' || CAST(n_chars AS VARCHAR)
               || '&u=1' AS url
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT doc_id, url,
           regexp_extract(url, 'https://([^/]+)/', 1) AS host,
           regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]v=([^&]*)', 1) AS v_param
    FROM u
    ORDER BY doc_id
    """,
    tags=("function", "url", "parse"),
)
def fn_url_family(spark, sf_dir):
    """URL component extraction over synthesized document URLs:
    parse_url(HOST / PATH / QUERY key) — the field extraction every
    web-crawl pipeline runs before per-domain dedup or rate analysis.
    The oracle mirrors each component with an anchored regexp (the
    oracle engine has no parse_url), which also pins parse_url's exact
    component boundaries (host excludes the scheme and slash, path
    excludes the query, QUERY 'v' returns the bare value)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"), F.col("lang"),
        F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?v="), F.col("n_chars").cast("string"), F.lit("&u=1"),
    )
    return (
        d.select("doc_id", url.alias("url"))
        .select(
            "doc_id",
            "url",
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
            F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
            F.parse_url(F.col("url"), F.lit("QUERY"), F.lit("v")).alias("v_param"),
        )
        .orderBy("doc_id")
    )


_WORD_PAT = r"\ba[a-z]+"


@query(
    "fn_regexp_family",
    oracle=f"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '{_WORD_PAT}')) AS INTEGER) AS rc,
           COALESCE(array_to_string(regexp_extract_all(text, '{_WORD_PAT}'), ','), '')
             AS all_csv,
           NULLIF(regexp_extract(text, '{_WORD_PAT}'), '') AS first_hit,
           regexp_matches(text, '{_WORD_PAT}') AS has_hit,
           regexp_replace(text, '{_WORD_PAT}', '_', 'g') AS redacted
    FROM documents
    WHERE lang = 'en' AND doc_id % 3 = 0
    ORDER BY doc_id
    """,
    tags=("function", "string", "regexp"),
)
def fn_regexp_family(spark, sf_dir):
    """Full regexp surface over the English corpus: match counting
    (regexp_count), all-matches extraction (regexp_extract_all →
    csv), first-match (regexp_substr), boolean test (rlike), and
    global substitution (regexp_replace). All JVM-side codegen'd
    intrinsics — the regex compiles once per task, so at 100 TB this
    is a pure map over the scan with zero shuffle. Restricted to
    ASCII text because RE2's word boundary is ASCII-only."""
    d = t(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 3 == 0)
    )
    pat = F.lit(_WORD_PAT)
    return d.select(
        "doc_id",
        F.regexp_count("text", pat).alias("rc"),
        F.array_join(F.regexp_extract_all("text", pat, 0), ",").alias("all_csv"),
        F.regexp_substr("text", pat).alias("first_hit"),
        F.col("text").rlike(_WORD_PAT).alias("has_hit"),
        F.regexp_replace("text", _WORD_PAT, "_").alias("redacted"),
    ).orderBy("doc_id")


@query(
    "fn_interval_family",
    oracle="""
    SELECT event_id,
           ts + INTERVAL 90 MINUTE AS plus_90m,
           ts - INTERVAL 1 DAY AS minus_1d,
           CAST(date_diff('second', date_trunc('day', ts), ts) AS BIGINT)
             AS secs_into_day,
           CAST(date_diff('hour', TIMESTAMP '2024-01-01', ts) AS BIGINT)
             AS hours_since_jan1,
           epoch_us(ts) AS micros,
           date_trunc('second', ts) + INTERVAL 30 SECOND AS next_half_min
    FROM events
    WHERE event_id % 13 = 0
    ORDER BY event_id
    """,
    tags=("function", "datetime", "interval"),
)
def fn_interval_family(spark, sf_dir):
    """Sub-day interval arithmetic on event timestamps: ± INTERVAL
    shifts, timestampdiff in seconds/hours against day-truncation and
    a fixed epoch, exact microsecond extraction (unix_micros ≡
    epoch_us), and second-granularity snapping. Complements the
    date-level calendar family (scalar_funcs) at timestamp precision; all
    codegen'd JVM intrinsics, no shuffle beyond the final sample
    sort."""
    e = t(spark, sf_dir, "events").filter(F.col("event_id") % 13 == 0)
    ts = F.col("ts")
    return e.select(
        "event_id",
        (ts + F.expr("INTERVAL 90 MINUTES")).alias("plus_90m"),
        (ts - F.expr("INTERVAL 1 DAY")).alias("minus_1d"),
        F.expr("timestampdiff(SECOND, date_trunc('day', ts), ts)")
        .cast("long")
        .alias("secs_into_day"),
        F.expr("timestampdiff(HOUR, TIMESTAMP '2024-01-01', ts)")
        .cast("long")
        .alias("hours_since_jan1"),
        F.unix_micros(ts).alias("micros"),
        (F.date_trunc("second", ts) + F.expr("INTERVAL 30 SECONDS")).alias(
            "next_half_min"
        ),
    ).orderBy("event_id")


@query(
    "fn_char_family",
    oracle="""
    SELECT c_custkey,
           translate(c_name, 'aeiou', '-----') AS devoweled,
           reverse(c_name) AS reversed,
           repeat(left(c_name, 3), 2) AS stutter,
           right(c_name, 4) AS tail4,
           ascii(c_name) AS first_code,
           chr(ascii(c_name) + 1) AS next_char,
           length(c_name) AS n_chars
    FROM customer WHERE c_custkey % 37 = 0
    ORDER BY c_custkey
    """,
    tags=("function", "string", "char"),
)
def fn_char_family(spark, sf_dir):
    """Character-level string surface: translate (per-char mapping),
    reverse, repeat, left/right slicing, ascii↔chr round trip.
    All JVM intrinsics inside whole-stage codegen; translate is the
    cheap PII-masking primitive (single pass, no regex engine)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 37 == 0)
    return c.select(
        "c_custkey",
        F.translate("c_name", "aeiou", "-----").alias("devoweled"),
        F.reverse("c_name").alias("reversed"),
        F.repeat(F.left("c_name", F.lit(3)), 2).alias("stutter"),
        F.right("c_name", F.lit(4)).alias("tail4"),
        F.ascii("c_name").alias("first_code"),
        F.chr(F.ascii("c_name") + 1).alias("next_char"),
        F.length("c_name").alias("n_chars"),
    ).orderBy("c_custkey")


@query(
    "fn_mask_builtin",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
             c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS masked_default,
           regexp_replace(regexp_replace(regexp_replace(
             c_name, '[A-Z]', '*', 'g'), '[a-z]', '*', 'g'), '[0-9]', '#', 'g')
             AS masked_custom
    FROM customer WHERE c_custkey % 41 = 0
    ORDER BY c_custkey
    """,
    tags=("function", "string", "pii"),
)
def fn_mask_builtin(spark, sf_dir):
    """Built-in mask(): class-preserving PII redaction — uppercase→X,
    lowercase→x, digit→n (plus a custom-replacement variant) — in one
    codegen'd pass instead of three regex rewrites; shape (length,
    character classes) survives for downstream profiling while values
    are destroyed. The oracle reproduces it with chained
    regexp_replace, proving the semantic contract. Complements
    text_pii_scrub (pattern-targeted) with whole-value masking."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 41 == 0)
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("masked_default"),
        F.mask("c_name", F.lit("*"), F.lit("*"), F.lit("#")).alias("masked_custom"),
    ).orderBy("c_custkey")


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT doc_id,
           text AS roundtrip,
           CAST(octet_length(encode(text)) + 28 AS BIGINT) AS ct_len,
           TRUE AS ok
    FROM documents WHERE doc_id % 17 = 4
    ORDER BY doc_id
    """,
    tags=("function", "crypto", "aes"),
)
def fn_aes_roundtrip(spark, sf_dir):
    """Column-level encryption at rest: aes_encrypt (AES-128-GCM,
    random IV per value) then aes_decrypt with the same key must be
    the identity — the oracle checks the decrypted text against the
    source, and the ciphertext length against the GCM layout
    (12-byte IV ‖ ciphertext ‖ 16-byte tag = n+28, deterministic even
    though the bytes aren't). This is how PII columns ride through an
    untrusted lake: opaque binary in parquet, keys only at the
    compute layer. Both directions are JVM intrinsics — no Python in
    the loop."""
    key = F.lit("0123456789abcdef")
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 4)
    ct = F.aes_encrypt(F.col("text"), key)
    rt = F.decode(F.aes_decrypt(ct, key), "utf-8")
    return d.select(
        "doc_id",
        rt.alias("roundtrip"),
        F.length(ct).cast("long").alias("ct_len"),
        (rt == F.col("text")).alias("ok"),
    ).orderBy("doc_id")


@query(
    "fn_collation_family",
    oracle="""
    WITH m AS (
      SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS l
      FROM documents
    )
    SELECT lower(l) AS lang_ci,
           COUNT(*) AS n,
           COUNT(DISTINCT l) AS n_case_variants
    FROM m GROUP BY lower(l) ORDER BY lang_ci
    """,
    tags=("function", "collation", "string"),
)
def fn_collation_family(spark, sf_dir):
    """Spark 4 string collations: grouping under UTF8_LCASE treats case
    variants as ONE key at the collation layer — no lower() rewrite of
    the data — while COUNT(DISTINCT) of the raw (binary-collated) value
    inside each group counts the surviving case variants. Collation-aware
    grouping is the engine-level answer to case-insensitive semantics:
    the comparison/hash changes, the bytes don't, so the column remains
    byte-faithful for everything downstream (the oracle expresses the
    same result with an explicit lower(), the pre-collation idiom).

    Mixed-case input is derived deterministically (even doc_ids
    uppercased). The group representative under a case-insensitive
    collation is partition-order-dependent, so the output key is
    lower()'d — the only canonicalization in the query."""
    d = t(spark, sf_dir, "documents")
    m = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("l")
    )
    return (
        m.groupBy(F.expr("COLLATE(l, 'UTF8_LCASE')").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l").alias("n_case_variants"),
        )
        .select(F.lower("k").alias("lang_ci"), "n", "n_case_variants")
        .transform(order_bounded, "lang_ci")
    )


@query(
    "fn_xml_family",
    oracle=f"""
    SELECT o_orderkey,
           o_orderstatus AS status_rt,
           {sql_units("o_totalprice", 2)} AS cents_rt,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr_xpath
    FROM orders WHERE o_orderkey % 101 = 0
    ORDER BY o_orderkey
    """,
    tags=("function", "xml", "roundtrip"),
)
def fn_xml_family(spark, sf_dir):
    """XML function family (Spark 4 built-ins): each sampled order is
    serialized to an XML fragment, parsed back with ``from_xml`` against
    a declared struct schema, and one field is independently re-extracted
    with the ``xpath_int`` path function — the oracle is the IDENTITY
    round-trip (original columns straight from the table), so any parser
    or schema-coercion deviation breaks the hash. XML is the remaining
    semi-structured wire format next to the JSON (`fn_json_*`) and
    VARIANT (`fn_variant_*`) families; all three parse map-side inside
    codegen, no shuffle beyond the demo's ordering."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0)
    xml = F.concat(
        F.lit("<o><s>"),
        F.col("o_orderstatus"),
        F.lit("</s><c>"),
        units("o_totalprice", 2).cast("string"),
        F.lit("</c><y>"),
        F.year("o_orderdate").cast("string"),
        F.lit("</y></o>"),
    )
    withx = o.select("o_orderkey", xml.alias("xml"))
    parsed = withx.select(
        "o_orderkey",
        F.from_xml("xml", "s string, c bigint, y int").alias("p"),
        F.expr("xpath_int(xml, '/o/y/text()')").alias("yr_xpath"),
    )
    return (
        parsed.select(
            "o_orderkey",
            F.col("p.s").alias("status_rt"),
            F.col("p.c").alias("cents_rt"),
            "yr_xpath",
        )
        .orderBy("o_orderkey")
    )


@query(
    "fn_csv_scalar_roundtrip",
    oracle=f"""
    SELECT o_orderkey,
           o_orderstatus AS status_rt,
           {sql_units("o_totalprice", 2)} AS cents_rt,
           o_orderpriority AS priority_rt
    FROM orders WHERE o_orderkey % 103 = 0
    ORDER BY o_orderkey
    """,
    tags=("function", "csv", "roundtrip"),
)
def fn_csv_scalar_roundtrip(spark, sf_dir):
    """Scalar CSV codec functions — ``to_csv(struct)`` then ``from_csv``
    with a declared schema (the per-CELL codec for embedded CSV payloads
    in message queues or log fields, distinct from the file-level
    `src_csv_*` source family). Identity-round-trip oracle: the parsed
    fields must equal the original columns exactly, including a field
    containing the delimiter-adjacent '-' and mixed case. Map-side
    inside codegen, no shuffle beyond the demo ordering."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 103 == 0)
    line = F.to_csv(
        F.struct(
            F.col("o_orderstatus").alias("s"),
            units("o_totalprice", 2).alias("c"),
            F.col("o_orderpriority").alias("p"),
        )
    )
    parsed = o.select(
        "o_orderkey",
        F.from_csv(line, "s string, c bigint, p string").alias("r"),
    )
    return (
        parsed.select(
            "o_orderkey",
            F.col("r.s").alias("status_rt"),
            F.col("r.c").alias("cents_rt"),
            F.col("r.p").alias("priority_rt"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "fn_luhn_family",
    oracle="""
    WITH nums AS (
      SELECT c_custkey,
             lpad(CAST(c_custkey AS VARCHAR), 11, '0')
               || CAST(c_custkey % 10 AS VARCHAR) AS num
      FROM customer
    ),
    checked AS (
      SELECT c_custkey, num,
             list_sum(list_transform(generate_series(1, 12), i ->
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN 2 * CAST(substr(num, 13 - CAST(i AS INTEGER), 1)
                                   AS INTEGER) > 9
                      THEN 2 * CAST(substr(num, 13 - CAST(i AS INTEGER), 1)
                                    AS INTEGER) - 9
                      ELSE 2 * CAST(substr(num, 13 - CAST(i AS INTEGER), 1)
                                    AS INTEGER) END
               ELSE CAST(substr(num, 13 - CAST(i AS INTEGER), 1) AS INTEGER)
               END)) % 10 = 0 AS is_valid
      FROM nums
    )
    SELECT is_valid, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(c_custkey) AS BIGINT) AS first_key
    FROM checked GROUP BY is_valid ORDER BY is_valid
    """,
    tags=("function", "checksum", "validation"),
)
def fn_luhn_family(spark, sf_dir):
    """`luhn_check` — the mod-10 checksum validator (card/IMEI-style
    identifiers) over synthetic 12-digit account numbers derived from
    customer keys; the DuckDB twin re-implements Luhn arithmetically
    (doubled even positions from the right, −9 overflow fold), so the
    hash match pins Spark's builtin against the textbook definition
    rather than against itself. Validation verdicts aggregate per
    outcome — the ingest-quality gate shape (reject invalid
    identifiers at the scan, map-side, before any join)."""
    c = t(spark, sf_dir, "customer")
    nums = c.select(
        "c_custkey",
        F.concat(
            F.lpad(F.col("c_custkey").cast("string"), 11, "0"),
            (F.col("c_custkey") % 10).cast("string"),
        ).alias("num"),
    )
    checked = nums.select(
        "c_custkey", F.expr("luhn_check(num)").alias("is_valid")
    )
    return (
        checked.groupBy("is_valid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("c_custkey").cast("long").alias("first_key"),
        )
        .transform(order_bounded, "is_valid")
    )


@query(
    "fn_base64_roundtrip",
    oracle="""
    SELECT doc_id,
           to_base64(encode(substr(text, 1, 24))) AS b64,
           substr(text, 1, 24)
             = decode(from_base64(to_base64(encode(substr(text, 1, 24)))))
             AS roundtrips,
           octet_length(encode(to_base64(encode(substr(text, 1, 24)))))
             = 4 * ((octet_length(encode(substr(text, 1, 24))) + 2) // 3)
             AS length_contract
    FROM documents
    """,
    tags=("function", "codec", "base64"),
)
def fn_base64_roundtrip(spark, sf_dir):
    """Base64 codec surface — the wire format binary payloads ride
    through JSON APIs and manifests: encode a UTF-8 prefix, verify the
    decode round-trip AND RFC 4648's exact length law
    |b64| = 4·⌈n/3⌉ (padding included), per row. Both engines emit the
    canonical padded alphabet, so the encoded STRING itself
    hash-matches — this pins the codec output, not just the
    round-trip.

    Map-side only; at 100 TB this is the manifest-encode step of
    `mm_shard_offset_index`-style loaders."""
    d = t(spark, sf_dir, "documents")
    prefix = F.encode(F.substring("text", 1, 24), "utf-8")
    b64 = F.base64(prefix)
    return d.select(
        "doc_id",
        b64.alias("b64"),
        (prefix == F.unbase64(b64)).alias("roundtrips"),
        (
            F.octet_length(b64)
            == 4 * F.floor((F.octet_length(prefix) + 2) / 3).cast("int")
        ).alias("length_contract"),
    )
