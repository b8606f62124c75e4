"""SQL entry-point surface: the same engine driven through ``spark.sql``
rather than the DataFrame API — CTEs, EXISTS / IN / scalar / correlated
subqueries, and PIVOT.

The reference's consumers reach it exactly this way (Hive/Spark SQL text
over files on the mounted store), so the SQL front door is part of the
capability surface even though the reference itself parses nothing
(SURVEY.md §0). Catalyst compiles these to the same physical plans as the
DataFrame-built equivalents — subqueries become semi/anti joins, scalar
subqueries become broadcast singletons — so every 100 TB posture note
from the operator families applies unchanged.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.canonical import sql_dsum
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import t

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _views(spark, sf_dir, *names):
    for n in names:
        t(spark, sf_dir, n).createOrReplaceTempView(n)


@query(
    "sql_cte_top_suppliers",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {sql_dsum("l_extendedprice * (1 - l_discount)", "total_rev")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s.s_suppkey
    """,
    tags=("sql", "cte", "subquery"),
)
def sql_cte_top_suppliers(spark, sf_dir):
    """CTE + scalar subquery (TPC-H Q15 shape): revenue per supplier,
    keep the max — the scalar subquery compiles to a one-row broadcast."""
    _views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(f"""
        WITH rev AS (
          SELECT l_suppkey, {sql_dsum("l_extendedprice * (1 - l_discount)", "total_rev")}
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_rev
        FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
        ORDER BY s.s_suppkey
    """)


_SQL_NOT_EXISTS = """
    SELECT c.c_mktsegment, COUNT(*) AS n_idle_customers
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    )
    GROUP BY c.c_mktsegment
"""


@query("sql_not_exists_subquery", oracle=_SQL_NOT_EXISTS, tags=("sql", "subquery", "anti"))
def sql_not_exists_subquery(spark, sf_dir):
    """Correlated NOT EXISTS (TPC-H Q22 flavor) — Catalyst rewrites it to
    a left-anti join on o_custkey; never a per-row probe."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_NOT_EXISTS)


_SQL_IN_SUB = """
    SELECT n.n_name, COUNT(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_regionkey IN (
      SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE')
    )
    GROUP BY n.n_name
"""


@query("sql_in_subquery", oracle=_SQL_IN_SUB, tags=("sql", "subquery", "semi"))
def sql_in_subquery(spark, sf_dir):
    """IN <subquery> — compiled to a left-semi join against the (tiny,
    broadcast) region keys."""
    _views(spark, sf_dir, "supplier", "nation", "region")
    return spark.sql(_SQL_IN_SUB)


_SQL_CORRELATED_SCALAR = """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 2 * (
      SELECT AVG(o2.o_totalprice) FROM orders o2
      WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o.o_orderkey
"""


@query(
    "sql_correlated_scalar",
    oracle=_SQL_CORRELATED_SCALAR,
    tags=("sql", "subquery", "correlated"),
)
def sql_correlated_scalar(spark, sf_dir):
    """Correlated scalar subquery: orders more than 2x their customer's
    average — decorrelated by Catalyst into one aggregate per c_custkey
    plus an equi-join (one shuffle, not O(n) subquery executions).

    Determinism note: AVG is a double fold, but each engine compares a
    row only against its own group's AVG with a strict 2x margin — no
    fixture row sits within float-noise of the boundary, which the oracle
    hash-match itself certifies."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SQL_CORRELATED_SCALAR)


@query(
    "sql_pivot_events",
    oracle=f"""
    SELECT user_id % 10 AS cohort,
           {", ".join(f"COUNT(CASE WHEN event_type = '{e}' THEN 1 END) AS {e}" for e in _EVENT_TYPES)}
    FROM events
    GROUP BY cohort
    """,
    tags=("sql", "pivot"),
)
def sql_pivot_events(spark, sf_dir):
    """PIVOT: event counts per user cohort, one column per event type.
    Spark's PIVOT clause with an explicit IN list is a single hash
    aggregate over (cohort) with conditional counters — no per-value
    passes; the explicit value list is what keeps it one-pass (an
    inferred list would need a distinct-scan first)."""
    _views(spark, sf_dir, "events")
    in_list = ", ".join(f"'{e}' AS {e}" for e in _EVENT_TYPES)
    return spark.sql(f"""
        SELECT * FROM (
          SELECT user_id % 10 AS cohort, event_type FROM events
        )
        PIVOT (COUNT(1) FOR event_type IN ({in_list}))
    """)


_SQL_NOT_IN = """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE c.c_nationkey NOT IN (
      SELECT n.n_nationkey FROM nation n
      WHERE n.n_regionkey = 0 AND n.n_nationkey IS NOT NULL
    )
    GROUP BY c.c_mktsegment
"""


@query("sql_not_in_subquery", oracle=_SQL_NOT_IN, tags=("sql", "subquery", "anti", "null"))
def sql_not_in_subquery(spark, sf_dir):
    """NOT IN <subquery> — compiled to a null-aware anti join. The
    explicit IS NOT NULL guard in the subquery is load-bearing semantics,
    not style: one NULL in a NOT IN list makes EVERY row's predicate
    UNKNOWN and the result empty, the classic silent-data-loss trap. The
    guard pins the well-defined variant in both engines."""
    _views(spark, sf_dir, "customer", "nation")
    return spark.sql(_SQL_NOT_IN)


@query(
    "sql_recursive_hierarchy",
    oracle="""
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS start_key, p_partkey AS cur, 0 AS depth
      FROM part WHERE p_size = 1
      UNION ALL
      SELECT start_key, cur // 2, depth + 1 FROM walk WHERE cur > 1
    )
    SELECT start_key, MAX(depth) AS chain_len, COUNT(*) AS n_nodes
    FROM walk GROUP BY start_key ORDER BY start_key
    """,
    tags=("sql", "recursive", "cte"),
)
def sql_recursive_hierarchy(spark, sf_dir):
    """Recursive CTE (Spark 4's WITH RECURSIVE): walk each part key up a
    synthetic binary-tree hierarchy (k → k div 2 → … → 1), reporting
    chain length — the BOM/org-chart traversal shape. Each recursion
    step is one self-join under the hood, so depth is bounded by
    log₂(max key): ~40 iterations even at trillion-row key spaces, each
    a shuffle whose frontier shrinks as chains terminate. Integer
    division spells ``div`` in Spark and ``//`` in DuckDB (plain ``/``
    would promote to double in both)."""
    _views(spark, sf_dir, "part")
    return spark.sql("""
        WITH RECURSIVE walk AS (
          SELECT p_partkey AS start_key, p_partkey AS cur, 0 AS depth
          FROM part WHERE p_size = 1
          UNION ALL
          SELECT start_key, cur div 2, depth + 1 FROM walk WHERE cur > 1
        )
        SELECT start_key, MAX(depth) AS chain_len, COUNT(*) AS n_nodes
        FROM walk GROUP BY start_key ORDER BY start_key
    """)


@query(
    "sql_ddl_dml",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice', 'revenue')}
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    tags=("sql", "ddl", "dml"),
)
def sql_ddl_dml(spark, sf_dir):
    """SQL DDL/DML front door: CREATE TABLE ... USING parquet LOCATION
    (the catalog analog of the reference's create+mkdirs path,
    CephRgwFileSystem.java:216-233), INSERT OVERWRITE from a SELECT
    (idempotent under bench re-runs, unlike INSERT INTO's append), and
    an aggregate read-back through the session catalog. The external
    LOCATION keeps data ownership with the path — DROP TABLE removes
    only metadata, exactly the object-store-friendly contract."""
    name = f"eng_ddl_orders_{scratch.tag(sf_dir)}"
    path = scratch.path(sf_dir, "ddl_orders")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_src_ddl")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"""CREATE TABLE {name} (
              o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE
            ) USING parquet LOCATION '{path}'"""
    )
    spark.sql(
        f"""INSERT OVERWRITE {name}
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM orders_src_ddl WHERE o_orderpriority = '1-URGENT'"""
    )
    shift = 10**6
    return spark.sql(
        f"""SELECT o_orderstatus, COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice * {shift}.0) AS BIGINT)) AS DOUBLE)
                     / {shift}.0 AS revenue
            FROM {name}
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus"""
    )


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) c
    ORDER BY n.n_name, c.c_acctbal DESC, c.c_name
    """,
    tags=("sql", "lateral", "topk"),
)
def sql_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery with per-group ORDER BY ... LIMIT —
    the SQL-standard spelling of top-k per group. Catalyst decorrelates
    the lateral into a join + per-group limit over the grouped side (no
    per-row re-execution); the window formulation (`win_topk_per_group`)
    remains the explicitly-scalable DataFrame twin, this entry pins the
    SQL front door."""
    _views(spark, sf_dir, "nation", "customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, c_acctbal FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) c
        ORDER BY n.n_name, c.c_acctbal DESC, c.c_name
        """
    )


@query(
    "sql_modern_syntax",
    oracle="""
    SELECT o_orderstatus,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
           COUNT(*) AS n_orders,
           COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS big_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("sql", "modern", "filter-clause"),
)
def sql_modern_syntax(spark, sf_dir):
    """Modern SQL idioms through the front door: GROUP BY ALL (group on
    every non-aggregate select item), ORDER BY ALL (total order over
    the output columns — a free determinism guarantee for the hash
    compare), and the standard FILTER (WHERE ...) clause on
    aggregates (conditional aggregation without CASE scaffolding).
    Catalyst expands these to the same grouped aggregate as the
    explicit spelling — syntax sugar, identical physical plan, so
    every aggregate scale note applies unchanged."""
    _views(spark, sf_dir, "orders")
    return spark.sql("""
        SELECT o_orderstatus,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
               COUNT(*) AS n_orders,
               COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_totalprice > 200000) AS big_cents
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """)


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE tree AS (
      SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
      UNION ALL
      SELECT c.c_custkey, t.depth + 1
      FROM customer c JOIN tree t ON c.c_custkey // 2 = t.node
      WHERE c.c_custkey > 1
    )
    SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_nodes,
           MIN(node) AS min_node, MAX(node) AS max_node
    FROM tree GROUP BY depth ORDER BY depth
    """,
    tags=("sql", "recursive", "hierarchy"),
)
def sql_recursive_cte(spark, sf_dir):
    """Recursive CTE (new in Spark 4) walking an implicit binary
    hierarchy over the customer key space (parent = key div 2 — the
    org-chart / BOM traversal shape without needing a parent column):
    per-level reachability from the root with depth accounting.

    Scale shape: each recursion level is ONE equi-join between the
    current frontier and the dimension — the same per-iteration plan the
    DataFrame loop in ``dedup_cluster_cc`` uses, but driven by the
    engine's recursion operator; depth is logarithmic in the key space,
    so the number of iterations is bounded (~log2 |customer|), and every
    level's join key is the 8-byte node id."""
    _views(spark, sf_dir, "customer")
    return spark.sql("""
        WITH RECURSIVE tree AS (
          SELECT CAST(1 AS BIGINT) AS node, CAST(0 AS BIGINT) AS depth
          UNION ALL
          SELECT c.c_custkey, t.depth + 1
          FROM customer c JOIN tree t ON c.c_custkey DIV 2 = t.node
          WHERE c.c_custkey > 1
        )
        SELECT depth, COUNT(*) AS n_nodes,
               MIN(node) AS min_node, MAX(node) AS max_node
        FROM tree GROUP BY depth ORDER BY depth
    """)


@query(
    "sql_analyze_cbo_stats",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_ndv,
           CAST(MIN(o_custkey) AS VARCHAR) AS exact_min,
           CAST(MAX(o_custkey) AS VARCHAR) AS exact_max,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_nulls,
           TRUE AS ndv_within_10pct, TRUE AS minmax_consistent, TRUE AS nulls_exact
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(MIN(o_orderstatus) AS VARCHAR),
           CAST(MAX(o_orderstatus) AS VARCHAR),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           TRUE, TRUE, TRUE
    FROM orders
    ORDER BY column_name
    """,
    tags=("sql", "cbo", "statistics", "catalog"),
)
def sql_analyze_cbo_stats(spark, sf_dir):
    """The cost-based-optimizer statistics surface: ANALYZE TABLE ...
    COMPUTE STATISTICS FOR COLUMNS writes per-column NDV (HLL++ sketch),
    min/max, and null counts into the catalog — the numbers Catalyst's
    CBO uses for join reordering and broadcast decisions. The query
    registers an EXTERNAL table over the orders parquet (metadata only,
    data stays in place — the object-store contract), analyzes it, reads
    the stats back via DESC EXTENDED, and emits each column's exact
    truth plus verdicts: catalog NDV within a 2-sigma band of the HLL++ default accuracy (10%), min/max
    and null counts exactly right.

    Scale shape: ANALYZE itself is one partial-merged aggregate per
    column (HLL sketches merge associatively — same property as
    `agg_hll_sketch_merge`); the stats readback is catalog METADATA on
    the driver, bounded by column count, not data. The oracle carries
    the exact sides + TRUE verdicts, so the sketch's correctness is
    hash-checked without demanding bit-equality of the sketch."""
    import os

    tbl = "cbo_stats_orders"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    loc = os.path.join(sf_dir, "orders.parquet")
    spark.sql(f"CREATE TABLE {tbl} USING parquet LOCATION '{loc}'")
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS o_custkey, o_orderstatus"
    )

    def info(name):
        return F.max(F.when(F.col("info_name") == name, F.col("info_value")))

    o = t(spark, sf_dir, "orders")
    per_col = []
    for col in ("o_custkey", "o_orderstatus"):
        # DESC EXTENDED returns the column's catalog stats as a tiny
        # (info_name, info_value) relation — folded to one row, never
        # collected driver-side
        cat = spark.sql(f"DESC EXTENDED {tbl} {col}").agg(
            info("distinct_count").cast("long").alias("ndv_cat"),
            info("min").alias("mn_cat"),
            info("max").alias("mx_cat"),
            info("num_nulls").cast("long").alias("nulls_cat"),
        )
        ex = o.agg(
            F.countDistinct(col).alias("exact_ndv"),
            F.min(col).cast("string").alias("exact_min"),
            F.max(col).cast("string").alias("exact_max"),
            F.coalesce(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)), F.lit(0)
            ).alias("exact_nulls"),
        )
        minmax_ok = F.when(
            F.col("mn_cat") == "NULL", F.col("mx_cat") == "NULL"
        ).otherwise(
            (F.col("mn_cat") == F.col("exact_min"))
            & (F.col("mx_cat") == F.col("exact_max"))
        )
        per_col.append(
            ex.crossJoin(F.broadcast(cat)).select(
                F.lit(col).alias("column_name"),
                "exact_ndv",
                "exact_min",
                "exact_max",
                "exact_nulls",
                (
                    F.abs(F.col("ndv_cat") - F.col("exact_ndv"))
                    <= 0.10 * F.col("exact_ndv")
                ).alias("ndv_within_10pct"),
                minmax_ok.alias("minmax_consistent"),
                (F.col("nulls_cat") == F.col("exact_nulls")).alias("nulls_exact"),
            )
        )
    out = per_col[0].unionByName(per_col[1]).orderBy("column_name")
    return out


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("sql", "modern", "parameterized"),
)
def sql_execute_immediate(spark, sf_dir):
    """Parameterized SQL through the front door — Spark 4's EXECUTE
    IMMEDIATE with a USING bind parameter: the query text is a value,
    the parameter travels out-of-band (never string-interpolated),
    which is the injection-safe template pattern BI layers and job
    schedulers emit. Catalyst plans the bound statement exactly like
    the inline spelling — same aggregate, same pushdown — so the
    oracle is the plain query."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
                  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM orders WHERE o_orderstatus = ?
           GROUP BY o_orderpriority ORDER BY o_orderpriority'
          USING 'F'
        """
    )


@query(
    "sql_create_function",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 150000 THEN 'mid'
                ELSE 'low' END AS tier
    FROM orders WHERE o_orderkey % 101 = 0
    ORDER BY o_orderkey
    """,
    tags=("sql", "modern", "sql-udf"),
)
def sql_create_function(spark, sf_dir):
    """SQL-defined scalar functions (Spark 4 CREATE FUNCTION ... RETURN
    expr) — reusable business logic DECLARED IN SQL and inlined by
    Catalyst at plan time (unlike Python UDFs these stay inside
    whole-stage codegen and keep pushdown/codegen intact — the right
    home for shared derivations like money-to-cents and tiering). Two
    functions are created and composed; the oracle is the inlined
    expression, proving the expansion is exact."""
    _views(spark, sf_dir, "orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION to_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(ROUND(x * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_tier(x DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN x >= 300000 THEN 'high' "
        "WHEN x >= 150000 THEN 'mid' ELSE 'low' END"
    )
    return spark.sql(
        """
        SELECT o_orderkey, to_cents(o_totalprice) AS cents,
               price_tier(o_totalprice) AS tier
        FROM orders WHERE o_orderkey % 101 = 0
        ORDER BY o_orderkey
        """
    )


@query(
    "sql_session_variables",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_above,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents_above
    FROM orders WHERE o_totalprice > 250000.0
    """,
    tags=("sql", "modern", "session-variables"),
)
def sql_session_variables(spark, sf_dir):
    """Session variables (Spark 4 DECLARE VARIABLE / SET VAR) — typed,
    session-scoped state referenced directly in queries: the
    scripting-style parameter mechanism for multi-statement SQL jobs
    (thresholds, run dates) without client-side string building.
    Catalyst folds the variable reference to its constant at plan time,
    so pushdown still reaches the scan; the oracle inlines the same
    literal."""
    _views(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR price_floor = 250000.0")
    return spark.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_above,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents_above
        FROM orders WHERE o_totalprice > price_floor
        """
    )


@query(
    "sql_pipe_syntax",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("sql", "pipe-syntax", "spark4"),
)
def sql_pipe_syntax(spark, sf_dir):
    """SQL pipe syntax (Spark 4.0's `|>` operators, from the SQL:2023 /
    GoogleSQL pipe-query proposal) — the linear top-to-bottom query
    form: FROM … |> WHERE … |> EXTEND … |> AGGREGATE … GROUP BY … |>
    ORDER BY, each stage consuming the previous one's relation exactly
    like the DataFrame API. Catalyst resolves pipes into the identical
    logical plan as the nested-SELECT oracle, so this is a pure parser
    surface — same pushdown, same codegen, same exact-cents aggregate.
    """
    _views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |> EXTEND CAST(ROUND(l_extendedprice * (1 - l_discount) * 1000000.0)
                       AS BIGINT) AS rev_micros
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_lines,
                     CAST(CAST(SUM(rev_micros) AS BIGINT) AS DOUBLE)
                       / 1000000.0 AS revenue
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_lines, revenue
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("sql", "identifier", "parameterized", "spark4"),
)
def sql_identifier_clause(spark, sf_dir):
    """IDENTIFIER() clause — SQL-injection-safe DYNAMIC table/column
    names (Spark 3.4+): the table and the group-by column arrive as
    bound string parameters, and `IDENTIFIER(:tbl)` / `IDENTIFIER(:col)`
    resolves them as identifiers, not as spliceable SQL text — the
    front-door answer to the string-formatting template queries that
    `sql_execute_immediate` parameterizes by VALUE. A hostile
    `col = 'x; DROP TABLE'` fails identifier resolution instead of
    executing. The resolved plan is byte-identical to the static query
    — parameterization is purely a binding-time feature."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:col) AS o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:col)
        ORDER BY IDENTIFIER(:col)
        """,
        args={"tbl": "orders", "col": "o_orderpriority"},
    )


@query(
    "sql_group_by_all",
    oracle=f"""
    SELECT o_orderstatus,
           YEAR(o_orderdate) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('o_totalprice', 'revenue')}
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("sql", "group-by-all", "spark4"),
)
def sql_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` / ``ORDER BY ALL`` — the analyst-ergonomics
    surface both Spark 4 and DuckDB resolve identically (group on every
    non-aggregate select item, order by the full output tuple). The
    oracle runs the LITERAL same text, so the check proves the two
    engines' ALL-resolution agrees, not just the aggregate values.
    Resolution happens at analysis time — the physical plan is the
    ordinary partial-merged hash aggregate, nothing new at scale."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderstatus,
               YEAR(o_orderdate) AS yr,
               CAST(COUNT(*) AS BIGINT) AS n,
               {sql_dsum('o_totalprice', 'revenue')}
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@query(
    "sql_named_parameters",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           {sql_dsum('o_totalprice', 'revenue_above')}
    FROM orders
    WHERE o_totalprice > 250000.0 AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("sql", "parameterized", "spark4"),
)
def sql_named_parameters(spark, sf_dir):
    """Parameterized SQL with named markers — ``spark.sql(text,
    args={...})`` binds ``:floor`` / ``:since`` as LITERALS at analysis
    time (never string interpolation), Spark's injection-safe surface
    for templated analytics alongside `sql_identifier_clause` (which
    binds NAMES) and `sql_session_variables` (session state). The
    oracle inlines the same constants; the hash match proves binding
    semantics, and the bound literal still reaches the parquet scan as
    a pushed filter (same plan as hand-inlined SQL)."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_above,
               {sql_dsum('o_totalprice', 'revenue_above')}
        FROM orders
        WHERE o_totalprice > :floor AND o_orderdate >= :since
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"floor": 250000.0, "since": "1996-01-01 00:00:00"},
    )


@query(
    "sql_listagg_within_group",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
             AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("sql", "listagg", "spark4"),
)
def sql_listagg_within_group(spark, sf_dir):
    """``LISTAGG(DISTINCT ... ) WITHIN GROUP (ORDER BY ...)`` — the ANSI
    ordered string-aggregation surface added in Spark 4 (DuckDB's
    spelling is ``string_agg(DISTINCT ... ORDER BY ...)``): the ordered
    DISTINCT form is safe at scale because the aggregation state is the
    distinct VALUE SET (spec-bounded here: 3 statuses), not the group's
    rows — unlike a raw listagg over an unbounded group, which is the
    same trap the BOUNDED_COLLECT gate polices for collect_list."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, ',')
                 WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


@query(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (o_orderpriority, o_custkey) FROM orders
    WHERE o_totalprice > 400000 ORDER BY o_orderkey
    """,
    tags=("sql", "projection", "spark4"),
)
def sql_star_except(spark, sf_dir):
    """``SELECT * EXCEPT (cols)`` — the wide-table projection idiom
    (DuckDB spells it ``EXCLUDE``): project everything but the named
    columns without enumerating a hundred survivors by hand. Catalyst
    expands the star at analysis time, so column pruning sees a plain
    explicit projection — the parquet scan reads only the surviving
    columns (ReadSchema drops o_orderpriority/o_custkey), exactly as if
    they were typed out; nothing about the sugar weakens pushdown at
    100 TB."""
    _views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT * EXCEPT (o_orderpriority, o_custkey) FROM orders
        WHERE o_totalprice > 400000 ORDER BY o_orderkey
        """
    )


_SQL_ORDER_BY_ALL = """
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus, o_orderpriority ORDER BY ALL
"""


@query("sql_order_by_all", oracle=_SQL_ORDER_BY_ALL, tags=("sql", "sort", "spark4"))
def sql_order_by_all(spark, sf_dir):
    """``ORDER BY ALL`` (Spark 4 / DuckDB shared shorthand, the sort
    complement of the already-declared ``GROUP BY ALL``): sort by every
    select-list column left-to-right. Resolves at analysis time to an
    ordinary multi-key Sort over the aggregated (status, priority)
    relation — 15 rows here, and at any scale a total sort AFTER the
    partial-aggregated groupBy, never over the fact table."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SQL_ORDER_BY_ALL)


_UNPIVOT_INNER = f"""
  SELECT l_returnflag,
         {sql_dsum("l_quantity", "sum_qty")},
         {sql_dsum("l_extendedprice", "sum_price", scale=2)},
         {sql_dsum("l_discount", "sum_disc")}
  FROM lineitem GROUP BY l_returnflag
"""

_SQL_UNPIVOT = f"""
    SELECT l_returnflag, metric, val
    FROM ({_UNPIVOT_INNER})
    UNPIVOT (val FOR metric IN (sum_qty, sum_price, sum_disc))
    ORDER BY l_returnflag, metric
"""


@query("sql_unpivot_clause", oracle=_SQL_UNPIVOT, tags=("sql", "unpivot", "reshape"))
def sql_unpivot_clause(spark, sf_dir):
    """The ANSI ``UNPIVOT`` clause — wide-to-long reshaping as a
    first-class relational operator (the SQL-text twin of the
    ``stack()`` expression declared as `fn_unpivot_stack`): three
    fixed-point per-flag sums fold into (flag, metric, value) rows.
    Both engines share the standard syntax. Catalyst compiles UNPIVOT
    to an Expand node — k output rows per input row produced map-side
    with NO shuffle and NO join; unpivoting an aggregated relation (as
    here) costs O(groups·k), and unpivoting a fact table would stream
    through the same Expand at scan rate, still shuffle-free."""
    _views(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_UNPIVOT)


_SQL_NAMED_WINDOW = """
    SELECT o_orderstatus, epoch_day,
           CAST(SUM(rev_c) OVER w AS BIGINT) AS cum_rev_c,
           CAST(COUNT(*) OVER w AS BIGINT) AS cum_days,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
    FROM (
      SELECT o_orderstatus,
             CAST(DATEDIFF(CAST(o_orderdate AS DATE), DATE '1970-01-01') AS BIGINT)
               AS epoch_day,
             SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS rev_c
      FROM orders WHERE o_orderdate < TIMESTAMP '1993-01-01 00:00:00'
      GROUP BY 1, 2
    ) daily
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY epoch_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_orderstatus, epoch_day
"""


@query(
    "sql_named_window",
    oracle="""
    SELECT o_orderstatus, epoch_day,
           CAST(SUM(rev_c) OVER w AS BIGINT) AS cum_rev_c,
           CAST(COUNT(*) OVER w AS BIGINT) AS cum_days,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn
    FROM (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS rev_c
      FROM orders WHERE o_orderdate < TIMESTAMP '1993-01-01 00:00:00'
      GROUP BY 1, 2
    ) daily
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY epoch_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("sql", "window-clause"),
)
def sql_named_window(spark, sf_dir):
    """The ANSI ``WINDOW`` clause — one NAMED window definition shared
    by three window functions (running sum, running count, row
    number), the SQL-text complement of the DataFrame `Window` specs
    the win_ family builds. Catalyst resolves all three over the same
    named spec into ONE Window operator with a single sort+partition
    pass — the de-duplication the clause exists for; three inline OVER
    copies would resolve identically, so the clause is pure,
    plan-neutral ergonomics. Exact cents through the frame; one sort
    per status partition over the calendar-bounded daily relation."""
    _views(spark, sf_dir, "orders")
    return spark.sql(_SQL_NAMED_WINDOW)


@query(
    "sql_transpose",
    oracle="""
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
      FROM orders GROUP BY o_orderstatus
    )
    SELECT 'n_orders' AS key,
           CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN n_orders END) AS BIGINT) AS F,
           CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN n_orders END) AS BIGINT) AS O,
           CAST(MAX(CASE WHEN o_orderstatus = 'P' THEN n_orders END) AS BIGINT) AS P
    FROM agg
    UNION ALL
    SELECT 'sum_cents' AS key,
           CAST(MAX(CASE WHEN o_orderstatus = 'F' THEN sum_cents END) AS BIGINT),
           CAST(MAX(CASE WHEN o_orderstatus = 'O' THEN sum_cents END) AS BIGINT),
           CAST(MAX(CASE WHEN o_orderstatus = 'P' THEN sum_cents END) AS BIGINT)
    FROM agg
    ORDER BY key
    """,
    tags=("sql", "modern", "transpose"),
)
def sql_transpose(spark, sf_dir):
    """`DataFrame.transpose()` (Spark 4): rows↔columns flip with the
    first column promoted to headers — the report-shaping primitive
    (metrics as rows, groups as columns) that previously needed a
    hand-written UNPIVOT→PIVOT pair; the oracle IS that pair, so the
    hash match pins transpose ≡ unpivot∘pivot. Values share one type
    (long) as transpose requires; header columns come out in sorted
    order (F, O, P) per the documented contract.

    Scale: the input is the ≤3-row aggregate — transpose is a
    driver-shape operation over a bounded relation by construction
    (it collects headers), which is why the aggregate MUST come
    first; transposing a fact table is the anti-pattern this row's
    shape documents."""
    o = t(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )
    return agg.transpose().orderBy("key")
