"""Window-function family: ranking, lag/lead, running/rows frames, range
frames, top-k per group.

Scale posture: every window partitions on a real key (nation, user,
customer) — one shuffle per distinct partitioning, reused across functions
sharing the spec. No global (unpartitioned) windows anywhere: those
serialize the dataset through a single task at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.canonical import dsum, fixed, sql_fixed, sql_units, units
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.tables import order_bounded, t


@query(
    "win_ranking",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS seg_rank,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_mktsegment) AS seg_dense_rank,
           NTILE(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
    tags=("window",),
)
def win_ranking(spark, sf_dir):
    """row_number/ntile over a total order; rank/dense_rank over a
    tie-producing key (ranks are well-defined under ties)."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    wseg = Window.partitionBy("c_nationkey").orderBy("c_mktsegment")
    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(wseg).alias("seg_rank"),
        F.dense_rank().over(wseg).alias("seg_dense_rank"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "win_lag_lead",
    oracle="""
    SELECT user_id, event_id, event_type,
           LAG(value) OVER w AS prev_value,
           LAG(value, 2, -1.0) OVER w AS prev2_value,
           LEAD(event_type) OVER w AS next_type,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
)
def win_lag_lead(spark, sf_dir):
    """lag/lead with defaults + inter-event gap in exact integer µs."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
        F.lead("event_type").over(w).alias("next_type"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )


@query(
    "win_running_sum",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(SUM({sql_units("o_totalprice", 4)})
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
             / 10000.0 AS running_spend,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far
    FROM orders
    """,
    tags=("window", "frame"),
)
def win_running_sum(spark, sf_dir):
    """Running aggregate over an explicit ROWS frame (fixed-point sum for
    cross-engine determinism, same scheme as canonical.py)."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (fixed("o_totalprice", 4).over(w).cast("double") / 10000.0).alias("running_spend"),
        F.count(F.lit(1)).over(w).alias("n_so_far"),
    )


@query(
    "win_range_frame",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal,
           COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                          RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING) AS n_peers
    FROM customer
    """,
    tags=("window", "frame"),
)
def win_range_frame(spark, sf_dir):
    """RANGE frame over a value ordering: peers within ±500 of each
    customer's balance (count is tie-safe). PySpark's ``rangeBetween``
    only accepts integer offsets, so the double-valued frame is expressed
    through the SQL window syntax."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_nationkey",
        "c_custkey",
        "c_acctbal",
        F.expr(
            "count(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal "
            "RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)"
        ).alias("n_peers"),
    )


@query(
    "win_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    tags=("window", "topk"),
)
def win_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer. At scale Spark pushes a per-partition
    top-k (WindowGroupLimit) below the shuffle, so only ≤k rows per key
    per mapper move."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        ).filter(F.col("rn") <= 3)
    )


@query(
    "win_sessionize",
    oracle="""
    WITH flags AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
      FROM flags
    )
    SELECT user_id, session_no, COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, session_no
    """,
    tags=("window", "sessionize", "frame"),
)
def win_sessionize(spark, sf_dir):
    """Batch sessionization — the lag + gap-flag + running-sum idiom:
    a >30 min silence starts a new session; the running sum of new-session
    flags numbers sessions per user. Two window passes over the same
    (user_id | ts, event_id) order ⇒ ONE shuffle: Catalyst collapses both
    window operators onto one partitioning/ordering. The streaming twin is
    ``stream_session_window`` (session_window does this with state)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    flagged = e.withColumn(
        "is_new", F.when(gap_us.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    )
    sess = flagged.withColumn(
        "session_no", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
    )


@query(
    "win_distribution",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           ntile(5) OVER w AS bucket
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
    tags=("window", "distribution"),
)
def win_distribution(spark, sf_dir):
    """Distribution window functions: percent_rank ((rank-1)/(n-1)),
    cume_dist (rank/n), ntile — rank-based doubles are exact int ratios,
    so both engines agree bit-for-bit given the deterministic tie-break."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(5).over(w).alias("bucket"),
    )


@query(
    "win_gap_fill",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase' THEN value END AS purchase_value
      FROM events WHERE user_id % 10 = 3
    )
    SELECT user_id, event_id,
           LAST_VALUE(purchase_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS last_purchase_value
    FROM base
    """,
    tags=("window", "gap_fill", "ignore_nulls"),
)
def win_gap_fill(spark, sf_dir):
    """Fill-forward (gap fill): carry each user's last purchase value
    across their subsequent events — last_value with ignoreNulls over a
    running frame, the time-series imputation idiom. One shuffle on the
    entity key; the frame never materializes history (running state)."""
    e = t(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 3)
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@query(
    "win_first_last_nth",
    oracle="""
    SELECT DISTINCT o_custkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice) OVER w AS last_price,
           nth_value(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey
    """,
    tags=("window", "navigation"),
)
def win_first_last_nth(spark, sf_dir):
    """Window navigation functions — first/last/nth order value per
    customer over the full-partition frame (the default running frame
    would make last_value degenerate). The (date, key) ordering makes
    every navigation target unique, so DISTINCT collapses each
    partition's identical rows to one deterministic summary row."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


@query(
    "win_median_disc",
    oracle="""
    SELECT c_mktsegment, c_acctbal AS median_bal FROM (
      SELECT c_mktsegment, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    WHERE rn = (n + 1) // 2
    ORDER BY c_mktsegment
    """,
    tags=("window", "median", "percentile"),
)
def win_median_disc(spark, sf_dir):
    """Exact discrete median per group, computed portably: rank every row
    in its partition and keep the ⌈n/2⌉-th — no interpolation, so unlike
    ``percentile``/``quantile_cont`` there is no float formula to agree
    on across engines; the answer is an actual data value. One shuffle
    on the group key; at scale prefer this over a global sort-based
    median since each partition ranks independently."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wn = Window.partitionBy("c_mktsegment")
    return (
        c.select(
            "c_mktsegment",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("c_mktsegment", F.col("c_acctbal").alias("median_bal"))
        .orderBy("c_mktsegment")
    )


@query(
    "win_rolling_7day",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS epoch_day,
             SUM({sql_units("o_totalprice", 2)}) AS rev_c
      FROM orders
      WHERE o_orderdate < TIMESTAMP '1993-01-01 00:00:00'
      GROUP BY o_orderstatus, epoch_day
    )
    SELECT o_orderstatus,
           CAST(epoch_day AS BIGINT) AS epoch_day,
           CAST(SUM(rev_c) OVER (
             PARTITION BY o_orderstatus ORDER BY epoch_day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS rev_7day
    FROM daily
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("window", "range-frame", "time-rolling"),
)
def win_rolling_7day(spark, sf_dir):
    """Time-based rolling aggregate: 7-day trailing revenue per order
    status, as a RANGE frame over epoch-day — the frame includes value
    neighbors (days), not row neighbors, so gaps in the calendar shrink
    the window like a real trailing-week metric must. Everything inside
    the frame is an INTEGER sum of cent-scaled revenues (order-free;
    frame-sum order over doubles is engine-specific), downscaled once
    after the window. Pre-aggregated to one row per (status, day), so
    the window input is calendar-bounded regardless of |orders|."""
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1993-01-01").cast("timestamp_ntz")
    )
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy("epoch_day")
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "o_orderstatus",
            "epoch_day",
            (F.sum("rev_c").over(w).cast("double") / 100.0).alias("rev_7day"),
        )
        .orderBy("o_orderstatus", "epoch_day")
    )


@query(
    "win_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             {sql_fixed("o_totalprice", 2)}
               AS cents
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS total
      FROM daily
    ),
    dev AS (
      SELECT day, cents, n * cents - total AS dev
      FROM daily, tot
    ),
    cusum AS (
      SELECT day, cents,
             CAST(SUM(dev) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cusum
      FROM dev
    )
    SELECT day, cents, cusum,
           CAST(row_number() OVER (ORDER BY abs(cusum) DESC, day) AS INTEGER)
             AS peak_rank
    FROM cusum
    QUALIFY peak_rank <= 5
    ORDER BY peak_rank
    """,
    tags=("window", "changepoint", "cusum"),
)
def win_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint scan over the daily revenue series: deviation
    from the global mean is kept INTEGER by scaling (dev = n·xᵢ −
    total — no division, no float), the running sum is a rows-frame
    window over the per-DAY relation (bounded by the calendar, the
    same safety argument as win_cumulative_distinct), and the top-5
    |CUSUM| days are the changepoint candidates — where the series'
    level shifted. Exact integers end to end; this is the drift
    detector a data-quality monitor runs on every ingest metric."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(fixed("o_totalprice", 2).alias("cents"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day", "cents", (F.col("n") * F.col("cents") - F.col("total")).alias("dev")
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cusum = dev.select(
        "day", "cents", F.sum("dev").over(wc).cast("long").alias("cusum")
    )
    wr = Window.orderBy(F.abs("cusum").desc(), "day")
    return (
        cusum.withColumn("peak_rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("peak_rank") <= 5)
        .orderBy("peak_rank")
    )


@query(
    "win_bollinger_bands",
    oracle=f"""
    WITH q AS (
      SELECT user_id, ts, event_id, value,
             {sql_units("value", 6)} AS qv
      FROM events
    ),
    f AS (
      SELECT user_id, ts, event_id, value,
             CAST(SUM(qv) OVER w AS BIGINT) AS s1,
             CAST(SUM(qv * qv) OVER w AS HUGEINT) AS s2,
             COUNT(*) OVER w AS n
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, value,
           ROUND(s1 / 1000000.0 / n, 6) AS roll_mean,
           ROUND(SQRT(GREATEST(0.0, (CAST(s2 AS DOUBLE) / 1e12 - (s1 / 1000000.0)
                       * (s1 / 1000000.0) / n) / n)), 6) AS roll_std,
           CAST(n AS BIGINT) AS n_window,
           CAST(value > s1 / 1000000.0 / n
                + 2.0 * SQRT(GREATEST(0.0, (CAST(s2 AS DOUBLE) / 1e12
                              - (s1 / 1000000.0) * (s1 / 1000000.0) / n) / n))
                AS BOOLEAN) AS above_upper
    FROM f
    """,
    tags=("window", "rolling", "bollinger", "frame"),
)
def win_bollinger_bands(spark, sf_dir):
    """Rolling mean ± volatility bands (Bollinger) per user over a
    7-event frame, with the breakout flag (value above mean + 2σ) — the
    rolling anomaly gate for metric streams.

    Frame sums run over FIXED-POINT integers (value·10⁶ as long, its
    square as a 128-bit-safe product), because engines are free to
    evaluate a sliding SUM over doubles in any association (segment
    trees vs running adds) — integer frame sums are exact under every
    evaluation strategy, so mean and population σ are bit-identical
    cross-engine after one final rounding. One window shuffle
    (partitioned by user_id); both SUMs and the COUNT share the frame
    spec, so Catalyst computes them in a single pass."""
    e = t(spark, sf_dir, "events")
    q = e.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        units("value", 6).alias("qv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    s1 = F.sum("qv").over(w)
    # qv ~ 5e8 max; qv² ~ 2.5e17 × 7 rows ≈ 1.75e18 < 2^63 — long-safe
    s2 = F.sum(F.col("qv") * F.col("qv")).over(w)
    n = F.count(F.lit(1)).over(w)
    mean = s1 / F.lit(1e6) / n
    var = (s2.cast("double") / F.lit(1e12) - (s1 / F.lit(1e6)) * (s1 / F.lit(1e6)) / n) / n
    std = F.sqrt(F.greatest(F.lit(0.0), var))
    return q.select(
        "user_id",
        "event_id",
        "value",
        F.round(mean, 6).alias("roll_mean"),
        F.round(std, 6).alias("roll_std"),
        n.cast("long").alias("n_window"),
        (F.col("value") > mean + 2.0 * std).alias("above_upper"),
    )


@query(
    "win_resample_interpolate",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             (CAST(SUM({sql_units("value", 6)}) AS DOUBLE) / 1000000.0) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
    spine AS (
      SELECT et.event_type, CAST(g.s AS DATE) AS d
      FROM (SELECT DISTINCT event_type FROM daily) et,
           bounds b,
           (SELECT unnest(generate_series(
              (SELECT lo FROM bounds), (SELECT hi FROM bounds),
              INTERVAL 1 DAY)) AS s) g
    ),
    joined AS (
      SELECT s.event_type, s.d, dl.v,
             CASE WHEN dl.v IS NOT NULL THEN 1 ELSE 0 END AS present
      FROM spine s LEFT JOIN daily dl USING (event_type, d)
    ),
    carried AS (
      SELECT *,
             LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             FIRST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    )
    SELECT event_type, d, present,
           ROUND(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (date_diff('day', pd, d)
                                    / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END, 6) AS value_filled
    FROM carried
    """,
    tags=("window", "resample", "interpolate", "gap-fill"),
)
def win_resample_interpolate(spark, sf_dir):
    """Calendar resampling with LINEAR interpolation: per event type,
    the daily value total on a complete day spine, missing days filled
    by interpolating between the nearest present neighbors (edges
    extend the nearest value) — the time-series regularization step
    before any rolling statistic or forecast, and strictly stronger
    than zero/forward fill (`win_gap_fill`), which biases rolling means
    at gaps.

    Scale shape: the spine is (distinct types × calendar days) —
    calendar-bounded, not data-bounded; the four carry windows share
    two sorts per type partition (forward + backward). Daily totals use
    fixed-point sums; the interpolation fraction divides exact day
    counts, so filled values are bit-identical cross-engine after one
    rounding."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        dsum("value", "v")
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("d"),
        )
    )
    joined = spine.join(daily, ["event_type", "d"], "left").select(
        "event_type", "d", "v", F.col("v").isNotNull().cast("int").alias("present")
    )
    wb = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wf = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        0, Window.unboundedFollowing
    )
    dcol = F.when(F.col("v").isNotNull(), F.col("d"))
    carried = joined.select(
        "event_type",
        "d",
        "v",
        "present",
        F.last("v", ignorenulls=True).over(wb).alias("pv"),
        F.last(dcol, ignorenulls=True).over(wb).alias("pd"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(dcol, ignorenulls=True).over(wf).alias("nd"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                F.datediff("d", "pd")
                / F.datediff("nd", "pd").cast("double")
            )
        )
    )
    return carried.select(
        "event_type", "d", "present", F.round(interp, 6).alias("value_filled")
    )


@query(
    "win_rolling_quantile",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             {sql_fixed("value", 6)} AS v6
      FROM events GROUP BY 1, 2
    ),
    f AS (
      SELECT event_type, d,
             list_sort(list(v6) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
      FROM daily
    )
    SELECT event_type, d,
           CAST(arr[(len(arr) - 1) // 2 + 1] + arr[len(arr) // 2 + 1] AS DOUBLE)
             / 2000000.0 AS rolling_median,
           CAST(len(arr) AS BIGINT) AS n_in_frame
    FROM f
    ORDER BY event_type, d
    """,
    tags=("window", "quantile", "rolling"),
)
def win_rolling_quantile(spark, sf_dir):
    """Rolling MEDIAN over a trailing 7-row calendar frame per event
    type — the robust centerline behind anomaly bands where the rolling
    MEAN (`win_rolling_7day`, Bollinger) gets dragged by spikes. The
    frame median follows the repo's fixed-point convention (the
    agg_exact_* family): the ≤7 daily totals stay exact integer v6,
    the frame median is the exact integer SUM of the two middle order
    statistics (equal for odd frames), and ONE final division by 2e6
    produces the double — no interpolated percentile, no ROUND on
    magnitudes where HALF_UP and multiply-based rounding diverge
    cross-engine. Exact while 2·Σday |v6| < 2^53 (~±4.5e15 micro-units
    per daily total). Windows partition by event type over calendar
    days — both bounded by time, not corpus size; the only data-sized
    work is the one map-combined daily aggregate."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(fixed("value", 6).alias("v6"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "event_type",
            "d",
            F.array_sort(F.collect_list("v6").over(w)).alias("arr"),
        )
        .selectExpr(
            "event_type",
            "d",
            "CAST(element_at(arr, CAST((size(arr) - 1) div 2 AS INT) + 1)"
            "   + element_at(arr, CAST(size(arr) div 2 AS INT) + 1) AS DOUBLE)"
            " / 2000000.0 AS rolling_median",
            "CAST(size(arr) AS BIGINT) AS n_in_frame",
        )
        .orderBy("event_type", "d")
    )


_SESS_GAP_MIN = 30  # idle gap that opens a new session
_SESS_CAP_H = 2  # hard cap: split sessions longer than this


@query(
    "win_sessionize_capped",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                    >= {_SESS_GAP_MIN * 60 * 1000000}
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    capped AS (
      SELECT user_id, ts, sid,
             (epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id, sid))
               // {_SESS_CAP_H * 3600 * 1000000} AS sub
      FROM numbered
    )
    SELECT user_id, CAST(sid AS BIGINT) AS sid, CAST(sub AS BIGINT) AS sub,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM capped
    GROUP BY user_id, sid, sub
    ORDER BY user_id, sid, sub
    """,
    tags=("window", "session", "capped"),
)
def win_sessionize_capped(spark, sf_dir):
    """Sessionization with BOTH boundary rules real trackers use: an
    idle gap ≥ {_SESS_GAP_MIN} min opens a new session (the
    gaps-and-islands running flag-sum), AND any session that outlives
    the {_SESS_CAP_H}-hour hard cap is SPLIT into fixed-width
    sub-sessions by integer division of the offset from session start —
    the rule that keeps a bot's never-idle clickstream from becoming
    one unbounded session (exactly the per-key state bound a streaming
    sessionizer enforces with a max-duration trigger). Session ids are
    (sid, sub) composites, fully deterministic via the (ts, event_id)
    tie-broken ordering; the offset division is exact integer µs.

    Scale shape: every window partitions BY USER — the islands flag,
    the running sum, and the per-session min all ride the same user
    partitioning (one exchange, three window functions), then one
    aggregate on (user, sid, sub). Nothing global anywhere."""
    e = t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(wu).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wu))
                >= _SESS_GAP_MIN * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("new_session")
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    ws = Window.partitionBy("user_id", "sid")
    capped = numbered.select(
        "user_id",
        "ts",
        "sid",
        F.expr(
            f"(unix_micros(ts) - min(unix_micros(ts)) OVER"
            f" (PARTITION BY user_id, sid))"
            f" div {_SESS_CAP_H * 3600 * 1000000}"
        ).alias("sub"),
    )
    return (
        capped.groupBy("user_id", "sid", "sub")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("sid").cast("long").alias("sid"),
            F.col("sub").cast("long").alias("sub"),
            "session_start",
            "session_end",
            "n_events",
        )
        .orderBy("user_id", "sid", "sub")
    )


@query(
    "win_time_weighted_avg",
    oracle=f"""
    WITH seq AS (
      SELECT event_type,
             {sql_units("value", 6)} AS v6,
             epoch_us(LEAD(ts) OVER (PARTITION BY event_type
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS w_us
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_intervals,
             SUM(CAST(v6 AS HUGEINT) * w_us) AS sv,
             CAST(SUM(w_us) AS BIGINT) AS sw
      FROM seq WHERE w_us IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, n_intervals,
           CAST(sv AS DOUBLE) / CAST(sw AS DOUBLE) / 1000000.0 AS twap
    FROM m
    ORDER BY event_type
    """,
    tags=("window", "timeseries", "twap"),
)
def win_time_weighted_avg(spark, sf_dir):
    """TIME-weighted average value per event type (TWAP): each
    observation holds until the next one arrives, so its weight is the
    exact µs gap to the next event (lead within type) — the estimator
    that is invariant to sampling cadence, where the plain mean
    over-counts bursts (the finance/metrics standard for irregular
    series). The final observation has no holding interval and is
    excluded by definition.

    Determinism: weights are exact integer µs, values exact 1e6
    fixed-point; Σv·w accumulates as decimal(38,0) (the product
    overflows long) and the TWAP is two divisions of exact integers in
    fixed order — hash-matched, no rounding. Scale shape: one lead
    window PARTITIONED BY TYPE + one map-combined aggregate."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        units("value", 6).alias("v6"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("w_us"),
    )
    m = (
        seq.filter(F.col("w_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(
                F.col("v6").cast("decimal(38,0)") * F.col("w_us").cast("decimal(38,0)")
            ).alias("sv"),
            F.sum("w_us").alias("sw"),
        )
    )
    return m.select(
        "event_type",
        "n_intervals",
        (
            F.col("sv").cast("double") / F.col("sw").cast("double") / F.lit(1000000.0)
        ).alias("twap"),
    ).transform(order_bounded, "event_type")


_RZ_FRAME = 15  # trailing frame length (rows), excluding the current row


@query(
    "win_rolling_zscore",
    oracle=f"""
    WITH v AS (
      SELECT user_id, ts, event_id,
             {sql_units("value", 2)} AS cents
      FROM events
    ),
    fr AS (
      SELECT user_id, ts, event_id, cents,
             COUNT(*) OVER w AS n_prev,
             SUM(cents) OVER w AS s1,
             SUM(cents * cents) OVER w AS s2
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_RZ_FRAME} PRECEDING AND 1 PRECEDING)
    )
    ,
    st AS (
      SELECT user_id, ts, event_id, n_prev,
             CAST(cents AS DOUBLE) / 100.0 AS x,
             (CAST(s1 AS DOUBLE) / 100.0) / CAST(n_prev AS DOUBLE) AS mu,
             ((CAST(s2 AS DOUBLE) / 10000.0)
              - (CAST(s1 AS DOUBLE) / 100.0)
                * (CAST(s1 AS DOUBLE) / 100.0)
                / CAST(n_prev AS DOUBLE))
             / (CAST(n_prev AS DOUBLE) - 1.0) AS vr
      FROM fr
      WHERE n_prev >= 8
    )
    SELECT user_id, ts, event_id,
           x AS value,
           n_prev,
           CASE WHEN vr > 0 THEN ROUND((x - mu) / SQRT(vr), 8) END AS zscore,
           CASE WHEN vr > 0 THEN CAST(ABS((x - mu) / SQRT(vr)) > 3.0 AS BOOLEAN)
           END AS is_anomaly
    FROM st
    ORDER BY user_id, ts, event_id
    """,
    tags=("window", "anomaly", "zscore", "rolling"),
)
def win_rolling_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection — each event scored against the
    LOCAL recent history of its own key: mean/stddev over the trailing
    {_RZ_FRAME}-row frame (current row EXCLUDED, so the point under test
    never contaminates its own baseline), |z| > 3 flags the anomaly.
    The per-entity local-baseline shape that global
    `outlier_zscore_group` cannot give — a user whose spend jumps 5×
    overnight is anomalous even if still below the global mean.

    Determinism: the frame aggregates run on exact integer cents (the fixture metric is 2-decimal)
    (window SUM of longs — order-free), and mean/stddev/z emerge from
    scalar double ops per row in the identical order in both engines,
    so even SQRT inputs are bit-identical; z is rounded at 1e-8 only as
    the final column. Rows with under 8 observations of history are
    withheld (a baseline needs support before it may accuse).

    Scale: one shuffle on user_id, per-key windows with a hard
    {_RZ_FRAME}-row frame — state is O(frame) per key, embarrassingly
    parallel across millions of keys; the identical plan is the
    foreachBatch scoring pass of a streaming detector."""
    v = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        units("value", 2).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-_RZ_FRAME, -1)
    )
    fr = v.select(
        "user_id",
        "ts",
        "event_id",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_prev"),
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
    )
    x = F.col("cents").cast("double") / 100.0
    mean = (F.col("s1").cast("double") / 100.0) / F.col("n_prev").cast("double")
    var = (
        (F.col("s2").cast("double") / 10000.0)
        - (F.col("s1").cast("double") / 100.0)
        * (F.col("s1").cast("double") / 100.0)
        / F.col("n_prev").cast("double")
    ) / (F.col("n_prev").cast("double") - 1.0)
    z = (x - mean) / F.sqrt(var)
    # Zero-variance guard: a frame of >=8 identical cents values yields
    # var == 0 (or a tiny negative from float cancellation) and z would be
    # Inf/NaN — whose rounding/hashing is engine-specific. var is computed
    # from exact integer moments in the identical order in both engines, so
    # the `var > 0` predicate agrees bit-for-bit; degenerate frames emit
    # NULL (mirrored by CASE WHEN vr > 0 in the oracle).
    guard = F.col("_vr") > 0.0
    # no global orderBy: per-row scored relations stay unsorted (the
    # differential harness compares order-insensitively; a world sort
    # here would be pure waste at scale)
    return (
        fr.filter(F.col("n_prev") >= 8)
        .withColumn("_vr", var)
        .select(
            "user_id",
            "ts",
            "event_id",
            x.alias("value"),
            "n_prev",
            F.when(guard, F.round(z, 8)).alias("zscore"),
            F.when(guard, F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


@query(
    "win_max_drawdown",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {sql_fixed("value", 6)}
               AS micro
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    dd AS (
      SELECT event_type, day, micro,
             MAX(micro) OVER (PARTITION BY event_type ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - micro AS drawdown,
             CAST(datediff('day', DATE '2024-01-01', day) AS BIGINT) AS di
      FROM daily
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(drawdown * 1000 + (999 - di)) AS BIGINT) // 1000 AS dd_micro,
           999 - CAST(MAX(drawdown * 1000 + (999 - di)) AS BIGINT) % 1000
             AS dd_day_idx,
           (CAST(MAX(drawdown * 1000 + (999 - di)) AS BIGINT) // 1000)
             / 1000000.0 AS max_drawdown
    FROM dd GROUP BY event_type ORDER BY event_type
    """,
    tags=("window", "drawdown", "timeseries"),
)
def win_max_drawdown(spark, sf_dir):
    """Maximum drawdown of each event type's DAILY value series — the
    running-peak deficit metric (finance's equity-curve risk number,
    equally the SLO 'how far below the best day did we fall'): per day,
    drawdown = (running max of daily totals) − today; report the worst
    day per type, tie-broken to the EARLIEST day by the composite-MAX
    trick (dd·1000 + (999 − day_idx)) — argmax with no second window
    and no join-back.

    Determinism: daily totals are exact fixed-point micros (map-combined
    integer sums); running max / subtraction / composite are all longs;
    the single float is the final micro→unit division.

    Scale: the window partitions by event_type and the partition is
    CALENDAR-bounded (days, not events) after the first aggregate —
    the same shape as every win_* daily op here; the heavy relation only
    ever sees a groupBy."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(fixed("value", 6).alias("micro"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = daily.select(
        "event_type",
        (F.max("micro").over(w) - F.col("micro")).alias("drawdown"),
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast("long").alias("di"),
    )
    comp = F.max(F.col("drawdown") * 1000 + (999 - F.col("di"))).cast("long")
    return (
        dd.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            comp.alias("comp"),
        )
        .select(
            "event_type",
            "n_days",
            F.expr("comp div 1000").alias("dd_micro"),
            (999 - F.col("comp") % 1000).alias("dd_day_idx"),
            (F.expr("comp div 1000") / 1000000.0).alias("max_drawdown"),
        )
        .transform(order_bounded, "event_type")
    )


@query(
    "win_anchored_vwap",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(DATE_TRUNC('month', l_shipdate) AS DATE) AS month,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             SUM({sql_units("l_extendedprice * l_quantity", 2)})
               AS pq_c,
             SUM({sql_units("l_quantity", 6)}) AS q_m
      FROM lineitem
      GROUP BY month, epoch_day
    )
    SELECT month, epoch_day,
           CAST(SUM(pq_c) OVER w AS DOUBLE) / 100.0 AS cum_notional,
           CAST(SUM(q_m) OVER w AS DOUBLE) / 1000000.0 AS cum_qty,
           (CAST(SUM(pq_c) OVER w AS DOUBLE) / 100.0)
             / (CAST(SUM(q_m) OVER w AS DOUBLE) / 1000000.0) AS vwap
    FROM daily
    WINDOW w AS (PARTITION BY month ORDER BY epoch_day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY month, epoch_day
    """,
    tags=("window", "finance", "vwap"),
)
def win_anchored_vwap(spark, sf_dir):
    """Anchored VWAP — volume-weighted average price cumulated from a
    fixed anchor (month start), the execution-quality benchmark that
    complements `win_time_weighted_avg`'s TWAP: Σ(price·qty)/Σ(qty)
    over everything since the anchor. Both cumulants ride ONE window
    as exact integers (cents for notional, micro-units for quantity);
    the division to a float happens once per output row on identical
    int-derived doubles — bit-identical cross-engine, no rounding
    gate needed.

    Shape: map-side pre-aggregation to one row per (month, day) bounds
    the window input by the calendar regardless of |lineitem|; the
    running frame partitions by the anchor month, so the sort is
    per-month (≤31 rows) and parallel across months — no
    single-partition funnel at any scale."""
    li = t(spark, sf_dir, "lineitem")
    daily = (
        li.withColumn("month", F.trunc(F.to_date("l_shipdate"), "month"))
        .withColumn(
            "epoch_day",
            F.datediff(F.to_date("l_shipdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        )
        .groupBy("month", "epoch_day")
        .agg(
            fixed(F.col("l_extendedprice") * F.col("l_quantity"), 2).alias("pq_c"),
            fixed("l_quantity", 6).alias("q_m"),
        )
    )
    w = (
        Window.partitionBy("month")
        .orderBy("epoch_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cn = F.sum("pq_c").over(w).cast("double") / 100.0
    cq = F.sum("q_m").over(w).cast("double") / 1000000.0
    return daily.select(
        "month",
        "epoch_day",
        cn.alias("cum_notional"),
        cq.alias("cum_qty"),
        (cn / cq).alias("vwap"),
    ).orderBy("month", "epoch_day")


@query(
    "win_rsi",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             SUM({sql_units("o_totalprice", 2)}) AS rev_c
      FROM orders GROUP BY o_orderstatus, epoch_day
    ),
    d AS (
      SELECT o_orderstatus, epoch_day, rev_c,
             rev_c - LAG(rev_c) OVER
               (PARTITION BY o_orderstatus ORDER BY epoch_day) AS diff,
             ROW_NUMBER() OVER
               (PARTITION BY o_orderstatus ORDER BY epoch_day) AS rn
      FROM daily
    ),
    g AS (
      SELECT o_orderstatus, epoch_day, rn,
             SUM(GREATEST(diff, 0)) OVER w AS gain14,
             SUM(GREATEST(-diff, 0)) OVER w AS loss14
      FROM d
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY epoch_day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT o_orderstatus, epoch_day,
           100.0 * CAST(gain14 AS DOUBLE)
             / CAST(NULLIF(gain14 + loss14, 0) AS DOUBLE) AS rsi14
    FROM g WHERE rn >= 15
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("window", "finance", "momentum"),
)
def win_rsi(spark, sf_dir):
    """14-day Relative Strength Index (Cutler's SMA variant) on the
    daily revenue series per order status — the bounded-momentum
    indicator joining the `win_bollinger_bands` / `win_max_drawdown`
    family. Day-over-day diffs split into gains and losses (exact
    cent integers through LAG and the 14-row frame); the identity
    RSI = 100·G/(G+L) avoids the textbook's nested ratio, so the ONLY
    float op is one division of exact integers — bit-identical, with
    NULLIF covering the all-flat frame (gains = losses = 0) and the
    first 14 rows withheld (frame not yet full).

    Shape: pre-aggregate to one row per (status, day) — calendar-
    bounded window input — then LAG + one rolling frame in a single
    Window pass per status partition, parallel across statuses."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    ws = Window.partitionBy("o_orderstatus").orderBy("epoch_day")
    d = daily.select(
        "o_orderstatus",
        "epoch_day",
        (F.col("rev_c") - F.lag("rev_c").over(ws)).alias("diff"),
        F.row_number().over(ws).alias("rn"),
    )
    wf = ws.rowsBetween(-13, Window.currentRow)
    g = d.select(
        "o_orderstatus",
        "epoch_day",
        "rn",
        F.sum(F.greatest(F.col("diff"), F.lit(0))).over(wf).alias("gain14"),
        F.sum(F.greatest(-F.col("diff"), F.lit(0))).over(wf).alias("loss14"),
    )
    rsi = (
        F.lit(100.0)
        * F.col("gain14").cast("double")
        / F.nullif(F.col("gain14") + F.col("loss14"), F.lit(0)).cast("double")
    )
    return (
        g.filter(F.col("rn") >= 15)
        .select("o_orderstatus", "epoch_day", rsi.alias("rsi14"))
        .orderBy("o_orderstatus", "epoch_day")
    )


@query(
    "win_rolling_corr",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             SUM(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(ROUND(o_totalprice) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(ROUND(o_totalprice) AS BIGINT) ELSE 0 END) AS y
      FROM orders GROUP BY d
    ),
    m AS (
      SELECT d,
             ROW_NUMBER() OVER (ORDER BY d) AS rn,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(x) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(x * x) OVER w AS BIGINT) AS sxx,
             CAST(SUM(y * y) OVER w AS BIGINT) AS syy,
             CAST(SUM(x * y) OVER w AS BIGINT) AS sxy
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
    )
    SELECT d,
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / NULLIF(SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                      0.0) AS corr28
    FROM m WHERE rn >= 28
    ORDER BY d
    """,
    tags=("window", "timeseries", "correlation"),
)
def win_rolling_corr(spark, sf_dir):
    """ROLLING 28-day correlation between two daily revenue series
    (fulfilled vs open order flow) — the co-movement monitor behind
    pairs analysis and regime detection, joining the
    `win_bollinger_bands`/`win_rsi` family. Six moments ride ONE
    trailing ROWS frame as exact dollar-integer sums (int64→double is
    a single well-defined conversion, identical in both engines, so
    the correlation formula is a bit-identical chain); NULLIF guards
    constant frames; the first 27 rows are withheld (frame not full).

    Scale note: dollar-scale keeps Σx² under 2^63 through SF≈100; the
    documented swap for the full fixture range is decimal(38,0)
    accumulation (the `ds_autocorrelation` recipe, same plan). The
    unpartitioned window is calendar-bounded (one row per day after
    the map-side daily pre-aggregation — the SINGLE_PARTITION_WINDOW
    allowlist class this repo audits explicitly)."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "d",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        )
        .groupBy("d")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "F",
                    F.round(F.col("o_totalprice")).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("x"),
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "O",
                    F.round(F.col("o_totalprice")).cast("long"),
                ).otherwise(F.lit(0))
            ).alias("y"),
        )
    )
    ws = Window.orderBy("d")
    wf = ws.rowsBetween(-27, Window.currentRow)
    m = daily.select(
        "d",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(wf).alias("n"),
        F.sum("x").over(wf).alias("sx"),
        F.sum("y").over(wf).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(wf).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(wf).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(wf).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = (n * F.col("sxy") - sx * F.col("sy")) / F.nullif(
        F.sqrt(
            (n * F.col("sxx") - sx * F.col("sx"))
            * (n * F.col("syy") - sy * F.col("sy"))
        ),
        F.lit(0.0),
    )
    return m.filter(F.col("rn") >= 28).select("d", corr.alias("corr28")).orderBy("d")


@query(
    "win_stochastic_oscillator",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             SUM({sql_units("o_totalprice", 2)}) AS rev_c
      FROM orders GROUP BY o_orderstatus, epoch_day
    ),
    x AS (
      SELECT o_orderstatus, epoch_day, rev_c,
             MIN(rev_c) OVER w AS low14,
             MAX(rev_c) OVER w AS high14,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY epoch_day) AS rn
      FROM daily
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY epoch_day
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ),
    k AS (
      SELECT o_orderstatus, epoch_day, rn,
             ROUND(100.0 * CAST(rev_c - low14 AS DOUBLE)
                   / CAST(NULLIF(high14 - low14, 0) AS DOUBLE), 8) AS pct_k
      FROM x
    )
    SELECT o_orderstatus, epoch_day, pct_k,
           CASE WHEN rn >= 16 THEN
             ROUND((pct_k
                    + LAG(pct_k, 1) OVER (PARTITION BY o_orderstatus
                                          ORDER BY epoch_day)
                    + LAG(pct_k, 2) OVER (PARTITION BY o_orderstatus
                                          ORDER BY epoch_day)) / 3.0, 8)
           END AS pct_d
    FROM k WHERE rn >= 14
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("window", "finance", "momentum"),
)
def win_stochastic_oscillator(spark, sf_dir):
    """Stochastic oscillator (%K/%D, 14-3) on the daily revenue series
    per order status — where does today sit inside the trailing
    14-day [low, high] band, and its 3-day smoothing. Joins the
    `win_rsi` / `win_bollinger_bands` momentum family.

    Determinism: low/high/close are exact cent longs from MIN/MAX/SUM
    frames; %K is ONE division of exact integers ×100 (rounded 1e-8,
    O(100) magnitude — safe), with NULLIF covering a flat 14-day band;
    %D averages the three ALREADY-ROUNDED %K values through an
    explicit left-associated LAG chain — no window-internal float
    accumulation order to trust — and any NULL %K in the triple nulls
    %D in both engines. First 13 rows withheld (frame not full); %D
    additionally needs rn ≥ 16 (three full %K values).

    Shape: one pre-aggregated daily relation (calendar-bounded), then
    a single Window pass per status partition — parallel across
    statuses, never a single-partition window."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    ws = Window.partitionBy("o_orderstatus").orderBy("epoch_day")
    w14 = ws.rowsBetween(-13, 0)
    x = daily.select(
        "o_orderstatus",
        "epoch_day",
        "rev_c",
        F.min("rev_c").over(w14).alias("low14"),
        F.max("rev_c").over(w14).alias("high14"),
        F.row_number().over(ws).alias("rn"),
    )
    k = x.select(
        "o_orderstatus",
        "epoch_day",
        "rn",
        F.round(
            100.0
            * (F.col("rev_c") - F.col("low14")).cast("double")
            / F.nullif(F.col("high14") - F.col("low14"), F.lit(0)).cast("double"),
            8,
        ).alias("pct_k"),
    )
    d3 = (
        F.col("pct_k") + F.lag("pct_k", 1).over(ws) + F.lag("pct_k", 2).over(ws)
    ) / 3.0
    return (
        k.select(
            "o_orderstatus",
            "epoch_day",
            "pct_k",
            F.when(F.col("rn") >= 16, F.round(d3, 8)).alias("pct_d"),
            "rn",
        )
        .filter(F.col("rn") >= 14)
        .drop("rn")
        .orderBy("o_orderstatus", "epoch_day")
    )


@query(
    "win_obv",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             {sql_fixed("o_totalprice", 2)}
               AS rev_c,
             CAST(COUNT(*) AS BIGINT) AS vol
      FROM orders GROUP BY o_orderstatus, epoch_day
    ),
    d AS (
      SELECT o_orderstatus, epoch_day, rev_c, vol,
             rev_c - LAG(rev_c) OVER
               (PARTITION BY o_orderstatus ORDER BY epoch_day) AS diff
      FROM daily
    ),
    s AS (
      SELECT o_orderstatus, epoch_day, rev_c, vol,
             CASE WHEN diff > 0 THEN vol
                  WHEN diff < 0 THEN -vol
                  ELSE 0 END AS signed_vol
      FROM d
    )
    SELECT o_orderstatus, epoch_day, rev_c, vol,
           CAST(SUM(signed_vol) OVER
             (PARTITION BY o_orderstatus ORDER BY epoch_day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS obv
    FROM s
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("window", "finance", "volume"),
)
def win_obv(spark, sf_dir):
    """On-balance volume — the classic volume-flow accumulator: add
    the day's volume when the close rises, subtract it when it falls,
    carry when flat. Here close = daily revenue cents and volume =
    order count per status, making OBV the divergence detector between
    revenue direction and order flow ("price up on thin volume").

    Every quantity is an exact long end to end — LAG diff, signed
    volume, and the running sum — so there is NO float anywhere and
    the first row's NULL diff folds to 0 via the ELSE branch in both
    engines identically.

    Shape: pre-aggregate to the calendar-bounded daily relation, then
    one Window pass per status partition (LAG + running sum share the
    same sort), parallel across statuses."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(
            fixed("o_totalprice", 2).alias("rev_c"),
            F.count(F.lit(1)).cast("long").alias("vol"),
        )
    )
    ws = Window.partitionBy("o_orderstatus").orderBy("epoch_day")
    d = daily.select(
        "o_orderstatus",
        "epoch_day",
        "rev_c",
        "vol",
        (F.col("rev_c") - F.lag("rev_c").over(ws)).alias("diff"),
    )
    signed = (
        F.when(F.col("diff") > 0, F.col("vol"))
        .when(F.col("diff") < 0, -F.col("vol"))
        .otherwise(F.lit(0).cast("long"))
    )
    return (
        d.select("o_orderstatus", "epoch_day", "rev_c", "vol", signed.alias("sv"))
        .select(
            "o_orderstatus",
            "epoch_day",
            "rev_c",
            "vol",
            F.sum("sv")
            .over(ws.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long")
            .alias("obv"),
        )
        .orderBy("o_orderstatus", "epoch_day")
    )


@query(
    "win_pivot_points",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             {sql_fixed("o_totalprice", 2)}
               AS rev_c
      FROM orders GROUP BY o_orderstatus, epoch_day
    ),
    x AS (
      SELECT o_orderstatus, epoch_day, rev_c,
             MAX(rev_c) OVER w AS hi7, MIN(rev_c) OVER w AS lo7,
             COUNT(*) OVER w AS cnt7
      FROM daily
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY epoch_day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    )
    SELECT o_orderstatus, epoch_day, rev_c,
           CASE WHEN rev_c = hi7 THEN 'high' ELSE 'low' END AS kind
    FROM x
    WHERE cnt7 = 7 AND (rev_c = hi7 OR rev_c = lo7)
    ORDER BY o_orderstatus, epoch_day
    """,
    tags=("window", "finance", "signal"),
)
def win_pivot_points(spark, sf_dir):
    """Swing-point (pivot) detection on the daily revenue series: a day
    is a pivot high (low) when it is the max (min) of its centered
    7-day neighborhood — the local-extremum primitive under
    support/resistance levels and zigzag trend segmentation, joining
    the `win_stochastic_oscillator` signal family.

    All-exact: the neighborhood MAX/MIN/COUNT run on cent longs in one
    centered frame; the verdict is integer equality; edge days (frame
    not full) are withheld via the cnt7 = 7 gate; a day that is both
    the max and min of a flat week classifies 'high' in both engines
    (same CASE order). No floats anywhere.

    Shape: pre-aggregated calendar-bounded daily relation + one
    centered-frame Window pass per status partition."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    w7 = (
        Window.partitionBy("o_orderstatus").orderBy("epoch_day").rowsBetween(-3, 3)
    )
    x = daily.select(
        "o_orderstatus",
        "epoch_day",
        "rev_c",
        F.max("rev_c").over(w7).alias("hi7"),
        F.min("rev_c").over(w7).alias("lo7"),
        F.count(F.lit(1)).over(w7).alias("cnt7"),
    )
    return (
        x.filter(
            (F.col("cnt7") == 7)
            & ((F.col("rev_c") == F.col("hi7")) | (F.col("rev_c") == F.col("lo7")))
        )
        .select(
            "o_orderstatus",
            "epoch_day",
            "rev_c",
            F.when(F.col("rev_c") == F.col("hi7"), F.lit("high"))
            .otherwise(F.lit("low"))
            .alias("kind"),
        )
        .orderBy("o_orderstatus", "epoch_day")
    )


@query(
    "win_topk_with_ties",
    oracle=f"""
    WITH daily AS (
      SELECT o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS epoch_day,
             {sql_fixed("o_totalprice", 2)}
               AS rev_c
      FROM orders GROUP BY o_orderstatus, epoch_day
    ),
    r AS (
      SELECT o_orderstatus, epoch_day, rev_c,
             RANK() OVER (PARTITION BY o_orderstatus
                          ORDER BY rev_c DESC) AS rk
      FROM daily
    )
    SELECT o_orderstatus, epoch_day, rev_c, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
    ORDER BY o_orderstatus, rk, epoch_day
    """,
    tags=("window", "topk", "rank"),
)
def win_topk_with_ties(spark, sf_dir):
    """Top-k WITH TIES per group — RANK() ≤ k instead of
    `win_topk_per_group`'s ROW_NUMBER cut: when the k-th and (k+1)-th
    best days tie on exact revenue cents, BOTH are returned (the ANSI
    `FETCH FIRST k ROWS WITH TIES` semantics), so the result is a
    function of the DATA alone, not of an arbitrary tie order. The
    distinction matters for leaderboards and SLA cuts where dropping
    a tied row is a correctness bug, and it is only safe because the
    ranking key is exact integers — a float key would make the tie
    itself engine-dependent.

    Shape: pre-aggregated daily relation, one ranking window per
    status partition, rank filter pushed below the output sort."""
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn(
            "epoch_day",
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long"),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(fixed("o_totalprice", 2).alias("rev_c"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(F.col("rev_c").desc())
    return (
        daily.withColumn("rk", F.rank().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .orderBy("o_orderstatus", "rk", "epoch_day")
    )
