"""Declared operators. Importing this package registers every query.

Module map (SURVEY.md §2B families):
* relational   — scan/filter/project + flagship aggregation slice
* joins        — inner/outer/semi/anti/cross/theta/as-of, broadcast vs SMJ
* aggregates   — multi-key, distinct, rollup/cube, stats, percentiles
* windows      — ranking, lag/lead, frames, top-k per group
* setops_sort  — union/intersect/except, multi-key sort, limits
* scalar_funcs — string/date/math/conditional/cast families
* json_array   — JSON props, array + higher-order functions
* sources      — format round-trips, partitioned writes, catalog surface
* udfs         — scalar UDF, pandas UDF, grouped agg/map, mapInPandas
* streaming_q  — Structured Streaming (availableNow): windows, watermark
                 dedup, stateful counts, stream-static + stream-stream join
* sql_surface  — spark.sql front door: CTEs, subqueries, PIVOT
* tpch_suite   — composite TPC-H shapes (Q1/Q3/Q4/Q5/Q6/Q10/Q14/Q18/Q19)
* tpch_suite2  — the remaining 13 TPC-H shapes (Q2/Q7/Q8/Q9/Q11/Q12/Q13/
                 Q15/Q16/Q17/Q20/Q21/Q22), adapted to the reduced schema
* scale_ops    — scale-technique plans: skew-salted join, bin-bucketed
                 interval join, IVF cell-probe ANN
* funcs2       — digest/bitwise/date-spine/edit-distance function wave
* tpcds_lite   — TPC-DS shapes: YoY self-join, channel rollup, INTERSECT
* dedup        — exact, minhash-LSH (+ connected-component clustering),
                 simhash, n-gram jaccard
* similarity   — cosine brute-force top-k, sign-LSH ANN, per-label NN,
                 embedding near-dup
* text         — token stats, language-ID, quality scores, fingerprints
* multimodal   — binary payloads: metadata, frame sampling, byte features
* pipeline_quality — deterministic hash sampling (bernoulli/stratified/
                 fixed-k), per-column table profile, deterministic mode,
                 z-score outlier flagging
* analytics_suite — funnel conversion, retention cohorts, market-basket
                 pairs, gaps-and-islands streaks, cumulative distinct
* ranking      — shared distributed-rank + exact-quantile helpers (no
                 queries)
* funcs3       — boolean aggregates (count_if/bool_and/bool_or), trig family
* funcs4       — calendar-arithmetic datetime family, bigram frequency
* funcs5       — VARIANT family, interval arithmetic, bitwise folds,
                 array set-algebra
* graph        — label propagation (pagerank-fixed), triangle counting
* tpcds_suite2 — TPC-DS fourth tier (r9): Q47 lag/lead neighbors, Q75
                 returns-netted YoY delta, Q39 CoV consecutive-month
                 pairs, Q95 key-grain EXISTS chain, Q4 pivoted
                 channel-growth screen — all single-scan replans of
                 shapes the spec phrases as CTE self-joins
* tpcds_suite3 — TPC-DS fifth tier (r10): Q17 triple-fact
                 sale→return→repurchase chain, Q92 excess-discount
                 window gate (scalar subquery → one scan), Q58
                 three-channel agreement pivot
* tpcds_suite4 — TPC-DS sixth tier (r11): Q31 two-fact correlated
                 seasonal growth, Q49 per-channel worst-return rank
                 unions, and the Q14 owned co-bucketed layout twin
                 (zero-exchange fact join legs, plan-pinned)

Round-2 additions live inside the family modules: winnowing fingerprints,
train/eval decontamination, repetition filter, RAG chunking (text);
SCD2 build, multi-table snapshots, partition evolution (sources);
sequence patterns, repurchase cadence (analytics_suite); Matryoshka
recall (similarity); trending top-k (streaming_q); session_window batch
(aggregates); winsorize + class balance (pipeline_quality); recursive
CTE (sql_surface).

Round-3 additions, likewise in-family: fixpoint + star-contraction CC,
semantic-cell dedup, incremental ingest dedup (dedup/similarity);
Gopher rule battery, substring dedup, unigram log-prob, bigram entropy,
n-gram novelty (text); k-means Lloyd round, JL random projection, PQ
encoding (similarity); CMS heavy hitters, sketch quantiles
(aggregates); grid-KS drift, MAD outliers, A/B SRM + Welch t-test +
CUPED, token-budget mix, reservoir top-k, Benford audit
(pipeline_quality); interval coverage, EWMA + Holt folds, KM survival,
seasonal-naive forecast, event transitions (analytics_suite);
Bollinger bands, calendar interpolation (windows); interval-overlap +
tolerance as-of (joins); binary payload dedup (multimodal);
vectorized-cosine twin (udfs); watermarked trending top-k + session
windows, maxFilesPerTrigger backpressure (streaming_q); CBO ANALYZE
stats (sql_surface); degree distribution (graph); keeper-policy
selection, novelty curve (dedup/text); two-stage retrieval
(similarity); merge-on-read deletes, schema-drift report (sources);
bitmap exact-distinct (aggregates); point-in-time SCD2 join (joins);
Neyman allocation (pipeline_quality); shard offset index, feature-hash
embeddings (multimodal/text).

Round-4 additions, likewise in-family: sort-free production twins for
RFM / Gini / Pareto and the histogram-refinement exact-quantile family
(median, simultaneous p25/50/75/99, per-group median — aggregates /
analytics_suite); kmeans-refined SemDeDup + threshold-calibration
histogram (similarity); BM25 ranking, PSI drift, LSH recall
calibration (text/pipeline_quality/dedup); binaryFile source, snapshot
expiry planning (sources); cohort LTV, time-decay attribution,
conversion-lag histogram, A/B power analysis (analytics_suite /
pipeline_quality); salted replicated join (joins); LPA communities
(graph); partition-skew diagnostic (pipeline_quality); Python UDTF
(udfs); image-text pair manifest (multimodal); rolling exact median
(windows); XML + scalar-CSV codec families (funcs5).
"""

from hadoop_fs_ceph_spark.operators import (  # noqa: F401
    aggregates,
    analytics_suite,
    dedup,
    funcs2,
    funcs3,
    funcs4,
    funcs5,
    graph,
    joins,
    json_array,
    multimodal,
    pipeline_quality,
    relational,
    scale_ops,
    scalar_funcs,
    setops_sort,
    similarity,
    sources_q,
    sql_surface,
    streaming_q,
    text,
    tpcds_lite,
    tpcds_suite,
    tpcds_suite2,
    tpcds_suite3,
    tpcds_suite4,
    tpcds_suite5,
    tpch_suite,
    tpch_suite2,
    udfs,
    windows,
)
