"""Declared operators. Importing this package registers every query.

Module map (SURVEY.md §2B families), one line per module:
* aggregates      — multi-key, distinct, rollup/cube, stats, percentiles, sketches, bitwise/string folds
* analytics_suite — funnels, cohorts, market baskets, streaks, forecasts, survival
* basket_common   — shared whale-safe basket projection (no queries)
* dedup           — exact, minhash-LSH, simhash, n-gram jaccard, prefix-filter joins
* graph           — label propagation, triangles, k-core, degree distribution
* joins           — inner/outer/semi/anti/cross/theta/as-of/null-safe, broadcast vs SMJ
* json_array      — JSON, VARIANT, map/array and higher-order functions, array set algebra
* multimodal      — binary payloads: metadata, frame sampling, byte features
* pipeline_quality — hash sampling, table profiles, drift, outliers, A/B tests
* ranking         — shared distributed-rank + exact-quantile helpers (no queries)
* relational      — scan/filter/project, TPC-H Q1 and Q6
* scalar_funcs    — string, regexp, date/interval, math, hash, codec, cast functions
* scale_ops       — skew-salted join, bin-bucketed interval join, IVF ANN
* setops_sort     — union/intersect/except, multi-key sort, limits
* similarity      — cosine top-k, LSH ANN, k-means, product quantization
* sources_q       — format round-trips, partitioned writes, catalog surface
* sql_surface     — spark.sql front door: CTEs, subqueries, PIVOT, recursive CTE
* streaming_q     — Structured Streaming (availableNow): windows, watermarks, joins
* text            — token stats, language-ID, quality scores, n-grams, BM25
* tpcds           — TPC-DS query shapes on the driver's star schema
* tpch            — TPC-H query shapes Q2–Q5, Q7–Q22
* udfs            — scalar/pandas/grouped UDFs, mapInPandas, UDTF
* windows         — ranking, lag/lead, frames, top-k per group
"""

from hadoop_fs_ceph_spark.operators import (  # noqa: F401
    aggregates,
    analytics_suite,
    dedup,
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
    tpcds,
    tpch,
    udfs,
    windows,
)
