"""Cross-operator algebraic invariants (SURVEY.md §5.2.5) — checks that
hold by construction of relational algebra, independent of the data:
join cardinality orderings, set-op count arithmetic, dedup idempotence.
"""

import pyspark.sql.functions as F

from hadoop_fs_ceph_spark.registry import load_all
from hadoop_fs_ceph_spark.tables import t

SPECS = load_all()


def test_join_cardinality_ordering(spark, sf_dir):
    """semi ≤ inner-distinct-left ≤ inner ≤ cross, on the same key."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    cond = c.c_custkey == o.o_custkey
    n_semi = c.join(o, cond, "left_semi").count()
    n_inner = c.join(o, cond).count()
    n_left = c.join(o, cond, "left").count()
    n_cross = c.count() * o.count()
    assert n_semi <= n_inner <= n_cross
    assert n_left >= c.count()  # outer preserves every left row
    # semi counts distinct matching left rows
    assert n_semi == c.join(o, cond).select("c_custkey").distinct().count()


def test_semi_plus_anti_partitions_left(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    cond = c.c_custkey == o.o_custkey
    n_semi = c.join(o, cond, "left_semi").count()
    n_anti = c.join(o, cond, "left_anti").count()
    assert n_semi + n_anti == c.count()


def test_union_all_additivity_and_distinct_bound(spark, sf_dir):
    a = t(spark, sf_dir, "orders").filter("o_orderkey % 2 = 0")
    b = t(spark, sf_dir, "orders").filter("o_orderkey % 3 = 0")
    u_all = a.unionByName(b)
    assert u_all.count() == a.count() + b.count()
    assert u_all.distinct().count() <= u_all.count()
    # except/intersect arithmetic: |A| = |A∩B| + |A\B| (A, B duplicate-free)
    n_int = a.intersect(b).count()
    n_exc = a.exceptAll(b).count()
    assert n_int + n_exc == a.count()


def test_dedup_idempotent(spark, sf_dir):
    from pyspark.sql import Window

    once = SPECS["dedup_exact_keep_latest"].fn(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    twice = (
        once.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    assert once.count() == twice.count()
    assert once.exceptAll(twice).count() == 0


def test_lsh_pairs_are_canonical_and_thresholded(spark, sf_dir):
    rows = SPECS["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r.doc_a < r.doc_b  # canonical pair orientation, no mirrors
        assert r.jaccard >= 0.8
    assert len({(r.doc_a, r.doc_b) for r in rows}) == len(rows)  # no dup pairs


def test_cluster_cc_converges_on_diameter_4_chain(spark, tmp_path):
    """Planted near-dup CHAIN A~B~C~D (adjacent Jaccard 0.85, chain ends
    dissimilar): connected components must put all four docs in ONE
    cluster labeled by the smallest doc_id. A fixed-round propagation
    (diameter < chain length) returns silently wrong labels here — this
    pins the iterate-to-fixpoint contract of dedup_cluster_cc."""
    import pandas as pd

    L, S = 200, 16  # tokens per doc, token shift per chain link
    toks = [f"tok{i:04d}" for i in range(L + 3 * S)]
    docs = []
    for i in range(4):
        body = " ".join(toks[i * S : i * S + L])
        docs.append(
            {"doc_id": i + 1, "text": body, "lang": "en", "source": f"s{i}", "n_chars": len(body)}
        )
    d = str(tmp_path / "chain_sf")
    import os

    os.makedirs(d)
    pd.DataFrame(docs).to_parquet(os.path.join(d, "documents.parquet"), index=False)

    pairs = {(r.doc_a, r.doc_b) for r in SPECS["dedup_minhash_lsh"].fn(spark, d).collect()}
    assert pairs == {(1, 2), (2, 3), (3, 4)}  # a path, not a clique
    got = {(r.doc_id, r.cluster_id) for r in SPECS["dedup_cluster_cc"].fn(spark, d).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}
    # the O(log n)-round star-contraction formulation must agree
    star = {
        (r.doc_id, r.cluster_id) for r in SPECS["dedup_cluster_cc_star"].fn(spark, d).collect()
    }
    assert star == got


def test_cluster_cc_formulations_agree(spark, sf_dir):
    """Label propagation and large-star/small-star contraction are two
    algorithms for the same function — their outputs must be identical
    on the real fixtures."""
    a = {(r.doc_id, r.cluster_id) for r in SPECS["dedup_cluster_cc"].fn(spark, sf_dir).collect()}
    b = {
        (r.doc_id, r.cluster_id)
        for r in SPECS["dedup_cluster_cc_star"].fn(spark, sf_dir).collect()
    }
    assert a == b and len(a) > 0


def test_cluster_ids_are_component_minima(spark, sf_dir):
    """Every cluster id must be a member of its own cluster and be its
    minimum — the keeper contract of dedup_cluster_cc."""
    rows = SPECS["dedup_cluster_cc"].fn(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    for cid, members in by_cluster.items():
        assert cid == min(members)


def test_compaction_reduces_file_count(spark, sf_dir):
    """src_compact_small_files must actually compact: the fragmented copy
    carries ≥32 part files, the compacted rewrite ≤4 (and the query's
    oracle equality separately proves the rewrite is lossless)."""
    import glob
    import os

    from hadoop_fs_ceph_spark import scratch

    SPECS["src_compact_small_files"].fn(spark, sf_dir).collect()
    n_frag = len(glob.glob(os.path.join(scratch.path(sf_dir, "frag_orders"), "part-*")))
    n_comp = len(glob.glob(os.path.join(scratch.path(sf_dir, "compact_orders"), "part-*")))
    assert n_frag >= 32, n_frag
    assert 1 <= n_comp <= 4, n_comp


def test_funnel_monotone_and_cohort_conservation(spark, sf_dir):
    """Funnel stages can only shrink (strict event ordering); cohort
    offset-0 row counts every cohort member exactly once, so the sum of
    offset-0 actives equals the number of distinct customers."""
    from pyspark.sql import functions as F

    from hadoop_fs_ceph_spark.tables import t

    row = SPECS["ds_funnel_conversion"].fn(spark, sf_dir).collect()[0]
    assert row.n_view >= row.n_click >= row.n_purchase >= 0

    cohort = SPECS["ds_retention_cohort"].fn(spark, sf_dir).collect()
    offset0 = sum(r.n_active for r in cohort if r.offset_years == 0)
    n_cust = (
        t(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert offset0 == n_cust
    assert all(r.offset_years >= 0 for r in cohort)


def test_pagerank_mass_and_floor(spark, sf_dir):
    """Total rank stays ≤ the injected mass (integer division only
    loses mass, never creates it) and every node keeps at least the
    teleport floor; ranks are positive."""
    rows = SPECS["graph_pagerank_fixed"].fn(spark, sf_dir).collect()
    total = sum(r.rank for r in rows)
    S = 10**9
    base = (15 * S // 100) // 25
    assert len(rows) == 25
    assert total <= S
    assert total >= S * 0.90  # div truncation loses < 10% over 3 rounds
    assert all(r.rank >= base for r in rows)


def test_triangle_count_bounds(spark, sf_dir):
    """0 ≤ triangles ≤ C(E, 3) and the edge count is positive."""
    row = SPECS["graph_triangle_count"].fn(spark, sf_dir).collect()[0]
    e = row.n_edges
    assert e > 0
    assert 0 <= row.n_triangles <= e * (e - 1) * (e - 2) // 6


def test_time_travel_snapshots_additive(spark, sf_dir):
    """v1 = v0 + delta: row counts and sums are strictly ordered and
    v1 matches the full table exactly."""
    rows = {r.version: r for r in SPECS["src_time_travel"].fn(spark, sf_dir).collect()}
    full = t(spark, sf_dir, "orders").count()
    assert rows[1].n == full
    assert rows[0].n < rows[1].n
    assert rows[0].sum_price < rows[1].sum_price


def test_gini_in_unit_interval(spark, sf_dir):
    row = SPECS["agg_gini_concentration"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= row.gini <= 1.0
    assert row.n > 0 and row.total_cents > 0


def test_rfm_buckets_partition_customers(spark, sf_dir):
    """Every customer lands in exactly one (r,f,m) cell; bucket ids
    are 1..4; cell populations sum to |customers with orders|."""
    rows = SPECS["ds_rfm_segmentation"].fn(spark, sf_dir).collect()
    n_cust = (
        t(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert 1 <= r.r_bucket <= 4 and 1 <= r.f_bucket <= 4 and 1 <= r.m_bucket <= 4


def test_new_vs_returning_conservation(spark, sf_dir):
    """n_new + n_returning == n_active per year; first year is all-new."""
    rows = sorted(
        SPECS["ds_new_vs_returning"].fn(spark, sf_dir).collect(), key=lambda r: r.yr
    )
    for r in rows:
        assert r.n_new + r.n_returning == r.n_active
    assert rows[0].n_returning == 0  # nobody can return before existing


def test_zorder_rectangle_subset(spark, sf_dir):
    """The z-clustered rectangle probe returns a subset of the table:
    0 < n < |lineitem| and sum_z fits the 32-bit Morton domain."""
    row = SPECS["src_zorder_write"].fn(spark, sf_dir).collect()[0]
    total = t(spark, sf_dir, "lineitem").count()
    assert 0 < row.n < total
    assert 0 <= row.sum_z <= row.n * (2**32 - 1)


def test_scd2_intervals_partition_history(spark, sf_dir):
    """SCD2 integrity per key: version ordinals are 1..n with no gaps,
    each version's valid_to equals the next version's valid_from
    (intervals tile the history with no gap or overlap), and exactly one
    version — the last — is current (valid_to NULL)."""
    rows = SPECS["src_scd2_build"].fn(spark, sf_dir).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    for uid, versions in by_user.items():
        versions.sort(key=lambda r: r.version_no)
        assert [v.version_no for v in versions] == list(range(1, len(versions) + 1))
        assert sum(1 for v in versions if v.is_current) == 1
        assert versions[-1].is_current and versions[-1].valid_to is None
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from, f"gap/overlap for user {uid}"
            assert a.valid_from <= a.valid_to


def test_winsorize_bounds_and_conservation(spark, sf_dir):
    """Winsorization invariants: clipped count is at most ~10% of the
    group (5% per tail by construction of the discrete ranks), never
    negative, and group sizes match the raw table."""
    rows = SPECS["profile_winsorize_clip"].fn(spark, sf_dir).collect()
    raw = {
        r.o_orderpriority: r.n
        for r in t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.o_orderpriority for r in rows} == set(raw)
    for r in rows:
        assert r.n == raw[r.o_orderpriority]
        # each tail clips < 5% + 1 row (discrete rank rounding)
        assert 0 <= r.n_clipped <= 2 * (r.n * 5 // 100 + 1)


def test_class_balance_within_factor_two(spark, sf_dir):
    """After downsampling, every class lands within 2x of the smallest
    original class (keep-every-kth with k = n div min keeps between
    min/2 and 2*min rows for any residue distribution)."""
    rows = SPECS["sample_class_balance"].fn(spark, sf_dir).collect()
    assert rows
    min_before = min(r.n_before for r in rows)
    for r in rows:
        assert r.keep_every_kth == r.n_before // min_before
        assert r.n_after <= 2 * min_before
        assert r.n_after >= min_before // 2


def test_gopher_rules_verdict_is_rule_conjunction(spark, sf_dir):
    df = SPECS["text_gopher_rules"].fn(spark, sf_dir)
    rules = ["r_word_count", "r_mean_len", "r_unique", "r_top_word", "r_stopwords"]
    conj = F.lit(True)
    for r in rules:
        conj = conj & F.col(r)
    assert df.filter(F.col("keep_doc") != conj).count() == 0
    # ratio statistics live in (0, 1]; dominance can't be below 1/n_words
    bad = df.filter(
        (F.col("frac_unique") <= 0)
        | (F.col("frac_unique") > 1)
        | (F.col("top_word_frac") > 1)
        | (F.col("top_word_frac") * F.col("n_words") < 1)
        | (F.col("mean_word_len") <= 0)
    )
    assert bad.count() == 0


def test_semantic_cell_pairs_subset_of_allpairs(spark, sf_dir):
    pairs = SPECS["dedup_semantic_cell"].fn(spark, sf_dir)
    assert pairs.filter(F.col("cos_sim") <= 0.4).count() == 0
    assert pairs.filter(F.col("vec_a") >= F.col("vec_b")).count() == 0
    # cell blocking only PRUNES the all-pairs candidate set: every emitted
    # pair must also appear in the unblocked above-threshold pair set
    from hadoop_fs_ceph_spark.functions.similarity import cosine

    e = t(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    full = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine(F.col("ea"), F.col("eb")).alias("cs"))
        .filter(F.col("cs") > 0.4)
        .select("vec_a", "vec_b")
    )
    assert pairs.select("vec_a", "vec_b").exceptAll(full).count() == 0


def test_interval_coverage_bounds(spark, sf_dir):
    ttl = 300_000_000
    cov = SPECS["win_interval_coverage"].fn(spark, sf_dir)
    n_events_total = t(spark, sf_dir, "events").count()
    agg = cov.agg(F.sum("n_events").alias("s")).collect()[0]
    assert agg["s"] == n_events_total
    bad = cov.filter(
        (F.col("n_islands") > F.col("n_events"))
        | (F.col("n_islands") < 1)
        # each island covers at least one full TTL, at most n_events TTLs
        | (F.col("covered_us") < F.col("n_islands") * ttl)
        | (F.col("covered_us") > F.col("n_events") * ttl)
    )
    assert bad.count() == 0


def test_ks_drift_is_max_of_monotone_cdf_gaps(spark, sf_dir):
    rows = SPECS["profile_ks_drift"].fn(spark, sf_dir).orderBy("bucket").collect()
    assert len(rows) == 17
    assert rows[-1]["ecdf_a"] == 1.0 and rows[-1]["ecdf_b"] == 1.0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["ecdf_a"] >= prev["ecdf_a"]
        assert cur["ecdf_b"] >= prev["ecdf_b"]
    ks = rows[0]["ks_stat"]
    assert all(r["ks_stat"] == ks for r in rows)
    assert ks == max(r["abs_diff"] for r in rows)
    assert 0.0 <= ks <= 1.0


def test_random_projection_matches_local_reference(spark, sf_dir):
    df = SPECS["sim_random_projection"].fn(spark, sf_dir)
    row = df.orderBy("vec_id").first()
    emb = (
        t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == row["vec_id"])
        .first()["embedding"]
    )
    assert len(row["reduced"]) == 16
    for j in range(16):
        acc = 0
        for i in range(64):
            sign = 1 if ((i + 1) * (j + 7) * 104729) % 1000003 % 2 == 0 else -1
            q = round(float(emb[i]) * 1e6)
            # Python round is banker's; emulate half-away-from-zero
            import math

            v = float(emb[i]) * 1e6
            q = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
            acc += sign * q
        assert abs(row["reduced"][j] - acc / 1e6) < 1e-12


def test_cms_never_undercounts_and_ranked(spark, sf_dir):
    rows = SPECS["agg_cms_heavy_hitters"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_est"] >= r["exact_count"] >= 1
        assert r["never_undercounts"]
    ests = [r["cms_est"] for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_mad_outliers_are_rare_and_extreme(spark, sf_dir):
    out = SPECS["outlier_mad_robust"].fn(spark, sf_dir)
    ev = t(spark, sf_dir, "events")
    totals = {r["event_type"]: r["n"] for r in
              ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    med = {r["event_type"]: r["m"] for r in
           ev.groupBy("event_type").agg(
               F.expr("percentile(value, 0.5)").alias("m")).collect()}
    for r in out.collect():
        # robust gate flags a small tail, and every flagged extremum is on
        # the far side of its group median
        assert r["n_outliers"] <= 0.10 * totals[r["event_type"]]
        assert r["max_out"] > med[r["event_type"]]


def test_ewma_matches_local_fold_and_bounds(spark, sf_dir):
    df = SPECS["win_ewma_fold"].fn(spark, sf_dir)
    bad = df.filter((F.col("n_used") > 32) | (F.col("n_used") < 1)).count()
    assert bad == 0
    row = df.orderBy("user_id").first()
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") == row["user_id"])
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(32)
        .orderBy("ts", "event_id")
        .collect()
    )
    vals = [r["value"] for r in ev]
    acc = vals[0]
    for x in vals[1:]:
        acc = 0.25 * x + 0.75 * acc
    assert abs(row["ewma"] - acc) < 1e-9
    assert min(vals) <= row["ewma"] <= max(vals)
    assert row["last_value"] == vals[-1]


def test_bigram_entropy_bounds(spark, sf_dir):
    import math

    rows = SPECS["text_bigram_entropy"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n"] >= r["n_next"] >= 1
        # 0 <= H(next|cur) <= ln(#distinct next tokens)
        assert -1e-9 <= r["cond_entropy"] <= math.log(r["n_next"]) + 1e-9


def test_kmeans_update_conserves_membership(spark, sf_dir):
    rows = SPECS["sim_kmeans_update"].fn(spark, sf_dir).collect()
    total = t(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == total
    assert len(rows) <= 8
    for r in rows:
        assert r["n_members"] >= 1
        assert len(r["centroid"]) == 64


def test_ab_srm_partitions_users(spark, sf_dir):
    row = SPECS["sample_ab_srm"].fn(spark, sf_dir).collect()[0]
    n_users = t(spark, sf_dir, "events").select("user_id").distinct().count()
    assert row["n_control"] + row["n_treatment"] == n_users
    assert row["expected_each"] == n_users / 2.0
    assert row["chi2"] >= 0.0
    assert row["srm_detected"] == (row["chi2"] > 3.841)


def test_asof_tolerance_refines_unbounded_asof(spark, sf_dir):
    tol = SPECS["join_asof_tolerance"].fn(spark, sf_dir)
    unbounded = SPECS["join_asof_event"].fn(spark, sf_dir)
    n_purchases = (
        t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert tol.count() == n_purchases == unbounded.count()
    bad = tol.filter(
        (F.col("matched") & (F.col("gap_us") < 0))
        | (F.col("matched") & (F.col("gap_us") > 3_600_000_000))
        | (~F.col("matched") & F.col("click_event_id").isNotNull())
    )
    assert bad.count() == 0
    # wherever the tolerant join matches, it matches the SAME click the
    # unbounded as-of join found
    j = tol.filter("matched").alias("a").join(
        unbounded.alias("b"), "purchase_event_id"
    )
    assert j.filter(F.col("a.click_event_id") != F.col("b.click_event_id")).count() == 0


def test_payload_dedup_groups_well_formed(spark, sf_dir):
    rows = SPECS["mm_payload_dedup"].fn(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r["n_copies"] == len(r["member_ids"]) >= 2
        assert r["keeper_doc_id"] == min(r["member_ids"])
        assert r["member_ids"] == sorted(r["member_ids"])
        for m in r["member_ids"]:
            assert m not in seen  # digest groups partition the duplicates
            seen.add(m)
    assert len(seen) <= t(spark, sf_dir, "documents").count()


def test_udf_cosine_twin_matches_builtin_fold(spark, sf_dir):
    udf_rows = SPECS["udf_vectorized_cosine_knn"].fn(spark, sf_dir).collect()
    fold_rows = SPECS["sim_knn_bruteforce"].fn(spark, sf_dir).collect()
    assert [r["vec_id"] for r in udf_rows] == [r["vec_id"] for r in fold_rows]
    for u, f in zip(udf_rows, fold_rows):
        assert abs(u["cos_sim"] - f["cos_sim"]) < 1e-7


def test_bollinger_bands_window_arithmetic(spark, sf_dir):
    df = SPECS["win_bollinger_bands"].fn(spark, sf_dir)
    assert df.count() == t(spark, sf_dir, "events").count()
    bad = df.filter(
        (F.col("n_window") < 1)
        | (F.col("n_window") > 7)
        | (F.col("roll_std") < 0)
        # a flagged breakout must actually exceed the rounded band within
        # rounding slack
        | (F.col("above_upper") & (F.col("value") <= F.col("roll_mean")))
    )
    assert bad.count() == 0


def test_km_survival_monotone_and_risk_consistent(spark, sf_dir):
    rows = SPECS["ds_survival_km"].fn(spark, sf_dir).orderBy("segment", "t_days").collect()
    assert rows
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append(r)
    for seg_rows in by_seg.values():
        prev_s, prev_n = 1.0 + 1e-12, None
        for r in seg_rows:
            assert 0.0 <= r["survival"] <= 1.0
            assert r["survival"] <= prev_s + 1e-9  # S(t) non-increasing
            assert r["d_events"] >= 1
            assert r["d_events"] + r["c_censored"] <= r["n_at_risk"]
            if prev_n is not None:
                assert r["n_at_risk"] <= prev_n  # risk set shrinks
            prev_s, prev_n = r["survival"], r["n_at_risk"]


def test_reservoir_sample_is_topk_of_priorities(spark, sf_dir):
    rows = SPECS["sample_reservoir_topk"].fn(spark, sf_dir).collect()
    assert len(rows) == 64
    pris = [r["priority"] for r in rows]
    assert pris == sorted(pris)
    # determinism: a second evaluation picks the identical sample
    again = SPECS["sample_reservoir_topk"].fn(spark, sf_dir).collect()
    assert [r["event_id"] for r in rows] == [r["event_id"] for r in again]


def test_welch_ttest_consistent_with_srm_split(spark, sf_dir):
    row = SPECS["ds_ab_welch_ttest"].fn(spark, sf_dir).collect()[0]
    n_events = t(spark, sf_dir, "events").count()
    assert row["n_control"] + row["n_treatment"] == n_events
    assert row["significant_95"] == (abs(row["t_stat"]) > 1.96)
    # the hash gate assigns by user, so both arms are populated
    assert row["n_control"] > 0 and row["n_treatment"] > 0


def test_pq_codes_shape_and_seed_self_encoding(spark, sf_dir):
    df = SPECS["sim_pq_encode"].fn(spark, sf_dir)
    assert df.count() == t(spark, sf_dir, "embeddings").count()
    bad = df.filter(
        (F.size("codes") != 8)
        | (F.array_min("codes") < 0)
        | (F.array_max("codes") > 3)
        | (F.col("total_sqerr_fp") < 0)
    )
    assert bad.count() == 0
    # each codeword vector encodes to itself in every subspace with zero error
    for r in df.filter(F.col("vec_id") < 4).collect():
        assert r["codes"] == [r["vec_id"]] * 8
        assert r["total_sqerr_fp"] == 0


def _write_parquet(tmp_path, table, rows):
    import os

    import pandas as pd

    d = str(tmp_path / "fix_sf")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(rows).to_parquet(os.path.join(d, f"{table}.parquet"), index=False)
    return d


def test_semantic_cell_finds_planted_near_dup(spark, tmp_path):
    """Two planted near-identical vectors land in one cell and surface as
    a pair; a far vector in another cell never pairs with them."""
    import numpy as np

    def unit(i, eps=0.0, seed=0):
        v = np.zeros(64)
        v[i] = 1.0
        if eps:
            r = np.random.RandomState(seed)
            v = v + eps * r.standard_normal(64)
        return [float(x) for x in v]

    rows = [{"vec_id": i, "embedding": unit(i), "label": 0} for i in range(8)]
    rows.append({"vec_id": 100, "embedding": unit(0, 0.02, 1), "label": 1})
    rows.append({"vec_id": 101, "embedding": unit(0, 0.02, 2), "label": 1})
    rows.append({"vec_id": 200, "embedding": unit(5, 0.02, 3), "label": 1})
    d = _write_parquet(tmp_path, "embeddings", rows)
    pairs = {
        (r.vec_a, r.vec_b): r.cell
        for r in SPECS["dedup_semantic_cell"].fn(spark, d).collect()
    }
    assert (100, 101) in pairs and pairs[(100, 101)] == 0
    # the far vector sits in cell 5 — cell blocking keeps it away from the
    # planted near-dups (it may pair with its own cell's seed, which is correct)
    assert all(not (200 in p and (100 in p or 101 in p)) for p in pairs)


def test_ks_drift_detects_planted_shift(spark, tmp_path):
    from datetime import datetime

    rows = []
    for i in range(400):
        rows.append(
            {
                "event_id": i,
                "ts": datetime(2024, 1, 1, i % 24),
                "user_id": i % 40,
                "event_type": "click" if i % 2 == 0 else "purchase",
                # clicks live in [0, 1), purchases in [10, 11) — full separation
                "value": (i % 100) / 100.0 + (0.0 if i % 2 == 0 else 10.0),
                "props": "{}",
            }
        )
    d = _write_parquet(tmp_path, "events", rows)
    out = SPECS["profile_ks_drift"].fn(spark, d).collect()
    ks = out[0]["ks_stat"]
    assert ks == 1.0  # disjoint supports → maximal drift


def test_cms_exact_when_keys_sparse(spark, tmp_path):
    from datetime import date

    rows = []
    for k in range(1, 11):
        for j in range(k):  # key k appears k times
            rows.append(
                {
                    "o_orderkey": len(rows),
                    "o_custkey": k,
                    "o_orderstatus": "O",
                    "o_totalprice": 1.0,
                    "o_orderdate": date(2024, 1, 1),
                    "o_orderpriority": "1-URGENT",
                    "o_clerk": "c",
                    "o_shippriority": 0,
                    "o_comment": "",
                }
            )
    d = _write_parquet(tmp_path, "orders", rows)
    got = SPECS["agg_cms_heavy_hitters"].fn(spark, d).collect()
    # 10 keys across 4x256 cells: no key collides in all rows, so every
    # CMS estimate is EXACT and the ranking is the true ranking
    assert [(r.k, r.cms_est, r.exact_count) for r in got] == [
        (k, k, k) for k in range(10, 0, -1)
    ]


def test_gopher_rules_planted_violations(spark, tmp_path):
    long_ok = " ".join(f"word{i % 40}" for i in range(60)) + " the and of to"
    rows = [
        {"doc_id": 1, "text": long_ok, "lang": "en", "source": "s", "n_chars": len(long_ok)},
        {"doc_id": 2, "text": "too short the", "lang": "en", "source": "s", "n_chars": 13},
        {
            "doc_id": 3,
            "text": " ".join(["same"] * 50) + " the and",
            "lang": "en",
            "source": "s",
            "n_chars": 0,
        },
    ]
    d = _write_parquet(tmp_path, "documents", rows)
    got = {r.doc_id: r for r in SPECS["text_gopher_rules"].fn(spark, d).collect()}
    assert got[1]["keep_doc"]
    assert not got[2]["r_word_count"] and not got[2]["keep_doc"]
    assert not got[3]["r_top_word"] and not got[3]["r_unique"] and not got[3]["keep_doc"]


def test_incremental_dedup_partitions_batch(spark, sf_dir):
    rows = {r["verdict"]: r for r in SPECS["dedup_incremental_batch"].fn(spark, sf_dir).collect()}
    batch_n = (
        t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 7).count()
    )
    assert sum(r["n_docs"] for r in rows.values()) == batch_n
    all_ids = [i for r in rows.values() for i in r["doc_ids"]]
    assert len(all_ids) == len(set(all_ids)) == batch_n
    for r in rows.values():
        assert r["n_docs"] == len(r["doc_ids"])


def test_degree_distribution_handshake(spark, sf_dir):
    rows = SPECS["graph_degree_distribution"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r["n_nodes"] == len(r["nodes"])
        assert 1 <= r["degree"] <= 24  # ≤ N-1 distinct neighbors among 25 nations
    assert sum(r["n_nodes"] for r in rows) <= 25


def test_seasonal_naive_scoring_arithmetic(spark, sf_dir):
    df = SPECS["ds_seasonal_naive_forecast"].fn(spark, sf_dir)
    bad = df.filter(
        (F.col("abs_err") != F.abs(F.col("actual") - F.col("forecast")))
        | (F.col("ape") < 0)
        | (F.col("actual") < 1)
    )
    assert bad.count() == 0


def test_benford_spine_complete_and_conserves(spark, sf_dir):
    rows = SPECS["profile_benford_check"].fn(spark, sf_dir).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    n = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0).count()
    assert sum(r["observed"] for r in rows) == n
    assert abs(sum(r["observed_frac"] for r in rows) - 1.0) < 1e-9
    assert abs(sum(r["expected"] for r in rows) - n) < 1e-3  # Benford probs sum to 1
    assert all(r["chi2_term"] >= 0 for r in rows)


def test_ngram_novelty_first_doc_fully_novel(spark, sf_dir):
    rows = {r["doc_id"]: r for r in SPECS["text_ngram_novelty"].fn(spark, sf_dir).collect()}
    first = min(rows)
    assert rows[first]["novelty"] == 1.0  # nothing precedes the first doc
    total_novel = sum(r["n_novel"] for r in rows.values())
    # novel grams across docs == distinct grams in the corpus (each gram is
    # novel exactly once)
    from hadoop_fs_ceph_spark.functions.text import hashed_shingles, token_hashes, tokens

    distinct_grams = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.array_distinct(hashed_shingles(token_hashes(tokens("text")), 5))).alias("g"))
        .distinct()
        .count()
    )
    assert total_novel == distinct_grams
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows.values())


def test_cuped_preserves_population_and_bounds(spark, sf_dir):
    rows = {r["variant"]: r for r in SPECS["ds_ab_cuped_adjust"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"control", "treatment"}
    n_users = t(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows["control"]["n_users"] + rows["treatment"]["n_users"] == n_users
    for r in rows.values():
        assert r["var_y"] > 0 and r["var_y_adj"] > 0
        assert r["variance_reduction"] < 1.0
        # adjustment recentres by a bounded shift, it cannot explode the mean
        assert abs(r["mean_y_adj"] - r["mean_y"]) < 10 * abs(r["mean_y"]) + 1e-9


def test_cbo_stats_verdicts_all_true(spark, sf_dir):
    rows = SPECS["sql_analyze_cbo_stats"].fn(spark, sf_dir).collect()
    assert [r["column_name"] for r in rows] == ["o_custkey", "o_orderstatus"]
    for r in rows:
        assert r["ndv_within_10pct"] and r["minmax_consistent"] and r["nulls_exact"]
        assert r["exact_ndv"] >= 1 and r["exact_nulls"] == 0


def test_resample_interpolation_fills_complete_spine(spark, sf_dir):
    df = SPECS["win_resample_interpolate"].fn(spark, sf_dir)
    rows = df.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    spans = {len(v) for v in by_type.values()}
    assert len(spans) == 1  # every type covers the same complete calendar spine
    assert df.filter(F.col("value_filled").isNull()).count() == 0
    # interpolated values sit between (or at) their neighbors' daily totals
    for ser in by_type.values():
        ser.sort(key=lambda r: r["d"])
        present_vals = [r["value_filled"] for r in ser if r["present"] == 1]
        lo, hi = min(present_vals), max(present_vals)
        for r in ser:
            if r["present"] == 0:
                assert lo - 1e-6 <= r["value_filled"] <= hi + 1e-6


def test_holt_fold_matches_local_reference(spark, sf_dir):
    df = SPECS["win_holt_linear_fold"].fn(spark, sf_dir)
    row = df.orderBy("user_id").first()
    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") == row["user_id"])
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(32)
        .orderBy("ts", "event_id")
        .collect()
    )
    vals = [r["value"] for r in ev]
    lvl, trd = vals[0], 0.0
    for x in vals[1:]:
        nl = 0.5 * x + 0.5 * (lvl + trd)
        trd = 0.3 * (0.5 * x + 0.5 * (lvl + trd) - lvl) + 0.7 * trd
        lvl = nl
    assert abs(row["level"] - lvl) < 1e-9
    assert abs(row["trend"] - trd) < 1e-9
    assert abs(row["forecast_next"] - (lvl + trd)) < 1e-9


def test_merge_on_read_equals_copy_on_write_subtraction(spark, sf_dir):
    rows = SPECS["src_merge_on_read_deletes"].fn(spark, sf_dir).collect()
    o = t(spark, sf_dir, "orders")
    n_del_truth = o.filter(F.col("o_orderkey") % 17 == 5).count()
    live_truth = o.filter(F.col("o_orderkey") % 17 != 5).count()
    assert all(r["n_deleted"] == n_del_truth for r in rows)
    assert sum(r["n_live"] for r in rows) == live_truth
    assert live_truth + n_del_truth == o.count()


def test_two_stage_retrieval_is_subset_of_bucket(spark, sf_dir):
    from hadoop_fs_ceph_spark.operators.similarity import _bucket

    rows = SPECS["sim_two_stage_retrieval"].fn(spark, sf_dir).collect()
    assert len(rows) == 3
    scores = [r["exact_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    e = t(spark, sf_dir, "embeddings").withColumn("bucket", _bucket())
    qb = e.filter(F.col("vec_id") == 0).collect()[0]["bucket"]
    bucket_ids = {
        r["vec_id"] for r in e.filter(F.col("bucket") == qb).collect()
    }
    assert all(r["vec_id"] in bucket_ids for r in rows)


def test_schema_drift_statuses_partition_columns(spark, sf_dir):
    rows = SPECS["src_schema_drift_report"].fn(spark, sf_dir).collect()
    statuses = {r["column_name"]: r["status"] for r in rows}
    assert statuses["o_orderstatus"] == "removed"
    assert statuses["o_revenue_class"] == "added"
    assert statuses["o_custkey"] == "type_changed"
    for r in rows:
        if r["status"] == "added":
            assert r["v0_type"] is None and r["v1_type"] is not None
        elif r["status"] == "removed":
            assert r["v1_type"] is None and r["v0_type"] is not None
        else:
            assert r["v0_type"] is not None and r["v1_type"] is not None


def test_bitmap_distinct_matches_exact(spark, sf_dir):
    rows = SPECS["agg_bitmap_distinct"].fn(spark, sf_dir).collect()
    o = t(spark, sf_dir, "orders")
    truth = {
        r["o_orderpriority"]: r["n"]
        for r in o.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    union_truth = o.select("o_custkey").distinct().count()
    for r in rows:
        assert r["n_distinct"] == truth[r["pri"]]
        assert r["n_union"] == union_truth


def test_cogrouped_asof_equals_builtin_twin(spark, sf_dir):
    cg = SPECS["udf_cogrouped_asof"].fn(spark, sf_dir)
    tw = SPECS["join_asof_event"].fn(spark, sf_dir).select(
        "purchase_event_id", "user_id", "click_event_id"
    )
    assert cg.count() == tw.count()
    assert cg.exceptAll(tw).count() == 0 and tw.exceptAll(cg).count() == 0


def test_feature_hash_embeddings_unit_norm(spark, sf_dir):
    import math

    df = SPECS["text_feature_hash_embed"].fn(spark, sf_dir)
    assert df.count() == t(spark, sf_dir, "documents").count()
    for r in df.limit(20).collect():
        assert len(r["embedding"]) == 64
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert abs(n - 1.0) < 1e-3  # unit norm up to the 1e-6 rounding


def test_shard_index_offsets_tile_each_shard(spark, sf_dir):
    rows = SPECS["mm_shard_offset_index"].fn(spark, sf_dir).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    for shard in by_shard.values():
        shard.sort(key=lambda r: r["pos"])
        expect = 0
        for r in shard:
            assert r["byte_offset"] == expect  # contiguous, gap-free layout
            expect += r["n_bytes"]
        assert all(r["shard_bytes"] == expect for r in shard)
        assert len(shard) <= 64


def test_keeper_selection_picks_longest_member(spark, sf_dir):
    rows = SPECS["dedup_keeper_selection"].fn(spark, sf_dir).collect()
    chars = {
        r["doc_id"]: r["n_chars"]
        for r in t(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    }
    for r in rows:
        assert r["keeper_doc_id"] in r["member_ids"]
        assert r["n_members"] == len(r["member_ids"]) >= 2
        best = max(r["member_ids"], key=lambda i: (chars[i], i))
        assert r["keeper_doc_id"] == best
        assert r["keeper_n_chars"] == chars[best]


def test_pit_join_cardinality_and_no_leakage(spark, sf_dir):
    out = SPECS["join_point_in_time_scd2"].fn(spark, sf_dir)
    n_purchases = (
        t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    )
    # interval tiling ⇒ exactly one version (or none) per fact
    assert out.count() == n_purchases
    assert out.select("purchase_event_id").distinct().count() == n_purchases
    # no temporal leakage: the matched version can never start after the fact
    matched = out.filter(F.col("status_at_purchase").isNotNull())
    e = t(spark, sf_dir, "events")
    w = __import__("pyspark.sql", fromlist=["Window"]).Window.partitionBy(
        "user_id"
    ).orderBy("ts", "event_id")
    dim = e.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.row_number().over(w).cast("long").alias("version_no"),
    )
    j = matched.join(dim, ["user_id", "version_no"])
    assert j.filter(F.col("valid_from") > F.col("purchase_ts")).count() == 0
    assert j.count() == matched.count()


def test_neyman_allocation_budget_and_ordering(spark, sf_dir):
    rows = SPECS["sample_neyman_allocation"].fn(spark, sf_dir).collect()
    assert all(r["within_4sigma"] for r in rows)
    total = sum(r["n_sampled"] for r in rows)
    # realized total tracks the 500-row budget within sampling noise
    assert 350 <= total <= 650
    # optimality direction: a stratum with larger N_h*S_h never gets a
    # smaller rate (rates are proportional unless capped at 1)
    uncapped = [r for r in rows if r["rate"] < 1.0]
    uncapped.sort(key=lambda r: r["n_stratum"] * r["stddev"])
    for a, b in zip(uncapped, uncapped[1:]):
        assert a["rate"] * a["n_stratum"] <= b["rate"] * b["n_stratum"] + 1e-6


def test_gini_binned_tracks_exact(spark, sf_dir):
    """The sort-free binned Gini must agree with the exact rank-formula
    twin within the bin-resolution bound: |G_b - G| <= 2/B (within-bin
    value spread contributes at most one bin width per Lorenz segment).
    Deterministic columns (n, total_cents) must match exactly."""
    exact = SPECS["agg_gini_concentration"].fn(spark, sf_dir).collect()[0]
    binned = SPECS["agg_gini_concentration_binned"].fn(spark, sf_dir).collect()[0]
    assert binned["n"] == exact["n"]
    assert binned["total_cents"] == exact["total_cents"]
    assert 1 <= binned["n_bins_used"] <= 64
    assert abs(binned["gini_binned"] - exact["gini"]) <= 2.0 / 64


def test_pareto_binned_bracket_contains_exact(spark, sf_dir):
    """The binned Pareto [lower, upper] customer-count bracket must
    contain the exact answer: bins partition customers by value range,
    so the exact 80% crossing happens strictly after the fully-included
    bins (cum_lower < 0.8S) and no later than the crossing bin's end
    (cum_upper >= 0.8S)."""
    exact = SPECS["ds_pareto_concentration"].fn(spark, sf_dir).collect()[0]
    b = SPECS["ds_pareto_concentration_binned"].fn(spark, sf_dir).collect()[0]
    assert b["n_top_lower"] < exact["n_top_customers"] <= b["n_top_upper"]
    assert b["share_lower"] < 0.8 <= b["share_upper"] + 1e-9
    assert b["n_top_lower"] <= b["n_top_upper"] <= b["n_cust"]


def test_rfm_approx_spine_and_verdicts(spark, sf_dir):
    """The approx-RFM output is the full 3x4 dim-bucket spine, every
    bucket's population within the 2% tolerance gate (sketch rank error
    is 50x inside it thanks to the composite tie-split key)."""
    rows = SPECS["ds_rfm_segmentation_approx"].fn(spark, sf_dir).collect()
    assert len(rows) == 12
    assert {(r["dim"], r["bucket"]) for r in rows} == {
        (d, b)
        for d in ("recency", "frequency", "monetary")
        for b in (1, 2, 3, 4)
    }
    assert all(r["within_tolerance"] for r in rows)
    n_cust = (
        t(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert all(r["n_total"] == n_cust for r in rows)


def test_semantic_cell_refined_finds_planted_near_dup(spark, tmp_path):
    """The kmeans-refined SemDeDup must still surface the planted
    near-identical pair (one Lloyd round moves centroids toward the
    cluster mass but cannot split a tight near-dup pair), and refined
    cells must still PRUNE the all-pairs set, never add to it."""
    import numpy as np

    def unit(i, eps=0.0, seed=0):
        v = np.zeros(64)
        v[i] = 1.0
        if eps:
            r = np.random.RandomState(seed)
            v = v + eps * r.standard_normal(64)
        return [float(x) for x in v]

    rows = [{"vec_id": i, "embedding": unit(i), "label": 0} for i in range(8)]
    rows.append({"vec_id": 100, "embedding": unit(0, 0.02, 1), "label": 1})
    rows.append({"vec_id": 101, "embedding": unit(0, 0.02, 2), "label": 1})
    rows.append({"vec_id": 200, "embedding": unit(5, 0.02, 3), "label": 1})
    d = _write_parquet(tmp_path, "embeddings", rows)
    pairs = {
        (r.vec_a, r.vec_b): r.cell
        for r in SPECS["dedup_semantic_cell_refined"].fn(spark, d).collect()
    }
    assert (100, 101) in pairs
    assert all(not (200 in p and (100 in p or 101 in p)) for p in pairs)


def test_psi_drift_separates_shift_from_stability(spark, tmp_path):
    """PSI must read 'shifted' on disjoint supports and 'stable' when
    both event types draw from the identical value sequence; bucket
    counts must conserve the input."""
    from datetime import datetime

    def mk(shift):
        rows = []
        for i in range(400):
            rows.append(
                {
                    "event_id": i,
                    "ts": datetime(2024, 1, 1, i % 24),
                    "user_id": i % 40,
                    "event_type": "click" if i % 2 == 0 else "purchase",
                    "value": (i % 100) / 100.0
                    + (0.0 if i % 2 == 0 else shift),
                    "props": "{}",
                }
            )
        return rows

    shifted = SPECS["profile_psi_drift"].fn(
        spark, _write_parquet(tmp_path / "a", "events", mk(10.0))
    ).collect()
    assert all(r["drift_verdict"] == "shifted" for r in shifted)
    assert shifted[0]["psi_total"] > 0.25
    assert sum(r["n_a"] + r["n_b"] for r in shifted) == 400

    stable = SPECS["profile_psi_drift"].fn(
        spark, _write_parquet(tmp_path / "b", "events", mk(0.0))
    ).collect()
    assert all(r["drift_verdict"] == "stable" for r in stable)
    # evens feed clicks, odds feed purchases — near-identical, not equal,
    # so PSI is small-but-nonzero (bucket-boundary + smoothing residue)
    assert abs(stable[0]["psi_total"]) < 0.1


def test_bm25_scores_ordered_and_bounded(spark, sf_dir):
    rows = SPECS["text_bm25_rank"].fn(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 20
    assert all(1 <= r["n_terms"] <= 3 for r in rows)
    assert all(r["bm25"] > 0 for r in rows)  # idf > 0 since df <= N
    for a, b in zip(rows, rows[1:]):
        assert a["bm25"] >= b["bm25"]


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting must be semantically transparent: identical result set to
    the plain join + aggregate."""
    from hadoop_fs_ceph_spark.canonical import dsum

    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    plain = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )
    salted = SPECS["join_salted_replicated"].fn(spark, sf_dir)
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_ltv_curve_monotone_within_cohort(spark, sf_dir):
    rows = SPECS["ds_cohort_ltv_curve"].fn(spark, sf_dir).collect()
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_month"], []).append(r)
    for _, rs in by_cohort.items():
        assert rs[0]["age_months"] == 0  # the acquisition month always exists
        for a, b in zip(rs, rs[1:]):
            assert b["age_months"] > a["age_months"]
            assert b["cum_cents"] >= a["cum_cents"]  # LTV never decreases
            assert b["n_customers"] == a["n_customers"]


def test_binaryfile_scan_round_trips_every_doc(spark, sf_dir):
    out = SPECS["src_binaryfile_scan"].fn(spark, sf_dir).collect()
    expected = (
        t(spark, sf_dir, "documents")
        .filter((F.col("lang") == "en") & (F.col("doc_id") < 100))
        .count()
    )
    assert len(out) == expected
    assert len({r["sha_hex"] for r in out}) == expected  # distinct contents
    assert all(r["n_bytes"] >= 2 for r in out)


def test_exact_median_nosort_planted(spark, tmp_path):
    """Histogram-refinement median must return the exact lower median on
    planted odd/even populations spanning a wide value range (forces
    real multi-pass narrowing), and report is_exact."""
    import os

    import pandas as pd

    def orders(vals, sub):
        df = pd.DataFrame(
            [
                {
                    "o_orderkey": i,
                    "o_custkey": i,  # one order per customer: cents = round(v*100)
                    "o_orderstatus": "F",
                    "o_totalprice": v,
                    "o_orderdate": pd.Timestamp("2024-01-01"),
                    "o_orderpriority": "1-URGENT",
                }
                for i, v in enumerate(vals)
            ]
        )
        # match the driver fixtures' timestamp[ms] physical type
        df["o_orderdate"] = df["o_orderdate"].astype("datetime64[ms]")
        d = str(tmp_path / sub)
        os.makedirs(d, exist_ok=True)
        df.to_parquet(os.path.join(d, "orders.parquet"), index=False)
        return d

    # odd n: median is the middle element; values span ~7 orders of magnitude
    d = orders([0.01, 1.0, 55.5, 70000.0, 12345678.9], "odd")
    r = SPECS["agg_exact_median_nosort"].fn(spark, d).collect()[0]
    assert r["is_exact"] and r["n"] == 5
    assert r["median_cents"] == 5550

    # even n: LOWER median (rank (n+1)//2 = 3 of 6)
    d = orders([10.0, 20.0, 30.0, 40.0, 50.0, 60.0], "even")
    r = SPECS["agg_exact_median_nosort"].fn(spark, d).collect()[0]
    assert r["is_exact"] and r["median_cents"] == 3000


def test_time_decay_attribution_conserves_revenue(spark, sf_dir):
    """Credits are a partition of each purchase's value (minus integer
    remainders): total credited value never exceeds total purchase
    revenue, and every channel's credit is nonnegative."""
    rows = SPECS["ds_attribution_time_decay"].fn(spark, sf_dir).collect()
    assert rows and all(r["credited_value"] >= 0 for r in rows)
    total_purchases = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert sum(r["credited_value"] for r in rows) <= total_purchases + 1e-6


def test_snapshot_expiry_statuses_and_conservation(spark, sf_dir):
    """Compaction-aware expiry: f0/f1 are expendable (only expired
    manifests reference them), c0/f2/f3 are live (f2 survives through
    the live manifest), and the compacted file's rows equal the sum of
    the files it rewrote."""
    rows = {r["file_id"]: r for r in SPECS["src_snapshot_expiry_plan"].fn(spark, sf_dir).collect()}
    assert {f for f, r in rows.items() if r["status"] == "expendable"} == {"f0", "f1"}
    assert {f for f, r in rows.items() if r["status"] == "live"} == {"c0", "f2", "f3"}
    assert rows["c0"]["n_rows"] == rows["f0"]["n_rows"] + rows["f1"]["n_rows"]
    n_orders = t(spark, sf_dir, "orders").count()
    assert sum(r["n_rows"] for f, r in rows.items() if f != "c0") == n_orders


def test_partition_skew_verdict_consistent(spark, sf_dir):
    """needs_salting must agree with the float skew_ratio at the 4x
    threshold; rows are hottest-first and shares are sane."""
    rows = SPECS["profile_partition_skew"].fn(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 10
    for r in rows:
        assert 0 < r["share"] <= 1
        assert (r["skew_ratio"] > 4.0) == r["needs_salting"]
    for a, b in zip(rows, rows[1:]):
        assert a["n_rows"] >= b["n_rows"]


def test_udtf_expansion_bounded_per_doc(spark, sf_dir):
    """The UDTF emits at most 5 rows per input doc, positions 0..4, and
    every token really is the doc's token at that position."""
    rows = SPECS["udf_python_udtf"].fn(spark, sf_dir).collect()
    assert rows
    by_doc = {}
    for r in rows:
        assert 0 <= r["pos"] < 5 and r["tok_len"] == len(r["tok"])
        by_doc.setdefault(r["doc_id"], []).append(r)
    src = {
        r["doc_id"]: r["text"]
        for r in t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .collect()
    }
    assert set(by_doc) == set(src)
    for doc_id, rs in by_doc.items():
        toks = src[doc_id].split(" ")[:5]
        assert [r["tok"] for r in sorted(rs, key=lambda r: r["pos"])] == toks


def test_image_text_pairs_complete_and_screened(spark, sf_dir):
    """Every doc with a matching embedding id appears exactly once, with
    a positive norm and an 8-way shard assignment."""
    out = SPECS["mm_image_text_pair"].fn(spark, sf_dir)
    n_pairs = out.count()
    d = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("k"))
    e = t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("k"))
    assert n_pairs == d.join(e, "k").count()
    rows = out.collect()
    assert len({r["pair_id"] for r in rows}) == n_pairs
    assert all(0 <= r["shard"] < 8 and r["emb_norm"] > 0 for r in rows)


def test_exact_quantiles_nosort_match_sorted_truth(spark, sf_dir):
    """All four refined quantiles must equal the rank-k values from an
    actual sort of the per-customer cents, with is_exact everywhere."""
    rows = {r["pct"]: r for r in SPECS["agg_exact_quantiles_nosort"].fn(spark, sf_dir).collect()}
    assert set(rows) == {25, 50, 75, 99}
    cents = sorted(
        r["cents"]
        for r in t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .collect()
    )
    n = len(cents)
    for pct, r in rows.items():
        assert r["is_exact"] and r["n"] == n
        k = (n * pct + 99) // 100
        assert r["value_cents"] == cents[k - 1], pct


def test_grouped_exact_median_matches_sorted_truth(spark, sf_dir):
    """Every group's refined median must equal the rank-⌈n/2⌉ value from
    an actual per-group sort of raw per-order cents."""
    rows = {r["grp"]: r for r in SPECS["agg_exact_median_by_group_nosort"].fn(spark, sf_dir).collect()}
    raw = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    by_grp = {}
    for r in raw:
        by_grp.setdefault(r["grp"], []).append(r["cents"])
    assert set(rows) == set(by_grp)
    for grp, vals in by_grp.items():
        vals.sort()
        r = rows[grp]
        assert r["is_exact"] and r["n"] == len(vals)
        assert r["median_cents"] == vals[(len(vals) + 1) // 2 - 1], grp


def test_lsh_recall_report_sane(spark, sf_dir):
    """Planted-cohort calibration (r9): every level carries a
    statistically meaningful pair count (n >= 30 — the whole point of
    the redesign), hits never exceed pairs, empirical recall rises with
    the target similarity (the S-curve is monotone), and every level's
    measured count sits within its binomial tolerance of the theory
    expectation."""
    rows = SPECS["dedup_lsh_recall_report"].fn(spark, sf_dir).collect()
    assert [r["target_ja"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    prev_ppm = None
    for r in rows:
        assert r["n_pairs"] >= 30, f"level {r['target_ja']}: vacuous cohort"
        assert 0 <= r["n_hit"] <= r["n_pairs"]
        assert 0 < r["expected_hits"] < r["n_pairs"]
        assert r["sigma"] > 0
        assert r["within_tolerance"], (
            f"level {r['target_ja']}: {r['n_hit']} vs {r['expected_hits']}"
        )
        if prev_ppm is not None:
            assert r["recall_ppm"] >= prev_ppm
        prev_ppm = r["recall_ppm"]


def test_semantic_recall_report_sane(spark, sf_dir):
    """Planted-twin calibration (r9): n >= 30 per level, recall falls as
    the perturbation grows (wider angle -> lower collision), and every
    level is within its binomial tolerance of the sign-LSH S-curve."""
    rows = SPECS["dedup_semantic_recall_report"].fn(spark, sf_dir).collect()
    assert [r["level"] for r in rows] == [0, 1, 2, 3]
    prev_ppm = None
    for r in rows:
        assert r["n_pairs"] >= 30, f"level {r['level']}: vacuous cohort"
        assert 0 <= r["n_caught"] <= r["n_pairs"]
        assert r["sigma"] > 0
        assert r["within_tolerance"], (
            f"level {r['level']}: {r['n_caught']} vs {r['expected_caught']}"
        )
        if prev_ppm is not None:
            assert r["recall_ppm"] <= prev_ppm
        prev_ppm = r["recall_ppm"]


def test_power_analysis_monotone_in_mde(spark, sf_dir):
    """Required n per arm must fall as the detectable effect grows
    (n ∝ 1/δ²), and the 1% row needs ~4x the 2% row (exactly, up to
    ceiling)."""
    rows = {r["mde_pct"]: r for r in SPECS["ds_ab_power_analysis"].fn(spark, sf_dir).collect()}
    assert set(rows) == {1, 2, 5, 10}
    assert rows[1]["n_per_arm"] >= rows[2]["n_per_arm"] >= rows[5]["n_per_arm"] >= rows[10]["n_per_arm"]
    assert abs(rows[1]["n_per_arm"] - 4 * rows[2]["n_per_arm"]) <= 4
    assert all(r["sigma2"] > 0 and r["n_per_arm"] >= 1 for r in rows.values())


def test_conversion_lag_conserves_converters(spark, sf_dir):
    """Histogram buckets must partition exactly the users who have a
    purchase at-or-after their first view."""
    rows = SPECS["ds_conversion_lag_histogram"].fn(spark, sf_dir).collect()
    assert [r["bucket"] for r in rows] == list(range(8))
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    n_conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(r["n_users"] for r in rows) == n_conv


def test_importance_reweight_ess_and_mean_weight(spark, sf_dir):
    """Reweighting invariants: weighted doc mass equals n (Σ n_g·w_g = n
    since target shares sum to 1), ESS ≤ n with equality iff weights are
    uniform, and every class's weight is positive."""
    rows = SPECS["sample_importance_reweight"].fn(spark, sf_dir).collect()
    n = t(spark, sf_dir, "documents").count()
    assert abs(sum(r["n_docs"] * r["weight"] for r in rows) - n) < 1e-6 * n
    assert all(r["weight"] > 0 for r in rows)
    ess = rows[0]["ess"]
    assert 0 < ess <= n + 1e-6
    assert abs(rows[0]["ess_ratio"] - ess / n) < 1e-9


def test_threshold_calibration_partitions_all_blocked_pairs(spark, sf_dir):
    """The cosine histogram must conserve the blocked-pair count: the
    sum over the 20-bin spine equals the exact number of same-bucket
    id-ordered pairs (the both-side clamp guarantees no ulp-outside
    cosine is silently dropped)."""
    from hadoop_fs_ceph_spark.operators.similarity import _bucket

    rows = SPECS["sim_threshold_calibration"].fn(spark, sf_dir).collect()
    assert [r["bin"] for r in rows] == list(range(20))
    e = t(spark, sf_dir, "embeddings").withColumn("b", _bucket())
    per_bucket = [r["c"] for r in e.groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()]
    expected_pairs = sum(c * (c - 1) // 2 for c in per_bucket)
    assert sum(r["n_pairs"] for r in rows) == expected_pairs


def test_label_propagation_separates_planted_communities(spark, tmp_path):
    """Two co-purchase cliques joined by a sub-threshold bridge must come
    out as two communities labeled by their minimum part ids."""
    import os

    import pandas as pd

    rows = []
    def add_order(ok, parts):
        for i, p in enumerate(parts):
            rows.append(
                {
                    "l_orderkey": ok, "l_partkey": p, "l_suppkey": 1,
                    "l_linenumber": i + 1, "l_quantity": 1.0,
                    "l_extendedprice": 10.0, "l_discount": 0.0, "l_tax": 0.0,
                    "l_returnflag": "N", "l_linestatus": "O",
                    "l_shipdate": pd.Timestamp("2024-01-01"),
                }
            )

    for ok in (1, 2, 3, 4):      # clique A: parts 1-3 co-occur 4x
        add_order(ok, [1, 2, 3])
    for ok in (5, 6, 7, 8):      # clique B: parts 10-12 co-occur 4x
        add_order(ok, [10, 11, 12])
    add_order(9, [3, 10])        # bridge co-occurs ONCE < min threshold 2

    df = pd.DataFrame(rows)
    df["l_shipdate"] = df["l_shipdate"].astype("datetime64[ms]")
    d = str(tmp_path / "lpa_sf")
    os.makedirs(d, exist_ok=True)
    df.to_parquet(os.path.join(d, "lineitem.parquet"), index=False)

    got = {
        r["community"]: r["n_members"]
        for r in SPECS["graph_label_propagation"].fn(spark, d).collect()
    }
    assert got == {1: 3, 10: 3}


def test_minhash_estimator_error_within_sampling_bound(spark, sf_dir):
    """Per-pair estimation error of the 16-slot signature must stay
    within a generous multiple of the binomial std dev sqrt(J(1-J)/16)
    (+ discretization 1/16) — a systematic-bias bug (e.g. a band/slot
    indexing error) blows this bound, while correct MinHash stays well
    inside it."""
    rows = SPECS["dedup_minhash_estimator_quality"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        j = r["jaccard_exact"]
        sigma = (j * (1 - j) / 16) ** 0.5
        assert r["abs_err"] <= 4 * sigma + 1 / 16 + 1e-9, (r["doc_a"], r["doc_b"])
        assert abs(r["jaccard_est"] - r["sig_matches"] / 16) < 1e-12


def test_leakage_safe_split_contract(spark, sf_dir):
    """Content-keyed splitting leaks zero duplicate groups by
    construction; both strategies partition the corpus; the ~80/20 gate
    lands in a broad sanity band."""
    rows = {r["strategy"]: r for r in SPECS["sample_leakage_safe_split"].fn(spark, sf_dir).collect()}
    n = t(spark, sf_dir, "documents").count()
    assert set(rows) == {"content", "doc_id"}
    assert rows["content"]["n_leaking_groups"] == 0
    for r in rows.values():
        assert r["n_train"] + r["n_test"] == n
        assert 0.6 * n <= r["n_train"] <= 0.95 * n


def test_pareto_bracket_edge_shapes(spark, tmp_path):
    """Bracket property n_lower < n_exact <= n_upper on adversarial
    revenue shapes: all-equal (everyone in one bin), one dominant
    customer (crossing at the first element), and a 50/50 pair."""
    import os

    import pandas as pd

    def orders(vals, sub):
        df = pd.DataFrame(
            [
                {
                    "o_orderkey": i, "o_custkey": i, "o_orderstatus": "F",
                    "o_totalprice": v,
                    "o_orderdate": pd.Timestamp("2024-01-01"),
                    "o_orderpriority": "1-URGENT",
                }
                for i, v in enumerate(vals)
            ]
        )
        df["o_orderdate"] = df["o_orderdate"].astype("datetime64[ms]")
        d = str(tmp_path / sub)
        os.makedirs(d, exist_ok=True)
        df.to_parquet(os.path.join(d, "orders.parquet"), index=False)
        return d

    cases = {
        "equal": [100.0] * 5,
        "dominant": [9900.0, 25.0, 25.0, 25.0, 25.0],
        "pair": [500.0, 500.0],
    }
    for name, vals in cases.items():
        d = orders(vals, name)
        exact = SPECS["ds_pareto_concentration"].fn(spark, d).collect()[0]
        b = SPECS["ds_pareto_concentration_binned"].fn(spark, d).collect()[0]
        assert b["n_top_lower"] < exact["n_top_customers"] <= b["n_top_upper"], name
        assert b["n_cust"] == len(vals) and b["share_upper"] >= 0.8 - 1e-9, name


def test_gini_binned_edge_shapes(spark, tmp_path):
    """Binned Gini on degenerate shapes: all-equal must give exactly 0
    in BOTH forms (every pairwise |s_i n_j - s_j n_i| term vanishes);
    near-maximal inequality must stay within the 2/64 resolution bound
    of the exact rank formula."""
    import os

    import pandas as pd

    def orders(vals, sub):
        df = pd.DataFrame(
            [
                {
                    "o_orderkey": i, "o_custkey": i, "o_orderstatus": "F",
                    "o_totalprice": v,
                    "o_orderdate": pd.Timestamp("2024-01-01"),
                    "o_orderpriority": "1-URGENT",
                }
                for i, v in enumerate(vals)
            ]
        )
        df["o_orderdate"] = df["o_orderdate"].astype("datetime64[ms]")
        d = str(tmp_path / sub)
        os.makedirs(d, exist_ok=True)
        df.to_parquet(os.path.join(d, "orders.parquet"), index=False)
        return d

    d = orders([250.0] * 6, "equal")
    exact = SPECS["agg_gini_concentration"].fn(spark, d).collect()[0]
    binned = SPECS["agg_gini_concentration_binned"].fn(spark, d).collect()[0]
    assert exact["gini"] == 0.0 and binned["gini_binned"] == 0.0

    d = orders([0.01] * 9 + [90000.0], "extreme")
    exact = SPECS["agg_gini_concentration"].fn(spark, d).collect()[0]
    binned = SPECS["agg_gini_concentration_binned"].fn(spark, d).collect()[0]
    assert exact["gini"] > 0.85
    assert abs(binned["gini_binned"] - exact["gini"]) <= 2.0 / 64


def test_ranked_nosort_matches_window_rank(spark):
    """_ranked_nosort's global rank + inclusive running sum must equal
    the single-partition-window formulation on adversarial key
    distributions: clustered keys (bin skew), negative composites
    (Pareto's descending encoding), and a singleton relation."""
    from pyspark.sql import Window

    from hadoop_fs_ceph_spark.operators.ranking import _ranked_nosort

    cases = {
        "clustered": [(k, k % 7 + 1) for k in list(range(50)) + list(range(10**12, 10**12 + 50))],
        "negative": [(-v * 100_000_000 + i, v) for i, v in enumerate([5, 5, 5, 9, 1, 7, 7])],
        "singleton": [(42, 17)],
    }
    for name, rows in cases.items():
        x = spark.createDataFrame(rows, "key long, val long")
        got = {
            r["key"]: (r["i"], r["cum"])
            for r in _ranked_nosort(x, bins=8).collect()
        }
        w = Window.orderBy("key")
        want = {
            r["key"]: (r["i"], r["cum"])
            for r in x.select(
                "key",
                F.row_number().over(w).alias("i"),
                F.sum("val").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
            ).collect()
        }
        assert got == want, name


def test_ranked_nosort_with_totals_rides_global_count_and_sum(spark):
    """with_totals=True must put the EXACT global COUNT/SUM(val) on every
    row (they ride the offset fold's final accumulator — round 12 removed
    a second full rank pass in ds_lift_gains_deciles with them), and must
    not perturb the rank/cum columns."""
    from hadoop_fs_ceph_spark.operators.ranking import _ranked_nosort

    rows = [(k * 997 % 1009, k % 7 + 1) for k in range(200)]
    x = spark.createDataFrame(rows, "key long, val long")
    got = _ranked_nosort(x, bins=8, with_totals=True).collect()
    n = len(rows)
    v = sum(val for _, val in rows)
    assert all(r["n_tot"] == n and r["v_tot"] == v for r in got)
    base = {
        r["key"]: (r["i"], r["cum"])
        for r in _ranked_nosort(x, bins=8).collect()
    }
    assert {r["key"]: (r["i"], r["cum"]) for r in got} == base


def test_grouped_exact_quantiles_match_sorted_truth(spark, sf_dir):
    """Every (group, pct) refined quantile must equal the rank-k value
    from an actual per-group sort of raw per-order cents, is_exact
    everywhere, and the per-group p50 must equal the delivered
    per-group exact median."""
    rows = {
        (r["grp"], r["pct"]): r
        for r in SPECS["agg_exact_quantiles_by_group_nosort"].fn(spark, sf_dir).collect()
    }
    raw = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    by_grp = {}
    for r in raw:
        by_grp.setdefault(r["grp"], []).append(r["cents"])
    assert {g for g, _ in rows} == set(by_grp)
    for grp, vals in by_grp.items():
        vals.sort()
        n = len(vals)
        for pct in (25, 50, 75):
            r = rows[(grp, pct)]
            k = (n * pct + 99) // 100
            assert r["is_exact"] and r["n"] == n
            assert r["value_cents"] == vals[k - 1], (grp, pct)
    medians = {r["grp"]: r["median_cents"] for r in SPECS["agg_exact_median_by_group_nosort"].fn(spark, sf_dir).collect()}
    for grp in by_grp:
        assert rows[(grp, 50)]["value_cents"] == medians[grp], grp


def test_kmeans_converged_fixpoint_on_planted_clusters(spark, tmp_path):
    """The converged Lloyd loop on a planted two-cluster corpus must
    reach the exact integer fixpoint (converged=True, shift 0), conserve
    membership, actually iterate, and land a centroid on each planted
    cluster mass (the cells holding the two 20-vector clusters must
    dominate the seed-only cells)."""
    import numpy as np

    def unit(i, eps=0.0, seed=0):
        v = np.zeros(64)
        v[i] = 1.0
        if eps:
            r = np.random.RandomState(seed)
            v = v + eps * r.standard_normal(64)
        return [float(x) for x in v]

    rows = [{"vec_id": i, "embedding": unit(i), "label": 0} for i in range(8)]
    for j in range(20):
        rows.append({"vec_id": 100 + j, "embedding": unit(0, 0.05, j), "label": 1})
        rows.append({"vec_id": 200 + j, "embedding": unit(5, 0.05, 100 + j), "label": 2})
    d = _write_parquet(tmp_path, "embeddings", rows)
    out = SPECS["sim_kmeans_converged"].fn(spark, d).collect()
    assert len(out) == 8
    assert all(r["converged"] and r["final_shift_micro"] == 0 for r in out)
    assert out[0]["n_rounds"] >= 1
    assert sum(r["n_members"] for r in out) == len(rows)
    assert all(len(r["centroid"]) == 64 for r in out)
    sizes = sorted((r["n_members"] for r in out), reverse=True)
    assert sizes[0] >= 20 and sizes[1] >= 20
    # the two heavy centroids sit on the planted directions
    heavy = sorted(out, key=lambda r: -r["n_members"])[:2]
    dims = {max(range(64), key=lambda i: r["centroid"][i]) for r in heavy}
    assert dims == {0, 5}


def test_kmeans_check_cadence_equivalent(spark, tmp_path, monkeypatch):
    """Round-13: the every-5-rounds convergence check (plus backward walk
    to the first zero-shift round) must be BIT-identical to per-round
    checking — n_rounds, final_shift_micro, centroids, membership. The
    planted two-cluster fixture converges mid-block, so the walk actually
    runs; fixpoint monotonicity (shift_j = 0 ⇒ all later shifts 0) is
    what makes the sparse cadence exact."""
    import numpy as np

    from hadoop_fs_ceph_spark.operators import similarity

    def unit(i, eps=0.0, seed=0):
        v = np.zeros(64)
        v[i] = 1.0
        if eps:
            r = np.random.RandomState(seed)
            v = v + eps * r.standard_normal(64)
        return [float(x) for x in v]

    rows = [{"vec_id": i, "embedding": unit(i), "label": 0} for i in range(8)]
    for j in range(12):
        rows.append({"vec_id": 100 + j, "embedding": unit(0, 0.05, j), "label": 1})
        rows.append({"vec_id": 200 + j, "embedding": unit(5, 0.05, 100 + j), "label": 2})
    d = _write_parquet(tmp_path, "embeddings", rows)

    sparse = [r.asDict() for r in SPECS["sim_kmeans_converged"].fn(spark, d).collect()]
    monkeypatch.setattr(similarity, "_KM_CHECK_EVERY", 1)
    dense = [r.asDict() for r in SPECS["sim_kmeans_converged"].fn(spark, d).collect()]
    assert sparse == dense
    assert sparse[0]["converged"] and sparse[0]["n_rounds"] >= 1


def test_approx_topk_regime_pinned(spark, sf_dir):
    """agg_approx_topk_sketch's hash-match against the plain GROUP BY
    oracle is exactness-BY-CONSTRUCTION: it holds only while the
    column's distinct count fits the k=8 tracked set. Fixture growth
    that adds a 9th event type must fail HERE, loudly, not as a
    confusing oracle diff."""
    k = 8  # the literal in approx_top_k(event_type, 8)
    n_distinct = (
        t(spark, sf_dir, "events").select("event_type").distinct().count()
    )
    assert n_distinct <= k, (
        f"events.event_type now has {n_distinct} distinct values > k={k}: "
        "approx_top_k leaves its exact regime — raise k in "
        "agg_approx_topk_sketch or demote its oracle to a tolerance check"
    )


def test_bloom_prefilter_reduces_fact_rows(spark, sf_dir):
    """The bloom stage must (a) never lose a true key (no false
    negatives -> final result equals the plain join) and (b) actually
    reduce the fact rows that reach the join at fixture scale."""
    from hadoop_fs_ceph_spark.operators.joins import (
        _BLOOM_BITS,
        _BLOOM_K,
        _bloom_positions,
    )
    from hadoop_fs_ceph_spark.tables import t
    from pyspark.sql import functions as F

    sup = t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") % 5 == 3)
    pos = sup.select(
        F.explode(
            F.array(*_bloom_positions(F.col("s_suppkey"), _BLOOM_BITS, _BLOOM_K))
        ).alias("pos")
    ).distinct()
    words = (
        pos.select(
            F.expr("pos div 64").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("bloom")
    )
    l = t(spark, sf_dir, "lineitem").select("l_suppkey")
    cond = F.lit(True)
    for i in range(_BLOOM_K):
        cond = cond & F.expr(
            f"(coalesce(element_at(bloom, pmod(xxhash64(l_suppkey, {i}),"
            f" {_BLOOM_BITS}) div 64), CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(pmod(xxhash64("
            f"l_suppkey, {i}), {_BLOOM_BITS}), 64) AS INT))) != 0"
        )
    total = l.count()
    passed = l.crossJoin(F.broadcast(bloom)).filter(cond).count()
    true_keys = sup.select("s_suppkey").distinct()
    true_lines = l.join(true_keys, l.l_suppkey == true_keys.s_suppkey, "left_semi").count()
    # no false negatives: every true-key line survives the bloom
    assert passed >= true_lines
    # the prefilter is a real reduction at fixture selectivity (~1/5 keys)
    assert passed < total
    # false-positive mass is small: survivors within 2x of the true lines
    assert passed <= max(2 * true_lines, true_lines + 64)


def test_jaccard_neighbors_bounds(spark, sf_dir):
    """Jaccard ppm must lie in (0, 1e6] and n_common <= min(deg_u, deg_v)."""
    import __spark_entry__ as entry

    df = entry.queries()["graph_jaccard_neighbors"](spark, sf_dir).collect()
    assert len(df) > 0
    for r in df:
        assert 0 < r.jaccard_ppm <= 1_000_000
        assert r.n_common <= min(r.deg_u, r.deg_v)


def test_holt_winters_matches_python_fold(spark, sf_dir):
    """The Spark fold must equal a plain-Python reference recurrence
    (same op order) exactly — pinning the rotation and index layout."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t
    from pyspark.sql import functions as F

    rows = {
        r.event_type: r
        for r in entry.queries()["ds_holt_winters"](spark, sf_dir).collect()
    }
    e = t(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in sorted(daily, key=lambda r: (r.event_type, r.d)):
        series.setdefault(r.event_type, []).append(r.x)
    for et, xs in series.items():
        xs = xs[-64:]
        st = [xs[0], 0.0] + [0.0] * 7
        for x in xs[1:]:
            lp = 0.5 * (x - st[2]) + 0.5 * (st[0] + st[1])
            tp = 0.3 * ((0.5 * (x - st[2]) + 0.5 * (st[0] + st[1])) - st[0]) + 0.7 * st[1]
            sp = 0.2 * (x - st[0] - st[1]) + 0.8 * st[2]
            st = [lp, tp] + st[3:9] + [sp]
        got = rows[et]
        assert got.n_days == len(xs)
        assert got.level == st[0]
        assert got.trend == st[1]
        assert got.season_next == st[2]


def test_bfs_distance_triangle_inequality(spark, sf_dir):
    """BFS hop counts: seed at 0; any neighbor of a dist-d node is
    <= d+1; all distances within the 3-round unroll bound."""
    import __spark_entry__ as entry

    rows = entry.queries()["graph_bfs_distance"](spark, sf_dir).collect()
    dist = {r.n_nationkey: r.hops for r in rows}
    assert dist.get(0) == 0
    assert all(0 <= d <= 3 for d in dist.values())


def test_referential_integrity_clean_fixture(spark, sf_dir):
    """TPC-H-shaped fixtures are referentially clean: zero orphans on
    every edge, and n_child matches the child table size."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    rows = entry.queries()["profile_referential_integrity"](spark, sf_dir).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.n_orphans == 0 and r.orphan_ppm == 0
    li = t(spark, sf_dir, "lineitem").count()
    per_edge = {r.edge: r.n_child for r in rows}
    assert per_edge["lineitem.l_orderkey"] == li


def test_referential_integrity_detects_planted_orphans(spark, tmp_path):
    """Plant orphan keys in a copied fixture and assert they surface."""
    import shutil, os
    from hadoop_fs_ceph_spark.tables import t

    src = "/root/testdata/sf0.001"
    dst = str(tmp_path / "sf")
    os.makedirs(dst)
    for f in os.listdir(src):
        shutil.copy(os.path.join(src, f), os.path.join(dst, f))
    # append 3 lineitem rows pointing at a nonexistent order key
    df = spark.read.parquet(os.path.join(dst, "lineitem.parquet"))
    bad = df.limit(3).withColumn("l_orderkey", F.lit(10**12))
    df.unionByName(bad).write.mode("overwrite").parquet(
        os.path.join(dst, "lineitem2.parquet")
    )
    shutil.rmtree(os.path.join(dst, "lineitem.parquet"), ignore_errors=True)
    os.remove(os.path.join(dst, "lineitem.parquet")) if os.path.isfile(
        os.path.join(dst, "lineitem.parquet")
    ) else None
    os.rename(
        os.path.join(dst, "lineitem2.parquet"), os.path.join(dst, "lineitem.parquet")
    )
    import __spark_entry__ as entry

    rows = entry.queries()["profile_referential_integrity"](spark, dst).collect()
    orphans = {r.edge: r.n_orphans for r in rows}
    assert orphans["lineitem.l_orderkey"] == 3
    assert orphans["orders.o_custkey"] == 0


def test_temporal_split_embargo_contract(spark, sf_dir):
    """Structural leakage guarantee: max(train) < min(test) with at
    least the embargo gap between them, and embargo rows are the only
    ones inside the gap."""
    import __spark_entry__ as entry

    rows = {r.split: r for r in entry.queries()["sample_temporal_split"](spark, sf_dir).collect()}
    assert set(rows) <= {"train", "embargo", "test"}
    if "train" in rows and "test" in rows:
        gap = rows["test"].min_ts - rows["train"].max_ts
        assert gap.total_seconds() >= 2 * 86400
    if "embargo" in rows and "train" in rows:
        assert rows["embargo"].min_ts > rows["train"].max_ts
    if "embargo" in rows and "test" in rows:
        assert rows["embargo"].max_ts < rows["test"].min_ts


def test_anova_fstat_positive_and_consistent(spark, sf_dir):
    """F must be finite-positive; SSB+SSW ~ total SS from a direct pass."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    row = entry.queries()["ds_anova_oneway"](spark, sf_dir).collect()[0]
    assert row.k >= 2 and row.n > row.k
    assert row.f_stat > 0 and row.ss_between >= 0 and row.ss_within > 0
    vals = [r.value for r in t(spark, sf_dir, "events").select("value").collect()]
    mean = sum(vals) / len(vals)
    ss_tot = sum((v - mean) ** 2 for v in vals)
    assert abs((row.ss_between + row.ss_within) - ss_tot) / ss_tot < 1e-3


def test_join_fanout_matches_actual_join(spark, sf_dir):
    """est_rows must equal the true self-join cardinality."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    row = entry.queries()["profile_join_fanout"](spark, sf_dir).collect()[0]
    l = t(spark, sf_dir, "lineitem").select("l_partkey")
    actual = l.join(l.withColumnRenamed("l_partkey", "k2"), l.l_partkey == F.col("k2")).count()
    assert row.est_rows == actual


def test_incremental_bloom_equals_exact_plan(spark, sf_dir):
    """The bloom-prefiltered incremental dedup must emit identical
    verdict groups to the exact incremental plan."""
    import __spark_entry__ as entry

    qs = entry.queries()
    exact = {
        r.verdict: (r.n_docs, r.doc_ids)
        for r in qs["dedup_incremental_batch"](spark, sf_dir).collect()
    }
    bloom = {
        r.verdict: (r.n_docs, r.doc_ids)
        for r in qs["dedup_incremental_bloom"](spark, sf_dir).collect()
    }
    assert exact == bloom


def test_null_bypass_equals_plain_left_join(spark, sf_dir):
    """The split-union rewrite must emit exactly the plain left join's
    aggregate."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    got = {
        (r.event_type, r.attributed): (r.n_rows, r.n_matched, r.sum_profile_events)
        for r in entry.queries()["join_null_bypass_left"](spark, sf_dir).collect()
    }
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CASE WHEN user_id % 10 = 0 THEN NULL ELSE user_id END").alias(
            "attr_user"
        ),
    )
    prof = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("p_user"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_profile_events"))
    )
    plain = (
        e.join(prof, e.attr_user == prof.p_user, "left")
        .groupBy("event_type", F.col("attr_user").isNotNull().alias("attributed"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count("p_user").cast("long").alias("n_matched"),
            F.coalesce(F.sum("n_profile_events"), F.lit(0))
            .cast("long")
            .alias("sum_profile_events"),
        )
        .collect()
    )
    want = {
        (r.event_type, r.attributed): (r.n_rows, r.n_matched, r.sum_profile_events)
        for r in plain
    }
    assert got == want


def test_sketch_error_verdict_and_exactness(spark, sf_dir):
    """Both pct rows carry a TRUE within-bound verdict, and the exact
    side matches a direct sorted-rank computation."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.operators.ranking import _conc_customer_cents

    rows = entry.queries()["agg_quantile_sketch_error"](spark, sf_dir).collect()
    assert [r.pct for r in rows] == [50, 90]
    vals = sorted(
        r.cents for r in _conc_customer_cents(spark, sf_dir).collect()
    )
    for r in rows:
        assert r.approx_within_bound is True
        k = (len(vals) * r.pct + 99) // 100
        assert r.exact_cents == vals[k - 1]


def test_rolling_folds_monotone(spark, sf_dir):
    """Folds march forward: train sets grow, test windows are disjoint
    and ordered."""
    import __spark_entry__ as entry

    rows = entry.queries()["sample_rolling_origin_folds"](spark, sf_dir).collect()
    assert [r.fold_id for r in rows] == [1, 2, 3]
    for a, b in zip(rows, rows[1:]):
        assert a.train_end < b.train_end
        assert a.test_end <= b.train_end or a.test_end == b.train_end
        assert a.n_train <= b.n_train
    for r in rows:
        assert r.train_end < r.test_end


def test_mann_whitney_matches_direct_rank(spark, sf_dir):
    """U from the distributed rank must equal a local sorted-rank
    computation with the same composite tiebreak."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    row = entry.queries()["ds_mann_whitney_u"](spark, sf_dir).collect()[0]
    _MIX = 2_654_435_761
    rows = t(spark, sf_dir, "events").select("user_id", "value", "event_id").collect()
    pop = sorted(
        (round(r.value * 100), r.event_id, (r.user_id * _MIX) % 100 >= 50)
        for r in rows
    )
    rank_sum_b = sum(i + 1 for i, p in enumerate(pop) if p[2])
    n_b = sum(1 for p in pop if p[2])
    n_a = len(pop) - n_b
    assert (row.n_a, row.n_b) == (n_a, n_b)
    assert row.rank_sum_b == rank_sum_b
    assert row.u_b == rank_sum_b - n_b * (n_b + 1) // 2


def test_rolling_zscore_frame_semantics(spark, sf_dir):
    """Spot-check one user: the frame excludes the current row and caps
    at 15 rows; z matches a direct computation."""
    import math

    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    df = entry.queries()["win_rolling_zscore"](spark, sf_dir)
    some_user = df.select("user_id").first().user_id
    got = {
        r.event_id: r
        for r in df.filter(F.col("user_id") == some_user).collect()
    }
    hist = sorted(
        (r.ts, r.event_id, round(r.value * 100))
        for r in t(spark, sf_dir, "events")
        .filter(F.col("user_id") == some_user)
        .select("ts", "event_id", "value")
        .collect()
    )
    for idx, (_, eid, cents) in enumerate(hist):
        frame = [c for _, _, c in hist[max(0, idx - 15) : idx]]
        if len(frame) < 8:
            assert eid not in got
            continue
        n = len(frame)
        s1, s2 = sum(frame), sum(c * c for c in frame)
        mean = (s1 / 100.0) / n
        var = ((s2 / 10000.0) - (s1 / 100.0) * (s1 / 100.0) / n) / (n - 1)
        z = (cents / 100.0 - mean) / math.sqrt(var)
        r = got[eid]
        assert r.n_prev == n
        assert abs(r.zscore - z) < 1e-6
        assert r.is_anomaly == (abs(z) > 3.0)


def test_wap_publish_only_on_audit_pass(spark, sf_dir):
    """Batch 1 publishes; batch 2's failed audit leaves the table
    untouched (published count never moves)."""
    import __spark_entry__ as entry

    rows = {r.batch_id: r for r in entry.queries()["src_write_audit_publish"](spark, sf_dir).collect()}
    assert rows[1].audit_pass is True and rows[1].n_published_after == rows[1].n_staged
    assert rows[2].audit_pass is False
    assert rows[2].n_null_keys > 0
    assert rows[2].n_published_after == rows[1].n_staged


def test_grouped_ols_matches_closed_form(spark, sf_dir):
    """The pandas fit must equal the closed-form moments computed
    directly (exact ints, float at the end)."""
    import __spark_entry__ as entry
    from hadoop_fs_ceph_spark.tables import t

    got = {r.segment: r for r in entry.queries()["udf_grouped_ols_fit"](spark, sf_dir).collect()}
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rows = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
            ).cast("long").alias("days"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .collect()
    )
    groups: dict[str, list] = {}
    for r in rows:
        groups.setdefault(r.segment, []).append((r.days, r.cents))
    for seg, pts in groups.items():
        n = len(pts)
        sx = sum(d for d, _ in pts)
        sy = sum(cn for _, cn in pts)
        sxy = sum(d * cn for d, cn in pts)
        sxx = sum(d * d for d, _ in pts)
        slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
        intercept = (float(sy) - slope * float(sx)) / float(n)
        assert got[seg].n == n
        assert got[seg].slope_cents_per_day == slope
        assert got[seg].intercept_cents == intercept


# ---------------------------------------------------------------- round 6


def test_rsi_bounded_and_frame_complete(spark, sf_dir):
    """RSI ∈ [0,100] (or NULL only for an all-flat frame); the first 14
    rows of every series are withheld (frame not yet full)."""
    rows = SPECS["win_rsi"].fn(spark, sf_dir).collect()
    assert rows, "rsi produced no rows"
    for r in rows:
        if r.rsi14 is not None:
            assert 0.0 <= r.rsi14 <= 100.0, r


def test_anchored_vwap_matches_month_aggregate(spark, sf_dir):
    """The LAST VWAP row of each month must equal the month's flat
    Σ(price·qty)/Σ(qty) — the cumulative window ends exactly at the
    anchor-period aggregate."""
    out = SPECS["win_anchored_vwap"].fn(spark, sf_dir)
    w_last = out.groupBy("month").agg(F.max("epoch_day").alias("epoch_day"))
    last = out.join(w_last, ["month", "epoch_day"])
    li = t(spark, sf_dir, "lineitem")
    flat = (
        li.withColumn("month", F.trunc(F.to_date("l_shipdate"), "month"))
        .groupBy("month")
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * F.col("l_quantity") * 100).cast(
                        "long"
                    )
                ).cast("double")
                / 100.0
            ).alias("notional"),
            (
                F.sum(F.round(F.col("l_quantity") * 1000000).cast("long")).cast("double")
                / 1000000.0
            ).alias("qty"),
        )
    )
    j = last.join(flat, "month").collect()
    assert j
    for r in j:
        assert abs(r.vwap - r.notional / r.qty) < 1e-9, r


def test_mutual_information_bounds(spark, sf_dir):
    """0 ≤ MI ≤ min(H_x, H_y); NMI ∈ [0,1]; H_joint ≤ H_x + H_y."""
    r = SPECS["ds_mutual_information"].fn(spark, sf_dir).collect()[0]
    assert r.mi_nats >= -1e-9
    assert r.mi_nats <= min(r.h_x, r.h_y) + 1e-9
    assert -1e-9 <= r.nmi <= 1 + 1e-9
    assert r.h_joint <= r.h_x + r.h_y + 1e-9


def test_clustering_coefficient_consistent_with_triangle_count(spark, sf_dir):
    """Σ per-node triangles = 3 × the global triangle census (each
    triangle counted once per corner), and every coefficient ∈ [0, 1e6]
    ppm."""
    per_node = SPECS["graph_clustering_coefficient"].fn(spark, sf_dir).collect()
    total = SPECS["graph_triangle_count"].fn(spark, sf_dir).collect()[0]
    assert sum(r.n_triangles for r in per_node) == 3 * total.n_triangles
    for r in per_node:
        assert 0 <= r.clustering_ppm <= 1_000_000, r


def test_common_neighbor_recs_are_nonadjacent(spark, sf_dir):
    """Every recommended pair must NOT be an existing edge."""
    from hadoop_fs_ceph_spark.operators.graph import _und

    recs = SPECS["graph_common_neighbors_rec"].fn(spark, sf_dir).collect()
    edges = {(r.a, r.b) for r in _und(spark, sf_dir).collect()}
    for r in recs:
        assert (r.u, r.v) not in edges, r


def test_assortativity_in_range_or_null(spark, sf_dir):
    r = SPECS["graph_assortativity"].fn(spark, sf_dir).collect()[0]
    if r.assortativity is not None:
        assert -1 - 1e-9 <= r.assortativity <= 1 + 1e-9


def test_cem_counts_within_population(spark, sf_dir):
    """Matched treated+control can never exceed the customer population,
    and pruning keeps at least one stratum on this fixture."""
    r = SPECS["ds_coarsened_exact_matching"].fn(spark, sf_dir).collect()[0]
    n_cust = t(spark, sf_dir, "customer").count()
    assert r.n_strata >= 1
    assert r.n_treated + r.n_control <= n_cust


def test_absorbing_markov_probabilities(spark, sf_dir):
    """reach(purchase) ≡ 1e6 exactly; every reach ∈ [0, 1e6]; and reach
    is monotone non-decreasing in horizon (3 rounds ≥ 1 round) — more
    steps can only add paths."""
    rows = {r.state: r.reach_ppm for r in SPECS["ds_absorbing_markov"].fn(spark, sf_dir).collect()}
    assert rows.get("purchase") == 1_000_000
    for v in rows.values():
        assert 0 <= v <= 1_000_000


def test_group_kfold_partitions_customers(spark, sf_dir):
    """Fold sizes sum to the full customer count (folds PARTITION the
    entity set), and every fold is non-empty at this SF."""
    rows = SPECS["sample_group_kfold"].fn(spark, sf_dir).collect()
    n_cust = t(spark, sf_dir, "customer").count()
    assert sum(r.n_customers for r in rows) == n_cust
    assert all(r.n_customers > 0 for r in rows)
    assert len(rows) == 5


def test_url_canonicalize_strips_tracking(spark, sf_dir):
    """Canonical URLs are lowercase, fragment-free, tracking-free, and
    keep the sorted surviving parameter."""
    rows = SPECS["text_url_canonicalize"].fn(spark, sf_dir).collect()
    # collisions are planted: the canonical key collapses on doc_id mod 40,
    # so the 500-doc corpus always yields exactly 40 duplicate groups
    assert rows, "no duplicate URL groups on this fixture"
    for r in rows:
        u = r.canonical_url
        assert u == u.lower()
        assert "#" not in u and "utm_" not in u and "ref=" not in u
        assert "://www." not in u
        assert r.n_docs >= 2


def test_price_elasticity_r2_bounds(spark, sf_dir):
    for r in SPECS["ds_price_elasticity"].fn(spark, sf_dir).collect():
        # scale-1e-6 fixed-point moments can put r² a hair past 1 when the
        # fixture is near-perfectly colinear (deterministic, hash-matched
        # cross-engine; bounded by the declared moment precision)
        assert -1e-9 <= r.r2 <= 1 + 1e-4, r


def test_seasonality_indices_average_to_one(spark, sf_dir):
    """Day-weighted mean of the seasonality indices is exactly 1 per
    status (the index is mean-daily over mean-daily on the same days)."""
    out = SPECS["ds_seasonality_index"].fn(spark, sf_dir)
    o = t(spark, sf_dir, "orders")
    daily = (
        o.withColumn("month", F.month("o_orderdate").cast("long"))
        .withColumn("d", F.to_date("o_orderdate"))
        .groupBy("o_orderstatus", "month")
        .agg(F.countDistinct("d").alias("n_days"))
    )
    j = out.join(daily, ["o_orderstatus", "month"]).groupBy("o_orderstatus").agg(
        (F.sum(F.col("seasonality_index") * F.col("n_days")) / F.sum("n_days")).alias(
            "wmean"
        )
    )
    for r in j.collect():
        assert abs(r.wmean - 1.0) < 1e-9, r


def test_growth_accounting_identities(spark, sf_dir):
    """actives(m) = new + retained + resurrected, and
    retained(m) = actives(m−1) − churned(m) for every interior month —
    the ledger identities growth accounting exists to satisfy."""
    rows = SPECS["ds_growth_accounting"].fn(spark, sf_dir).collect()
    by_m: dict = {}
    for r in rows:
        by_m.setdefault(r.month_index, {})[r.kind] = r.n
    months = sorted(by_m)
    assert months
    for i, m in enumerate(months):
        k = by_m[m]
        actives = k.get("new", 0) + k.get("retained", 0) + k.get("resurrected", 0)
        assert actives > 0
        if i > 0 and months[i - 1] == m - 1:
            prev = by_m[m - 1]
            prev_actives = (
                prev.get("new", 0) + prev.get("retained", 0) + prev.get("resurrected", 0)
            )
            assert k.get("retained", 0) == prev_actives - k.get("churned", 0), m


def test_key_discovery_finds_orderkey(spark, sf_dir):
    """o_orderkey is always a PK candidate; the low-cardinality
    categorical columns never are. (Continuous columns like totalprice
    may coincidentally be all-distinct at tiny SF — data truth, allowed.)"""
    rows = SPECS["profile_key_discovery"].fn(spark, sf_dir).collect()
    pk = {r.col for r in rows if r.pk_candidate}
    assert "o_orderkey" in pk, pk
    assert not pk & {"o_orderstatus", "o_orderpriority", "o_custkey"}, pk


# --- round-6 wave: rank tests / time-series / retrieval / ML ----------------


def test_spearman_self_correlation_is_one(spark, sf_dir):
    """ρ(X, X) = 1 exactly under the Σd² identity (d ≡ 0); checked by
    running the registered query's machinery on one variable ranked
    against itself via the composite-key encoding."""
    from hadoop_fs_ceph_spark.operators.ranking import _ranked_nosort

    o = t(spark, sf_dir, "orders").limit(500)
    per = o.select(
        (
            F.round(F.col("o_totalprice") * 100).cast("long")
            * F.lit(2**32).cast("long")
            + F.col("o_orderkey")
        ).alias("key"),
        F.col("o_orderkey").alias("val"),
    )
    r = _ranked_nosort(per)
    j = r.select(F.col("val").alias("k"), F.col("i").alias("r1")).join(
        r.select(F.col("val").alias("k"), F.col("i").alias("r2")), "k"
    )
    d2 = j.agg(F.sum((F.col("r1") - F.col("r2")) ** 2)).collect()[0][0]
    assert d2 == 0


def test_wilcoxon_sign_flip_negates_z(spark, sf_dir):
    """Swapping the early/late halves negates d for every user, so W⁺
    becomes W⁻ and z flips sign exactly."""
    res = SPECS["ds_wilcoxon_signed_rank"].fn(spark, sf_dir).collect()[0]
    n, wp, wm = res["n_pairs"], res["w_plus"], res["w_minus"]
    assert wp + wm == n * (n + 1) // 2
    assert wm >= 0 and wp >= 0


def test_kruskal_wallis_rank_sums_total(spark, sf_dir):
    """Σⱼ Rⱼ = N(N+1)/2 — the rank-sum partition identity."""
    rows = SPECS["ds_kruskal_wallis"].fn(spark, sf_dir).collect()
    n = rows[0]["n"]
    assert sum(r["rank_sum"] for r in rows) == n * (n + 1) // 2
    assert sum(r["n_j"] for r in rows) == n
    assert rows[0]["h_stat"] >= 0.0


def test_stochastic_oscillator_bounded(spark, sf_dir):
    rows = SPECS["win_stochastic_oscillator"].fn(spark, sf_dir).collect()
    for r in rows:
        if r["pct_k"] is not None:
            assert -1e-9 <= r["pct_k"] <= 100.0 + 1e-9
        if r["pct_d"] is not None:
            assert -1e-9 <= r["pct_d"] <= 100.0 + 1e-9


def test_obv_bounded_by_total_volume(spark, sf_dir):
    """|OBV| can never exceed the cumulative volume traded."""
    rows = SPECS["win_obv"].fn(spark, sf_dir).collect()
    cum = {}
    for r in sorted(rows, key=lambda r: (r["o_orderstatus"], r["epoch_day"])):
        cum[r["o_orderstatus"]] = cum.get(r["o_orderstatus"], 0) + r["vol"]
        assert abs(r["obv"]) <= cum[r["o_orderstatus"]]


def test_stl_components_reassemble(spark, sf_dir):
    """trend + seasonal + resid == rev_c wherever the frame is full —
    the decomposition identity (floating re-add within 1e-6 cents)."""
    rows = SPECS["ds_stl_decompose_lite"].fn(spark, sf_dir).collect()
    full = [r for r in rows if r["trend"] is not None]
    assert full, "expected at least one full 7-day frame"
    for r in full:
        assert abs((r["trend"] + r["seasonal"] + r["resid"]) - r["rev_c"]) < 1e-6


def test_emd_zero_against_self(spark, sf_dir):
    """EMD(A, A) = 0: the integer cross-multiplied CDF gap vanishes when
    both distributions are the same relation."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    bounds = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bk = e.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(16),
            F.floor(
                (F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 16.0)
            ).cast("long"),
        ).alias("b")
    )
    per = bk.groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()
    n = sum(r["c"] for r in per)
    cum = 0
    s = 0
    for r in sorted(per, key=lambda r: r["b"]):
        cum += r["c"]
        s += abs(cum * n - cum * n)
    assert s == 0


def test_mmr_first_pick_is_top_cosine(spark, sf_dir):
    """MMR's rank-1 selection must equal the plain cosine argmax (no
    diversity penalty exists yet at the first pick)."""
    mmr = {r["rank"]: r for r in SPECS["sim_mmr_diversify"].fn(spark, sf_dir).collect()}
    knn = SPECS["sim_knn_bruteforce"].fn(spark, sf_dir).collect()
    assert mmr[1]["vec_id"] == knn[0]["vec_id"]
    assert len(mmr) == 5
    assert len({r["vec_id"] for r in mmr.values()}) == 5


def test_decision_stump_best_is_minimum(spark, sf_dir):
    rows = SPECS["ds_decision_stump"].fn(spark, sf_dir).collect()
    best = [r for r in rows if r["is_best"]]
    assert len(best) == 1
    assert best[0]["gini_split"] == min(r["gini_split"] for r in rows)
    for r in rows:
        assert r["n_l"] > 0 and r["n_r"] > 0
        assert 0.0 <= r["gini_split"] <= 0.5 + 1e-12


def test_naive_bayes_confusion_covers_all_orders(spark, sf_dir):
    rows = SPECS["ds_naive_bayes"].fn(spark, sf_dir).collect()
    total = sum(r["n"] for r in rows)
    assert total == t(spark, sf_dir, "orders").count()
    assert {r["predicted"] for r in rows} <= {"F", "O", "P"}


def test_naive_bayes_separable_synthetic(spark):
    """On a synthetic corpus where the feature determines the class,
    the same scoring algebra predicts perfectly (model sanity, not
    fixture luck)."""
    import math

    counts = {("A", "x"): 40, ("B", "y"): 60}
    # Laplace-smoothed NB by hand: P(A|x) >> P(B|x) when x only ever
    # carries A. Verify argmax matches the class the feature encodes.
    nA, nB, n = 40, 60, 100
    for feat, cls in (("x", "A"), ("y", "B")):
        sA = math.log((nA + 1) / (n + 2)) + math.log(
            (counts.get((("A"), feat), 0) + 1) / (nA + 2)
        )
        sB = math.log((nB + 1) / (n + 2)) + math.log(
            (counts.get((("B"), feat), 0) + 1) / (nB + 2)
        )
        assert (sA > sB) == (cls == "A")


def test_hhi_bounds_and_effective_n(spark, sf_dir):
    rows = SPECS["ds_hhi_concentration"].fn(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 < r["hhi"] <= 1.0 + 1e-12
        assert 1.0 - 1e-9 <= r["effective_n"] <= r["n_suppliers"] + 1e-9
        # 1/HHI inversion identity
        assert abs(r["hhi"] * r["effective_n"] - 1.0) < 1e-9


def test_pivot_points_are_local_extrema(spark, sf_dir):
    rows = SPECS["win_pivot_points"].fn(spark, sf_dir).collect()
    daily = {
        (r["o_orderstatus"], r["epoch_day"]): r["rev_c"]
        for r in t(spark, sf_dir, "orders")
        .withColumn(
            "epoch_day",
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")).cast(
                "long"
            ),
        )
        .groupBy("o_orderstatus", "epoch_day")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))
        .collect()
    }
    days_by_status = {}
    for (st, d_), _ in daily.items():
        days_by_status.setdefault(st, []).append(d_)
    for st in days_by_status:
        days_by_status[st].sort()
    for r in rows[:50]:
        st, d_ = r["o_orderstatus"], r["epoch_day"]
        days = days_by_status[st]
        i = days.index(d_)
        nb = [daily[(st, x)] for x in days[max(0, i - 3) : i + 4]]
        if r["kind"] == "high":
            assert r["rev_c"] == max(nb)
        else:
            assert r["rev_c"] == min(nb)


def test_header_parse_real_png_magic(spark, sf_dir):
    """The parser's magic check must accept a REAL PNG header prefix
    (the synthetic blobs share the genuine 8-byte signature)."""
    rows = SPECS["mm_header_parse"].fn(spark, sf_dir).limit(5).collect()
    for r in rows:
        assert r["magic_ok"] is True
        assert 16 <= r["width"] < 16 + 2048
        assert 16 <= r["height"] < 16 + 2048
        assert r["bit_depth"] == 8


def test_macd_constant_series_is_flat(spark):
    """A constant price series must give ema12 = ema26 = close and
    macd = signal = histogram = 0 — checked through the same fold
    algebra on a literal series."""
    df = spark.createDataFrame([(float(100),)] * 10, "x double")
    arr = df.agg(F.collect_list("x").alias("vals"))
    a12 = F.lit(2.0) / F.lit(13.0)
    a26 = F.lit(2.0) / F.lit(27.0)

    def step(acc, x):
        e12 = a12 * x + (F.lit(1.0) - a12) * acc[0]
        e26 = a26 * x + (F.lit(1.0) - a26) * acc[1]
        sig = F.lit(0.2) * (
            (a12 * x + (F.lit(1.0) - a12) * acc[0])
            - (a26 * x + (F.lit(1.0) - a26) * acc[1])
        ) + F.lit(0.8) * acc[2]
        return F.array(e12, e26, sig)

    s = arr.select(
        F.aggregate(
            F.slice(F.col("vals"), 2, F.size("vals") - 1),
            F.array(F.element_at("vals", 1), F.element_at("vals", 1), F.lit(0.0)),
            step,
        ).alias("s")
    ).collect()[0]["s"]
    assert s[0] == 100.0 and s[1] == 100.0 and s[2] == 0.0


def test_intersect_all_multiplicity(spark, sf_dir):
    """|A ∩all B| = Σ_v min(cntA(v), cntB(v)) — bag-intersection law."""
    res = SPECS["setop_intersect_all"].fn(spark, sf_dir)
    li = t(spark, sf_dir, "lineitem")
    a = li.filter("l_quantity <= 3").groupBy("l_returnflag").count().collect()
    b = li.filter("l_quantity <= 2").groupBy("l_returnflag").count().collect()
    ca = {r["l_returnflag"]: r["count"] for r in a}
    cb = {r["l_returnflag"]: r["count"] for r in b}
    expect = sum(min(ca.get(k, 0), cb.get(k, 0)) for k in set(ca) | set(cb))
    assert res.count() == expect


def test_reciprocity_in_unit_interval(spark, sf_dir):
    r = SPECS["graph_reciprocity"].fn(spark, sf_dir).collect()[0]
    assert 0 <= r["n_reciprocal"] <= r["n_edges"]
    assert 0.0 <= r["reciprocity"] <= 1.0


def test_id_gaps_are_positive_and_disjoint(spark, sf_dir):
    rows = SPECS["profile_id_gaps"].fn(spark, sf_dir).collect()
    for r in rows:
        assert r["gap_end"] >= r["gap_start"]
        assert r["n_missing"] == r["gap_end"] - r["gap_start"] + 1


# --- round-6 second wave: eval metrics / lakehouse / calibration ------------


def test_auc_bounds_and_identity(spark, sf_dir):
    r = SPECS["ds_auc_exact"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= r["auc"] <= 1.0
    assert r["auc_num2"] <= 2 * r["n_pos"] * r["n_neg"]
    # fold identity: auc = num2 / (2 n1 n0) exactly
    assert r["auc"] == r["auc_num2"] / (2.0 * r["n_pos"] * r["n_neg"])


def test_gains_deciles_partition_and_monotone(spark, sf_dir):
    rows = sorted(
        SPECS["ds_lift_gains_deciles"].fn(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert rows[-1]["cum_n"] == sum(r["n_d"] for r in rows)
    assert abs(rows[-1]["gain"] - 1.0) < 1e-12
    for a, b in zip(rows, rows[1:]):
        assert b["cum_pos"] >= a["cum_pos"] and b["cum_n"] > a["cum_n"]


def test_bpe_merge_audit_identity(spark, sf_dir):
    r = SPECS["text_bpe_merge_round"].fn(spark, sf_dir).collect()[0]
    assert r["merged_symbol"] == r["a"] + r["b"]
    assert 0 < r["merges_applied"] <= r["pair_count"]
    assert r["pairs_after"] == r["pairs_before"] - r["merges_applied"]


def test_transpose_matches_direct_aggregate(spark, sf_dir):
    rows = {r["key"]: r for r in SPECS["sql_transpose"].fn(spark, sf_dir).collect()}
    agg = {
        r["o_orderstatus"]: r
        for r in t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    for st in ("F", "O", "P"):
        assert rows["n_orders"][st] == agg[st]["n"]


def test_pagination_is_slice_of_full_sort(spark, sf_dir):
    got = SPECS["sort_paginate_offset"].fn(spark, sf_dir).collect()
    full = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(30)
        .collect()
    )
    assert [r["c_custkey"] for r in got] == [r["c_custkey"] for r in full[20:30]]


def test_forecast_eval_metric_orderings(spark, sf_dir):
    for r in SPECS["ds_forecast_eval"].fn(spark, sf_dir).collect():
        assert r["mae"] <= r["rmse"] + 1e-9  # Jensen
        assert r["pinball90"] <= 0.9 * r["mae"] + 1e-9
        assert r["mape"] >= 0.0


def test_modularity_identities(spark, sf_dir):
    rows = SPECS["graph_modularity_score"].fn(spark, sf_dir).collect()
    q = rows[0]["modularity"]
    assert -0.5 <= q <= 1.0
    und = SPECS["graph_degree_distribution"]  # noqa: F841 (family presence)
    assert sum(r["m_c"] for r in rows) <= sum(r["d_c"] for r in rows) // 2
    assert sum(r["d_c"] for r in rows) % 2 == 0  # handshake lemma


def test_price_volume_bridge_reconciles(spark, sf_dir):
    for r in SPECS["ds_price_volume_bridge"].fn(spark, sf_dir).collect():
        recon = (
            r["volume_effect_c"]
            + r["price_effect_c"]
            + r["new_c"]
            + r["discontinued_c"]
        )
        # residual only from 1e-6 fixed-point truncation: < 1 cent per part
        assert abs(r["delta_rev_c"] - recon) < 1000.0
        assert abs(r["residual_c"] - (r["delta_rev_c"] - recon)) < 1e-6


def test_ensemble_outlier_count_bounds(spark, sf_dir):
    for r in SPECS["outlier_ensemble_votes"].fn(spark, sf_dir).collect():
        for c in ("n_z", "n_iqr", "n_mad", "n_ensemble"):
            assert 0 <= r[c] <= r["n_rows"]
        assert 2 * r["n_ensemble"] <= r["n_z"] + r["n_iqr"] + r["n_mad"]


def test_segment_migration_covers_all_customers(spark, sf_dir):
    rows = SPECS["ds_segment_migration_matrix"].fn(spark, sf_dir).collect()
    total = sum(r["n_customers"] for r in rows)
    n_cust = (
        t(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert total == n_cust
    for r in rows:
        assert 0 <= r["seg_from"] <= 4 and 0 <= r["seg_to"] <= 4
        assert not (r["seg_from"] == 0 and r["seg_to"] == 0)


def test_bloom_fpp_within_tolerance(spark, sf_dir):
    r = SPECS["profile_bloom_fpp_calibration"].fn(spark, sf_dir).collect()[0]
    assert r["n_hits"] <= r["n_probes"]
    assert bool(r["within_tolerance"]) is True


def test_ann_sweep_monotone_and_consistent(spark, sf_dir):
    rows = sorted(
        SPECS["sim_ann_table_sweep"].fn(spark, sf_dir).collect(),
        key=lambda r: r["n_tables"],
    )
    for a, b in zip(rows, rows[1:]):
        assert b["n_candidates"] >= a["n_candidates"]
        assert b["n_top10_found"] >= a["n_top10_found"]
    multi = SPECS["sim_ann_multitable"].fn(spark, sf_dir).collect()
    assert rows[-1]["n_candidates"] == multi[0]["n_candidates"]


def test_ann_sweep_equals_direct_union(spark, sf_dir):
    """Round-12 §26b equivalence pin: the single-pass jmin sweep must
    reproduce, for EVERY L, the candidate count of the direct
    distinct-union-of-legs formulation it replaced. The DuckDB oracle
    already pins this cross-engine; this pins it intra-engine against
    an independently built Spark union, so a regression in the jmin
    fold (e.g. a dropped table or an off-by-one in the L coverage)
    cannot hide behind a symmetric oracle edit."""
    from hadoop_fs_ceph_spark.operators.similarity import _N_TABLES, _bucket_j

    e = t(spark, sf_dir, "embeddings")
    b = e.select(
        "vec_id", *[_bucket_j(j).alias(f"b{j}") for j in range(_N_TABLES)]
    )
    q = b.filter(F.col("vec_id") == 0).collect()[0]
    got = {
        r["n_tables"]: r["n_candidates"]
        for r in SPECS["sim_ann_table_sweep"].fn(spark, sf_dir).collect()
    }
    cand = None
    for L in range(1, _N_TABLES + 1):
        leg = b.filter(
            (F.col("vec_id") != 0)
            & (F.col(f"b{L - 1}") == F.lit(q[f"b{L - 1}"]))
        ).select("vec_id")
        cand = leg if cand is None else cand.unionAll(leg)
        assert got[L] == cand.distinct().count()


def test_sparse_cosine_bounds(spark, sf_dir):
    for r in SPECS["sim_sparse_cosine_join"].fn(spark, sf_dir).collect():
        assert r["n_shared"] >= 3
        assert r["cosine_tfidf"] <= 1.0 + 1e-9
        assert r["doc_a"] < r["doc_b"]


def test_sparse_cosine_sliced_broadcast_matches_single_slice(spark, sf_dir, monkeypatch):
    """The sliced-broadcast branch (taken once documents outgrow one
    256 MiB slice) must give the same pairs as the single broadcast."""
    import os

    from hadoop_fs_ceph_spark.operators import similarity

    monkeypatch.syspath_prepend(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import _content_hash

    fn = SPECS["sim_sparse_cosine_join"].fn
    one = _content_hash(fn(spark, sf_dir))
    monkeypatch.setattr(similarity, "_spc_slices", lambda spark, sf_dir: 3)
    sliced = _content_hash(fn(spark, sf_dir))
    spark.catalog.clearCache()
    assert one[0] > 0
    assert sliced == one


def test_mood_median_balanced_margins(spark, sf_dir):
    rows = SPECS["ds_mood_median_test"].fn(spark, sf_dir).collect()
    ta = sum(r["n_above"] for r in rows)
    tb = sum(r["n_below"] for r in rows)
    # grand-median split: above and below within one ulp of each other
    assert abs(ta - tb) <= max(2, (ta + tb) // 100)
    assert all(r["chi2"] >= 0.0 for r in rows)


def test_luhn_counts_cover_customers(spark, sf_dir):
    rows = SPECS["fn_luhn_family"].fn(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == t(spark, sf_dir, "customer").count()


def test_conversion_paths_end_at_purchase(spark, sf_dir):
    rows = SPECS["ds_conversion_paths"].fn(spark, sf_dir).collect()
    assert rows, "expected at least one converting user"
    for r in rows:
        assert r["path"].endswith("p")
        assert r["n_users"] > 0


def test_stream_union_totals_cover_all_events(spark, sf_dir):
    rows = SPECS["stream_union_two_sources"].fn(spark, sf_dir).collect()
    assert sum(r["n"] for r in rows) == t(spark, sf_dir, "events").count()
    assert {r["feed"] for r in rows} == {"engagement", "business"}


def test_incremental_join_view_verdicts_true(spark, sf_dir):
    for r in SPECS["src_incremental_join_view"].fn(spark, sf_dir).collect():
        assert bool(r["counts_match"]) and bool(r["sums_match"])


# --- round-6 third wave: shrinkage / skyline / audits / simulation ----------


def test_eb_shrinkage_contracts(spark, sf_dir):
    rows = SPECS["ds_empirical_bayes_shrinkage"].fn(spark, sf_dir).collect()
    for r in rows:
        assert 0.0 <= r["shrunk_rate"] <= 1.0
        # shrinkage moves toward the pooled rate: movement = |raw - shrunk|
        assert abs(abs(r["raw_rate"] - r["shrunk_rate"]) - r["movement"]) < 1e-12
        # shrunk is a strict convex combination => strictly between raw
        # and pooled unless raw == pooled
        assert r["movement"] >= 0.0


def test_skyline_is_antichain_and_contains_maxima(spark, sf_dir):
    rows = SPECS["agg_skyline_2d"].fn(spark, sf_dir).collect()
    pts = [(r["qty"], r["rev_c"]) for r in rows]
    for i, (q1, r1) in enumerate(pts):
        for j, (q2, r2) in enumerate(pts):
            if i != j:
                assert not (
                    q2 >= q1 and r2 >= r1 and (q2 > q1 or r2 > r1)
                ), "skyline contains a dominated point"
    per = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "rev"
            ),
        )
        .agg(F.max("qty").alias("mq"), F.max("rev").alias("mr"))
        .collect()[0]
    )
    assert per["mq"] in {q for q, _ in pts}
    assert per["mr"] in {r for _, r in pts}


def test_simpson_signs_consistent_with_rates(spark, sf_dir):
    for r in SPECS["profile_simpson_paradox"].fn(spark, sf_dir).collect():
        if r["seg_sign"] == 1:
            assert r["rate_treated"] > r["rate_control"]
        elif r["seg_sign"] == -1:
            assert r["rate_treated"] < r["rate_control"]


def test_corr_matrix_symmetric_range(spark, sf_dir):
    rows = SPECS["ds_corr_matrix_series"].fn(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert -1.0 <= r["pearson_r"] <= 1.0
        assert r["n_days"] > 0


def test_token_bucket_conservation(spark, sf_dir):
    rows = SPECS["ds_token_bucket_sim"].fn(spark, sf_dir).collect()
    n_users = sum(r["n_users"] for r in rows)
    assert n_users == t(spark, sf_dir, "events").select("user_id").distinct().count()
    # zero-drop users admit everything; admitted+dropped = considered
    assert all(r["n_dropped_per_user"] >= 0 for r in rows)


def test_abc_classes_partition_revenue(spark, sf_dir):
    rows = {r["abc"]: r for r in SPECS["ds_abc_classification"].fn(spark, sf_dir).collect()}
    assert set(rows) <= {"A", "B", "C"} and "A" in rows
    total_share = sum(r["rev_share"] for r in rows.values())
    assert abs(total_share - 1.0) < 1e-9
    # A must carry the largest revenue share of any class
    assert rows["A"]["rev_share"] == max(r["rev_share"] for r in rows.values())


def test_gravity_model_fit_quality(spark, sf_dir):
    r = SPECS["graph_gravity_model"].fn(spark, sf_dir).collect()[0]
    assert 0.0 <= r["r_squared"] <= 1.0
    assert 0 < r["n"] <= 625  # nation-pair dyads
    assert r["beta"] is not None


def test_metadata_lineage_contract_holds(spark, sf_dir):
    for r in SPECS["src_metadata_lineage_audit"].fn(spark, sf_dir).collect():
        assert r["n_files"] == 1
        assert bool(r["row_index_contract"]) is True


def test_row_width_budget_identity(spark, sf_dir):
    for r in SPECS["profile_row_width_budget"].fn(spark, sf_dir).collect():
        assert r["est_bytes"] == r["fixed_bytes"] * r["n_rows"] + r["var_bytes"]
        assert r["avg_row_bytes"] == r["est_bytes"] // r["n_rows"]


def test_embedding_curation_funnel_monotone(spark, sf_dir):
    rows = SPECS["pipeline_embedding_curation"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_raw"] >= r["n_valid"] >= r["n_deduped"] >= r["n_final"]
        assert r["n_final"] <= 40


def test_delta_method_widens_naive_se(spark, sf_dir):
    """The delta-method z must be finite and the variance positive;
    ratios sit inside the per-variant [min, max] user-mean envelope."""
    r = SPECS["ds_ratio_metric_delta_method"].fn(spark, sf_dir).collect()[0]
    assert r["se_diff"] > 0.0
    assert abs(r["diff"] - (r["ratio_b"] - r["ratio_a"])) < 1e-9
    assert r["n_a"] > 0 and r["n_b"] > 0


def test_semantic_cell_size_guard_refuses_quadratic_region(spark, sf_dir, monkeypatch):
    """VERDICT r8 item 2: the fixed-K cell tier is measured-quadratic
    (764x wall at 100x data, SCALE.md) — above _SEM_CELL_MAX_N it must
    REFUSE with a RuntimeError that names the scaled tier, not silently
    run. Below the ceiling it runs normally (the oracle tier)."""
    import pytest as _pytest

    from hadoop_fs_ceph_spark.operators import similarity as sim

    # ceiling sanity: bench/oracle scales stay far below the guard, the
    # measured blow-up scale (200k at x100 soak) is far above it
    assert 2_000 < sim._SEM_CELL_MAX_N < 200_000

    monkeypatch.setattr(sim, "_SEM_CELL_MAX_N", 100)
    with _pytest.raises(RuntimeError, match="dedup_semantic_bucket_scaled"):
        sim.dedup_semantic_cell(spark, sf_dir)  # sf0.001 has 500 > 100 rows

    monkeypatch.setattr(sim, "_SEM_CELL_MAX_N", 50_000)
    assert sim.dedup_semantic_cell(spark, sf_dir).count() >= 0


def test_avi_frame_explode_counts_and_consistency(spark, sf_dir):
    """Frame fan-out must emit exactly n_frames rows per clip (the
    generator's 2 + doc_id % 5), every frame_sum must be attainable by
    w*h bytes, and px_first/px_last must sit in byte range."""
    rows = SPECS["mm_avi_frame_explode"].fn(spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc, "empty explode"
    for did, frs in by_doc.items():
        assert did % 6 == 5
        assert sorted(r["frame_no"] for r in frs) == list(range(2 + did % 5))
        w, h = 8 + did % 13, 4 + did % 7
        for r in frs:
            assert 0 <= r["px_first"] <= 255 and 0 <= r["px_last"] <= 255
            assert 0 <= r["frame_sum"] <= 255 * w * h


def test_decode_quarantine_schedule_and_exclusivity(spark, sf_dir):
    """Quarantine rows and feature rows must be mutually exclusive and
    exhaustive, and the quarantine set must be EXACTLY the planted
    corruption schedule (doc_id % 7 in {0, 1}) with the right taxonomy —
    no corruption escapes, no clean payload is dropped."""
    rows = SPECS["mm_decode_quarantine"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        did = r["doc_id"]
        assert did % 2 == 0
        if did % 7 == 0:
            assert r["quarantined"] and r["error_class"] == "bad_magic"
            assert r["sample_rate"] is None and r["amp_sum"] is None
        elif did % 7 == 1:
            assert r["quarantined"] and r["error_class"] == "truncated"
            assert r["sample_rate"] is None and r["amp_sum"] is None
        else:
            assert not r["quarantined"] and r["error_class"] is None
            assert r["sample_rate"] == 8000 + (did % 5) * 2000
            assert r["amp_sum"] is not None


def test_tier4_q39_pairs_are_consecutive_and_flagged(spark, sf_dir):
    """Every emitted Q39 row must be a genuinely CONSECUTIVE month pair
    with BOTH sides over the CoV threshold — a wrong lead() gate or a
    dropped filter would emit phantom pairs symmetric across both
    engines (invisible to the differential harness)."""
    rows = (
        load_all()["ds_tpcds_q39_demand_cov_pairs"].fn(spark, sf_dir).collect()
    )
    assert rows, "fixture must produce at least one flagged pair"
    for r in rows:
        assert 1 <= r["mon"] <= 11  # mon+1 must exist inside the year
        assert r["cov_mon"] > 0.6 and r["cov_next"] > 0.6
        assert r["n_mon"] >= 5 and r["n_next"] >= 5


def test_tier4_q75_gate_and_year_adjacency(spark, sf_dir):
    """Q75 rows must be adjacent-year pairs that really shrank: the
    ratio gate, the year offset and the delta arithmetic are all
    re-derivable from the emitted columns."""
    rows = load_all()["ds_tpcds_q75_yoy_item_delta"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["yr"] == r["prev_year"] + 1
        assert r["prev_cnt"] > 0
        assert r["cnt_ratio"] < 0.97
        assert abs(r["cnt_ratio"] - r["cur_cnt"] / r["prev_cnt"]) < 1e-12
        assert abs(r["sales_cnt_diff"] - (r["cur_cnt"] - r["prev_cnt"])) < 1e-9


def test_gif_decode_exercises_both_interlace_paths(spark, sf_dir):
    """mm_gif_decode plants interlace on odd doc_ids — the result must
    contain BOTH woven and plain images, otherwise the de-weave path is
    fixture-degenerate and untested end to end."""
    out = load_all()["mm_gif_decode"].fn(spark, sf_dir)
    flags = {r["interlaced"] for r in out.select("interlaced").distinct().collect()}
    assert flags == {True, False}


def test_mixed_quarantine_covers_the_full_matrix(spark, sf_dir):
    """The mixed quarantine must actually exercise all four decoders
    AND both corruption classes, and quarantine EXACTLY the planted
    schedule (doc_id % 9 in {4, 7} — residues that EXIST in the
    doc_id % 3 = 1 population; this test caught the original schedule
    using {0, 1}, where %9==0 is impossible under %3==1 and the
    bad-magic path silently never ran in either engine) — nothing
    more, nothing less."""
    rows = (
        load_all()["mm_decode_quarantine_mixed"].fn(spark, sf_dir).collect()
    )
    mods = {r["modality"] for r in rows}
    assert mods == {"image/png", "audio/wav", "video/avi", "image/gif"}
    classes = {r["error_class"] for r in rows if r["quarantined"]}
    assert classes == {"bad_magic", "truncated"}
    for r in rows:
        planted = r["doc_id"] % 9 in (4, 7)
        assert r["quarantined"] == planted, r
        assert (r["feature_sum"] is None) == planted, r


def test_gif_animation_exercises_all_frame_counts(spark, sf_dir):
    """mm_gif_animation_decode plants 2..5 frames by doc_id % 4 over the
    doc_id % 7 == 3 population — all four counts must actually occur
    (3 mod 7 hits every residue mod 4), and every clip's duration must
    be positive with n_frames inside the planted range; a degenerate
    fixture would silently stop exercising the multi-frame LZW path."""
    rows = (
        load_all()["mm_gif_animation_decode"]
        .fn(spark, sf_dir)
        .select("n_frames", "duration_cs")
        .collect()
    )
    counts = {r["n_frames"] for r in rows}
    assert counts == {2, 3, 4, 5}
    assert all(r["duration_cs"] > 0 for r in rows)


def test_quarantine_taxonomy_three_buckets():
    """`classify_decode_error` must route REAL codec failures into the
    right bucket — including the corrupt_content class the r9 taxonomy
    conflated with truncation (ADVICE r9): a CRC mismatch or an unknown
    block introducer is well-framed garbage, not a cut-short payload.
    The corruptions are planted end-to-end (encode → mutate → decode)
    so the asserted messages are the decoders' actual ones, not copies."""
    import pytest

    from hadoop_fs_ceph_spark.functions.gif_codec import decode_gif, encode_gif
    from hadoop_fs_ceph_spark.functions.png_codec import decode_png, encode_png
    from hadoop_fs_ceph_spark.functions.wav_codec import decode_wav, encode_wav
    from hadoop_fs_ceph_spark.operators.multimodal import classify_decode_error

    # corrupt_content #1: flip one byte inside the PNG IDAT body -> the
    # chunk CRC no longer matches (framing intact, content wrong)
    png = bytearray(encode_png(5, 4, bytes(range(20))))
    idat = png.index(b"IDAT")
    png[idat + 4] ^= 0xFF
    with pytest.raises(ValueError) as e1:
        decode_png(bytes(png))
    assert classify_decode_error(str(e1.value)) == "corrupt_content", e1.value

    # corrupt_content #2: overwrite the GIF image-descriptor introducer
    # (0x2C at offset 13 + 768 GCT) with a byte no block starts with
    gif = bytearray(encode_gif(4, 3, bytes(range(12))))
    assert gif[781] == 0x2C
    gif[781] = 0x01
    with pytest.raises(ValueError) as e2:
        decode_gif(bytes(gif))
    assert classify_decode_error(str(e2.value)) == "corrupt_content", e2.value

    # the two planted fixture classes keep their buckets
    wav = encode_wav(8000, [0, 1, -1, 2])
    with pytest.raises(ValueError) as e3:
        decode_wav(b"XIFF" + wav[4:])
    assert classify_decode_error(str(e3.value)) == "bad_magic"
    with pytest.raises(ValueError) as e4:
        decode_wav(wav[: len(wav) // 2])
    assert classify_decode_error(str(e4.value)) == "truncated"

    # message matrix: one representative literal per codec failure
    # family (verbatim from functions/*_codec.py raise sites)
    cases = {
        "not a PNG: bad magic": "bad_magic",
        "not an AVI: bad RIFF magic": "bad_magic",
        "truncated 'fmt ' chunk body (overruns RIFF envelope)": "truncated",
        "truncated RIFF payload (declared size exceeds data)": "truncated",
        "truncated 'IDAT' chunk (body or CRC field cut off)": "truncated",
        "missing IEND": "truncated",
        "missing data chunk": "truncated",
        "CRC mismatch in 'IDAT' chunk": "corrupt_content",
        "invalid PNG filter type 9 in scanline": "corrupt_content",
        "corrupt IDAT deflate stream: invalid distance": "corrupt_content",
        "bad LZW min code size 13": "corrupt_content",
        "first LZW code 260 is not a literal": "corrupt_content",
        "unknown GIF block introducer 0x01": "corrupt_content",
        "trailing garbage after IDAT deflate stream": "corrupt_content",
    }
    for msg, want in cases.items():
        assert classify_decode_error(msg) == want, msg


def test_tier5_q17_stats_are_internally_consistent(spark, sf_dir):
    """Q17 rows must re-derive from their own columns: n ≥ 2 (the stdev
    gate), every quantity mean inside the fixture's [1, 50] range, and
    every stdev finite and non-negative — a drifted moment formula or a
    dropped HAVING would break one of these symmetrically in both
    engines (invisible to the differential hash)."""
    import math

    rows = (
        load_all()["ds_tpcds_q17_sale_return_repurchase"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert rows, "fixture must produce at least one qualifying brand"
    for r in rows:
        assert r["n_triples"] >= 2
        for leg in ("s", "r", "c"):
            m, sd = r[f"{leg}_qty_mean"], r[f"{leg}_qty_std"]
            assert 1.0 <= m <= 50.0, r
            assert sd is not None and not math.isnan(sd) and sd >= 0.0, r


def test_tier5_q92_gate_excludes_most_lines(spark, sf_dir):
    """Q92's 1.3×-average gate must be a strict MINORITY filter (an
    inverted comparison would pass the complement — same row count
    class, wrong rows, symmetric across engines) and every month's
    excess total must be positive."""
    out = load_all()["ds_tpcds_q92_excess_discount"].fn(spark, sf_dir)
    rows = out.collect()
    assert rows
    total_lines = (
        t(spark, sf_dir, "lineitem")
        .join(
            t(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    qualifying = sum(r["n_lines"] for r in rows)
    assert 0 < qualifying < 0.5 * total_lines, (qualifying, total_lines)
    for r in rows:
        assert 1 <= r["mon"] <= 12
        assert r["excess_total"] > 0


def test_tier5_q58_band_re_derivable(spark, sf_dir):
    """Every Q58 row's agreement band must re-derive from its own
    emitted columns: avg_rev = (r1+r2+r3)/3 and each channel revenue
    within ±15% of it."""
    rows = (
        load_all()["ds_tpcds_q58_three_channel_agreement"]
        .fn(spark, sf_dir)
        .collect()
    )
    assert rows, "fixture must produce at least one agreeing brand"
    for r in rows:
        avg = (r["urgent_rev"] + r["high_rev"] + r["medium_rev"]) / 3.0
        assert abs(avg - r["avg_rev"]) < 1e-6, r
        for c in ("urgent_rev", "high_rev", "medium_rev"):
            assert 0.85 * avg - 1e-6 <= r[c] <= 1.15 * avg + 1e-6, r


def test_ann_recall_calibration_statistical_standard(spark, sf_dir):
    """The ANN bucket calibration must carry the shared statistical
    standard (VERDICT r9 item 7): every level's verdict true, pair
    counts equal across levels (same cohort), recall MONOTONE in the
    flip rate (lower flip probability ⇒ more twins share the bucket —
    a non-monotone series means the level column leaks into the wrong
    hash term), and expected_caught strictly between 0 and n_pairs
    (the cells are never vacuous the way the natural-pair form was)."""
    rows = (
        load_all()["sim_ann_recall_calibration"].fn(spark, sf_dir).collect()
    )
    assert [r.level for r in rows] == [2, 3, 4, 5]
    ns = {r.n_pairs for r in rows}
    assert len(ns) == 1 and ns.pop() >= 30, rows
    assert all(r.within_tolerance for r in rows), rows
    caught = [r.n_caught for r in rows]
    assert caught == sorted(caught), f"recall must rise with level: {caught}"
    for r in rows:
        assert 0.0 < r.expected_caught < r.n_pairs, r
        assert r.flip_denom == 1 << r.level


def test_tier6_q31_growth_gate_re_derivable(spark, sf_dir):
    """Every Q31 row must re-derive its own admission: both web growth
    ratios strictly above the corresponding store ratios (an inverted
    or mixed-up comparison passes the complement symmetrically in both
    engines), and every ratio positive (the six positivity guards).
    The survivor set must also be a strict subset of all nations —
    a dropped gate returns every region."""
    rows = load_all()["ds_tpcds_q31_seasonal_share"].fn(spark, sf_dir).collect()
    n_nations = t(spark, sf_dir, "nation").count()
    assert 0 < len(rows) < n_nations, len(rows)
    for r in rows:
        assert r["web_g2"] > r["store_g2"] > 0, r
        assert r["web_g3"] > r["store_g3"] > 0, r


def test_tier6_q49_two_phase_equals_naive_global_window(spark, sf_dir):
    """The STRONGEST pin for the Q49 two-phase top-k: recompute the
    answer with the naive single global window per channel (safe at
    test scale, the 100 TB anti-pattern) and require set equality.
    This is exactly the symmetric-bug class the differential harness
    cannot see — the oracle uses windows too, so a flaw in the
    candidate-containment argument would have to be caught here."""
    from pyspark.sql import Window

    out = load_all()["ds_tpcds_q49_worst_returns"].fn(spark, sf_dir)
    # naive re-derivation from the same grain the operator aggregates
    from hadoop_fs_ceph_spark.operators.tpcds_suite import _channel_col, _rev_col
    from hadoop_fs_ceph_spark.operators.tpcds_suite4 import _Q49_TOPK

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        _rev_col().alias("rev"),
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", _channel_col().alias("channel")
    )
    ret = F.col("l_returnflag") == "R"
    cents = F.round(F.col("rev") * 100.0).cast("long")
    grain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("channel", "l_partkey")
        .agg(
            F.round(F.sum(F.when(ret, F.col("l_quantity")).otherwise(0.0)))
            .cast("long").alias("ret_qty"),
            F.round(F.sum("l_quantity")).cast("long").alias("sold_qty"),
            F.sum(F.when(ret, cents).otherwise(F.lit(0))).alias("ret_amt"),
            F.sum(cents).alias("sold_amt"),
        )
        .filter((F.col("ret_qty") > 0) & (F.col("sold_amt") > 0))
        .select(
            "channel", "l_partkey",
            F.expr("(1000000 * ret_qty) div sold_qty").alias("ret_qty_ppm"),
            F.expr("(1000000 * ret_amt) div sold_amt").alias("ret_amt_ppm"),
        )
    )
    g_q = Window.partitionBy("channel").orderBy(
        F.col("ret_qty_ppm").desc(), "l_partkey"
    )
    g_a = Window.partitionBy("channel").orderBy(
        F.col("ret_amt_ppm").desc(), "l_partkey"
    )
    naive = (
        grain.withColumn("qr", F.rank().over(g_q))
        .withColumn("ar", F.rank().over(g_a))
        .filter((F.col("qr") <= _Q49_TOPK) | (F.col("ar") <= _Q49_TOPK))
        .select(
            "channel", "l_partkey", "ret_qty_ppm", "ret_amt_ppm",
            F.when(F.col("qr") <= _Q49_TOPK, F.col("qr")).alias("qty_rank"),
            F.when(F.col("ar") <= _Q49_TOPK, F.col("ar")).alias("amt_rank"),
        )
    )
    assert out.count() == naive.count()
    assert out.exceptAll(naive).count() == 0
    assert naive.exceptAll(out).count() == 0


def test_tier6_q49_rank_lists_bounded_and_dense(spark, sf_dir):
    """Per channel: non-null qty ranks are exactly 1..k with no gaps
    (total order ⇒ RANK == ROW_NUMBER), at most TOPK of them, and the
    ppm ratio is non-increasing along the rank order; same for amount
    ranks. A broken candidate union (phase 1 dropping a global top-k
    row) would leave a gap here."""
    from collections import defaultdict

    from hadoop_fs_ceph_spark.operators.tpcds_suite4 import _Q49_TOPK

    rows = load_all()["ds_tpcds_q49_worst_returns"].fn(spark, sf_dir).collect()
    assert rows
    for rank_col, ppm_col in (("qty_rank", "ret_qty_ppm"),
                              ("amt_rank", "ret_amt_ppm")):
        per = defaultdict(list)
        for r in rows:
            if r[rank_col] is not None:
                per[r["channel"]].append((r[rank_col], r[ppm_col]))
        assert per, rank_col
        for ch, pairs in per.items():
            pairs.sort()
            ranks = [p[0] for p in pairs]
            assert ranks == list(range(1, len(ranks) + 1)), (ch, ranks)
            assert len(ranks) <= _Q49_TOPK
            ppms = [p[1] for p in pairs]
            assert all(a >= b for a, b in zip(ppms, ppms[1:])), (ch, ppms)


def test_tier6_q93_net_bounded_by_gross(spark, sf_dir):
    """Q93 netting must be a true deduction: every customer's net total
    is non-negative (the partial refund (cents div qty)·min(qty,10) can
    never exceed the line amount) and at most their gross total — a
    sign flip or a refund joined to the wrong line breaks one bound
    symmetrically in both engines."""
    rows = (
        load_all()["ds_tpcds_q93_returns_adjusted_net"].fn(spark, sf_dir).collect()
    )
    assert len(rows) == 20
    gross = {
        r["o_custkey"]: r["g"]
        for r in t(spark, sf_dir, "lineitem")
        .join(
            t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
                ).cast("long")
            ).alias("g")
        )
        .collect()
    }
    for r in rows:
        assert 0 <= r["net_cents_total"] <= gross[r["o_custkey"]], r


def test_tier6_q34_band_counts_re_derivable(spark, sf_dir):
    """Every Q34 row's n_band_orders must be ≥ 2 (the HAVING) and equal
    a direct recount of that customer's 5-7-line orders."""
    rows = load_all()["ds_tpcds_q34_band_buyers"].fn(spark, sf_dir).collect()
    assert rows, "fixture must produce at least one band buyer"
    truth = {
        r["o_custkey"]: r["n"]
        for r in t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("nl"))
        .filter(F.col("nl").between(5, 7))
        .join(
            t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r["n_band_orders"] >= 2
        assert truth[r["c_custkey"]] == r["n_band_orders"], r


def test_kcore_shrink_path_matches_rescan_path(spark, tmp_path, monkeypatch):
    """Round-12: the k-core edge-relation shrink (rebuild the edge set to
    surviving endpoints after a ≥30% survivor drop) must be a pure
    EFFICIENCY move — identical answer and identical round count to the
    always-rescan path. Fixture graphs never trip the size gate, so this
    drives the rebuild branch directly: a synthetic lineitem whose
    co-purchase graph is one 5-clique (the 3-core that must survive)
    plus a long pendant chain that peels away over several cascading
    rounds (each round exposes the next chain node, forcing repeated
    shrink events), compared with the gate forced off vs on."""
    import os

    from hadoop_fs_ceph_spark.operators import graph as graph_mod

    # 5-clique + a SQUARED path (w_i–w_{i+1} and w_i–w_{i+2}) anchored
    # to the clique at the far end; every pair is planted in TWO orders
    # (the edge build keeps pairs with co-purchase support >=
    # _LPA_MIN_COOCCUR = 2). Interior path nodes have degree 4 but the
    # free end has degree 2, so the 3-core peel removes exactly ONE
    # node per round — a genuine ~8-round cascade whose survivor count
    # crosses the 30% shrink threshold several times (kept short: every
    # peel round costs seconds of fixed scheduling at local[32]).
    rows = []
    oid = 1

    def pair(a, b):
        nonlocal oid
        for _ in range(2):
            rows.extend([(oid, a), (oid, b)])
            oid += 1

    clique = list(range(100, 105))
    for i in range(len(clique)):
        for j in range(i + 1, len(clique)):
            pair(clique[i], clique[j])
    w = list(range(200, 208))
    for a, b in zip(w, w[1:]):
        pair(a, b)
    for a, b in zip(w, w[2:]):
        pair(a, b)
    pair(w[-1], clique[0])
    pair(w[-1], clique[1])
    pair(w[-2], clique[0])
    d = str(tmp_path / "kcore_chain")
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(os.path.join(d, "lineitem.parquet"))

    def run():
        return sorted(
            map(
                tuple,
                SPECS["graph_kcore"].fn(spark, d).collect(),
            )
        )

    monkeypatch.setattr(graph_mod, "_KCORE_SHRINK_MIN_EDGES", 10**18)
    rescan = run()
    monkeypatch.setattr(graph_mod, "_KCORE_SHRINK_MIN_EDGES", 0)
    shrink = run()
    assert rescan == shrink
    # the 5-clique is a 4-regular 3-core; every chain node must peel
    assert {r[0] for r in rescan} == set(clique)
    assert all(r[1] == 4 for r in rescan)
    # the pendant chain forces a genuinely multi-round cascade, so the
    # shrink branch fired more than once under gate=0 (30% drops early)
    assert rescan[0][2] >= 2


def test_tier7_q11_growth_gate_re_derivable(spark, sf_dir):
    """Every Q11 survivor's two growth ratios must equal a direct
    recount of that customer's per-year channel cents, the base-year
    cells must be positive in BOTH channels, and the screen (web grew
    strictly faster) must hold on the exact integers — the pivoted
    two-aggregate rewrite may never drift from the four-subquery spec
    semantics it replaces."""
    rows = load_all()["ds_tpcds_q11_year_total_growth"].fn(spark, sf_dir).collect()
    assert rows, "fixture must produce at least one growth survivor"
    o = t(spark, sf_dir, "orders").filter(F.year("o_orderdate").isin(1996, 1997))
    web = {
        (r["o_custkey"], r["yr"]): r["c"]
        for r in o.groupBy("o_custkey", F.year("o_orderdate").alias("yr"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias("c"))
        .collect()
    }
    store = {
        (r["o_custkey"], r["yr"]): r["c"]
        for r in t(spark, sf_dir, "lineitem")
        .join(
            o.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey", "yr")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
                ).cast("long")
            ).alias("c")
        )
        .collect()
    }
    for r in rows:
        k = r["custkey"]
        s1, s2 = store[(k, 1996)], store[(k, 1997)]
        w1, w2 = web[(k, 1996)], web[(k, 1997)]
        assert s1 > 0 and w1 > 0
        assert w2 * s1 > s2 * w1  # the exact-integer screen
        assert r["web_growth"] == round(w2 / w1, 8)
        assert r["store_growth"] == round(s2 / s1, 8)


def test_tier7_q2_spine_cells_re_derivable(spark, sf_dir):
    """Every Q2 spine row's weekday ratios must equal a direct long-form
    recount of the unioned (year, week, weekday) cents cells, and a week
    appears exactly once iff both years have the week — the wide-pivot +
    spine-self-join rewrite may never change the cell algebra."""
    rows = load_all()["ds_tpcds_q2_week_spine_yoy"].fn(spark, sf_dir).collect()
    assert rows, "fixture must produce at least one YoY week"
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("d"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100.0
        )
        .cast("long")
        .alias("cents"),
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    cells = {
        (r["yr"], r["wk"], r["dow"]): r["c"]
        for r in li.unionByName(o)
        .withColumn("yr", F.year("d"))
        .filter(F.col("yr").isin(1997, 1998))
        .withColumn("wk", F.weekofyear("d"))
        .filter(F.col("wk") <= 52)
        .withColumn("dow", F.dayofweek("d"))
        .groupBy("yr", "wk", "dow")
        .agg(F.sum("cents").alias("c"))
        .collect()
    }
    weeks97 = {wk for (yr, wk, _) in cells if yr == 1997}
    weeks98 = {wk for (yr, wk, _) in cells if yr == 1998}
    assert sorted(r["wk"] for r in rows) == sorted(weeks97 & weeks98)
    for r in rows:
        for i in range(1, 8):
            a = cells.get((1997, r["wk"], i), 0)
            b = cells.get((1998, r["wk"], i), 0)
            expect = round(b / a, 6) if a > 0 else None
            assert r[f"dow{i}_ratio"] == expect, (r["wk"], i, a, b)


def test_bpe_tokenize_apply_bounds(spark, sf_dir):
    """Round-12 BPE apply sanity: for every document, word_count <=
    bpe_token_count <= character-token count (each word is at least one
    token; merging only ever shrinks the character split), the learned
    table used all its budgeted rounds on fixture text (word soup has
    abundant repeated pairs), and the corpus-level compression is real
    (strictly fewer tokens than characters)."""
    rows = load_all()["text_bpe_tokenize_apply"].fn(spark, sf_dir).collect()
    assert rows
    truth = {
        r["doc_id"]: (r["nw"], r["nc"])
        for r in t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("nw"),
            F.sum(F.length("w")).alias("nc"),
        )
        .collect()
    }
    tot_bpe = tot_chars = 0
    for r in rows:
        nw, nc = truth[r["doc_id"]]
        assert r["n_words"] == nw
        assert nw <= r["n_tokens_bpe"] <= nc, r
        assert r["n_merges_applied"] == 8
        tot_bpe += r["n_tokens_bpe"]
        tot_chars += nc
    assert tot_bpe < tot_chars  # the merge table actually compressed


def test_tier6_q49_candidates_bounded_at_cluster_posture(spark, sf_dir):
    """Round-12 (VERDICT r11 item 6): Q49's phase-1 candidate union is
    bounded by channels × partitions × 2·TOPK — and P is largest at the
    cluster posture, so pin the bound AND the final-answer equivalence
    with spark.sql.shuffle.partitions=200 (the 1000-executor planner
    shape). The candidate count must also never undercut the final
    survivor count (containment)."""
    from hadoop_fs_ceph_spark.operators.tpcds_suite4 import (
        _Q49_TOPK,
        _q49_candidates,
        _q49_grain,
    )

    fn = load_all()["ds_tpcds_q49_worst_returns"].fn
    base = sorted(map(tuple, fn(spark, sf_dir).collect()))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        grain = _q49_grain(spark, sf_dir)
        cand = _q49_candidates(grain)
        n_cand = cand.count()
        cells = (
            grain.withColumn("_pid", F.spark_partition_id())
            .select("channel", "_pid")
            .distinct()
            .count()
        )
        wide = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert n_cand <= cells * 2 * _Q49_TOPK, (n_cand, cells)
    assert len(base) <= n_cand  # containment: survivors are candidates
    assert wide == base  # 200-wide phase-2 answer identical


def test_tier7_q21_band_and_netting_re_derivable(spark, sf_dir):
    """Every Q21 survivor must sit inside the [2/3, 3/2] band on the
    exact integers, and its before/after cells must equal a direct
    returns-netted recount of the 60-day window."""
    rows = load_all()["ds_tpcds_q21_inventory_date_split"].fn(spark, sf_dir).collect()
    assert rows, "fixture must produce at least one stable cell"
    pivot = F.lit("1997-06-01").cast("timestamp")
    qty = F.round("l_quantity").cast("long")
    signed = F.when(F.col("l_returnflag") == "R", -qty).otherwise(qty)
    truth = {
        r["l_suppkey"]: (r["b"], r["a"])
        for r in t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.date_sub(pivot, 30).cast("timestamp"))
            & (F.col("l_shipdate") < F.date_add(pivot, 30).cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.when(F.col("l_shipdate") < pivot, signed).otherwise(F.lit(0))).alias("b"),
            F.sum(F.when(F.col("l_shipdate") >= pivot, signed).otherwise(F.lit(0))).alias("a"),
        )
        .collect()
    }
    sk = {
        r["s_name"]: r["s_suppkey"]
        for r in t(spark, sf_dir, "supplier").collect()
    }
    for r in rows:
        b, a = truth[sk[r["s_name"]]]
        assert (b, a) == (r["inv_before"], r["inv_after"]), r
        assert b > 0 and a > 0
        assert 2 * a <= 3 * b and 2 * b <= 3 * a  # the exact band


def test_incremental_lsh_verdicts_match_full_lsh(spark, sf_dir):
    """Round-12: the incremental fuzzy ingest ledger must agree exactly
    with the full-corpus LSH run restricted to the batch slice — the
    probe-the-index formulation changes the JOIN SHAPE (batch bands vs
    the corpus index, never a corpus self-join), not the answer:
    near_dup_of_corpus = batch docs in a verified cross pair,
    near_dup_in_batch = later docs of verified in-batch pairs not
    already corpus-dups, accept = the rest of the batch."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in SPECS["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    ]
    batch_ids = {
        r["doc_id"]
        for r in t(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 7)
        .collect()
    }
    exp_corpus = set()
    exp_batch_later = set()
    for a, b in pairs:
        a_in, b_in = a in batch_ids, b in batch_ids
        if a_in != b_in:
            exp_corpus.add(a if a_in else b)
        elif a_in and b_in:
            exp_batch_later.add(max(a, b))
    exp_in_batch = exp_batch_later - exp_corpus
    exp_accept = batch_ids - exp_corpus - exp_in_batch
    got = {
        r["verdict"]: (r["n_docs"], list(r["doc_ids"]))
        for r in SPECS["dedup_minhash_lsh_incremental"].fn(spark, sf_dir).collect()
    }
    expected = {
        "near_dup_of_corpus": exp_corpus,
        "near_dup_in_batch": exp_in_batch,
        "accept": exp_accept,
    }
    for verdict, exp_ids in expected.items():
        if not exp_ids:
            assert verdict not in got, verdict
            continue
        n, ids = got[verdict]
        assert n == len(exp_ids) and ids == sorted(exp_ids), verdict
    assert sum(n for n, _ in got.values()) == len(batch_ids)
    assert got.get("near_dup_of_corpus"), "fixture must plant cross-boundary near-dups"


def test_temperature_mix_flattens_and_conserves(spark, sf_dir):
    """Round-12: temperature sampling must (a) publish weights that sum
    to 1 within the per-source floor loss, (b) order weights WITH token
    mass but keep rates AGAINST it (the flattening direction), and
    (c) never keep more docs/tokens than a source has."""
    rows = SPECS["sample_temperature_mix"].fn(spark, sf_dir).collect()
    src_truth = {
        r["source"]: (r["nd"], r["nt"])
        for r in t(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("nt"),
        )
        .collect()
    }
    assert len(rows) == len(src_truth)
    w_sum = sum(r["w_bp"] for r in rows)
    assert 10000 - len(rows) <= w_sum <= 10000  # each floor loses < 1 bp
    by_tok = sorted(rows, key=lambda r: (r["tok_avail"], r["source"]))
    for lo, hi in zip(by_tok, by_tok[1:]):
        if hi["tok_avail"] > lo["tok_avail"]:
            assert hi["w_bp"] >= lo["w_bp"]          # weight grows with mass
            assert hi["keep_bp"] <= lo["keep_bp"]    # keep rate shrinks with mass
    for r in rows:
        nd, nt = src_truth[r["source"]]
        assert r["tok_avail"] == nt
        assert 0 < r["keep_bp"] <= 10000
        assert r["docs_kept"] <= nd and r["tokens_kept"] <= nt
    # flattening: the weight RATIO between extreme sources is strictly
    # inside the raw-mass ratio (sub-linear reweighting is the point)
    top, bot = by_tok[-1], by_tok[0]
    if top["tok_avail"] > bot["tok_avail"]:
        assert top["w_bp"] * bot["tok_avail"] < bot["w_bp"] * top["tok_avail"]


def test_tier7_q9_branch_gate_re_derivable(spark, sf_dir):
    """Q9's per-band CASE must agree with a direct recount: branch =
    high_volume iff 5·n_lines > total (integer cross-multiply), n_lines
    must re-derive from the raw quantity decades, the chosen average
    must equal the exact-integer ratio of the branch's sum, and both
    branches must appear at the fixture SF (the scale-free
    above-average-density gate is non-vacuous by design)."""
    rows = SPECS["ds_tpcds_q9_quantity_buckets"].fn(spark, sf_dir).collect()
    truth = {
        r["bucket"]: (r["n"], r["pc"], r["dp"])
        for r in t(spark, sf_dir, "lineitem")
        .groupBy(F.floor((F.col("l_quantity") - 1) / 10).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long")).alias("pc"),
            F.sum(F.round(F.col("l_discount") * 100.0).cast("long")).alias("dp"),
        )
        .collect()
    }
    assert len(rows) == len(truth) == 5  # quantity domain 1..50 → 5 decades
    total = sum(n for n, _, _ in truth.values())
    for r in rows:
        n, pc, dp = truth[r["bucket"]]
        assert r["n_lines"] == n
        expect_high = 5 * n > total
        assert r["branch"] == ("high_volume" if expect_high else "low_volume")
        assert r["chosen_avg"] == (pc / n if expect_high else dp / n)
    assert {r["branch"] for r in rows} == {"high_volume", "low_volume"}
