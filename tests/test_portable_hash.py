"""Property test for the portable hash tier: the Spark column expression
and its DuckDB SQL twin must agree on arbitrary ASCII input — this pair
of builders underpins every dedup/text oracle, so it gets its own
adversarial check beyond the fixture data.
"""

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hadoop_fs_ceph_spark.functions.text import MOD, poly_hash, sql_poly_hash

ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=80
)


def _py_poly(s: str, mod: int = MOD) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % mod
    return acc


@given(st.lists(ascii_text, min_size=1, max_size=24, unique=True))
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_poly_hash_cross_engine(spark, strings):
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame([(s,) for s in strings], "s string")
    got_spark = {
        r.s: r.h for r in sdf.select("s", poly_hash(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    got_duck = {}
    for s in strings:
        con.execute("CREATE OR REPLACE TEMP TABLE one AS SELECT ? AS s", [s])
        got_duck[s] = con.execute(f"SELECT {sql_poly_hash('s')} FROM one").fetchone()[0]
    expected = {s: _py_poly(s) for s in strings}
    assert got_spark == expected
    assert got_duck == expected


def test_jl_sign_matrix_is_balanced_and_nonlinear():
    """The random-projection sign matrix must not be a degenerate
    pattern: each output dimension's 64 signs should be roughly
    balanced (JL needs zero-mean entries), and no two output dims may
    share (or exactly oppose) their whole sign row — either failure
    collapses the projection's rank."""

    def sign(i, j):
        return 1 if ((i + 1) * (j + 7) * 104729) % 1000003 % 2 == 0 else -1

    rows = [[sign(i, j) for i in range(64)] for j in range(16)]
    for r in rows:
        assert 16 <= sum(1 for x in r if x == 1) <= 48  # balanced-ish
    for a in range(16):
        for b in range(a + 1, 16):
            agree = sum(1 for i in range(64) if rows[a][i] == rows[b][i])
            assert 8 <= agree <= 56  # not identical, not exact negation


def test_cms_hash_rows_spread_keys():
    """CMS rows must place a key independently: for a block of sequential
    keys (the worst case for affine hashes), no two of the 4 rows may
    map every key to identical buckets, and each row must hit many
    distinct buckets."""
    P, W = 2_147_483_647, 256
    A = (131, 137, 139, 149)
    B = (7, 11, 13, 17)

    def bucket(r, k):
        return ((k * A[r] + B[r]) % P) % W

    keys = range(1, 1001)
    per_row = [[bucket(r, k) for k in keys] for r in range(4)]
    for r in range(4):
        assert len(set(per_row[r])) >= W // 2
    for a in range(4):
        for b in range(a + 1, 4):
            same = sum(1 for x, y in zip(per_row[a], per_row[b]) if x == y)
            assert same < 100  # rows disagree on >90% of keys


@given(
    st.lists(
        # value range capped inside the DOCUMENTED 3-pass domain bound
        # (4096^3 ≈ 6.9e10); beyond it the operator reports
        # is_exact=False instead of a wrong answer (checked below)
        st.integers(min_value=0, max_value=6 * 10**10), min_size=1, max_size=40
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_histogram_refinement_median_property(spark, vals):
    """Property test of the flagship no-sort machinery: for ARBITRARY
    integer multisets (duplicates, huge ranges, singletons) within the
    documented 3-pass domain, histogram refinement must pin exactly the
    sorted lower median. Exercises the narrowing arithmetic (ceil-div
    bucket bounds, rank rebasing) far outside the fixture
    distributions."""
    from pyspark.sql import functions as F

    from hadoop_fs_ceph_spark.operators.ranking import (
        _MED_PASSES,
        _quantiles_refine,
    )

    x = spark.createDataFrame([(v,) for v in vals], "cents long")
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    states = base.selectExpr(
        "CAST(50 AS INT) AS pct", "lo", "hi", "(n + 1) div 2 AS k"
    )
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states)
    got = states.collect()[0]
    expected = sorted(vals)[(len(vals) + 1) // 2 - 1]
    assert got["lo"] == got["hi"] == expected


def test_histogram_refinement_honest_beyond_domain(spark):
    """Past the 4096^3 range bound three passes cannot collapse the
    range — the machinery must leave a still-valid bracket (lo <= true
    median <= hi, lo < hi) rather than a silently wrong point value,
    which is exactly what the operators' is_exact column surfaces."""
    from pyspark.sql import functions as F

    from hadoop_fs_ceph_spark.operators.ranking import (
        _MED_PASSES,
        _quantiles_refine,
    )

    vals = [0, 10**12, 5 * 10**11, 7, 10**12 - 3]  # range ~1e12 > 4096^3
    x = spark.createDataFrame([(v,) for v in vals], "cents long")
    base = x.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    states = base.selectExpr(
        "CAST(50 AS INT) AS pct", "lo", "hi", "(n + 1) div 2 AS k"
    )
    for _ in range(_MED_PASSES):
        states = _quantiles_refine(x, states)
    got = states.collect()[0]
    true_med = sorted(vals)[(len(vals) + 1) // 2 - 1]
    assert got["lo"] < got["hi"]  # honest: range did NOT collapse
    assert got["lo"] <= true_med <= got["hi"]  # but the bracket is valid
