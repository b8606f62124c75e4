"""Differential tests: every declared query vs its DuckDB oracle at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01); fast local tier
runs at sf0.001 so the suite stays quick while iterating.
"""

import pytest

from hadoop_fs_ceph_spark.oracle import duckdb_connection, run_one
from hadoop_fs_ceph_spark.registry import load_all

SPECS = load_all()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = SPECS[name]
    try:
        result = run_one(spark, duck, spec, sf_dir)
    finally:
        # operators may persist() intermediates; drop them between queries
        # so cached blocks don't accumulate across the 250+-case sweep
        spark.catalog.clearCache()
    assert result.ok, result.detail
    if spec.oracle is None:
        # rows-only contract: it must at least execute and return a schema
        assert result.detail is not None


# Every query that ranks through ``_ranked_nosort``: their tie orders must
# hold on keys far beyond the fixtures' range, not just at sf0.001.
RANK_FAMILY = [
    "agg_gini_concentration",
    "agg_trimmed_mean_nosort",
    "ds_abc_classification",
    "ds_kruskal_wallis",
    "ds_lift_gains_deciles",
    "ds_mann_whitney_u",
    "ds_pareto_concentration",
    "ds_rfm_segmentation",
    "ds_segment_migration_matrix",
    "ds_spearman_rho",
    "ds_wilcoxon_signed_rank",
]


@pytest.fixture(scope="module")
def soak_dir(spark, sf_dir, tmp_path_factory):
    """sf0.001 × 2 as ``bench.py --soak`` builds it: every key column of
    the second replica shifted by 10^12, written as Spark part-file
    directories."""
    from bench import _build_soak_tables

    d = str(tmp_path_factory.mktemp("soak2"))
    _build_soak_tables(spark, sf_dir, d, 2)
    return d


@pytest.mark.parametrize("name", RANK_FAMILY)
def test_rank_family_matches_oracle_on_soak_keys(name, spark, soak_dir):
    try:
        result = run_one(spark, duckdb_connection(soak_dir), SPECS[name], soak_dir)
    finally:
        spark.catalog.clearCache()
    assert result.ok, result.detail
