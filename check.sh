#!/bin/sh
# Full local verification: unit/property/plan tests, the benchmark's own
# tests (BENCHMARK.json against perfbench/metrics.py), the DuckDB oracle
# differential at the driver's correctness scale and at sf0.001, and the
# headline bench.
set -e
python -m pytest tests/ -q
python -m pytest perfbench/tests -q
python -m hadoop_fs_ceph_spark.plans --all
python -m hadoop_fs_ceph_spark.oracle /root/testdata/sf0.01
python -m hadoop_fs_ceph_spark.oracle /root/testdata/sf0.001
python bench.py
