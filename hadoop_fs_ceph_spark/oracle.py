"""DuckDB differential-oracle harness.

Mirrors the driver's t2 gate: for each declared query, run the Spark plan
and the ANSI-SQL oracle on the same parquet tables, canonicalize (columns
sorted by name, rows sorted by stringified values, timestamps as UTC ISO),
and compare. Used by tests/test_oracle_differential.py and handy
standalone:  python -m hadoop_fs_ceph_spark.oracle [sf_dir] [name ...]
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
from dataclasses import dataclass

import pandas as pd

from hadoop_fs_ceph_spark.catalog import TESTDATA_TABLES


def duckdb_connection(sf_dir: str):
    """DuckDB connection with the driver's table views pre-registered. A
    table is one ``<name>.parquet`` file, or a directory of that name
    holding the ``*.parquet`` part files Spark writes."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _cell(v) -> str:
    """Canonical string for one value (drives row sorting + comparison)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.1f}"
        return repr(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, every cell stringified, rows sorted."""
    out = pd.DataFrame()
    for c in sorted(df.columns):
        # astype(object): an *empty* mapped column keeps its source dtype
        # (e.g. int32 from Spark vs int64 from DuckDB) and DataFrame.equals
        # compares dtypes — pin both sides to object so empty==empty holds.
        out[c] = df[c].map(_cell).astype(object)
    if len(out):
        out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def _kind(v) -> str:
    """Coarse value-type kind. The driver hashes raw arrow values, so a
    Spark BIGINT vs a DuckDB HUGEINT (arrow decimal128 → Decimal) hash
    differently even when they stringify identically; string-only compare
    masked exactly that in round 1. Kinds distinguish the classes that
    hash apart while tolerating benign width drift (int32 vs int64)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, int) or type(v).__name__.startswith(("int", "uint")):
        return "int"
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        return "float"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return "ts"
    if isinstance(v, datetime.date):
        return "date"
    if isinstance(v, (bytes, bytearray)):
        return "bin"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "list"
    if isinstance(v, dict):
        return "struct"
    return "str"


def _column_kinds(df: pd.DataFrame) -> dict:
    kinds = {}
    for c in df.columns:
        nonnull = df[c].dropna()
        kinds[c] = _kind(nonnull.iloc[0]) if len(nonnull) else None
    return kinds


@dataclass
class DiffResult:
    name: str
    ok: bool
    detail: str = ""


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> DiffResult:
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return DiffResult(name, False, f"columns differ: spark={list(a.columns)} oracle={list(b.columns)}")
    if len(a) != len(b):
        return DiffResult(name, False, f"row counts differ: spark={len(a)} oracle={len(b)}")
    ka, kb = _column_kinds(spark_pdf), _column_kinds(oracle_pdf)
    kind_mism = [
        f"{c}: spark={ka[c]} oracle={kb.get(c)}"
        for c in sorted(ka)
        if ka[c] is not None and kb.get(c) is not None and ka[c] != kb[c]
    ]
    if kind_mism:
        return DiffResult(name, False, "value-type mismatch (driver hash would differ): " + "; ".join(kind_mism))
    if a.equals(b):
        return DiffResult(name, True)
    # localize the first few mismatching cells for debugging
    mism = []
    for col in a.columns:
        neq = a[col] != b[col]
        if neq.any():
            i = int(neq.idxmax())
            mism.append(f"{col}[row {i}]: spark={a[col][i]!r} oracle={b[col][i]!r}")
        if len(mism) >= 5:
            break
    return DiffResult(name, False, "value mismatch: " + "; ".join(mism))


def run_one(spark, con, spec, sf_dir: str) -> DiffResult:
    sdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        return DiffResult(spec.name, True, f"rows-only check: {len(sdf)} rows")
    # Arrow preserves DATE (date32) and DECIMAL columns as date/Decimal
    # objects like Spark's toPandas does; .df() would degrade them to
    # datetime64/float64 and produce spurious representation mismatches.
    odf = con.sql(spec.oracle).arrow().to_pandas()
    return compare(spec.name, sdf, odf)


def main() -> None:
    import sys

    from hadoop_fs_ceph_spark.registry import load_all
    from hadoop_fs_ceph_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    specs = load_all()
    spark = get_spark("oracle-diff")
    con = duckdb_connection(sf_dir)
    failed = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            r = run_one(spark, con, spec, sf_dir)
        except Exception as e:  # noqa: BLE001 - harness reports, caller decides
            r = DiffResult(name, False, f"exception: {e}")
        status = "OK  " if r.ok else "FAIL"
        print(f"{status} {name} {r.detail}")
        failed += 0 if r.ok else 1
        # operators may persist() intermediates (LSH signatures, winnowing
        # fingerprints) that only pay off within one query's plan — drop
        # them between queries so cached blocks don't accumulate across a
        # 250+-query harness run
        spark.catalog.clearCache()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
