"""Declared-query registry — the engine's correctness contract.

Every operator from SURVEY.md §2B is declared here exactly once as a
``QuerySpec``: a PySpark implementation ``fn(spark, sf_dir) -> DataFrame``
plus (when SQL-expressible) an ANSI-SQL oracle string that DuckDB can run on
the same parquet tables. ``__spark_entry__.py`` and ``bench.py`` are thin
views over this registry, and the pytest differential harness iterates it.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    tags: tuple[str, ...] = ()
    bench: bool = False  # part of the headline bench set


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query. Used as a decorator over ``fn(spark, sf_dir)``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, bench=bench)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module so registrations run, then return REGISTRY."""
    import hadoop_fs_ceph_spark.operators  # noqa: F401

    return REGISTRY


def coverage_line(specs: dict[str, QuerySpec] | None = None) -> str:
    """The one-sentence coverage claim, derived from the registry itself
    (never hand-edited): 'N declared queries, M DuckDB-oracle-checked'."""
    if specs is None:
        specs = load_all()
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    return f"{len(specs)} declared queries, {n_oracle} DuckDB-oracle-checked"


def operators_md(specs: dict[str, QuerySpec] | None = None) -> str:
    """Render the registry as OPERATORS.md (VERDICT r6 item 8): one row per
    declared query with its source anchor (``module::function``), oracle
    posture, bench membership, and tags, grouped by operator module in
    source order. Generated — never hand-edited; ``tests/test_contracts.py``
    pins the on-disk file to this function's output, same pattern as the
    README coverage line. The anchor names the function rather than its
    line, so moving code never makes the file stale; only a registry
    change does."""
    import inspect
    import pathlib

    if specs is None:
        specs = load_all()
    repo = pathlib.Path(__file__).resolve().parent.parent
    by_file: dict[str, list[tuple[str, int, QuerySpec]]] = {}
    for s in specs.values():
        src = pathlib.Path(inspect.getsourcefile(s.fn)).resolve()
        _, line = inspect.getsourcelines(s.fn)
        rel = str(src.relative_to(repo))
        by_file.setdefault(rel, []).append((s.name, line, s))
    lines = [
        "# OPERATORS — the declared-query registry, rendered",
        "",
        "<!-- GENERATED: python -m hadoop_fs_ceph_spark.registry --operators-md",
        "     Do not edit by hand; tests/test_contracts.py pins this file to",
        "     the registry. -->",
        "",
        f"{coverage_line(specs)}; "
        f"{sum(1 for s in specs.values() if s.bench)} bench headliners. "
        "Every row is executed against the DuckDB oracle by "
        "`python -m hadoop_fs_ceph_spark.oracle` (rows-only entries get a "
        "row-count check and carry their justification in the docstring).",
        "",
    ]
    for rel in sorted(by_file):
        rows = sorted(by_file[rel], key=lambda r: r[1])
        lines += [f"## {rel} ({len(rows)} queries)", ""]
        lines += ["| query | anchor | oracle | bench | tags |", "|---|---|---|---|---|"]
        for name, line, s in rows:
            lines.append(
                f"| {name} | {s.fn.__module__}::{s.fn.__qualname__} | "
                f"{'duckdb' if s.oracle else 'rows-only'} | "
                f"{'yes' if s.bench else ''} | {', '.join(s.tags)} |"
            )
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    """Registry browser:  python -m hadoop_fs_ceph_spark.registry [tag ...]

    No args: tag histogram + totals. With tags: the queries carrying ALL
    of them (name, tags, oracle/bench markers). Imports no SparkSession —
    safe to run anywhere."""
    import sys

    # resolve through the canonical module: under `python -m ...` this file
    # runs as __main__, whose REGISTRY is a different dict from the one
    # the operator modules register into
    from hadoop_fs_ceph_spark.registry import load_all as _canonical_load_all

    specs = _canonical_load_all()
    if sys.argv[1:] == ["--counts"]:
        # the canonical coverage line — README.md embeds this verbatim and
        # tests/test_invariants.py asserts they stay in lockstep, so the
        # prose count can never drift from the code again
        print(coverage_line(specs))
        return
    if sys.argv[1:] == ["--operators-md"]:
        # regenerate OPERATORS.md in place (tests/test_contracts.py pins it)
        import pathlib

        from hadoop_fs_ceph_spark.registry import operators_md as _md

        out = pathlib.Path(__file__).resolve().parent.parent / "OPERATORS.md"
        out.write_text(_md(specs) + "\n")
        print(f"wrote {out}")
        return
    want = set(sys.argv[1:])
    if not want:
        tags: dict[str, int] = {}
        for s in specs.values():
            for tg in s.tags:
                tags[tg] = tags.get(tg, 0) + 1
        for tg, n in sorted(tags.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"{n:4d}  {tg}")
        n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
        print(f"---- {len(specs)} queries, {n_oracle} oracle-checked, "
              f"{sum(1 for s in specs.values() if s.bench)} bench headliners")
        return
    for name, s in sorted(specs.items()):
        if want <= set(s.tags):
            marks = ("" if s.oracle else " [rows-only]") + (" [bench]" if s.bench else "")
            print(f"{name}{marks}  ({', '.join(s.tags)})")


if __name__ == "__main__":
    main()
