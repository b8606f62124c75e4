"""Similarity primitives: cosine over embedding arrays, MinHash
signatures + LSH banding, SimHash — all pure column expressions.

Determinism contract: vector folds are *sequential* (Spark ``aggregate``
with 0.0 init ≡ DuckDB ``list_reduce`` after 0.0-prepend), so both engines
produce bit-identical doubles; integer hash arithmetic is exact everywhere.

Scale contract: MinHash/LSH bounds all-pairs comparison — candidate pairs
come from equality joins on (band, band_hash), never a cartesian; SimHash
reduces a document to one 16-bit key groupable at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from hadoop_fs_ceph_spark.functions.text import MOD

# MinHash family: h_k(x) = (A[k]·x + B[k]) mod P. Fixed literals so both
# engines and every run agree. P prime > any poly_hash output.
P = 2_147_483_647
MINHASH_A = (131, 137, 139, 149, 151, 157, 163, 167, 173, 179, 181, 191, 193, 197, 199, 211)
MINHASH_B = (7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61, 67)
N_BANDS = 4
ROWS_PER_BAND = 4
SIMHASH_BITS = 16


# ----------------------------------------------------------------- cosine
def vec_double(a: Column | str) -> Column:
    c = F.col(a) if isinstance(a, str) else a
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic cross-engine)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sql_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )


def sql_cosine(a: str, b: str, dim: int = 64) -> str:
    return f"({sql_dot(a, b, dim)} / (SQRT({sql_dot(a, a, dim)}) * SQRT({sql_dot(b, b, dim)})))"


# ---------------------------------------------------------------- MinHash
def _affine_mod(a: int, b: int):
    # NB: PySpark derives higher-order-function arity from the Python
    # lambda's parameter count, so constants must be closed over via a
    # factory — default-argument capture would inflate the arity.
    return lambda h: (h * a + b) % F.lit(P)


def minhash_signature(shingle_hashes: Column) -> Column:
    """K=16 MinHash signature from an array of shingle hashes."""
    sigs = [
        F.array_min(F.transform(shingle_hashes, _affine_mod(a, b)))
        for a, b in zip(MINHASH_A, MINHASH_B)
    ]
    return F.array(*sigs)


def sql_minhash_signature(hashes_expr: str) -> str:
    sigs = ", ".join(
        f"list_min(list_transform({hashes_expr}, h -> (h * {a} + {b}) % {P}))"
        for a, b in zip(MINHASH_A, MINHASH_B)
    )
    return f"[{sigs}]"


def band_hash(sig: Column, band: int) -> Column:
    """Collapse one band (ROWS_PER_BAND signature slots) into a bucket key."""
    acc = F.lit(0).cast("long")
    for r in range(ROWS_PER_BAND):
        acc = (acc * 1_000_003 + F.element_at(sig, band * ROWS_PER_BAND + r + 1)) % F.lit(P)
    return acc


def sql_band_hash(sig_expr: str, band: int) -> str:
    acc = "CAST(0 AS BIGINT)"
    for r in range(ROWS_PER_BAND):
        acc = f"(({acc}) * 1000003 + {sig_expr}[{band * ROWS_PER_BAND + r + 1}]) % {P}"
    return acc


# ---------------------------------------------------------------- SimHash
def _bit_vote(b: int):
    # Closure factory for the same arity reason as ``_affine_mod``.
    return lambda acc, h: acc + F.when(
        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
    ).otherwise(-1)


def simhash(token_hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over (distinct) token hashes: majority vote per bit."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        vote = F.aggregate(token_hashes, F.lit(0).cast("long"), _bit_vote(b))
        out = out + F.when(vote > 0, F.lit(2**b)).otherwise(F.lit(0))
    return out


def sql_simhash(hashes_expr: str, bits: int = SIMHASH_BITS) -> str:
    terms = []
    for b in range(bits):
        vote = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform({hashes_expr}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), "
            f"(x, y) -> x + y)"
        )
        terms.append(f"CASE WHEN ({vote}) > 0 THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    return "(" + " + ".join(terms) + ")"
