"""Cross-engine text/hash primitives.

Each primitive has two implementations sharing the same constants:
a Spark Column builder (JVM-side higher-order functions — no Python
UDFs, stays inside whole-stage codegen) and a DuckDB SQL fragment
generator used to build the correctness oracles. The pair is proven
bit-identical by tests/test_textfns_property.py.

Production note (100 TB): the portable polynomial hash below keeps the
oracle checkable. For throughput-critical jobs, `F.xxhash64` is a
drop-in replacement Spark-side (same algorithms, faster hash) — the
MinHash/SimHash/fingerprint math is hash-agnostic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MOD = 1_000_000_007
BASE = 31

#: Deterministic MinHash parameters (a_i, b_i) for h_i(x) = (a_i*x + b_i) % MOD.
MINHASH_K = 24
MINHASH_BANDS = 6
MINHASH_ROWS = 4  # K = BANDS * ROWS; LSH threshold ~ (1/B)^(1/R) ≈ 0.64
MINHASH_PARAMS: list[tuple[int, int]] = [
    ((2 * i + 1) * 104_729 % MOD, (i * 7_919 + 12_345) % MOD) for i in range(MINHASH_K)
]

SIMHASH_BITS = 30  # poly hash < MOD < 2^30, so 30 usable bits
SIMHASH_BANDS = 3  # 3 bands of 10 bits: hamming<=2 ⇒ >=1 identical band
SIMHASH_HAMMING_MAX = 2


# ---------------------------------------------------------------- Spark side
def tokens(col: Column) -> Column:
    """Lowercased alnum tokens: split on [^a-z0-9]+, drop empties."""
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != "")


def poly_hash_str(col: Column) -> Column:
    """Fold over ascii codes: h = (h*BASE + code) % MOD. BIGINT-safe."""
    codes = F.transform(F.filter(F.split(col, ""), lambda c: c != ""), lambda c: F.ascii(c).cast("long"))
    return F.aggregate(codes, F.lit(0).cast("long"), lambda acc, x: (acc * BASE + x) % MOD)


def poly_hash_longs(arr: Column) -> Column:
    """Same fold over an array<long> (used for band/sequence hashing)."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: (acc * BASE + x) % MOD)


def _affine_mod(a: int, b: int):
    # One-arg lambda factory (pyspark HOFs dispatch on lambda arity).
    return lambda x: (F.lit(a) * x + F.lit(b)) % MOD


def minhash_signature(shingle_hashes: Column) -> list[Column]:
    """K min-hash values over an array<long> of shingle hashes."""
    return [F.array_min(F.transform(shingle_hashes, _affine_mod(a, b))) for a, b in MINHASH_PARAMS]


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (order matches the DuckDB fragment)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


# --------------------------------------------------------------- DuckDB side
def sql_tokens(expr: str) -> str:
    return f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), x -> x <> '')"


def sql_poly_hash_str(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(list_filter(string_split({expr}, ''), c -> c <> ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), (a, b) -> (a * {BASE} + b) % {MOD})"
    )


def sql_poly_hash_longs(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {expr}), "
        f"(a, b) -> (a * {BASE} + b) % {MOD})"
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )
