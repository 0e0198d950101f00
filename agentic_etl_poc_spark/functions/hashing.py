"""Cross-engine deterministic hashing & vector-math primitives.

The dedup / similarity batteries need hash functions and float reductions
that produce BIT-IDENTICAL results in Spark and in the DuckDB oracle.
Native hashes differ (Spark murmur3 vs DuckDB's internal hash), so:

- ``H(s)`` = first 12 hex chars of md5(s) as a 48-bit integer.  Both
  engines ship md5; 48 bits fits exact integer arithmetic everywhere
  (and stays below 2^53 so even a double round-trip can't corrupt it).
- MinHash permutations are ``(a*h + b) mod P`` with P = 2^31-1 and h
  pre-reduced mod P, keeping products < 2^62 (no int64 overflow).
- Float folds (dot products, norms) are SEQUENTIAL left-to-right
  double-precision folds in both engines — Spark ``aggregate`` HOF and
  DuckDB ``list_reduce`` both fold sequentially, so sums match bit-for-bit
  (never rely on SUM(double) across rows, whose order is engine-chosen).

Each primitive has a Spark Column builder and a DuckDB SQL-snippet builder
side by side so the two definitions can't drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 2147483647  # 2^31 - 1

#: MinHash permutation constants (fixed arbitrary odd multipliers < 2^31).
#: 12 permutations → 4 LSH bands of 3 rows.
MINHASH_PERMS: list[tuple[int, int, int]] = [
    (0, 1103515245, 12345),
    (1, 1234567891, 54321),
    (2, 1076767861, 98765),
    (3, 1500450271, 13579),
    (4, 2038074743, 24680),
    (5, 1257787007, 86420),
    (6, 1898288651, 11111),
    (7, 1645333507, 22222),
    (8, 1299709003, 33333),
    (9, 1982451653, 44444),
    (10, 1463294431, 55555),
    (11, 2147483629, 66666),
]
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = 3


# ---------- Spark builders ----------

def md5_48(col: Column) -> Column:
    """48-bit integer hash of a string column (md5 hex prefix)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def minhash_perm(h_mod_p: Column, a: int, b: int) -> Column:
    return (F.lit(a) * h_mod_p + F.lit(b)) % F.lit(MERSENNE_P)


def dot_fold(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/sqrt(norm_a*norm_b) — the exact formula the DuckDB
    snippet uses, so results are bit-identical."""
    return dot_fold(a, b) / F.sqrt(dot_fold(a, a) * dot_fold(b, b))


# ---------- DuckDB snippet builders (oracle side) ----------

def duck_md5_48(expr: str) -> str:
    # lambda var deliberately obscure: `expr` may reference an OUTER lambda
    # variable (e.g. a position `i`), which a plain `i` here would shadow.
    return (
        "list_sum(list_transform(range(1, 13), "
        f"__h -> (strpos('0123456789abcdef', substr(md5({expr}), __h, 1)) - 1)::BIGINT "
        "* (1::BIGINT << (4 * (12 - __h)))))"
    )


def duck_dot_fold(a: str, b: str, dim: int) -> str:
    """Sequential double fold matching Spark's aggregate()."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        "(acc, x) -> acc + x)"
    )


def duck_cosine(a: str, b: str, dim: int) -> str:
    return (
        f"({duck_dot_fold(a, b, dim)} / "
        f"sqrt({duck_dot_fold(a, a, dim)} * {duck_dot_fold(b, b, dim)}))"
    )
