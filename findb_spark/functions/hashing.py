"""Deterministic cross-engine hashing primitives.

MinHash / SimHash / fingerprinting need a hash function computable
*identically* in Spark (JVM, whole-stage codegen) and in the DuckDB oracle.
Spark's native ``xxhash64``/``hash`` have no DuckDB twin, so the shared
primitive is **hash48**: the first 12 hex chars of ``md5`` parsed as a
48-bit integer. Both engines ship md5; 48 bits keeps the hex->int parse
exact inside DuckDB doubles (16^11 < 2^53) while being plenty for LSH
banding and sketch permutations.

Spark-side cost note: md5 is a JVM intrinsic evaluated inside codegen —
slower than xxhash64 but still vectorized-friendly and entirely JVM-side
(no Python boundary).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: modulus for permutation hashing: largest prime < 2^31 (keeps a*h+b within
#: bigint range: a,b < 2^31, h < 2^48 -> a*h < 2^79?  No: we reduce h mod P
#: first, so a*(h mod P) < 2^62 — safe in signed 64-bit on both engines.
MERSENNE31 = (1 << 31) - 1


def hash48(col: Column) -> Column:
    """48-bit deterministic hash of a string column (oracle-parity form)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


def hash48_duck(expr: str) -> str:
    """DuckDB SQL computing exactly `hash48` of the given string expression."""
    return (
        "CAST(list_sum([ (strpos('0123456789abcdef', md5({e})[i:i]) - 1)"
        " * (16.0 ** (12 - i)) for i in range(1, 13) ]) AS BIGINT)"
    ).format(e=expr)


def hexparse_duck(expr: str, start: str | int, length: int) -> str:
    """DuckDB SQL parsing ``length`` hex chars of string ``expr`` beginning
    at 1-based position ``start`` (an int or a SQL expression) as a bigint.
    Exact for length <= 13 (16^13 < 2^53)."""
    return (
        f"CAST(list_sum([ (strpos('0123456789abcdef',"
        f" ({expr})[({start}) + i - 1 : ({start}) + i - 1]) - 1)"
        f" * (16.0 ** ({length} - i)) for i in range(1, {length + 1}) ]) AS BIGINT)"
    )


def perm_hash_duck(h48_expr: str, a: int, b: int) -> str:
    return f"(({a} * (({h48_expr}) % {MERSENNE31}) + {b}) % {MERSENNE31})"


def permutation_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameters for k MinHash permutations (fixed
    linear-congruential sequence — no RNG, reproducible in SQL)."""
    params = []
    a, b = 1103515245, 12345
    for _ in range(k):
        a = (a * 69069 + 1) % MERSENNE31
        b = (b * 69069 + 7) % MERSENNE31
        params.append((a or 1, b))
    return params
