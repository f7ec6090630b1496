"""Portable deterministic hashing expressions.

`md5_int63` is the engine's cross-checkable hash: the first 15 hex chars of
md5 parsed as a 60-bit non-negative int. It is chosen because the identical
value is computable in ANSI SQL engines (DuckDB:
CAST('0x'||substr(md5(s),1,15) AS BIGINT)), which lets every hash-based
operator (minhash, simhash, fingerprints) be verified against a SQL oracle.
xxhash64 (JVM-side, faster) is used where cross-engine parity is not needed
(vertex ids, partition ids, edge fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int63(col: Column) -> Column:
    """First 60 bits of md5(col) as a non-negative LongType."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def md5_int63_sql(expr: str) -> str:
    """The DuckDB-equivalent SQL text for md5_int63."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def seeded_md5_int63(col: Column, seed: int) -> Column:
    """Seeded variant: hash of '<seed>:<value>'."""
    return md5_int63(F.concat(F.lit(f"{seed}:"), col))


def seeded_md5_int63_sql(expr: str, seed: int) -> str:
    return md5_int63_sql(f"'{seed}:' || {expr}")
