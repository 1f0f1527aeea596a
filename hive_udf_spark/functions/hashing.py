"""Deterministic hash expressions, including an engine-portable family.

Two hash families, both pure JVM expressions:

* ``fast_hash64`` — ``xxhash64`` with a salt column; the scale path
  (single pass over bytes, codegen'd). Spark-only semantics.
* ``portable_hash60`` — top 60 bits of md5, parseable identically by any
  engine with a standard md5 (DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``).
  Used wherever a DuckDB oracle must reproduce our MinHash/SimHash
  signatures bit-for-bit. ~3× slower than xxhash64; still JVM-native.

60 bits (15 hex chars) keeps values strictly below 2^60 < 2^63, so they
fit a signed BIGINT in both engines with no overflow ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PORTABLE_HASH_BITS = 60


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def fast_hash64(col: Column | str, seed: int = 0) -> Column:
    """xxhash64(seed, x) — fast, Spark-native, not engine-portable."""
    return F.xxhash64(F.lit(seed), _col(col))


def portable_hash60(col: Column | str, seed: int = 0) -> Column:
    """First 60 bits of md5(seed || ':' || x) as a non-negative BIGINT.

    DuckDB equivalent (exact same values):
        ('0x' || substr(md5(seed || ':' || x), 1, 15))::BIGINT
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}:"), _col(col))), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB SQL text computing the same value as portable_hash60."""
    return f"('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT"
