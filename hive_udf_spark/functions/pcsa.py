"""PCSA (Flajolet–Martin 1985) — the fifth mergeable estimator family.

Probabilistic Counting with Stochastic Averaging is the ORIGINAL
cardinality sketch — the direct ancestor of the reference's two
algorithms (HyperLogLog cites it as its basis; stream-lib, the library
the reference shades, ships it alongside LC/HLL — the reference's enum
just never exposed it, UDAFCardinalityEstimator.java:71-86). State is m
bitmaps; value x sets bit rho(x) (count of trailing zeros of the
bucket-reduced hash) in bitmap hash(x) mod m. Merge = bitwise OR —
a lossless semilattice like KMV/quantile, so per-day sketches roll up
to identical bits as a direct build.

Relational Tier-B build (the lc_table / kmv_table discipline):

    bucket + rank computed at scan → groupBy(groups, bucket) with
    bit_or — Catalyst's partial aggregate ORs map-side, so the shuffle
    carries ≤ m word rows per (group, map partition), each 8 bytes.

Estimate: R_i = index of each bitmap's lowest UNSET bit, S = ΣR_i,
φ = 0.77351, with the SMALL-RANGE-CORRECTED estimator (Scheuermann &
Mauve 2007, §2; r5 verdict item 4 — the same move as the reference's
own two-algorithm small-range split, UDAFCardinalityEstimator.java:
335-337):

    E = (m/φ)·(2^(S/m) − 2^(−κ·S/m)),  κ = 1.75

The correction term kills the classic estimator's small-n bias exactly
(S = 0 → E = 0, vs m/φ ≈ 83 for m=64 uncorrected) and decays as
n^−κ — beyond S/m ≈ 35 it is below double resolution, so large-n
estimates coincide with the classic formula. Everything up to S is
integer-exact; both irrationals are made ENGINE-PORTABLE the same way:
2^(S/m) splits as 2^(S div m)·table_m[S mod m], and with t = 7·S
(κ = 7/4 exactly), 2^(−κ·S/m) = 2^(−t/(4m)) splits as
(1/2^(t div 4m))·table_4m[t mod 4m] — both tables baked as literal
doubles into the Spark expression AND the SQL oracle, 1/2^q exact
(gated to 0.0 where q would overflow a 63-bit shift — the gate is on
the INTEGER q, so both engines take the same branch). The remaining
IEEE multiply/subtract/floor sequence is written identically in both
engines, so the full estimate hash-matches DuckDB bit-for-bit (the KMV
discipline extended to a transcendental estimator). Standard error
≈ 0.78/√m in the asymptotic regime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hive_udf_spark.functions.hashing import (
    PORTABLE_HASH_BITS,
    portable_hash60,
    portable_hash60_sql,
)

__all__ = [
    "pcsa_table",
    "pcsa_merge_table",
    "pcsa_estimate",
    "pcsa_estimate_sql",
    "PCSA_PHI",
]

PCSA_PHI = 0.77351
PCSA_DEFAULT_M = 64


def _rank_bits(m: int) -> int:
    """Rank bits available after bucket reduction of a 60-bit hash —
    the saturation rank for the reduced==0 case (depends on m)."""
    return PORTABLE_HASH_BITS - (m.bit_length() - 1)


def _frac_pow2_literals(m: int) -> list[float]:
    """[2^(r/m) for r in 0..m-1] — identical literal doubles in both
    engines make the transcendental part of the estimate portable."""
    return [float(2.0 ** (r / m)) for r in range(m)]


def _frac_pow2_neg_literals(m: int) -> list[float]:
    """[2^(−r/(4m)) for r in 0..4m−1] — the correction term's fractional
    part (κ = 7/4, so the exponent −7S/(4m) has denominator 4m)."""
    return [float(2.0 ** (-r / (4 * m))) for r in range(4 * m)]


def _bucket_rank(col: Column, m: int, seed: int) -> tuple[Column, Column]:
    """Register index and trailing-zero rank of the portable hash; the
    register model PCSA (bit per rank) and HyperLogLog (max rank + 1) share."""
    # m is a power of two, so bucket/reduce are exact bit ops (a double
    # division would lose low bits of the 60-bit hash)
    h = portable_hash60(col, seed)
    k = m.bit_length() - 1
    bucket = h.bitwiseAND(F.lit(m - 1))
    reduced = F.shiftright(h, k)
    # rho = trailing zeros of reduced, capped at _rank_bits(m) (the
    # all-zero case); lowest set bit as power of two = reduced & -reduced
    low = reduced.bitwiseAND(-reduced)
    rank = F.when(reduced == 0, F.lit(_rank_bits(m))).otherwise(
        F.bit_count(low - F.lit(1))
    )
    return bucket, rank


def pcsa_table(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    m: int = PCSA_DEFAULT_M,
    seed: int = 7,
) -> DataFrame:
    """Per-group PCSA sketches: group_cols + (bucket, bits) rows — the
    sketch AS a relation (one row per non-empty bitmap), plus the
    estimate via :func:`pcsa_estimate` downstream. NULL inputs are
    skipped (reference :238-240); all-NULL groups produce no rows."""
    if m < 2 or m & (m - 1):
        raise ValueError("m must be a power of two >= 2")
    c = F.col(col)
    bucket, rank = _bucket_rank(c, m, seed)
    base = df.filter(c.isNotNull()).select(
        *group_cols,
        bucket.alias("bucket"),
        rank.cast("int").alias("__rank"),
    ).select(
        *group_cols,
        "bucket",
        # F.shiftleft only takes a literal shift; the SQL form takes exprs
        F.expr("shiftleft(CAST(1 AS BIGINT), __rank)").alias("__bit"),
    )
    return base.groupBy(*group_cols, "bucket").agg(F.bit_or("__bit").alias("bits"))


def pcsa_merge_table(
    df: DataFrame, group_cols: list[str], m: int = PCSA_DEFAULT_M
) -> DataFrame:
    """Re-aggregate sketch relations to coarser groups: bit_or per
    (group, bucket) — the lossless OR-semilattice merge (identical bits
    to a direct build; the :259-265 rollup path). Only sketches built
    with the SAME m may merge (mismatched m buckets values differently;
    the relation carries no m header, so this cannot be detected here —
    the caller's m is validated to keep the contract visible)."""
    if m < 2 or m & (m - 1):
        raise ValueError("m must be a power of two >= 2")
    return df.groupBy(*group_cols, "bucket").agg(F.bit_or("bits").alias("bits"))


def _lowest_unset(bits: Column) -> Column:
    """Index of the lowest 0 bit of a non-negative word (rank capped at
    _rank_bits(m) < 60 by construction, so the +1 never overflows)."""
    t = F.bitwise_not(bits).bitwiseAND(bits + F.lit(1))
    return F.bit_count(t - F.lit(1))


def pcsa_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    m: int = PCSA_DEFAULT_M,
) -> DataFrame:
    """group_cols + (s_sum, est_pcsa) from a sketch relation, with the
    small-range-corrected estimator (module docstring).

    Empty bitmaps (absent rows) contribute R_i = 0, so S is simply the
    sum over present rows — no densification join needed."""
    tbl = _frac_pow2_literals(m)
    neg = _frac_pow2_neg_literals(m)
    # coalesce: a GLOBAL aggregation over an empty sketch yields one row
    # with a NULL sum — S = 0 there, and the corrected estimator then
    # gives exactly 0 (grouped queries never hit this: empty groups
    # produce no rows)
    per_group = sketch.groupBy(*group_cols).agg(
        F.coalesce(F.sum(_lowest_unset(F.col("bits"))), F.lit(0))
        .cast("bigint")
        .alias("s_sum")
    )
    r = F.pmod(F.col("s_sum"), F.lit(m)).cast("int")
    frac = F.element_at(F.array(*[F.lit(v) for v in tbl]), r + 1)
    pow_q = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(s_sum div {m} AS INT))")
    # correction term 2^(−7·s_sum/(4m)): exact 1/2^q2 times a literal
    # lookup; q2 can reach 7·60/4 > 63 at saturation, where the term is
    # below double resolution anyway — gate on the INTEGER q2 so both
    # engines branch identically
    q2 = F.expr(f"(7 * s_sum) div {4 * m}")
    r2 = F.expr(f"(7 * s_sum) % {4 * m}").cast("int")
    frac2 = F.element_at(F.array(*[F.lit(v) for v in neg]), r2 + 1)
    inv_q2 = F.when(
        q2 <= 62,
        F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), CAST((7 * s_sum) div "
                            f"{4 * m} AS INT))").cast("double"),
    ).otherwise(F.lit(0.0))
    est = F.floor(
        F.lit(float(m) / PCSA_PHI)
        * (pow_q.cast("double") * frac - inv_q2 * frac2)
    ).cast("long")
    return per_group.select(*group_cols, "s_sum", est.alias("est_pcsa"))


def pcsa_estimate_sql(
    table: str, group_expr: str, value_expr: str, m: int, seed: int,
    group_alias: str = "g",
) -> str:
    """DuckDB SQL reproducing pcsa_table + pcsa_estimate bit-for-bit
    (including the small-range correction term and its q2 > 62 gate)."""
    tbl = ", ".join(repr(v) for v in _frac_pow2_literals(m))
    neg = ", ".join(repr(v) for v in _frac_pow2_neg_literals(m))
    h = portable_hash60_sql(value_expr, seed)
    return f"""
    WITH pr AS (
      SELECT {group_expr} AS {group_alias},
             ({h}) % {m} AS bucket,
             ({h}) // {m} AS reduced
      FROM {table} WHERE {value_expr} IS NOT NULL
    ),
    bm AS (
      SELECT {group_alias}, bucket,
             bit_or(CASE WHEN reduced = 0 THEN (1::BIGINT << {_rank_bits(m)})
                    ELSE (1::BIGINT << bit_count((reduced & -reduced) - 1)) END) AS bits
      FROM pr GROUP BY 1, 2
    ),
    s AS (
      SELECT {group_alias},
             CAST(sum(bit_count((~bits & (bits + 1)) - 1)) AS BIGINT) AS s_sum
      FROM bm GROUP BY 1
    )
    SELECT {group_alias}, s_sum,
           CAST(floor({float(m) / PCSA_PHI!r}
                * (((1::BIGINT << CAST(s_sum // {m} AS INT))::DOUBLE)
                     * ([{tbl}])[CAST(s_sum % {m} AS INT) + 1]
                   - (CASE WHEN (7 * s_sum) // {4 * m} <= 62
                      THEN 1.0 / ((1::BIGINT << CAST((7 * s_sum) // {4 * m} AS INT))::DOUBLE)
                      ELSE 0.0 END)
                     * ([{neg}])[CAST((7 * s_sum) % {4 * m} AS INT) + 1])
           ) AS BIGINT) AS est_pcsa
    FROM s
    """
