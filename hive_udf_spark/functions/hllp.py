"""Portable HyperLogLog — the reference's PRIMARY algorithm at the
strongest check tier.

The HLL struct facade (functions/sketch.py) rides Spark's DataSketches
``hll_sketch_agg``: fast, but its estimate policy differs from the
reference's classic Flajolet estimator, so its oracles are bounds
verdicts plus a measured divergence cap (BASELINE.md round 4). This
module is the complement: HyperLogLog (Flajolet et al. 2007 — the paper
the reference cites, UDAFCardinalityEstimator.java:50) rebuilt on the
relational Tier-B discipline shared by LC/KMV/PCSA, with the REFERENCE'S
estimate semantics — small-range (linear counting) correction applied,
long-range correction DISABLED, exactly stream-lib's
``cardinality(false)`` (UDAFCardinalityEstimator.java:335-337) — and an
ENGINE-PORTABLE estimate that hash-matches DuckDB bit-for-bit.

State: m = 2^b registers; value x updates register ``hash(x) & (m-1)``
with ``max(register, rho)`` where rho = 1 + trailing zeros of the
remaining 60-b hash bits (geometric rank, capped at K = 61-b when the
suffix is all zeros). The sketch IS a relation — one (bucket, rank) row
per non-empty register; merge = max per bucket, an idempotent
semilattice like PCSA's OR (lossless rollups, retry-safe streaming
state with no high-water mark).

Why the estimate is bit-exact across engines: the harmonic sum
``Z = Σ 2^(-M_j)`` is dyadic, so ``S = Z·2^K = Σ 2^(K - M_j)`` is an
EXACT integer (every term a power of two; empty registers contribute
2^K; S ≤ m·2^K = 2^61 fits BIGINT), order-independent under partial
aggregation. The raw estimate ``alpha_m·m²·2^K / S`` is then literal ×
exact-power-of-two × one correctly-rounded int64→double conversion and
one correctly-rounded division — identical IEEE results in any engine.
The small-range branch (raw ≤ 2.5m and V > 0 → m·ln(m/V)) shares the
libm-parity discipline every micro-nat oracle already relies on.
Standard error ≈ 1.04/√m.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_udf_spark.functions.hashing import portable_hash60_sql
from hive_udf_spark.functions.pcsa import _bucket_rank, _rank_bits

__all__ = [
    "hllp_table",
    "hllp_merge_table",
    "hllp_estimate",
    "hllp_estimate_sql",
    "hllp_intersect_estimate",
    "hllp_alpha",
    "HLLP_DEFAULT_M",
]

HLLP_DEFAULT_M = 256


def hllp_alpha(m: int) -> float:
    """The standard bias-correction constant (Flajolet et al. 2007
    §4; the same table stream-lib applies)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _check_m(m: int) -> int:
    if m < 16 or m & (m - 1):
        raise ValueError("m must be a power of two >= 16 (alpha_m table)")
    if m > (1 << 20):
        raise ValueError("m too large for the 60-bit hash split")
    return m.bit_length() - 1  # b


def hllp_table(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    m: int = HLLP_DEFAULT_M,
    seed: int = 7,
) -> DataFrame:
    """Per-group portable-HLL sketches: group_cols + (bucket, rank) rows
    — one row per NON-EMPTY register (absent row ⇔ register 0, so no
    densification is ever needed). NULL inputs are skipped (reference
    :238-240); all-NULL groups produce no rows.

    Plan shape: bucket/rank are scan-time bit expressions; ONE
    partial-aggregated max per (group, bucket) — the shuffle carries
    ≤ m fixed-width rows per (group, map partition), the
    lc_table/kmv_table/pcsa_table discipline."""
    _check_m(m)
    c = F.col(col)
    # HLL's rho is PCSA's trailing-zero rank plus one (saturating at K)
    bucket, rank = _bucket_rank(c, m, seed)
    return (
        df.filter(c.isNotNull())
        .select(*group_cols, bucket.alias("bucket"), (rank + F.lit(1)).cast("int").alias("__r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__r").alias("rank"))
    )


def hllp_merge_table(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Re-aggregate sketch relations to coarser groups: max per (group,
    bucket) — the idempotent semilattice merge (identical rows to a
    direct build; the reference's :259-265 rollup path, and retry-safe
    streaming state needing no high-water mark). Only sketches built
    with the same (m, seed) may merge; the relation carries no header,
    so the contract is the caller's (the pcsa_merge_table caveat)."""
    return df.groupBy(*group_cols, "bucket").agg(F.max("rank").alias("rank"))


def hllp_estimate(
    sketch: DataFrame,
    group_cols: list[str],
    m: int = HLLP_DEFAULT_M,
) -> DataFrame:
    """group_cols + (n_zero, est_hllp) from a sketch relation, with the
    REFERENCE'S estimate policy: raw = alpha_m·m²/Z; if raw ≤ 2.5m and
    any register is empty, fall back to linear counting m·ln(m/V); no
    long-range correction (stream-lib ``cardinality(false)``,
    UDAFCardinalityEstimator.java:335-337). Engine-portable: see the
    module docstring's exact-dyadic-sum argument."""
    _check_m(m)
    k = _rank_bits(m) + 1
    per_group = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__nb"),
        # coalesce: a global (group_cols=[]) aggregate over an EMPTY
        # sketch relation yields one row with sum NULL — all registers
        # empty means S = m·2^K and the LC branch gives the correct 0
        F.coalesce(
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k} - rank)")),
            F.lit(0),
        ).alias("__sp"),
    )
    # empty registers contribute 2^(K-0) each; S is an exact BIGINT
    s = F.col("__sp") + (F.lit(m) - F.col("__nb")) * F.lit(1 << k)
    v = (F.lit(m) - F.col("__nb")).cast("long")
    raw = (
        F.lit(hllp_alpha(m) * float(m) * float(m) * float(2.0**k))
        / s.cast("double")
    )
    small = (raw <= F.lit(2.5 * m)) & (v > 0)
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.floor(F.when(small, lc).otherwise(raw)).cast("long")
    return per_group.select(*group_cols, v.alias("n_zero"), est.alias("est_hllp"))


def hllp_estimate_sql(
    table: str,
    group_expr: str,
    value_expr: str,
    m: int,
    seed: int,
    group_alias: str = "g",
) -> str:
    """DuckDB SQL reproducing hllp_table + hllp_estimate bit-for-bit."""
    _check_m(m)
    b = m.bit_length() - 1
    k = _rank_bits(m) + 1
    h = portable_hash60_sql(value_expr, seed)
    alpha_m2_2k = repr(hllp_alpha(m) * float(m) * float(m) * float(2.0**k))
    return f"""
    WITH pr AS (
      SELECT {group_expr} AS {group_alias},
             ({h}) % {m} AS bucket,
             ({h}) // {1 << b} AS reduced
      FROM {table} WHERE {value_expr} IS NOT NULL
    ),
    reg AS (
      SELECT {group_alias}, bucket,
             max(CASE WHEN reduced = 0 THEN {k}
                 ELSE bit_count((reduced & -reduced) - 1) + 1 END) AS rank
      FROM pr GROUP BY 1, 2
    ),
    agg AS (
      SELECT {group_alias},
             count(*) AS nb,
             CAST(sum(1::BIGINT << ({k} - rank)) AS BIGINT) AS sp
      FROM reg GROUP BY 1
    ),
    est AS (
      SELECT {group_alias},
             CAST({m} - nb AS BIGINT) AS n_zero,
             {alpha_m2_2k} / CAST(sp + ({m} - nb) * (1::BIGINT << {k}) AS DOUBLE) AS raw
      FROM agg
    )
    SELECT {group_alias}, n_zero,
           CAST(floor(CASE WHEN raw <= {2.5 * m!r} AND n_zero > 0
                THEN {float(m)!r} * ln({float(m)!r} / CAST(n_zero AS DOUBLE))
                ELSE raw END) AS BIGINT) AS est_hllp
    FROM est
    """


def hllp_intersect_estimate(
    a: DataFrame,
    b: DataFrame,
    m: int = HLLP_DEFAULT_M,
) -> DataFrame:
    """Intersection estimate for two GLOBAL portable-HLL sketches via
    inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with the
    union sketch the lossless max-merge of the two register relations.
    Output: one row (est_a, est_b, est_union, est_intersect), the
    intersect clamped at 0 (inclusion–exclusion can go negative for
    near-disjoint sets — the same caveat as the HLL struct facade's
    sketch_intersect_estimate; KMV's sample-based intersect is the
    non-negative alternative). Every term is the bit-exact portable
    estimate, so the whole row reproduces in a SQL oracle."""
    ea = hllp_estimate(a, [], m).select(F.col("est_hllp").alias("est_a"))
    eb = hllp_estimate(b, [], m).select(F.col("est_hllp").alias("est_b"))
    eu = hllp_estimate(
        hllp_merge_table(a.unionByName(b), []), [], m
    ).select(F.col("est_hllp").alias("est_union"))
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0)
            )
            .cast("long")
            .alias("est_intersect"),
        )
    )
