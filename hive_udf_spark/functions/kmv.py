"""KMV (K-Minimum-Values / bottom-k) cardinality sketch.

Third estimator family beside HLL and LC (reference scope: two algorithms
behind one ``approx_distinct`` surface — UDAFCardinalityEstimator.java:71-86;
README.markdown:1). KMV is the natural Spark-native extension of that
family because, unlike HLL, its estimate is a *deterministic pure function
of an engine-portable hash*: with ``portable_hash60`` (top 60 bits of md5,
functions/hashing.py) any engine reproduces the sketch — and therefore the
estimate — bit-for-bit. Our DuckDB oracles hash-match KMV estimates
exactly, a strictly stronger check than the bounds-verdict oracles HLL
admits.

Sketch = the ``k`` smallest *distinct* hash values of the input, kept as a
sorted ``array<bigint>``. Estimator (Bar-Yossef et al. 2002; Beyer et al.
SIGMOD 2007 "On synopses for distinct-value estimation under multiset
operations"):

  * fewer than k distinct hashes seen → the sketch IS the distinct set:
    estimate = |sketch| (exact);
  * otherwise estimate = (k-1) · 2^60 / sketch[k-1]  (k-th minimum
    normalized by the hash range). RSE ≈ 1/√(k−2).

Why these are pure relational plans and not an agg Column like
``approx_distinct``: ``collect_set`` alone holds every distinct value per
group. pyspark 4.1 ships a bounded distinct-value aggregate,
``theta_sketch_agg``, but its sketch is DataSketches bytes over Spark's
own hash, which no other engine rebuilds. The sorted ``array<bigint>`` of
portable hashes stays: the DuckDB oracles reproduce it bit-for-bit and
the benchmark reads it as an array. The build mirrors the reference's
PARTIAL1→FINAL protocol (UDAFCardinalityEstimator.java:276-317)
*relationally*:

  partial:  bottom-k per (group, input partition) — map-side, bounded by
            min(k, partition rows) per group, no shuffle of raw values;
  final:    explode the ≤k·P partial values, re-take bottom-k per group.

Bottom-k is a semilattice merge (bottom-k of a union = bottom-k of
bottom-k's), so the result is independent of partitioning — the partial
step uses ``spark_partition_id()`` only as a combine key, never in the
output. At 100 TB the shuffle carries ≤ k longs per group per input
partition instead of the raw column.

All estimate/set-algebra helpers are pure JVM expressions (array_sort /
array_distinct / array_intersect / slice) — no Python in any path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hive_udf_spark.functions.hashing import PORTABLE_HASH_BITS, _col, portable_hash60, portable_hash60_sql

KMV_DEFAULT_K = 64
_HASH_RANGE = float(2**PORTABLE_HASH_BITS)


def _bottom_k(values: Column, k: int) -> Column:
    """The k smallest elements, ascending (structs order field by field)."""
    return F.slice(F.array_sort(values), 1, k)


def kmv_table(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    k: int = KMV_DEFAULT_K,
    seed: int = 7,
) -> DataFrame:
    """Per-group KMV sketches: ``group_cols + (kmv: array<bigint>,
    est_kmv: bigint)``.

    ``group_cols=[]`` builds one global sketch. Null inputs are skipped
    (reference null-row semantics, UDAFCardinalityEstimator.java:238-240).
    Two-phase build (see module docstring): map-side bottom-k per input
    partition, then a single shuffle of ≤k-element arrays.
    """
    if k < 2:
        raise ValueError("k must be >= 2 (the estimator divides by k-1)")
    h = portable_hash60(F.col(col), seed)
    base = df.filter(F.col(col).isNotNull()).select(
        *group_cols, h.alias("__h"), F.spark_partition_id().alias("__pid")
    )
    partials = base.groupBy(*group_cols, "__pid").agg(
        _bottom_k(F.collect_set("__h"), k).alias("__p")
    )
    return kmv_merge_table(partials, group_cols, "__p", k)


def kmv_estimate(sketch: Column | str, k: int) -> Column:
    """Scalar: cardinality estimate from a KMV sketch (bigint).

    Exact below saturation (|sketch| < k); otherwise
    floor((k-1)·2^60 / kth_min). Both branches reproduce bit-for-bit in
    any engine with IEEE doubles: (k-1)·2^60 is an integer times a power
    of two (exact in double) and division is correctly rounded, so
    identical inputs give identical floors.
    """
    s = _col(sketch)
    n = F.size(s)
    kth = F.element_at(s, k).cast("double")
    return (
        F.when(n < k, n.cast("bigint"))
        .otherwise(F.floor(F.lit(float(k - 1)) * F.lit(_HASH_RANGE) / kth).cast("bigint"))
    )


def kmv_estimate_sql(sketch_expr: str, k: int) -> str:
    """DuckDB SQL computing the same value as :func:`kmv_estimate`
    (1-indexed lists in both engines)."""
    return (
        f"CAST(CASE WHEN len({sketch_expr}) < {k} THEN len({sketch_expr}) "
        f"ELSE floor({k - 1}::DOUBLE * {2**PORTABLE_HASH_BITS} / ({sketch_expr})[{k}]) "
        f"END AS BIGINT)"
    )


def kmv_union(a: Column | str, b: Column | str, k: int) -> Column:
    """Scalar: union of two KMV sketches = bottom-k of the merged value
    sets. Lossless w.r.t. the bottom-k contract — merging per-day
    sketches gives the identical sketch a direct pass would build
    (UDAFCardinalityEstimator.java:259-265's rollup, exactly)."""
    return _bottom_k(F.array_distinct(F.concat(_col(a), _col(b))), k)


def kmv_merge_table(
    df: DataFrame, group_cols: list[str], sketch_col: str, k: int
) -> DataFrame:
    """Re-aggregate previously built sketches: ``group_cols + (kmv,
    est_kmv)``. The sketch-as-data path (the reference's struct-input
    merge, UDAFCardinalityEstimator.java:259-265): per-day KMV tables
    roll up to months without rescanning raw rows; the shuffle carries
    ≤k-element arrays."""
    merged = (
        df.select(*group_cols, F.explode(sketch_col).alias("__h"))
        .groupBy(*group_cols)
        .agg(_bottom_k(F.collect_set("__h"), k).alias("kmv"))
    )
    return merged.select(*group_cols, "kmv", kmv_estimate("kmv", k).alias("est_kmv"))


def kmv_jaccard(a: Column | str, b: Column | str, k: int) -> Column:
    """Scalar: Jaccard estimate from two KMV sketches (double).

    Beyer et al. 2007 §4: with X = bottom-k of A∪B,
    J ≈ |X ∩ A ∩ B| / |X|. Deterministic given the sketches; ratio of
    two small exact integers, so engine-portable bit-for-bit. Both
    sketches empty ⇒ 0/0: J(∅, ∅) is defined as 0 here (matching
    kmv_difference_estimate's empty-sketch contract), never NULL."""
    ca, cb = _col(a), _col(b)
    x = kmv_union(ca, cb, k)
    inter = F.size(F.array_intersect(x, F.array_intersect(ca, cb)))
    return F.when(
        F.size(x) > 0, inter.cast("double") / F.size(x).cast("double")
    ).otherwise(F.lit(0.0))


def kmv_intersect_estimate(a: Column | str, b: Column | str, k: int) -> Column:
    """Scalar: |A ∩ B| estimate = Jaccard · |A ∪ B| estimate (bigint).

    Unlike HLL inclusion–exclusion (sketch.sketch_intersect_estimate),
    this is non-negative by construction. Both sketches empty ⇒ the
    intersection is provably 0 — returned as 0, not NULL (the module's
    uniform empty-sketch contract)."""
    ca, cb = _col(a), _col(b)
    x = kmv_union(ca, cb, k)
    return (
        F.when(
            F.size(x) > 0,
            F.floor(kmv_jaccard(ca, cb, k) * kmv_estimate(x, k)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
    )


def kmv_difference_estimate(a: Column | str, b: Column | str, k: int) -> Column:
    """Scalar: |A \\ B| estimate (bigint) — the a-not-b set operation
    (Beyer et al. 2007's multiset framework; the theta-sketch AnotB
    analogue). With X = bottom-k of A∪B, the fraction of X's members
    that lie in A but not B estimates |A\\B| / |A∪B|, so

        est = floor( |X ∩ (A − B)| / |X| · est(A∪B) ).

    Non-negative by construction, deterministic given the sketches, and
    a ratio of small exact integers times the portable union estimate —
    engine-reproducible bit-for-bit like the other KMV ops."""
    ca, cb = _col(a), _col(b)
    x = kmv_union(ca, cb, k)
    frac = F.size(F.array_intersect(x, F.array_except(ca, cb))).cast(
        "double"
    ) / F.size(x).cast("double")
    # both sketches empty ⇒ 0/0 division: |A\B| is provably 0, not NULL
    return (
        F.when(F.size(x) > 0, F.floor(frac * kmv_estimate(x, k)))
        .otherwise(F.lit(0))
        .cast("bigint")
    )


def kmv_sketch_sql(
    source_cte: str,
    group_expr: str,
    value_expr: str,
    k: int,
    seed: int = 7,
    group_alias: str | None = None,
) -> str:
    """DuckDB CTE body reproducing :func:`kmv_table`'s sketch for the
    oracle: bottom-k distinct portable hashes per group, as a sorted
    list. ``group_expr`` may be '' for a global sketch; expressions are
    evaluated once in the innermost scan and carried up under
    ``group_alias`` (default: the expression text, for plain columns)."""
    hv = portable_hash60_sql(value_expr, seed)
    alias = group_alias or group_expr
    grp_inner = f"{group_expr} AS {alias}, " if group_expr else ""
    grp_sel = f"{alias}, " if group_expr else ""
    grp_by = f"GROUP BY {alias}" if group_expr else ""
    part = f"PARTITION BY {alias} " if group_expr else ""
    return f"""
    SELECT {grp_sel}list(hv ORDER BY hv) AS kmv
    FROM (
      SELECT {grp_sel}hv,
             row_number() OVER ({part}ORDER BY hv) AS rn
      FROM (SELECT DISTINCT {grp_inner}{hv} AS hv
            FROM {source_cte} WHERE {value_expr} IS NOT NULL)
    ) WHERE rn <= {k}
    {grp_by}
    """
