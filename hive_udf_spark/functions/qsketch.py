"""Mergeable quantile-sample sketch (coordinated bottom-k row sample).

Fourth sketch family beside HLL/LC (cardinality) and KMV (distinct
sets): re-aggregable QUANTILES, stored per day and rolled up later the
way the reference stores cardinality sketches ({type, cardinality,
binary}) for re-aggregation (UDAFCardinalityEstimator.java:259-265).
pyspark 4.1 also exposes a mergeable quantile summary as data
(``kll_sketch_agg_*``), but as DataSketches bytes that no other engine
rebuilds. This module keeps the simplest sketch whose merge is EXACT, as
a plain array: the DuckDB oracles reproduce it bit-for-bit and the
benchmark reads it directly:

  sketch = the k rows with the smallest ``hash(row_key)``, kept as
  ``array<struct<h, v>>`` sorted by hash, plus the exact row count.

Hashing a unique row key gives a uniform row sample (multiset
semantics — duplicate values keep their multiplicity), and bottom-k by
hash is a coordinated sample: bottom-k of a union equals bottom-k of
bottom-k's, so merging per-group/per-day sketches yields the IDENTICAL
sketch a direct pass would build — the same lossless semilattice algebra
as ``kmv_table``. Quantile estimates read the sampled values at the
scaled rank; rank error is the binomial bound ~ √(q(1−q)/k)
(tests/test_qsketch.py measures it).

Relational PARTIAL→FINAL build, the kmv_table discipline: a map-side
rank-filtered window keeps bottom-k per (group, input partition), then
one shuffle of ≤k-pair arrays per group per partition — raw rows never
shuffle. With ``portable=True`` the hash is md5-based, so a DuckDB
oracle reproduces sketch, merge, and quantile bit-for-bit (the strongest
§5.2 check form).

Values are BIGINT (quantize floats to integer cents/ppm first — the
repo-wide convention for engine-exact numerics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hive_udf_spark.functions.hashing import _col, fast_hash64, portable_hash60
from hive_udf_spark.functions.kmv import _bottom_k

QSKETCH_DEFAULT_K = 256


def quantile_sketch_table(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    key_col: str,
    k: int = QSKETCH_DEFAULT_K,
    portable: bool = False,
    seed: int = 5,
) -> DataFrame:
    """Per-group quantile sketches: ``group_cols + (qs: array<struct<h,v>>,
    n_rows: bigint)``.

    ``key_col`` must identify rows uniquely (it seeds the coordinated
    sample); ``value_col`` must be integral. NULL values are skipped
    (reference null-row semantics). ``group_cols=[]`` builds one global
    sketch.

    Memory contract: a strict map-side bound — a rank-filtered window
    per (group, partition) that Spark plans as a map-side Partial
    WindowGroupLimit (spillable external sort keeping only k rows per
    cell), with the exact row count taken by a separate aggregation. A
    single-pass ``collect_list`` would buffer every row of a fat
    partition before trimming to k; the extra scan costs nothing on
    parquet-sized partitions (SCALE_NOTES r6).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    h = (portable_hash60 if portable else fast_hash64)(F.col(key_col), seed)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols,
        F.struct(h.alias("h"), F.col(value_col).cast("bigint").alias("v")).alias("__p"),
        F.spark_partition_id().alias("__pid"),
    )
    w = Window.partitionBy(*group_cols, "__pid").orderBy("__p")
    trimmed = (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )
    # struct sort orders by field position: h first, then v — the same
    # (h, v) order the oracle's ROW_NUMBER() OVER (ORDER BY h, v) uses
    sample = (
        trimmed.groupBy(*group_cols, "__pid")
        .agg(F.collect_list("__p").alias("__s"))  # already ≤k per cell
        .groupBy(*group_cols)
        .agg(_bottom_k(F.flatten(F.collect_list("__s")), k).alias("qs"))
    )
    counts = base.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_rows")
    )
    if group_cols:
        from hive_udf_spark.operators.util import null_safe_cond

        return sample.join(counts, null_safe_cond(sample, counts, group_cols)).select(
            *[sample[g] for g in group_cols], sample["qs"], counts["n_rows"]
        )
    # global form: both sides are exactly one row on empty input too (an
    # empty sketch with n_rows 0, whose quantiles are NULL)
    return sample.crossJoin(counts).select("qs", "n_rows")


def qsketch_values(sketch: Column | str) -> Column:
    """Sampled values of a sketch, sorted ascending (array<bigint>)."""
    return F.array_sort(F.transform(_col(sketch), lambda p: p.getField("v")))


def qsketch_quantile(sketch: Column | str, q: float) -> Column:
    """Deterministic quantile estimate from a sketch: the sampled value
    at zero-based rank ``floor(q·(m−1))`` of the ascending sample
    (nearest-lower rule — integer index math, engine-portable). NULL for
    an empty sketch."""
    if not 0.0 <= q <= 1.0:
        raise ValueError("q must be in [0, 1]")
    vs = qsketch_values(sketch)
    m = F.size(vs)
    idx = F.floor(F.lit(float(q)) * (m - F.lit(1)).cast("double")).cast("int") + F.lit(1)
    return F.when(m > 0, F.element_at(vs, idx)).otherwise(F.lit(None).cast("bigint"))


def qsketch_merge_table(
    df: DataFrame, group_cols: list[str], sketch_col: str, n_col: str, k: int
) -> DataFrame:
    """Re-aggregate stored sketches: ``group_cols + (qs, n_rows)``.

    Lossless under the bottom-k contract: rolled-up sketches are
    bit-identical to a direct build over the union (pytest-pinned), so
    per-day quantile state rolls to months without rescanning rows —
    the quantile analogue of the reference's sketch-merge path."""
    return (
        df.select(*group_cols, F.col(n_col).alias("__n"), F.col(sketch_col).alias("__s"))
        .groupBy(*group_cols)
        .agg(
            _bottom_k(F.flatten(F.collect_list("__s")), k).alias("qs"),
            # an empty global input still counts 0 rows, as a build does
            F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_rows"),
        )
    )
