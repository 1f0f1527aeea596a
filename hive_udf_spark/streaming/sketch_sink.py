"""Incremental sketch-table maintenance: the streaming sink for
"the sketch is data" (SURVEY.md §1.1).

The reference's rollup story (store per-day sketches, union them later —
UDAFCardinalityEstimator.java:259-265) extends naturally to streams: each
micro-batch's raw rows reduce to per-key sketches INSIDE the batch, and
the cumulative table is maintained by merging batch sketches into the
stored ones — raw events are never kept, and the table stays one row per
key regardless of stream length. This is the classic streaming
"merge-on-write summary table":

* per batch: ``groupBy(key).agg(approx_distinct(value))`` — bounded
  output (keys × sketch size), partial aggregation inside the batch;
* merge: stored ∪ batch via ``sketch_merge_agg`` (associative +
  commutative, so batch boundaries don't affect the result);
* swap: the merged table is written to a scratch dir and atomically
  renamed over the old one — readers see old or new, never a torn mix.
  At deployment scale the same merge runs against a transactional table
  format (MERGE INTO); the parquet+rename here keeps the engine
  dependency-free while preserving the update contract.

Exactly-once: foreachBatch may retry a batch after failure. Re-merging
the SAME events is harmless for distinct-count sketches (union is
idempotent per element), so the estimates stay correct under at-least-
once delivery — the property that makes sketches the right streaming
state in the first place.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_udf_spark.functions import approx_distinct, sketch_merge_agg
from hive_udf_spark.sources.sinks import atomic_swap_parquet, hwm_skip


# The swap is the symlink-indirection one shared with sources.sinks —
# the table path resolves at EVERY instant (the earlier rename-away/
# rename-in pair left a crash window where the path vanished and the
# next merge would silently restart from one batch).
_atomic_swap = atomic_swap_parquet


def _merge_with_hwm(
    spark: SparkSession,
    batch_rows: DataFrame,
    table_path: str,
    cols: list[str],
    merge_fn,
    batch_id: int | None,
) -> None:
    """Shared merge-on-write skeleton for NON-idempotent merge algebras
    (exact counters): read the stored table, skip the batch entirely if
    its batch_id equals the stored ``__last_batch`` high-water mark (a
    foreachBatch retry) and refuse a lower one (``sources.sinks.hwm_skip``,
    the check every foreachBatch sink shares), union, re-aggregate via
    ``merge_fn``, stamp the new mark in the same swap."""
    if os.path.exists(table_path):
        existing = spark.read.parquet(table_path)
        if batch_id is not None:
            hwm = existing.agg(F.max("__last_batch")).collect()[0][0]
            if hwm is not None and hwm_skip(hwm, batch_id, table_path):
                return  # retry of an already-merged batch
        all_rows = existing.select(*cols).unionByName(batch_rows.select(*cols))
    else:
        all_rows = batch_rows.select(*cols)
    merged = merge_fn(all_rows).withColumn(
        "__last_batch",
        F.lit(-1 if batch_id is None else int(batch_id)).cast("bigint"),
    )
    _atomic_swap(merged, table_path)


def merge_sketch_table(
    spark: SparkSession,
    batch_sketches: DataFrame,
    table_path: str,
    key_cols: list[str],
    sketch_col: str = "s",
) -> None:
    """Merge per-key sketch rows into the stored sketch table at
    ``table_path`` (created on first call). Batch and stored rows union,
    re-aggregate per key, and replace the table via write-then-rename."""
    if os.path.exists(table_path):
        existing = spark.read.parquet(table_path).select(*key_cols, sketch_col)
        all_rows = existing.unionByName(batch_sketches.select(*key_cols, sketch_col))
    else:
        all_rows = batch_sketches.select(*key_cols, sketch_col)
    merged = all_rows.groupBy(*key_cols).agg(
        sketch_merge_agg(sketch_col).alias(sketch_col)
    )
    _atomic_swap(merged, table_path)


def daily_user_sketch_sink(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    b: int = 16,
):
    """Streaming query maintaining a per-day distinct-user sketch table.

    ``events`` is a streaming DataFrame with (ts, user_id). Each batch
    reduces to per-day sketches before touching storage; the cumulative
    table holds exactly one row per day. Returns the started
    StreamingQuery (caller awaits/stops)."""

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        sketches = (
            batch_df.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(approx_distinct("user_id", b=b).alias("s"))
            .filter(F.col("s").isNotNull())
        )
        merge_sketch_table(batch_df.sparkSession, sketches, table_path, ["day"], "s")

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def merge_quantile_table(
    spark: SparkSession,
    batch_sketches: DataFrame,
    table_path: str,
    key_cols: list[str],
    k: int,
    batch_id: int | None = None,
    sketch_col: str = "qs",
    n_col: str = "n_rows",
) -> None:
    """Merge per-key quantile-sample sketches (functions/qsketch.py) into
    the stored table — the fourth sketch family on the same
    merge-on-write machinery.

    The bottom-k union is the lossless KMV-style semilattice, with
    ``array_distinct`` before the trim: a pair (h, v) names one source
    row (h hashes its unique key), so re-merging rows already present in
    the stored sketch cannot inflate the sample. Unlike distinct-count
    union, the exact ``n_rows`` counter is NOT idempotent — so the table
    carries a ``__last_batch`` high-water mark, updated in the same
    atomic swap as the data: a foreachBatch retry of an already-merged
    batch (same batch_id) is skipped entirely, keeping counts exact
    under at-least-once delivery.
    """
    def merge(all_rows: DataFrame) -> DataFrame:
        return all_rows.groupBy(*key_cols).agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list(sketch_col)))),
                1,
                k,
            ).alias(sketch_col),
            F.sum(n_col).cast("bigint").alias(n_col),
        )

    _merge_with_hwm(
        spark, batch_sketches, table_path, [*key_cols, sketch_col, n_col], merge, batch_id
    )


def daily_value_quantile_sink(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    k: int = 256,
    portable: bool = False,
):
    """Streaming query maintaining a per-day quantile-sample sketch table
    over the event ``value`` (quantized to cents), keyed by the unique
    ``event_id`` — re-aggregable quantile state for streams (r4 verdict
    item 7).

    Each micro-batch reduces to per-day bottom-k sketches
    (quantile_sketch_table — raw events never stored), then OR-merges
    into the cumulative table, one row per day. Because the bottom-k
    merge is lossless, the streamed table is BIT-IDENTICAL to a batch
    build over the same events — the oracle checks that, not a bound.
    Returns the started StreamingQuery (caller awaits/stops)."""
    from hive_udf_spark.functions.qsketch import quantile_sketch_table

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        cents = batch_df.withColumn("day", F.date_trunc("day", "ts")).withColumn(
            "__cents", F.round(F.col("value") * 100).cast("bigint")
        )
        sketches = quantile_sketch_table(
            cents, ["day"], "__cents", "event_id", k=k, portable=portable
        )
        merge_quantile_table(
            batch_df.sparkSession, sketches, table_path, ["day"], k, batch_id
        )

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def merge_cms_table(
    spark: SparkSession,
    batch_cells: DataFrame,
    table_path: str,
    batch_id: int | None = None,
) -> None:
    """Merge a micro-batch's Count-Min cells (d, idx, cnt —
    functions/freq.py cms_table) into the stored counter table: union +
    sum per (d, idx), the CMS's lossless additive merge. Like the exact
    quantile-sample counter (merge_quantile_table) and unlike distinct-
    count union, cell sums are NOT idempotent — a ``__last_batch``
    high-water mark written in the same atomic swap skips foreachBatch
    retries whole, keeping counts exact under at-least-once delivery."""
    def merge(all_cells: DataFrame) -> DataFrame:
        return all_cells.groupBy("d", "idx").agg(
            F.sum("cnt").cast("bigint").alias("cnt")
        )

    _merge_with_hwm(spark, batch_cells, table_path, ["d", "idx", "cnt"], merge, batch_id)


def user_frequency_cms_sink(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 1024,
    portable: bool = False,
):
    """Streaming query maintaining a Count-Min frequency sketch over
    ``user_id`` — per-user event counts queryable at any moment via
    ``functions.freq.cms_lookup``, in depth×width fixed space however
    long the stream runs (the heavy-hitters streaming state the batch
    ``freq_*`` family stores as a relation).

    Each micro-batch reduces to ≤ depth·width cells BEFORE touching
    storage (cms_table partially aggregates map-side); the additive
    merge makes the streamed table cell-identical to a batch build over
    the same events, so the oracle can check every cell exactly.
    Returns the started StreamingQuery (caller awaits/stops)."""
    from hive_udf_spark.functions.freq import cms_table

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        cells = cms_table(
            batch_df.filter(F.col("user_id").isNotNull()),
            "user_id",
            depth=depth,
            width=width,
            portable=portable,
        )
        merge_cms_table(batch_df.sparkSession, cells, table_path, batch_id)

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def merge_pcsa_table(
    spark: SparkSession,
    batch_sketch: DataFrame,
    table_path: str,
    key_cols: list[str],
) -> None:
    """Merge a micro-batch's PCSA bitmap rows (functions/pcsa.py
    pcsa_table: key_cols + (bucket, bits)) into the stored sketch:
    bit_or per (key, bucket). Like distinct-count union and UNLIKE the
    exact quantile/CMS counters, the OR merge is IDEMPOTENT per element
    — a foreachBatch retry re-ORs the same bits harmlessly, so no
    high-water mark is needed; this is the simplest possible
    merge-on-write state."""
    def merge(all_rows: DataFrame) -> DataFrame:
        return all_rows.groupBy(*key_cols, "bucket").agg(
            F.bit_or("bits").alias("bits")
        )

    # batch_id=None: the OR merge needs no retry guard
    _merge_with_hwm(
        spark, batch_sketch, table_path, [*key_cols, "bucket", "bits"], merge, None
    )


def daily_user_pcsa_sink(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    m: int = 64,
    seed: int = 7,
):
    """Streaming query maintaining per-day PCSA distinct-user sketches —
    the fourth merge-on-write sketch family (HLL struct, quantile
    sample, CMS counters, FM bitmaps). Lossless OR merge ⇒ the streamed
    table is bit-identical to a batch build, estimates included."""
    from hive_udf_spark.functions.pcsa import pcsa_table

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        sk = pcsa_table(
            batch_df.withColumn("day", F.date_trunc("day", "ts")),
            ["day"],
            "user_id",
            m=m,
            seed=seed,
        )
        merge_pcsa_table(batch_df.sparkSession, sk, table_path, ["day"])

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def merge_hllp_table(
    spark: SparkSession,
    batch_sketch: DataFrame,
    table_path: str,
    key_cols: list[str],
) -> None:
    """Merge a micro-batch's portable-HLL register rows
    (functions/hllp.py hllp_table: key_cols + (bucket, rank)) into the
    stored sketch: max per (key, bucket). Like PCSA's OR and unlike the
    exact counters, the max merge is IDEMPOTENT per element — a
    foreachBatch retry re-maxes the same ranks harmlessly, so no
    high-water mark is needed."""
    def merge(all_rows: DataFrame) -> DataFrame:
        return all_rows.groupBy(*key_cols, "bucket").agg(
            F.max("rank").alias("rank")
        )

    # batch_id=None: the max merge needs no retry guard
    _merge_with_hwm(
        spark, batch_sketch, table_path, [*key_cols, "bucket", "rank"], merge, None
    )


def daily_user_hllp_sink(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    m: int = 256,
    seed: int = 7,
):
    """Streaming query maintaining per-day PORTABLE-HLL distinct-user
    registers — the reference's primary algorithm as merge-on-write
    streaming state (fifth family). Lossless max merge ⇒ the streamed
    table is bit-identical to a batch build, estimates included."""
    from hive_udf_spark.functions.hllp import hllp_table

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        sk = hllp_table(
            batch_df.withColumn("day", F.date_trunc("day", "ts")),
            ["day"],
            "user_id",
            m=m,
            seed=seed,
        )
        merge_hllp_table(batch_df.sparkSession, sk, table_path, ["day"])

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
