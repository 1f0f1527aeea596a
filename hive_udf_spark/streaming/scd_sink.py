"""Streaming SCD2 dimension maintenance.

Change batches arrive as a stream; each micro-batch merges into the
stored type-2 dimension via ``operators/scd.scd2_apply`` and commits
as one version of the shared state directory
(``sources.sinks.read_state_version`` / ``hwm_skip`` /
``commit_state_version``: the ``dim/`` parquet + high-water-mark meta
swapped atomically — readers see a complete dimension at every
instant; a foreachBatch retry re-applies
the same batch, which scd2_apply makes a no-op, but the mark still
skips it to avoid the rewrite; a strictly-lower batch id raises the
lineage-mismatch error — replaying OLD batches over evolved state is
NOT idempotent, unlike same-batch retries).

Within a batch, the latest change per key wins (deterministic
``max(struct(effective, attrs...))``), honoring scd2_apply's
one-change-per-key contract however the source micro-batches chop the
change stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_udf_spark.operators.scd import scd2_apply
from hive_udf_spark.sources.sinks import (
    commit_state_version,
    hwm_skip,
    read_state_version,
)


def scd2_dimension_sink(
    changes: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str = "effective_ts",
):
    """Streaming query maintaining an SCD2 dimension from a change
    stream. Returns the started StreamingQuery (caller awaits/stops).
    Reading ``<state_path>/dim`` at any moment yields a complete,
    point-in-time-queryable dimension."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        cur, meta = read_state_version(state_path)
        if hwm_skip(meta.get("last_batch", -1), batch_id, state_path):
            return
        # latest change per key within the batch (deterministic)
        picked = (
            batch_df.groupBy(*key_cols)
            .agg(
                F.max(
                    F.struct(
                        F.col(effective_col).alias("__e"),
                        *[F.col(c).alias(c) for c in attr_cols],
                    )
                ).alias("__m")
            )
            .select(
                *key_cols,
                *[F.col(f"__m.{c}").alias(c) for c in attr_cols],
                F.col("__m.__e").alias(effective_col),
            )
        )
        if cur is not None:
            dim = spark.read.parquet(os.path.join(cur, "dim"))
        else:
            dim = batch_df.select(
                *key_cols,
                *attr_cols,
                F.col(effective_col).alias("valid_from"),
                F.col(effective_col).alias("valid_to"),
            ).limit(0)
        new_dim = scd2_apply(dim, picked, key_cols, attr_cols, effective_col)
        # no pre-write checkpoint: the write reads the current version,
        # which stays in place until the commit's swap
        commit_state_version(state_path, batch_id, rewrite={"dim": new_dim})

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
