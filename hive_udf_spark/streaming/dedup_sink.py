"""Streaming incremental near-dup detection: probe each micro-batch
against the accumulated MinHash index, flag cross-batch pairs, extend
the index — dedup of an arriving corpus as STREAMING STATE.

The batch-mode contract (operators/dedup.py build_minhash_index /
probe_minhash_index — no corpus rescan per ingest) driven by
foreachBatch: every batch's documents are signature-hashed once, probed
against the index built from all EARLIER batches (cross-batch pairs
only; run near_dup_pairs inside a batch for intra-batch dups), and
appended to the index.

Exactly-once across TWO tables with ONE commit: the state directory
holds ``index/`` and ``pairs/`` sub-tables plus the batch high-water
mark, and is replaced as a WHOLE (``sources.sinks.read_state_version`` /
``hwm_skip`` / ``commit_state_version``, the versioned state directory
every foreachBatch sink shares) — a crash can never leave the pairs
table ahead of the index or vice versa, and a foreachBatch retry (hwm
check) skips the whole batch. Both sub-tables are append-only, so each
commit writes only the batch's rows and hard-links the previous files.

Determinism: with a deterministic batch order (e.g. one file per batch,
FileStreamSource order), the final pairs table equals the batch-mode
computation "all pairs (a, b) with batch(a) < batch(b), J ≥ t" — which
is what the registry oracle computes in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_udf_spark.sources.sinks import (
    commit_state_version,
    hwm_skip,
    read_state_version,
)

PAIRS_SCHEMA = (
    "batch_id bigint, corpus_id bigint, inter_size bigint, union_size bigint"
)


def incremental_dedup_sink(
    docs: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    portable: bool = False,
):
    """Streaming query maintaining (index, cross-batch near-dup pairs)
    state under the one-commit contract above. Returns the started
    StreamingQuery (caller awaits/stops); read results with
    ``spark.read.parquet(f"{state_path}/pairs")``."""
    from hive_udf_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur, meta = read_state_version(state_path)
        if hwm_skip(meta.get("last_batch", -1), batch_id, state_path):
            return  # retry of a committed batch (state ahead of checkpoint)
        batch_df = batch_df.localCheckpoint(eager=True)
        if cur is not None:
            batch_pairs = probe_minhash_index(
                spark.read.parquet(os.path.join(cur, "index")),
                batch_df,
                id_col,
                text_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
                portable=portable,
            ).select(
                F.col("batch_id").cast("long"),
                F.col("corpus_id").cast("long"),
                F.col("inter_size").cast("long"),
                F.col("union_size").cast("long"),
            )
        else:
            batch_pairs = spark.createDataFrame([], PAIRS_SCHEMA)
        batch_index = build_minhash_index(
            batch_df, id_col, text_col, num_hashes, portable=portable
        )
        # no pre-write checkpoint: the commit's parquet writes ARE the
        # materialization, and they complete while the old state dir still
        # exists — an eager checkpoint here would copy the O(state) index
        # through the block store once more per batch for nothing (r14)
        commit_state_version(
            state_path,
            batch_id,
            append={"index": batch_index, "pairs": batch_pairs},
        )

    return (
        docs.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )
