"""Streaming corpus-frequency boilerplate detection: the incremental
face of ``text_boilerplate_line_removal`` (CCNet §3.1).

Batch mode counts per-line DOCUMENT frequency over the whole corpus.
A stream accumulates the same statistic additively: each micro-batch
contributes its per-line distinct-document counts (a document arrives
in exactly one batch, so batch-local distinct counts sum to the global
document frequency), merged into the state table by a full-outer
union-aggregate.  The final (line, df, n_docs) table therefore equals
the batch computation regardless of batching — what the registry
oracle pins.

State and exactly-once: one parquet sub-table (``linedf/``) plus the
total document count and batch high-water mark in ``meta.json``,
committed as one version of the shared state directory
(``sources.sinks.commit_state_version``).  The hwm guard is load-bearing: counts are ADDITIVE, so a
replayed foreachBatch would double-count.

Scale: per batch, one explode + one (line) hash-aggregation with
map-side partials; the state table is distinct-line-sized and the
merge is a union + re-aggregation on the line key — no per-doc state,
no driver-side structures.  At query time the boilerplate set (df >
frac·n_docs) is tiny by definition and broadcasts to the removal join,
exactly as in batch mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hive_udf_spark.functions.lines import split_lines_sql
from hive_udf_spark.sources.sinks import (
    commit_state_version,
    hwm_skip,
    read_state_version,
)


def incremental_line_df_sink(
    pages: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    page_col: str = "page",
):
    """Maintain the per-line document-frequency table over a stream of
    (doc_id, page) rows.  Returns the started StreamingQuery; read the
    state with ``spark.read.parquet(f"{state_path}/linedf")`` and the
    document total as ``read_state_version(state_path)[1]["n_docs"]``."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur, meta = read_state_version(state_path)
        if hwm_skip(meta.get("last_batch", -1), batch_id, state_path):
            return
        batch_docs = batch_df.select(id_col).distinct().count()
        lines = batch_df.select(
            F.col(id_col).alias("__doc"),
            F.explode(F.expr(split_lines_sql(page_col, "spark"))).alias("line"),
        )
        delta = lines.groupBy("line").agg(
            F.countDistinct("__doc").cast("long").alias("df")
        )
        if cur is not None:
            delta = spark.read.parquet(os.path.join(cur, "linedf")).unionByName(
                delta
            )
        merged = delta.groupBy("line").agg(F.sum("df").cast("long").alias("df"))
        commit_state_version(
            state_path,
            batch_id,
            rewrite={"linedf": merged},
            extra={"n_docs": int(meta.get("n_docs", 0) + batch_docs)},
        )

    return (
        pages.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
