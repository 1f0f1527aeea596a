"""Streaming token-budget admission: per-source budgets enforced as
arriving state, the streaming face of ``chunking.token_budget_cap``.

The batch operator admits in HASH-priority order — it can see the whole
corpus and pick an unbiased sample.  A stream cannot reorder what has
not arrived, so the streaming contract is ARRIVAL-ORDER greedy: each
micro-batch's documents are considered in deterministic in-batch order
(ascending id), each source's running total continues from the
accumulated state, and a document is admitted iff its inclusive running
total stays within the budget.  The running total counts every document
that arrived, rejected ones included, and weights are non-negative, so
it is monotone and the admitted set is a prefix of arrival order per
source — once a source's budget is exhausted it stays exhausted, and
admission decisions never retract (append-only, the property that lets
downstream consumers treat admitted rows as final).

With a deterministic batch order the final admitted table equals the
batch-mode window "cum over (source ORDER BY batch, id) ≤ budget" —
what the registry oracle computes in SQL.  The difference from the
batch operator's hash order is the honest cost of streaming: arrival
order is biased toward early arrivals, and that bias is part of the
contract, not an accident.

State and exactly-once: two parquet sub-tables, ``admitted/`` and the
per-source running totals ``totals/`` (source, __base), plus the batch
high-water mark, committed as one version of the shared state directory
(``sources.sinks.commit_state_version``) — a foreachBatch retry skips
the whole batch (admission re-runs would double-count weights, unlike
idempotent sketch unions, so the hwm check is load-bearing here). The
totals cannot be derived from ``admitted/``: a rejected document's
weight still counts toward every later document of its source.

Scale: per batch, one partitioned window over the batch's rows and one
broadcast join against the totals (|sources| rows). The admitted table
is append-only: a commit writes only the batch's rows and hard-links the
previous files (O(batch)); the totals are rewritten whole
(O(|sources|)) — no per-doc driver state anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hive_udf_spark.sources.sinks import (
    commit_state_version,
    hwm_skip,
    read_state_version,
)


def token_budget_admission_sink(
    docs: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    budget: int,
    part_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
):
    """Streaming query maintaining the admitted table under the
    arrival-order greedy contract above.  Returns the started
    StreamingQuery; read results with
    ``spark.read.parquet(f"{state_path}/admitted")``."""
    if budget < 0:
        raise ValueError("budget must be non-negative")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur, meta = read_state_version(state_path)
        if hwm_skip(meta.get("last_batch", -1), batch_id, state_path):
            return
        b = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(part_col).alias("source"),
            F.col(weight_col).cast("long").alias("n_chars"),
        )
        if cur is not None:
            base = spark.read.parquet(os.path.join(cur, "totals"))
        else:
            base = spark.createDataFrame([], "source string, __base long")
        win = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        new_rows = (
            b.withColumn("__in_batch", F.sum("n_chars").over(win))
            .join(F.broadcast(base), "source", "left")
            .withColumn(
                "cum_weight",
                F.coalesce("__base", F.lit(0)) + F.col("__in_batch"),
            )
            .where(F.col("cum_weight") <= budget)
            .select(
                "doc_id",
                "source",
                "n_chars",
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                "cum_weight",
            )
        )
        totals = (
            base.join(b.groupBy("source").agg(F.sum("n_chars").alias("__batch")), "source", "full")
            .select("source", (F.coalesce("__base", F.lit(0)) + F.coalesce("__batch", F.lit(0))).alias("__base"))
        )
        commit_state_version(
            state_path, batch_id, append={"admitted": new_rows}, rewrite={"totals": totals}
        )

    return (
        docs.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
