"""Small shared DataFrame utilities for the operator modules."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def null_safe_cond(left: DataFrame, right: DataFrame, cols: list[str]) -> Column:
    """Null-SAFE multi-column equi-join condition: a NULL key value is a
    real group (groupBy/window partitions keep it) and a plain name join
    would silently drop it — the leakage_safe_split / skew_report class
    of bug. Shared by every operator that joins per-group summaries back
    onto their rows (qsketch bounded mode, mad_anomalies,
    percentile_band_filter)."""
    if not cols:
        raise ValueError("cols must be non-empty")
    cond = None
    for g in cols:
        c = left[g].eqNullSafe(right[g])
        cond = c if cond is None else cond & c
    return cond


def scatter_pairs(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a skinny candidate/pair stream ahead of
    a CPU-heavy per-row stage.

    Where it applies: once inside ``dedup._exact_verify``, so every
    set-similarity verify (near-dup pairs, both cluster modes, the index
    probe, prefix-filter and containment joins) scatters its candidate
    pairs before the token sets attach, unless broadcast joins are
    disabled (a sort-merge attach would re-hash the scatter's output at
    once); before the vector attach of both
    hyperplane-LSH re-ranks (``embedding_near_pairs_lsh``,
    ``ann_hyperplane_lsh``); before the fuzzy-match verify; and on the
    two prefix-position streams of the prefix-filter and containment
    candidate joins.

    Two AQE blind spots make this explicit exchange worth one extra
    shuffle of ~16-byte rows (r15, measured):

    1. AQE coalesces post-shuffle partitions by BYTE size, and a pair
       stream's bytes wildly under-state its downstream per-row cost —
       a 206k-pair containment verify was coalesced to ONE task: 4.7 s
       single-threaded vs 0.5 s scattered (9.6x). Raising the session's
       ``minPartitionSize`` floor was measured strictly worse (1.2-1.9 s):
       it preserves partition COUNT but keeps the id-hash layout.
    2. Hash partitioning by pair ids concentrates a hot document's pairs
       (and the token arrays the verify attaches to them) in one task —
       the dup-heavy-corpus skew AQE's skew-join handling cannot split
       because it sits in an aggregate's output, not a join. Round-robin
       levels the CPU.

    The explicit count follows the session's shuffle-partition setting
    (deployment-scaled), and pinning it stops AQE from re-coalescing the
    exchange. A non-integer setting (``"auto"`` on some managed
    platforms) falls back to the context's default parallelism. At
    100 TB the same skew argument holds and the added shuffle stays
    proportional to the (id, id) pair count, never to payload bytes."""
    setting = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    try:
        n = int(setting)
    except ValueError:
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n)


def ensure_min_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Scatter a SMALL input before an expensive per-row stage.

    Its consumers are JVM per-row stages as well as Python ones: the
    token-set builds of the set-similarity joins and SimHash
    (``dedup``), the corpus sides of the vector searches (``similarity``:
    brute-force cosine pairs, the LSH, IVF and PQ searches, semdedup),
    the fuzzy-match key streams (``fuzzy``), and the codec encode/decode
    and media-probe stages of the registry queries, most of them through
    the payload builder ``plans.text_queries._ascii_payload``.  These
    stages inherit their task count from the scan's split count.  At
    corpus scale that is thousands of parquet splits and this helper is
    a NO-OP — the condition below is false and no Exchange is added, so
    the decode tier's blobs-never-shuffle property holds exactly where
    it matters.  But a small input (one file under
    ``maxPartitionBytes`` — every fixture table, or a user's single
    drop file) yields ONE task and idles the rest of the cluster under
    a CPU-bound stage; here a round-robin scatter of the cheap pre-blob
    rows buys full parallelism for the cost of shuffling kilobytes.
    Always scatter BEFORE blob construction: text rows are small; the
    encoded blobs are what must never cross an Exchange."""
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
