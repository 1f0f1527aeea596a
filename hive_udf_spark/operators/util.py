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


def distinct_pairs(df: DataFrame) -> DataFrame:
    """Distinct rows of a skinny candidate/pair stream, in ``n`` hash
    partitions on all its columns, ahead of a CPU-heavy per-row stage
    (the set-similarity verify, the hyperplane-LSH re-ranks, the fuzzy
    verify).

    The repartition's exchange (``REPARTITION_BY_NUM``) already satisfies
    the aggregate's distribution, so it is the only exchange; a plain
    ``distinct()`` would get an ``ENSURE_REQUIREMENTS`` one instead,
    which AQE coalesces by BYTE size, and a pair stream's bytes wildly
    under-state its per-row cost (a 206k-pair containment verify ran in
    ONE task: 4.7 s vs 0.5 s at full width). AQE does not coalesce a
    ``REPARTITION_BY_NUM`` exchange. Hashing on the whole pair, not one
    id, also spreads a hot document's pairs across tasks. The repartition
    must come first: placed after ``distinct()`` it is removed as
    redundant.

    ``n`` is the session's shuffle-partition setting; a non-integer one
    (``"auto"`` on some managed platforms) falls back to the context's
    default parallelism."""
    setting = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    try:
        n = int(setting)
    except ValueError:
        n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *df.columns).distinct()


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
