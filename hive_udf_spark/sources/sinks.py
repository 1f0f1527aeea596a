"""Sinks: partitioned / bucketed / sketch-table writers.

The reference has no sinks (SURVEY.md §2.2 — Hive owns storage); here the
engine's sink surface is Spark's writers, wrapped with the layout choices
that matter at 100 TB:

- **Partitioned parquet** gives partition pruning on read: a filter on the
  partition column skips whole directories before any IO.
- **Bucketed tables** pre-shuffle data by join/agg key at write time: a
  join of two tables bucketed on the same key by the same bucket count
  runs with NO exchange at read time — pay the shuffle once, reuse it in
  every downstream query.
- **Sketch tables** persist the re-aggregable `{type, cardinality,
  binary}` structs (SURVEY.md §1.1: "the sketch is data") so rollups union
  pre-computed sketches instead of rescanning raw data.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "write_partitioned",
    "write_bucketed",
    "write_sketch_table",
    "read_sketch_table",
    "zorder_key",
    "write_zordered",
    "compact_parquet",
    "atomic_swap_parquet",
    "swap_dir",
    "append_parquet_state",
    "read_state_version",
    "hwm_skip",
    "commit_state_version",
    "expire_rows",
    "forget_rows",
    "propagate_deletes",
    "snapshot_diff",
]


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | str,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet partitioned by the given columns.

    Choose low-cardinality columns (date, source, lang); a high-cardinality
    partition column creates millions of tiny files — the classic 100 TB
    anti-pattern. ``max_records_per_file`` caps file size for downstream
    split planning."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    w = df.write.mode(mode).partitionBy(*cols)
    if max_records_per_file is not None:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str] | str,
    num_buckets: int = 32,
    sort_by: list[str] | str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) managed table.

    Reading two tables bucketed on the same key with the same bucket count
    lets Catalyst plan a shuffle-free sort-merge join (verified in
    tests/test_sinks.py by asserting no Exchange in the join plan). Size
    num_buckets so one bucket of the LARGER table fits an executor's
    memory at target scale."""
    bcols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    w = df.write.mode(mode).bucketBy(num_buckets, *bcols)
    if sort_by is not None:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        w = w.sortBy(*scols)
    w.format("parquet").saveAsTable(table)


def write_sketch_table(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a DataFrame holding sketch structs ({type, cardinality,
    binary}) as parquet. BinaryType round-trips losslessly, so stored
    sketches re-aggregate later via sketch_merge_agg without rescanning
    the raw data (the reference's entry point 3 —
    UDAFCardinalityEstimator.java:259-265)."""
    df.write.mode(mode).parquet(path)


def read_sketch_table(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted sketch table for re-aggregation."""
    return spark.read.parquet(path)


def zorder_key(
    cols: list[Column | str],
    mins: list[int],
    maxs: list[int],
    bits: int = 16,
) -> Column:
    """Morton (Z-order) key interleaving ``bits`` bits from each column,
    linearly scaled from [min, max] to [0, 2^bits) — one JVM fold, no
    Python. Columns must be numeric (ints, dates/timestamps cast to
    epoch units upstream); out-of-range values clamp to the edge cells.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if not (1 <= bits <= 63 // len(cols)):
        raise ValueError(f"bits must be in [1, {63 // len(cols)}] for {len(cols)} cols")
    ncols = len(cols)
    cell = (1 << bits) - 1
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs, strict=True):
        cc = F.col(c) if isinstance(c, str) else c
        span = max(int(hi) - int(lo), 1)
        s = ((cc.cast("double") - F.lit(int(lo))) * F.lit(float(cell)) / F.lit(float(span)))
        scaled.append(
            # NULL values land in cell 0 (clustered together) rather
            # than producing a NULL key
            F.coalesce(
                F.least(F.greatest(s.cast("bigint"), F.lit(0)), F.lit(cell)),
                F.lit(0),
            )
        )
    key = F.lit(0).cast("bigint")
    for b in range(bits):
        for j, s in enumerate(scaled):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(s, b).bitwiseAND(F.lit(1)), b * ncols + j)
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the Z-order curve of ``cols`` — the
    multi-dimensional layout (Morton 1966; Delta/Iceberg OPTIMIZE
    ZORDER) that makes parquet min/max footer stats selective for
    predicates on ANY prefix-free subset of the clustered columns, where
    a plain sort only serves its leading column.

    Column ranges come from one tiny min/max aggregate (driver-side,
    2·|cols| scalars); rows are then range-partitioned AND sorted within
    partitions by the interleaved key, so each output file covers a
    compact hyper-rectangle and readers (Spark parquet filter pushdown,
    anything footer-aware) skip files/row-groups on every clustered
    dimension. tests/test_sinks.py measures the footer-stats narrowing
    directly. Linear scaling assumes roughly uniform dimensions (ids,
    timestamps); pre-bucket by approx quantiles upstream for heavily
    skewed columns.
    """
    stats = df.agg(
        *[F.min(c).cast("bigint").alias(f"lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("bigint").alias(f"hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    mins = [stats[f"lo_{i}"] for i in range(len(cols))]
    maxs = [stats[f"hi_{i}"] for i in range(len(cols))]
    if any(lo is None or hi is None for lo, hi in zip(mins, maxs)):
        # empty input or an all-NULL clustered column: nothing to
        # cluster on — write as-is instead of crashing the job
        df.write.mode(mode).parquet(path)
        return
    key = zorder_key(cols, mins, maxs, bits=bits)
    (
        df.withColumn("__zkey", key)
        .repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ~``target_file_mb`` files — the
    maintenance pass every merge-on-write sink needs (each incremental
    swap writes shuffle-partition-many small files; scan cost at 100 TB
    is dominated by file count and footer overhead, not bytes).

    File count comes from on-disk bytes / target (≥1); optional
    ``sort_cols`` re-clusters while compacting (range partition + sort
    within, so footer stats stay selective — pair with ``write_zordered``
    for multi-dim layouts). The rewrite reuses the sink's atomic
    write-then-rename swap: readers see the old or the new directory,
    never a mix. Returns (files_before, files_after)."""
    import math

    names = [n for n in os.listdir(path) if n.endswith(".parquet")]
    bytes_total = sum(os.path.getsize(os.path.join(path, n)) for n in names)
    n_files = max(1, math.ceil(bytes_total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        out = df.repartition(n_files)
    atomic_swap_parquet(out, path)
    after = len([n for n in os.listdir(path) if n.endswith(".parquet")])
    return len(names), after


def atomic_swap_parquet(df: DataFrame, table_path: str) -> None:
    """Replace the parquet table at ``table_path`` with ``df`` so that
    the path is readable at EVERY instant — symlink indirection, not
    rename-away-then-rename-in (whose two renames leave a crash/read
    window where the path does not exist and an incremental sink would
    silently restart from one batch).

    Layout: data lives in versioned sibling dirs ``<path>.v-XXXX``;
    ``table_path`` is a symlink to the current one. The swap writes the
    new version, creates a scratch symlink, and ``os.rename``s it over
    the live one — atomic on POSIX for link-over-link — then removes
    the previous version dir. A plain directory from an older layout is
    migrated on first swap (its replacement passes through one legacy
    rename). At deployment scale this job belongs to a transactional
    table format (MERGE INTO / snapshot commit); this keeps the same
    update contract dependency-free.
    """
    new_dir = f"{table_path}.v-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(new_dir)
    swap_dir(table_path, new_dir)


def swap_dir(table_path: str, new_dir: str) -> None:
    """Point ``table_path`` at the fully-written directory ``new_dir``
    (a ``<table_path>.v-XXXX`` sibling) atomically via link-over-link
    rename, migrating a legacy plain directory and removing the
    previous version. The swap half of :func:`atomic_swap_parquet`
    (compaction, retention and forget passes) and of
    :func:`commit_state_version` (the foreachBatch state of the dedup,
    WARC, shard, SCD2, token-budget and boilerplate sinks in
    ``streaming/``, each committing its sub-tables + ``meta.json`` as a
    whole)."""
    parent = os.path.dirname(os.path.abspath(table_path))
    if os.name == "nt":  # pragma: no cover - POSIX container
        # Windows: symlinks need elevation and rename cannot overwrite —
        # fall back to the rename pair (brief unreadable window, the
        # pre-symlink behavior)
        old = f"{table_path}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(table_path):
            os.rename(table_path, old)
        os.rename(new_dir, table_path)
        shutil.rmtree(old, ignore_errors=True)
        return
    old_target: str | None = None
    if os.path.islink(table_path):
        old_target = os.path.join(parent, os.readlink(table_path))
    elif os.path.isdir(table_path):
        # legacy plain-dir layout: move it aside (new_dir was already fully
        # materialized, so nothing reads the old data after this)
        old_target = f"{table_path}.v-legacy-{uuid.uuid4().hex[:8]}"
        os.rename(table_path, old_target)
    tmp_link = f"{table_path}.lnk-{uuid.uuid4().hex[:8]}"
    os.symlink(os.path.basename(new_dir), tmp_link)
    os.rename(tmp_link, table_path)  # atomic: readers see old or new
    if old_target and os.path.isdir(old_target):
        shutil.rmtree(old_target, ignore_errors=True)


def append_parquet_state(delta: DataFrame, prev_dir: str | None, out_dir: str) -> None:
    """Advance an APPEND-ONLY parquet state table by one batch in
    O(batch) work: write only the delta rows into ``out_dir``, then
    hard-link the previous version's data files alongside them (copy
    fallback across filesystems). The caller's :func:`swap_dir` still
    publishes the whole new version directory atomically, and the hard
    links keep the bytes alive when swap_dir removes the old version
    dir — so the one-commit/retry contract is unchanged. Replaces the
    union-and-rewrite pattern, whose per-batch cost grew with TOTAL
    accumulated state instead of batch size (r15, guide §5/§6: batch N
    re-read and re-wrote batches 1..N−1 for nothing).

    Only valid for append-only sub-tables (dedup ``index``/``pairs``,
    WARC/shard ``docs``, shard ``quarantine``, token-budget
    ``admitted``); merged aggregates (hosts, stats, dim, line-df) must
    keep the rewrite.
    """
    delta.write.parquet(out_dir)
    if prev_dir is None or not os.path.isdir(prev_dir):
        return
    for name in os.listdir(prev_dir):
        if name.startswith(("_", ".")):
            continue  # _SUCCESS & friends: commit markers, not data
        src = os.path.join(prev_dir, name)
        if not os.path.isfile(src):
            continue
        dst = os.path.join(out_dir, name)
        if os.path.exists(dst):
            # part-file name collision — Spark job UUIDs make this
            # effectively impossible, but never silently drop state
            dst = os.path.join(out_dir, f"prev-{uuid.uuid4().hex[:8]}-{name}")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)


# Versioned state directories (the foreachBatch sinks in streaming/):
# ``<state>`` is a symlink to ``<state>.v-XXXXXXXX/``, which holds the
# sink's parquet sub-tables plus ``meta.json`` = {"last_batch": id, ...}.
# One version is one batch: everything a batch changes is written into a
# fresh version directory and published by one swap_dir, so readers and
# a restarted stream see all of a batch or none of it.


def _version_dir(state_path: str) -> str | None:
    if os.path.islink(state_path):
        return os.path.join(
            os.path.dirname(os.path.abspath(state_path)), os.readlink(state_path)
        )
    return state_path if os.path.isdir(state_path) else None


def read_state_version(state_path: str) -> tuple[str | None, dict]:
    """The current version of a versioned state directory: (directory,
    parsed ``meta.json``). The directory is the symlink target, a legacy
    plain directory at ``state_path`` itself, or None when nothing has
    been committed; the dict is ``{}`` when ``meta.json`` is absent."""
    cur = _version_dir(state_path)
    meta = os.path.join(cur, "meta.json") if cur else None
    if meta is None or not os.path.exists(meta):
        return cur, {}
    with open(meta) as f:
        return cur, json.load(f)


def hwm_skip(hwm: int, batch_id: int, state_path: str) -> bool:
    """True iff this batch is a foreachBatch RETRY of the committed last
    batch (state ahead of checkpoint) and must be skipped whole.

    foreachBatch only ever retries the LAST batch, so an id strictly
    below the high-water mark means the checkpoint lineage does not
    match this state (e.g. a fresh checkpoint_dir pointed at an
    existing state path — batch ids restart at 0). Silently skipping
    would drop every incoming batch; fail loudly instead."""
    if hwm == batch_id:
        return True
    if hwm > batch_id:
        raise ValueError(
            f"state at {state_path} has last_batch={hwm} but the stream "
            f"delivered batch_id={batch_id}: checkpoint lineage mismatch. "
            "Resume with the original checkpoint_dir, or start a new "
            "state path for a new checkpoint."
        )
    return False


def commit_state_version(
    state_path: str,
    batch_id: int,
    append: dict[str, DataFrame] | None = None,
    rewrite: dict[str, DataFrame] | None = None,
    extra: dict | None = None,
) -> None:
    """Commit one batch as a new version of ``state_path``: ``append``
    sub-tables advance by :func:`append_parquet_state` (batch rows +
    hard links to the current version's files, O(batch)), ``rewrite``
    sub-tables are written whole, ``meta.json`` becomes
    ``{"last_batch": batch_id, **extra}``, then :func:`swap_dir`
    publishes the directory. Every write reads the current version,
    which stays in place until the swap, so no pre-write checkpoint is
    needed."""
    cur = _version_dir(state_path)
    new_dir = f"{state_path}.v-{uuid.uuid4().hex[:8]}"
    for name, df in (append or {}).items():
        append_parquet_state(
            df,
            os.path.join(cur, name) if cur else None,
            os.path.join(new_dir, name),
        )
    for name, df in (rewrite or {}).items():
        df.write.parquet(os.path.join(new_dir, name))
    with open(os.path.join(new_dir, "meta.json"), "w") as f:
        json.dump({"last_batch": int(batch_id), **(extra or {})}, f)
    swap_dir(state_path, new_dir)


def expire_rows(
    spark,
    table_path: str,
    predicate: str,
) -> tuple[int, int]:
    """Retention maintenance: atomically replace the parquet table at
    ``table_path`` with only the rows SATISFYING ``predicate`` (a SQL
    boolean over the table's columns — e.g. ``"ts >= timestamp
    '2026-01-01'"`` for a TTL cut). Readers see the old or the new table
    at every instant (the compact_parquet swap discipline); returns
    (rows_before, rows_after). At deployment scale this job is a
    transactional-format DELETE; this keeps the same contract
    dependency-free, and partition-pruned scans make the rewrite cost
    proportional to surviving data.
    """
    df = spark.read.parquet(table_path)
    before = df.count()
    kept = df.filter(predicate)
    atomic_swap_parquet(kept, table_path)
    after = spark.read.parquet(table_path).count()
    return before, after


def forget_rows(
    spark: SparkSession,
    table_path: str,
    ids: DataFrame,
    id_col: str,
) -> tuple[int, int]:
    """Targeted deletion (the right-to-be-forgotten maintenance pass):
    atomically replace the parquet table at ``table_path`` with only the
    rows whose ``id_col`` is NOT in ``ids`` — a left-anti join, so one
    delete list removes EVERY row keyed by a forgotten id (a document's
    posting rows, signature rows, chunk rows alike). Readers see the old
    or the new table at every instant (the atomic_swap_parquet
    contract); returns (rows_before, rows_after).

    The join is left as a plain anti-join: AQE broadcasts a small delete
    list at runtime, while a bulk purge list still executes as a shuffle
    join — no collect, no hard broadcast that would cap the list size.
    At deployment scale this is a transactional-format anti-join MERGE;
    the rewrite cost is proportional to surviving data.
    """
    keys = ids.select(F.col(id_col)).distinct()
    df = spark.read.parquet(table_path)
    before = df.count()
    kept = df.join(keys, id_col, "left_anti")
    atomic_swap_parquet(kept, table_path)
    after = spark.read.parquet(table_path).count()
    return before, after


def propagate_deletes(
    spark: SparkSession,
    ids: DataFrame,
    tables: dict[str, str],
) -> list[tuple[str, int, int]]:
    """Apply ONE delete list consistently across a corpus table and all
    its derived tables (``{path: id_col}``) — the cross-table half of
    deletion: raw docs, stored postings, signature indexes, and chunk
    tables must forget the same ids or derived artifacts resurrect
    deleted content. Each table swaps atomically in turn (per-table
    atomicity, eventual cross-table consistency — the contract a
    non-transactional lake can honor; pair with derived-stat
    recomputation at read time, e.g. retrieval.index_from_postings,
    so corpus-level statistics reflect the post-delete corpus).
    Returns [(path, rows_before, rows_after), ...] in application
    order."""
    report = []
    for path, id_col in tables.items():
        before, after = forget_rows(spark, path, ids, id_col)
        report.append((path, before, after))
    return report


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change detection between two table snapshots: one row per key
    whose state differs — ``change_type`` ∈ {'added', 'removed',
    'changed'} — unchanged keys excluded. The audit primitive for
    incremental pipelines (what did this ingest/compaction/forget pass
    actually do?) and the input to CDC-style downstream updates.

    Comparison is null-safe per column (NULL == NULL is "unchanged",
    NULL vs value is "changed" — ``eqNullSafe``), so the relation is
    engine-exact. ``compare_cols`` defaults to every shared non-key
    column. Duplicate keys within a snapshot are the caller's bug, not
    detected here (a keyed snapshot's contract).

    Plan shape: ONE full-outer shuffle join on the key columns; hashes
    are not pre-computed — Catalyst compares columns directly, so the
    scan prunes to key + compared columns only.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in set(key_cols)
        ]
    # presence flags: an all-NULL compare side is ambiguous, so probe a
    # dedicated marker column from each side
    o = old.select(
        *key_cols, *[F.col(c).alias(f"__o_{c}") for c in compare_cols]
    ).withColumn("__o_present", F.lit(1))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"__n_{c}") for c in compare_cols]
    ).withColumn("__n_present", F.lit(1))
    j = o.join(n, key_cols, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    change = (
        F.when(F.col("__o_present").isNull(), F.lit("added"))
        .when(F.col("__n_present").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        j.select(*key_cols, change.alias("change_type"))
        .filter(F.col("change_type").isNotNull())
    )


PARQUET_RG_SCHEMA = (
    "file_name string, row_group_id int, row_group_num_rows bigint, "
    "path_in_schema string, num_values bigint, null_count bigint, "
    "total_compressed_size bigint, total_uncompressed_size bigint"
)


def parquet_rowgroup_stats(spark, paths: list[str]):
    """Distributed parquet FOOTER audit: one row per (file, row group,
    column) with value/null counts and compressed/uncompressed sizes —
    the layout diagnostic behind compaction and Z-order decisions
    (row groups too small → scan overhead; compression ratio ~1 →
    wrong encoding; nulls ≈ values → dead column).

    Footer-only IO: each task opens its files' footers via pyarrow and
    never touches a data page, so auditing a 100 TB table costs one
    metadata read per file, parallelized by repartitioning the PATH
    relation (one path per task slot) — no data scan, no shuffle.
    """
    import pandas as pd

    n = max(1, len(paths))

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "file_name", "row_group_id", "row_group_num_rows",
                    "path_in_schema", "num_values", "null_count",
                    "total_compressed_size", "total_uncompressed_size",
                )
            }
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                for rg_i in range(md.num_row_groups):
                    rg = md.row_group(rg_i)
                    for c_i in range(rg.num_columns):
                        col = rg.column(c_i)
                        st = col.statistics
                        out["file_name"].append(path)
                        out["row_group_id"].append(rg_i)
                        out["row_group_num_rows"].append(rg.num_rows)
                        out["path_in_schema"].append(col.path_in_schema)
                        out["num_values"].append(col.num_values)
                        out["null_count"].append(
                            st.null_count if st is not None and st.has_null_count else None
                        )
                        out["total_compressed_size"].append(col.total_compressed_size)
                        out["total_uncompressed_size"].append(col.total_uncompressed_size)
            yield pd.DataFrame(out)

    pdf = spark.createDataFrame([(p,) for p in paths], "path string").repartition(n)
    return pdf.mapInPandas(read_footers, schema=PARQUET_RG_SCHEMA)
