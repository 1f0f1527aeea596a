"""Seeded input generators, one per workload.

Each generator draws from its own ``numpy`` stream keyed by
``(seed, workload)``, so the same seed gives the same rows and another
seed gives other rows. Generators return ``pyarrow`` tables plus whatever
the generator knows about its own inputs (the planted near-duplicate
pairs); writers lay the tables out the way the workload needs (a
multi-file directory, or one file holding one row group).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "cart", "buy", "error")
EVENT_TYPE_P = (0.45, 0.25, 0.15, 0.10, 0.05)
DAYS = 30
_EPOCH_2024_S = 1_704_067_200  # 2024-01-01T00:00:00Z

# documents: words drawn from a Zipf vocabulary, lengths uniform in words
VOCAB = 20_000
ZIPF_S = 0.7
DOC_WORDS = (40, 120)

# embeddings: vectors around random unit centres
DIM = 64
N_CENTRES = 40
NOISE = 0.6  # expected norm of a vector's offset from its centre
QUERY_ID_BASE = 10_000_000  # query vectors never share an id with the corpus


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# ---------------------------------------------------------------------------
# sketch_rollup: event log
# ---------------------------------------------------------------------------


def events(seed: int, n_rows: int, n_users: int) -> pa.Table:
    """Event log over ``DAYS`` days: skewed ``user_id`` (density falls
    off as a power of the user rank), five ``event_type`` values with
    fixed mix, integral ``value`` in cents (log-normal)."""
    rng = _rng(seed, 1)
    day = rng.integers(0, DAYS, n_rows)
    ts_us = (_EPOCH_2024_S + day * 86_400) * 1_000_000 + rng.integers(0, 86_400_000_000, n_rows)
    # rank**3 skew: the heaviest users carry most rows, the tail stays
    # long enough that every (day, type) group sees thousands of users
    rank = (n_users * rng.random(n_rows) ** 3).astype(np.int64)
    user_id = rng.permutation(n_users).astype(np.int64)[rank]
    etype = rng.choice(len(EVENT_TYPES), size=n_rows, p=EVENT_TYPE_P)
    value = np.rint(rng.lognormal(3.0, 1.0, n_rows) * 100).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[etype].tolist(), type=pa.string()),
            "value": pa.array(value),
        }
    )


SKETCH_KINDS = ("hll", "lc", "kmv", "quantile")
QUANTILE_LEVELS = (0.5, 0.9, 0.99)


@dataclass(frozen=True)
class RollupQuery:
    kind: str  # one of SKETCH_KINDS
    window: int  # index into the window list
    by_type: bool  # group by event_type, else one global row
    q: float  # quantile level (used by kind == "quantile")


WINDOW_DAYS = (7, 1, 14, 3)


def rollup_queries(seed: int, n_queries: int, n_windows: int) -> tuple[list[tuple[int, int]], list[RollupQuery]]:
    """Seeded rollup stream: ``n_windows`` day windows ``(first, last)``
    (inclusive day indices) and ``n_queries`` queries over them.

    The stream's shape is fixed so every seed asks the same mix: window
    ``w`` spans ``WINDOW_DAYS[w % 4]`` days, and query ``i`` has kind
    ``i % 4``, covers window ``i % n_windows``, groups by type when
    ``i // 2`` is even and takes quantile level ``(i // 4) % 3``. The
    seed picks where each window starts."""
    rng = _rng(seed, 4)
    windows = []
    for w in range(n_windows):
        span = WINDOW_DAYS[w % len(WINDOW_DAYS)]
        first = int(rng.integers(0, DAYS - span + 1))
        windows.append((first, first + span - 1))
    queries = [
        RollupQuery(
            SKETCH_KINDS[i % len(SKETCH_KINDS)],
            i % n_windows,
            (i // 2) % 2 == 0,
            QUANTILE_LEVELS[(i // 4) % len(QUANTILE_LEVELS)],
        )
        for i in range(n_queries)
    ]
    return windows, queries


def write_multi_file(table: pa.Table, dir_path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``dir_path``
    (a pre-split scan: one task per file at least)."""
    os.makedirs(dir_path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(dir_path, f"part-{i:05d}.parquet"))


def write_single_row_group(table: pa.Table, dir_path: str) -> None:
    """Write ``table`` as one parquet file with one row group under
    ``dir_path`` (a single-split scan, like a user's single drop file)."""
    os.makedirs(dir_path, exist_ok=True)
    pq.write_table(table, os.path.join(dir_path, "part-00000.parquet"), row_group_size=max(1, table.num_rows))


# ---------------------------------------------------------------------------
# dedup_corpus: documents with exact copies and planted near-duplicates
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class PlantedPair:
    base_id: int
    variant_id: int
    jaccard: float  # true word-set Jaccard, known by construction


def documents(seed: int, n_base: int, n_near: int, n_exact: int) -> tuple[pa.Table, list[PlantedPair]]:
    """Corpus of ``n_base`` Zipf-vocabulary documents, ``n_near`` planted
    near-duplicates (one per chosen base document) and ``n_exact``
    verbatim copies of base documents.

    A variant replaces ``d`` distinct words of its base (every
    occurrence) with ``d`` words its base does not contain, so its
    word-set Jaccard to the base is exactly ``(n - d) / (n + d)`` for a
    base of ``n`` distinct words. Targets are drawn uniformly from
    [0.5, 0.98], so the threshold 0.7 splits the planted pairs.

    Ids: base ``0..n_base-1``, variants next, copies last, so exact
    dedup (lowest id wins) always keeps the base. Rows are shuffled.
    """
    rng = _rng(seed, 2)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lengths = rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_base)
    flat = rng.choice(VOCAB, size=int(lengths.sum()), p=p)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    base_tokens = [flat[bounds[i] : bounds[i + 1]] for i in range(n_base)]

    texts: list[str] = [" ".join(f"w{t}" for t in toks) for toks in base_tokens]
    planted: list[PlantedPair] = []
    for j, b in enumerate(rng.choice(n_base, size=n_near, replace=False)):
        toks = base_tokens[b]
        distinct = np.unique(toks)
        n = len(distinct)
        target = rng.uniform(0.5, 0.98)
        d = min(n - 1, max(1, int(round(n * (1 - target) / (1 + target)))))
        removed = rng.choice(distinct, size=d, replace=False)
        fresh_pool = np.setdiff1d(np.arange(VOCAB), distinct, assume_unique=True)
        fresh = rng.choice(fresh_pool, size=d, replace=False)
        mapping = dict(zip(removed.tolist(), fresh.tolist()))
        variant = [mapping.get(t, t) for t in toks.tolist()]
        texts.append(" ".join(f"w{t}" for t in variant))
        planted.append(PlantedPair(int(b), n_base + j, (n - d) / (n + d)))
    for b in rng.choice(n_base, size=n_exact, replace=False):
        texts.append(texts[b])

    ids = np.arange(len(texts), dtype=np.int64)
    order = rng.permutation(len(texts))
    table = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "text": pa.array([texts[i] for i in order], type=pa.string()),
            "lang": pa.array(["en"] * len(texts), type=pa.string()),
            "source": pa.array([f"src{i % 5}" for i in order], type=pa.string()),
            "n_chars": pa.array(np.asarray([len(texts[i]) for i in order], dtype=np.int64)),
        }
    )
    return table, planted


# ---------------------------------------------------------------------------
# ann_search: clustered embeddings and a query set
# ---------------------------------------------------------------------------


def embeddings(seed: int, n_vec: int, n_query: int) -> tuple[pa.Table, pa.Table]:
    """``n_vec`` corpus and ``n_query`` query vectors of ``DIM`` dimensions,
    drawn around the same ``N_CENTRES`` random unit centres. Query ids run
    from ``QUERY_ID_BASE`` up."""
    rng = _rng(seed, 3)
    centers = rng.normal(size=(N_CENTRES, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def draw(n: int) -> tuple[np.ndarray, np.ndarray]:
        label = rng.integers(0, N_CENTRES, n)
        vec = centers[label] + NOISE * rng.normal(size=(n, DIM)) / np.sqrt(DIM)
        return vec.astype(np.float32), label.astype(np.int32)

    def to_table(ids: np.ndarray, vec: np.ndarray, label: np.ndarray) -> dict:
        return {
            "vec_id": pa.array(ids),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), DIM).cast(pa.list_(pa.float32())),
            "label": pa.array(label),
        }

    cv, cl = draw(n_vec)
    qv, ql = draw(n_query)
    corpus = pa.table(to_table(np.arange(n_vec, dtype=np.int64), cv, cl))
    queries = pa.table(to_table(QUERY_ID_BASE + np.arange(n_query, dtype=np.int64), qv, ql))
    return corpus, queries


def vectors(table: pa.Table) -> np.ndarray:
    """(rows, ``DIM``) float64 matrix of a generated ``embedding`` column."""
    col = table.column("embedding").combine_chunks()
    return np.asarray(col.flatten(), dtype=np.float64).reshape(-1, DIM)
