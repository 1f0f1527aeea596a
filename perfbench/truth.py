"""Ground truth that shares no code with the engine.

* Exact distinct counts and value ranks come from plain Spark
  aggregates (``collect_set``, ``collect_list``) over the raw event log.
* Exact cosine top-k comes from numpy.
* Word-set Jaccard of documents is recomputed in Python from the texts.
"""

from __future__ import annotations

import bisect
import datetime as dt

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAY0 = dt.date(2024, 1, 1)


def day(i: int) -> dt.date:
    return DAY0 + dt.timedelta(days=i)


def rollup_truth(events: DataFrame, windows: list[tuple[int, int]]) -> dict:
    """``{(window, event_type or None): (distinct_users, sorted_values)}``
    for every window, per event type and over all types.

    One Spark job collects each (window, type) group's user set and value
    list (``collect_set``/``collect_list``); the all-type answers are
    their unions. ``events`` needs ``day`` (date), ``event_type``,
    ``user_id`` and ``value``.
    """
    spark = events.sparkSession
    wins = spark.createDataFrame(
        [(i, day(a), day(b)) for i, (a, b) in enumerate(windows)], "wid int, d0 date, d1 date"
    )
    rows = events.select("day", "event_type", "user_id", "value").join(
        F.broadcast(wins), (F.col("day") >= F.col("d0")) & (F.col("day") <= F.col("d1"))
    )
    groups = rows.groupBy("wid", "event_type").agg(
        F.collect_set("user_id").alias("users"), F.collect_list("value").alias("values")
    )
    users: dict = {}
    values: dict = {}
    for r in groups.collect():
        for key in ((r["wid"], r["event_type"]), (r["wid"], None)):
            users.setdefault(key, set()).update(r["users"])
            values.setdefault(key, []).extend(r["values"])
    return {key: (len(users[key]), sorted(values[key])) for key in users}


def rank_error(values: list[int], estimate: float, q: float) -> float:
    """Distance from ``q`` to the exact rank interval of ``estimate`` in
    the sorted ``values``."""
    lo = bisect.bisect_left(values, estimate) / len(values)
    hi = bisect.bisect_right(values, estimate) / len(values)
    if lo <= q <= hi:
        return 0.0
    return min(abs(q - lo), abs(q - hi))


def exact_kept_ids(ids: list[int], texts: list[str]) -> set[int]:
    """Exact dedup by content: the lowest id of each distinct text."""
    first: dict[str, int] = {}
    for i, t in zip(ids, texts):
        if t not in first or i < first[t]:
            first[t] = i
    return set(first.values())


def word_sets(ids: list[int], texts: list[str]) -> dict[int, frozenset[str]]:
    return {i: frozenset(t.split()) for i, t in zip(ids, texts)}


def jaccard_parts(a: frozenset[str], b: frozenset[str]) -> tuple[int, int]:
    inter = len(a & b)
    return inter, len(a) + len(b) - inter


def cosine_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row ``i``: corpus row indices of the ``k`` highest cosines to
    query ``i``, best first (ties to the lower index)."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
