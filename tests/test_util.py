"""Operator utility tests; all but the last need no Spark session."""

from __future__ import annotations

import re
from types import SimpleNamespace

import pytest

from hive_udf_spark.operators.util import distinct_pairs, ensure_min_parallelism


class _StandInFrame:
    """Just enough of a DataFrame for distinct_pairs and
    ensure_min_parallelism: a session whose conf returns a fixed
    shuffle-partition setting, a partition count, and a repartition that
    returns its count (with a ``distinct`` that keeps it)."""

    def __init__(self, shuffle_partitions: str, default_parallelism: int, num_partitions: int = 1):
        self.sparkSession = SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: {"spark.sql.shuffle.partitions": shuffle_partitions}[key]),
            sparkContext=SimpleNamespace(defaultParallelism=default_parallelism),
        )
        self.rdd = SimpleNamespace(getNumPartitions=lambda: num_partitions)
        self.columns = ["id_a", "id_b"]

    def repartition(self, n: int, *cols: str) -> int:
        return _Count(n)


class _Count(int):
    def distinct(self) -> int:
        return int(self)


@pytest.mark.parametrize("setting, want", [("12", 12), ("auto", 3)])
def test_distinct_pairs_partition_count(setting, want):
    """The session's integer shuffle-partition setting is used as is; a
    non-integer one ("auto" on some managed platforms) falls back to the
    context's default parallelism instead of raising."""
    assert distinct_pairs(_StandInFrame(setting, default_parallelism=3)) == want


@pytest.mark.parametrize(
    "num_partitions, min_parts, want",
    [(4, None, "same"), (9, None, "same"), (1, None, 4), (3, None, 4), (4, 8, 8), (8, 8, "same")],
)
def test_ensure_min_parallelism(num_partitions, min_parts, want):
    """A frame with at least the target number of partitions comes back
    unchanged; below it, it is repartitioned to the target, which is the
    context's default parallelism unless ``min_parts`` is given."""
    df = _StandInFrame("12", default_parallelism=4, num_partitions=num_partitions)
    got = ensure_min_parallelism(df, min_parts)
    assert got is df if want == "same" else got == want


def test_distinct_pairs_one_full_width_exchange(spark):
    """distinct_pairs removes duplicate rows through exactly one exchange,
    a hash exchange on every column with the session's partition count
    that AQE may not coalesce (REPARTITION_BY_NUM), and no round-robin."""
    rows = [(1, 2), (1, 2), (2, 3), (1, 3), (2, 3), (1, 2)]
    out = distinct_pairs(spark.createDataFrame(rows, "id_a long, id_b long"))
    assert sorted(tuple(r) for r in out.collect()) == [(1, 2), (1, 3), (2, 3)]
    plan = out._jdf.queryExecution().executedPlan().executedPlan().toString()  # AQE-final
    exchanges = [line.strip() for line in plan.splitlines() if "Exchange " in line]
    n = spark.conf.get("spark.sql.shuffle.partitions")
    assert len(exchanges) == 1, exchanges
    assert re.search(rf"Exchange hashpartitioning\(id_a#\d+L, id_b#\d+L, {n}\), REPARTITION_BY_NUM", exchanges[0])
    assert "RoundRobinPartitioning" not in plan
    assert "AQEShuffleRead" not in plan
