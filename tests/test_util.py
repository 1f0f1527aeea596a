"""Operator utility tests that need no Spark session."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from hive_udf_spark.operators.dedup import _attach_can_broadcast
from hive_udf_spark.operators.util import ensure_min_parallelism, scatter_pairs


class _StandInFrame:
    """Just enough of a DataFrame for scatter_pairs and
    ensure_min_parallelism: a session whose conf returns a fixed
    shuffle-partition setting, a partition count, and a repartition that
    records its count."""

    def __init__(self, shuffle_partitions: str, default_parallelism: int, num_partitions: int = 1):
        self.sparkSession = SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: {"spark.sql.shuffle.partitions": shuffle_partitions}[key]),
            sparkContext=SimpleNamespace(defaultParallelism=default_parallelism),
        )
        self.rdd = SimpleNamespace(getNumPartitions=lambda: num_partitions)

    def repartition(self, n: int) -> int:
        return n


@pytest.mark.parametrize("setting, want", [("12", 12), ("auto", 3)])
def test_scatter_pairs_partition_count(setting, want):
    """The session's integer shuffle-partition setting is used as is; a
    non-integer one ("auto" on some managed platforms) falls back to the
    context's default parallelism instead of raising."""
    assert scatter_pairs(_StandInFrame(setting, default_parallelism=3)) == want


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


@pytest.mark.parametrize(
    "static, adaptive, want",
    [("10485760b", None, True), ("-1", None, False), ("-1", "10MB", True), ("10485760b", "-1", True)],
)
def test_attach_can_broadcast(static, adaptive, want):
    """The set-similarity verify scatters its pairs unless both broadcast
    thresholds are negative; the adaptive one, when unset, is the static
    one."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": static,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": adaptive,
    }
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default=None: conf[key]))
    assert _attach_can_broadcast(spark) is want
