"""Operator utility tests that need no Spark session."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from hive_udf_spark.operators.dedup import _attach_can_broadcast
from hive_udf_spark.operators.util import scatter_pairs


class _StandInFrame:
    """Just enough of a DataFrame for scatter_pairs: a session whose
    conf returns a fixed shuffle-partition setting, and a repartition
    that records its count."""

    def __init__(self, shuffle_partitions: str, default_parallelism: int):
        self.sparkSession = SimpleNamespace(
            conf=SimpleNamespace(get=lambda key: {"spark.sql.shuffle.partitions": shuffle_partitions}[key]),
            sparkContext=SimpleNamespace(defaultParallelism=default_parallelism),
        )

    def repartition(self, n: int) -> int:
        return n


@pytest.mark.parametrize("setting, want", [("12", 12), ("auto", 3)])
def test_scatter_pairs_partition_count(setting, want):
    """The session's integer shuffle-partition setting is used as is; a
    non-integer one ("auto" on some managed platforms) falls back to the
    context's default parallelism instead of raising."""
    assert scatter_pairs(_StandInFrame(setting, default_parallelism=3)) == want


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
