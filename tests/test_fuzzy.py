"""edit_distance_join: exactness vs brute force, edge lengths, plan purity."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from hive_udf_spark.operators.fuzzy import edit_distance_join, synth_title_sql


def _lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def _brute(rows, d):
    return {
        (i, j, _lev(a, b))
        for (i, a), (j, b) in itertools.combinations(rows, 2)
        if _lev(a, b) <= d
    }


@pytest.mark.parametrize("d", [1, 2])
def test_exact_vs_brute_force_random(spark, d):
    """Blocked result == quadratic brute force on adversarially small
    alphabet (many near-misses) across lengths 1..9."""
    random.seed(7 + d)
    rows = [
        (i, "".join(random.choice("abc") for _ in range(random.randint(1, 9))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in edit_distance_join(df, "doc_id", "title", d).collect()
    }
    assert got == _brute(rows, d)


def test_short_and_empty_strings(spark):
    """Strings shorter than max_dist+1 produce empty segments; pairs
    must still be exact (empty keys over-generate, never miss)."""
    rows = [(0, ""), (1, "a"), (2, "b"), (3, "ab"), (4, "abc"), (5, "a")]
    df = spark.createDataFrame(rows, "doc_id long, title string")
    for d in (1, 2):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_join(df, "doc_id", "title", d).collect()
        }
        assert got == _brute(rows, d)


def test_duplicate_titles_distance_zero(spark):
    rows = [(1, "same"), (2, "same"), (3, "sane")]
    df = spark.createDataFrame(rows, "doc_id long, title string")
    got = edit_distance_join(df, "doc_id", "title", 1)
    assert {(r.id_a, r.id_b, r.dist) for r in got.collect()} == {
        (1, 2, 0),
        (1, 3, 1),
        (2, 3, 1),
    }
    # null titles are excluded, not joined
    rows2 = rows + [(4, None)]
    df2 = spark.createDataFrame(rows2, "doc_id long, title string")
    assert edit_distance_join(df2, "doc_id", "title", 1).count() == 3


def test_max_dist_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, title string")
    for bad in (0, 5, -1):
        with pytest.raises(ValueError):
            edit_distance_join(df, "doc_id", "title", bad)


def test_plan_is_python_free(spark):
    """Key generation, join, and verification are all JVM codegen — no
    Python eval stage anywhere in the physical plan."""
    df = spark.range(0, 50).withColumnRenamed("id", "doc_id").select(
        "doc_id", F.expr(synth_title_sql("spark")).alias("title")
    )
    plan = (
        edit_distance_join(df, "doc_id", "title", 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the blocked join is an equi-join on segment keys, never all-pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_length_guard_error_and_skip(spark):
    """r8 verdict item 9: the operator targets short metadata — a
    document-length string must fail loudly (default) or drop out
    (on_long='skip'), never silently bloat the candidate shuffle."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    long_s = "x" * 300
    rows = [(1, "same"), (2, "same"), (3, long_s), (4, long_s)]
    df = spark.createDataFrame(rows, "doc_id long, title string")
    # two query stages raise it; when AQE materializes them together the
    # error arrives wrapped as a multiple-failures Py4JJavaError
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="string longer than max_len"):
        edit_distance_join(df, "doc_id", "title", 1).collect()
    # skip mode: long rows excluded entirely (documented: even from
    # pairing with each other), short pairs still found
    got = edit_distance_join(df, "doc_id", "title", 1, on_long="skip")
    assert {(r.id_a, r.id_b) for r in got.collect()} == {(1, 2)}
    # raising the cap restores them
    got2 = edit_distance_join(df, "doc_id", "title", 1, max_len=512)
    assert {(r.id_a, r.id_b) for r in got2.collect()} == {(1, 2), (3, 4)}
    with pytest.raises(ValueError, match="on_long"):
        edit_distance_join(df, "doc_id", "title", 1, on_long="truncate")
    with pytest.raises(ValueError, match="max_len"):
        edit_distance_join(df, "doc_id", "title", 2, max_len=1)
