"""Mergeable quantile-sample sketch tests (functions/qsketch.py)."""

from __future__ import annotations

from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from hive_udf_spark.functions.hashing import fast_hash64
from hive_udf_spark.functions.qsketch import (
    qsketch_merge_table,
    qsketch_quantile,
    quantile_sketch_table,
)
from hive_udf_spark.sources import load_table


def _orders_cents(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )


def test_quantile_rank_error_within_binomial_bound(spark, sf_dir):
    """The guarantee is on RANK, not value: the sketch's q-quantile must
    sit at an empirical rank within ~4·√(q(1−q)/k) of q (±1/n slack)."""
    import math

    orders = _orders_cents(spark, sf_dir)
    k = 256
    sk = quantile_sketch_table(orders, [], "cents", "o_orderkey", k=k)
    for q in (0.25, 0.5, 0.9):
        est = sk.select(qsketch_quantile("qs", q).alias("v")).collect()[0].v
        n, le = orders.agg(
            F.count("*").alias("n"), F.sum((F.col("cents") <= est).cast("int")).alias("le")
        ).collect()[0]
        bound = 4 * math.sqrt(q * (1 - q) / k) + 1.0 / n
        assert abs(le / n - q) <= bound, f"q={q}: empirical rank {le / n:.4f}"


def test_merge_is_lossless_bottom_k(spark, sf_dir):
    """Rolled-up per-group sketches are BIT-IDENTICAL to a direct global
    build (bottom-k semilattice) — the store-and-reaggregate lifecycle
    with zero merge error."""
    orders = _orders_cents(spark, sf_dir)
    per_group = quantile_sketch_table(
        orders, ["o_orderpriority"], "cents", "o_orderkey", k=128, portable=True
    )
    rolled = qsketch_merge_table(per_group, [], "qs", "n_rows", 128).collect()[0]
    direct = quantile_sketch_table(
        orders, [], "cents", "o_orderkey", k=128, portable=True
    ).collect()[0]
    assert rolled.qs == direct.qs
    assert rolled.n_rows == direct.n_rows


def test_partition_independence(spark, sf_dir):
    """The sketch is a pure function of the data, not the partitioning
    (the partial phase keys on spark_partition_id but never emits it)."""
    orders = _orders_cents(spark, sf_dir)
    a = quantile_sketch_table(orders.repartition(3), [], "cents", "o_orderkey", k=64,
                              portable=True).collect()[0]
    b = quantile_sketch_table(orders.repartition(17), [], "cents", "o_orderkey", k=64,
                              portable=True).collect()[0]
    assert a.qs == b.qs and a.n_rows == b.n_rows


def test_null_skip_and_validation(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "k long, v long"
    )
    row = quantile_sketch_table(df, [], "v", "k", k=8).collect()[0]
    assert row.n_rows == 2 and len(row.qs) == 2
    with pytest.raises(ValueError, match="k must be"):
        quantile_sketch_table(df, [], "v", "k", k=0)
    with pytest.raises(ValueError, match="q must be"):
        qsketch_quantile("qs", 1.5)
    # all-null input, global form: one empty-sketch row (global-agg
    # semantics) whose quantile is NULL
    empty = spark.createDataFrame([(None,)], "v long")
    row2 = (
        quantile_sketch_table(empty, [], "v", "v", k=8)
        .select("n_rows", qsketch_quantile("qs", 0.5).alias("q"))
        .collect()[0]
    )
    assert row2.n_rows == 0 and row2.q is None
    # merging the (empty) table of per-group sketches gives the same row
    stored = quantile_sketch_table(empty, ["v"], "v", "v", k=8)
    row3 = qsketch_merge_table(stored, [], "qs", "n_rows", 8).collect()
    assert len(row3) == 1 and list(row3[0].qs) == [] and row3[0].n_rows == 0


def test_qsketch_plan_partial_before_exchange_no_python(spark, sf_dir):
    """kmv_table discipline: the partial bottom-k aggregates on (group,
    partition id) BEFORE the exchange — raw rows never shuffle — and the
    whole plan is JVM-side."""
    orders = _orders_cents(spark, sf_dir)
    df = quantile_sketch_table(orders, ["o_orderpriority"], "cents", "o_orderkey", k=64)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_collect_list" in plan  # map-side combine of the pair stream


def test_qsketch_sql_scalars_parity(spark, sf_dir):
    """SQL surface ≡ DataFrame API: qsketch_quantile and qsketch_union
    registered as CREATE TEMPORARY FUNCTIONs give the same values as the
    Python helpers (and union matches the lossless merge)."""
    from hive_udf_spark.functions import register_sql

    register_sql(spark)
    orders = _orders_cents(spark, sf_dir)
    per_group = quantile_sketch_table(
        orders, ["o_orderpriority"], "cents", "o_orderkey", k=64, portable=True
    )
    per_group.createOrReplaceTempView("qs_groups")
    sql_rows = {
        r.g: r.q50
        for r in spark.sql(
            "SELECT o_orderpriority AS g, qsketch_quantile(qs, 0.5) AS q50 FROM qs_groups"
        ).collect()
    }
    api_rows = {
        r.o_orderpriority: r.q50
        for r in per_group.select(
            "o_orderpriority", qsketch_quantile("qs", 0.5).alias("q50")
        ).collect()
    }
    assert sql_rows == api_rows and len(sql_rows) == 5
    # pairwise union through SQL equals the relational merge of two groups
    two = spark.sql(
        """
        SELECT qsketch_union(a.qs, b.qs, 64) AS u
        FROM qs_groups a JOIN qs_groups b
          ON a.o_orderpriority = '1-URGENT' AND b.o_orderpriority = '5-LOW'
        """
    ).collect()[0].u
    direct = qsketch_merge_table(
        per_group.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        [], "qs", "n_rows", 64,
    ).collect()[0].qs
    assert [ (p.h, p.v) for p in two ] == [ (p.h, p.v) for p in direct ]


def _reference_sketches(df, group_cols, value_col, key_col, k):
    """Per group: the k smallest (h, v) pairs and the non-NULL row count,
    computed in Python from the collected (group, fast_hash64(key, 5), v)
    rows. A global input always has its one group, even when empty."""
    rows = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, fast_hash64(key_col, 5).alias("h"), F.col(value_col).cast("bigint").alias("v"))
        .collect()
    )
    pairs = defaultdict(list)
    if not group_cols:
        pairs[()] = []
    for r in rows:
        pairs[tuple(r[g] for g in group_cols)].append((r.h, r.v))
    return {g: (sorted(p)[:k], len(p)) for g, p in pairs.items()}


def _sketches(df, group_cols):
    rows = df.collect()
    got = {tuple(r[g] for g in group_cols): ([(p.h, p.v) for p in r.qs], r.n_rows) for r in rows}
    assert len(got) == len(rows)  # one row per group
    return got


def test_sketch_is_bottom_k_of_its_rows(spark, sf_dir):
    """The build equals an independent bottom-k over the raw rows, grouped
    over several input partitions, globally over one fat partition and
    over an empty input, and it plans the map-side Partial
    WindowGroupLimit that holds at most k rows per (group, partition)."""
    orders = _orders_cents(spark, sf_dir)
    spread = orders.repartition(3)
    grouped = quantile_sketch_table(spread, ["o_orderpriority"], "cents", "o_orderkey", k=64)
    want = _reference_sketches(spread, ["o_orderpriority"], "cents", "o_orderkey", 64)
    assert len(want) == 5 and all(n > 64 for _, n in want.values())
    assert _sketches(grouped, ["o_orderpriority"]) == want
    plan = grouped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan

    fat = orders.repartition(1)
    got = quantile_sketch_table(fat, [], "cents", "o_orderkey", k=32)
    assert _sketches(got, []) == _reference_sketches(fat, [], "cents", "o_orderkey", 32)

    empty = orders.filter(F.lit(False))
    got = quantile_sketch_table(empty, [], "cents", "o_orderkey", k=8)
    assert _sketches(got, []) == {(): ([], 0)}


def test_null_group_key_is_a_group(spark):
    """A NULL group-key value is a real group: the join of the sample with
    the row counts is null-safe."""
    df = spark.createDataFrame(
        [(None, 1, 10), (None, 2, 20), (None, 3, 30), ("a", 4, 40), ("a", 5, 50), ("a", 6, None)],
        "g string, id bigint, v bigint",
    )
    got = _sketches(quantile_sketch_table(df, ["g"], "v", "id", k=2), ["g"])
    assert set(got) == {(None,), ("a",)}
    assert got == _reference_sketches(df, ["g"], "v", "id", 2)

