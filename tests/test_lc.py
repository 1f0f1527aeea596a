"""Linear Counting estimator tests (reference LC mode, SURVEY.md §2.1 #2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hive_udf_spark.functions.lc import (
    LCSketch,
    lc_agg,
    lc_cardinality,
    lc_estimate_bytes,
    lc_merge_agg,
)
from hive_udf_spark.sources import load_table


def test_lcsketch_roundtrip_and_algebra():
    a, b = LCSketch(1024), LCSketch(1024)
    a.set_buckets(np.array([1, 5, 9, 8191]))
    b.set_buckets(np.array([5, 100]))
    m = a.merge(b)
    assert m.occupied() == 5
    back = LCSketch.from_bytes(m.to_bytes())
    assert back.occupied() == 5
    assert back.size_bytes == 1024
    # merge is commutative
    assert b.merge(a).to_bytes() == m.to_bytes()


def test_lcsketch_from_bytes_rejects_wrong_length():
    """A stored blob whose length disagrees with its header is refused,
    not loaded with a short bitmap."""
    sk = LCSketch(16)
    sk.set_buckets(np.array([1, 77]))
    blob = sk.to_bytes()
    assert LCSketch.from_bytes(blob).estimate() == sk.estimate() == 2
    for bad in (blob[:-8], blob + b"\0", blob[:6]):
        with pytest.raises(ValueError):
            LCSketch.from_bytes(bad)


def test_lcsketch_incompatible_merge_raises():
    with pytest.raises(ValueError, match="different sizes"):
        LCSketch(1024).merge(LCSketch(2048))


def test_lc_estimate_accuracy_small_cardinality():
    # LC's home turf: cardinality << m
    sk = LCSketch(4096)  # m = 32768 bits
    rng = np.random.default_rng(42)
    vals = rng.integers(0, 2**62, size=5000)
    sk.set_buckets(np.unique(vals) % sk.m)
    est = sk.estimate()
    assert abs(est - 5000) / 5000 < 0.05


def test_lc_cardinality_jvm_path(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    row = orders.agg(
        lc_cardinality("o_custkey", size_bytes=100_000).alias("lc"),
        F.count_distinct("o_custkey").alias("exact"),
    ).collect()[0]
    assert abs(row.lc - row.exact) / row.exact < 0.02


def test_lc_agg_struct_facade(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    rows = (
        events.groupBy("event_type")
        .agg(lc_agg("user_id", size_bytes=10_000).alias("s"), F.count_distinct("user_id").alias("exact"))
        .collect()
    )
    for r in rows:
        assert r.s.type == "LC"
        assert abs(r.s.cardinality - r.exact) <= max(1, 0.05 * r.exact)
        sk = LCSketch.from_bytes(bytes(r.s.binary))
        assert sk.estimate() == r.s.cardinality  # binary round-trips to same estimate


def test_lc_merge_agg_rollup(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    per_day = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        lc_agg("user_id", size_bytes=10_000).alias("s")
    )
    rolled = per_day.agg(lc_merge_agg(F.col("s.binary")).alias("m")).collect()[0].m
    exact = events.agg(F.count_distinct("user_id")).collect()[0][0]
    assert rolled.type == "LC"
    assert abs(rolled.cardinality - exact) <= max(1, 0.05 * exact)


def test_lc_null_semantics(spark):
    df = spark.createDataFrame([(1, None), (2, "a")], "k int, v string")
    rows = {r.k: r.s for r in df.groupBy("k").agg(lc_agg("v", 1000).alias("s")).collect()}
    assert rows[1] is None
    assert rows[2].cardinality == 1


def test_lc_estimate_bytes_scalar(spark):
    sk = LCSketch(2048)
    sk.set_buckets(np.arange(50))
    df = spark.createDataFrame([(sk.to_bytes(),)], "b binary")
    got = df.select(lc_estimate_bytes("b").alias("e")).collect()[0].e
    assert got == sk.estimate()


def test_lc_table_bytes_exact_vs_python_sketch(spark, sf_dir):
    """The relational facade's serialized bitmap is byte-identical to
    LCSketch (same layout, header, and estimate), and its binaries merge
    through the existing lc_merge_agg path."""
    from hive_udf_spark.functions.lc import lc_bucket, lc_table

    orders = load_table(spark, sf_dir, "orders")
    out = {
        r[0]: r.approx_distinct
        for r in lc_table(orders, ["o_orderpriority"], "o_custkey", 4096).collect()
    }
    truth: dict[str, LCSketch] = {}
    for r in orders.select(
        "o_orderpriority", lc_bucket(F.col("o_custkey"), 4096).alias("b")
    ).collect():
        truth.setdefault(r.o_orderpriority, LCSketch(4096)).set_bucket(r.b)
    assert set(out) == set(truth)
    for k, s in out.items():
        assert s.type == "LC"
        assert bytes(s.binary) == truth[k].to_bytes()
        assert s.cardinality == truth[k].estimate()
    # binaries are first-class sketches: OR-merge across groups ≡ global
    merged = (
        lc_table(orders, ["o_orderpriority"], "o_custkey", 4096)
        .agg(lc_merge_agg(F.col("approx_distinct.binary")).alias("m"))
        .collect()[0]
        .m
    )
    global_direct = lc_table(
        orders.withColumn("__g", F.lit(1)), ["__g"], "o_custkey", 4096
    ).collect()[0].approx_distinct
    assert merged.cardinality == global_direct.cardinality
    assert bytes(merged.binary) == bytes(global_direct.binary)


def test_lc_agg_facade_is_packed_jvm_no_collect_set(spark, sf_dir):
    """The no-thought grouped call approx_distinct(kind='lc') must get the
    packed-bitmap plan: native bitmap aggregates (4 KiB buffers, map-side
    merge), no collect_set bucket-id inflation, no Python stage (r4
    verdict item 2)."""
    from hive_udf_spark.functions.sketch import approx_distinct

    orders = load_table(spark, sf_dir, "orders")
    df = orders.groupBy("o_orderpriority").agg(
        approx_distinct("o_custkey", kind="lc", b=65536).alias("s")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan
    assert "bitmap_construct_agg" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_lc_table_serializer_is_linear_not_map_scan(spark, sf_dir):
    """Regression for the r4 quadratic-assembly finding: the dense-bitmap
    stage must run-length-fold over the sorted entries ARRAY (O(occupied +
    n_words)), never probe a MapType per word index (GetMapValue is a
    linear scan, making the old plan O(n_words x occupied))."""
    from hive_udf_spark.functions.lc import lc_table

    orders = load_table(spark, sf_dir, "orders")
    plan = (
        lc_table(orders, ["o_orderpriority"], "o_custkey", 65536)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "map_from_entries" not in plan
    # the per-index probe was element_at over a sequence(); the linear form
    # has no sequence() generator at all
    assert "sequence(" not in plan


def test_lc_table_validates_size(spark, sf_dir):
    from hive_udf_spark.functions.lc import lc_table

    orders = load_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError, match="multiple of 8"):
        lc_table(orders, ["o_orderpriority"], "o_custkey", size_bytes=100)


def test_lc_two_phase_matches_jvm_lc(spark, sf_dir):
    """Tier C' (mapInPandas partials -> merge agg) computes the IDENTICAL
    estimate to the pure-JVM lc_cardinality — same buckets, same bitmap,
    different execution strategy."""
    from hive_udf_spark.functions.lc import lc_cardinality, lc_two_phase

    ev = load_table(spark, sf_dir, "events")
    two_phase = {
        (r.event_type,): r.lc_estimate
        for r in lc_two_phase(ev, ["event_type"], "user_id", 65536).collect()
    }
    jvm = {
        (r.event_type,): r.lc
        for r in ev.groupBy("event_type").agg(lc_cardinality("user_id", 65536).alias("lc")).collect()
    }
    assert two_phase == jvm and len(two_phase) == 5


def test_lc_two_phase_shuffles_sketches_not_rows(spark, sf_dir):
    """The partial phase must reduce BEFORE the shuffle: the aggregate's
    input is the mapInPandas output (sketch rows), never the raw table."""
    from hive_udf_spark.functions.lc import lc_two_phase

    ev = load_table(spark, sf_dir, "events")
    plan = lc_two_phase(ev, ["event_type"], "user_id", 4096)._jdf.queryExecution().executedPlan().toString()
    # mapInPandas (partial) appears below the exchange feeding the final agg
    assert "MapInPandas" in plan
    assert plan.index("MapInPandas") > plan.index("Exchange")  # printed top-down: map phase is deeper


def test_lc_table_storage_roundtrip(spark, sf_dir, tmp_path):
    """lc_table output is a persistable sketch table: write to parquet,
    read back, merge across groups — same estimate as the direct global
    sketch (the reference's store-and-reaggregate lifecycle)."""
    from hive_udf_spark.functions.lc import lc_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "lc_sketches")
    lc_table(orders, ["o_orderpriority"], "o_custkey", 4096).write.parquet(path)
    back = spark.read.parquet(path)
    merged = back.agg(lc_merge_agg(F.col("approx_distinct.binary")).alias("m")).collect()[0].m
    direct = (
        lc_table(orders.withColumn("__g", F.lit(1)), ["__g"], "o_custkey", 4096)
        .collect()[0]
        .approx_distinct
    )
    assert merged.cardinality == direct.cardinality
    assert bytes(merged.binary) == bytes(direct.binary)


def test_lc_null_skipping_semantics(spark):
    """NULL rows never set a bucket (reference :238-240): mixed groups
    don't gain a phantom distinct, all-NULL groups produce no lc_table
    row / a NULL lc_agg struct that merges to a NULL lc_merge_agg struct
    (as sketch_merge_agg does for HLL), and the SQL macro agrees."""
    import hive_udf_spark as hus
    from hive_udf_spark.functions.lc import lc_agg, lc_cardinality, lc_table

    df = spark.createDataFrame(
        [("g1", None), ("g1", 7), ("g2", None), ("g2", None)],
        "g string, x bigint",
    )
    est = {
        r.g: r.e
        for r in df.groupBy("g").agg(lc_cardinality("x", 1024).alias("e")).collect()
    }
    assert est == {"g1": 1, "g2": None}
    sketches = df.groupBy("g").agg(lc_agg("x", 1024).alias("approx_distinct"))
    rows = {r.g: r.approx_distinct for r in sketches.collect()}
    assert rows["g1"].cardinality == 1 and rows["g2"] is None
    merged = sketches.groupBy("g").agg(lc_merge_agg("approx_distinct.binary").alias("m"))
    assert {r.g: r.m for r in merged.collect()} == {"g1": rows["g1"], "g2": None}
    t = lc_table(df, ["g"], "x", size_bytes=1024)
    got = {r.g: r.approx_distinct.cardinality for r in t.collect()}
    assert got == {"g1": 1}  # all-NULL group emits no row
    df.createOrReplaceTempView("lc_null_t")
    sql_rows = {
        r.g: r.s
        for r in hus.sql(
            spark, "SELECT g, approx_distinct(x, 'lc', 1024) AS s FROM lc_null_t GROUP BY g"
        ).collect()
    }
    assert sql_rows["g1"].cardinality == 1 and sql_rows["g2"] is None


def test_approx_distinct_table_routes_agree_byte_exact(spark, sf_dir):
    """Both physical routes of the grouped LC facade produce IDENTICAL
    sketch structs (cardinality AND serialized bytes) at a word-aligned
    size valid for both, and the empty-group contract is uniform (no
    row, rather than a NULL struct, on either route)."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.sketch import approx_distinct_table
    from hive_udf_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    size = 65536  # exactly at the routing threshold -> lc_table path
    routed = approx_distinct_table(
        orders, ["o_orderpriority"], "o_custkey", kind="lc", b=size
    )
    column_form = (
        orders.groupBy("o_orderpriority")
        .agg(lc_agg("o_custkey", size_bytes=size))
        .filter(F.col("approx_distinct").isNotNull())
    )
    a = {
        r.o_orderpriority: (
            r.approx_distinct.cardinality,
            bytes(r.approx_distinct.binary),
        )
        for r in routed.collect()
    }
    b = {
        r.o_orderpriority: (
            r.approx_distinct.cardinality,
            bytes(r.approx_distinct.binary),
        )
        for r in column_form.collect()
    }
    assert a == b
    # all-NULL group: no row on either route
    df = spark.createDataFrame(
        [("g1", 1), ("g2", None)], "k string, v int"
    )
    small = approx_distinct_table(df, ["k"], "v", kind="lc", b=4096)
    big = approx_distinct_table(df, ["k"], "v", kind="lc", b=65536)
    assert [r.k for r in small.collect()] == ["g1"]
    assert [r.k for r in big.collect()] == ["g1"]
