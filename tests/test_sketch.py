"""Sketch algebra and accuracy tests (SURVEY.md §5.3-5.4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_udf_spark.functions import (
    approx_distinct,
    approx_distinct_table,
    register_sql,
    sketch_estimate,
    sketch_intersect_estimate,
    sketch_merge_agg,
    sketch_union,
)
from hive_udf_spark.sources import load_table


@pytest.fixture(scope="module", autouse=True)
def _sql_registered(spark):
    # The SQL-surface assertions below (sketch_difference_estimate) need the
    # temp functions registered in THIS session regardless of test order.
    register_sql(spark)

# FIXTURES.md exact cardinalities at sf0.001.
EXACT = {
    ("lineitem", "l_orderkey"): 1473,
    ("lineitem", "l_suppkey"): 10,
    ("orders", "o_custkey"): 150,
    ("events", "user_id"): 15,
}


def test_hll_global_accuracy(spark, sf_dir):
    for (table, col), exact in EXACT.items():
        df = load_table(spark, sf_dir, table)
        row = df.agg(approx_distinct(col).alias("s")).collect()[0]
        assert row.s.type == "HLL"
        assert abs(row.s.cardinality - exact) / exact < 0.02, (table, col, row.s.cardinality, exact)
        assert row.s.binary is not None


def test_hll_grouped_matches_exact_per_group(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    got = (
        events.groupBy("event_type")
        .agg(approx_distinct("user_id").alias("s"), F.count_distinct("user_id").alias("exact"))
        .collect()
    )
    assert len(got) == 5
    for r in got:
        assert abs(r.s.cardinality - r.exact) / r.exact < 0.02


def test_null_semantics_empty_group_is_null(spark):
    df = spark.createDataFrame([(1, None), (1, None), (2, "a")], "k int, v string")
    rows = {r.k: r.s for r in df.groupBy("k").agg(approx_distinct("v").alias("s")).collect()}
    assert rows[1] is None  # all-null group → NULL (reference :329-331)
    assert rows[2].cardinality == 1


def test_merge_of_partials_equals_single_pass(spark, sf_dir):
    """The reference's PARTIAL1→FINAL invariant (:276-317): sketch per
    partition then merged ≡ one global sketch."""
    orders = load_table(spark, sf_dir, "orders")
    direct = orders.agg(approx_distinct("o_custkey").alias("s")).collect()[0].s
    per_day = (
        orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(approx_distinct("o_custkey").alias("s"))
    )
    merged = per_day.agg(sketch_merge_agg("s").alias("m")).collect()[0].m
    assert merged.type == "HLL"
    assert merged.cardinality == direct.cardinality  # same hashes, same registers


def test_sketch_union_and_intersect_scalars(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    segs = (
        customer.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy("c_mktsegment")
        .agg(approx_distinct("c_custkey").alias("s"))
        .collect()
    )
    by_seg = {r.c_mktsegment: r.s for r in segs}
    a, b = by_seg["BUILDING"], by_seg["AUTOMOBILE"]
    df = spark.createDataFrame([(a.binary, b.binary)], "a binary, b binary")
    row = df.select(
        sketch_estimate("a").alias("ea"),
        sketch_estimate(sketch_union("a", "b")).alias("eu"),
        sketch_intersect_estimate("a", "b").alias("ei"),
    ).collect()[0]
    assert row.ea == a.cardinality
    # segments partition the customers: union = sum, intersection ≈ 0
    assert abs(row.eu - (a.cardinality + b.cardinality)) / (a.cardinality + b.cardinality) < 0.05
    assert abs(row.ei) <= max(2.0, 0.02 * row.eu)


def test_reaggregation_roundtrip_through_storage(spark, sf_dir, tmp_path):
    """Sketches are data: persist per-day sketches, read back, roll up
    (the reference's whole reason for the struct output, :259-265)."""
    events = load_table(spark, sf_dir, "events")
    per_day = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        approx_distinct("user_id").alias("s")
    )
    path = str(tmp_path / "daily_sketches")
    per_day.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    rolled = back.agg(sketch_merge_agg("s").alias("m")).collect()[0].m
    exact = events.agg(F.count_distinct("user_id").alias("e")).collect()[0].e
    assert abs(rolled.cardinality - exact) / exact < 0.02


def test_invalid_kind_and_b_rejected(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        approx_distinct("x", kind="nope")
    with _pytest.raises(ValueError):
        approx_distinct("x", kind="hll", b=3)
    with _pytest.raises(ValueError):
        approx_distinct("x", kind="hll", b=22)
    # an LC size of 0 is rejected like a negative one, not read as "default"
    df = spark.createDataFrame([("g", 1)], "g string, x bigint")
    for b in (0, -8):
        with _pytest.raises(ValueError, match="size_bytes must be positive"):
            approx_distinct("x", kind="lc", b=b)
        with _pytest.raises(ValueError, match="size_bytes must be positive"):
            approx_distinct_table(df, ["g"], "x", kind="lc", b=b)


def test_incompatible_precision_merge_raises(spark, sf_dir):
    """Reference parity: merging sketches of different configurations must
    raise, not silently degrade (UDAFCardinalityEstimator.java:399-414 →
    CardinalityMergeException). Spark's hll_union rejects mismatched
    lgConfigK unless explicitly allowed."""
    import pytest as _pytest

    from hive_udf_spark.functions import approx_distinct, sketch_union
    from hive_udf_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    a = orders.agg(approx_distinct("o_custkey", b=12).alias("s")).select(
        F.col("s.binary").alias("ba")
    )
    b = orders.agg(approx_distinct("o_custkey", b=16).alias("s")).select(
        F.col("s.binary").alias("bb")
    )
    # strict mode: reference parity — incompatible merge raises
    with _pytest.raises(Exception) as ei:
        a.crossJoin(b).select(
            sketch_union(F.col("ba"), F.col("bb"), strict=True).alias("u")
        ).collect()
    assert "lgConfigK" in str(ei.value) or "HLL" in str(ei.value)
    # lenient default: union degrades to the smaller precision, still sane
    est = (
        a.crossJoin(b)
        .select(F.hll_sketch_estimate(sketch_union(F.col("ba"), F.col("bb"))).alias("e"))
        .collect()[0]["e"]
    )
    n = 150  # distinct o_custkey at sf0.001
    assert abs(est - n) / n < 0.1


def test_approx_distinct_on_dispatches_by_schema(spark, sf_dir):
    """Dual-input parity (UDAFCardinalityEstimator.java:104-109): raw
    columns build sketches, sketch-struct columns merge — same single
    entry point, dispatched from the frame's schema."""
    from hive_udf_spark.functions import approx_distinct_on

    orders = load_table(spark, sf_dir, "orders")
    raw = orders.agg(approx_distinct_on(orders, "o_custkey").alias("s")).collect()[0].s
    direct = orders.agg(approx_distinct("o_custkey").alias("s")).collect()[0].s
    assert raw.cardinality == direct.cardinality

    per_day = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        approx_distinct("o_custkey").alias("s")
    )
    merged = per_day.agg(approx_distinct_on(per_day, "s").alias("m")).collect()[0].m
    assert merged.type == "HLL"
    assert merged.cardinality == direct.cardinality


def test_approx_distinct_on_rejects_bad_inputs(spark, sf_dir):
    """Merge path takes no precision param (reference :190-193), and
    non-sketch structs / non-atomic types are rejected at dispatch."""
    import pytest as _pytest

    from hive_udf_spark.functions import approx_distinct_on

    orders = load_table(spark, sf_dir, "orders")
    per_day = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        approx_distinct("o_custkey").alias("s")
    )
    with _pytest.raises(ValueError, match="not accepted when merging"):
        approx_distinct_on(per_day, "s", b=12)
    other_struct = orders.select(F.struct("o_custkey", "o_orderstatus").alias("st"))
    with _pytest.raises(ValueError, match="not a sketch struct"):
        approx_distinct_on(other_struct, "st")
    arr = orders.select(F.array("o_custkey").alias("a"))
    with _pytest.raises(ValueError, match="primitive or sketch-struct"):
        approx_distinct_on(arr, "a")


def test_sketch_merge_agg_strict_raises_on_mixed_precision(spark, sf_dir):
    """strict=True reproduces the reference's incompatible-merge error on
    the AGGREGATE path (UDAFCardinalityEstimator.java:399-414); the
    lenient default degrades to the smaller lgConfigK instead."""
    import pytest as _pytest

    orders = load_table(spark, sf_dir, "orders")
    mixed = orders.agg(approx_distinct("o_custkey", b=12).alias("s")).unionByName(
        orders.agg(approx_distinct("o_custkey", b=16).alias("s"))
    )
    # lenient default: succeeds
    lenient = mixed.agg(sketch_merge_agg("s").alias("m")).collect()[0].m
    assert lenient.cardinality > 0
    with _pytest.raises(Exception, match="(?i)lgConfigK|union|merge"):
        mixed.agg(sketch_merge_agg("s", strict=True).alias("m")).collect()


def test_sketch_jaccard_estimate(spark, sf_dir):
    """Jaccard over sketches: disjoint segments ≈ 0; identical sets = 1;
    a half-overlap built from order keys lands near 1/3 (|A∩B|/|A∪B|
    with |A|=|B|=2|A∩B|)."""
    from hive_udf_spark.functions import sketch_jaccard_estimate

    orders = load_table(spark, sf_dir, "orders")
    lo = orders.filter(F.col("o_orderkey") % 4 < 2)     # residues {0,1}
    hi = orders.filter(F.col("o_orderkey") % 4 >= 2)    # residues {2,3}
    mid = orders.filter((F.col("o_orderkey") % 4 >= 1) & (F.col("o_orderkey") % 4 < 3))  # {1,2}
    def sk(df):
        return df.agg(approx_distinct("o_orderkey").alias("s")).collect()[0].s.binary
    a, b, c = sk(lo), sk(hi), sk(mid)
    df = spark.createDataFrame([(a, b, c)], "a binary, b binary, c binary")
    row = df.select(
        sketch_jaccard_estimate("a", "b").alias("j_disjoint"),
        sketch_jaccard_estimate("a", "a").alias("j_same"),
        sketch_jaccard_estimate("a", "c").alias("j_half"),
    ).collect()[0]
    assert row.j_disjoint < 0.05
    assert row.j_same == 1.0
    assert abs(row.j_half - 1 / 3) < 0.05


def test_tuple_distinct_null_positions_distinct(spark):
    from hive_udf_spark.functions import approx_distinct_tuple

    df = spark.createDataFrame(
        [(None, 5), (5, None), (5, 5), (None, None), (None, None)],
        "a int, b int",
    )
    # 3 distinct non-all-null tuples; all-null rows skipped (reference
    # null-row semantics); small cardinality -> sketch exact
    est = df.agg(approx_distinct_tuple("a", "b").alias("s")).first().s.cardinality
    assert est == 3


def test_tuple_distinct_matches_exact_small(spark, sf_dir):
    from hive_udf_spark.functions import approx_distinct_tuple
    from hive_udf_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        approx_distinct_tuple("user_id", "event_type").alias("s"),
        F.count_distinct("user_id", "event_type").alias("x"),
    ).first()
    assert row.s.cardinality == row.x  # 75 tuples at sf0.001: sketch-exact


def test_tuple_distinct_requires_cols(spark):
    import pytest as _pytest

    from hive_udf_spark.functions import approx_distinct_tuple

    with _pytest.raises(ValueError):
        approx_distinct_tuple()


def test_difference_estimate_disjoint_and_subset(spark):
    from hive_udf_spark.functions import sketch_difference_estimate

    df = spark.range(1000).selectExpr(
        "hll_sketch_agg(id) FILTER (WHERE id < 600) AS a",     # 0..599
        "hll_sketch_agg(id) FILTER (WHERE id >= 400) AS b",    # 400..999
        "hll_sketch_agg(id) FILTER (WHERE id < 200) AS sub",   # subset of a
    )
    row = df.select(
        sketch_difference_estimate("a", "b").alias("ab"),      # ~400
        sketch_difference_estimate("sub", "a").alias("sub_a"), # ~0
    ).first()
    assert abs(row.ab - 400) <= 400 * 0.05
    assert row.sub_a <= 1000 * 0.02  # clamped near zero
    # SQL surface parity
    sql = spark.sql(
        "SELECT sketch_difference_estimate(hll_sketch_agg(id) FILTER (WHERE id < 600), "
        "hll_sketch_agg(id) FILTER (WHERE id >= 400)) AS d FROM range(1000)"
    ).first()
    assert abs(sql.d - 400) <= 400 * 0.05


def test_expand_approx_distinct_macro():
    """One-name SQL aggregate (reference UX, UDAFCardinalityEstimator.java
    :66-68): macro expansion into the composed Tier-A aggregate."""
    from hive_udf_spark.functions import expand_approx_distinct as ex

    assert (
        ex("SELECT approx_distinct(values) FROM src")
        == "SELECT sketch_struct(hll_sketch_agg(values, 16)) FROM src"
    )
    # explicit type + precision; case-insensitive name; nested call args
    assert (
        ex("SELECT APPROX_DISTINCT(coalesce(a, b), 'hll', 12) AS s FROM t")
        == "SELECT sketch_struct(hll_sketch_agg(coalesce(a, b), 12)) AS s FROM t"
    )
    # a comma inside nested parens is not an argument separator
    assert (
        ex("SELECT approx_distinct(concat(a, ',', b)) FROM t")
        == "SELECT sketch_struct(hll_sketch_agg(concat(a, ',', b), 16)) FROM t"
    )
    # multiple calls in one statement
    out = ex("SELECT approx_distinct(x), approx_distinct(y, 'hll', 8) FROM t")
    assert out == (
        "SELECT sketch_struct(hll_sketch_agg(x, 16)), "
        "sketch_struct(hll_sketch_agg(y, 8)) FROM t"
    )
    # statements without the call pass through untouched
    assert ex("SELECT count(*) FROM t") == "SELECT count(*) FROM t"
    # 'lc' expands to the estimate-only composition (reference LC branch,
    # UDAFCardinalityEstimator.java:112-124): lc_estimate over the
    # two-phase distinct bucket count, binary NULL
    lc_out = ex("SELECT approx_distinct(x, 'lc', 65536) FROM t")
    # NULL-guarded bucket: xxhash64(NULL) is a constant, not NULL, so the
    # expansion must skip NULL rows explicitly (reference :238-240)
    assert (
        "lc_estimate(count(DISTINCT CASE WHEN x IS NOT NULL "
        "THEN pmod(xxhash64(x), 524288) END), 65536)" in lc_out
    )
    assert lc_out.startswith("SELECT lc_struct(CASE WHEN count(x) > 0")
    # default LC size is the reference's LC_DEFAULT_SIZE = 1e6 (:90)
    assert "8000000" in ex("SELECT approx_distinct(x, 'lc') FROM t")
    with pytest.raises(ValueError, match="type must be"):
        ex("SELECT approx_distinct(x, 'cms') FROM t")
    with pytest.raises(ValueError, match="args"):
        ex("SELECT approx_distinct(x, 'hll', 12, 9) FROM t")
    # occurrences inside string literals and comments are NOT rewritten
    assert (
        ex("SELECT 'approx_distinct(x)' AS lbl FROM t")
        == "SELECT 'approx_distinct(x)' AS lbl FROM t"
    )
    assert (
        ex("SELECT approx_distinct(x) -- approx_distinct(y, 'bad')\nFROM t")
        == "SELECT sketch_struct(hll_sketch_agg(x, 16)) -- approx_distinct(y, 'bad')\nFROM t"
    )
    assert (
        ex("SELECT /* approx_distinct(z) */ approx_distinct(x) FROM t")
        == "SELECT /* approx_distinct(z) */ sketch_struct(hll_sketch_agg(x, 16)) FROM t"
    )


def test_one_name_sql_runs_tier_a(spark, sf_dir):
    """hive_udf_spark.sql executes the reference's one-name form with a
    native (Python-free) aggregate plan and a sketch mergeable with the
    DataFrame-API surface."""
    import hive_udf_spark as hus
    from hive_udf_spark.functions import approx_distinct as ad

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("t_one_name")
    df = hus.sql(
        spark,
        "SELECT o_orderpriority, approx_distinct(o_custkey) AS s "
        "FROM t_one_name GROUP BY o_orderpriority",
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = {r.o_orderpriority: r.s for r in df.collect()}
    direct = {
        r.o_orderpriority: r.s
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(ad("o_custkey").alias("s"))
        .collect()
    }
    assert set(rows) == set(direct)
    for k in rows:
        assert rows[k].type == direct[k].type == "HLL"
        assert rows[k].cardinality == direct[k].cardinality
        assert bytes(rows[k].binary) == bytes(direct[k].binary)


def test_hll_estimator_policy_divergence_pinned(spark):
    """Estimate-policy parity bound (SURVEY.md §6): the reference computes
    HLL estimates with long-range correction DISABLED
    (UDAFCardinalityEstimator.java:335-337 — cardinality(false)); our
    Tier A rides DataSketches' estimator instead (documented departure,
    functions/sketch.py). This pins how far the two policies diverge at
    high cardinality: at n = 10^7 with b=16, both the DataSketches
    estimate and a faithful classic-Flajolet estimator with the
    reference's policy (small-range linear-counting correction only, no
    long-range term) must sit within 2*RSE of truth — hence within 4*RSE
    of each other. RSE(b=16) = 1.04/sqrt(2^16) ~ 0.41%.
    """
    import math

    import numpy as np
    from pyspark.sql import functions as FF

    n = 10_000_000
    b = 16
    m = 1 << b
    rse = 1.04 / math.sqrt(m)

    # --- reference-policy estimator over an ideal 64-bit hash ----------
    # n distinct values through a uniform hash are n uniform 64-bit
    # words; registers are the max rank per bucket (classic HLL).
    rng = np.random.default_rng(20260813)
    h = rng.integers(0, 1 << 64, size=n, dtype=np.uint64)
    idx = (h >> np.uint64(64 - b)).astype(np.int64)
    suffix = h & np.uint64((1 << (64 - b)) - 1)
    # rank = position of the leftmost 1-bit in the (64-b)-bit suffix,
    # counting from 1; all-zero suffix -> (64-b)+1
    bits = np.zeros(n, dtype=np.int64)
    nz = suffix > 0
    bits[nz] = np.floor(np.log2(suffix[nz].astype(np.float64))).astype(np.int64) + 1
    rank = (64 - b) - bits + 1
    regs = np.zeros(m, dtype=np.int64)
    np.maximum.at(regs, idx, rank)
    alpha = 0.7213 / (1.0 + 1.079 / m)
    raw = alpha * m * m / np.sum(np.power(2.0, -regs.astype(np.float64)))
    zeros = int((regs == 0).sum())
    if raw <= 2.5 * m and zeros > 0:  # small-range correction
        ref_est = m * math.log(m / zeros)
    else:  # NO long-range correction — the reference's cardinality(false)
        ref_est = raw
    assert abs(ref_est - n) / n < 2 * rse, f"reference-policy estimate off: {ref_est}"

    # --- our Tier A (DataSketches) over n true distinct values ---------
    ds_est = (
        spark.range(n)
        .agg(FF.hll_sketch_estimate(FF.hll_sketch_agg("id", FF.lit(b))).alias("e"))
        .collect()[0]
        .e
    )
    assert abs(ds_est - n) / n < 2 * rse, f"DataSketches estimate off: {ds_est}"
    # divergence between the two policies is bounded by the triangle
    # inequality; assert it directly as the documented bound
    assert abs(ds_est - ref_est) / n < 4 * rse


def test_one_name_sql_merge_dispatch(spark, sf_dir):
    """Input-type dispatch of the one-name macro (the reference's
    struct-input branch, UDAFCardinalityEstimator.java:104-109): the same
    SQL text merges stored sketches, and merged estimates equal the
    DataFrame-API union path."""
    import hive_udf_spark as hus
    from hive_udf_spark.functions import approx_distinct as ad
    from hive_udf_spark.functions import sketch_merge_agg

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        ad("user_id").alias("s")
    )
    daily.createOrReplaceTempView("t_daily_sketches")
    merged = hus.sql(
        spark, "SELECT approx_distinct(s) AS m FROM t_daily_sketches"
    ).collect()[0].m
    direct = daily.agg(sketch_merge_agg("s").alias("m")).collect()[0].m
    assert merged.type == "HLL"
    assert merged.cardinality == direct.cardinality
    # merge path rejects extra parameters (reference :190-193)
    import pytest as _pytest

    from hive_udf_spark.functions import expand_approx_distinct as ex

    with _pytest.raises(ValueError, match="no extra"):
        ex("SELECT approx_distinct(s, 'hll') FROM t", merge=True)
    # a genuinely broken query re-raises its ORIGINAL analysis error
    from pyspark.errors import AnalysisException

    with _pytest.raises(AnalysisException):
        hus.sql(spark, "SELECT approx_distinct(no_such_col) FROM t_daily_sketches")
