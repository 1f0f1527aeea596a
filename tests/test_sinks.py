"""Sink layout guarantees: partition pruning, shuffle-free bucketed joins,
sketch-table round-trip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_udf_spark.functions import approx_distinct, sketch_estimate, sketch_merge_agg
from hive_udf_spark.sources import load_table
from hive_udf_spark.sources.sinks import (
    read_sketch_table,
    write_bucketed,
    write_partitioned,
    write_sketch_table,
)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_partitioned(docs, out, "lang")
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    one = back.filter(F.col("lang") == "en")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # pruning: the scan reads only the lang=en directory
    assert "PartitionFilters" in plan and "lang" in plan
    assert one.count() == docs.filter(F.col("lang") == "en").count()


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    # warehouse dir is static config; managed test tables are dropped below
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "t_orders_b", "o_orderkey", num_buckets=4, sort_by="o_orderkey")
    write_bucketed(lineitem, "t_lineitem_b", "l_orderkey", num_buckets=4, sort_by="l_orderkey")
    try:
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        # disable broadcast so the test exercises the shuffle decision
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.o_orderkey == b.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == lineitem.join(orders, orders.o_orderkey == lineitem.l_orderkey).count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_sketch_table_roundtrip_reaggregates(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        approx_distinct("user_id").alias("s")
    )
    path = str(tmp_path / "daily_sketches")
    write_sketch_table(daily, path)
    back = read_sketch_table(spark, path)
    merged = back.agg(sketch_merge_agg("s").alias("m")).select(
        F.col("m.cardinality").alias("est")
    )
    est = merged.collect()[0]["est"]
    exact = events.select("user_id").distinct().count()
    assert est == pytest.approx(exact, rel=0.05)


# ---------------------------------------------------------------------------
# Z-order clustered writes
# ---------------------------------------------------------------------------


def _file_ranges(path, col):
    """(min, max) per parquet file for col, from footer stats only."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        los, his = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    los.append(c.statistics.min)
                    his.append(c.statistics.max)
        if los:
            out.append((min(los), max(his)))
    return out


def test_zorder_write_narrows_both_dims_and_roundtrips(spark, tmp_path):
    from pyspark.sql import functions as F

    from hive_udf_spark.sources.sinks import write_zordered

    # two independent uniform dims — a single-column sort leaves the
    # second dim spanning the full range in every file
    df = spark.range(40000).select(
        (F.col("id") % 200).alias("x"),
        (F.pmod(F.xxhash64("id"), F.lit(200))).alias("y"),
        F.col("id").alias("payload"),
    )
    zpath = str(tmp_path / "zordered")
    spath = str(tmp_path / "sorted_x")
    write_zordered(df, zpath, ["x", "y"], num_files=16, bits=8)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(spath)

    # round-trip: clustering must not lose or duplicate rows
    got = spark.read.parquet(zpath)
    assert got.count() == 40000
    assert got.agg(F.sum("payload")).collect()[0][0] == sum(range(40000))

    span = lambda ranges: sum(hi - lo for lo, hi in ranges) / len(ranges)
    z_x, z_y = _file_ranges(zpath, "x"), _file_ranges(zpath, "y")
    s_y = _file_ranges(spath, "y")
    # z-order: BOTH dims narrowed well below the global span (200);
    # x-sorted: y spans ~everything per file
    assert span(z_x) < 120 and span(z_y) < 120
    assert span(s_y) > 180


def test_zorder_files_skippable_for_box_predicate(spark, tmp_path):
    """A small box predicate on (x, y) must be satisfiable-by-footer in
    only a minority of z-ordered files (the data-skipping payoff)."""
    from pyspark.sql import functions as F

    from hive_udf_spark.sources.sinks import write_zordered

    df = spark.range(40000).select(
        (F.col("id") % 256).alias("x"),
        (F.pmod(F.xxhash64("id"), F.lit(256))).alias("y"),
    )
    path = str(tmp_path / "z2")
    write_zordered(df, path, ["x", "y"], num_files=16, bits=8)
    xr, yr = _file_ranges(path, "x"), _file_ranges(path, "y")
    assert len(xr) == len(yr) >= 8
    # ~12% box in each dim
    box = lambda r, lo, hi: not (r[1] < lo or r[0] > hi)
    hits = sum(1 for rx, ry in zip(xr, yr) if box(rx, 0, 31) and box(ry, 0, 31))
    assert hits <= len(xr) // 2


def test_zorder_key_validation(spark):
    import pytest as _pytest

    from hive_udf_spark.sources.sinks import zorder_key

    with _pytest.raises(ValueError):
        zorder_key([], [], [])
    with _pytest.raises(ValueError):
        zorder_key(["a", "b"], [0, 0], [1, 1], bits=40)  # 2*40 > 63


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    from hive_udf_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag")
    spark.range(10000).select("id", (F.col("id") % 7).alias("k")).repartition(
        32
    ).write.parquet(path)
    before, after = compact_parquet(spark, path, target_file_mb=128)
    assert before >= 32 and after == 1
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("id")).collect()[0][0] == sum(range(10000))


def test_compact_parquet_with_sort_clusters_footers(spark, tmp_path):
    from pyspark.sql import functions as F

    from hive_udf_spark.sources.sinks import compact_parquet

    path = str(tmp_path / "frag2")
    spark.range(40000).select(
        F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k"), "id"
    ).repartition(16).write.parquet(path)
    # force multiple output files via a tiny target
    before, after = compact_parquet(spark, path, target_file_mb=1, sort_cols=["k"])
    assert after >= 1
    ranges = _file_ranges(path, "k")
    # sorted-compacted files must not all span the full k range
    if len(ranges) >= 2:
        spans = sorted(hi - lo for lo, hi in ranges)
        assert spans[0] < 600


def test_profile_table_single_pass(spark, sf_dir):
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.profile import profile_table
    from hive_udf_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    prof = {r.column: r for r in profile_table(
        orders, ["o_orderkey", "o_orderpriority"]).collect()}
    n = orders.count()
    assert prof["o_orderkey"].n_rows == n and prof["o_orderkey"].n_null == 0
    exact = orders.agg(F.count_distinct("o_orderkey")).collect()[0][0]
    assert abs(prof["o_orderkey"].n_distinct_est - exact) <= max(1, 0.05 * exact)
    # typed bounds, not lexicographic: numeric min of 0..n is "0"
    assert prof["o_orderkey"].min_value == "0"
    assert prof["o_orderpriority"].min_value.startswith("1-")
    # ONE scan: a single aggregate over the file, no joins/extra scans
    plan = profile_table(orders, ["o_orderkey", "o_orderpriority"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1


def test_profile_table_validation(spark):
    import pytest as _pytest

    from hive_udf_spark.operators.profile import profile_table

    with _pytest.raises(ValueError):
        profile_table(spark.range(1), [])


def test_skew_report_hot_key_and_salt(spark):
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.skew import skew_report

    df = spark.range(10000).select(
        F.when(F.col("id") % 100 == 0, F.lit(7)).otherwise(F.col("id") % 500).alias("k")
    )
    rows = skew_report(df, ["k"], top_k=3).collect()
    assert len(rows) == 3
    top = {r.rank: r for r in rows}
    assert top[1].key == "7" and top[1].cnt == 120  # 100 extra + own 20
    r = rows[0]
    assert r.n_rows == 10000 and r.n_keys == 495
    assert r.p50_count == 20 and r.max_count == 120
    assert r.recommended_salt == 6  # ceil(120 / avg 20)


def test_skew_report_uniform_salt_one(spark):
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.skew import skew_report

    df = spark.range(1000).select((F.col("id") % 10).alias("k"))
    r = skew_report(df, ["k"], top_k=1).collect()[0]
    assert r.cnt == 100 and r.recommended_salt == 1


def test_skew_report_validation(spark):
    import pytest as _pytest

    from hive_udf_spark.operators.skew import skew_report

    with _pytest.raises(ValueError):
        skew_report(spark.range(1), [])


def test_expire_rows_ttl(spark, tmp_path):
    """Rows failing the retention predicate are gone, the table path is
    readable throughout, repeated expiry is idempotent."""
    from pyspark.sql import functions as F

    from hive_udf_spark.sources.sinks import expire_rows

    path = str(tmp_path / "events_tbl")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("day")
    ).write.parquet(path)
    before, after = expire_rows(spark, path, "day >= 3")
    assert (before, after) == (100, 70)
    got = spark.read.parquet(path)
    assert got.filter("day < 3").count() == 0 and got.count() == 70
    assert expire_rows(spark, path, "day >= 3") == (70, 70)  # idempotent


def test_forget_rows_removes_all_rows_for_id(spark, tmp_path):
    """One forgotten id removes EVERY row keyed by it (posting-shaped
    multi-row tables), the swap leaves the path readable, and the
    report counts are exact."""
    from hive_udf_spark.sources.sinks import forget_rows

    path = str(tmp_path / "postings")
    rows = [(d, t) for d in range(10) for t in range(d % 3 + 1)]
    spark.createDataFrame(rows, "doc_id long, term_no long").write.parquet(path)
    deletes = spark.createDataFrame([(3,), (7,), (99,)], "doc_id long")
    before, after = forget_rows(spark, path, deletes, "doc_id")
    assert before == len(rows)
    kept = spark.read.parquet(path)
    ids = {r.doc_id for r in kept.select("doc_id").distinct().collect()}
    assert ids == set(range(10)) - {3, 7}
    assert after == kept.count() == len([r for r in rows if r[0] not in (3, 7)])


def test_propagate_deletes_spans_tables_and_rederives_stats(spark, tmp_path):
    """The same delete list applies to corpus + postings; BM25 stats
    re-derived from surviving postings equal a from-scratch build on
    the filtered corpus (no ghost df/n_docs)."""
    from hive_udf_spark.operators.retrieval import (
        bm25_topk,
        doc_postings,
        index_from_postings,
    )
    from hive_udf_spark.sources.sinks import propagate_deletes

    docs = spark.createDataFrame(
        [(i, f"w{i % 4} common tail{i}") for i in range(12)],
        "doc_id long, text string",
    )
    corpus, postings = str(tmp_path / "c"), str(tmp_path / "p")
    docs.write.parquet(corpus)
    doc_postings(docs).write.parquet(postings)
    deletes = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    report = propagate_deletes(spark, deletes, {corpus: "doc_id", postings: "doc_id"})
    assert [(b > a2) for (_, b, a2) in report] == [True, True]
    survivors = docs.filter(F.col("doc_id") % 3 != 0)
    queries = survivors.limit(3)
    got = bm25_topk(
        index_from_postings(spark.read.parquet(postings)), queries, k=5
    ).collect()
    want = bm25_topk(
        index_from_postings(doc_postings(survivors)), queries, k=5
    ).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(got, key=key) == sorted(want, key=key)
    # forgotten docs never appear as results
    assert all(r.doc_id % 3 != 0 for r in got)


def test_equi_depth_histogram_semantics(spark):
    """Depths near-equal, heavy values never split, boundaries exact vs
    a Python mirror, randomized over seeds."""
    import random

    from hive_udf_spark.operators.profile import equi_depth_histogram

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        vals = [rng.randrange(40) for _ in range(300)] + [7] * 100  # heavy 7
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        bins = 4
        got = sorted(
            (r.bin, r.lo_value, r.hi_value, r.n_rows, r.n_distinct)
            for r in equi_depth_histogram(df, "x", bins=bins).collect()
        )
        # python mirror
        from collections import Counter

        vc = sorted(Counter(vals).items())
        n = len(vals)
        lo = 0
        agg: dict = {}
        for v, k in vc:
            b = (lo * bins) // n + 1
            cur = agg.setdefault(b, [v, v, 0, 0])
            cur[0] = min(cur[0], v)
            cur[1] = max(cur[1], v)
            cur[2] += k
            cur[3] += 1
            lo += k
        want = sorted((b, *vals_) for b, vals_ in agg.items())
        assert got == want, seed
        # conservation + each value in exactly one bin
        assert sum(r[3] for r in got) == n
        assert sum(r[4] for r in got) == len(vc)
    from hive_udf_spark.operators.profile import equi_depth_histogram as h

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins"):
        h(df, "x", bins=0)


def test_snapshot_diff_semantics(spark):
    """added/removed/changed partitioning, NULL-safe comparison,
    unchanged rows excluded, compare_cols defaulting."""
    from hive_udf_spark.sources.sinks import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40)],
        "k long, s string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 22), (4, None, 40), (5, "e", 50)],
        "k long, s string, v int",
    )
    got = {r.k: r.change_type for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 unchanged (absent), 2 NULL->22 changed, 3 removed, 4 NULL==NULL
    # in s and equal v -> unchanged, 5 added
    assert got == {2: "changed", 3: "removed", 5: "added"}
    # explicit compare_cols restricts the comparison
    got_s = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], compare_cols=["s"]).collect()
    }
    assert got_s == {3: "removed", 5: "added"}  # s unchanged for 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="key_cols"):
        snapshot_diff(old, new, [])


def test_scd2_apply_semantics(spark):
    """Changed keys close+open, unchanged keys untouched, new keys
    insert, history rows pass through, NULL attrs compare null-safely."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.scd import scd2_apply

    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)
    t2 = dt.datetime(2026, 3, 1)
    dim = spark.createDataFrame(
        [
            (1, "gold", t0, t1),    # history row: must pass through
            (1, "plat", t1, None),  # current, will change
            (2, "silver", t0, None),  # current, unchanged in batch
            (3, None, t0, None),    # current with NULL attr
            (5, "iron", t0, None),  # current, not in batch
        ],
        "k long, tier string, valid_from timestamp, valid_to timestamp",
    )
    changes = spark.createDataFrame(
        [
            (1, "diamond", t2),
            (2, "silver", t2),   # equal -> no-op
            (3, None, t2),       # NULL == NULL -> no-op
            (4, "new", t2),      # unseen key -> insert
        ],
        "k long, tier string, effective_ts timestamp",
    )
    out = scd2_apply(dim, changes, ["k"], ["tier"])
    rows = sorted(
        (r.k, r.tier, r.valid_from, r.valid_to) for r in out.collect()
    )
    assert rows == sorted(
        [
            (1, "gold", t0, t1),
            (1, "plat", t1, t2),
            (1, "diamond", t2, None),
            (2, "silver", t0, None),
            (3, None, t0, None),
            (4, "new", t2, None),
            (5, "iron", t0, None),
        ]
    )
    # idempotence: re-applying the same batch changes nothing
    again = scd2_apply(out, changes, ["k"], ["tier"])
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, out.collect()))
    with pytest.raises(ValueError, match="key_cols"):
        scd2_apply(dim, changes, [], ["tier"])


def test_point_in_time_join_semantics(spark):
    """Each fact resolves the version valid at its own ts; facts before
    any version keep NULLs on left join and drop on inner; no fan-out."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from hive_udf_spark.operators.scd import point_in_time_join

    t = [dt.datetime(2026, 1, 1 + i) for i in range(4)]
    dim = spark.createDataFrame(
        [
            (1, "v1", t[1], t[2]),
            (1, "v2", t[2], None),
            (2, "w1", t[1], None),
        ],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, t[0]),  # before any version -> NULL
            (11, 1, t[1]),  # v1 (inclusive start)
            (12, 1, t[2]),  # v2 (exclusive end of v1)
            (13, 1, t[3]),  # v2 (open interval)
            (14, 3, t[2]),  # unknown key -> NULL
        ],
        "fid long, k long, ts timestamp",
    )
    got = {
        r.fid: r.attr
        for r in point_in_time_join(facts, dim, ["k"], "ts").collect()
    }
    assert got == {10: None, 11: "v1", 12: "v2", 13: "v2", 14: None}
    inner = point_in_time_join(facts, dim, ["k"], "ts", how="inner")
    assert sorted(r.fid for r in inner.collect()) == [11, 12, 13]
    assert point_in_time_join(facts, dim, ["k"], "ts").count() == 5  # no fan-out
    with pytest.raises(ValueError, match="how"):
        point_in_time_join(facts, dim, ["k"], "ts", how="outer")


def test_scd2_apply_rejects_extra_dim_columns_and_null_effective(spark):
    """Review-caught: extra dim columns raise instead of silently
    vanishing; a NULL effective timestamp raises instead of dropping or
    misfiling the change."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from hive_udf_spark.operators.scd import scd2_apply

    t0 = dt.datetime(2026, 1, 1)
    dim_extra = spark.createDataFrame(
        [(1, "a", "audit", t0, None)],
        "k long, attr string, extra string, valid_from timestamp, valid_to timestamp",
    )
    ch = spark.createDataFrame(
        [(1, "b", t0)], "k long, attr string, effective_ts timestamp"
    )
    with pytest.raises(ValueError, match="extra"):
        scd2_apply(dim_extra, ch, ["k"], ["attr"])
    dim = dim_extra.drop("extra")
    null_eff = spark.createDataFrame(
        [(2, "x", None)], "k long, attr string, effective_ts timestamp"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        scd2_apply(dim, null_eff, ["k"], ["attr"]).collect()
    # NULL valid_from on a current row no longer makes it vanish
    dim_nvf = spark.createDataFrame(
        [(3, "z", None, None)],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    out = scd2_apply(
        dim_nvf,
        spark.createDataFrame([(9, "q", t0)], "k long, attr string, effective_ts timestamp"),
        ["k"],
        ["attr"],
    ).collect()
    assert sorted(r.k for r in out) == [3, 9]


def test_scd2_apply_rejects_out_of_order_effective_ts(spark):
    """Advisor-caught (r5): a change whose effective_ts precedes the
    current row's valid_from would close the row with valid_to <
    valid_from and open an overlapping current row — breaking
    point_in_time_join's at-most-one-match invariant. It raises now."""
    import datetime as dt

    import pytest

    from hive_udf_spark.operators.scd import scd2_apply

    t0, t1 = dt.datetime(2026, 2, 1), dt.datetime(2026, 1, 1)
    dim = spark.createDataFrame(
        [(1, "a", t0, None)],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    stale = spark.createDataFrame(
        [(1, "b", t1)], "k long, attr string, effective_ts timestamp"
    )
    with pytest.raises(Exception, match="out-of-order|SparkRuntimeException|USER_RAISED"):
        scd2_apply(dim, stale, ["k"], ["attr"]).collect()
    # boundary: effective == valid_from is allowed (zero-width close)
    ok = spark.createDataFrame(
        [(1, "b", t0)], "k long, attr string, effective_ts timestamp"
    )
    assert scd2_apply(dim, ok, ["k"], ["attr"]).count() == 2


def test_point_in_time_join_renames_colliding_dim_attrs(spark):
    """Advisor-caught (r5): a dim attribute sharing a name with a fact
    column comes back with an _r suffix (asof_join's rename pattern)
    instead of raising an ambiguous-reference AnalysisException."""
    import datetime as dt

    from hive_udf_spark.operators.scd import point_in_time_join

    t0 = dt.datetime(2026, 1, 1)
    dim = spark.createDataFrame(
        [(1, "dim-status", t0, None)],
        "k long, status string, valid_from timestamp, valid_to timestamp",
    )
    facts = spark.createDataFrame(
        [(10, 1, "fact-status", dt.datetime(2026, 1, 5))],
        "fid long, k long, status string, ts timestamp",
    )
    out = point_in_time_join(facts, dim, ["k"], "ts")
    assert "status_r" in out.columns
    row = out.collect()[0]
    assert row.status == "fact-status" and row.status_r == "dim-status"


def _admitted_by_window(rows, batch_of, budget):
    """Batch-mode expectation of the admission sink: (doc_id, cum) for
    every row whose running total over (source ORDER BY batch, id)
    stays within ``budget``."""
    want = set()
    for srcname in {r[1] for r in rows}:
        grp = sorted(
            [r for r in rows if r[1] == srcname], key=lambda r: (batch_of(r[0]), r[0])
        )
        cum = 0
        for i, _, w in grp:
            cum += w
            if cum <= budget:
                want.add((i, cum))
    return want


def test_token_budget_admission_stream_matches_batch_window(spark, tmp_path):
    """Streamed arrival-order admission == batch window over
    (source ORDER BY batch, id); budgets exhausted in an early batch
    stay exhausted in later ones."""
    import pyspark.sql.functions as F
    from hive_udf_spark.streaming.budget_sink import token_budget_admission_sink

    rows = []
    for i in range(30):
        # source 'a' is heavy: exhausts its 100-budget inside batch 0
        rows.append((i, "a" if i % 2 == 0 else "b", 40 if i % 2 == 0 else 10))
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    src = str(tmp_path / "src")
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.parquet(
            f"{src}/b{b}"
        )
    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = token_budget_admission_sink(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"), budget=100
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.cum_weight)
        for r in spark.read.parquet(str(tmp_path / "state/admitted")).collect()
    }
    assert got == _admitted_by_window(rows, lambda i: i % 3, 100)
    # source 'a' (40/doc) admits exactly 2 docs; both from batch 0
    a_rows = [r for r in spark.read.parquet(str(tmp_path / "state/admitted")).collect()
              if r.source == "a"]
    assert len(a_rows) == 2 and all(r.batch_id == 0 for r in a_rows)


def test_token_budget_admission_commits_in_o_batch(spark, tmp_path):
    """The admitted table is append-only, so a commit writes only the
    batch's admitted rows: every part file of batch 0 is hard-linked
    into batch 1's version (same inode), not rewritten, and the admitted
    rows still equal the batch window."""
    import os

    from hive_udf_spark.streaming.budget_sink import token_budget_admission_sink

    # batch = doc_id // 10; 'a' (40/doc) exhausts its budget in batch 0,
    # 'b' (10/doc) admits in both batches
    rows = [
        (i, "a" if i % 2 == 0 else "b", 40 if i % 2 == 0 else 10) for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    src, state, ckpt = (str(tmp_path / n) for n in ("src", "state", "ckpt"))

    def run_batch(b):
        batch = docs.filter(F.col("doc_id").between(10 * b, 10 * b + 9))
        batch.coalesce(1).write.parquet(f"{src}/b{b}")
        stream = (
            spark.readStream.schema("doc_id long, source string, n_chars long")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = token_budget_admission_sink(stream, state, ckpt, budget=100)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        adm = os.path.join(os.path.realpath(state), "admitted")
        return {
            n: os.stat(os.path.join(adm, n)).st_ino
            for n in os.listdir(adm)
            if n.endswith(".parquet")
        }

    parts0 = run_batch(0)
    assert parts0
    parts1 = run_batch(1)
    assert {n: parts1.get(n) for n in parts0} == parts0
    got = {
        (r.doc_id, r.cum_weight)
        for r in spark.read.parquet(f"{state}/admitted").collect()
    }
    want = _admitted_by_window(rows, lambda i: i // 10, 100)
    assert got == want and any(i >= 10 for i, _ in want)


def test_token_budget_admission_counts_rejected_weights(spark, tmp_path):
    """A document rejected in an earlier batch still counts toward its
    source's running total: with budget 100, docs of weight 60 and 60 in
    batch 0 and 30 in batch 1, only the first is admitted. The window
    gives the last one cum 150; counting admitted weights only would
    admit it at 90."""
    rows = [(0, "a", 60), (1, "a", 60), (2, "a", 30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    src = str(tmp_path / "src")
    for b in range(2):
        docs.filter(F.col("doc_id").between(2 * b, 2 * b + 1)).coalesce(1).write.parquet(f"{src}/b{b}")
    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    from hive_udf_spark.streaming.budget_sink import token_budget_admission_sink

    q = token_budget_admission_sink(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt"), budget=100
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.doc_id, r.cum_weight)
        for r in spark.read.parquet(str(tmp_path / "state/admitted")).collect()
    }
    assert got == _admitted_by_window(rows, lambda i: i // 2, 100) == {(0, 60)}


def test_token_budget_admission_validation(spark, tmp_path):
    import pytest as _pytest
    from hive_udf_spark.streaming.budget_sink import token_budget_admission_sink

    spark.createDataFrame(
        [(1, "x", 5)], "doc_id long, source string, n_chars long"
    ).write.parquet(str(tmp_path / "src"))
    stream = (
        spark.readStream.schema("doc_id long, source string, n_chars long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    with _pytest.raises(ValueError):
        token_budget_admission_sink(
            stream, str(tmp_path / "s"), str(tmp_path / "c"), budget=-5
        )


def test_parquet_rowgroup_stats_footer_matches_duckdb(spark, tmp_path):
    """The pyarrow footer walk must agree with DuckDB's parquet_metadata
    on every (row group, column) count and size."""
    import duckdb

    from hive_udf_spark.sources.sinks import parquet_rowgroup_stats

    p = str(tmp_path / "t.parquet")
    spark.range(0, 10_000).selectExpr(
        "id", "CASE WHEN id % 3 = 0 THEN NULL ELSE id * 2 END AS v",
        "CAST(id AS STRING) AS s",
    ).coalesce(1).write.parquet(str(tmp_path / "d"))
    import glob, shutil
    shutil.copy(glob.glob(str(tmp_path / "d" / "*.parquet"))[0], p)
    got = {
        (r.row_group_id, r.path_in_schema): (
            r.num_values, r.null_count, r.total_compressed_size,
            r.total_uncompressed_size,
        )
        for r in parquet_rowgroup_stats(spark, [p]).collect()
    }
    ref = duckdb.connect().execute(
        "SELECT row_group_id, path_in_schema, num_values, stats_null_count, "
        "total_compressed_size, total_uncompressed_size "
        f"FROM parquet_metadata('{p}')"
    ).fetchall()
    assert got == {
        (rg, col): (nv, nulls, cs, us) for rg, col, nv, nulls, cs, us in ref
    }
    assert any(nulls > 0 for _, nulls, _, _ in got.values())
