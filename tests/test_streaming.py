"""Structured Streaming: batch equivalence + watermark/window behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_udf_spark.sources import load_table
from hive_udf_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    windowed_distinct_users,
    windowed_event_stats,
)


def test_stream_equals_batch_for_exact_aggs(spark, sf_dir):
    stream_out = run_stream_to_memory(
        windowed_event_stats(read_events_stream(spark, sf_dir)), "t_stats"
    )
    batch = load_table(spark, sf_dir, "events")
    batch_out = (
        batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    got = {tuple(r) for r in stream_out.collect()}
    want = {tuple(r) for r in batch_out.collect()}
    assert got == want


def test_stream_distinct_users_accuracy(spark, sf_dir):
    out = run_stream_to_memory(
        windowed_distinct_users(read_events_stream(spark, sf_dir)), "t_distinct"
    )
    batch = load_table(spark, sf_dir, "events")
    exact = {
        (r.window_start, r.event_type): r.n
        for r in batch.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    rows = out.collect()
    assert len(rows) == len(exact)
    for r in rows:
        e = exact[(r.window_start, r.event_type)]
        assert abs(r.approx_users - e) <= max(1, 0.05 * e)


def test_sliding_windows_multiply_rows(spark, sf_dir):
    """A 2-day window sliding by 1 day assigns each event to 2 windows."""
    stream = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(F.count("*").alias("n")),
        "t_sliding",
    )
    total_assigned = sum(r.n for r in out.collect())
    n_events = load_table(spark, sf_dir, "events").count()
    assert total_assigned == 2 * n_events


def test_streaming_dedup_exactly_once(spark, sf_dir):
    """2x-duplicated stream deduped by event_id == clean batch counts."""
    from pyspark.sql import functions as F

    from hive_udf_spark.plans import QUERIES
    from hive_udf_spark.sources import load_table

    got = {
        r.event_type: r.n_unique_events
        for r in QUERIES["streaming_dedup_exactly_once"].fn(spark, sf_dir).collect()
    }
    want = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_session_windows_flush_everything(spark, sf_dir):
    """The end-of-stream sentinel must flush every session: total events
    across emitted sessions equals the corpus row count."""
    from pyspark.sql import functions as F

    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.windows import (
        read_events_stream_with_flush,
        run_stream_to_memory,
        session_window_stats,
    )

    stream = read_events_stream_with_flush(spark, sf_dir)
    out = run_stream_to_memory(
        session_window_stats(stream), "sess_flush_test", mode="append"
    ).filter(F.col("user_id") >= 0)
    assert out.agg(F.sum("n_events")).collect()[0][0] == load_table(spark, sf_dir, "events").count()


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """followup_join runs identically on a streaming and a batch frame:
    the bounded replay must emit exactly the batch join's pair set."""
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.joins import followup_join
    from hive_udf_spark.streaming.windows import read_events_stream, run_stream_to_memory

    stream = read_events_stream(spark, sf_dir)
    streamed = run_stream_to_memory(
        followup_join(stream, "view", "purchase", within="1 hour"),
        "t_funnel",
        mode="append",
    )
    batch = followup_join(
        load_table(spark, sf_dir, "events"), "view", "purchase", within="1 hour"
    )
    got = sorted((r.src_event, r.dst_event) for r in streamed.collect())
    want = sorted((r.src_event, r.dst_event) for r in batch.collect())
    assert got == want
    assert len(want) > 0


def test_incremental_sketch_table_multi_batch(spark, sf_dir, tmp_path):
    """Merging per-batch sketches batch-by-batch must equal one sketch of
    the whole corpus per day (associative merge — batch boundaries are
    invisible), and the table holds one row per day."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions import approx_distinct
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_sketch_table

    events = load_table(spark, sf_dir, "events")
    table = str(tmp_path / "daily_sketches")
    # three uneven "micro-batches" by event_id ranges
    for lo, hi in ((0, 300), (300, 301), (301, 10**9)):
        batch = events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        )
        sketches = (
            batch.groupBy(F.date_trunc("day", "ts").alias("day"))
            .agg(approx_distinct("user_id").alias("s"))
            .filter(F.col("s").isNotNull())
        )
        merge_sketch_table(spark, sketches, table, ["day"], "s")

    got = {
        r.day: r.est
        for r in spark.read.parquet(table)
        .select("day", F.col("s.cardinality").alias("est"))
        .collect()
    }
    want = {
        r.day: r.est
        for r in events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(approx_distinct("user_id").alias("s"))
        .select("day", F.col("s.cardinality").alias("est"))
        .collect()
    }
    assert got == want  # b=16 on ≤15 distinct users: exact and merge-stable


def test_incremental_sketch_table_remerge_idempotent(spark, sf_dir, tmp_path):
    """Re-merging the same batch (foreachBatch retry semantics) must not
    change any estimate — sketch union is idempotent per element."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions import approx_distinct
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_sketch_table

    events = load_table(spark, sf_dir, "events")
    table = str(tmp_path / "daily_sketches")
    sketches = (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(approx_distinct("user_id").alias("s"))
        .filter(F.col("s").isNotNull())
    )
    merge_sketch_table(spark, sketches, table, ["day"], "s")
    first = sorted(
        (r.day, r.est)
        for r in spark.read.parquet(table)
        .select("day", F.col("s.cardinality").alias("est")).collect()
    )
    merge_sketch_table(spark, sketches, table, ["day"], "s")  # retry replay
    second = sorted(
        (r.day, r.est)
        for r in spark.read.parquet(table)
        .select("day", F.col("s.cardinality").alias("est")).collect()
    )
    assert first == second


def test_daily_user_sketch_sink_stream(spark, sf_dir, tmp_path):
    """End-to-end streaming smoke: the foreachBatch sink over the events
    file stream produces the same table as the batch aggregation."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions import approx_distinct
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import daily_user_sketch_sink
    from hive_udf_spark.streaming.windows import read_events_stream

    table = str(tmp_path / "stream_sketches")
    q = daily_user_sketch_sink(
        read_events_stream(spark, sf_dir), table, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.day: r.est
        for r in spark.read.parquet(table)
        .select("day", F.col("s.cardinality").alias("est")).collect()
    }
    want = {
        r.day: r.est
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(approx_distinct("user_id").alias("s"))
        .select("day", F.col("s.cardinality").alias("est"))
        .collect()
    }
    assert got == want


def test_quantile_sink_multi_batch_equals_direct_build(spark, sf_dir, tmp_path):
    """Batch-by-batch bottom-k merges equal one direct build per day
    (lossless semilattice — batch boundaries invisible), bit-for-bit."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.qsketch import quantile_sketch_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_quantile_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    ).withColumn("__cents", F.round(F.col("value") * 100).cast("bigint"))
    table = str(tmp_path / "daily_quantiles")
    for i, (lo, hi) in enumerate(((0, 300), (300, 301), (301, 10**9))):
        batch = events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        sk = quantile_sketch_table(batch, ["day"], "__cents", "event_id", k=64)
        merge_quantile_table(spark, sk, table, ["day"], 64, batch_id=i)
    got = {
        r.day: ([(p.h, p.v) for p in r.qs], r.n_rows)
        for r in spark.read.parquet(table).collect()
    }
    want = {
        r.day: ([(p.h, p.v) for p in r.qs], r.n_rows)
        for r in quantile_sketch_table(
            events, ["day"], "__cents", "event_id", k=64
        ).collect()
    }
    assert got == want


def test_quantile_sink_batch_retry_idempotent(spark, sf_dir, tmp_path):
    """A foreachBatch retry (same batch_id) must be a no-op: the sample is
    protected by array_distinct and the exact n_rows counter by the
    __last_batch high-water mark written in the same atomic swap."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.qsketch import quantile_sketch_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_quantile_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    ).withColumn("__cents", F.round(F.col("value") * 100).cast("bigint"))
    table = str(tmp_path / "daily_quantiles")
    sk = quantile_sketch_table(events, ["day"], "__cents", "event_id", k=64)
    merge_quantile_table(spark, sk, table, ["day"], 64, batch_id=0)
    snap = lambda: sorted(
        (r.day, tuple((p.h, p.v) for p in r.qs), r.n_rows)
        for r in spark.read.parquet(table).collect()
    )
    first = snap()
    merge_quantile_table(spark, sk, table, ["day"], 64, batch_id=0)  # retry
    assert snap() == first  # skipped entirely: counts did not double
    # a NEW batch with the same rows would still keep the sample exact
    # (distinct pairs), though counts legitimately move — not asserted here


def test_daily_value_quantile_sink_stream(spark, sf_dir, tmp_path):
    """End-to-end streaming: the foreachBatch quantile sink produces the
    BIT-IDENTICAL table to a direct batch build (lossless merge)."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.qsketch import quantile_sketch_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import daily_value_quantile_sink
    from hive_udf_spark.streaming.windows import read_events_stream

    table = str(tmp_path / "stream_quantiles")
    q = daily_value_quantile_sink(
        read_events_stream(spark, sf_dir), table, str(tmp_path / "ckpt"), k=64
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.day: ([(p.h, p.v) for p in r.qs], r.n_rows)
        for r in spark.read.parquet(table).collect()
    }
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    ).withColumn("__cents", F.round(F.col("value") * 100).cast("bigint"))
    want = {
        r.day: ([(p.h, p.v) for p in r.qs], r.n_rows)
        for r in quantile_sketch_table(
            events, ["day"], "__cents", "event_id", k=64
        ).collect()
    }
    assert got == want


def test_cms_sink_multi_batch_equals_direct_build(spark, sf_dir, tmp_path):
    """Cell-additive CMS merges across batches equal one direct build
    (lossless additive merge — batch boundaries invisible)."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.freq import cms_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_cms_table

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    table = str(tmp_path / "user_cms")
    for i, (lo, hi) in enumerate(((0, 300), (300, 301), (301, 10**9))):
        batch = events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        cells = cms_table(batch, "user_id", depth=4, width=64)
        merge_cms_table(spark, cells, table, batch_id=i)
    got = sorted(
        (r.d, r.idx, r.cnt) for r in spark.read.parquet(table).collect()
    )
    want = sorted(
        (r.d, r.idx, r.cnt)
        for r in cms_table(events, "user_id", depth=4, width=64).collect()
    )
    assert got == want


def test_cms_sink_batch_retry_idempotent(spark, sf_dir, tmp_path):
    """A foreachBatch retry (same batch_id) is a no-op: cell sums are
    protected by the __last_batch high-water mark."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.freq import cms_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_cms_table

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    table = str(tmp_path / "user_cms")
    cells = cms_table(events, "user_id", depth=4, width=64)
    merge_cms_table(spark, cells, table, batch_id=0)
    snap = lambda: sorted(
        (r.d, r.idx, r.cnt) for r in spark.read.parquet(table).collect()
    )
    first = snap()
    merge_cms_table(spark, cells, table, batch_id=0)  # retry
    assert snap() == first


def test_cms_sink_stream_lookup_upper_bounds(spark, sf_dir, tmp_path):
    """End-to-end streaming CMS: point queries from the streamed table
    are >= the true per-user counts (CMS guarantee), and exact for
    users without cell collisions at a wide sketch."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.freq import cms_lookup
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import user_frequency_cms_sink
    from hive_udf_spark.streaming.windows import read_events_stream

    table = str(tmp_path / "stream_cms")
    q = user_frequency_cms_sink(
        read_events_stream(spark, sf_dir), table, str(tmp_path / "ckpt"),
        depth=4, width=4096,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    truth = events.groupBy("user_id").count()
    est = cms_lookup(
        spark.read.parquet(table), events, "user_id", depth=4, width=4096
    )
    joined = est.join(truth, est.item == truth.user_id).select("est", "count")
    rows = joined.collect()
    assert rows and all(r.est >= r["count"] for r in rows)
    # wide sketch, few users: the vast majority of estimates are exact
    exact = sum(1 for r in rows if r.est == r["count"])
    assert exact / len(rows) > 0.9


def test_atomic_swap_path_always_resolvable(spark, tmp_path):
    """The symlink swap keeps the table path readable at every instant
    and survives repeated merges; a legacy plain-dir table migrates."""
    import os

    from pyspark.sql import functions as F

    from hive_udf_spark.sources.sinks import atomic_swap_parquet

    path = str(tmp_path / "t")
    # legacy layout: a plain directory
    spark.range(5).write.parquet(path)
    assert os.path.isdir(path) and not os.path.islink(path)
    atomic_swap_parquet(spark.range(10).select(F.col("id")), path)
    assert os.path.islink(path)
    assert spark.read.parquet(path).count() == 10
    atomic_swap_parquet(spark.range(3).select(F.col("id")), path)
    assert spark.read.parquet(path).count() == 3
    # exactly one live version dir remains
    vs = [n for n in os.listdir(tmp_path) if n.startswith("t.v-")]
    assert len(vs) == 1


def test_pcsa_sink_idempotent_and_equals_batch(spark, sf_dir, tmp_path):
    """OR-merge is idempotent: re-merging the SAME batch changes
    nothing (no high-water mark needed), and the streamed table equals
    a direct batch build bit-for-bit."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.pcsa import pcsa_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_pcsa_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    table = str(tmp_path / "pcsa")
    for lo, hi in ((0, 300), (300, 10**9)):
        batch = events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
        sk = pcsa_table(batch, ["day"], "user_id")
        merge_pcsa_table(spark, sk, table, ["day"])
        merge_pcsa_table(spark, sk, table, ["day"])  # retry: no-op by algebra
    got = sorted(
        (r.day, r.bucket, r.bits) for r in spark.read.parquet(table).collect()
    )
    want = sorted(
        (r.day, r.bucket, r.bits)
        for r in pcsa_table(events, ["day"], "user_id").collect()
    )
    assert got == want


def test_incremental_dedup_sink_stream_and_retry(spark, sf_dir, tmp_path):
    """End-to-end streaming incremental dedup: cross-batch pairs equal
    the batch-mode asymmetric probe union, state path stays resolvable,
    and a manual retry of the last batch is a no-op (hwm skip)."""
    import os

    from pyspark.sql import functions as F

    from hive_udf_spark.operators.dedup import (
        build_minhash_index,
        probe_minhash_index,
    )
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.sources.sinks import read_state_version
    from hive_udf_spark.streaming.dedup_sink import incremental_dedup_sink

    docs = load_table(spark, sf_dir, "documents")
    src = tmp_path / "src"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).coalesce(1).write.parquet(
            str(src / f"b{b}")
        )
    state = str(tmp_path / "state")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = incremental_dedup_sink(
        stream, state, str(tmp_path / "ckpt"), threshold=0.8, portable=True
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert os.path.islink(state)
    cur, meta = read_state_version(state)
    index = spark.read.parquet(os.path.join(cur, "index"))
    pairs = spark.read.parquet(os.path.join(cur, "pairs"))
    hwm = meta["last_batch"]
    assert hwm == 2 and index.count() > 0
    got = sorted(
        (r.batch_id, r.corpus_id) for r in pairs.collect()
    )
    # batch-mode reference: for each later residue class probe the index
    # of all earlier classes
    want = []
    for b in (1, 2):
        earlier = docs.filter(F.col("doc_id") % 3 < b)
        batch = docs.filter(F.col("doc_id") % 3 == b)
        idx = build_minhash_index(earlier, "doc_id", "text", 16, portable=True)
        out = probe_minhash_index(
            idx, batch, "doc_id", "text", threshold=0.8, num_hashes=16,
            bands=8, portable=True,
        )
        want += [(r.batch_id, r.corpus_id) for r in out.collect()]
    assert got == sorted(want)
    # retry of the committed last batch: whole-batch skip, state unchanged
    before = sorted((r.batch_id, r.corpus_id) for r in pairs.collect())
    hwm2 = read_state_version(state)[1]["last_batch"]
    assert hwm2 == 2
    # hwm guard lives in the closure; exercise it by asserting a second
    # stream run over the SAME checkpoint does nothing
    q2 = incremental_dedup_sink(
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*")),
        state,
        str(tmp_path / "ckpt"),  # same checkpoint: batches already done
        threshold=0.8,
        portable=True,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    cur3, meta3 = read_state_version(state)
    pairs3 = spark.read.parquet(os.path.join(cur3, "pairs"))
    hwm3 = meta3["last_batch"]
    assert hwm3 == 2
    assert sorted((r.batch_id, r.corpus_id) for r in pairs3.collect()) == before


def test_incremental_dedup_sink_lineage_mismatch_raises(spark, tmp_path):
    """batch_id strictly below the high-water mark = a fresh checkpoint
    pointed at existing state; must raise, not silently drop batches.
    Also: a legacy plain-directory state reads and resumes, and one
    commit mixes append and rewrite sub-tables with an extra meta key."""
    import json
    import os
    import re

    import pytest as _pytest

    from hive_udf_spark.sources.sinks import (
        commit_state_version,
        hwm_skip,
        read_state_version,
    )

    assert hwm_skip(-1, 0, "s") is False  # fresh state
    assert hwm_skip(3, 4, "s") is False  # next batch
    assert hwm_skip(4, 4, "s") is True  # retry of committed batch
    with _pytest.raises(ValueError, match="lineage mismatch"):
        hwm_skip(4, 0, "s")

    state = str(tmp_path / "state")
    assert read_state_version(state) == (None, {})
    # legacy layout: sub-tables and meta.json directly in <state>
    spark.range(3).selectExpr("id AS k").write.parquet(f"{state}/log")
    spark.range(2).selectExpr("id AS k").write.parquet(f"{state}/agg")
    assert read_state_version(state) == (state, {})  # no meta.json yet
    with open(f"{state}/meta.json", "w") as f:
        json.dump({"last_batch": 0, "n": 3}, f)
    assert read_state_version(state) == (state, {"last_batch": 0, "n": 3})
    legacy_parts = {
        n: os.stat(f"{state}/log/{n}").st_ino
        for n in os.listdir(f"{state}/log")
        if n.endswith(".parquet")
    }
    assert hwm_skip(0, 0, state) is True  # replay of the legacy batch
    commit_state_version(
        state,
        1,
        append={"log": spark.range(3, 5).selectExpr("id AS k")},
        rewrite={"agg": spark.range(7).selectExpr("id AS k")},
        extra={"n": 5},
    )
    assert os.path.islink(state)
    cur, meta = read_state_version(state)
    assert cur == os.path.join(str(tmp_path), os.readlink(state))
    assert cur.startswith(f"{state}.v-")
    assert meta == {"last_batch": 1, "n": 5}
    assert sorted(r.k for r in spark.read.parquet(f"{state}/log").collect()) == [
        0, 1, 2, 3, 4,
    ]
    assert spark.read.parquet(f"{state}/agg").count() == 7
    # the legacy log files were hard-linked into the new version, not
    # rewritten, and the legacy directory itself is gone
    for n, ino in legacy_parts.items():
        assert os.stat(f"{cur}/log/{n}").st_ino == ino
    assert [p for p in os.listdir(tmp_path) if "legacy" in p] == []
    assert hwm_skip(meta["last_batch"], 1, state) is True  # replay skipped
    with _pytest.raises(ValueError, match=re.escape(f"state at {state} ")):
        hwm_skip(meta["last_batch"], 0, state)


def test_sketch_sink_lineage_mismatch_raises(spark, tmp_path):
    """Same guard on the shared merge-on-write skeleton."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from hive_udf_spark.streaming.sketch_sink import _merge_with_hwm

    path = str(tmp_path / "tbl")
    rows = spark.range(3).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    merge = lambda df: df.groupBy("k").agg(F.sum("v").alias("v"))  # noqa: E731
    _merge_with_hwm(spark, rows, path, ["k", "v"], merge, batch_id=5)
    # retry of batch 5: skipped, table unchanged
    _merge_with_hwm(spark, rows, path, ["k", "v"], merge, batch_id=5)
    assert spark.read.parquet(path).agg(F.sum("v")).collect()[0][0] == 3
    with _pytest.raises(ValueError, match="lineage mismatch"):
        _merge_with_hwm(spark, rows, path, ["k", "v"], merge, batch_id=0)


def test_nb_model_sink_incremental_equals_batch_fit(spark, tmp_path):
    """Merging NB count cells batch-by-batch yields a stored state whose
    derived tables classify IDENTICALLY to a one-shot fit."""
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.importance import (
        nb_classify,
        nb_classify_with_tables,
        nb_count_cells,
        nb_tables_from_counts,
    )
    from hive_udf_spark.streaming.model_sink import merge_nb_counts

    docs = spark.createDataFrame(
        [(i, "cat" if i % 2 else "dog", f"w{i % 5} w{i % 3} common") for i in range(30)],
        "doc_id long, label string, text string",
    )
    table = str(tmp_path / "nb_counts")
    B = 64
    for b in range(3):
        cells = nb_count_cells(
            docs.filter(F.col("doc_id") % 3 == b), "label", "text", B, portable=True
        )
        merge_nb_counts(spark, cells, table, batch_id=b)
    tok, pri = nb_tables_from_counts(spark.read.parquet(table), B)
    got = nb_classify_with_tables(docs, tok, pri, buckets=B, portable=True)
    want = nb_classify(docs, docs, label_col="label", buckets=B, portable=True)
    key = lambda r: r.doc_id
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_nb_model_sink_batch_retry_idempotent(spark, tmp_path):
    """A foreachBatch retry (same batch_id) is a no-op for the additive
    count cells (high-water-mark guard)."""
    from hive_udf_spark.operators.importance import nb_count_cells
    from hive_udf_spark.streaming.model_sink import merge_nb_counts

    docs = spark.createDataFrame(
        [(1, "x", "a b a"), (2, "y", "b c")], "doc_id long, label string, text string"
    )
    table = str(tmp_path / "nb_counts")
    cells = nb_count_cells(docs, "label", "text", 16, portable=True)
    merge_nb_counts(spark, cells, table, batch_id=0)
    snap = lambda: sorted(
        (r.label, r.bucket, r.cnt)
        for r in spark.read.parquet(table).filter("bucket >= -1").collect()
    )
    first = snap()
    merge_nb_counts(spark, cells, table, batch_id=0)  # retry
    assert snap() == first
    # a genuinely new batch DOES merge
    merge_nb_counts(spark, cells, table, batch_id=1)
    doubled = {
        (label, bucket): cnt for (label, bucket, cnt) in snap()
    }
    assert all(doubled[(l, bk)] == c * 2 for (l, bk, c) in first)


def test_hllp_sink_merge_idempotent_and_equals_direct(spark, sf_dir, tmp_path):
    """max-merge of per-batch register tables ≡ direct build, and
    re-merging the same batch (foreachBatch retry) is a no-op — no
    high-water mark needed."""
    from pyspark.sql import functions as F

    from hive_udf_spark.functions.hllp import hllp_table
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.sketch_sink import merge_hllp_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    table = str(tmp_path / "daily_hllp")
    for b in range(2):
        sk = hllp_table(
            events.filter(F.col("event_id") % 2 == b), ["day"], "user_id", m=64
        )
        merge_hllp_table(spark, sk, table, ["day"])
    snap = lambda: sorted(
        (r.day, r.bucket, r.rank)
        for r in spark.read.parquet(table).select("day", "bucket", "rank").collect()
    )
    direct = sorted(
        (r.day, r.bucket, r.rank)
        for r in hllp_table(events, ["day"], "user_id", m=64).collect()
    )
    assert snap() == direct
    # retry: re-merge batch 0 — idempotent
    sk0 = hllp_table(
        events.filter(F.col("event_id") % 2 == 0), ["day"], "user_id", m=64
    )
    merge_hllp_table(spark, sk0, table, ["day"])
    assert snap() == direct


def test_scd2_sink_sequential_batches_and_retry(spark, tmp_path):
    """Batch-by-batch application folds value sequences into intervals;
    a same-batch retry is skipped by the mark; an old batch id raises
    the lineage-mismatch error."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.scd import scd2_apply
    from hive_udf_spark.sources.sinks import (
        commit_state_version,
        hwm_skip,
        read_state_version,
    )

    # drive the sink's _apply logic via its building blocks (the
    # registry query drives the real foreachBatch end-to-end)
    from hive_udf_spark.streaming.scd_sink import scd2_dimension_sink  # noqa: F401

    state = str(tmp_path / "dim_state")
    t = [dt.datetime(2026, 1, 1 + i) for i in range(3)]
    seqs = {1: ["a", "a", "b"], 2: ["x", None, "x"], 3: [None, "q", "q"]}
    for b in range(3):
        rows = [
            (k, v[b], t[b]) for k, v in seqs.items() if v[b] is not None
        ]
        batch = spark.createDataFrame(
            rows, "k long, attr string, effective_ts timestamp"
        )
        cur, meta = read_state_version(state)
        assert meta.get("last_batch", -1) == b - 1
        if cur is not None:
            dim = spark.read.parquet(f"{cur}/dim")
        else:
            dim = batch.select(
                "k", "attr",
                F.col("effective_ts").alias("valid_from"),
                F.col("effective_ts").alias("valid_to"),
            ).limit(0)
        new_dim = scd2_apply(dim, batch, ["k"], ["attr"]).localCheckpoint(eager=True)
        commit_state_version(state, b, rewrite={"dim": new_dim})
    got = sorted(
        (r.k, r.attr, r.valid_from, r.valid_to)
        for r in spark.read.parquet(f"{state}/dim").collect()
    )
    assert got == sorted(
        [
            (1, "a", t[0], t[2]),
            (1, "b", t[2], None),
            (2, "x", t[0], None),   # absent in batch 1, same value batch 2
            (3, "q", t[1], None),
        ]
    )
    assert hwm_skip(2, 2, state) is True  # retry skipped
    with pytest.raises(ValueError, match="lineage mismatch"):
        hwm_skip(2, 0, state)


def test_incremental_boilerplate_stream_equals_batch(spark, tmp_path):
    """Line document-frequency state must equal the batch computation
    regardless of batching, and a replay of an already-merged batch is
    a no-op (additive state + hwm guard)."""
    import json
    import os

    from hive_udf_spark.streaming.boilerplate_sink import (
        incremental_line_df_sink,
    )

    rows = [
        (1, "common\nunique one"),
        (2, "common\nunique two"),
        (3, "common\nunique one"),   # 'unique one' df=2, 'common' df=3
        (4, "common"),
    ]
    pages = spark.createDataFrame(rows, "doc_id bigint, page string")
    src = str(tmp_path / "src")
    for b in range(2):
        pages.filter(F.col("doc_id") % 2 == b).coalesce(1).write.parquet(
            f"{src}/b{b}"
        )
    stream = (
        spark.readStream.schema("doc_id bigint, page string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    state = str(tmp_path / "state")
    q = incremental_line_df_sink(stream, state, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.line: r.df for r in spark.read.parquet(f"{state}/linedf").collect()
    }
    assert got == {"common": 4, "unique one": 2, "unique two": 1}
    meta = json.load(open(os.path.join(os.path.realpath(state), "meta.json")))
    assert meta["n_docs"] == 4
    # lineage guard: pointing a FRESH checkpoint at existing state must
    # fail loudly (batch ids restart at 0 < hwm — silent skipping would
    # drop every incoming batch), leaving the state untouched
    stream2 = (
        spark.readStream.schema("doc_id bigint, page string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q2 = incremental_line_df_sink(stream2, state, str(tmp_path / "ckpt2"))
    import pytest as _pytest

    with _pytest.raises(Exception, match="lineage mismatch"):
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
    got2 = {
        r.line: r.df for r in spark.read.parquet(f"{state}/linedf").collect()
    }
    assert got2 == got


def test_shard_ingest_sink_stream_and_retry(spark, sf_dir, tmp_path):
    """r9 compressed-shard streaming ingest: the final (codec, lang)
    stats equal the batch SQL regardless of batching, and a foreachBatch
    retry (same batch_id) is a whole-batch no-op under the hwm guard."""
    from pyspark.sql import functions as F

    from hive_udf_spark.plans.pipeline_queries import _build_shard_blobs
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.sources.sinks import read_state_version
    from hive_udf_spark.streaming.shard_sink import incremental_shard_ingest_sink

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    shards = _build_shard_blobs(docs).localCheckpoint(eager=True)
    src = str(tmp_path / "src")
    for b in range(3):
        shards.filter(F.col("shard") % 3 == b).coalesce(1).write.parquet(
            f"{src}/b{b}"
        )
    stream = (
        spark.readStream.schema("shard int, codec string, blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    state = str(tmp_path / "state")
    q = incremental_shard_ingest_sink(stream, state, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stats = spark.read.parquet(f"{state}/stats")
    want = (
        docs.withColumn(
            "codec",
            F.expr("element_at(array('zstd','xz','gzip','bz2'), "
                   "cast((doc_id % 12) % 4 as int) + 1)"),
        )
        .groupBy("codec", "lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum(F.length("text")).cast("long").alias("total_chars"))
    )
    got = {tuple(r) for r in stats.collect()}
    assert got == {tuple(r) for r in want.collect()}
    # retry semantics: a second stream over the SAME checkpoint replays
    # nothing and the additive state must not move
    hwm = read_state_version(state)[1]["last_batch"]
    assert hwm >= 0
    docs_before = spark.read.parquet(f"{state}/docs").count()
    q2 = incremental_shard_ingest_sink(
        spark.readStream.schema("shard int, codec string, blob binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        state,
        str(tmp_path / "ckpt"),  # same checkpoint: batches already done
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    cur2, meta2 = read_state_version(state)
    d2 = spark.read.parquet(f"{cur2}/docs")
    s2 = spark.read.parquet(f"{cur2}/stats")
    hwm2 = meta2["last_batch"]
    assert hwm2 == hwm and d2.count() == docs_before
    assert {tuple(r) for r in s2.collect()} == got


def test_shard_ingest_sink_quarantines_corrupt_and_bomb(spark, sf_dir, tmp_path):
    """r10 hardening: a corrupt shard and a bomb shard (inflates past
    the decode cap) each yield a quarantine row in the streaming state
    instead of killing the task; stats cover only the healthy shards."""
    import bz2 as _bz2

    from pyspark.sql import functions as F

    from hive_udf_spark.plans.pipeline_queries import _build_shard_blobs
    from hive_udf_spark.sources import load_table
    from hive_udf_spark.streaming.shard_sink import incremental_shard_ingest_sink

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    shards = _build_shard_blobs(docs).localCheckpoint(eager=True)
    # shard 5 (xz): truncated to half; shard 7 (bz2 after %4): replaced
    # with a bz2 bomb that inflates past the 256 MiB decode cap
    bomb = _bz2.compress(b"\x00" * ((1 << 28) + (1 << 20)))
    assert len(bomb) < 1 << 20  # the bomb itself is tiny on the wire
    corrupted = shards.withColumn(
        "blob",
        F.when(
            F.col("shard") == 5,
            F.expr("substring(blob, 1, CAST(length(blob) / 2 AS INT))"),
        )
        .when(F.col("shard") == 7, F.lit(bomb))
        .otherwise(F.col("blob")),
    ).localCheckpoint(eager=True)
    src = str(tmp_path / "src")
    corrupted.coalesce(1).write.parquet(f"{src}/b0")
    stream = (
        spark.readStream.schema("shard int, codec string, blob binary")
        .parquet(f"{src}/*")
    )
    state = str(tmp_path / "state")
    q = incremental_shard_ingest_sink(stream, state, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    quar = {
        (r.shard, r.codec): r.decode_error
        for r in spark.read.parquet(f"{state}/quarantine").collect()
    }
    assert set(quar) == {(5, "xz"), (7, "bz2")}
    assert "truncated" in quar[(5, "xz")] or "corrupt" in quar[(5, "xz")]
    assert "cap" in quar[(7, "bz2")]
    # stats equal the batch SQL over the SURVIVING shards only
    want = (
        docs.filter(~(F.col("doc_id") % 12).isin(5, 7))
        .withColumn(
            "codec",
            F.expr("element_at(array('zstd','xz','gzip','bz2'), "
                   "cast((doc_id % 12) % 4 as int) + 1)"),
        )
        .groupBy("codec", "lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum(F.length("text")).cast("long").alias("total_chars"))
    )
    got = {tuple(r) for r in spark.read.parquet(f"{state}/stats").collect()}
    assert got == {tuple(r) for r in want.collect()}


def test_shard_decoder_multi_member_streams():
    """Multi-member .gz (pigz/bgzip block-parallel writers) and
    concatenated .xz/.bz2 are valid per the format specs and must
    decode as the concatenation (r10 advice: they were quarantined as
    'trailing bytes' — data loss).  Genuine trailing garbage still
    quarantines, and the cumulative output cap holds across members."""
    import bz2
    import gzip
    import lzma

    from hive_udf_spark.streaming.shard_sink import _bounded_decompress

    a, b = b'{"doc_id":1}\n', b'{"doc_id":2}\n'
    cases = {
        "gz": gzip.compress(a) + gzip.compress(b),
        "xz": lzma.compress(a) + lzma.compress(b),
        "bz2": bz2.compress(a) + bz2.compress(b),
    }
    for codec, blob in cases.items():
        assert _bounded_decompress(codec, blob, 1 << 20) == a + b, codec

    # trailing garbage = a corrupt next member → ValueError
    import pytest

    for codec, blob in cases.items():
        with pytest.raises(ValueError, match="corrupt|truncated"):
            _bounded_decompress(codec, blob + b"\x00garbage", 1 << 20)

    # the cap is cumulative across members, not per member
    big = gzip.compress(b"x" * 600) + gzip.compress(b"y" * 600)
    with pytest.raises(ValueError, match="cap"):
        _bounded_decompress("gz", big, 1000)


def test_shard_decoder_supports_br(spark):
    """Decoder-side .jsonl.br support: a brotli shard decodes through
    the native dispatch; a corrupt one quarantines."""
    import pandas as pd

    from hive_udf_spark.operators.native import (
        brotli_native_available,
        brotli_native_compress,
    )
    from hive_udf_spark.streaming.shard_sink import decode_shard_lines

    if not brotli_native_available():
        import pytest

        pytest.skip("libbrotli absent")
    payload = b'{"doc_id":1}\n{"doc_id":2}\n'
    blob = brotli_native_compress(payload)
    df = spark.createDataFrame(
        pd.DataFrame({"shard": [0, 1], "codec": ["br", "br"],
                      "blob": [blob, blob[:4]]})
    )
    rows = decode_shard_lines(df).collect()
    ok = sorted(r.line for r in rows if r.line is not None)
    quar = [r for r in rows if r.decode_error is not None]
    assert ok == ['{"doc_id":1}', '{"doc_id":2}']
    assert len(quar) == 1 and quar[0].shard == 1
