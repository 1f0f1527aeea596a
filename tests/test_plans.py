"""Physical-plan audits: the properties that make queries survive 100 TB.

These assert on .explain output, so regressions in pushdown/broadcast/
partial-aggregation are caught by CI, not by a slow cluster run.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from hive_udf_spark.functions import approx_distinct
from hive_udf_spark.plans import QUERIES
from hive_udf_spark.sources import load_table


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushed_to_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)" in plan
    # column pruning: scan reads only the two needed columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_q1_filter_pushdown(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q1_pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_hll_aggregate_is_partial_final(spark, sf_dir):
    """The reference's PARTIAL1→FINAL protocol must appear as two
    ObjectHashAggregate phases (map-side partial sketch, merge after
    shuffle) — the property that makes 100 TB group-bys shuffle sketches
    instead of rows (SURVEY.md §4.1)."""
    ev = load_table(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(approx_distinct("user_id").alias("s"))
    plan = plan_of(q)
    assert plan.count("ObjectHashAggregate") >= 2
    assert "partial_hll_sketch_agg" in plan or "partial_" in plan


def test_q5_broadcasts_small_dims(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q5_regional_volume"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the big fact-fact join must NOT broadcast lineitem/orders at scale;
    # here we just require that broadcast exists for dims and the plan has
    # at most one shuffle-based join for the facts
    assert plan.count("BroadcastHashJoin") >= 3


def test_no_python_udfs_in_jvm_operators(spark, sf_dir):
    """Sketch/relational/dedup query plans must stay JVM-side: no
    BatchEvalPython / ArrowEvalPython stages (Python appears only in
    explicitly-Python operators: LC facade binary, multimodal, ANN sig)."""
    jvm_only = [
        "approx_distinct_hll_grouped",
        "tpch_q1_pricing_summary",
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "similarity_topk_dot",
        "text_quality_scores",
    ]
    for name in jvm_only:
        plan = plan_of(QUERIES[name].fn(spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} crosses into Python"


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE's pre-execution explain hides codegen stage markers; disable it
    # for this one assertion.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(QUERIES["tpch_q1_pricing_summary"].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # formatted mode marks codegen'd operators with a '*' prefix
    assert "* HashAggregate" in plan and "* Project" in plan


def test_lc_distinct_is_two_phase(spark, sf_dir):
    from hive_udf_spark.functions.lc import lc_cardinality

    orders = load_table(spark, sf_dir, "orders")
    q = orders.groupBy("o_orderpriority").agg(lc_cardinality("o_custkey", 10_000).alias("lc"))
    plan = plan_of(q)
    # distinct-aggregate rewrite: partial distinct on (key, bucket) before
    # the final count — bucket ids shuffle, not raw rows
    assert "HashAggregate" in plan
    assert "EvalPython" not in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join's whole point: one Exchange (the window partitioning),
    never a range cross-product or per-row join."""
    plan = plan_of(QUERIES["asof_prev_event_gap"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # window hash + AQE final coalesce
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_range_join_is_equi_join(spark, sf_dir):
    """Bucketed interval join must plan as a hash/sort-merge equi-join —
    Spark's default for a pure range predicate is a nested-loop join that
    dies at scale."""
    plan = plan_of(QUERIES["range_join_events_next_hour"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_ivf_broadcasts_queries(spark, sf_dir):
    """IVF candidate generation: query side broadcast, corpus never
    replicated."""
    plan = plan_of(QUERIES["similarity_ann_ivf"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_q6_pushes_all_predicates(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q6_forecast_revenue"].fn(spark, sf_dir))
    assert "PushedFilters" in plan and "l_discount" in plan and "l_quantity" in plan
    # column pruning: o_orderkey etc. not read; only the 4 needed columns
    assert "ReadSchema" in plan


def test_q10_broadcasts_nation(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q10_returned_items"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_near_pairs_lsh_no_cartesian_no_python(spark, sf_dir):
    """The LSH near-pair plan must be equi-join shaped (band bucket join),
    never a nested-loop pair enumeration, with zero Python stages."""
    from hive_udf_spark.operators.similarity import embedding_near_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(embedding_near_pairs_lsh(emb, min_cosine=0.35, nbits=32, bands=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_approx_top_k_is_partial_final(spark, sf_dir):
    """The heavy-hitter aggregate must partially aggregate map-side like
    every TypedImperativeAggregate — sketches shuffle, not rows."""
    from hive_udf_spark.functions.freq import approx_top_k_agg
    from hive_udf_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("token"))
    plan = plan_of(toks.agg(approx_top_k_agg("token", 10, 1000).alias("tk")))
    assert plan.count("ObjectHashAggregate") >= 2 or plan.count("SortAggregate") >= 2


def test_cms_build_is_partial_final_bounded_shuffle(spark, sf_dir):
    """CMS construction is one group-by over (d, idx): partial aggregation
    bounds the shuffle at depth*width counter rows, and the whole build is
    JVM-side."""
    from hive_udf_spark.functions.freq import cms_table
    from hive_udf_spark.functions.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("token"))
    plan = plan_of(cms_table(toks, "token", depth=4, width=64))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exists_shape_plans_semi_join(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q4ish_exists_late_ship"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_not_exists_shape_plans_anti_join(spark, sf_dir):
    plan = plan_of(QUERIES["tpch_q22ish_idle_rich_customers"].fn(spark, sf_dir))
    assert "LeftAnti" in plan


def test_exact_dedup_aggregates_before_semi_join(spark, sf_dir):
    """exact_dedup's shuffle payload is (hash, id) pairs with map-side
    partial min — documents never shuffle on the content hash (the old
    window formulation did)."""
    from hive_udf_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(exact_dedup(docs, "text", "doc_id"))
    assert "LeftSemi" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final min per hash
    assert "Window" not in plan


def test_q21_shape_plans_semi_then_anti(spark, sf_dir):
    """The doubly-correlated EXISTS/NOT EXISTS decorrelates to one semi
    and one anti join — no cartesian product despite the non-equi
    (suppkey <>) correlation terms."""
    plan = plan_of(QUERIES["tpch_q21ish_sole_returned_supplier"].fn(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q15_scalar_max_is_broadcast(spark, sf_dir):
    """The single-row max side of the q15 scalar subquery broadcasts;
    the revenue view is aggregated with map-side partials."""
    plan = plan_of(QUERIES["tpch_q15ish_top_supplier"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q9_part_filter_pushed_to_scan(spark, sf_dir):
    """The p_name LIKE filter prunes part before its broadcast."""
    plan = plan_of(QUERIES["tpch_q9ish_nation_profit"].fn(spark, sf_dir))
    assert "PushedFilters" in plan or "Filter" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_decontam_corpus_side_never_shuffles_ngrams(spark, sf_dir):
    """Decontamination probes the corpus with a broadcast hash join: the
    only Exchange in the plan is the post-join hit aggregation (plus the
    tiny bench-total join), never the exploded corpus n-grams."""
    plan = plan_of(QUERIES["pipeline_decontaminate"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_gopher_filter_is_shuffle_free_projection(spark, sf_dir):
    """The quality filter must be pure map-side work: no Exchange of any
    kind in the plan — at 100 TB it runs at scan speed."""
    from hive_udf_spark.functions.text import gopher_filter_table

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(gopher_filter_table(docs, "text"))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_table_shuffles_partials_not_values(spark, sf_dir):
    """kmv_table's relational PARTIAL->FINAL: the partial bottom-k
    aggregates on (group, partition id) BEFORE the exchange, so the
    shuffle carries <=k-element arrays per (group, input partition), not
    raw hashes. Assert a partial aggregate precedes the exchange and no
    Python appears."""
    from hive_udf_spark.functions.kmv import kmv_table

    ev = load_table(spark, sf_dir, "events")
    plan = plan_of(kmv_table(ev, ["event_type"], "user_id", k=64))
    assert "Exchange" in plan
    first_exchange = plan.index("Exchange")
    assert "ObjectHashAggregate" in plan[:first_exchange] or "HashAggregate" in plan[:first_exchange]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lc_table_packs_words_before_exchange_no_python(spark, sf_dir):
    """lc_table (the LC struct facade's scale path): the bit_or word
    packing must run as a partial aggregate BEFORE the first exchange —
    the shuffle carries (group, word, packed bits), 1 bit per bucket, not
    collect_set's 8 bytes per bucket — and the whole plan (including
    bitmap serialization) stays JVM-side."""
    from hive_udf_spark.functions.lc import lc_table

    orders = load_table(spark, sf_dir, "orders")
    plan = plan_of(lc_table(orders, ["o_orderpriority"], "o_custkey", size_bytes=8192))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the word-packing bit_or runs in PARTIAL mode (map-side, before its
    # exchange) — the formatted details name partial agg functions as
    # partial_<fn>
    assert "partial_bit_or" in plan
    assert "collect_set" not in plan


def test_topk_uses_native_partial_window_group_limit(spark, sf_dir):
    """Top-k per query must prune map-side: Spark 4's WindowGroupLimit in
    Partial mode before the exchange (the rank analogue of partial
    aggregation), so ≤ k rows per (query, partition) shuffle — the manual
    two-window formulation this replaced cost an extra full sort+shuffle
    of the scored stream."""
    from hive_udf_spark.operators.similarity import topk_dot_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    plan = plan_of(topk_dot_quantized(emb, queries, k=5))
    assert "WindowGroupLimit" in plan and "Partial" in plan and "Final" in plan


def test_incremental_probe_shuffles_band_keys_only(spark, sf_dir):
    """probe_minhash_index: the candidate join's SHUFFLE exchanges must
    carry (id, band, bkey) rows only — token arrays and signatures may
    never ride a hash-partitioned exchange. A BroadcastExchange of the
    small batch side MAY carry its tokens: broadcast is size-gated
    (spark.sql.autoBroadcastJoinThreshold), so at scale Spark falls back
    to the shuffle plan this test pins, and at small batch sizes shipping
    the payload once per executor is the correct plan."""
    from hive_udf_spark.operators.dedup import build_minhash_index, probe_minhash_index

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = build_minhash_index(corpus, "doc_id", "text", 16, hashed_tokens=True)
    out = probe_minhash_index(
        index, batch, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8,
        hashed_tokens=True,
    )
    plan = plan_of(out)
    # formatted explain lists each Exchange's child output columns in the
    # operator details; token/sig payloads must not be among them for
    # shuffle (hashpartitioning) exchanges. Broadcast exchanges are exempt
    # (see docstring).
    shuffle_sections = [
        s
        for s in plan.split("\n\n")
        if s.strip().startswith("(")
        and "Exchange" in s.splitlines()[0]
        and "Broadcast" not in s.splitlines()[0]
        and "hashpartitioning" in s
    ]
    assert shuffle_sections, "expected at least one shuffle exchange in the probe plan"
    for section in shuffle_sections:
        assert "tokens" not in section and "__ta" not in section and "__tb" not in section, section


def test_multimodal_decode_is_map_side(spark, sf_dir):
    """Every multimodal decode/extract op must be pure map work — no
    Exchange anywhere: at 100 TB blobs never cross a shuffle; only the
    tiny feature rows do (and only if a later op groups them)."""
    from hive_udf_spark.operators.audiocodec import encode_wav_pcm
    from hive_udf_spark.operators.multimodal import (
        attach_blob_columns,
        decode_audio_features,
        decode_image_features,
        sample_container_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    blobs = attach_blob_columns(docs)
    import numpy as np

    hdr = encode_wav_pcm(np.zeros(4, dtype=np.int32), bits=8)
    wavs = docs.select(
        "doc_id",
        F.concat(F.lit(hdr[:-4]), F.encode(F.substring("text", 1, 4), "UTF-8")).alias("blob"),
    )
    for df in (
        decode_image_features(blobs, fake=True),
        sample_container_frames(blobs.select("doc_id", "blob"), every_nth=2, fake=True),
        decode_audio_features(wavs),
    ):
        plan = plan_of(df)
        assert "Exchange" not in plan, plan.splitlines()[:15]


def test_incremental_probe_no_broadcast_regime(spark, sf_dir):
    """The probe's shuffle-only plan (batch too big to broadcast — here
    forced via autoBroadcastJoinThreshold=-1): the verify joins become
    sort-merge/shuffled-hash joins where token arrays cross an exchange
    exactly ONCE PER SIDE, keyed by the single doc id (volume O(corpus),
    not O(candidates)); the candidate-generation exchange still carries
    band keys only."""
    from hive_udf_spark.operators.dedup import build_minhash_index, probe_minhash_index

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = load_table(spark, sf_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 2 != 0)
        batch = docs.filter(F.col("doc_id") % 2 == 0)
        index = build_minhash_index(corpus, "doc_id", "text", 16, hashed_tokens=True)
        out = probe_minhash_index(
            index, batch, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8,
            hashed_tokens=True,
        )
        plan = plan_of(out)
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        for section in plan.split("\n\n"):
            lines = section.splitlines()
            if not (lines and lines[0].strip().startswith("(") and "Exchange" in lines[0]):
                continue
            if "__ta" in section or "__tb" in section or "tokens" in section:
                # a token-carrying exchange must be keyed by a doc id
                # (the once-per-side attach join), never by band keys
                assert "hashpartitioning(batch_id" in section or "hashpartitioning(corpus_id" in section, section
            if "__bkey" in section and "hashpartitioning(__band" in section:
                assert "tokens" not in section and "__ta" not in section and "__tb" not in section, section
        # rows still come out correct in this regime
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_approx_distinct_table_routes_lc_by_size(spark, sf_dir):
    """r5 verdict item 5: the grouped LC facade auto-routes by map size.
    At the reference's 1 MB default the plan is lc_table's sparse
    packed-word path (partial bit_or before the exchange, no dense
    per-group bitmap aggregate); below 64 KiB it stays on the native
    bitmap_construct_agg Column aggregate."""
    from hive_udf_spark.functions.sketch import approx_distinct_table

    orders = load_table(spark, sf_dir, "orders")
    big = plan_of(approx_distinct_table(orders, ["o_orderpriority"], "o_custkey", kind="lc"))
    assert "partial_bit_or" in big
    assert "bitmap_construct_agg" not in big
    assert "BatchEvalPython" not in big and "ArrowEvalPython" not in big
    small = plan_of(
        approx_distinct_table(
            orders, ["o_orderpriority"], "o_custkey", kind="lc", b=4096
        )
    )
    assert "bitmap_construct_agg" in small
    hll = plan_of(approx_distinct_table(orders, ["o_orderpriority"], "o_custkey"))
    assert "hll_sketch_agg" in hll


def test_equi_depth_histogram_no_unpartitioned_window(spark, sf_dir):
    """r7 verdict: the histogram cumsum ran in a single-partition window
    — on a near-continuous column (o_totalprice cents: distinct ≈ rows)
    that is a one-node sort of the whole column at scale.  The rewrite
    shards by value range and splices per-shard cumsums via broadcast
    base offsets, so EVERY Window node in the plan must carry a
    partition spec (formatted explain renders partitioned windows with
    three bracketed argument lists, unpartitioned with two)."""
    import re

    plan = plan_of(QUERIES["profile_histogram_totalprice"].fn(spark, sf_dir))
    blocks = re.findall(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan)
    assert blocks, "expected at least one Window node in the histogram plan"
    for args in blocks:
        assert re.search(r"\], \[[^\[\]]+\], \[[^\[\]]+\]$", args), (
            f"unpartitioned Window in equi_depth_histogram plan: {args}"
        )
    # and the partition key is the value-range shard, not something else
    assert "__shard" in plan


def test_mojibake_fold_chain_is_pure_jvm(spark, sf_dir):
    """r8: the three corruption generators + the 244-step repair fold
    (aggregate HOF over a literal pair array) must stay engine-side —
    no Python anywhere in the plan."""
    plan = plan_of(QUERIES["text_mojibake_repair"].fn(spark, sf_dir))
    assert "Python" not in plan and "BatchEval" not in plan
    assert "ArrowEval" not in plan


def test_c4_line_filter_is_shuffle_free_projection(spark, sf_dir):
    """C4 line cleaning is a pure per-row projection (split -> filter
    lambda -> rejoin): no Exchange, no Python — at 100 TB it runs at
    scan speed like the Gopher filter."""
    plan = plan_of(QUERIES["text_c4_line_filter"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_boilerplate_removal_broadcasts_bp_set(spark, sf_dir):
    """CCNet boilerplate removal: the above-threshold line set is tiny
    by construction (doc-frequency > 10% caps its size), so the removal
    join against the corpus-sized line relation must be a BROADCAST
    join, never a shuffle join on the corpus side."""
    plan = plan_of(QUERIES["text_boilerplate_line_removal"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_correlation_matrix_single_pass(spark, sf_dir):
    """All 6 correlation pairs must come from ONE aggregate over ONE
    scan: exactly one lineitem scan in the plan, partial+final
    HashAggregate (co-moments are partial-aggregable)."""
    plan = plan_of(QUERIES["profile_correlation_matrix"].fn(spark, sf_dir))
    # explain("formatted") prints each node in the tree AND the detail
    # section — one scan appears exactly twice.
    assert plan.count("Scan parquet") == 2, "must be a single scan, not a union"
    assert plan.count("HashAggregate") >= 2, "partial+final co-moment phases"
    assert "Union" not in plan
    assert "EvalPython" not in plan


def test_token_entropy_is_shuffle_free(spark, sf_dir):
    """Entropy folds over the sorted token array per row — no Exchange,
    no Python: a scan-speed projection like the Gopher filter."""
    plan = plan_of(QUERIES["text_token_entropy"].fn(spark, sf_dir))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_winsorize_exact_quantiles_no_unpartitioned_window(spark, sf_dir):
    """Winsorize must take its p01/p99 from the distributed
    exact_quantiles path (ranked_distinct prefix-sum splice), never from
    Spark's built-in exact percentile (single-node counts-map merge):
    every Window node partitioned, no `percentile(` aggregate."""
    import re

    plan = plan_of(QUERIES["profile_winsorize_totalprice"].fn(spark, sf_dir))
    blocks = re.findall(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan)
    for args in blocks:
        assert re.search(r"\], \[[^\[\]]+\], \[[^\[\]]+\]$", args), (
            f"unpartitioned Window in winsorize plan: {args}"
        )
    assert "percentile(o_totalprice" not in plan
    assert "__shard" in plan


def test_centroid_outliers_native_bottom_k(spark, sf_dir):
    """The per-label bottom-K must lower to native WindowGroupLimit
    (partial per-partition top-k before the exchange), with zero Python
    stages — the corpus never sorts globally."""
    plan = plan_of(QUERIES["similarity_centroid_outliers"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "EvalPython" not in plan


def test_percent_rank_no_unpartitioned_window(spark, sf_dir):
    """Global percent_rank must come from ranked_distinct + a value
    equi-join — the naive ORDER BY window is a one-node corpus sort."""
    import re

    plan = plan_of(QUERIES["profile_percent_rank_totalprice"].fn(spark, sf_dir))
    blocks = re.findall(r"\(\d+\) Window\n(?:.*\n)*?Arguments: (.*)", plan)
    for args in blocks:
        assert re.search(r"\], \[[^\[\]]+\], \[[^\[\]]+\]$", args), (
            f"unpartitioned Window in percent_rank plan: {args}"
        )
    assert "__shard" in plan


def test_srt_parse_is_pure_codegen(spark, sf_dir):
    """SRT parsing must be column expressions end to end: no Python, no
    shuffle beyond the generate/explode stage."""
    plan = plan_of(QUERIES["multimodal_srt_parse"].fn(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_vtt_parse_is_pure_codegen(spark, sf_dir):
    """WebVTT parsing (r9) holds SRT's contract: column expressions end
    to end — no Python stage, no shuffle."""
    plan = plan_of(QUERIES["multimodal_vtt_parse"].fn(spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_r9_codec_queries_are_map_side(spark, sf_dir):
    """Decode queries that stay strictly zero-Exchange even at fixture
    scale: the WDS grouping (whose zero-shuffle contiguity design IS
    the point — a groupBy would move every payload byte) and the
    sub-second extracts where a scatter costs more than it buys.  The
    heavier codec queries moved to the scatter-once pattern below."""
    for name in [
        "multimodal_webdataset_group",
        "multimodal_png_metadata_extract",
    ]:
        plan = plan_of(QUERIES[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles"


def test_udf_heavy_codec_queries_scatter_small_inputs_only(spark, sf_dir):
    """The Python-heavy codec/probe queries (zstd roundtrip, zstd WARC,
    Ogg/ID3/WebM probes, the fixture-blob decodes, frame samples and
    audio features) use ensure_min_parallelism: at fixture scale
    (one parquet split) exactly ONE round-robin Exchange of the cheap
    PRE-BLOB text rows restores full parallelism for the CPU-bound UDF
    stage; at corpus scale (splits >= cores) the helper is a no-op and
    the plan is shuffle-free.  Assert the scatter is present, singular,
    round-robin, and sits BEFORE blob construction (the Exchange must
    not carry a blob column)."""
    for name in [
        "multimodal_zstd_roundtrip",
        "text_warc_zstd_content_encoding",
        "multimodal_ogg_probe",
        "multimodal_id3_probe",
        "multimodal_webm_probe",
        "multimodal_heif_probe",
        "multimodal_webp_decode",
        "multimodal_jpeg_decode",
        "multimodal_progressive_jpeg_decode",
        "multimodal_exif_extract",
        "multimodal_exif_strip",
        "multimodal_pdf_type0_extract",
        "multimodal_pdf_xrefstream_extract",
        "multimodal_flac_audio_features",
        "multimodal_tar_extract",
        "text_warc_content_encoding",
        # r10 native-dispatch / crypto tiers join the same contract
        "multimodal_webp_lossy_decode",
        "multimodal_avif_decode",
        "text_warc_br_content_encoding",
        # r11: HEVC/HEIC native-dispatch tier
        "multimodal_heic_decode",
        # r11: the AES-256 KDF stratum made the scatter load-bearing
        "multimodal_pdf_encrypted_extract",
        # the other fixture-blob queries whose payload comes from
        # text_queries._ascii_payload and that shuffle nothing else
        "multimodal_real_decode",
        "multimodal_png_decode",
        "multimodal_png_interlaced_decode",
        "multimodal_gif_decode",
        "multimodal_tiff_decode",
        "multimodal_tiff_lzw_decode",
        "multimodal_tiff_tiled_decode",
        "multimodal_tiff16_decode",
        "multimodal_decode_quarantine",
        "multimodal_color_features",
        "multimodal_heic_exif_extract",
        "multimodal_frame_sample",
        "multimodal_gif_frame_sample",
        "multimodal_webp_anim_frame_sample",
        "multimodal_avi_frame_sample",
        "multimodal_mjpeg_frame_sample",
        "multimodal_mp4_frame_sample",
        "multimodal_fmp4_frame_sample",
        "multimodal_mp4_av1_frame_sample",
        "multimodal_mp4_hevc_frame_sample",
        "multimodal_mp4_avc_frame_sample",
        "multimodal_webm_av1_frame_sample",
        "multimodal_webm_hevc_frame_sample",
        "multimodal_webm_subtitles",
        "multimodal_mp4_subtitles",
        "multimodal_audio_features",
        "multimodal_pcm24_audio_features",
        "multimodal_ulaw_audio_features",
        "multimodal_au_audio_features",
        "multimodal_aiff_audio_features",
        "multimodal_adpcm_audio_features",
        "multimodal_mp1_audio_features",
        "multimodal_mp3_audio_features",
    ]:
        plan = plan_of(QUERIES[name].fn(spark, sf_dir))
        # formatted plans print each node twice (tree + details)
        assert plan.count("Exchange (") == 1, f"{name}: want exactly 1 Exchange"
        assert "RoundRobinPartitioning" in plan, f"{name}: not a scatter"
        assert "hashpartitioning" not in plan, f"{name}: unexpected hash shuffle"
        block = plan[plan.index(") Exchange") :]
        detail = block.split("\n\n")[0]  # just the Exchange node's detail
        assert "blob" not in detail, f"{name}: Exchange carries blobs"


def test_row_shard_sources_single_fixture_shuffle(spark, sf_dir):
    """The r10 shard sources (Avro OCF, Arrow IPC, SQLite) follow the
    compressed-shards plan shape: the ONLY Exchange is the fixture-side
    shard-build groupBy; the production direction (blob decode → rows)
    is pure map work — at corpus scale the fixture build is replaced by
    a file scan and the whole path is shuffle-free."""
    for name in (
        "source_avro_roundtrip",
        "source_arrow_ipc_roundtrip",
        "source_sqlite_roundtrip",
        "source_msgpack_roundtrip",
        "source_cbor_roundtrip",
    ):
        plan = plan_of(QUERIES[name].fn(spark, sf_dir))
        assert plan.count("Exchange") <= 2, name  # hash exch (+ AQE read)
        assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan, name
    # the quarantine audit adds ONE more exchange — the per-shard
    # aggregation over decoded ROWS (never blobs); fixture build + audit
    # agg are the only two
    plan = plan_of(
        QUERIES["source_compressed_shards_quarantine"].fn(spark, sf_dir)
    )
    assert plan.count("Exchange") <= 4, "quarantine audit grew a third shuffle"


def test_compressed_shards_scan_single_fixture_shuffle(spark, sf_dir):
    """source_compressed_shards_scan (r9): exactly ONE Exchange — the
    fixture-side shard-build groupBy.  The production direction (decode
    → line split → JSON parse) must all be map work; a second shuffle
    would mean the scan path moves shard bytes around."""
    plan = plan_of(QUERIES["source_compressed_shards_scan"].fn(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # hash exchange (+ possible AQE read)
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan


def test_mor_delete_merge_adds_no_extra_shuffle(spark, tmp_path):
    """r13: delete-block tombstones ride the EXISTING newest-wins merge
    (same plan shape as plain MOR), the merged log relation is computed
    ONCE (cached — it feeds both the anti-join and the union), and
    nothing goes cartesian."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_udf_spark.sources.hudi import read_hudi, write_hudi_table

    def build(with_deletes: bool) -> str:
        table = str(tmp_path / ("d" if with_deletes else "p"))
        src = str(tmp_path / f"src_{with_deletes}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "lang": pa.array(["en", "de", "fr"], pa.string()),
            "n": pa.array([10, 20, 30], pa.int64()),
        }), src)
        commits = [
            {"writes": {"fg-a": src}},
            {"log_writes": {"fg-a": [{"doc_id": 2, "lang": "de",
                                      "n": 21}]}},
        ]
        if with_deletes:
            commits.append({"log_deletes": {"fg-a": ["3"]}})
        write_hudi_table(table, commits,
                         [("doc_id", "bigint"), ("lang", "string"),
                          ("n", "bigint")], record_key="doc_id")
        return plan_of(read_hudi(spark, table))

    plain, with_del = build(False), build(True)
    for plan in (plain, with_del):
        assert "CartesianProduct" not in plan
        # the merged log relation is MATERIALIZED ONCE (r13 plan
        # audit): the decode ran at localCheckpoint time, so the read
        # plan scans the checkpointed RDD and contains NO Python decode
        # — without it the distributed log decode ran twice (anti-join
        # side + union side)
        assert "Scan ExistingRDD" in plan
        assert "MapInPandas" not in plan


def test_iceberg_field_id_scan_is_plain_scan(spark, tmp_path):
    """r13: field-id resolution happens INSIDE the parquet reader — the
    plan is a bare columnar scan: no joins, no exchanges, no Python."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_udf_spark.sources.iceberg import (
        read_iceberg,
        write_iceberg_table,
    )

    table = str(tmp_path / "t")
    import os

    os.makedirs(os.path.join(table, "data"), exist_ok=True)
    t = pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "old_name": pa.array(["x", "y"], pa.string()),
    })
    t = t.cast(pa.schema([
        pa.field("doc_id", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("old_name", pa.string(),
                 metadata={b"PARQUET:field_id": b"2"}),
    ]))
    pq.write_table(t, os.path.join(table, "data/a.parquet"))
    write_iceberg_table(table, [{"added": ["data/a.parquet"]}], [
        {"id": 1, "name": "doc_id", "required": False, "type": "long"},
        {"id": 2, "name": "lang", "required": False, "type": "string"},
    ])
    plan = plan_of(read_iceberg(spark, table))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan  # no Batch/ArrowEvalPython
    assert "Scan parquet" in plan


_PLAN_WRAPPERS = ("InputAdapter", "WholeStageCodegen")


def _final_plan(df, keep_reads: bool = False) -> tuple:
    """The AQE-final physical plan of ``df`` (run it first) as nested
    ``(node name, node string, children)``, read from the JVM plan with
    query stages, reused exchanges, codegen wrappers and, unless
    ``keep_reads``, shuffle reads looked through."""
    wrappers = _PLAN_WRAPPERS if keep_reads else _PLAN_WRAPPERS + ("AQEShuffleRead",)

    def walk(node) -> tuple:
        while True:
            name = node.nodeName()
            if name.endswith("QueryStage"):
                node = node.plan()
            elif name == "ReusedExchange":
                node = node.child()
            elif name.startswith(wrappers):
                node = node.children().apply(0)
            else:
                break
        kids = node.children()
        return name, node.simpleString(25), [walk(kids.apply(i)) for i in range(kids.size())]

    return walk(df._jdf.queryExecution().executedPlan().executedPlan())


def _nodes(tree, above=()):
    """``(name, string, children, ancestor strings)`` per plan node."""
    name, text, kids = tree
    yield name, text, kids, above
    for k in kids:
        yield from _nodes(k, above + (text,))


def _is_rr_exchange(text: str) -> bool:
    return text.startswith("Exchange RoundRobinPartitioning")


def _candidate_aggregates(df, keys: tuple[str, str]) -> list[tuple[str, str, tuple]]:
    """``(child name, child string, ancestor strings)`` of each
    ``HashAggregate`` that deduplicates the ``keys`` pair stream, read
    from the AQE-final plan of ``df`` with its shuffle reads kept as
    nodes (a coalesced read is ``AQEShuffleRead coalesced``)."""
    head = "HashAggregate(keys=[{}#".format(keys[0])
    return [
        (kids[0][0], kids[0][1], above)
        for _, text, kids, above in _nodes(_final_plan(df, keep_reads=True))
        if text.startswith(head) and ", {}#".format(keys[1]) in text and "functions=[]" in text
    ]


def test_ivf_cell_assigned_once_above_the_scatter(spark, sf_dir_med):
    """ann_ivf's K·dim cell fold runs once, in the corpus-side Project
    above ensure_min_parallelism's round-robin scatter. A nullable cell
    key would make Catalyst infer an isnotnull filter on it and push that
    filter, fold and all, into the single-task scan stage below the
    scatter, where the fold ran a second time."""
    from hive_udf_spark.operators.similarity import ann_ivf, kmeans_centroids

    emb = load_table(spark, sf_dir_med, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = ann_ivf(emb, queries, k=5, centroids=kmeans_centroids(emb, n_centroids=8))
    assert out.collect()
    fold = [(name, above) for name, text, _, above in _nodes(_final_plan(out)) if "aggregate(zip_with(transform(" in text]
    assert [name for name, _ in fold] == ["Project"]
    assert not any(_is_rr_exchange(a) for _, above in fold for a in above)


def test_candidate_pairs_full_width_before_attach(spark, sf_dir_med):
    """The deduplicated candidate stream is byte-tiny, so AQE would
    coalesce a plain ``distinct()``'s exchange into one partition and run
    the per-candidate cosine re-rank or array_intersect verify in one
    task. ``util.distinct_pairs`` makes the dedup's only exchange a
    ``REPARTITION_BY_NUM`` hash exchange on the pair, which AQE does not
    coalesce, so no round-robin scatter follows it; that holds with
    broadcast joins on and off."""
    from hive_udf_spark.operators.dedup import build_minhash_index, near_dup_pairs, probe_minhash_index
    from hive_udf_spark.operators.similarity import ann_hyperplane_lsh

    emb = load_table(spark, sf_dir_med, "embeddings")
    docs = load_table(spark, sf_dir_med, "documents")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for threshold in (old, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            index = build_minhash_index(
                docs.filter(F.col("doc_id") % 2 != 0), "doc_id", "text", 16, hashed_tokens=True
            )
            for name, keys, out in [
                ("ann_hyperplane_lsh", ("query_id", "neighbor_id"),
                 ann_hyperplane_lsh(emb, emb.filter(F.col("vec_id") % 50 == 0), k=5)),
                ("near_dup_pairs", ("id_a", "id_b"), near_dup_pairs(docs, "doc_id", "text")),
                ("probe_minhash_index", ("batch_id", "corpus_id"), probe_minhash_index(
                    index, docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text", hashed_tokens=True
                )),
            ]:
                case = (name, threshold)
                assert out.collect(), case
                aggs = _candidate_aggregates(out, keys)
                # the final aggregate reads the partial one, which reads the exchange
                inputs = [(kid, text) for kid, text, _ in aggs if kid != "HashAggregate"]
                assert len(inputs) == 1, (case, inputs)
                kid, text = inputs[0]
                assert kid == "Exchange" and text.startswith("Exchange hashpartitioning("), (case, text)
                assert "REPARTITION_BY_NUM" in text, (case, text)
                assert not any(_is_rr_exchange(a) for _, _, above in aggs for a in above), case
                if threshold == "-1":
                    names = {n for n, *_ in _nodes(_final_plan(out))}
                    assert names & {"SortMergeJoin", "ShuffledHashJoin"}, case
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_verify_stages_keep_whole_stage_codegen(spark, sf_dir_med):
    """With codegen fallback off, a stage whose generated code does not
    compile fails the query instead of silently running without
    whole-stage codegen. The embedding_near_pairs_lsh verify stage
    outgrew the JVM's 64 KB method limit when its unrolled per-pair dot
    was generated once per filter reference."""
    from hive_udf_spark.operators.dedup import dedup_clusters, near_dup_pairs
    from hive_udf_spark.operators.similarity import (
        ann_hyperplane_lsh,
        ann_ivf,
        embedding_near_pairs_lsh,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir_med, "embeddings")
    docs = load_table(spark, sf_dir_med, "documents")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    C = kmeans_centroids(emb, n_centroids=8)
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name, build in [
            ("embedding_near_pairs_lsh", lambda: embedding_near_pairs_lsh(emb)),
            ("ann_ivf", lambda: ann_ivf(emb, queries, k=5, centroids=C)),
            ("ann_hyperplane_lsh", lambda: ann_hyperplane_lsh(emb, queries, k=5)),
            ("near_dup_pairs", lambda: near_dup_pairs(docs, "doc_id", "text")),
            ("dedup_clusters", lambda: dedup_clusters(docs, "doc_id", "text")),
        ]:
            assert build().collect(), name
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_verify_computes_intersection_once(spark, sf_dir_med):
    """The set-similarity verify's array_intersect, its whole per-pair
    cost, appears once in the AQE-final plan. A threshold filter on
    projected intersect and union sizes is inlined into the second attach
    join's condition, one copy per size, next to the output Project's two
    (four in all); inter_size is therefore produced by a one-element
    explode."""
    from hive_udf_spark.operators.dedup import near_dup_pairs

    out = near_dup_pairs(load_table(spark, sf_dir_med, "documents"), "doc_id", "text")
    assert out.collect()
    texts = [text for _, text, _, _ in _nodes(_final_plan(out))]
    assert sum(t.count("array_intersect(") for t in texts) == 1


def _classes_compiled(spark) -> int:
    """Generated classes the JVM has compiled so far (janino compiles
    counted by Spark's codegen metrics; a hit in the generated-class
    cache compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_call_compiles_no_classes(spark, sf_dir):
    """A repeated call of a corpus read operator reuses every generated
    class of the first call. One round of these four operators generates
    more classes than Spark's default 100-entry cache holds, so without
    the session's larger cache each second call recompiles its classes."""
    from hive_udf_spark.operators.dedup import dedup_clusters, near_dup_pairs
    from hive_udf_spark.operators.similarity import ann_hyperplane_lsh, ann_ivf, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    C = kmeans_centroids(emb, n_centroids=8)
    calls = {
        "near_dup_pairs": lambda: near_dup_pairs(docs, "doc_id", "text"),
        "dedup_clusters": lambda: dedup_clusters(docs, "doc_id", "text"),
        "ann_ivf": lambda: ann_ivf(emb, queries, k=5, centroids=C),
        "ann_hyperplane_lsh": lambda: ann_hyperplane_lsh(emb, queries, k=5),
    }
    first = {}
    for name, build in calls.items():
        first[name] = build().collect()
        assert first[name], name
    compiled = {}
    for name, build in calls.items():
        before = _classes_compiled(spark)
        assert sorted(build().collect()) == sorted(first[name]), name
        compiled[name] = _classes_compiled(spark) - before
    assert compiled == {name: 0 for name in calls}
