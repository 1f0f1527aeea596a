"""Dedup operator property tests (beyond the oracle gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_udf_spark.functions.text import word_set
from hive_udf_spark.operators.dedup import (
    exact_dedup,
    near_dup_pairs,
    simhash_block_pairs,
    simhash_near_pairs,
)
from hive_udf_spark.sources import load_table


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "doc_id long, text string"
    )
    out = exact_dedup(df, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]


def test_lsh_finds_all_exact_duplicate_pairs(spark, sf_dir):
    """Identical texts have identical signatures → every band collides →
    guaranteed candidates regardless of banding. Recall on exact dups is 1."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    dupes = docs.withColumn("doc_id", F.col("doc_id") + F.lit(10_000))
    aug = docs.unionByName(dupes)
    pairs = near_dup_pairs(aug, "doc_id", "text", threshold=0.99, num_hashes=16, bands=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    want = {(r.doc_id, r.doc_id + 10_000) for r in docs.select("doc_id").collect()}
    assert want <= got  # all exact-dup pairs found (plus any true near-dups)


def test_simhash_block_pairs_equals_brute_force(spark, sf_dir):
    """Pigeonhole blocking is exact for distance ≤ max_hamming: block-join
    candidates must yield the same final pair set as the all-pairs pass."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=14, portable=False).collect()
    }
    blocked = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_block_pairs(docs, "doc_id", "text", max_hamming=14, portable=False).collect()
    }
    assert blocked == brute
    assert len(brute) > 0  # corpus has near pairs at this radius


def test_near_dup_threshold_monotone(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    lo = near_dup_pairs(docs, "doc_id", "text", threshold=0.3).count()
    hi = near_dup_pairs(docs, "doc_id", "text", threshold=0.7).count()
    assert hi <= lo


def test_word_set_distinct_and_no_empties(spark):
    df = spark.createDataFrame([("a  b a   c ",)], "text string")
    ws = df.select(word_set("text").alias("w")).collect()[0].w
    assert sorted(ws) == ["a", "b", "c"]


def test_minhash_ngram_shingles_order_sensitive(spark):
    """shingle_n=2: word-bigram shingles match only when word ORDER is
    shared — a reordering of the same words falls below threshold while
    the word-set mode still pairs them."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # same order, 1 word off
        (3, "dog lazy the over jumps fox brown quick the"),  # same words, reordered
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ngram_pairs = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8, shingle_n=2
        ).collect()
    }
    assert (1, 2) in ngram_pairs          # shared prefix bigrams
    assert (1, 3) not in ngram_pairs      # reordered -> no shared bigrams
    word_pairs = {
        (r.id_a, r.id_b)
        for r in near_dup_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8
        ).collect()
    }
    assert (1, 3) in word_pairs           # word-set mode ignores order


def test_minhash_signature_matches_per_seed_hashes(spark, sf_dir):
    """The parsed MinHash signature equals the per-seed array_min of
    ``functions.hashing``'s token hash, for a column name and for a plain
    column reference, fast and portable; the agreement count equals the
    number of equal components. A computed Column is refused."""
    from hive_udf_spark.functions.hashing import fast_hash64, portable_hash60
    from hive_udf_spark.operators.dedup import _sig_agreement_unrolled, minhash_signature

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    tokens = docs.select("doc_id", word_set("text").alias("__ws"))
    for portable, h in ((False, fast_hash64), (True, portable_hash60)):

        def seed_min(seed):
            return F.array_min(F.transform("__ws", lambda t: h(t, seed)))

        want = F.array(*[seed_min(seed) for seed in range(8)])
        rows = tokens.select(
            "doc_id",
            want.alias("want"),
            minhash_signature("__ws", 8, portable).alias("by_name"),
            minhash_signature(F.col("__ws"), 8, portable).alias("by_column"),
        ).collect()
        assert rows
        assert all(r.want == r.by_name == r.by_column for r in rows), portable
    pairs = spark.createDataFrame(
        [([1, 2, 3, 4], [1, 0, 3, 0]), ([5, 6, 7, 8], [5, 6, 7, 8]), ([1, 1, 1, 1], [2, 2, 2, 2])],
        "a array<bigint>, b array<bigint>",
    )
    got = [r.n for r in pairs.select(_sig_agreement_unrolled("a", "b", 4).alias("n")).collect()]
    assert got == [2, 4, 0]
    with pytest.raises(Exception, match="VALUE_NOT_PLAIN_COLUMN_REFERENCE"):
        minhash_signature(word_set("text"), 8)


def test_ngrams_short_and_empty_docs_do_not_crash(spark):
    """Regression: token arrays shorter than n must yield an EMPTY n-gram
    array — the unguarded sequence(1, 0) materialized descending [1, 0]
    and slice(tokens, 0, n) raised INVALID_PARAMETER_VALUE.START, aborting
    any shingled corpus run containing one short/empty doc."""
    from hive_udf_spark.functions.text import ngrams, tokenize

    rows = [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.g
        for r in docs.select("doc_id", ngrams(tokenize("text"), 3).alias("g")).collect()
    }
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["one two three", "two three four"]
    # end-to-end: the shingled near-dup pipeline survives short docs
    pairs = near_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8, shingle_n=3
    )
    assert pairs.count() == 0


def test_dedup_clusters_leave_no_cached_frames(spark, sf_dir):
    """The signature tables are scoped caches: after the clustering ops
    complete, the session's DataFrame cache manager must be empty (the
    round-1 implementation leaked one persisted frame per call)."""
    from hive_udf_spark.operators.dedup import dedup_clusters, dedup_clusters_star

    docs = load_table(spark, sf_dir, "documents").limit(100)
    dedup_clusters(docs, "doc_id", "text", threshold=0.7, mode="exact").collect()
    dedup_clusters_star(docs, "doc_id", "text", threshold=0.7).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_near_dup_pairs_caches_param_contract(spark, sf_dir):
    """caches=None never persists; caches=[] persists and hands the frames
    to the caller for release."""
    docs = load_table(spark, sf_dir, "documents").limit(50)
    near_dup_pairs(docs, "doc_id", "text", threshold=0.7).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    handles: list = []
    near_dup_pairs(docs, "doc_id", "text", threshold=0.7, caches=handles).count()
    assert len(handles) == 1
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    for h in handles:
        h.unpersist()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_incremental_probe_matches_self_join_cross_pairs(spark, sf_dir):
    """probe_minhash_index(batch vs corpus-index) must emit exactly the
    batch-corpus pairs of the full self-join pipeline (same bands, same
    verify) — the incremental path may not add or lose pairs."""
    from hive_udf_spark.operators.dedup import (
        build_minhash_index,
        near_dup_pairs,
        probe_minhash_index,
    )
    from hive_udf_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = build_minhash_index(corpus, "doc_id", "text", 16, portable=True)
    inc = probe_minhash_index(
        index, batch, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8, portable=True
    )
    got = {
        (r["batch_id"], r["corpus_id"], r["inter_size"], r["union_size"])
        for r in inc.collect()
    }
    full = near_dup_pairs(
        docs, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8, portable=True
    )
    want = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a % 10 == 0 and b % 10 != 0:
            want.add((a, b, r["inter_size"], r["union_size"]))
        elif b % 10 == 0 and a % 10 != 0:
            want.add((b, a, r["inter_size"], r["union_size"]))
    assert got == want
    assert got  # non-trivial on the near-dup-seeded corpus


# ---------------------------------------------------------------------------
# prefix-filter exact similarity join (r5)
# ---------------------------------------------------------------------------


def _exact_jaccard(docs):
    """Python brute force over every pair of non-empty word sets:
    ``{(id_a, id_b): (|A∩B|, |A∪B|)}`` with id_a < id_b."""
    sets = {
        r.doc_id: set(r.w)
        for r in docs.select("doc_id", word_set("text").alias("w")).collect()
        if r.w
    }
    ids = sorted(sets)
    return {
        (a, b): (len(sets[a] & sets[b]), len(sets[a] | sets[b]))
        for x, a in enumerate(ids)
        for b in ids[x + 1 :]
    }


def _passes(inter, union, t):
    return inter * 1_000_000 >= int(round(t * 1_000_000)) * union


def _pair_stats(rows):
    """``{(id_a, id_b): (inter_size, union_size)}`` of collected pair
    rows; fails when a pair is emitted more than once."""
    got = {(r.id_a, r.id_b): (r.inter_size, r.union_size) for r in rows}
    assert len(got) == len(rows), "duplicate pairs emitted"
    return got


_PREFIX_ROWS = [
    (1, "common alpha beta gamma delta"),
    (2, "common alpha beta gamma epsilon"),
    (3, "common zeta eta theta iota"),
    (4, "common zeta eta theta kappa"),
    (5, "totally different words here now"),
    (6, "common alpha beta gamma delta"),  # exact dup of 1
]


def test_prefix_filter_equals_bruteforce(spark):
    """Algorithmic completeness: exactly the brute-force pair set, with
    the exact intersection and union sizes, on a corpus engineered with
    shared rare and common tokens."""
    from hive_udf_spark.operators.dedup import prefix_filter_pairs

    docs = spark.createDataFrame(_PREFIX_ROWS, ["doc_id", "text"])
    exact = _exact_jaccard(docs)
    for t in (0.5, 0.6, 0.8, 1.0):
        got = _pair_stats(prefix_filter_pairs(docs, "doc_id", "text", threshold=t).collect())
        want = {k: v for k, v in exact.items() if _passes(*v, t)}
        assert got == want, t


@pytest.mark.parametrize("hashed_tokens", [False, True])
@pytest.mark.parametrize("sig_prefilter_margin", [None, 0.25])
def test_near_dup_pairs_exact_against_bruteforce(
    spark, sf_dir, hashed_tokens, sig_prefilter_margin
):
    """Every pair near_dup_pairs emits carries the exact Python
    (|A∩B|, |A∪B|) and passes the threshold, on the string and hashed
    token paths, with and without the signature prefilter. LSH may miss
    pairs, but the exact duplicates (every band collides) are found."""
    docs = spark.createDataFrame(_PREFIX_ROWS, ["doc_id", "text"]).unionByName(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select((F.col("doc_id") + 100).alias("doc_id"), "text")
    )
    exact = _exact_jaccard(docs)
    for t in (0.5, 0.8):
        got = _pair_stats(
            near_dup_pairs(
                docs,
                "doc_id",
                "text",
                threshold=t,
                hashed_tokens=hashed_tokens,
                sig_prefilter_margin=sig_prefilter_margin,
            ).collect()
        )
        assert (1, 6) in got
        for pair, stats in got.items():
            assert stats == exact[pair], (t, pair)
            assert _passes(*stats, t), (t, pair)



def test_threshold_rounds_to_ppm(spark):
    """The threshold is compared in whole ppm, rounded: 0.518519 * 10**6
    is 518518.99999999994 in floating point, so truncating would admit a
    pair of Jaccard 14/27 = 0.5185185... that lies below the threshold."""
    from hive_udf_spark.operators.dedup import prefix_filter_pairs

    shared = [f"s{i}" for i in range(14)]
    docs = spark.createDataFrame(
        [
            (1, " ".join(shared + [f"a{i}" for i in range(7)])),
            (2, " ".join(shared + [f"b{i}" for i in range(6)])),
        ],
        ["doc_id", "text"],
    )
    for pairs in (near_dup_pairs, prefix_filter_pairs):
        assert _pair_stats(pairs(docs, "doc_id", "text", threshold=0.518518).collect()) == {
            (1, 2): (14, 27)
        }, pairs.__name__
        assert pairs(docs, "doc_id", "text", threshold=0.518519).collect() == [], pairs.__name__

def test_prefix_filter_candidate_reduction(spark):
    """The prefix join must generate far fewer CANDIDATES (pre-verify
    pairs) than the all-token join would — measured on the candidate
    relation itself, not the verified output (which any correct verify
    stage would shrink regardless of how candidates were generated).
    Zipfian fixture: a handful of boilerplate tokens everyone shares,
    rare tokens identifying small groups."""
    from pyspark.sql import functions as F

    from hive_udf_spark.operators.dedup import (
        prefix_filter_candidates,
        word_set,
    )

    rows = []
    for i in range(200):
        # 5 boilerplate tokens + 2 rare tokens per doc (group of ~4 docs)
        rare = f"rare{i // 4} rarer{i // 2}"
        rows.append((i, f"the quick brown fox jumps {rare}"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ws = docs.select(
        F.col("doc_id").alias("__id"), word_set("text").alias("__w")
    ).filter(F.size("__w") > 0)
    # t=0.9 over 7-token docs: prefix length 1 = each doc's single
    # rarest token; boilerplate never becomes a join key
    n_prefix_cands = prefix_filter_candidates(ws, 0.9).count()
    all_token = ws.select("__id", F.explode("__w").alias("__t"))
    n_alltoken_cands = (
        all_token.alias("a")
        .join(
            all_token.alias("b"),
            (F.col("a.__t") == F.col("b.__t")) & (F.col("a.__id") < F.col("b.__id")),
        )
        .select("a.__id", "b.__id")
        .distinct()
        .count()
    )
    # boilerplate joins everyone with everyone: ~200*199/2 all-token
    # candidates; prefixes hold only the rare tokens
    assert n_alltoken_cands > 15_000
    assert n_prefix_cands < n_alltoken_cands / 20


def test_prefix_filter_validation(spark):
    import pytest as _pytest

    from hive_udf_spark.operators.dedup import prefix_filter_pairs

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        prefix_filter_pairs(docs, "doc_id", "text", threshold=0.0)


def test_prefix_filter_plan_shape(spark):
    """No Python, no cartesian product, and the dup-key freq aggregate
    partially combines map-side. The frequency aggregate is materialized
    inside an eager localCheckpoint (it feeds the hash-injectivity guard
    and the rank join), so its partial_count lives in the checkpoint's
    own plan, not the returned one — assert it on the operator's own
    frequency aggregate, built from the operator's own token sets."""
    from hive_udf_spark.operators.dedup import _token_freq, _token_sets, prefix_filter_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 11} common") for i in range(50)],
        ["doc_id", "text"],
    )
    plan = (
        prefix_filter_pairs(docs, "doc_id", "text", threshold=0.6)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    freq_plan = (
        _token_freq(_token_sets(docs, "doc_id", "text"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_count" in freq_plan


def test_prefix_filter_large_doc_no_overflow(spark):
    """n * t_ppm and n * 1e6 must be computed in 64-bit: a single
    3000-distinct-token doc overflowed int32 under ANSI mode."""
    from hive_udf_spark.operators.dedup import prefix_filter_pairs

    big = " ".join(f"tok{i}" for i in range(3000))
    docs = spark.createDataFrame(
        [(1, big), (2, big), (3, "unrelated words here")],
        ["doc_id", "text"],
    )
    got = prefix_filter_pairs(docs, "doc_id", "text", threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(1, 2)]


def test_shared_signature_pairs_basic(spark):
    """Pair multiplicity counts DISTINCT shared values; min_shared
    filters; ordering id_a < id_b."""
    from hive_udf_spark.operators.dedup import shared_signature_pairs

    rows = [
        (1, 10), (1, 11), (1, 12),
        (2, 10), (2, 11),          # shares {10, 11} with 1
        (3, 12),                   # shares {12} with 1 only
        (4, 99), (4, 99),          # duplicate (id, sig) rows collapse
        (5, 99),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in shared_signature_pairs(df, "doc_id", "sig", min_shared=1).collect()
    }
    assert got == {(1, 2): 2, (1, 3): 1, (4, 5): 1}
    got2 = {
        (r.id_a, r.id_b): r.n_shared
        for r in shared_signature_pairs(df, "doc_id", "sig", min_shared=2).collect()
    }
    assert got2 == {(1, 2): 2}


def test_shared_signature_pairs_hot_bucket_cap(spark):
    """max_sig_freq drops signatures shared by too many items BEFORE the
    join (the black-frame guard); remaining evidence still pairs."""
    from hive_udf_spark.operators.dedup import shared_signature_pairs

    rows = [(i, 7) for i in range(10)] + [(0, 1), (1, 1)]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in shared_signature_pairs(
            df, "doc_id", "sig", min_shared=1, max_sig_freq=5
        ).collect()
    }
    assert got == {(0, 1): 1}  # sig 7 (freq 10) capped out; sig 1 survives
    with pytest.raises(ValueError, match="max_sig_freq"):
        shared_signature_pairs(df, "doc_id", "sig", max_sig_freq=1)
    with pytest.raises(ValueError, match="min_shared"):
        shared_signature_pairs(df, "doc_id", "sig", min_shared=0)


def test_shared_signature_pairs_plan_shape(spark):
    """Candidate generation is an equi-join on the signature (shuffle or
    broadcast hash join — never a cartesian product) and the pair count
    partially aggregates before its exchange."""
    from hive_udf_spark.operators.dedup import shared_signature_pairs

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97).alias("sig")
    )
    plan = (
        shared_signature_pairs(df, "doc_id", "sig", min_shared=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_shared_signature_pairs_random_match_brute_force(spark):
    """Randomized (id, sig) relations with hot signatures: output with
    and without the frequency cap equals a brute-force reference."""
    import itertools
    import random

    from hive_udf_spark.operators.dedup import shared_signature_pairs

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        rows = [
            (rng.randrange(15), rng.randrange(8)) for _ in range(60)
        ]
        df = spark.createDataFrame(rows, "doc_id long, sig long")

        def brute(min_shared, cap):
            sigs = {}
            for i, s in set(rows):
                sigs.setdefault(s, set()).add(i)
            if cap is not None:
                sigs = {s: ids for s, ids in sigs.items() if len(ids) <= cap}
            pairs = {}
            for s, ids in sigs.items():
                for a, b in itertools.combinations(sorted(ids), 2):
                    pairs[(a, b)] = pairs.get((a, b), 0) + 1
            return {p: n for p, n in pairs.items() if n >= min_shared}

        for min_shared, cap in ((1, None), (2, None), (1, 3)):
            got = {
                (r.id_a, r.id_b): r.n_shared
                for r in shared_signature_pairs(
                    df, "doc_id", "sig", min_shared=min_shared, max_sig_freq=cap
                ).collect()
            }
            assert got == brute(min_shared, cap), (seed, min_shared, cap)


def test_containment_pairs_random_match_brute_force(spark):
    """Randomized corpora incl. planted subset docs: the prefix-probed
    join finds EXACTLY the brute-force ordered pair set, word-set and
    shingle modes, two thresholds."""
    import random

    from hive_udf_spark.operators.dedup import containment_pairs

    for seed in (0, 1):
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(40)]
        docs = []
        for i in range(25):
            n = rng.choice([3, 8, 20])
            docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        # plant subsets: doc 100+i = prefix of doc i's text
        for i in range(0, 25, 5):
            words = docs[i][1].split()
            docs.append((100 + i, " ".join(words[: max(3, len(words) * 3 // 4)])))
        ddf = spark.createDataFrame(docs, "doc_id long, text string")

        def brute(threshold, shingle_n):
            t_ppm = round(threshold * 1_000_000)
            units = {}
            for did, txt in docs:
                toks = txt.split()
                if shingle_n is None:
                    u = set(toks)
                else:
                    u = {
                        " ".join(toks[i : i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)
                    }
                if u:
                    units[did] = u
            out = {}
            for a, ua in units.items():
                for b, ub in units.items():
                    if a == b:
                        continue
                    inter = len(ua & ub)
                    if inter * 1_000_000 >= t_ppm * len(ua):
                        out[(a, b)] = (
                            inter,
                            len(ua),
                            len(ub),
                            inter * 1_000_000 // len(ua),
                        )
            return out

        for threshold, sn in ((0.8, None), (0.7, 3)):
            got = {
                (r.id_a, r.id_b): (r.inter_size, r.size_a, r.size_b, r.containment_ppm)
                for r in containment_pairs(
                    ddf, "doc_id", "text", threshold=threshold, shingle_n=sn
                ).collect()
            }
            assert got == brute(threshold, sn), (seed, threshold, sn)
            # planted subsets must be found as contained-in pairs
            if sn is None and threshold == 0.8:
                assert any(a >= 100 for (a, b) in got), seed
