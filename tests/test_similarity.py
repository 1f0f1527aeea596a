"""Similarity operators vs numpy ground truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hive_udf_spark.operators.similarity import (
    ann_hyperplane_lsh,
    topk_cosine,
    topk_dot_quantized,
)
from hive_udf_spark.sources import load_table


def _load_np(spark, sf_dir):
    rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.embedding for r in rows], dtype=np.float64)
    return ids, V


def test_topk_cosine_matches_numpy(spark, sf_dir):
    ids, V = _load_np(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = topk_cosine(emb, queries, k=3).collect()

    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    by_query: dict[int, list[int]] = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
    for qid, rows in by_query.items():
        qi = int(np.where(ids == qid)[0][0])
        sims = S[qi].copy()
        sims[qi] = -2
        want_top = set(np.argsort(-sims)[:3])
        got_ids = {int(np.where(ids == nid)[0][0]) for _, nid, _ in rows}
        assert got_ids == want_top
        for _, nid, cs in rows:
            ni = int(np.where(ids == nid)[0][0])
            assert abs(cs - S[qi, ni]) < 1e-9


def test_topk_dot_quantized_matches_numpy(spark, sf_dir):
    ids, V = _load_np(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = topk_dot_quantized(emb, queries, k=3).collect()
    Q = np.round(V * 1000).astype(np.int64)
    D = Q @ Q.T
    for r in got:
        qi = int(np.where(ids == r.query_id)[0][0])
        ni = int(np.where(ids == r.neighbor_id)[0][0])
        assert r.dot_q == D[qi, ni]


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    """LSH top-5 should recover a healthy fraction of true top-5 on random
    vectors with 16 bits / 4 bands (4-bit bands → ~1/16 collision floor)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    ann = ann_hyperplane_lsh(emb, queries, k=5, nbits=16, bands=4)
    brute = topk_cosine(emb, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.25, f"LSH recall {recall:.2f} too low"
    # every query produced candidates
    assert {q for q, _ in a} == {q for q, _ in b}


def test_ann_ivf_recall_vs_brute(spark, sf_dir):
    """IVF with nprobe=4 of 16 cells should recover most of the true top-5
    (embeddings carry 10-label cluster structure, so cells align well)."""
    from hive_udf_spark.operators.similarity import ann_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    ivf = ann_ivf(emb, queries, k=5, n_centroids=16, nprobe=4)
    brute = topk_cosine(emb, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"
    assert {q for q, _ in a} == {q for q, _ in b}


def test_ann_ivf_deterministic(spark, sf_dir):
    from hive_udf_spark.operators.similarity import ann_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    r1 = sorted(map(tuple, ann_ivf(emb, queries, k=3).select("query_id", "neighbor_id", "rank").collect()))
    r2 = sorted(map(tuple, ann_ivf(emb, queries, k=3).select("query_id", "neighbor_id", "rank").collect()))
    assert r1 == r2


def test_near_pairs_lsh_subset_of_exact_with_recall(spark):
    """LSH near-pairs = candidates ∩ exact-verify, so precision is exactly
    1.0 (output ⊆ brute-force pair set); recall at the loose 0.35
    threshold is bounded below (sign bits carry weak signal at θ≈70° —
    see operator docstring). sf0.01 corpus."""
    from hive_udf_spark.operators.dedup import (  # noqa: F401 (style parity)
        exact_dedup,
    )
    from hive_udf_spark.operators.similarity import (
        embedding_near_pairs,
        embedding_near_pairs_lsh,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {
        (r.id_a, r.id_b) for r in embedding_near_pairs(emb, min_cosine=0.35).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs_lsh(
            emb, min_cosine=0.35, nbits=32, bands=8
        ).collect()
    }
    assert lsh <= exact                      # exact verify → perfect precision
    assert len(lsh) / len(exact) >= 0.70     # measured 0.76 at (32, 8)


def test_near_pairs_lsh_high_threshold_planted_dups(spark):
    """The dedup regime LSH is built for: planted near-duplicates at
    cos≈0.95 are recovered with ≥0.9 recall while candidate generation
    prunes most of the pair space."""
    from hive_udf_spark.operators.similarity import (
        embedding_near_pairs,
        embedding_near_pairs_lsh,
    )

    rng = np.random.default_rng(7)
    n, dim = 300, 64
    X = rng.standard_normal((n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    # plant 30 near-dups: small perturbations of the first 30 vectors
    # per-dim noise 0.03 → noise norm ≈ 0.24 → cos ≈ 0.97 with the original
    planted = X[:30] + 0.03 * rng.standard_normal((30, dim))
    planted /= np.linalg.norm(planted, axis=1, keepdims=True)
    allv = np.vstack([X, planted]).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(allv)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {(r.id_a, r.id_b) for r in embedding_near_pairs(df, min_cosine=0.8).collect()}
    assert len(exact) >= 25  # the planted pairs are there
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_near_pairs_lsh(df, min_cosine=0.8, nbits=32, bands=8).collect()
    }
    assert lsh <= exact
    assert len(lsh & exact) / len(exact) >= 0.9


def test_near_pairs_lsh_rejects_wrong_dim(spark):
    """A vector whose length is not ``dim`` fails the query with a clear
    error instead of getting a cosine whose dot is truncated to ``dim``
    while its norms use the full length."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from hive_udf_spark.operators.similarity import embedding_near_pairs_lsh

    rows = [(1, [1.0] * 64), (2, [1.0] * 64), (3, [1.0] * 65)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # both band-join sides fail; when AQE materializes them together the
    # error arrives wrapped as a multiple-failures Py4JJavaError
    with pytest.raises((SparkRuntimeException, Py4JJavaError), match="must have dim=64 elements, got 65"):
        embedding_near_pairs_lsh(df, min_cosine=0.8, dim=64).collect()
    ok = embedding_near_pairs_lsh(df.filter("vec_id < 3"), min_cosine=0.8, dim=64)
    assert [(r.id_a, r.id_b) for r in ok.collect()] == [(1, 2)]


def test_ivf_and_semdedup_reject_wrong_dim(spark):
    """A vector whose length is not the centroids' dim fails the query on
    either side of ``ann_ivf`` and in ``semdedup``, instead of getting
    cell -1 (dropped from every probe) or a NULL cosine; NULL vectors
    still pass through."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from hive_udf_spark.operators.similarity import ann_ivf, semdedup

    C = np.eye(2, 64)
    schema = "vec_id long, embedding array<float>"
    ok = [(1, [1.0] * 64), (2, [1.0, 0.5] * 32), (3, None)]
    good = spark.createDataFrame(ok, schema)
    for n in (65, 63):
        bad = spark.createDataFrame(ok + [(4, [1.0] * n)], schema)
        for run in (
            lambda: ann_ivf(bad, good, k=2, nprobe=2, centroids=C),
            lambda: ann_ivf(good, bad, k=2, nprobe=2, centroids=C),
            lambda: semdedup(bad, min_cosine=0.9, centroids=C),
        ):
            # AQE may wrap the error as a multiple-failures Py4JJavaError
            with pytest.raises(
                (SparkRuntimeException, Py4JJavaError), match=f"must have dim=64 elements, got {n}"
            ):
                run().collect()
    got = ann_ivf(good, good, k=2, nprobe=2, centroids=C).collect()
    # the NULL query probes every cell and scores NULL; the NULL corpus
    # vector is in no cell
    assert {(r.query_id, r.neighbor_id) for r in got if r.cos_sim is not None} == {(1, 2), (2, 1)}
    assert len(semdedup(good, min_cosine=0.9, centroids=C).collect()) == 3


@pytest.mark.parametrize("nbits, bands", [(64, 4), (66, 6), (0, 4)])
def test_sign_band_operators_reject_nbits_outside_bigint(spark, sf_dir, nbits, bands):
    """The sign signature is a sum of 2**j terms in a signed BIGINT, so
    both LSH operators refuse nbits outside 1..62 before planning."""
    from hive_udf_spark.operators.similarity import embedding_near_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match=r"1\.\.62"):
        ann_hyperplane_lsh(emb, emb, nbits=nbits, bands=bands)
    with pytest.raises(ValueError, match=r"1\.\.62"):
        embedding_near_pairs_lsh(emb, nbits=nbits, bands=bands)


def test_ann_rerank_tail_matches_brute_force_exactly(spark, sf_dir_med):
    """Every cosine search ends in the same exact re-rank: with every IVF
    cell probed, or a PQ refine covering the corpus, the rows equal
    ``topk_cosine``'s bit for bit. LSH rows carry the numpy cosine and
    contiguous ranks in (cos desc, id asc) order."""
    from hive_udf_spark.operators.similarity import ann_ivf, ann_pq, kmeans_centroids

    emb = load_table(spark, sf_dir_med, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    n_rows = emb.count()

    def rows(df):
        return sorted(df.select("query_id", "rank", "neighbor_id", "cos_sim").collect())

    brute = rows(topk_cosine(emb, queries, k=5))
    assert len(brute) == 5 * queries.count()
    C = kmeans_centroids(emb, n_centroids=8)
    assert rows(ann_ivf(emb, queries, k=5, nprobe=8, centroids=C)) == brute
    assert rows(ann_pq(emb, queries, k=5, n_codes=16, refine=n_rows)) == brute

    ids, V = _load_np(spark, sf_dir_med)
    row_of = {int(i): r for r, i in enumerate(ids)}
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    by_query: dict[int, list] = {}
    for r in ann_hyperplane_lsh(emb, queries, k=5, nbits=16, bands=4).collect():
        want = float(Vn[row_of[r.query_id]] @ Vn[row_of[r.neighbor_id]])
        assert abs(r.cos_sim - want) < 1e-9
        by_query.setdefault(r.query_id, []).append((r.rank, -r.cos_sim, r.neighbor_id))
    assert by_query
    for got in by_query.values():
        got.sort()
        assert [rank for rank, _, _ in got] == list(range(1, len(got) + 1))
        assert [g[1:] for g in got] == sorted(g[1:] for g in got)


def test_embedding_dedup_clusters_no_cache_leak_and_valid_partition(spark):
    """Cluster output covers every vector exactly once, canonical = min
    id per cluster, and no cached frames survive the call."""
    from hive_udf_spark.operators.similarity import embedding_dedup_clusters

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    out = embedding_dedup_clusters(emb, min_cosine=0.35).collect()
    assert len(out) == emb.count()
    by_cluster: dict[int, list[int]] = {}
    for r in out:
        by_cluster.setdefault(r.cluster, []).append(r.vec_id)
    for cl, members in by_cluster.items():
        assert cl == min(members)
    canon = {r.vec_id for r in out if r.is_canonical}
    assert canon == set(by_cluster)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pq_recall_and_determinism(spark, sf_dir):
    from hive_udf_spark.operators.similarity import ann_pq, topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    pq = ann_pq(emb, queries, k=5, n_subspaces=8, n_codes=32, refine=50)
    got = {(r.query_id, r.neighbor_id) for r in pq.collect()}
    exact = {(r.query_id, r.neighbor_id) for r in topk_cosine(emb, queries, k=5).collect()}
    assert len(got & exact) / len(exact) >= 0.6  # ADC + re-rank recall floor
    again = {(r.query_id, r.neighbor_id) for r in
             ann_pq(emb, queries, k=5, n_subspaces=8, n_codes=32, refine=50).collect()}
    assert got == again  # seeded training + tie-broken ranks


def test_ann_pq_derives_geometry_from_books(spark, sf_dir):
    """Pre-trained books= with a geometry that disagrees with the
    n_subspaces/n_codes defaults must drive the ADC unroll from the
    books' own shape — a mismatched param previously indexed past the
    LUT and (non-ANSI) NULLed the scores silently."""
    from hive_udf_spark.operators.similarity import ann_pq, pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    books = pq_codebooks(emb, n_subspaces=4, n_codes=16)
    # defaults are n_subspaces=8, n_codes=256 — deliberately NOT passed
    rows = ann_pq(emb, queries, k=3, refine=20, books=books).collect()
    assert rows and all(r.cos_sim is not None for r in rows)
    explicit = ann_pq(
        emb, queries, k=3, refine=20, n_subspaces=4, n_codes=16, seed=42
    ).collect()
    assert {(r.query_id, r.neighbor_id) for r in rows} == {
        (r.query_id, r.neighbor_id) for r in explicit
    }


def test_ann_pq_precomputed_codes_match_inline_encode(spark, sf_dir):
    """pq_encode + ann_pq(codes=...) — the steady-state index lifecycle —
    returns exactly the inline-encode results, and codes= without books=
    is rejected (codes are meaningless without their codebooks)."""
    import pytest as _pytest

    from hive_udf_spark.operators.similarity import ann_pq, pq_codebooks, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    books = pq_codebooks(emb, n_subspaces=8, n_codes=16)
    codes = pq_encode(emb, books)
    assert codes.columns == ["vec_id", "pq_code"]
    got = ann_pq(emb, queries, k=3, refine=20, books=books, codes=codes).collect()
    inline = ann_pq(emb, queries, k=3, refine=20, books=books).collect()
    assert {(r.query_id, r.neighbor_id, r.rank) for r in got} == {
        (r.query_id, r.neighbor_id, r.rank) for r in inline
    }
    with _pytest.raises(ValueError, match="books"):
        ann_pq(emb, queries, codes=codes)


def test_pq_codebook_shapes_and_validation(spark, sf_dir):
    import numpy as np
    import pytest as _pytest

    from hive_udf_spark.operators.similarity import pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb, n_subspaces=8, n_codes=16)
    assert books.shape == (8, 16, 8)  # dim 64 -> 8 subspaces of 8
    assert np.isfinite(books).all()
    with _pytest.raises(ValueError):
        pq_codebooks(emb, n_subspaces=7)  # 64 % 7 != 0


def test_pq_adc_scan_is_jvm_side(spark, sf_dir):
    """The ENTIRE PQ plan is JVM-side (r4): encode and LUT compile to
    literal-codebook transform/aggregate expressions, so no Python worker
    spins up anywhere — not just the ADC scoring fold."""
    from hive_udf_spark.operators.similarity import ann_pq

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    out = ann_pq(emb, queries, k=5, n_subspaces=8, n_codes=16, refine=20)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "zip_with" in plan or "aggregate" in plan  # JVM ADC fold
    assert "CartesianProduct" not in plan


def test_ann_plans_have_no_python_stage(spark, sf_dir):
    """ann_lsh and ann_ivf likewise compile to pure-JVM plans (r4 —
    verdict item 8: the ~1.5-3.5 s per-session pandas-worker spin-up is
    structurally gone, not just amortized)."""
    from hive_udf_spark.operators.similarity import ann_hyperplane_lsh, ann_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    for df in (
        ann_hyperplane_lsh(emb, queries, k=5, nbits=16, bands=4),
        ann_ivf(emb, queries, k=5, n_centroids=8, nprobe=2),
    ):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_multiprobe_recall_improves_and_plan_stays_jvm(spark, sf_dir):
    """probes=2 recall@5 >= probes=0 recall@5 (strictly more candidate
    buckets), and the plan still has no Python stage."""
    import numpy as np

    from hive_udf_spark.operators.similarity import ann_hyperplane_lsh
    from hive_udf_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    rows = emb.collect()
    mat = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def exact_top5(qid):
        q = mat[qid]
        qn = np.linalg.norm(q)
        sims = [
            (float(q @ v) / (qn * np.linalg.norm(v)), vid)
            for vid, v in mat.items()
            if vid != qid
        ]
        return {vid for _, vid in sorted(sims, reverse=True)[:5]}

    def recall(probes):
        ann = ann_hyperplane_lsh(
            emb, queries, k=5, nbits=16, bands=4, probes=probes
        ).collect()
        byq: dict = {}
        for r in ann:
            byq.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = tot = 0
        for qid, got in byq.items():
            want = exact_top5(qid)
            hits += len(got & want)
            tot += len(want)
        return hits / tot

    r0, r2 = recall(0), recall(2)
    assert r2 >= r0
    plan = (
        ann_hyperplane_lsh(emb, queries, k=5, probes=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probes"):
        ann_hyperplane_lsh(emb, queries, nbits=16, bands=4, probes=9)


def test_random_projection_exact_integers_and_jl_property(spark, sf_dir):
    """Projected coordinates are exact integer sums (deterministic across
    engines), the plan is pure JVM, and the JL property holds: projected
    dot products track original dot products (normalized by out_dim)
    well enough to rank-correlate strongly."""
    import numpy as np

    from hive_udf_spark.operators.similarity import (
        jl_sign_matrix,
        random_projection_quantized,
    )
    from hive_udf_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    proj = random_projection_quantized(emb, in_dim=64, out_dim=16, seed=7)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan  # map-only JVM
    rows = {r.vec_id: np.array(r.proj, dtype=np.int64) for r in proj.collect()}
    src = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1000).astype(
            np.int64
        )
        for r in emb.collect()
    }
    S = np.array(jl_sign_matrix(64, 16, seed=7), dtype=np.int64)
    for vid, q in list(src.items())[:50]:
        assert np.array_equal(rows[vid], S @ q)  # bit-exact vs numpy
    # JL concentration: ||Sq||^2 / k estimates ||q||^2 — the mean ratio
    # over many vectors concentrates near 1 (per-pair dot products at
    # k=16 are individually noisy; norms are the tight statistic)
    ratios = np.array(
        [float(rows[v] @ rows[v]) / 16.0 / float(src[v] @ src[v]) for v in src]
    )
    assert abs(float(ratios.mean()) - 1.0) < 0.15, ratios.mean()
    assert 0.2 < float(ratios.min()) and float(ratios.max()) < 5.0
    # and dot products still rank-correlate positively
    ids = sorted(src)[:60]
    orig, pr = [], []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            orig.append(float(src[ids[i]] @ src[ids[j]]))
            pr.append(float(rows[ids[i]] @ rows[ids[j]]) / 16.0)
    c = np.corrcoef(orig, pr)[0, 1]
    assert c > 0.3, c


def test_random_projection_quantizes_once_per_vector(spark, sf_dir):
    """The optimized plan quantizes each vector once, in its own
    projection, not inside the lambda over the JL matrix rows (where it
    would run once per output coordinate)."""
    from hive_udf_spark.operators.similarity import random_projection_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    text = random_projection_quantized(emb, in_dim=64, out_dim=16)._jdf.queryExecution().optimizedPlan().toString()
    assert text.count("round(") == 1, text
    matrix = [line for line in text.splitlines() if "zip_with(" in line]
    assert matrix and not any("round(" in line for line in matrix), matrix


def test_dot_int_unrolled_matches_dot_int(spark):
    """The unrolled per-pair dot equals the fold on fixed-dim arrays with
    negative and large (beyond 32-bit) components, and a short array
    still raises the ANSI out-of-bounds error of ``element_at``."""
    from hive_udf_spark.operators.similarity import dot_int, dot_int_unrolled

    big = [1_000_000_000, -999_999_999, 3, -(2**31), 0, 7, -1, 2**31 - 1]
    rng = np.random.default_rng(5)
    rows = [(big, big[::-1]), (big, [-v for v in big[:4]] + [11, 0, -1, 3])]
    rows += [
        (rng.integers(-(10**6), 10**6, 8).tolist(), rng.integers(-(10**6), 10**6, 8).tolist())
        for _ in range(20)
    ]
    df = spark.createDataFrame(rows, "a array<bigint>, b array<bigint>")
    got = df.select(
        dot_int_unrolled("a", "b", 8).alias("u"), dot_int(F.col("a"), F.col("b")).alias("f")
    ).collect()
    want = [sum(x * y for x, y in zip(a, b)) for a, b in rows]
    assert [r.u for r in got] == [r.f for r in got] == want
    short = spark.createDataFrame([([1] * 7, [1] * 8)], "a array<bigint>, b array<bigint>")
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX_IN_ELEMENT_AT"):
        short.select(dot_int_unrolled(F.col("a"), F.col("b"), 8)).collect()


def test_literal_sql_round_trips_float64_bits(spark):
    """A constant matrix enters a plan as one typed literal whose doubles
    are the driver's bits, edge values included; integer matrices keep
    64-bit values."""
    import struct

    from hive_udf_spark.operators.similarity import _literal_sql

    M = [[-0.0, 5e-324, 1.7976931348623157e308, 0.1], [0.0, -5e-324, -1.7976931348623157e308, 1 / 3]]
    got = spark.range(1).select(F.expr(_literal_sql(M)).alias("m")).first().m

    def bits(rows):
        return [[struct.pack("<d", v) for v in row] for row in rows]

    assert bits(got) == bits(M)
    ints = [[2**63 - 1, -(2**63)], [0, -1]]
    assert spark.range(1).select(F.expr(_literal_sql(ints, "bigint")).alias("m")).first().m == ints


def _plan_expressions(plan) -> list[tuple[str, dict, dict | None]]:
    """Every expression node of a Catalyst plan, from its JSON form, as
    (class name, node, its first child or None). The JSON lists each
    expression tree in pre-order, so a node's first child follows it."""
    import json

    out = []

    def walk(o):
        if isinstance(o, dict):
            for v in o.values():
                walk(v)
        elif isinstance(o, list):
            for i, v in enumerate(o):
                if isinstance(v, dict) and v.get("class", "").startswith("org.apache.spark.sql.catalyst.expressions."):
                    child = o[i + 1] if v.get("num-children") else None
                    out.append((v["class"].rsplit(".", 1)[-1], v, child))
                walk(v)

    walk(json.loads(plan.toJSON()))
    return out


def test_ann_ivf_centroids_enter_the_plan_as_one_literal(spark, sf_dir):
    """The centroid matrix is parsed as one ``from_json`` per use (cell
    assignment and probe), not as one string cast per element, and the
    optimizer folds each into a single array literal holding the
    centroids' exact values."""
    import json

    from hive_udf_spark.operators.similarity import ann_ivf, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    C = kmeans_centroids(emb, n_centroids=8)
    qe = ann_ivf(emb, emb.filter(F.col("vec_id") % 10 == 0), k=5, centroids=C)._jdf.queryExecution()

    analyzed = _plan_expressions(qe.analyzed())
    assert sum(kind == "JsonToStructs" for kind, _, _ in analyzed) == 2
    string_casts = [
        child["value"]
        for kind, node, child in analyzed
        if kind == "Cast" and node["dataType"] == "double" and child.get("dataType") == "string"
    ]
    assert string_casts == ["-Infinity"]  # the argmax fold's start value
    optimized = _plan_expressions(qe.optimizedPlan())
    assert not any(kind == "JsonToStructs" for kind, _, _ in optimized)
    matrix_type = {"type": "array", "elementType": "double", "containsNull": True}
    matrices = [
        json.loads(node["value"])
        for kind, node, _ in optimized
        if kind == "Literal" and isinstance(node["dataType"], dict)
        and node["dataType"].get("elementType") == matrix_type
    ]
    assert matrices == [C.tolist(), C.tolist()]


# ---------------------------------------------------------------------------
# SemDeDup (r8)
# ---------------------------------------------------------------------------


def test_semdedup_exact_groups_single_cell(spark):
    """n_centroids=1 degenerates to exact pairwise over the corpus: the
    threshold + CC + min-id semantics must recover the crafted groups."""
    from hive_udf_spark.operators.similarity import semdedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # ~1.0 cos with 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.01, 0.999, 0.0, 0.0]),   # ~1.0 cos with 3
        (5, [0.0, 0.0, 1.0, 0.0]),      # isolated
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r.vec_id: (r.cluster, r.is_canonical)
        for r in semdedup(df, min_cosine=0.9, n_centroids=1).collect()
    }
    assert out == {
        1: (1, True), 2: (1, False),
        3: (3, True), 4: (3, False),
        5: (5, True),
    }


def test_semdedup_within_cell_only(spark):
    """The paper's approximation: a near-dup pair SPLIT across cells is
    deliberately missed.  Two antipodal-cell groups with one vector
    nudged toward the other cell's direction: still cosine-close to its
    twin, but assigned to the other cell -> not merged."""
    from hive_udf_spark.operators.similarity import (
        _ivf_cell_expr,
        kmeans_centroids,
        semdedup,
    )
    import pyspark.sql.functions as F

    rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [1.0, -0.02, 0.0, 0.0]),   # twin of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 1.0, 0.02, 0.0]),    # twin of 3
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    C = kmeans_centroids(df, n_centroids=2, seed=42)
    cells = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id", _ivf_cell_expr(C, "embedding").alias("cell")
        ).collect()
    }
    out = {
        r.vec_id: r.cluster
        for r in semdedup(df, min_cosine=0.9, n_centroids=2, centroids=C).collect()
    }
    # same-cell twins merge; any pair in different cells must NOT merge
    for a, b in [(1, 2), (3, 4)]:
        if cells[a] == cells[b]:
            assert out[a] == out[b]
        else:
            assert out[a] != out[b]
    assert out[1] != out[3]  # across groups never merges


def test_semdedup_internals_match_independent_rederivation(spark):
    """r14 ADVICE: the registry query's verdict invariants now consume
    semdedup's own checkpointed edge relation (the ``internals``
    out-param), so the reuse must be pinned against an INDEPENDENT
    re-derivation of the within-cell pairs — otherwise a bug in the
    operator's edge computation could validate itself."""
    import pyspark.sql.functions as F

    from hive_udf_spark.operators.similarity import (
        _ivf_cell_expr,
        cosine_with_norms,
        kmeans_centroids,
        norm_double,
        semdedup,
    )

    rows = [
        (i, [float((i * 7 + j * 3) % 5) / 4.0 + (0.5 if i % 3 == 0 else 0.0)
             for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    C = kmeans_centroids(df, n_centroids=4, seed=42)
    internals: list = []
    semdedup(df, min_cosine=0.9, n_centroids=4, centroids=C, internals=internals).collect()
    got = sorted((r.id_a, r.id_b) for r in internals[0].collect())

    # independent re-derivation: fresh cell assignment + self-join
    assigned = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        norm_double(F.col("embedding")).alias("n"),
        _ivf_cell_expr(C, "embedding").alias("cell"),
    )
    a = assigned.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                        F.col("n").alias("na"), "cell")
    b = assigned.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                        F.col("n").alias("nb"), "cell")
    want = sorted(
        (r.id_a, r.id_b)
        for r in a.join(b, ["cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_with_norms(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")) >= 0.9)
        .select("id_a", "id_b")
        .collect()
    )
    assert got == want and len(got) > 0
