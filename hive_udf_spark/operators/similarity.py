"""Similarity search over embedding columns.

Two families, both compiled to JVM expressions only:

* **Exact integer space** — vectors quantized to ``round(x·scale)``, so
  every score is an order-independent integer sum that any engine
  reproduces bit for bit; these are oracle-hashed.
  ``topk_dot_quantized`` (brute-force top-k by quantized dot),
  ``embedding_near_pairs`` (the O(n²) all-pairs reference),
  ``embedding_near_pairs_lsh`` (integer-hyperplane LSH candidates, the
  same exact verify) and its clustering ``embedding_dedup_clusters``,
  and the JL projection ``random_projection_quantized``.
* **Float cosine top-k** — candidate generators feed one exact cosine
  re-rank and one two-phase top-k (``_cosine_topk``): brute force
  (``topk_cosine``, every corpus row), random-hyperplane LSH
  (``ann_hyperplane_lsh``, sign-bit band buckets), IVF (``ann_ivf``,
  k-means cells) and PQ (``ann_pq``, the ADC top-``refine``). Each side's
  norm is computed once per vector before the join (``_cosine_side``).
  Float ranks are not portable across engines, so these are
  accuracy-tested against numpy instead of oracle-hashed. ``semdedup``
  applies the same cosine within each IVF cell.

No operator has a Python stage: hyperplane signatures, IVF assignment
and probing, and PQ encode/LUT are literal-matrix transform/aggregate
expressions; numpy appears only in driver-side training of centroids and
codebooks on a bounded sample (``_training_sample``).

At 100 TB: the corpus side stays partitioned; the query side is small and
broadcast. LSH bucket joins shuffle (band, bucket) keys only. For IVF-style
sharding, partition the corpus by bucket prefix so probes prune partitions.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hive_udf_spark.operators.dedup import _clusters, _column_sql
from hive_udf_spark.operators.util import distinct_pairs, ensure_min_parallelism

DEFAULT_QUANT_SCALE = 1000
# centroids and codebooks train on at most this many hash-sampled vectors
# (the FAISS recipe: training cost is O(1) in corpus size), for this many
# Lloyd iterations
_TRAIN_SIZE = 100_000
_KMEANS_ITERS = 10


def quantize_vec(vec: Column | str, scale: int = DEFAULT_QUANT_SCALE) -> Column:
    """array<float> → array<long> of round(x·scale): exact integer space."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))


def dot_int(a: Column, b: Column) -> Column:
    """Exact integer dot product (fold over zip_with) — order-independent."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def dot_int_unrolled(a: Column | str, b: Column | str, dim: int) -> Column:
    """Exact integer dot product over FIXED-dim arrays, unrolled into
    ``dim`` codegen'd element_at multiply-adds. Higher-order functions
    are CodegenFallback — ``dot_int`` pays ~2·dim interpreted lambda
    evaluations plus a zip-array allocation per call, which at one call
    PER CANDIDATE PAIR is the hottest expression in the verify stages.
    Value-identical to ``dot_int`` for arrays of exactly ``dim``
    elements (integer addition is associative); use only where the
    fixed-dim contract already holds (quantized embeddings).

    ``a`` and ``b`` are column names or plain column references. One
    parsed SQL expression, as ``dedup._sig_agreement_unrolled`` (through
    the Python API it took about 2,200 py4j round trips at dim 64)."""
    sa, sb = _column_sql(a), _column_sql(b)
    return F.expr(
        " + ".join(f"element_at({sa}, {i}) * element_at({sb}, {i})" for i in range(1, dim + 1))
    )


def dot_double(a: Column, b: Column) -> Column:
    """Float dot product as a sequential left fold (deterministic per pair)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_double(a: Column) -> Column:
    return F.sqrt(dot_double(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (norm_double(a) * norm_double(b))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine when each side's norm is already a column: on a candidate
    stream this replaces two per-candidate norm folds (interpreted HOFs,
    re-run for every pair a vector appears in) with per-VECTOR values
    computed once before the join."""
    return dot_double(a, b) / (na * nb)


def _two_phase_topk(scored: DataFrame, query_key: str, order_cols: list[Column], k: int) -> DataFrame:
    """Two-phase top-k per query: ≤ k rows per (query, input partition)
    cross the shuffle, never the scored corpus.

    On Spark 4 a single rank-filtered window IS the two-phase plan:
    the optimizer inserts WindowGroupLimit in Partial mode before the
    exchange and Final mode after (plan-asserted in tests/test_plans.py),
    the exact analogue of partial aggregation for rank pruning. The
    r1-r3 formulation built the partial phase by hand with a second
    window over (query, spark_partition_id()) — one extra full sort and
    shuffle of the whole scored stream that the native group-limit makes
    redundant (measured ~1.4 s of the ann_pq critical path at sf0.1)."""
    w = Window.partitionBy(query_key).orderBy(*order_cols)
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cosine_side(
    df: DataFrame, id_col: str, vec: Column, id_name: str, tag: str, *extra: Column
) -> DataFrame:
    """``(id_name, __{tag}v, __{tag}n, *extra)``: each vector with its
    norm, computed once per vector before any join, for
    ``cosine_with_norms`` on the candidate stream."""
    return df.select(
        F.col(id_col).alias(id_name),
        vec.alias(f"__{tag}v"),
        norm_double(vec).alias(f"__{tag}n"),
        *extra,
    )


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """The exact re-rank every float-cosine search ends in: ``pairs``
    carries a query side (``query_id``, tag ``q``) and a neighbor side
    (``neighbor_id``, tag ``n``) of :func:`_cosine_side`; returns
    ``(query_id, neighbor_id, cos_sim, rank)``, the top ``k`` per query
    by cosine, ties to the lower neighbor id."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_with_norms(
            F.col("__qv"), F.col("__nv"), F.col("__qn"), F.col("__nn")
        ).alias("cos_sim"),
    )
    return _two_phase_topk(scored, "query_id", [F.desc("cos_sim"), F.asc("neighbor_id")], k).select(
        "query_id", "neighbor_id", "cos_sim", "rank"
    )


def _fixed_dim(vec_col: str, dim: int) -> str:
    """SQL for ``vec_col`` that fails the query on a non-NULL vector whose
    length is not ``dim``. The fixed-dim expressions in this module (the
    unrolled per-pair dot, literal-matrix folds whose ``zip_with`` pads
    the shorter side with NULL) would otherwise give such a vector a
    silently wrong score, or a NULL one that drops it from every IVF
    cell."""
    v = f"`{vec_col}`"
    return (
        f"CASE WHEN {v} IS NOT NULL AND size({v}) != {dim} THEN raise_error(concat("
        f"'{vec_col} must have dim={dim} elements, got ', CAST(size({v}) AS STRING))) "
        f"ELSE {v} END"
    )


def topk_dot_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    scale: int = DEFAULT_QUANT_SCALE,
    scatter: bool = True,
) -> DataFrame:
    """Brute-force top-k neighbors by exact quantized dot product.

    Returns (query_id, neighbor_id, dot_q, rank); ties broken by
    neighbor_id, so output is fully deterministic. Self-matches excluded.
    The query side is broadcast (it is the small side by construction).

    scatter=False skips the corpus fan-out below — for callers whose
    query side is small enough that the O(C·Q) dot stage is sub-second
    anyway (hybrid_rrf's bounded vector leg: the r14 scatter cost it an
    Exchange + 32-task fan-out, −44% measured), the single-task plan is
    the cheaper one. Dedicated brute-force entries keep the default.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), quantize_vec(vec_col, scale).alias("__qv")
    )
    # the scored crossJoin inherits the corpus scan's split count — a
    # single-row-group corpus file would run the whole O(C·Q) dot stage
    # in ONE task (3.2 s vs 0.75 s here); no-op at corpus scale
    c = (ensure_min_parallelism(corpus) if scatter else corpus).select(
        F.col(id_col).alias("neighbor_id"), quantize_vec(vec_col, scale).alias("__cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", dot_int(F.col("__qv"), F.col("__cv")).alias("dot_q"))
    )
    return _two_phase_topk(scored, "query_id", [F.desc("dot_q"), F.asc("neighbor_id")], k).select(
        "query_id", "neighbor_id", "dot_q", "rank"
    )


def embedding_near_pairs(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.35,
    scale: int = DEFAULT_QUANT_SCALE,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, decided in exact integer space:

        cos(a,b) ≥ t  ⟺  dot_q > 0  ∧  dot_q² ≥ t²·|a|²·|b|²   (quantized)

    Operands stay ≤ ~3e17 (64 dims, |x|≲3, scale 1000): inside int64 in
    both engines; the final comparison is IEEE-identical everywhere.

    This is the O(n²) exact BASELINE (it joins on id inequality alone) —
    use it as the oracle/ground truth at test scale. The scale path is
    ``embedding_near_pairs_lsh`` below: same verify, LSH-bucketed
    candidate generation instead of all pairs.
    """
    q = vecs.select(F.col(id_col).alias("__id"), quantize_vec(vec_col, scale).alias("__qv"))
    a, b = q.alias("a"), q.alias("b")
    dq = dot_int(F.col("a.__qv"), F.col("b.__qv"))
    na = dot_int(F.col("a.__qv"), F.col("a.__qv"))
    nb = dot_int(F.col("b.__qv"), F.col("b.__qv"))
    t2 = float(min_cosine) ** 2
    pairs = (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            dq.alias("__dq"),
            na.alias("__na"),
            nb.alias("__nb"),
        )
        .filter(
            (F.col("__dq") > 0)
            & (
                (F.col("__dq") * F.col("__dq")).cast("double")
                >= F.lit(t2) * (F.col("__na").cast("double") * F.col("__nb").cast("double"))
            )
        )
    )
    return pairs.select("id_a", "id_b", F.col("__dq").alias("dot_q"))


# ---------------------------------------------------------------------------
# Approximate NN: random-hyperplane LSH
# ---------------------------------------------------------------------------


def hyperplanes(dim: int, nbits: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes, unit rows."""
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((nbits, dim))
    return H / np.linalg.norm(H, axis=1, keepdims=True)


def int_hyperplanes(
    dim: int, nbits: int, seed: int = 42, scale: int = DEFAULT_QUANT_SCALE
) -> list[list[int]]:
    """Hyperplanes quantized to integers: sign tests become exact integer
    comparisons, reproducible bit-for-bit by any engine (the portable
    analogue of functions.hashing.portable_hash60 for the vector world)."""
    H = hyperplanes(dim, nbits, seed)
    return [[int(v) for v in row] for row in np.round(H * scale).astype(np.int64)]


def int_signature_expr(planes: list[list[int]], qv_col: str = "__qv") -> Column:
    """Integer-plane sign-bit signature packed into a BIGINT, over a
    quantized vector column — bit-reproducible by any engine.

    One SQL string for the whole signature instead of nbits×dim Column
    objects: building the equivalent expression tree through the Python
    API costs thousands of py4j round trips (~3.5 s of pure plan
    CONSTRUCTION at nbits=32, dim=64); a single parsed expr is
    milliseconds. Each plane enters the plan as one typed literal
    (:func:`_literal_sql`).

    One fold per plane, not one fold over the plane matrix: a single
    reference to ``qv_col`` inside a matrix lambda lets Catalyst's
    CollapseProject inline the quantization into the lambda, where it
    would run once per plane; ``nbits`` references keep it in its own
    projection.

    (r15 A/B, kept as the fold: unrolling every plane dot into
    element_at multiply-adds — 2048 codegen terms at 32×64 — REGRESSED
    the LSH entries ~2.5x, because that expression's parse and its
    codegen compile were paid per plan and dwarfed the interpreted-fold
    savings at one signature per ROW. ``get_spark``'s generated-class
    cache now pays the compile once per session, but each plan still
    parses and analyzes the expression. Per-PAIR dots are a different
    regime — see ``dot_int_unrolled``.)
    """
    terms = []
    for j, row in enumerate(planes):
        dot = _int_dot_sql(qv_col, row)
        terms.append(f"IF({dot} > 0, CAST({2 ** j} AS BIGINT), CAST(0 AS BIGINT))")
    return F.expr(" + ".join(terms))


def _int_dot_sql(qv_col: str, row: list[int]) -> str:
    """BIGINT fold of ``qv_col`` times the constant integer ``row``."""
    return (
        f"aggregate(zip_with({qv_col}, {_literal_sql(row, 'bigint')}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (a, x) -> a + x)"
    )


def jl_sign_matrix(in_dim: int, out_dim: int, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 Johnson–Lindenstrauss projection matrix
    (Achlioptas' database-friendly construction with sign entries):
    out_dim rows × in_dim columns from a seeded generator, so the Spark
    expression and the SQL oracle are generated from the SAME matrix."""
    rng = np.random.default_rng(seed)
    return [
        [int(v) for v in row]
        for row in rng.choice(np.array([-1, 1], dtype=np.int64), size=(out_dim, in_dim))
    ]


def random_projection_quantized(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: int = 7,
    scale: int = DEFAULT_QUANT_SCALE,
) -> DataFrame:
    """JL dimensionality reduction in EXACT integer space: quantize each
    component to round(e·scale), then project through a deterministic ±1
    sign matrix — ``proj[j] = Σ_i ±q_i``, an order-independent integer
    sum, so any engine reproduces it bit-for-bit (unlike float matrix
    products, whose summation order is engine-defined).

    Output: (id, proj array<bigint> of out_dim). All JVM: one parsed
    SQL expression, one fold per matrix row (each row one literal); per
    row the cost is out_dim·in_dim integer multiply-adds. The vector is
    quantized once, in its own projection: as in
    :func:`int_signature_expr`, a single reference to it inside a matrix
    lambda would let CollapseProject inline the quantization into the
    lambda, once per output coordinate.

    At 100 TB: map-only (no shuffle), output is out_dim/in_dim of the
    input width — project FIRST, then run ANN/near-dup on the short
    vectors; dot products distort by at most the JL factor for the
    chosen out_dim. The matrix never leaves the driver (it is
    O(out·in) ints embedded in the plan), so there is no broadcast and
    no Python worker anywhere."""
    rows = jl_sign_matrix(in_dim, out_dim, seed)
    proj = "array(" + ", ".join(_int_dot_sql("__qv", row) for row in rows) + ")"
    return df.select(F.col(id_col), quantize_vec(vec_col, scale).alias("__qv")).select(
        id_col, F.expr(proj).alias("proj")
    )


def _band_bits(nbits: int, bands: int) -> int:
    """Bits per band of an ``nbits`` sign signature split into ``bands``
    bands. The signature is a sum of ``2**j`` terms in a signed BIGINT, so
    ``nbits`` above 62 would carry into the wrong bit."""
    if nbits % bands:
        raise ValueError("nbits must be divisible by bands")
    if not (1 <= nbits <= 62):
        raise ValueError("nbits must fit a signed BIGINT (1..62)")
    return nbits // bands


def _sign_bands(sigs: DataFrame, id_name: str, bands: int, band_bits: int) -> DataFrame:
    """``(id_name, __band, __bkey)``: one row per band of the ``__sig``
    signature, keyed by that band's ``band_bits`` bits."""
    mask = F.lit((1 << band_bits) - 1).cast("long")
    return (
        sigs.select(
            id_name,
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__band"),
            F.col("__sig"),
        )
        .withColumn("__bkey", F.expr(f"shiftright(__sig, __band * {band_bits})").bitwiseAND(mask))
        .select(id_name, "__band", "__bkey")
    )


def embedding_near_pairs_lsh(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.35,
    nbits: int = 32,
    bands: int = 8,
    dim: int = 64,
    scale: int = DEFAULT_QUANT_SCALE,
    seed: int = 42,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Near-pairs with cosine ≥ threshold via hyperplane-LSH candidate
    buckets + exact integer-cosine verify — the scale path that replaces
    ``embedding_near_pairs``'s all-pairs self-join.

    Pipeline (everything JVM-side Catalyst expressions, zero Python):

    1. signature: ``nbits`` sign bits of integer dot products against
       quantized hyperplanes, packed into a BIGINT — computed at scan.
    2. candidates: explode ``bands`` bit-bands, equi-join on
       (band, band-key). Only (band_key, id) pairs shuffle — the same
       join shape as MinHash LSH bands (dedup.lsh_candidate_pairs).
    3. verify: candidates are re-checked with the exact quantized
       cosine test of ``embedding_near_pairs``, so every emitted pair
       is exact; LSH only generates candidates.

    Because both signatures and verify are integer-exact, a SQL oracle
    reproduces the ENTIRE pipeline (plans/similarity_queries.py), not
    just the verified output.

    Recall is threshold-dependent (sign-bit collision probability is
    1 − θ/π): at near-duplicate thresholds (cos ≥ 0.8, the dedup use
    case) a (32, 8) config catches ~95%+ of pairs while pruning most of
    the O(n²) candidate space; at loose thresholds like 0.35 the sign
    bits carry little signal (θ ≈ 70° → p ≈ 0.61 vs 0.5 random) and
    pruning weakens — measured in tests/test_similarity.py. Tune
    (nbits, bands): more bands → recall; more bits/band → pruning.

    caches: as in dedup.near_dup_pairs — pass a list to persist the
    signature table across the join branches; caller unpersists.
    """
    band_bits = _band_bits(nbits, bands)
    planes = int_hyperplanes(dim, nbits, seed, scale)

    # single-split scan => the quantize + nbits·dim signature arithmetic
    # runs in ONE task (r15, the dedup-family finding); no-op at scale
    vecs = ensure_min_parallelism(vecs)
    # fixed dim: the per-pair dot below reads exactly `dim` elements while
    # the norms fold the whole array
    vec = F.expr(_fixed_dim(vec_col, dim))
    q = vecs.select(F.col(id_col).alias("__id"), quantize_vec(vec, scale).alias("__qv"))
    sigs = q.withColumn("__sig", int_signature_expr(planes))
    if caches is not None:
        sigs = sigs.persist()
        caches.append(sigs)

    banded = _sign_bands(sigs, "__id", bands, band_bits)
    a, b = banded.alias("a"), banded.alias("b")
    # full-width pair stream ahead of the per-pair dot (util.distinct_pairs)
    cands = distinct_pairs(
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bkey") == F.col("b.__bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    qv = sigs.select("__id", "__qv")
    # per-doc norm: the fold form is fine here (once per doc, not per pair)
    nrm = dot_int(F.col("__qv"), F.col("__qv"))
    side_a = qv.select(
        F.col("__id").alias("id_a"), F.col("__qv").alias("__qa"), nrm.alias("__na")
    )
    side_b = qv.select(
        F.col("__id").alias("id_b"), F.col("__qv").alias("__qb"), nrm.alias("__nb")
    )
    # per-PAIR dot: unrolled codegen (value-identical at the operator's
    # fixed dim), produced by a one-element explode so that it is generated
    # once: Catalyst inlines a filter on a projected column into the join
    # condition once per reference, and three references plus the output's
    # copy outgrow the JVM's 64 KB method limit, which silently turns off
    # whole-stage codegen for the stage. No filter is pushed below the
    # Generate that produces its column.
    dq = dot_int_unrolled("__qa", "__qb", dim)
    t2 = float(min_cosine) ** 2
    return (
        cands.join(side_a, "id_a")
        .join(side_b, "id_b")
        .select("id_a", "id_b", F.explode(F.array(dq)).alias("__dq"), F.col("__na"), F.col("__nb"))
        .filter(
            (F.col("__dq") > 0)
            & (
                (F.col("__dq") * F.col("__dq")).cast("double")
                >= F.lit(t2) * (F.col("__na").cast("double") * F.col("__nb").cast("double"))
            )
        )
        .select("id_a", "id_b", F.col("__dq").alias("dot_q"))
    )


# ---------------------------------------------------------------------------
# Literal-matrix JVM expression builders (the single-parsed-SQL-expr trick):
# constants (hyperplanes, centroids, codebooks, the integer plane and JL
# matrices) enter the plan as ONE typed literal inside a transform/aggregate
# lambda, so per-row math runs entirely in JVM expressions — no Python
# worker in the plan and one parsed expression regardless of matrix size
# (vs thousands of py4j-built Column objects). The literal is
# ``from_json('<matrix as JSON>', 'array<array<double>>')``: the parser
# and analyzer see one string, not K·dim element literals, and
# ConstantFolding turns it into a single array literal before planning.
# ---------------------------------------------------------------------------


def _literal_sql(values, elem: str = "double") -> str:
    """SQL of the constant array ``values`` (any nesting depth) as one
    typed literal of ``elem`` elements. JSON numbers carry Python's
    shortest round-trip repr of each float64, which the JSON reader parses
    back to the same bits. ``from_json`` is typed nullable; the
    ``coalesce`` with an empty array makes the literal non-nullable, so
    keys computed from it stay non-nullable (Catalyst infers an
    ``isnotnull`` filter on a nullable join key). It folds away with the
    ``from_json``."""
    arr = np.asarray(values)
    typ = elem
    for _ in range(arr.ndim):
        typ = f"array<{typ}>"
    return f"coalesce(from_json('{json.dumps(arr.tolist())}', '{typ}'), array())"


def _dots_sql(vec_sql: str, mat_sql: str) -> str:
    """array<double>: inner product of ``vec_sql`` with every row of the
    literal matrix, each a sequential left fold."""
    return (
        f"transform({mat_sql}, __p -> aggregate(zip_with({vec_sql}, __p, "
        f"(__x, __y) -> __x * __y), CAST(0 AS DOUBLE), (__a, __x) -> __a + __x))"
    )


def _argbest_sql(arr_sql: str, n: int, minimize: bool = False) -> str:
    """INT index of the max (or min) element — first occurrence on ties,
    matching np.argmax/argmin — in one fold over the array."""
    cmp = "<" if minimize else ">"
    init = "'Infinity'" if minimize else "'-Infinity'"
    return (
        f"aggregate(zip_with({arr_sql}, sequence(0, {n - 1}), "
        f"(__d, __i) -> named_struct('d', __d, 'i', __i)), "
        f"named_struct('d', CAST({init} AS DOUBLE), 'i', -1), "
        f"(__acc, __x) -> IF(__x.d {cmp} __acc.d, __x, __acc)).i"
    )


def _topn_idx_sql(arr_sql: str, n: int, topn: int) -> str:
    """array<int>: indices of the ``topn`` largest elements, ties broken by
    lower index (np.argsort(-arr) order)."""
    pairs = (
        f"zip_with({arr_sql}, sequence(0, {n - 1}), "
        f"(__d, __i) -> named_struct('d', __d, 'i', __i))"
    )
    sorted_ = (
        f"array_sort({pairs}, (l, r) -> CASE WHEN l.d > r.d THEN -1 "
        f"WHEN l.d < r.d THEN 1 WHEN l.i < r.i THEN -1 WHEN l.i > r.i THEN 1 "
        f"ELSE 0 END)"
    )
    return f"transform(slice({sorted_}, 1, {topn}), __s -> CAST(__s.i AS INT))"


def _signature_expr(planes: np.ndarray, vec_col: str) -> Column:
    """Hyperplane sign-bit signature packed into a BIGINT, all JVM."""
    nbits = planes.shape[0]
    dots = _dots_sql(f"`{vec_col}`", _literal_sql(planes))
    return F.expr(
        f"aggregate(zip_with({dots}, sequence(0, {nbits - 1}), "
        f"(__d, __j) -> IF(__d > 0, shiftleft(CAST(1 AS BIGINT), CAST(__j AS INT)), "
        f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (__a, __x) -> __a + __x)"
    )


def ann_hyperplane_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nbits: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 42,
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k cosine neighbors via hyperplane-LSH banding.

    Signature = nbits sign bits, computed by a single parsed JVM
    expression over a literal hyperplane matrix (r4: replaced the
    pandas-UDF matmul — the plan now has NO Python stage, so the
    per-session Arrow-worker spin-up the round-3 bench attributed to
    this operator is gone); candidates collide in ≥1 of `bands`
    bit-bands; exact cosine re-ranks. Returns (query_id, neighbor_id,
    cos_sim, rank). Tune nbits/bands for the recall/cost point; recall
    is measured in tests.

    Shuffle discipline: the band explode and the candidate ``distinct``
    carry (id, band, bkey) rows ONLY — never embeddings. Vectors join
    back onto the deduplicated id-pair stream afterwards (query side
    broadcast, corpus side one equi-join), so the bands× blow-up and the
    distinct's shuffle+compare both run on fixed-width keys. The earlier
    formulation shipped both 64-float arrays through the explode and
    compared them inside distinct — bands×·2·dim floats of dead shuffle
    weight per candidate.

    ``probes`` > 0 enables MULTI-PROBE LSH (Lv et al. 2007, simplified):
    besides its exact band key, each QUERY also probes the keys with one
    of the band's first ``probes`` bits flipped — Hamming-1 buckets,
    where near-misses land when a vector sits close to a hyperplane.
    Recall rises without more hash tables (more bands = more corpus-side
    state; more probes = query-side work only — the right trade at
    corpus scale, since the query side is the broadcast side here). The
    literature version orders probes by query-to-hyperplane margin;
    this deterministic variant probes fixed positions, which is
    query-plan-static and oracle-friendly — hyperplane order is random,
    so fixed positions are an unbiased choice. probes ≤ band bits.
    """
    band_bits = _band_bits(nbits, bands)
    if not 0 <= probes <= band_bits:
        raise ValueError("probes must be in [0, nbits/bands]")
    sig = _signature_expr(hyperplanes(dim, nbits, seed), vec_col)

    # single-split corpus scan => the nbits·dim signature expression and
    # the candidate fan-out run in ONE task (r15; no-op at corpus scale).
    # The query side stays unscattered — it is broadcast-sized.
    corpus = ensure_min_parallelism(corpus)
    ck = _sign_bands(
        corpus.select(F.col(id_col).alias("neighbor_id"), sig.alias("__sig")),
        "neighbor_id", bands, band_bits,
    )
    qk = _sign_bands(
        queries.select(F.col(id_col).alias("query_id"), sig.alias("__sig")),
        "query_id", bands, band_bits,
    )
    if probes:
        # probe 0 = the exact key; probe j flips bit j-1
        flips = [F.col("__bkey").bitwiseXOR(F.lit(1 << j)) for j in range(probes)]
        qk = qk.select(
            "query_id", "__band", F.explode(F.array(F.col("__bkey"), *flips)).alias("__bkey")
        )
    # full-width pair stream ahead of the per-pair cosine, as in
    # embedding_near_pairs_lsh
    cands = distinct_pairs(
        ck.join(
            F.broadcast(qk),
            (ck["__band"] == qk["__band"])
            & (ck["__bkey"] == qk["__bkey"])
            & (F.col("neighbor_id") != F.col("query_id")),
        ).select("query_id", "neighbor_id")
    )
    qv = _cosine_side(queries, id_col, F.col(vec_col), "query_id", "q")
    nv = _cosine_side(corpus, id_col, F.col(vec_col), "neighbor_id", "n")
    return _cosine_topk(cands.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id"), k)


def embedding_dedup_clusters(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.35,
    nbits: int = 32,
    bands: int = 8,
    dim: int = 64,
    scale: int = DEFAULT_QUANT_SCALE,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate dedup with linear output:
    (id, cluster, is_canonical) — the vector-side twin of
    ``dedup.dedup_clusters``. Edges come from the LSH-bucketed near-pair
    generator (exact integer-cosine verified), components from the
    contracted min-label propagation, so the whole pipeline inherits
    both scale paths. Deterministic end to end (integer signatures,
    fixed seed): an exact SQL oracle reproduces it including the
    clustering fixpoint."""
    caches: list[DataFrame] = []
    pairs = embedding_near_pairs_lsh(
        vecs,
        id_col,
        vec_col,
        min_cosine=min_cosine,
        nbits=nbits,
        bands=bands,
        dim=dim,
        scale=scale,
        seed=seed,
        caches=caches,
    ).select("id_a", "id_b")
    pairs = pairs.localCheckpoint(eager=True)
    for cached in caches:
        cached.unpersist()
    return _clusters(pairs, vecs, id_col)


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force float-cosine top-k (JVM fold; numpy-verified in tests)."""
    q = _cosine_side(queries, id_col, F.col(vec_col), "query_id", "q")
    # same single-task-crossJoin hazard as topk_dot_quantized
    c = _cosine_side(ensure_min_parallelism(corpus), id_col, F.col(vec_col), "neighbor_id", "n")
    return _cosine_topk(
        c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id")), k
    )


# ---------------------------------------------------------------------------
# Approximate NN: IVF (inverted file over k-means cells)
# ---------------------------------------------------------------------------


def _training_sample(vecs: DataFrame, id_col: str, vec_col: str, seed: int) -> np.ndarray:
    """The driver-side training set of both trainers, at most
    ``_TRAIN_SIZE`` vectors as float64 rows.

    The sample is a seeded hash filter (xxhash64(id) mod K == 0 with K
    sized from a metadata-cheap count), then a sort of the ≈_TRAIN_SIZE
    SAMPLE for determinism — not a global orderBy of the corpus, which
    at 100 TB would be a full sort just to take the first 100k rows.
    Deterministic across runs and partitionings: membership depends only
    on id hashes, order only on ids."""
    n_total = vecs.count()  # parquet metadata count — no scan
    k_mod = max(1, int(n_total) // _TRAIN_SIZE)
    rows = (
        vecs.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .filter(F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(k_mod)) == 0)
        .orderBy("i")
        .limit(_TRAIN_SIZE)
        .collect()
    )
    return np.asarray([r["v"] for r in rows], dtype=np.float64)


def kmeans_centroids(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic spherical k-means centroids (unit rows), trained on a
    bounded driver-side sample (:func:`_training_sample`) — the FAISS
    recipe: IVF coarse quantizers are trained on ~100k vectors regardless
    of corpus size, so training cost is O(1) in corpus scale."""
    X = _training_sample(vecs, id_col, vec_col, seed)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(_KMEANS_ITERS):
        assign = np.argmax(X @ C.T, axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.sum(axis=0)
                C[j] = c / np.maximum(np.linalg.norm(c), 1e-12)
    return C


def _ivf_cell_expr(centroids: np.ndarray, vec_sql: str) -> Column:
    """INT nearest-centroid id of the vector ``vec_sql``, all JVM.
    Centroids are unit rows (spherical k-means), so argmax of the raw dot
    product equals argmax of cosine — no per-row normalization needed.

    The key is NON-nullable. The fold already returns -1 for a NULL
    vector (its ``IF(NULL > acc.d, ...)`` keeps the initial index), so the
    ``coalesce`` changes no value, only the type: Catalyst infers an
    ``isnotnull`` filter on a nullable join key and pushes it through the
    ``Repartition`` of ``ensure_min_parallelism`` into the single-task
    scan stage, where the K·dim fold would run a second time."""
    dots = _dots_sql(vec_sql, _literal_sql(centroids))
    return F.expr(f"coalesce(CAST({_argbest_sql(dots, len(centroids))} AS INT), -1)")


def _ivf_probe_expr(centroids: np.ndarray, vec_sql: str, nprobe: int) -> Column:
    """array<int> of the nprobe nearest centroid ids (cosine order, ties
    to lower id — np.argsort(-sims) order), all JVM."""
    dots = _dots_sql(vec_sql, _literal_sql(centroids))
    return F.expr(_topn_idx_sql(dots, len(centroids), nprobe))


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 32,
    nprobe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via an IVF index.

    ``centroids``: pass a pre-trained ``kmeans_centroids`` result to skip
    the two training jobs (count + bounded collect) — the FAISS
    train-once / search-many pattern for repeated query batches against
    one corpus.

    Corpus vectors are assigned to their nearest k-means cell (ONE cell
    each — the inverted file); queries probe their ``nprobe`` nearest
    cells; candidates meet in a hash equi-join on cell id and are re-ranked
    by exact cosine. Returns (query_id, neighbor_id, cos_sim, rank).

    Scale path: centroids are a small literal expression (K×dim floats);
    the corpus shuffles once on cell id — 1/K of the corpus lands in each
    cell, so per-cell candidate lists stay bounded; recall tunes with
    nprobe (tests measure it against brute-force cosine). Cell assignment
    and query probing are single parsed JVM expressions over the literal
    centroid matrix (r4) — no Python stage anywhere in the plan, so the
    pandas-worker spin-up the round-3 bench measured is gone.
    """
    C = centroids if centroids is not None else kmeans_centroids(
        corpus, id_col, vec_col, n_centroids, seed
    )
    v = _fixed_dim(vec_col, C.shape[1])
    # single-split scan => single-task K·dim cell assignment (r15)
    cc = _cosine_side(
        ensure_min_parallelism(corpus), id_col, F.expr(v), "neighbor_id", "n",
        _ivf_cell_expr(C, v).alias("__cell"),
    )
    cq = _cosine_side(
        queries, id_col, F.expr(v), "query_id", "q",
        F.explode(_ivf_probe_expr(C, v, nprobe)).alias("__cell"),
    )
    return _cosine_topk(
        cc.join(F.broadcast(cq), ["__cell"]).filter(F.col("neighbor_id") != F.col("query_id")), k
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------------


def pq_codebooks(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 256,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace k-means codebooks, shape (n_subspaces, n_codes,
    sub_dim) — Jégou et al. 2011 product quantization. Trained on the
    same bounded, hash-sampled driver-side set as the IVF coarse
    quantizer (O(1) in corpus scale); deterministic via seeded init.
    """
    X = _training_sample(vecs, id_col, vec_col, seed)
    dim = X.shape[1]
    if dim % n_subspaces != 0:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sub = dim // n_subspaces
    rng = np.random.default_rng(seed)
    books = np.empty((n_subspaces, min(n_codes, len(X)), sub), dtype=np.float64)
    for s in range(n_subspaces):
        Xs = X[:, s * sub : (s + 1) * sub]
        C = Xs[rng.choice(len(Xs), size=books.shape[1], replace=False)]
        for _ in range(_KMEANS_ITERS):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for j in range(len(C)):
                members = Xs[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books[s] = C
    return books


def _pq_encode_expr(books: np.ndarray, vec_col: str) -> Column:
    """BIGINT: per-subspace nearest-code ids (L2 argmin against each
    literal subspace codebook) packed 8 bits per subspace — literally the
    8-byte PQ code, as one long. All JVM (no Python stage), and the
    packed scalar means the ADC candidate stream carries a single
    fixed-width value per corpus row instead of allocating an int array
    per joined candidate. Requires n_codes ≤ 256 and n_subspaces ≤ 8
    (the canonical byte-code configuration)."""
    n_sub, n_codes, sub = books.shape
    if n_codes > 256 or n_sub > 8:
        raise ValueError(
            f"packed PQ codes need n_codes <= 256 and n_subspaces <= 8, "
            f"got ({n_sub}, {n_codes})"
        )
    terms = []
    for s in range(n_sub):
        sub_vec = f"slice(`{vec_col}`, {s * sub + 1}, {sub})"
        d2 = (
            f"transform({_literal_sql(books[s])}, __c -> aggregate("
            f"zip_with({sub_vec}, __c, (__x, __y) -> (CAST(__x AS DOUBLE) - __y) * "
            f"(CAST(__x AS DOUBLE) - __y)), CAST(0 AS DOUBLE), (__a, __x) -> __a + __x))"
        )
        code = f"CAST({_argbest_sql(d2, n_codes, minimize=True)} AS BIGINT)"
        terms.append(f"shiftleft({code}, {8 * s})" if s else code)
    return F.expr(" + ".join(terms))


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode a corpus against trained PQ codebooks: (id, pq_code BIGINT).

    The PQ INDEX-BUILD step, split out of :func:`ann_pq` so the
    train-once/encode-once/search-many lifecycle is first-class: encode
    the corpus when the codebooks are trained, persist the 8-byte codes
    as a table, and pass it to ``ann_pq(codes=...)`` for each query
    batch. The encode expression compiles the literal codebooks into one
    parsed JVM expression (no Python stage); its plan-compilation cost is
    paid once here instead of once per search."""
    return corpus.select(
        F.col(id_col), _pq_encode_expr(books, vec_col).alias("pq_code")
    )


def _pq_lut_expr(books: np.ndarray, vec_col: str) -> Column:
    """array<double>: flattened inner-product lookup table
    (n_subspaces × n_codes): lut[s·n_codes + j] = ⟨q_sub[s],
    codebook[s][j]⟩. One parsed expression per QUERY row (the tiny
    side); corpus-side scoring is pure JVM table lookups."""
    n_sub, n_codes, sub = books.shape
    parts = []
    for s in range(n_sub):
        sub_vec = f"slice(`{vec_col}`, {s * sub + 1}, {sub})"
        parts.append(_dots_sql(sub_vec, _literal_sql(books[s])))
    return F.expr("flatten(array(" + ", ".join(parts) + "))")


def ann_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 256,
    refine: int = 50,
    seed: int = 42,
    books: np.ndarray | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via product quantization with
    asymmetric distance computation (ADC) and exact re-rank.

    The corpus is ENCODED once — n_subspaces small ints per vector
    (the 100 TB point: the ADC scan reads ~8-byte codes instead of
    dim×4-byte vectors, a ~32× IO reduction at dim 64). Each query
    precomputes an inner-product lookup table over the codebooks (tiny,
    broadcast with the query); approximate scores are then pure JVM
    ``zip_with`` lookups over the codes — no Python in the corpus scan.
    The ADC top-``refine`` per query is re-ranked by exact cosine for
    the final top-k. Returns (query_id, neighbor_id, cos_sim, rank);
    recall is measured in tests against brute force.

    ``books``: pass a pre-trained ``pq_codebooks`` result to skip the
    training jobs on repeated query batches (train-once/search-many).
    ``codes``: pass a persisted :func:`pq_encode` result (id, pq_code)
    alongside ``books`` to also skip corpus encoding — the steady-state
    search regime, where only the per-batch LUT + ADC scan runs.
    """
    if codes is not None and books is None:
        raise ValueError("codes= requires books= (the codebooks that encoded them)")
    if books is None:
        books = pq_codebooks(
            corpus, id_col, vec_col, n_subspaces, n_codes, seed=seed
        )
    # the codebooks' own shape is authoritative (as ann_ivf derives from
    # centroids): pre-trained books with a different geometry than the
    # n_subspaces/n_codes defaults must not leave the ADC unroll reading
    # past the LUT (non-ANSI element_at returns NULL -> silent score
    # corruption)
    n_subspaces, n_codes_eff = int(books.shape[0]), int(books.shape[1])

    if codes is not None:
        codes = codes.select(
            F.col(id_col).alias("neighbor_id"), F.col("pq_code").alias("__codes")
        )
    else:
        # single-split scan => the n_sub·n_codes·sub_dim encode arithmetic
        # runs in ONE task (r15; no-op at corpus scale)
        codes = ensure_min_parallelism(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            _pq_encode_expr(books, vec_col).alias("__codes"),
        )
    # the ADC stream carries (query_id, neighbor_id, adc) ONLY — query
    # vectors re-join at the refine-sized re-rank, not through the top-k
    # shuffle (dim×8 bytes of dead weight per scored pair otherwise)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _pq_lut_expr(books, vec_col).alias("__lut"),
    )
    # ADC: approx_ip = Σ_s lut[s·n_codes + codes[s]]. Unrolled into plain
    # element_at additions over the PACKED code long (n_subspaces is
    # small and known at plan time): unlike an aggregate/zip_with fold,
    # this stays inside whole-stage codegen with zero per-candidate
    # allocations — it is the expression evaluated once per
    # (corpus × query) candidate, the hottest row count in the operator.
    adc = None
    for s in range(n_subspaces):
        code_s = F.shiftright(F.col("__codes"), 8 * s).bitwiseAND(F.lit(255))
        term = F.element_at(
            F.col("__lut"), (F.lit(s * n_codes_eff) + code_s + 1).cast("int")
        )
        adc = term if adc is None else adc + term
    approx = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", adc.alias("__adc"))
    )
    cand = _two_phase_topk(
        approx, "query_id", [F.desc("__adc"), F.asc("neighbor_id")], refine
    ).drop("rank")
    # exact re-rank of the refine-sized candidate set
    qv = _cosine_side(queries, id_col, F.col(vec_col), "query_id", "q")
    nv = _cosine_side(corpus, id_col, F.col(vec_col), "neighbor_id", "n")
    return _cosine_topk(cand.join(F.broadcast(qv), "query_id").join(nv, "neighbor_id"), k)


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup via k-means cells (Abbas et al. 2023)
# ---------------------------------------------------------------------------


def semdedup(
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_centroids: int = 32,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    internals: list | None = None,
) -> DataFrame:
    """Semantic dedup, SemDeDup-style: cluster first, compare only
    within a cluster.

    Every vector is assigned to its nearest spherical-k-means cell (the
    same O(1)-trained literal-expression coarse quantizer as
    :func:`ann_ivf`); pairs with cosine >= ``min_cosine`` are found by a
    WITHIN-CELL self-join only — the paper's approximation: cross-cell
    near-dups are deliberately missed in exchange for bounding the
    quadratic pair search to cell size (corpus/K per cell in
    expectation; K scales with the corpus, so the per-cell work is a
    constant at any scale).  Groups come from the same contracted
    connected components as the LSH twin
    (:func:`embedding_dedup_clusters`); min-id is canonical.

    Returns ``(id_col, cluster, is_canonical)`` — linear in the corpus.

    ``internals`` (r14, the caches-out-param discipline): when a list is
    passed, the CHECKPOINTED within-cell edge relation ``(id_a, id_b)``
    is appended to it — callers that must re-derive the edges (the
    registry query's verdict invariants) can reuse the already-computed
    relation instead of re-planning the literal centroid expression and
    re-running the cell self-join. Contents are identical by
    construction (same centroids, threshold, and id_a < id_b filter).

    vs the LSH twin: LSH banding catches near-dups across the whole
    space but pays band-key shuffles per band; SemDeDup pays ONE shuffle
    on cell id and a bounded per-cell join — the right trade when
    near-dup similarity is high (0.9+) and embeddings cluster well.
    """
    C = centroids if centroids is not None else kmeans_centroids(
        vecs, id_col, vec_col, n_centroids, seed
    )
    v = _fixed_dim(vec_col, C.shape[1])
    # single-split scan => single-task K·dim cell assignment AND a
    # single-partition checkpoint that the within-cell self-join inherits
    # (r15; no-op at corpus scale)
    assigned = _cosine_side(
        ensure_min_parallelism(vecs), id_col, F.expr(v), id_col, "",
        _ivf_cell_expr(C, v).alias("__cell"),
    ).localCheckpoint(eager=True)
    a = assigned.toDF("id_a", "__va", "__na", "__cell")
    b = assigned.toDF("id_b", "__vb", "__nb", "__cell")
    pairs = (
        a.join(b, ["__cell"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            cosine_with_norms(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            )
            >= F.lit(min_cosine)
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    if internals is not None:
        internals.append(pairs)
    # assigned's checkpoint blocks stay until the ContextCleaner drops the
    # unreferenced RDD — an eager unpersist here could strand the returned
    # plan on missing blocks in CC branches that don't re-checkpoint nodes.
    return _clusters(pairs, assigned, id_col)
