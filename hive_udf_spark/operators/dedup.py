"""Deduplication operators for LLM-data pipelines (BASELINE north star).

Exact dedup, MinHash+LSH near-dedup, SimHash, and n-gram Jaccard — all as
compositions of built-in DataFrame ops (Tier B: JVM expressions only, no
Python UDFs), shaped for 100 TB:

* **Exact**: content-hash then one hash-partitioned ``row_number``/
  ``dropDuplicates`` — a single shuffle of (hash, id), never of documents.
* **MinHash+LSH**: k per-token hashes → ``array_min`` per seed (signatures
  computed at scan, no shuffle) → explode b bands → self-join on
  (band, band-signature). Only the band join shuffles, and its payload is
  (band_key, doc_id) pairs. Hot band keys (boilerplate docs) skew the
  join: AQE skew-join is on by default in our session; for pathological
  corpora pre-salt by splitting oversized buckets.
* **Verification**: candidates are re-checked with exact set Jaccard —
  LSH is a *candidate generator*, the emitted pairs are exact.
* **SimHash**: 60-bit signature via per-bit majority vote, pairs bucketed
  by signature (identical-signature grouping needs no pairwise pass).

``portable=True`` computes hashes from md5 (functions.hashing) so a DuckDB
oracle can reproduce signatures bit-for-bit; the default xxhash64 path is
~3× faster and is what a production corpus run would use.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.sql_formatter import SQLStringFormatter

from hive_udf_spark.functions.hashing import fast_hash64, portable_hash60
from hive_udf_spark.functions.text import ngrams, tokenize, word_set
from hive_udf_spark.operators.util import distinct_pairs, ensure_min_parallelism

_LOG = logging.getLogger(__name__)

# dedup_clusters(mode="exact") warns above this many verified pairs: the
# corpus is then in the quadratic-bucket regime mode="star" exists for.
_WARN_EDGES = 2_000_000
# connected_components broadcasts its node-sized label maps up to this many
# nodes; above it a map may not fit an executor and shuffle joins are used.
_BROADCAST_LABELS_MAX_NODES = 5_000_000

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content hash (lowest id wins — deterministic).

    Plan: project (hash, id), min-by aggregate id per hash (map-side
    partial min, so the shuffle carries one (hash, id) pair per
    partition×hash, never documents), then a semi-join of the original
    rows against the survivor-id set. The semi-join shuffles only the
    compact unique id (and is shuffle-free entirely when the source is
    bucketed by id — sources.sinks.write_bucketed); the window
    formulation this replaces shuffled whole document rows on the
    content hash.
    """
    survivors = (
        df.select(F.sha2(F.col(text_col), 256).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, id_col, "leftsemi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _column_sql(col: Column | str) -> str:
    """SQL text of a column reference, to splice into a parsed expression:
    a name, or a Column that is a plain reference such as ``F.col(name)``
    (the rule ``spark.sql`` applies to Column arguments)."""
    if isinstance(col, str):
        return "`" + col.replace("`", "``") + "`"
    return SQLStringFormatter(SparkSession.active()).format("{0}", col)


def _token_hash_sql(token: str, seed: int, portable: bool) -> str:
    """SQL of ``functions.hashing.portable_hash60`` (``portable``) or
    ``fast_hash64`` of ``token`` under ``seed``."""
    if portable:
        return f"CAST(conv(substring(md5(concat('{seed}:', {token})), 1, 15), 16, 10) AS BIGINT)"
    return f"xxhash64({seed}, {token})"


def minhash_signature(
    tokens: Column | str, num_hashes: int = 16, portable: bool = False
) -> Column:
    """Array of per-seed min-hashes over a token array (the MinHash
    signature; Broder 1997). Computed entirely at scan time — one
    ``array_min(transform(...))`` per seed, no shuffle, no Python.

    ``tokens`` is a column name or a plain column reference. The whole
    signature is one parsed SQL expression: built through the Python API
    it took about 40 py4j round trips per seed (60 portable), 600-1000 per
    signature, on every call of the operators that compute one."""
    t = _column_sql(tokens)
    return F.expr(
        "array("
        + ", ".join(
            f"array_min(transform({t}, __t -> {_token_hash_sql('__t', seed, portable)}))"
            for seed in range(num_hashes)
        )
        + ")"
    )


def _token_sets(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int | None = None,
    hashed_tokens: bool = False,
    portable: bool = False,
    num_hashes: int | None = None,
) -> DataFrame:
    """``(__id, __w)``: one distinct shingle set per document, plus the
    MinHash signature ``sig`` when ``num_hashes`` is given.

    The shingle is the distinct word by default; ``shingle_n=k`` makes it
    the word k-gram. ``hashed_tokens`` replaces every shingle by its
    xxhash64 (distinct is preserved modulo 64-bit collisions). Empty sets
    are dropped: their Jaccard is 0/0 (undefined — and the integer verify
    ``0 >= t·0`` would pass it), and their all-null signatures collide in
    every band, so N empty docs would otherwise form an N² candidate
    clique."""
    if hashed_tokens and portable:
        raise ValueError("hashed_tokens is a fast-path option; portable mode keeps exact strings")
    if shingle_n is None:
        shingles = word_set(text_col)
    else:
        shingles = F.array_distinct(ngrams(tokenize(text_col), shingle_n))
    if hashed_tokens:
        shingles = F.transform(shingles, lambda t: F.xxhash64(t))
    sets = docs.select(F.col(id_col).alias("__id"), shingles.alias("__w")).filter(
        F.size("__w") > 0
    )
    if num_hashes is None:
        return sets
    return sets.withColumn("sig", minhash_signature("__w", num_hashes, portable))


def _materialized(df: DataFrame, caches: list[DataFrame] | None) -> DataFrame:
    """Compute once a relation that several plan branches read.

    With a ``caches`` list the frame is persisted and appended to it; the
    CALLER unpersists it after its final action. Without one (the
    default, which never leaks executor storage across calls) it becomes
    a lazy local checkpoint: computed by the first stage that needs it,
    reused by the others, reclaimed by the ContextCleaner when the plan
    is dropped, with lineage past it truncated. Without either the corpus
    is re-tokenized and re-hashed once per branch (r14 measured 3 scans
    of ``documents`` in the near-dup plan, 12 in the prefix plan)."""
    if caches is None:
        return df.localCheckpoint(eager=False)
    df = df.persist()
    caches.append(df)
    return df


def _rows_per_band(num_hashes: int, bands: int) -> int:
    rows_per_band = num_hashes // bands
    if bands * rows_per_band != num_hashes:
        raise ValueError("num_hashes must equal bands * rows_per_band")
    return rows_per_band


def _band_key(sig: Column, band: Column, rows_per_band: int, hashed: bool) -> Column:
    band_slice = F.slice(sig, band * rows_per_band + 1, rows_per_band)
    if hashed:
        return F.xxhash64(band, band_slice)
    return F.array_join(F.transform(band_slice, lambda x: x.cast("string")), "_")


def _banded(
    df: DataFrame, id_col: str, sig_col: str, bands: int, rows_per_band: int, hashed: bool
) -> DataFrame:
    """``(__id, __band, __bkey)``: one fixed-width row per document and
    LSH band — all that a band join shuffles."""
    return df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("__band"),
        F.col(sig_col).alias("__sig"),
    ).select(
        "__id",
        "__band",
        _band_key(F.col("__sig"), F.col("__band"), rows_per_band, hashed).alias("__bkey"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 8,
    rows_per_band: int = 2,
    hashed_band_key: bool = False,
) -> DataFrame:
    """Self-join documents whose signatures collide in ≥1 LSH band.

    Emits distinct (id_a, id_b) with id_a < id_b, deduplicated by
    :func:`util.distinct_pairs`. The band join shuffles (band_index,
    band_signature); the dedup of multi-band collisions shuffles
    (id_a, id_b) once, at full width.

    hashed_band_key=True joins on xxhash64(band, slice) — an 8-byte key
    instead of a multi-component string, shrinking the band shuffle and
    speeding key comparison. Hash collisions only ADD candidates, which
    the exact-Jaccard verify removes, so semantics are unchanged; the
    portable/oracle path keeps strings (its SQL mirror reproduces them).
    """
    banded = _banded(df, id_col, sig_col, bands, rows_per_band, hashed_band_key)
    left = banded.alias("a")
    right = banded.alias("b")
    return distinct_pairs(
        left.join(
            right,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__bkey") == F.col("b.__bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )


def _sig_agreement_unrolled(sig_a: str, sig_b: str, num_hashes: int) -> Column:
    """Number of agreeing MinHash signature components — the unbiased
    Jaccard estimate's numerator. Unrolled into ``num_hashes`` codegen'd
    equality terms instead of an ``aggregate(zip_with(...))`` fold:
    higher-order functions are CodegenFallback (interpreted lambda
    evaluation per element PER CANDIDATE PAIR — the hottest row count in
    the pipeline). Value-identical: signatures always have exactly
    ``num_hashes`` components and integer addition is associative. One
    parsed SQL expression, as :func:`minhash_signature` (through the
    Python API it took about 1,700 py4j round trips at 16 hashes)."""
    a, b = _column_sql(sig_a), _column_sql(sig_b)
    return F.expr(
        " + ".join(
            f"CAST(element_at({a}, {i}) = element_at({b}, {i}) AS INT)"
            for i in range(1, num_hashes + 1)
        )
    )


def jaccard_pair_stats(tokens_a: Column, tokens_b: Column) -> tuple[Column, Column]:
    """(|A∩B|, |A∪B|) over distinct-token arrays — integer-exact, so the
    threshold comparison is engine-portable with no float ambiguity.

    The arrays are distinct sets, so |A∪B| = |A| + |B| − |A∩B|: one
    array_intersect per pair instead of intersect + union (array_union
    builds and materializes a merged array per candidate just to take
    its size — measured dead weight on the verify join, the heaviest
    stream in the dedup pipeline). :func:`_exact_verify` takes the sizes
    hoisted onto its attach sides instead of the F.size calls.
    """
    inter = F.size(F.array_intersect(tokens_a, tokens_b))
    union = F.size(tokens_a) + F.size(tokens_b) - inter
    return inter, union


def _exact_verify(
    cands: DataFrame,
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "__id",
    tokens_col: str = "__w",
    size_col: str | None = None,
    denominator: str = "union_size",
    sig_prefilter_margin: float | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """Exact set-overlap verify of a candidate pair stream.

    ``cands`` holds two key columns; the token sets of ``left`` (keyed by
    the first) and ``right`` (keyed by the second) attach with ONE join
    per side, so the candidate stream — the largest frame in the pipeline,
    on dup-heavy corpora several times the corpus size — crosses exactly
    two joins. Each side carries its set size (``size_col``, else computed
    from the tokens) once per document rather than once per pair.

    Every caller deduplicates ``cands`` with :func:`util.distinct_pairs`,
    so the stream arrives in full-width hash partitions that AQE does
    not coalesce: the ``array_intersect`` per pair runs on every core,
    and a sort-merge attach re-hashes the stream with no exchange added
    here.

    ``sig_prefilter_margin``: the sides also carry their ``sig`` and,
    between the joins' output and the verify, pairs whose unbiased
    MinHash estimate (agreeing components / ``num_hashes``) is below
    threshold − margin are dropped — an inline filter, no extra shuffle.

    Returns ``(key_a, key_b, inter_size, union_size, size_a, size_b)``
    for the pairs with ``inter / denominator ≥ threshold``, tested by
    integer cross-multiplication in 64 bits, so the comparison is exact
    and engine-portable."""
    key_a, key_b = cands.columns
    prefilter = sig_prefilter_margin is not None

    def side(df: DataFrame, key: str, tag: str) -> DataFrame:
        size = F.size(tokens_col) if size_col is None else F.col(size_col)
        cols = [
            F.col(id_col).alias(key),
            F.col(tokens_col).alias(f"__w{tag}"),
            size.alias(f"size_{tag}"),
        ]
        if prefilter:
            cols.append(F.col("sig").alias(f"__s{tag}"))
        return df.select(*cols)

    joined = cands.join(side(left, key_a, "a"), key_a).join(side(right, key_b, "b"), key_b)
    if prefilter:
        est_num = _sig_agreement_unrolled("__sa", "__sb", num_hashes)
        cut_ppm = int(round((float(threshold) - float(sig_prefilter_margin)) * 1_000_000))
        joined = joined.filter(est_num * F.lit(1_000_000) >= F.lit(cut_ppm * num_hashes))
    # inter_size comes out of a one-element explode so that the intersect
    # runs once per pair: Catalyst inlines the threshold filter on the
    # projected sizes into the second attach join's condition (one copy of
    # the intersect per size, two more in the output Project), and it
    # pushes no filter below the Generate that produces its column.
    inter = F.size(F.array_intersect("__wa", "__wb"))
    union = F.col("size_a") + F.col("size_b") - F.col("inter_size")
    t_ppm = int(round(float(threshold) * 1_000_000))
    return joined.select(
        key_a, key_b, F.explode(F.array(inter)).alias("inter_size"), "size_a", "size_b"
    ).select(
        key_a,
        key_b,
        "inter_size",
        union.alias("union_size"),
        "size_a",
        "size_b",
    ).filter(
        F.col("inter_size").cast("long") * 1_000_000
        >= F.lit(t_ppm) * F.col(denominator).cast("long")
    )


def near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    portable: bool = False,
    sig_prefilter_margin: float | None = None,
    shingle_n: int | None = None,
    hashed_tokens: bool = False,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline.

    Returns (id_a, id_b, inter_size, union_size) for candidate pairs whose
    *exact* shingle-set Jaccard ≥ threshold. bands×rows must equal
    num_hashes. The shingle unit is the distinct word set by default;
    shingle_n=k switches to word k-gram shingles (the classic
    shingle→minhash formulation — order-sensitive, so reordered text stops
    matching; note that on bag-of-words corpora k-gram similarity is near
    zero and word-set shingles are the meaningful signal).

    Choose bands for the threshold: collision probability at similarity s
    is 1-(1-s^r)^b with r = num_hashes/bands. For t≈0.5 use r=2; for
    t≈0.7+ use r=4 — too-small r floods the verify join with low-sim
    candidates on boilerplate-heavy corpora.

    sig_prefilter_margin (e.g. 0.25): before shipping token arrays,
    estimate Jaccard as the fraction of agreeing signature components
    (an unbiased MinHash estimate) and drop candidates whose estimate is
    below threshold − margin. Cuts the expensive verify-join payload;
    margin ≥ ~3σ = 3·√(t(1−t)/k) keeps it effectively lossless. The
    portable/oracle path leaves this off so the SQL mirror stays simple.

    hashed_tokens=True (fast path only, incompatible with portable):
    replace each shingle string with its xxhash64 before signatures and
    verification. Set ops compare 8-byte longs instead of variable-width
    strings — measured ~25% faster end-to-end on a dup-heavy corpus.
    A 64-bit collision could perturb an inter/union size by 1 with
    probability ~n²·2⁻⁶⁴ per document — the same accepted trade-off as
    ``hashed_band_key``; use the default exact-string path when byte
    exactness matters more than throughput.

    caches: the signature table feeds the band self-join (×2), the
    prefilter (×2), and the verify join (×2) — materializing it avoids
    re-tokenizing and re-hashing the corpus once per plan branch (at
    100 TB: "write the signature table once, then join against it").
    Pass a list to opt in: persisted frames are appended to it and the
    CALLER unpersists them after its final action. The default (None)
    never persists, so repeated calls in a long-lived session cannot
    leak executor storage.
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    # A single-split corpus scan (one small parquet file) makes EVERYTHING
    # downstream single-task: the signature transform, the band explode,
    # the 30M-row band-join fan-out AND its partial dedup all inherit the
    # scan's one partition (r15 measured: the candidate stage alone was
    # 6.2 s single-task vs sub-second scattered). Round-robin the cheap
    # text rows up front; no-op once the scan has >= cluster-width splits.
    with_sig = _token_sets(
        ensure_min_parallelism(docs),
        id_col,
        text_col,
        shingle_n=shingle_n,
        hashed_tokens=hashed_tokens,
        portable=portable,
        num_hashes=num_hashes,
    )
    # the signature relation feeds the band join and both verify sides
    with_sig = _materialized(with_sig, caches)
    cands = lsh_candidate_pairs(
        with_sig, "__id", "sig", bands, rows_per_band, hashed_band_key=not portable
    )
    return _exact_verify(
        cands,
        with_sig,
        with_sig,
        threshold,
        sig_prefilter_margin=sig_prefilter_margin,
        num_hashes=num_hashes,
    ).select("id_a", "id_b", "inter_size", "union_size")


# ---------------------------------------------------------------------------
# Cluster-based dedup (linear output)
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    max_iters: int = 15,
    edges_materialized: bool = False,
    driver_solve_max_edges: int = 1_000_000,
) -> DataFrame:
    """Min-label propagation connected components on (id_a, id_b) edges.

    Returns (id, component) where component = min node id reachable.

    Two-level strategy: first contract every node to the min of its
    closed neighborhood (one pass over the edge list), then solve the
    CONTRACTED graph — which on near-dup corpora holds only the rare
    inter-clique links. If it fits ``driver_solve_max_edges`` it is
    solved with a driver-side union-find (the bounded-driver-work
    pattern also used for IVF training: collecting a ≤1M-edge remainder
    beats 3-5 distributed iterations each costing a scheduling round
    trip); larger remainders run the distributed min-label fixpoint,
    each round a join + min-aggregate linear in the contracted size.
    This is why dedup at 100 TB reports clusters, not pair lists.

    edges_materialized=True: the caller already checkpointed the edge
    list (e.g. to release upstream caches first) — skip re-materializing
    it, which would copy a possibly multi-million-row pair list twice.
    """
    if not edges_materialized:
        # materialize the edge list BEFORE symmetrizing — the union has two
        # branches over `edges`, so checkpointing after would execute the
        # (possibly expensive) upstream pipeline twice; and without any
        # materialization it would re-execute every iteration AND every
        # convergence check. At cluster scale use .checkpoint() to reliable
        # storage instead.
        edges = edges.localCheckpoint(eager=True)
    sym = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )

    # One-pass contraction before iterating (the expensive part of CC is
    # joining the FULL edge list per round): map every node to the min of
    # its closed neighborhood (one edge-list aggregate, no join), then
    # build the contracted graph between those representatives. On
    # near-dup graphs — near-clique unions — the contracted graph is tiny
    # (inter-clique links only), so the iterative fixpoint below joins
    # thousands of rows per round instead of millions. Correct because
    # contraction by an in-component representative preserves
    # connectivity, and each component's global min maps to itself.
    nbr_min = sym.groupBy("src").agg(F.min("dst").alias("__nm"))
    label1 = (
        nodes.join(nbr_min, nodes.id == nbr_min.src, "left")
        .select(
            "id",
            F.least(F.col("id"), F.coalesce(F.col("__nm"), F.col("id"))).alias("__l1"),
        )
        .localCheckpoint(eager=True)
    )
    # The label map is node-count-sized — orders of magnitude smaller than
    # the edge list on dup-heavy graphs. Broadcasting it keeps the (large)
    # edge list from shuffling twice just to pick up labels: relabeling
    # happens map-side, intra-component edges collapse to self-loops and
    # are filtered BEFORE the only remaining exchange (the distinct over
    # the rare inter-representative edges). label1 is checkpointed, so
    # counting it is cheap; above the cap (map wouldn't fit an executor)
    # fall back to shuffle joins.
    n_nodes = label1.count()
    bcast = n_nodes <= _BROADCAST_LABELS_MAX_NODES
    l_src = label1.select(F.col("id").alias("src"), F.col("__l1").alias("__la"))
    l_dst = label1.select(F.col("id").alias("dst"), F.col("__l1").alias("__lb"))
    if bcast:
        l_src, l_dst = F.broadcast(l_src), F.broadcast(l_dst)
    contracted = (
        sym.join(l_src, "src")
        .join(l_dst, "dst")
        .select(F.col("__la").alias("src"), F.col("__lb").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = contracted.localCheckpoint(eager=True)

    n_contracted = sym.count()
    if n_contracted <= driver_solve_max_edges:
        # bounded driver-side union-find over the contracted remainder
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for row in sym.collect():
            ra, rb = find(row.src), find(row.dst)
            if ra != rb:
                # min-root union keeps "component = min id" exact
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        spark = sym.sparkSession
        mapping = [(k, find(k)) for k in parent]
        if mapping:
            comp_map = spark.createDataFrame(mapping, "__l1 long, component long")
            out = label1.join(F.broadcast(comp_map), "__l1", "left").select(
                "id", F.coalesce(F.col("component"), F.col("__l1")).alias("component")
            )
        else:
            out = label1.select("id", F.col("__l1").alias("component"))
        return out

    labels = label1.select(F.col("__l1").alias("id")).distinct().select(
        F.col("id"), F.col("id").alias("component")
    )
    labels = labels.localCheckpoint(eager=True)
    # labels only ever DECREASE under min-propagation, so the fixpoint test
    # is "sum of labels unchanged" — one cheap aggregate per round instead
    # of a labels⋈labels comparison join
    prev_sum = labels.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
    converged = False
    for _ in range(max_iters):
        lbl = F.broadcast(labels) if bcast else labels
        neighbor_min = (
            sym.join(lbl, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)  # cut lineage per round
        labels = new_labels
        new_sum = labels.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # a contracted remainder with diameter > max_iters would silently
        # return split components — surface it instead
        _LOG.warning(
            "connected_components: min-label fixpoint NOT reached after "
            "max_iters=%d (labels still changing) — components may be "
            "split; raise max_iters for high-diameter graphs.",
            max_iters,
        )
    # expand back: node → representative → component (representatives are
    # a subset of nodes — broadcast under the same cap)
    rep = labels.select(F.col("id").alias("__l1"), F.col("component"))
    if bcast:
        rep = F.broadcast(rep)
    return label1.join(rep, "__l1").select("id", "component")


def _clusters(edges: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """``(id_col, cluster, is_canonical)`` from a checkpointed verified
    edge list: connected components over every document, the cluster
    being its minimum id (the canonical member)."""
    nodes = docs.select(F.col(id_col).alias("id"))
    comps = connected_components(edges, nodes, edges_materialized=True)
    return comps.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def dedup_clusters(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
    sig_prefilter_margin: float | None = 0.25,
    hashed_tokens: bool = False,
    mode: str = "star",
) -> DataFrame:
    """Near-dup dedup with linear output: (doc_id, cluster, is_canonical).

    One entry point, two cost regimes (``mode``):

    * ``"star"`` (DEFAULT) — delegate to :func:`dedup_clusters_star`:
      within each LSH bucket connect members only to the bucket minimum
      (B−1 edges, each still exact-Jaccard verified). Linear candidate
      volume — the 100 TB path for corpus-scale dedup; cluster recall is
      approximate (pytest-measured ≥0.8 vs exact). The default is the
      scale-safe regime: the no-thought call must survive a 100× corpus.
    * ``"exact"`` — MinHash→LSH→verify every candidate pair
      (near_dup_pairs) → connected components. Exact pair semantics, but a
      bucket of B near-identical docs contributes O(B²) candidates: on
      boilerplate-heavy corpora the candidate join dominates (measured
      6.4M candidates from 5k docs). Opt in when pair-level fidelity
      matters more than cost.

    In ``"exact"`` mode a warning is logged when the verified edge list
    exceeds 2M pairs — the signal that the corpus is in the regime where
    the default ``mode="star"`` is the right call.

    The signature cache is scoped: materialized for the edge build, then
    unpersisted as soon as the edge list is checkpointed — nothing stays
    cached after this returns.
    """
    if mode not in ("exact", "star"):
        raise ValueError(f"mode must be 'exact' or 'star', got {mode!r}")
    if mode == "star":
        return dedup_clusters_star(
            docs,
            id_col,
            text_col,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            portable=portable,
            sig_prefilter_margin=sig_prefilter_margin,
            hashed_tokens=hashed_tokens,
        )
    caches: list[DataFrame] = []
    pairs = near_dup_pairs(
        docs,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        portable=portable,
        sig_prefilter_margin=sig_prefilter_margin,
        hashed_tokens=hashed_tokens,
        caches=caches,
    ).select("id_a", "id_b")
    # materialize edges now so the signature cache can be released before
    # the CC loop; CC is told not to re-checkpoint the (possibly
    # multi-million-row) pair list a second time
    pairs = pairs.localCheckpoint(eager=True)
    for cached in caches:
        cached.unpersist()
    n_edges = pairs.count()  # checkpointed — counting is cheap
    if n_edges > _WARN_EDGES:
        _LOG.warning(
            "dedup_clusters(mode='exact'): %d verified pairs exceed %d — "
            "this corpus is in the quadratic-bucket regime; mode='star' "
            "computes the same clusters with linear candidate volume "
            "(approximate recall).",
            n_edges,
            _WARN_EDGES,
        )
    return _clusters(pairs, docs, id_col)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(tokens: Column, bits: int = 60, portable: bool = True) -> Column:
    """Charikar SimHash over a distinct-token array: per-bit majority vote
    of token hashes, packed into a BIGINT. Pure fold expressions.

    bits ≤ 60 keeps the portable (md5-parse) path exact in any engine.
    """
    if not (1 <= bits <= 60):
        raise ValueError("bits must be in [1, 60]")
    h = (lambda t: portable_hash60(t, 0)) if portable else (lambda t: fast_hash64(t, 0))
    hashes = F.transform(tokens, h)

    def vote_for_bit(j: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda a, x: a + (F.shiftright(x, j).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    acc = F.lit(0).cast("long")
    for j in range(bits):
        acc = acc + F.when(vote_for_bit(j) > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return acc


def simhash_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    portable: bool = False,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """(id, simhash) for a corpus — the scalable formulation.

    Explodes to (id, token_hash) rows, then ONE wide hash-aggregate with
    `bits` conditional sums (each map-side partially aggregated), then
    packs sign bits. One pass over tokens, one doc-count-sized shuffle of
    60 longs per doc — versus the naive expression form which re-folds the
    token array per bit (60× the hash work). Same output as ``simhash``.

    caches: both sides of a downstream self-join read this table; pass a
    list to persist it (appended for the caller to unpersist after its
    final action). Default None never persists — no session-lifetime leak.
    """
    if not (1 <= bits <= 60):
        raise ValueError("bits must be in [1, 60]")
    h = (lambda t: portable_hash60(t, 0)) if portable else (lambda t: fast_hash64(t, 0))
    # single-split scan => single-task tokenize/explode + partial 60-sum
    # aggregate (r15; no-op at corpus scale)
    exploded = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("__id"), F.explode(word_set(text_col)).alias("__t")
    ).select("__id", h(F.col("__t")).alias("__h"))
    votes = [
        F.sum(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"__v{j}")
        for j in range(bits)
    ]
    agg = exploded.groupBy("__id").agg(*votes)
    packed = F.lit(0).cast("long")
    for j in range(bits):
        packed = packed + F.when(F.col(f"__v{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    # downstream self-joins read this table twice: compute the token
    # explode + 60-sum aggregate once, not once per side
    return _materialized(agg.select("__id", packed.alias("__sh")), caches)


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = 60,
    portable: bool = True,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    The pairwise pass is brute-force (id_a < id_b); suitable for verifying
    a candidate set or a partitioned corpus. At 100 TB, bucket by signature
    bands (split the 60 bits into (max_hamming+1) blocks — pigeonhole: any
    pair within distance d shares ≥1 exact block) before the pairwise pass;
    `simhash_block_pairs` below implements that candidate generator.
    """
    sigs = simhash_table(docs, id_col, text_col, bits, portable, caches=caches)
    a, b = sigs.alias("a"), sigs.alias("b")
    dist = F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh")))
    return (
        a.join(b, F.col("a.__id") < F.col("b.__id"))
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_block_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    bits: int = 60,
    portable: bool = False,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Scalable SimHash near-pair generator: pigeonhole blocking.

    Split the signature into (max_hamming+1) bit-blocks; any pair within
    Hamming distance ≤ max_hamming agrees exactly on ≥1 block, so an
    equi-join per block finds all such pairs without an all-pairs pass —
    the same join-shuffle shape as MinHash LSH bands.
    """
    sigs = simhash_table(docs, id_col, text_col, bits, portable, caches=caches)
    return hamming_block_pairs(sigs, "__id", "__sh", max_hamming=max_hamming, bits=bits)


def hamming_block_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 6,
    bits: int = 60,
) -> DataFrame:
    """Generic pigeonhole-blocked near-pair generator over ANY integer
    signature column (SimHash, image aHash/dHash, audio fingerprints):
    split the signature into (max_hamming+1) bit-blocks; a pair within
    Hamming distance ≤ max_hamming agrees exactly on ≥1 block, so one
    equi-join per block finds every such pair with a band-key-only
    shuffle — never an all-pairs pass. Emits (id_a, id_b, hamming) with
    id_a < id_b, exact distances (candidates verified by bit_count of
    xor)."""
    n_blocks = max_hamming + 1
    block_bits = bits // n_blocks
    if block_bits < 1:
        raise ValueError(f"bits={bits} too small for max_hamming={max_hamming}")
    blocks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    mask = F.lit((1 << block_bits) - 1).cast("long")
    banded = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sig_col).alias("__sh"),
        F.explode(blocks).alias("__blk"),
    ).withColumn(
        # F.shiftright only takes a literal shift; the SQL form accepts exprs
        "__bkey",
        F.expr(f"shiftright(__sh, __blk * {block_bits})").bitwiseAND(mask),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.__blk") == F.col("b.__blk"))
            & (F.col("a.__bkey") == F.col("b.__bkey"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sh").alias("__sha"),
            F.col("b.__sh").alias("__shb"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("__sha").bitwiseXOR(F.col("__shb")))
    return cands.select("id_a", "id_b", dist.alias("hamming")).filter(F.col("hamming") <= max_hamming)


def dedup_clusters_star(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
    sig_prefilter_margin: float | None = None,
    hashed_tokens: bool = False,
) -> DataFrame:
    """Approximate cluster dedup with O(bucket) edges — the 100 TB path.

    ``dedup_clusters(mode="exact")`` enumerates every verified pair:
    exact, but a bucket of B near-identical documents contributes B²
    candidate pairs — on boilerplate-heavy corpora the candidate join
    dwarfs everything else (measured: 6.4M candidates from 5k docs on the
    test corpus).

    This variant applies the standard star reduction: within each LSH band
    bucket, connect members only to the bucket's minimum id — B−1 edges
    per bucket instead of B(B−1)/2. Each star edge is still verified with
    exact Jaccard ≥ threshold. Connectivity is preserved through bucket
    overlap, but a pair whose similarity routes only *through* an
    unverified hub may split — so cluster recall is approximate (measured
    against the exact variant in tests/test_dedup_clusters.py). This is
    the ``dedup_clusters`` default; opt into ``mode="exact"`` when exact
    pair semantics matter more than cost.

    ``sig_prefilter_margin`` / ``hashed_tokens`` carry the same semantics
    as in :func:`near_dup_pairs` (signature-estimate prune before the
    exact verify; 8-byte hashed shingles instead of strings) so the fast
    paths requested through ``dedup_clusters(mode="star", ...)`` are
    honored rather than silently dropped.
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    # single-split scan => single-task signature chain, as in
    # near_dup_pairs (r15; no-op at corpus scale). Matched A/B kept this:
    # WITH the scatter the cluster entries measured 3.4/2.6 s vs
    # 14.6/3.4 without in the same session (full-run comparisons were
    # confounded by session-level drift on this box). Only the token sets
    # take it: the cluster step's node ids are hashed by a join at once.
    with_sig = _token_sets(
        ensure_min_parallelism(docs),
        id_col,
        text_col,
        hashed_tokens=hashed_tokens,
        portable=portable,
        num_hashes=num_hashes,
    )
    # scoped cache: released below, right after the star edges materialize
    with_sig = with_sig.persist()
    banded = _banded(with_sig, "__id", "sig", bands, rows_per_band, not portable)
    # star edges: every member -> bucket minimum (skip singleton buckets)
    bucket_min = banded.groupBy("__band", "__bkey").agg(F.min("__id").alias("__hub"))
    star = distinct_pairs(
        banded.join(bucket_min, ["__band", "__bkey"])
        .filter(F.col("__id") != F.col("__hub"))
        .select(F.col("__hub").alias("id_a"), F.col("__id").alias("id_b"))
    )
    # exact-Jaccard verification of the (linear-sized) star edge set
    edges = _exact_verify(
        star,
        with_sig,
        with_sig,
        threshold,
        sig_prefilter_margin=sig_prefilter_margin,
        num_hashes=num_hashes,
    ).select("id_a", "id_b")
    # materialize the (small) verified edge list, then drop the signature
    # cache before the CC loop — nothing stays cached after this returns
    edges = edges.localCheckpoint(eager=True)
    with_sig.unpersist()
    return _clusters(edges, docs, id_col)


# ---------------------------------------------------------------------------
# Incremental dedup: persisted MinHash index + batch probe
# ---------------------------------------------------------------------------


def build_minhash_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    portable: bool = False,
    hashed_tokens: bool = False,
) -> DataFrame:
    """The persistable MinHash index: one row per document with
    ``(id_col, tokens, sig)``.

    This is the 100 TB incremental-dedup contract: build (and sink —
    sources/sinks.py writes partitioned/bucketed tables) the index over
    the existing corpus ONCE; every new ingest batch then probes it via
    :func:`probe_minhash_index` without rescanning or re-hashing corpus
    text. Storing the distinct token set alongside the signature makes
    the index self-contained for exact verification. Empty token sets
    are excluded (undefined 0/0 Jaccard; see near_dup_pairs).
    """
    # NOT scattered (r15, measured): an ensure_min_parallelism input
    # scatter here improved nothing reliably in the broadcast probe
    # regime (matched runs ~3.3 s either way) and regressed the
    # deliberately broadcast-disabled probe regime 1.3-2x — its SMJ plan
    # re-exchanges the projected columns anyway, so the extra raw-text
    # exchange is pure cost.
    return _token_sets(
        docs,
        id_col,
        text_col,
        hashed_tokens=hashed_tokens,
        portable=portable,
        num_hashes=num_hashes,
    ).select(F.col("__id").alias(id_col), F.col("__w").alias("tokens"), "sig")


def probe_minhash_index(
    index: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    portable: bool = False,
    hashed_tokens: bool = False,
) -> DataFrame:
    """Near-dups of a NEW batch against an existing corpus index:
    (batch_id, corpus_id, inter_size, union_size) where the exact
    token-set Jaccard ≥ threshold.

    Scale shape: both sides explode to fixed-width (id, band, bkey) rows
    — the shuffle carries band keys only, never tokens or signatures;
    token sets attach to the deduplicated candidate pair stream with one
    join per side (the near_dup_pairs discipline). The corpus side is
    the pre-built index — the only corpus scan is of the index table
    itself, and with the index bucketed by ``id_col`` the verify join on
    corpus_id is shuffle-free on that side. Batch-vs-batch pairs are NOT
    emitted (use near_dup_pairs on the batch for those).
    """
    rows_per_band = _rows_per_band(num_hashes, bands)
    probe = build_minhash_index(
        batch, id_col, text_col, num_hashes, portable, hashed_tokens
    )
    # NOT checkpointed (r14, measured): the two plan branches per side
    # read DISJOINT columns (band keys need only `sig`, the verify
    # payload only `tokens`), so column pruning already keeps each
    # branch's recompute minimal; materializing full (id, tokens, sig)
    # rows regressed the forced-shuffle bench regime 14% by shipping
    # the unused column through the block store.

    def banded(side: DataFrame, role: str) -> DataFrame:
        return _banded(side, id_col, "sig", bands, rows_per_band, not portable).withColumnRenamed(
            "__id", f"{role}_id"
        )

    cands = distinct_pairs(
        banded(probe, "batch")
        .join(banded(index, "corpus"), ["__band", "__bkey"])
        .select("batch_id", "corpus_id")
    )
    return _exact_verify(
        cands, probe, index, threshold, id_col=id_col, tokens_col="tokens"
    ).select("batch_id", "corpus_id", "inter_size", "union_size")


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    portable: bool = False,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. 2007) — the deterministic complement to MinHash-LSH:
    every pair with word-set Jaccard ≥ ``threshold`` is found, no
    probabilistic recall.

    Principle: order all tokens by ascending global frequency (rarest
    first, ties by token). A pair with J ≥ t needs overlap ≥ ⌈t·|s|⌉ on
    both sides, so each side must hit the other inside its first
    |s| − ⌈t·|s|⌉ + 1 tokens of that order — the *prefix*. Candidates =
    pairs sharing ≥ 1 prefix token; because prefixes hold the RAREST
    tokens, candidate volume collapses (boilerplate tokens are everyone's
    suffix, never joined on). A size filter (t·|B| ≤ |A|) prunes further;
    exact Jaccard verification makes the output exact.

    Plan: one token-frequency aggregate (partial-counted), a broadcast
    rank join at scan, prefix explode, token-keyed self-join (the only
    big shuffle — fixed-width (token-rank, id) rows), then the shared
    hoisted-Jaccard verify. Hot tokens cannot skew the join: by
    construction the join keys are the rare tokens. Emits (id_a, id_b,
    inter_size, union_size).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    # single-split scan => single-task tokenize/explode chain (r15; no-op
    # at corpus scale). The word sets feed the frequency aggregate, the
    # rank join and both verify sides.
    ws = _materialized(_token_sets(ensure_min_parallelism(docs), id_col, text_col), caches)
    ranked = _ranked_by_freq(ws)
    cands = _prefix_candidates_from_ranked(ranked, threshold)
    keys = _ranked_keys(ranked)
    return _exact_verify(cands, keys, keys, threshold, size_col="__n").select(
        "id_a",
        "id_b",
        F.col("inter_size").cast("long").alias("inter_size"),
        F.col("union_size").cast("long").alias("union_size"),
    )


def _token_freq(ws: DataFrame) -> DataFrame:
    """``(__t, __f)``: the global document frequency of every token of a
    ``(__id, __w)`` distinct-token relation (partial-counted map-side)."""
    return ws.select(F.explode("__w").alias("__t")).groupBy("__t").agg(
        F.count(F.lit(1)).alias("__f")
    )


def _ranked_by_freq(ws: DataFrame) -> DataFrame:
    """Per-doc token structs sorted by the global canonical order, from a
    prepared ``(__id, __w)`` distinct-token relation: returns
    ``(__id, __n, __rs array<struct<__f, __k>>)`` with ``__rs`` sorted by
    (ascending global frequency, key).

    r15: ``__k`` is ``xxhash64(token)`` — an 8-byte join/verify key
    instead of a variable-width string, shrinking every downstream
    exchange and switching the per-pair verify intersect from the
    generic string hash-set path to Spark's specialized primitive
    codegen — WHEN the hash is injective over the vocabulary, which one
    aggregate over the (already materialized) frequency relation
    verifies at plan-build time (count == countDistinct(hash); a 64-bit
    collision over a vocab needs ~2^32 tokens to become likely). On
    collision the key falls back to the token string — bit-identical to
    the pre-r15 behavior — so the EXACT contract holds at any scale.
    Correctness does not depend on WHICH injective key is used: any
    consistent global total order yields a valid prefix (the candidate
    set may differ, the verified output cannot — intersection sizes are
    invariant under injective mapping).

    No dense rank materialization: a global row_number over the
    vocabulary would be a single-partition window — this stays an
    ordinary shuffle join + per-doc sort, the billion-token shape."""
    # materialized eagerly: the injectivity guard below must run NOW, and
    # the rank join then reuses the same blocks instead of re-aggregating
    freq = _token_freq(ws).localCheckpoint(eager=True)
    n_tok, n_hash = freq.agg(
        F.count(F.lit(1)), F.countDistinct(F.xxhash64("__t"))
    ).collect()[0]
    if n_tok == n_hash:
        key = F.xxhash64("__t")
    else:  # pragma: no cover - needs an xxhash64 collision in the vocab
        _LOG.warning(
            "_ranked_by_freq: xxhash64 collision in a %d-token vocabulary; "
            "falling back to string token keys",
            n_tok,
        )
        key = F.col("__t")
    ranked = (
        ws.select("__id", F.size("__w").alias("__n"), F.explode("__w").alias("__t"))
        .join(freq, "__t")
        .groupBy("__id", "__n")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__f"), key.alias("__k")))
            ).alias("__rs")
        )
    )
    # one materialization feeds the probe/index explodes AND both verify
    # sides (the prefix pipeline's widest fan-out)
    return ranked.localCheckpoint(eager=False)


def _ranked_keys(ranked: DataFrame) -> DataFrame:
    """``(__id, __w, __n)`` from a ``_ranked_by_freq`` relation: each
    document's token keys — the sets the exact verify intersects."""
    return ranked.select(
        "__id", F.transform(F.col("__rs"), lambda s: s["__k"]).alias("__w"), "__n"
    )


def _probe_prefix_len(t_ppm: int) -> Column:
    """``n − ⌈t·n⌉ + 1``: the prefix of a ``_ranked_by_freq`` row that
    must hold a token of any set it overlaps in ≥ ⌈t·n⌉ tokens
    (long-widened: ANSI overflow at int32 n * t_ppm — the pre-r15
    lesson)."""
    return (
        F.col("__n")
        - F.expr(f"CAST((CAST(__n AS BIGINT) * {t_ppm} + 999999) div 1000000 AS INT)")
        + F.lit(1)
    )


def _ranked_positions(ranked: DataFrame, prefix_len: Column | None = None) -> DataFrame:
    """``(__id, __n, __p, __r)``: one row per token of each
    ``_ranked_by_freq`` row's first ``prefix_len`` tokens (all of them
    when None), with its 0-based position ``__p`` and join key ``__r``."""
    rs = F.col("__rs") if prefix_len is None else F.slice("__rs", 1, prefix_len)
    return ranked.select(
        "__id", "__n", F.posexplode(rs).alias("__p", "__s")
    ).select("__id", "__n", "__p", F.col("__s.__k").alias("__r"))


def _prefix_candidates_from_ranked(ranked: DataFrame, threshold: float) -> DataFrame:
    """Candidate id pairs from a ``_ranked_by_freq`` relation: the
    AllPairs/PPJoin candidate join with the r15 tightenings —

    - **mid-prefix on the indexed side** (Bayardo/Xiao): the smaller set
      of a qualifying pair (by (size, id) order) must hit the larger
      inside its first ``n − ⌈2t/(1+t)·n⌉ + 1`` tokens, so the indexed
      side explodes ~half the probe prefix at high thresholds;
    - **positional filter** (PPJoin): a match at 0-based positions
      (pa, pb) can only belong to a qualifying pair if
      ``min(na−pa, nb−pb) ≥ α`` with ``α = ⌈t/(1+t)·(na+nb)⌉`` — the
      first common token of a true pair always satisfies it, so the
      filter drops join rows, never pairs.

    Both are necessary conditions on the FIRST common token in the
    canonical order, so the candidate set stays a superset of the true
    pair set and the exact verify is unchanged."""
    t_ppm = int(round(threshold * 1_000_000))
    denom = 1_000_000 + t_ppm
    # index (mid) prefix: n - ceil(2t/(1+t)*n) + 1
    ilen = (
        F.col("__n")
        - F.expr(
            f"CAST((CAST(__n AS BIGINT) * {2 * t_ppm} + {denom - 1}) div {denom} AS INT)"
        )
        + F.lit(1)
    )
    probe = _ranked_positions(ranked, _probe_prefix_len(t_ppm))
    index = _ranked_positions(ranked, ilen)
    a, b = index.alias("a"), probe.alias("b")
    # alpha = ceil(t/(1+t) * (na+nb)), exact integer rational
    alpha = F.expr(
        f"CAST(((CAST(a.__n AS BIGINT) + CAST(b.__n AS BIGINT)) * {t_ppm}"
        f" + {denom - 1}) div {denom} AS BIGINT)"
    )
    return distinct_pairs(
        a.join(
            b,
            (F.col("a.__r") == F.col("b.__r"))
            # a is the strictly-smaller side by (n, id): each qualifying
            # pair is generated exactly once, in this orientation
            & (
                (F.col("a.__n") < F.col("b.__n"))
                | ((F.col("a.__n") == F.col("b.__n")) & (F.col("a.__id") < F.col("b.__id")))
            )
            # size filter: t*|larger| <= |smaller| is necessary
            & (F.col("a.__n").cast("long") * F.lit(1_000_000) >= F.lit(t_ppm) * F.col("b.__n").cast("long"))
            # positional filter (0-based positions)
            & (
                F.least(
                    F.col("a.__n").cast("long") - F.col("a.__p"),
                    F.col("b.__n").cast("long") - F.col("b.__p"),
                )
                >= alpha
            ),
        ).select(
            F.least(F.col("a.__id"), F.col("b.__id")).alias("id_a"),
            F.greatest(F.col("a.__id"), F.col("b.__id")).alias("id_b"),
        )
    )


def prefix_filter_candidates(ws: DataFrame, threshold: float) -> DataFrame:
    """Candidate stage of :func:`prefix_filter_pairs`: distinct id pairs
    sharing at least one prefix token and passing the size/positional
    filters, from a prepared ``(__id, __w)`` word-set relation. Exposed
    separately so the candidate volume (the quantity prefix filtering
    exists to collapse) is measurable without the verify join."""
    return _prefix_candidates_from_ranked(_ranked_by_freq(ws), threshold)


def dedup_representatives(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    **cluster_kwargs,
) -> DataFrame:
    """Keep-one-per-cluster dedup WITH multiplicity: one representative
    document per near-dup cluster (the cluster's minimum id — the
    canonical member ``dedup_clusters`` already marks) and the cluster
    size as ``multiplicity`` — the "dedup but keep the counts" contract
    training pipelines want when duplicates should up-weight a kept
    example (e.g. loss weighting or epoch repetition by popularity)
    instead of silently biasing the corpus toward boilerplate.

    ``cluster_kwargs`` pass through to :func:`dedup_clusters` (mode,
    threshold, portable, ...). Output: (cluster, rep_id, multiplicity);
    singletons appear with multiplicity 1, so Σ multiplicity = |docs|.
    One extra aggregate over the cluster relation beyond the clustering
    itself — nothing rescans text.
    """
    clusters = dedup_clusters(docs, id_col, text_col, **cluster_kwargs)
    return clusters.groupBy("cluster").agg(
        F.min(id_col).alias("rep_id"),
        F.count(F.lit(1)).cast("long").alias("multiplicity"),
    )


def shared_signature_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    min_shared: int = 1,
    max_sig_freq: int | None = None,
) -> DataFrame:
    """Pairs of items sharing at least ``min_shared`` distinct signature
    values from an (id, signature) relation — the shared-keyframe video
    dedup shape, and generally any "two containers overlap on >= m
    exact members" join (shared frame hashes, shared shingle
    fingerprints, shared attachment digests).

    Plan shape (100 TB discipline): candidate generation is a bucketed
    equi-self-join on the signature value — a fixed-width (sig, id)
    shuffle, never an all-pairs pass; pair multiplicity is then one
    partial-aggregated count. Pair volume is Σ_s f_s² over signature
    frequencies, so ``max_sig_freq`` caps the hot buckets (the black
    frame / empty page problem): signatures shared by more items are
    dropped from candidate generation BEFORE the join, the same max_df
    discipline as retrieval's posting-list cut. Capped signatures can
    only remove evidence, so output pairs remain true >=min_shared
    pairs under the cap's contract (documented, like star-mode recall).

    Emits (id_a, id_b, n_shared) with id_a < id_b.
    """
    if min_shared < 1:
        raise ValueError("min_shared must be >= 1")
    if max_sig_freq is not None and max_sig_freq < 2:
        raise ValueError("max_sig_freq must be >= 2 (pairs need two members)")
    s = sigs.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__s")
    ).distinct()
    # the distinct (id, sig) relation feeds both join sides (and the
    # frequency cap when enabled): materialize it once instead of
    # re-running the upstream signature pipeline per branch
    s = s.localCheckpoint(eager=False)
    if max_sig_freq is not None:
        freq = s.groupBy("__s").agg(F.count(F.lit(1)).alias("__f"))
        s = s.join(
            F.broadcast(freq.filter(F.col("__f") > max_sig_freq)),
            "__s",
            "left_anti",
        )
    a = s.select(F.col("__id").alias("id_a"), "__s")
    b = s.select(F.col("__id").alias("id_b"), "__s")
    pairs = a.join(b, "__s").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int | None = None,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """EXACT asymmetric CONTAINMENT join: ordered pairs (a, b) where
    C(a→b) = |Wa ∩ Wb| / |Wa| ≥ ``threshold`` — "b covers a" — the
    dedup signal Jaccard misses: a short document embedded verbatim in
    a longer one has high containment but low Jaccard (the union is
    dominated by the container). Classic uses: quote/boilerplate
    absorption, subset-document removal, near-superset detection.

    Candidate generation adapts prefix filtering (Bayardo 2007) to the
    asymmetric measure: the PROBE side (a) needs overlap ≥ ⌈t·|a|⌉, so
    in ascending global-frequency token order it must hit b inside its
    first |a| − ⌈t·|a|⌉ + 1 tokens — a's prefix; the CONTAINER side (b)
    could match on any token, so b's full token set is indexed. Join
    keys are therefore a's RAREST tokens — hot tokens sit in probes'
    suffixes and never become keys, bounding the candidate volume the
    way the symmetric prefix join does. A size filter (|b| ≥ t·|a|)
    prunes before the verify; exact intersection verification makes the
    output exact. Self-pairs are excluded.

    The containment unit defaults to the distinct word set;
    ``shingle_n=k`` switches to word k-gram shingles — on small-
    vocabulary corpora word SETS of different documents are near-
    subsets of each other and containment degenerates, while k-gram
    shingles keep word order and stay discriminative (the
    near_dup_pairs shingle_n contract).

    Emits (id_a, id_b, inter_size, size_a, size_b, containment_ppm)
    with containment_ppm = (inter·1e6) div |a| — integer-exact, so the
    whole relation reproduces in a SQL oracle.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    t_ppm = int(round(threshold * 1_000_000))
    # single-split scan => single-task shingle build (r15; no-op at scale).
    # The shingle sets feed five plan branches (frequency, rank join,
    # container side, both verify sides).
    ws = _materialized(
        _token_sets(ensure_min_parallelism(docs), id_col, text_col, shingle_n=shingle_n), caches
    )
    ranked = _ranked_by_freq(ws)
    # probe side a: its prefix WITH positions; container side b: its FULL
    # ranked token list with positions — both from the one ranked
    # materialization, keys are the 8-byte hashed ids (string fallback on
    # the astronomically-unlikely vocab collision; see _ranked_by_freq)
    a = _ranked_positions(ranked, _probe_prefix_len(t_ppm)).alias("a")
    b = _ranked_positions(ranked).alias("b")
    # positional filter (PPJoin adapted to containment): a qualifying
    # (a ⊂~ b) pair needs overlap >= ceil(t*na), all of it at-or-after
    # the first common token in the canonical order — so
    # min(na-pa, nb-pb) >= ceil(t*na) at that token (0-based positions);
    # necessary at the first common token, hence never drops a true pair
    alpha = F.expr(
        f"CAST((CAST(a.__n AS BIGINT) * {t_ppm} + 999999) div 1000000 AS BIGINT)"
    )
    cands = distinct_pairs(
        a.join(
            b,
            (F.col("a.__r") == F.col("b.__r"))
            & (F.col("a.__id") != F.col("b.__id"))
            & (F.col("b.__n").cast("long") * F.lit(1_000_000)
               >= F.lit(t_ppm) * F.col("a.__n").cast("long"))
            & (
                F.least(
                    F.col("a.__n").cast("long") - F.col("a.__p"),
                    F.col("b.__n").cast("long") - F.col("b.__p"),
                )
                >= alpha
            ),
        ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    keys = _ranked_keys(ranked)
    out = _exact_verify(
        cands, keys, keys, threshold, size_col="__n", denominator="size_a"
    ).select(
        "id_a",
        "id_b",
        *[F.col(c).cast("long").alias(c) for c in ("inter_size", "size_a", "size_b")],
    )
    return out.select(
        "*",
        F.expr("(inter_size * 1000000) div size_a").alias("containment_ppm"),
    )
