"""Linear Counting — custom estimator (no Spark built-in).

Re-implements the reference's LC mode (UDAFCardinalityEstimator.java:
LC_DEFAULT_SIZE=1_000_000 at :90; init at :358-359; deserialization at
:383-384; algorithm: Whang, Vander-Zanden & Taylor 1990, cited at :50-51)
Spark-first rather than as a port of stream-lib's Java:

  estimate = -m * ln(V_empty / m)
  where m = number of bitmap bits and V_empty = m − (occupied bits).

Execution design (SURVEY.md §4.3):
  * **Scale path (Tier B, pure JVM)** — ``lc_cardinality``: the occupied-
    bit count is exactly ``count_distinct(pmod(xxhash64(x), m))``.
    Catalyst plans a two-phase distinct aggregate (map-side partial
    distinct → shuffle of bucket ids ≤ m per group → final count), which
    is the same memory bound as the reference's per-group bitmap, with no
    Python anywhere. This is the 100 TB path.
  * **Facade path** — ``lc_agg``: additionally materializes the bitmap
    bytes (the re-aggregable ``binary`` field of the reference's result
    struct) from native ``bitmap_construct_agg`` chunks of 4 KiB each,
    whose fixed buffers OR-merge map-side; no Python in the plan. Use when
    sketches are persisted for later rollup; prefer ``lc_cardinality``
    when only the number is needed. ``lc_table`` is the relational form
    for large maps: its shuffle carries only the occupied 64-bit words.

Serialized format (explicit + versioned, unlike the reference's
BytesWritable padding that needs ``.trim()`` at :308/:372):

    magic b"SGLC" | version u8=1 | size_bytes u32 LE | bitmap[size_bytes]

Merge algebra: bitwise OR of same-size bitmaps; merging different sizes
raises (preserves the reference's strict incompatible-merge error,
UDAFCardinalityEstimator.java:399-414).
"""

from __future__ import annotations

import math
import struct as _struct

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_udf_spark.functions.hashing import _col
from hive_udf_spark.functions.sketch import _sketch_struct

_MAGIC = b"SGLC"
_VERSION = 1
_HEADER = len(_MAGIC) + 1 + 4  # magic + version + size_bytes


def _header(size_bytes: int) -> bytes:
    return _MAGIC + bytes([_VERSION]) + _struct.pack("<I", size_bytes)


# ---------------------------------------------------------------------------
# Python-side sketch (tests, UDF internals, driver-side tooling)
# ---------------------------------------------------------------------------
class LCSketch:
    """A Linear Counting bitmap with the reference's merge/estimate algebra."""

    def __init__(self, size_bytes: int):
        if size_bytes <= 0:
            raise ValueError("size_bytes must be positive")
        self.size_bytes = int(size_bytes)
        self.bits = np.zeros(self.size_bytes, dtype=np.uint8)

    @property
    def m(self) -> int:
        return self.size_bytes * 8

    def set_bucket(self, bucket: int) -> None:
        self.bits[bucket >> 3] |= 1 << (bucket & 7)

    def set_buckets(self, buckets: np.ndarray) -> None:
        np.bitwise_or.at(self.bits, buckets >> 3, (1 << (buckets & 7)).astype(np.uint8))

    def occupied(self) -> int:
        return int(np.unpackbits(self.bits).sum())

    def estimate(self) -> int:
        return lc_estimate_from_occupied(self.occupied(), self.m)

    def merge(self, other: "LCSketch") -> "LCSketch":
        if other.size_bytes != self.size_bytes:
            raise ValueError(
                f"cannot merge LC sketches of different sizes ({self.size_bytes} vs {other.size_bytes})"
            )
        out = LCSketch(self.size_bytes)
        np.bitwise_or(self.bits, other.bits, out=out.bits)
        return out

    def to_bytes(self) -> bytes:
        return _header(self.size_bytes) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "LCSketch":
        if data[: len(_MAGIC)] != _MAGIC:
            raise ValueError("not an SGLC sketch (bad magic)")
        if len(data) < _HEADER:
            raise ValueError(f"SGLC header truncated: {len(data)} of {_HEADER} bytes")
        version = data[len(_MAGIC)]
        if version != _VERSION:
            raise ValueError(f"unsupported SGLC version {version}")
        (size_bytes,) = _struct.unpack_from("<I", data, len(_MAGIC) + 1)
        # stored sketches are outside input: a cut or padded blob would
        # otherwise load with a short bitmap and estimate wrongly
        if len(data) != _HEADER + size_bytes:
            raise ValueError(
                f"SGLC sketch of {size_bytes} bitmap bytes carries {len(data) - _HEADER}"
            )
        sk = cls(size_bytes)
        sk.bits = np.frombuffer(data[_HEADER:], dtype=np.uint8).copy()
        return sk


def lc_estimate_from_occupied(occupied: int, m: int) -> int:
    """-m * ln(V_empty/m), saturating at m when the bitmap is full."""
    empty = m - occupied
    if empty <= 0:
        return m  # bitmap saturated; LC is out of its operating range
    return int(round(-m * math.log(empty / m)))


def _lc_estimate(occupied: Column, m: int) -> Column:
    """:func:`lc_estimate_from_occupied` as a Column expression (bigint)."""
    return F.when(occupied >= F.lit(m), F.lit(m).cast("long")).otherwise(
        F.round(-F.lit(float(m)) * F.log((F.lit(m).cast("double") - occupied) / F.lit(float(m)))).cast("long")
    )


# ---------------------------------------------------------------------------
# Tier B — pure-JVM estimate (the scale path)
# ---------------------------------------------------------------------------
def lc_bucket(col: Column | str, size_bytes: int) -> Column:
    """Deterministic bitmap bucket index: pmod(xxhash64(x), 8*size_bytes).

    NULL-propagating: Spark's xxhash64 maps NULL to a CONSTANT (the
    seed), not to NULL — left unguarded, every NULL row would set one
    phantom bucket, inflating mixed groups by one distinct and giving
    all-NULL groups a cardinality-1 sketch. The reference skips NULL
    rows (UDAFCardinalityEstimator.java:238-240), so the bucket of a
    NULL value is NULL and every downstream consumer (count_distinct,
    bitmap_construct_agg, the isNotNull filters in lc_table /
    lc_two_phase) drops it."""
    c = _col(col)
    return F.when(
        c.isNotNull(), F.pmod(F.xxhash64(c), F.lit(int(size_bytes) * 8))
    )


def lc_cardinality(col: Column | str, size_bytes: int = 1_000_000) -> Column:
    """Aggregate: Linear-Counting estimate as a pure Catalyst expression.

    ``count_distinct(bucket)`` is the occupied-bit count; Catalyst runs it
    with map-side partial distinct, so at most m bucket ids per group cross
    the shuffle regardless of input size — the same O(m) bound as the
    reference's bitmap. NULL for empty groups (reference :329-331).
    """
    c = _col(col)
    est = _lc_estimate(F.count_distinct(lc_bucket(c, size_bytes)), int(size_bytes) * 8)
    return F.when(F.count(c) > F.lit(0), est).otherwise(F.lit(None)).alias("lc_cardinality")


# ---------------------------------------------------------------------------
# Facade — full {type, cardinality, binary} struct with materialized bitmap
# ---------------------------------------------------------------------------
# Spark's native bitmap aggregate works on fixed 32768-bit (4096-byte)
# buckets; its byte/bit layout (position p -> byte p>>3, bit p&7,
# LSB-first) is IDENTICAL to LCSketch.set_bucket's, verified by the
# byte-exact facade test.
_CHUNK_BITS = 32768
_CHUNK_BYTES = _CHUNK_BITS // 8


def lc_agg(col: Column | str, size_bytes: int = 1_000_000) -> Column:
    """Aggregate: LC result struct ``{type:'LC', cardinality, binary}``.

    Fully JVM-side since r5: the bitmap is built as
    ``ceil(size_bytes/4096)`` native ``bitmap_construct_agg`` chunks —
    ``TypedImperativeAggregate``s whose fixed 4 KiB buffers OR-merge
    map-side, so the shuffle carries exactly ``size_bytes`` of packed
    bitmap per (group, map partition), the reference UDAF's own memory
    bound (UDAFCardinalityEstimator.java:358-359), never the 8-bytes-
    per-occupied-bit ``collect_set`` inflation of the r3/r4 facade.
    occupied = Σ ``bitmap_count(chunk)`` and the estimate formula is
    identical to ``lc_cardinality``; the serialized ``binary`` is the
    chunk concat behind the SGLC header, byte-identical to
    ``LCSketch.to_bytes()`` and re-aggregable via ``lc_merge_agg``.

    Note the per-group state is the DENSE size_bytes bitmap regardless of
    occupancy; for sparse corpus-scale sketch tables :func:`lc_table`
    (occupied-words-only shuffle) is still the lighter relational path.
    """
    c = _col(col)
    size_bytes = int(size_bytes)
    if size_bytes <= 0:
        raise ValueError("size_bytes must be positive")
    bucket = lc_bucket(c, size_bytes)
    chunks = []
    occupied = None
    for i in range(0, size_bytes, _CHUNK_BYTES):
        lo = i * 8
        nbytes = min(_CHUNK_BYTES, size_bytes - i)
        pos = F.when(
            (bucket >= F.lit(lo)) & (bucket < F.lit(lo + _CHUNK_BITS)),
            bucket - F.lit(lo),
        )
        bm = F.bitmap_construct_agg(pos)
        if nbytes < _CHUNK_BYTES:
            bm = F.substring(bm, 1, nbytes)
        chunks.append(bm)
        cnt = F.bitmap_count(chunks[-1])
        occupied = cnt if occupied is None else occupied + cnt
    return _sketch_struct(
        "LC",
        F.count(c) > F.lit(0),
        _lc_estimate(occupied, size_bytes * 8),
        F.concat(F.lit(_header(size_bytes)), *chunks),
    ).alias("approx_distinct")


def _word_le_hex(word: Column) -> Column:
    """16 hex chars of a BIGINT in little-endian byte order (bitmap order:
    byte k of word w is bitmap byte 8w+k, bit j of a byte is bucket bit j —
    the same layout LCSketch.set_bucket writes)."""
    h = F.lpad(F.hex(word), 16, "0")
    # hex() is big-endian: chars [1..2] are byte 7, [15..16] are byte 0
    return F.concat(*[F.substring(h, 15 - 2 * i, 2) for i in range(8)])


def lc_table(
    df,
    group_cols: list[str],
    value_col: str,
    size_bytes: int = 1_000_000,
):
    """Grouped LC facade as a relational PARTIAL→FINAL plan — the scale
    path for persisting ``{type:'LC', cardinality, binary}`` sketch tables
    (same Tier-B discipline as ``kmv.kmv_table``; word packing follows
    ``bloom.bloom_build``).

    Plan shape:
      1. project ``(groups, bucket)`` — one row per input row, map-side;
      2. ``groupBy(groups, bucket div 64).agg(bit_or(mask))`` — Catalyst's
         partial aggregate ORs masks BEFORE the exchange, so the shuffle
         carries at most m/64 packed-word rows per (group, map partition)
         instead of 8 bytes per occupied bit (the 64× inflation of the
         Column-form ``lc_agg``);
      3. final per-group assembly: occupied = Σ bit_count(word) (exact),
         estimate = −m·ln((m−occupied)/m) — identical to
         ``lc_cardinality`` — and the dense serialized bitmap built
         entirely from JVM expressions (hex/unhex; no Python worker
         anywhere in the plan).

    Groups whose values are all NULL produce no output row (the
    relational analogue of the reference's NULL-for-empty-group,
    UDAFCardinalityEstimator.java:329-331: the group simply has no
    sketch).

    Output: ``group_cols + [approx_distinct: struct{type, cardinality,
    binary}]`` with bytes identical to ``LCSketch.to_bytes()``.
    """
    if size_bytes <= 0 or size_bytes % 8 != 0:
        raise ValueError("size_bytes must be a positive multiple of 8 (whole 64-bit words)")
    n_words = size_bytes // 8
    gcols = [F.col(g) for g in group_cols]
    buckets = df.select(
        *gcols, lc_bucket(F.col(value_col), size_bytes).alias("__b")
    ).filter(F.col("__b").isNotNull())
    words = (
        buckets.withColumn("__w", (F.col("__b") / 64).cast("long"))
        .withColumn("__m", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__b % 64 AS INT))"))
        .groupBy(*group_cols, "__w")
        .agg(F.bit_or("__m").alias("__word"))
    )
    per_group = words.groupBy(*group_cols).agg(
        F.sum(F.bit_count("__word")).alias("__occupied"),
        F.sort_array(F.collect_list(F.struct("__w", "__word"))).alias("__we"),
    )
    # Dense-bitmap assembly is a LINEAR run-length emit over the sorted
    # occupied-word entries: each entry contributes (zero-run since the
    # previous occupied word) + its own 8 hex bytes, then one trailing
    # zero-run pads to n_words. element_at on an ARRAY is O(1) (unlike the
    # MapType GetMapValue linear scan this replaces), so the whole stage is
    # O(occupied + n_words) per output row instead of
    # O(n_words × occupied) — the round-4 verdict's finding 1.
    zero16 = F.lit("0" * 16)
    entries = F.col("__we")
    runs = F.transform(
        entries,
        lambda e, i: F.concat(
            F.repeat(
                zero16,
                (
                    e["__w"]
                    - F.when(i == F.lit(0), F.lit(-1).cast("long")).otherwise(
                        F.element_at(entries, i.cast("int"))["__w"]
                    )
                    - F.lit(1)
                ).cast("int"),
            ),
            _word_le_hex(e["__word"]),
        ),
    )
    trailing = F.repeat(
        zero16,
        (
            F.lit(n_words)
            - F.element_at(entries, F.size(entries))["__w"]
            - F.lit(1)
        ).cast("int"),
    )
    dense_hex = F.concat(F.array_join(runs, ""), trailing)
    # every group here has a value, so its sketch is present
    return per_group.select(
        *group_cols,
        _sketch_struct(
            "LC",
            F.lit(True),
            _lc_estimate(F.col("__occupied"), int(size_bytes) * 8),
            F.concat(F.lit(_header(int(size_bytes))), F.unhex(dense_hex)),
        ).alias("approx_distinct"),
    )


@F.pandas_udf(T.BinaryType())
def _lc_merge_bytes_agg(sketches: pd.Series) -> bytes:
    merged: LCSketch | None = None
    for raw in sketches:
        if raw is None:
            continue
        sk = LCSketch.from_bytes(bytes(raw))
        merged = sk if merged is None else merged.merge(sk)
    return merged.to_bytes() if merged is not None else None


@F.pandas_udf(T.LongType())
def lc_estimate_bytes(sketches: pd.Series) -> pd.Series:
    """Scalar: estimate from serialized LC sketch bytes."""
    return pd.Series(
        [None if raw is None else LCSketch.from_bytes(bytes(raw)).estimate() for raw in sketches],
        dtype="Int64",
    )


def lc_merge_agg(sketch_binary: Column | str) -> Column:
    """Aggregate: OR-merge serialized LC sketches (grouped-agg pandas UDF).

    Note: Python grouped aggregates do not get map-side partial aggregation
    (SURVEY.md §4.3) — but the rows being shuffled here are already-reduced
    sketches (one per group per day, say), so the shuffle volume is tiny.
    """
    merged = _lc_merge_bytes_agg(_col(sketch_binary))
    # present = merged bytes not NULL, read in the projection after the
    # aggregate: a pandas grouped-agg cannot share an .agg with count
    return _sketch_struct(
        "LC", merged.isNotNull(), lc_estimate_bytes(merged), merged
    ).alias("sketch_merge")


# ---------------------------------------------------------------------------
# Tier C' — explicit two-phase protocol for custom Python state at scale
# ---------------------------------------------------------------------------
def lc_two_phase(
    df,
    key_cols: list[str],
    value_col: str,
    size_bytes: int = 65536,
):
    """Grouped LC distinct-count via the explicit PARTIAL1→FINAL protocol.

    Spark's Python grouped aggregates have no map-side combine (SURVEY.md
    §4.3): a naive pandas UDAF ships every raw row to its group's reducer.
    This operator reproduces the reference's partial-aggregation contract
    (UDAFCardinalityEstimator.java:276-317) in DataFrame operations:

      phase 1 (mapInPandas): each INPUT PARTITION builds one LC bitmap per
        key it sees locally and emits (key, sketch_bytes) — at most
        n_partitions × n_keys sketch rows ever cross the shuffle;
      phase 2 (groupBy + pandas agg): OR-merge the partials per key and
        estimate.

    Raw rows never shuffle — the same reduction `terminatePartial` gives a
    Hive UDAF. Use when the estimator itself must stay custom Python;
    `lc_cardinality` (pure JVM) is still preferred where it applies.
    Buckets are computed JVM-side (pmod(xxhash64)) so the estimate is
    IDENTICAL to lc_cardinality's.
    """
    from collections.abc import Iterator

    keyed = df.select(
        *key_cols, lc_bucket(value_col, size_bytes).alias("__bucket")
    ).filter(F.col("__bucket").isNotNull())

    key_fields = ", ".join(f"`{k}` {dict(df.dtypes)[k]}" for k in key_cols)
    partial_schema = f"{key_fields}, __sketch binary"

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, LCSketch] = {}
        for pdf in batches:
            for key, grp in pdf.groupby(key_cols, sort=False, dropna=False):
                k = key if isinstance(key, tuple) else (key,)
                sk = sketches.get(k)
                if sk is None:
                    sk = sketches[k] = LCSketch(size_bytes)
                sk.set_buckets(grp["__bucket"].to_numpy(dtype=np.int64))
        if sketches:
            keys = list(sketches)
            out = {c: [k[i] for k in keys] for i, c in enumerate(key_cols)}
            out["__sketch"] = [sketches[k].to_bytes() for k in keys]
            yield pd.DataFrame(out)

    partials = keyed.mapInPandas(partial, schema=partial_schema)
    merged = partials.groupBy(*key_cols).agg(_lc_merge_bytes_agg(F.col("__sketch")).alias("__m"))
    return merged.select(
        *key_cols, lc_estimate_bytes(F.col("__m")).alias("lc_estimate")
    )
