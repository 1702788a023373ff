"""Sketch builders over DataFrames: Bloom, HLL, CMS, KLL.

Each builder wires a numpy sketch core (..sketch) into the tree-merge
topology of .aggregate. Updates consume whole Arrow batches — ragged
``tokens`` arrays are flattened with offsets in C (np.concatenate), so
there is no per-row Python in the hot path (BASELINE.json input_hint).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketch import (
    BlockedBloomFilter,
    BloomFilter,
    CountMinSketch,
    CountSketch,
    DDSketch,
    HyperLogLog,
    KLLSketch,
    MisraGries,
    Shape,
    merge_payloads,
    merge_sketch_payloads,
    ngram_hashes,
    tokens_to_u64,
)
from ..sketch.hashing import splitmix64
from .aggregate import (
    MultiSpec,
    _single,
    build_by_key,
    build_sketch,
    build_sketch_bytes,
    shuffle_multi_by_key,
)

# ---------------------------------------------------------------------------
# Batch flattening helpers (ragged array<int> columns -> flat numpy)
# ---------------------------------------------------------------------------


def flatten_tokens(series: pd.Series) -> np.ndarray:
    """Ragged pandas token column -> flat int64 array."""
    vals = [np.asarray(v) for v in series.to_numpy() if v is not None and len(v)]
    if not vals:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(vals).astype(np.int64, copy=False)


def _list_column(batch: "pa.RecordBatch", col: str):
    import pyarrow as pa  # local so pandas-only callers need no arrow

    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):  # defensive; RecordBatch gives Array
        arr = arr.combine_chunks()
    return arr


def merge_payloads_agg_udf():
    """GROUPED_AGG pandas UDF factory: fold a binary payload column
    through sketch.merge_sketch_payloads (any registry kind, magic
    dispatch). NULL payloads are skipped; an all-NULL group yields
    NULL, never a task-crashing ValueError (SQL aggregate semantics).
    The single canonical definition — cube.py / sliding.py / SQL
    sketch_merge must not grow divergent copies (round-4 review)."""

    @F.pandas_udf("binary")
    def merge_payloads_agg(s: pd.Series) -> bytes:
        from ..sketch import merge_sketch_payloads

        present = [bytes(x) for x in s if x is not None]
        return merge_sketch_payloads(present) if present else None

    return merge_payloads_agg


def arrow_flat_tokens(batch: "pa.RecordBatch", col: str) -> np.ndarray:
    """Zero-copy flatten of an Arrow list<int> column."""
    return _list_column(batch, col).flatten().to_numpy(zero_copy_only=False)


def arrow_row_lengths(batch: "pa.RecordBatch", col: str) -> np.ndarray:
    lens = _list_column(batch, col).value_lengths().to_numpy(zero_copy_only=False)
    return np.nan_to_num(lens, nan=0.0).astype(np.int64)


def dedup_counts(flat: np.ndarray) -> tuple[np.ndarray, np.ndarray] | None:
    """(distinct values, multiplicities) via bincount when the value
    range is narrow relative to the batch — the shape of a token stream,
    whose values live in a bounded vocabulary (~50k-200k) while a
    partition's batch holds millions of occurrences. Returns None when
    dedup wouldn't pay (small batch, or wide-range values like 64-bit
    ids). O(n + range) sequential passes — no sort (sorting Arrow-batch
    sized arrays is cache-hostile, see CLAUDE.md).

    Sketch updates are either insert-idempotent (Bloom, HLL — callers
    must correct the accumulator's n_items by the dedup delta to keep
    canonical bytes partition-invariant) or accept multiplicity weights
    (CMS), so folding a batch through its distinct values cuts
    hash+update work by the batch's repeat factor (~75x on a 50k-vocab
    4M-token partition) for two linear scans.
    """
    n = flat.size
    if n < (1 << 14) or flat.dtype.kind not in "iu":
        return None  # small batch, or float (nullable flatten) — decline
    if flat.dtype == np.uint64:
        return None  # bincount can't safe-cast uint64 — decline, not crash
    lo = int(flat.min())
    rng = int(flat.max()) - lo + 1
    if rng > (1 << 22) or rng > 4 * n:
        return None
    counts = np.bincount(flat - lo, minlength=rng)
    nz = np.flatnonzero(counts)
    return (nz + lo).astype(flat.dtype, copy=False), counts[nz]



def _scalar_values(batch, col: str) -> np.ndarray:
    """Scalar numeric column -> int64 numpy (nulls -> 0).

    Integer columns must NOT round-trip through float64: pyarrow's
    to_numpy on an int array with nulls produces float64(NaN), which
    silently rounds |v| > 2^53 (e.g. xxhash64 ids) and can turn a
    present value into a different probe value — a false negative.
    Nulls are filled at the Arrow level so the integer path stays exact.
    """
    import pyarrow as pa

    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.fill_null(0)
    if pa.types.is_floating(arr.type):
        vals = np.nan_to_num(arr.to_numpy(zero_copy_only=False), nan=0.0)
        return vals.astype(np.int64)
    if not pa.types.is_integer(arr.type):
        arr = arr.cast(pa.int64())
    return arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)


def _series_probe_values(s: pd.Series) -> np.ndarray:
    """Probe Series -> exact int64 (pandas-side mirror of _scalar_values).

    An int64 probe column WITH NULLs reaches a pandas UDF as float64
    (Arrow->pandas promotion), which silently rounds |v| >= 2^53 — a
    rounded probe can miss its true filter entry, a false negative.
    NaNs probe as 0 (same as _scalar_values' null fill); when floats
    exceed 2^53 the original key is unrecoverable, so fail loudly.
    """
    vals = s.to_numpy()
    if vals.dtype.kind == "f":
        vals = np.nan_to_num(vals, nan=0.0)
        if vals.size and np.abs(vals).max() >= 2.0**53:
            raise ValueError(
                "probe column arrived as float64 (nullable-int64 promotion) "
                "with |value| >= 2^53; the original integer key is "
                "unrecoverable — filter NULLs out of the probe column first"
            )
        return vals.astype(np.int64)
    if vals.dtype.kind in "iu":
        return vals.astype(np.int64, copy=False)
    return vals.astype(np.int64)


def broadcast_probe_udf(payload: bytes, spark: SparkSession | None = None):
    """boolean pandas_udf: probe a scalar int column against a broadcast
    membership-sketch payload (Bloom / blocked / counting — dispatched
    by wire magic INSIDE the worker via sketch_from_bytes, never by
    closing over a sketch class: cloudpickle would serialize the class
    by value and trip on its module-level struct.Struct objects).
    Deserializes once per python worker; exact int64 probe values via
    _series_probe_values (nullable-promotion safe)."""
    spark = spark or SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(payload)
    cache: dict = {}

    @F.pandas_udf("boolean")
    def probe(s: pd.Series) -> pd.Series:
        bf = cache.get("bf")
        if bf is None:
            from ..sketch import sketch_from_bytes

            bf = cache["bf"] = sketch_from_bytes(bc.value)
        return pd.Series(bf.contains_tokens(_series_probe_values(s)))

    return probe


def count_contained_in(
    df: DataFrame,
    payload: bytes,
    col: str,
    *,
    scalar: bool = False,
    spark: SparkSession | None = None,
) -> tuple[int, int]:
    """(hits, total): probe EVERY token of ``col`` against a broadcast
    membership-sketch payload without exploding rows — Arrow-flatten
    each batch, vectorized membership, per-partition (hits, total)
    rows, tiny final agg. One implementation for every filter kind
    (magic dispatch via sketch_from_bytes — previously a verbatim copy
    per sketch class, round-4 review); per-occurrence semantics via
    dedup multiplicity weighting on token-array columns."""
    spark = spark or SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(payload)

    def probe(batches):
        import pyarrow as pa

        from ..sketch import sketch_from_bytes

        bf = sketch_from_bytes(bc.value)
        hits = 0
        total = 0
        for batch in batches:
            toks = (
                _scalar_values(batch, col) if scalar else arrow_flat_tokens(batch, col)
            )
            if toks.size:
                dc = None if scalar else dedup_counts(toks)
                if dc is None:
                    hits += int(bf.contains_tokens(toks).sum())
                else:  # per-occurrence semantics via multiplicities
                    hits += int(dc[1][bf.contains_tokens(dc[0])].sum())
                total += int(toks.size)
        yield pa.RecordBatch.from_arrays(
            [pa.array([hits], type=pa.int64()), pa.array([total], type=pa.int64())],
            names=["hits", "total"],
        )

    out = (
        df.select(col)
        .mapInArrow(probe, schema="hits bigint, total bigint")
        .agg(F.sum("hits").alias("h"), F.sum("total").alias("t"))
        .collect()[0]
    )
    # an input with no partitions sums no rows: NULL, not 0
    return int(out["h"] or 0), int(out["t"] or 0)


def flat_ngram_hashes(flat: np.ndarray, lengths: np.ndarray, n: int) -> np.ndarray:
    """All within-row n-gram hashes, vectorized: hash the concatenated
    stream once, then mask out windows that cross row boundaries."""
    if flat.size == 0:
        return np.empty(0, dtype=np.uint64)
    if n == 1:
        return splitmix64(tokens_to_u64(flat))
    h = ngram_hashes(flat, n)  # windows over the whole stream
    if h.size == 0:
        return h
    row_of = np.repeat(np.arange(len(lengths)), lengths)
    starts = np.arange(len(h))
    keep = row_of[starts] == row_of[starts + n - 1]
    return h[keep]


class _ColumnSketch:
    """The build entry points every column sketch shares. A subclass
    defines its spec once: ``_empty()``, ``_update(acc, batch)``,
    ``_merge`` and the input ``_columns()``; all three builds read it."""

    _merge = staticmethod(merge_sketch_payloads)

    def _columns(self) -> list[str]:
        return [self.col]

    def build(self, df: DataFrame, *, fanout: int = 16) -> DataFrame:
        """-> single-row DataFrame (payload binary, n_items bigint)."""
        return build_sketch(
            df, self._empty, self._update, self._merge, columns=self._columns(), fanout=fanout
        )

    def build_bytes(self, df: DataFrame, *, fanout: int = 16) -> tuple[bytes, int]:
        """-> (payload, n_items) of the whole input."""
        return build_sketch_bytes(
            df, self._empty, self._update, self._merge, columns=self._columns(), fanout=fanout
        )

    def build_by_key(self, df: DataFrame, key_col: str, *, salt: int = 0) -> DataFrame:
        """-> DataFrame (key, payload, n_items), one sketch per key."""
        return build_by_key(
            df, key_col, self._empty, self._update, self._merge,
            columns=[key_col, *self._columns()], salt=salt,
        )

    def shuffle_by_key(self, df: DataFrame, key_col: str) -> DataFrame:
        """``build_by_key``'s shuffle route as a plan that runs only at
        its action, whatever the driver budget: (key, payload, n_items)."""
        spec: list[MultiSpec] = [("sketch", self._empty, self._update, self._merge)]
        return _single(
            shuffle_multi_by_key(df, key_col, spec, columns=[key_col, *self._columns()]), "key"
        )


# ---------------------------------------------------------------------------
# Bloom
# ---------------------------------------------------------------------------


class BloomSketch(_ColumnSketch):
    """Distributed Bloom filter over a token-array (or scalar) column.

    ``ngram`` > 1 inserts within-row token n-grams instead of single
    tokens (the north star's "token n-grams and doc_ids").
    """

    def __init__(self, shape: Shape, *, col: str = "tokens", ngram: int = 1, scalar: bool = False):
        self.shape = shape
        self.col = col
        self.ngram = ngram
        self.scalar = scalar  # True: `col` is a scalar int (e.g. xxhash64(doc_id))

    @classmethod
    def for_np(cls, n: int, p: float, **kw) -> "BloomSketch":
        return cls(Shape.for_np(n, p), **kw)

    # update fn shared by all build paths (consumes Arrow RecordBatches)
    def _update(self, acc: BloomFilter, batch) -> None:
        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size:
                acc.add_tokens(vals)
        elif self.ngram == 1:
            toks = arrow_flat_tokens(batch, self.col)
            if toks.size:
                dc = dedup_counts(toks)
                if dc is None:
                    acc.add_tokens(toks)
                else:
                    # idempotent insert: distinct values set the same
                    # bits; n_items corrected to the occurrence count
                    # (baked into the wire header — partition invariance)
                    acc.add_tokens(dc[0])
                    acc.n_items += toks.size - dc[0].size
        else:
            flat = arrow_flat_tokens(batch, self.col)
            lengths = arrow_row_lengths(batch, self.col)
            h = flat_ngram_hashes(flat, lengths, self.ngram)
            if h.size:
                # the canonical pair derivation — must stay bit-identical
                # to BloomFilter.add_ngrams / every contains_u64 probe
                from ..sketch import hash_pair

                h1, h2 = hash_pair(h)
                acc.add_hashes(h1, h2)

    def _empty(self):
        # adaptive accumulator: O(set bits) memory until the index
        # buffer would out-weigh the dense array, then promotes — per-key
        # builds with huge m and tiny fill never allocate m bits, and the
        # canonical output bytes are identical to a dense build
        from ..sketch.bloom import SparseBloomBuilder

        return SparseBloomBuilder(self.shape)

    _merge = staticmethod(merge_payloads)

    # -- probing -----------------------------------------------------------

    def might_contain_udf(self, payload: bytes, spark: SparkSession | None = None):
        """Vectorized membership probe for a scalar int token column.
        Deserializes the broadcast filter once per python worker."""
        return broadcast_probe_udf(payload, spark)

    def contained_fraction_udf(self, payload: bytes, spark: SparkSession | None = None):
        """For an array<int> column: fraction of the row's tokens present
        in the filter (1.0 => every token seen; semi-join strength)."""
        spark = spark or SparkSession.getActiveSession()
        bc = spark.sparkContext.broadcast(payload)
        cache: dict[str, BloomFilter] = {}

        @F.pandas_udf("double")
        def probe(col: pd.Series) -> pd.Series:
            bf = cache.get("bf")
            if bf is None:
                # magic dispatch inside the worker — closing over the
                # sketch class trips cloudpickle's by-value path on the
                # module-level struct.Struct objects (CLAUDE.md)
                from ..sketch import sketch_from_bytes

                bf = cache["bf"] = sketch_from_bytes(bc.value)
            arrs = col.to_numpy()
            lengths = np.fromiter(
                (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=len(arrs)
            )
            flat = flatten_tokens(col)
            if flat.size == 0:
                return pd.Series(np.zeros(len(arrs)))
            hits = bf.contains_tokens(flat).astype(np.float64)
            # per-row segment sums via prefix-sum differences: exact for
            # zero-length rows anywhere (clamped reduceat dropped the
            # last row's trailing hits when empty rows ended the batch)
            c = np.concatenate(([0.0], np.cumsum(hits)))
            ends = np.cumsum(lengths)
            sums = c[ends] - c[ends - lengths]
            out = np.divide(sums, lengths, out=np.zeros(len(arrs)), where=lengths > 0)
            return pd.Series(out)

        return probe

    def count_contained(self, df: DataFrame, payload: bytes, spark: SparkSession | None = None) -> tuple[int, int]:
        """Probe EVERY token of the array column against the filter
        without exploding rows; returns (hits, total)."""
        return count_contained_in(df, payload, self.col, scalar=self.scalar, spark=spark)

    def semi_join_filter(self, probe_df: DataFrame, payload: bytes, col: str) -> DataFrame:
        """Bloom-filtered semi join: keep rows whose `col` might be in the
        build side — zero false negatives, FPR <= shape bound."""
        return probe_df.filter(self.might_contain_udf(payload)(F.col(col)))

    def register_sql_probe(
        self, spark: SparkSession, name: str, payload: bytes
    ) -> None:
        """Expose the membership probe to SQL users:
        ``SELECT * FROM t WHERE <name>(tok)``. Same broadcast +
        per-worker deserialization as might_contain_udf."""
        spark.udf.register(name, self.might_contain_udf(payload, spark))


# ---------------------------------------------------------------------------
# Blocked Bloom (scale path: 1 cache line per token, compute-bound)
# ---------------------------------------------------------------------------


class BlockedBloomSketch(_ColumnSketch):
    """Distributed split-block Bloom filter (see ..sketch.blocked for
    the published design). Same pipeline as BloomSketch; ~3x per-core
    build/probe throughput and cache-friendly under full parallelism —
    prefer it for 100 TB builds when bitwise parity with the reference
    filter layout is not required."""

    def __init__(self, filt: BlockedBloomFilter, *, col: str = "tokens", ngram: int = 1, scalar: bool = False):
        # only the size: every task closure pickles this object, and a
        # kept all-zero filter would ship its whole block array with it
        self.n_blocks = filt.n_blocks
        self.col = col
        self.ngram = ngram
        self.scalar = scalar

    @classmethod
    def for_np(cls, n: int, p: float, **kw) -> "BlockedBloomSketch":
        return cls(BlockedBloomFilter.for_np(n, p), **kw)

    @property
    def proto(self) -> BlockedBloomFilter:
        """An empty filter of this sketch's size."""
        return self._empty()

    def _empty(self) -> BlockedBloomFilter:
        return BlockedBloomFilter(self.n_blocks)

    def _update(self, acc: BlockedBloomFilter, batch) -> None:
        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size:
                acc.add_tokens(vals)
        elif self.ngram == 1:
            toks = arrow_flat_tokens(batch, self.col)
            if toks.size:
                dc = dedup_counts(toks)
                if dc is None:
                    acc.add_tokens(toks)
                else:
                    acc.add_tokens(dc[0])
                    acc.n_items += toks.size - dc[0].size
        else:
            flat = arrow_flat_tokens(batch, self.col)
            lengths = arrow_row_lengths(batch, self.col)
            h = flat_ngram_hashes(flat, lengths, self.ngram)
            if h.size:
                acc.add_hashes(h)

    def count_contained(self, df: DataFrame, payload: bytes, spark: SparkSession | None = None) -> tuple[int, int]:
        return count_contained_in(df, payload, self.col, scalar=self.scalar, spark=spark)

    def might_contain_udf(self, payload: bytes, spark: SparkSession | None = None):
        return broadcast_probe_udf(payload, spark)


# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------


class HllSketch(_ColumnSketch):
    """Distributed distinct-count over tokens (array col) or a scalar col."""

    def __init__(self, p: int = 14, *, col: str = "tokens", scalar: bool = False):
        self.p = p
        self.col = col
        self.scalar = scalar

    def _empty(self) -> HyperLogLog:
        return HyperLogLog(self.p)

    def _update(self, acc: HyperLogLog, batch) -> None:
        if self.scalar:
            # same exact-int64 path as Bloom (no float64 rounding of
            # full-range 64-bit ids, which would collapse distincts)
            vals = _scalar_values(batch, self.col)
            if vals.size:
                acc.add_tokens(vals)
        else:
            toks = arrow_flat_tokens(batch, self.col)
            if toks.size:
                dc = dedup_counts(toks)
                if dc is None:
                    acc.add_tokens(toks)
                else:
                    # register max is insert-idempotent; n_items corrected
                    # (in the wire header) for partition invariance
                    acc.add_tokens(dc[0])
                    acc.n_items += toks.size - dc[0].size

    def estimate(self, df: DataFrame, *, fanout: int = 16) -> float:
        payload, _ = self.build_bytes(df, fanout=fanout)
        return HyperLogLog.from_bytes(payload).estimate()


# ---------------------------------------------------------------------------
# Count-min
# ---------------------------------------------------------------------------


class CmsSketch(_ColumnSketch):
    """Distributed token-frequency sketch (count-min). ``scalar=True``
    sketches a scalar key column (join-size estimation via
    ``CountMinSketch.inner_product``) instead of an array column."""

    def __init__(self, d: int = 5, w: int = 65536, *, col: str = "tokens", scalar: bool = False):
        self.d = d
        self.w = w
        self.col = col
        self.scalar = scalar

    def _empty(self) -> CountMinSketch:
        return CountMinSketch(self.d, self.w)

    def _update(self, acc: CountMinSketch, batch) -> None:
        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size:
                acc.add_tokens(vals)
            return
        toks = arrow_flat_tokens(batch, self.col)
        if toks.size:
            dc = dedup_counts(toks)
            if dc is None:
                acc.add_tokens(toks)
            else:
                # CMS adds multiplicities natively; bincount weights sum
                # to small exact ints, so the table bits are identical
                acc.add_u64(tokens_to_u64(dc[0]), dc[1])

    def estimate_counts(self, payload: bytes, tokens: np.ndarray) -> np.ndarray:
        return CountMinSketch.from_bytes(payload).query_tokens(tokens)


# ---------------------------------------------------------------------------
# Count sketch (AMS)
# ---------------------------------------------------------------------------


class AmsSketch(_ColumnSketch):
    """Distributed count sketch (AMS): UNBIASED two-sided frequency
    estimates plus the F2 second-moment estimate — the skew oracle
    behind operators/skew.key_skew_profile. ``scalar=True`` sketches a
    scalar shuffle/join-key column (the primary use); default sketches
    a token-array column like CmsSketch."""

    def __init__(self, d: int = 5, w: int = 8192, *, col: str = "tokens", scalar: bool = False):
        self.d = d
        self.w = w
        self.col = col
        self.scalar = scalar

    def _empty(self) -> CountSketch:
        return CountSketch(self.d, self.w)

    def _update(self, acc: CountSketch, batch) -> None:
        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size:
                acc.add_tokens(vals)
            return
        toks = arrow_flat_tokens(batch, self.col)
        if toks.size:
            dc = dedup_counts(toks)
            if dc is None:
                acc.add_tokens(toks)
            else:
                # like CMS: multiplicities add natively, bincount weights
                # stay exact small ints, table bits identical
                acc.add_u64(tokens_to_u64(dc[0]), dc[1])

    def estimate_counts(self, payload: bytes, tokens: np.ndarray) -> np.ndarray:
        return CountSketch.from_bytes(payload).query_tokens(tokens)


# ---------------------------------------------------------------------------
# Misra–Gries heavy hitters
# ---------------------------------------------------------------------------


class MgSketch(_ColumnSketch):
    """Distributed Misra–Gries heavy-hitter summary (the DETERMINISTIC
    frequency sibling: counter lower bounds with a tracked undercount
    cap, so summary keys are a provable superset of every key with
    frequency > n_items/(capacity+1) — no distributional assumption,
    unlike the local top-k margin contract)."""

    def __init__(self, capacity: int = 1024, *, col: str = "tokens"):
        self.capacity = capacity
        self.col = col

    def _empty(self) -> MisraGries:
        return MisraGries(self.capacity)

    def _update(self, acc: MisraGries, batch) -> None:
        toks = arrow_flat_tokens(batch, self.col)
        if toks.size:
            dc = dedup_counts(toks)
            if dc is None:
                acc.add_tokens(toks)
            else:
                # MG consumes multiplicities natively (exact keyed add
                # then one decrement round), like CMS — no n_items
                # correction needed
                acc.add_u64(tokens_to_u64(dc[0]), dc[1])


# ---------------------------------------------------------------------------
# KLL quantiles
# ---------------------------------------------------------------------------


class TDigestQuantiles(_ColumnSketch):
    """Distributed t-digest quantiles over a numeric scalar column
    (tail-accurate alternative to KLL; both named by the north rule)."""

    def __init__(self, compression: int = 200, *, col: str = "n_tok"):
        self.compression = compression
        self.col = col

    def _empty(self):
        from ..sketch import TDigest

        return TDigest(self.compression)

    def _update(self, acc, batch) -> None:
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        acc.update_batch(np.asarray(vals, dtype=np.float64))

    def quantiles(self, df: DataFrame, qs: list[float], *, fanout: int = 16) -> list[float]:
        from ..sketch import TDigest

        payload, _ = self.build_bytes(df, fanout=fanout)
        sk = TDigest.from_bytes(payload)
        return [float(sk.quantile(q)) for q in qs]


class KllQuantiles(_ColumnSketch):
    """Distributed quantile sketch over a numeric scalar column."""

    def __init__(self, k: int = 200, *, col: str = "n_tok"):
        self.k = k
        self.col = col

    def _empty(self) -> KLLSketch:
        return KLLSketch(self.k)

    def _update(self, acc: KLLSketch, batch) -> None:
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        acc.update_batch(np.asarray(vals, dtype=np.float64))

    def quantiles(self, df: DataFrame, qs: list[float], *, fanout: int = 16) -> list[float]:
        payload, _ = self.build_bytes(df, fanout=fanout)
        sk = KLLSketch.from_bytes(payload)
        return [float(sk.quantile(q)) for q in qs]

    def quantiles_by_key(
        self, df: DataFrame, key_col: str, qs: list[float], *, salt: int = 0
    ) -> DataFrame:
        """-> (key, q, value) per-key quantile estimates."""
        keyed = self.build_by_key(df, key_col, salt=salt)
        qs_list = list(qs)

        def stats(batches):
            import pyarrow as pa

            for b in batches:
                keys, qcol, vals = [], [], []
                for key, payload in zip(
                    b.column("key").to_pylist(), b.column("payload").to_pylist()
                ):
                    sk = KLLSketch.from_bytes(bytes(payload))
                    for q in qs_list:
                        keys.append(key)
                        qcol.append(q)
                        vals.append(float(sk.quantile(q)))
                yield pa.RecordBatch.from_pydict({"key": keys, "q": qcol, "value": vals})

        return keyed.mapInArrow(stats, schema="key string, q double, value double")


class DDQuantiles(_ColumnSketch):
    """Distributed RELATIVE-error quantile sketch over a numeric scalar
    column (sketch/ddsketch.py). Same tree-merge topology as
    KllQuantiles but with the stronger algebra: DDSketch bucket counts
    are a pure function of the inserted multiset, so the merged payload
    bytes are bitwise-identical under ANY partitioning (the reference's
    Bloom-merge canonical-bytes contract, extended to quantiles) and
    the estimate at quantile q is within ``alpha * |x_q|`` of the true
    item — tail percentiles (p99 of a heavy-tailed latency/value
    column) keep their precision where KLL's uniform RANK error blurs
    them. At 100 TB: O(buckets) state per group, sketch rows only
    shuffle."""

    def __init__(self, alpha: float = 0.01, *, col: str):
        self.alpha = float(alpha)
        self.col = col

    def _empty(self) -> DDSketch:
        return DDSketch(self.alpha)

    def _update(self, acc: DDSketch, batch) -> None:
        vals = batch.column(self.col).to_numpy(zero_copy_only=False)
        vals = np.asarray(vals, dtype=np.float64)
        vals = vals[np.isfinite(vals)]  # NULL floats arrive as NaN: skip rows
        acc.add(vals)

    def quantiles(self, df: DataFrame, qs: list[float], *, fanout: int = 16) -> list[float]:
        payload, _ = self.build_bytes(df, fanout=fanout)
        return [float(v) for v in DDSketch.from_bytes(payload).quantiles(list(qs))]

    def quantiles_by_key(
        self, df: DataFrame, key_col: str, qs: list[float], *, salt: int = 0
    ) -> DataFrame:
        """-> (key, q, value) per-key relative-error quantile estimates."""
        keyed = self.build_by_key(df, key_col, salt=salt)
        qs_list = [float(q) for q in qs]

        def stats(batches):
            import pyarrow as pa

            for b in batches:
                keys, qcol, vals = [], [], []
                for key, payload in zip(
                    b.column("key").to_pylist(), b.column("payload").to_pylist()
                ):
                    sk = DDSketch.from_bytes(bytes(payload))
                    for q in qs_list:
                        keys.append(key)
                        qcol.append(q)
                        vals.append(float(sk.quantile(q)))
                yield pa.RecordBatch.from_pydict(
                    {
                        "key": pa.array(keys, type=pa.string()),
                        "q": pa.array(qcol, type=pa.float64()),
                        "value": pa.array(vals, type=pa.float64()),
                    }
                )

        return keyed.mapInArrow(stats, schema="key string, q double, value double")


# ---------------------------------------------------------------------------
# Counting Bloom (deletable membership)
# ---------------------------------------------------------------------------


class CountingBloomSketch(_ColumnSketch):
    """Distributed counting Bloom filter over a scalar int64 column —
    the deletable membership sketch (sketch/counting.py). Build the
    corpus filter AND the revoke-set filter with the same mergeable
    pipeline, then ``subtract`` once on two payloads; remaining items
    keep the zero-false-negative guarantee (saturated counters are
    sticky, never lowered)."""

    def __init__(self, shape: Shape, *, col: str):
        self.shape = shape
        self.col = col

    @classmethod
    def for_np(cls, n: int, p: float, **kw) -> "CountingBloomSketch":
        return cls(Shape.for_np(n, p), **kw)

    def _empty(self):
        from ..sketch.counting import CountingBloomFilter

        return CountingBloomFilter.empty(self.shape)

    def _update(self, acc, batch) -> None:
        vals = _scalar_values(batch, self.col)
        if vals.size:
            # NO dedup fold: multiplicity IS the counter state
            acc.add_tokens(vals)

    def might_contain_udf(self, payload: bytes, spark: SparkSession | None = None):
        """Vectorized membership probe for a scalar int column against
        a (possibly subtracted) CBF payload."""
        return broadcast_probe_udf(payload, spark)
