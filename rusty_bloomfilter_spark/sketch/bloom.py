"""Dense numpy Bloom filter with OR-merge algebra and canonical bytes.

Semantics pinned by the reference (`/root/reference/src/bloomfilter/`):

- bit layout: bit n lives in u64 word n>>6 under mask 1<<(n&63),
  little-endian words (mod.rs:17-22, bitmap.rs:15-23)
- insert/probe index expansion: Kirsch-Mitzenmacher via
  :func:`..sketch.hashing.km_indices` (hasher.rs:48-70); probe indices
  are computed identically to insert indices => zero false negatives
  (mod.rs:211-228)
- merge = bitwise OR, associative + commutative + idempotent with the
  empty filter as identity (mod.rs:238-295; merge matrices
  mod.rs:621-761)
- containment: superset test `self & other == other` per word
  (mod.rs:199-210), index variant (mod.rs:221-228)
- estimators: estimate_n / estimate_union / estimate_intersection
  (mod.rs:38-54,126-132)

Deliberate deviations (SURVEY.md §4, each strengthens determinism):

- fixed-width preallocated buffer (ceil(m/64) words) instead of the
  reference's lazy growth (bitmap.rs:34-40) — serialized bytes are then
  independent of insertion order, which the north rule requires
  (bitwise-identical filters regardless of merge order).
- cardinality popcounted lazily at read time, not rescanned per merge
  (the reference rescans the whole buffer after every merge,
  mod.rs:158-164,275,283).
- sparse codec chosen by the *corrected* storage rule (Shape.is_sparse)
  purely from content, so the wire format stays canonical.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import hash_pair, km_indices, ngram_hashes, tokens_to_u64
from .shape import Shape

_U64 = np.uint64
_ONE = _U64(1)

# SWAR popcount constants (numpy 1.26 has no np.bitwise_count).
_M1 = _U64(0x5555555555555555)
_M2 = _U64(0x3333333333333333)
_M4 = _U64(0x0F0F0F0F0F0F0F0F)
_H01 = _U64(0x0101010101010101)
_POPCOUNT_CHUNK = 1 << 15  # words per pass: the temporaries stay in cache

_MAGIC = b"RBSK"
_VERSION = 1
_KIND_BLOOM = 1
_CODEC_DENSE = 0
_CODEC_SPARSE = 1
# magic, version u8, kind u8, codec u8, pad u8, m u64, k u32, n_items u64
_HEADER = struct.Struct("<4sBBBBQIQ")


def _sparse_codec(shape: Shape, bits: int) -> bool:
    """The codec rule every encoder and decoder shares: sparse iff the
    sparse body is smaller (``Shape.is_sparse``) and every index fits
    the uint32 it is written as."""
    return shape.is_sparse(bits) and shape.m <= 0xFFFFFFFF


def popcount_words(words: np.ndarray) -> int:
    """Total set bits in a uint64 word array: the SWAR bit-slice sum,
    in place over cache-sized chunks (~5x the byte-LUT gather)."""
    flat = words.reshape(-1)
    total = 0
    for lo in range(0, flat.size, _POPCOUNT_CHUNK):
        x = flat[lo : lo + _POPCOUNT_CHUNK].astype(_U64)
        t = x >> _U64(1)
        t &= _M1
        x -= t
        t = x >> _U64(2)
        t &= _M2
        x &= _M2
        x += t
        x += x >> _U64(4)
        x &= _M4
        x *= _H01  # wraps: the top byte is the word's bit count
        x >>= _U64(56)
        total += int(x.sum())
    return total


# LUT gathers beat per-element uint64 shifts (measured numpy 1.26).
_BIT_MASKS = _ONE << np.arange(64, dtype=_U64)


_SCRATCH: dict[int, np.ndarray] = {}


def _scratch_bits(m_bits: int) -> np.ndarray:
    """Reused per-process bool scratch (fresh np.zeros would fault new
    pages on every call — the dominant cost on microVMs)."""
    buf = _SCRATCH.get(m_bits)
    if buf is None:
        if len(_SCRATCH) > 4:  # bound footprint across shapes
            _SCRATCH.clear()
        buf = _SCRATCH[m_bits] = np.zeros(m_bits, dtype=bool)
    else:
        buf[:] = False
    return buf


def _or_indices_into(words: np.ndarray, idx: np.ndarray) -> None:
    """Set bit positions ``idx`` (flat int64) in ``words``, vectorized.

    Two strategies (np.bitwise_or.at is notoriously slow):
    - dense batches (n >= m/64): scatter into an m-byte bool scratch,
      packbits once, OR into the words — O(m + n), no sort.
    - sparse batches: sort word indices and OR-reduce runs with
      np.bitwise_or.reduceat — O(n log n), no m-sized temporaries.
    """
    if idx.size == 0:
        return
    m_bits = words.size * 64
    if idx.size >= m_bits >> 6:
        bits = _scratch_bits(m_bits)
        bits[idx] = True
        words |= np.packbits(bits, bitorder="little").view(_U64)
        return
    w = idx >> 6
    b = _BIT_MASKS[idx & 63]
    order = np.argsort(w, kind="stable")
    ws = w[order]
    bs = b[order]
    starts = np.concatenate(([0], np.flatnonzero(ws[1:] != ws[:-1]) + 1))
    merged = np.bitwise_or.reduceat(bs, starts)
    words[ws[starts]] |= merged


class BloomFilter:
    """Fixed-shape dense Bloom filter over a numpy uint64 word array."""

    __slots__ = ("shape", "words", "n_items")

    def __init__(self, shape: Shape, words: np.ndarray | None = None, n_items: int = 0):
        self.shape = shape
        buckets = shape.number_of_buckets()
        if words is None:
            words = np.zeros(buckets, dtype=_U64)
        else:
            words = np.ascontiguousarray(words, dtype=_U64)
            if words.shape != (buckets,):
                raise ValueError(f"expected {buckets} words, got {words.shape}")
        self.words = words
        # metadata: number of update() items folded in (additive on merge)
        self.n_items = int(n_items)

    # -- constructors ------------------------------------------------------

    @classmethod
    def empty(cls, shape: Shape) -> "BloomFilter":
        """Merge identity (mod.rs:144-150)."""
        return cls(shape)

    @classmethod
    def from_indices(cls, shape: Shape, indices: np.ndarray, n_items: int = 0) -> "BloomFilter":
        f = cls(shape, n_items=n_items)
        _or_indices_into(f.words, np.asarray(indices, dtype=np.int64))
        return f

    # -- update ------------------------------------------------------------

    # Process in chunks: keeps the (chunk, k) expansion temporaries small
    # enough that the allocator reuses pages instead of faulting fresh
    # ones (first-touch faults dominate large-array numpy on VMs).
    _CHUNK = 1 << 18

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> "BloomFilter":
        """Insert items given their (h1, h2) 64-bit hash pairs."""
        n = len(h1)
        for lo in range(0, n, self._CHUNK):
            hi = min(lo + self._CHUNK, n)
            idx = km_indices(h1[lo:hi], h2[lo:hi], self.shape).reshape(-1)
            _or_indices_into(self.words, idx)
        self.n_items += n
        return self

    def add_u64(self, values: np.ndarray) -> "BloomFilter":
        n = len(values)
        for lo in range(0, n, self._CHUNK):
            h1, h2 = hash_pair(values[lo : lo + self._CHUNK])
            hi = min(lo + self._CHUNK, n)
            idx = km_indices(h1, h2, self.shape).reshape(-1)
            _or_indices_into(self.words, idx)
        self.n_items += n
        return self

    def add_tokens(self, tokens: np.ndarray) -> "BloomFilter":
        """Insert int32/int64 token ids."""
        return self.add_u64(tokens_to_u64(np.asarray(tokens)))

    def add_ngrams(self, tokens: np.ndarray, n: int) -> "BloomFilter":
        """Insert all sliding n-grams of one token sequence."""
        h = ngram_hashes(np.asarray(tokens), n)
        if h.size:
            self.add_u64(h)
        return self

    # -- probe ---------------------------------------------------------------

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized membership: bool[N], True iff all k bits set.

        Probe expansion identical to insert expansion => no false
        negatives (reference contract, mod.rs:211-228).
        """
        n = len(h1)
        if n == 0:
            return np.empty(0, dtype=bool)
        out = np.empty(n, dtype=bool)
        for lo in range(0, n, self._CHUNK):
            hi = min(lo + self._CHUNK, n)
            idx = km_indices(h1[lo:hi], h2[lo:hi], self.shape)
            hit = (self.words[idx >> 6] & _BIT_MASKS[idx & 63]) != 0
            out[lo:hi] = hit.all(axis=1)
        return out

    def contains_u64(self, values: np.ndarray) -> np.ndarray:
        n = len(values)
        out = np.empty(n, dtype=bool)
        for lo in range(0, n, self._CHUNK):
            hi = min(lo + self._CHUNK, n)
            h1, h2 = hash_pair(values[lo:hi])
            out[lo:hi] = self.contains_hashes(h1, h2)
        return out

    def contains_tokens(self, tokens: np.ndarray) -> np.ndarray:
        return self.contains_u64(tokens_to_u64(np.asarray(tokens)))

    def contains_filter(self, other: "BloomFilter") -> bool:
        """Superset test: self & other == other, per word (mod.rs:199-210)."""
        self._check_shape(other)
        return bool(np.array_equal(self.words & other.words, other.words))

    def contains_indices(self, indices: np.ndarray) -> bool:
        idx = np.asarray(indices, dtype=np.int64)
        if idx.size == 0:
            return True
        hit = (self.words[idx >> 6] & _BIT_MASKS[idx & 63]) != 0
        return bool(hit.all())

    # -- merge ----------------------------------------------------------------

    def _check_shape(self, other: "BloomFilter") -> None:
        # Correct shape-compatibility check; the reference's
        # `equivalent_to` (mod.rs:110-112) is inverted and unused.
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch: {self.shape} vs {other.shape}")

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        """Copy-merge: bitwise OR (mod.rs:238-266)."""
        self._check_shape(other)
        return BloomFilter(self.shape, self.words | other.words, self.n_items + other.n_items)

    def merge_in_place(self, other: "BloomFilter") -> "BloomFilter":
        """In-place OR (mod.rs:268-295)."""
        self._check_shape(other)
        self.words |= other.words
        self.n_items += other.n_items
        return self

    # -- inspect ----------------------------------------------------------------

    def cardinality(self) -> int:
        """Popcount of the word array (mod.rs:158-164,195-197)."""
        return popcount_words(self.words)

    def is_full(self) -> bool:
        """cardinality == m (mod.rs:59-61)."""
        return self.cardinality() == self.shape.m

    def estimate_n(self) -> float:
        """Swamidass-Baldi estimate (mod.rs:43-45,126-132)."""
        return self.shape.estimate_n(self.cardinality())

    def estimate_union(self, other: "BloomFilter") -> float:
        """n_hat(A|B) from the OR'd popcount (mod.rs:48-54) — no
        materialized merged filter needed."""
        self._check_shape(other)
        return self.shape.estimate_n(popcount_words(self.words | other.words))

    def estimate_intersection(self, other: "BloomFilter") -> float:
        """Inclusion-exclusion (mod.rs:38-40)."""
        return self.estimate_n() + other.estimate_n() - self.estimate_union(other)

    def fill_ratio(self) -> float:
        return self.cardinality() / self.shape.m

    def to_indices(self) -> np.ndarray:
        """Sorted int64 positions of set bits (mod.rs:168-186)."""
        if self.words.size == 0:
            return np.empty(0, dtype=np.int64)
        bits = np.unpackbits(self.words.view(np.uint8), bitorder="little")
        return np.flatnonzero(bits).astype(np.int64)

    # -- wire ------------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes`` of this shape: the dense word array (the
        sparse codec is only used while it is smaller)."""
        return _HEADER.size + self.shape.number_of_bytes()

    def to_bytes(self) -> bytes:
        """Canonical serialization — a pure function of (shape, set
        bits, n_items); independent of build/merge order.

        Codec picked by the corrected density rule (Shape.is_sparse):
        sparse = sorted uint32 indices, dense = full word array.
        """
        sparse = _sparse_codec(self.shape, self.cardinality())
        codec = _CODEC_SPARSE if sparse else _CODEC_DENSE
        header = _HEADER.pack(
            _MAGIC, _VERSION, _KIND_BLOOM, codec, 0, self.shape.m, self.shape.k, self.n_items
        )
        if sparse:
            payload = self.to_indices().astype(np.uint32).tobytes()
        else:
            payload = self.words.tobytes()
        return header + payload

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized BloomFilter (truncated header)")
        magic, version, kind, codec, _, m, k, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version != _VERSION or kind != _KIND_BLOOM:
            raise ValueError("not a serialized BloomFilter")
        # reject unknown codecs loudly: a future codec misread as dense
        # words would decode to a WRONG bit pattern (false negatives
        # across versions) instead of an error
        if codec not in (_CODEC_DENSE, _CODEC_SPARSE):
            raise ValueError(f"unknown BloomFilter codec byte {codec}")
        shape = Shape(m=m, k=k)
        body = memoryview(data)[_HEADER.size :]
        if codec == _CODEC_SPARSE:
            idx = _sparse_indices(body, shape).astype(np.int64)
            return cls.from_indices(shape, idx, n_items=n_items)
        if len(body) != shape.number_of_bytes():
            raise ValueError(
                f"corrupt dense BloomFilter payload: {len(body)} bytes, "
                f"expected {shape.number_of_bytes()}"
            )
        words = np.frombuffer(body, dtype=_U64).copy()
        # padding bits beyond m must be zero — set padding would corrupt
        # cardinality/estimates far from the decode site
        tail = m % 64
        if tail and words.size and int(words[-1]) >> tail:
            raise ValueError("corrupt dense BloomFilter payload: padding bits set")
        if _sparse_codec(shape, popcount_words(words)):
            raise ValueError("non-canonical BloomFilter payload: dense-coded but sparse by the codec rule")
        return cls(shape, words, n_items=n_items)

    # -- dunder ------------------------------------------------------------------

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, BloomFilter):
            return NotImplemented
        return self.shape == other.shape and bool(np.array_equal(self.words, other.words))

    def __repr__(self) -> str:
        return (
            f"BloomFilter(m={self.shape.m}, k={self.shape.k}, "
            f"bits={self.cardinality()}, n_items={self.n_items})"
        )


class SparseBloomBuilder:
    """Adaptive-representation Bloom accumulator — the reference's
    ``Sparse`` filter (mod.rs:301-379) made operational, not just a wire
    codec: K-M bit indices accumulate in O(set bits) memory and the
    builder promotes itself to a dense ``BloomFilter`` only once the
    index buffer would out-weigh the dense word array. Per-key builds
    over a huge ``m`` with tiny fill never allocate ``m`` bits.

    Same public update surface as BloomFilter (add_tokens/add_u64/
    add_hashes/add_ngrams, n_items, to_bytes); ``to_bytes`` emits the
    identical canonical payload a dense build would (tests pin bitwise
    equality), so it drops into every build pipeline unchanged.
    """

    __slots__ = ("shape", "n_items", "_pending", "_n_pending", "_dense")

    def __init__(self, shape: Shape):
        self.shape = shape
        self.n_items = 0
        self._pending: list[np.ndarray] = []
        self._n_pending = 0
        self._dense: BloomFilter | None = None

    # promote when buffered int64 indices reach the dense byte footprint
    @property
    def is_dense(self) -> bool:
        return self._dense is not None

    def _absorb(self, idx: np.ndarray) -> None:
        if self._dense is not None:
            _or_indices_into(self._dense.words, idx)
            return
        self._pending.append(idx)
        self._n_pending += idx.size
        if self._n_pending * 8 >= self.shape.number_of_bytes():
            self._promote()

    def _promote(self) -> None:
        dense = BloomFilter(self.shape)
        for idx in self._pending:
            _or_indices_into(dense.words, idx)
        self._pending = []
        self._n_pending = 0
        self._dense = dense

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> "SparseBloomBuilder":
        n = len(h1)
        for lo in range(0, n, BloomFilter._CHUNK):
            hi = min(lo + BloomFilter._CHUNK, n)
            self._absorb(km_indices(h1[lo:hi], h2[lo:hi], self.shape).reshape(-1))
        self.n_items += n
        return self

    def add_u64(self, values: np.ndarray) -> "SparseBloomBuilder":
        n = len(values)
        for lo in range(0, n, BloomFilter._CHUNK):
            h1, h2 = hash_pair(values[lo : lo + BloomFilter._CHUNK])
            self._absorb(km_indices(h1, h2, self.shape).reshape(-1))
        self.n_items += n
        return self

    def add_tokens(self, tokens: np.ndarray) -> "SparseBloomBuilder":
        return self.add_u64(tokens_to_u64(np.asarray(tokens)))

    def add_ngrams(self, tokens: np.ndarray, n: int) -> "SparseBloomBuilder":
        h = ngram_hashes(np.asarray(tokens), n)
        if h.size:
            self.add_u64(h)
        return self

    def indices(self) -> np.ndarray:
        """Sorted distinct set-bit positions (sparse mode only)."""
        if self._dense is not None:
            return self._dense.to_indices()
        if not self._pending:
            return np.empty(0, dtype=np.int64)
        return np.unique(np.concatenate(self._pending))

    def to_filter(self) -> BloomFilter:
        if self._dense is not None:
            # copy: the builder stays live — returning its words array
            # would alias the snapshot to every later add_* call
            return BloomFilter(self.shape, self._dense.words.copy(), self.n_items)
        return BloomFilter.from_indices(self.shape, self.indices(), n_items=self.n_items)

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes``: the dense filter it promotes into."""
        return _HEADER.size + self.shape.number_of_bytes()

    def to_bytes(self) -> bytes:
        """Canonical bytes — identical to a dense build of the same
        items. Sparse mode serializes straight from the index set when
        the sparse codec wins, without ever allocating the word array."""
        if self._dense is not None:
            return self._dense_to_bytes()
        idx = self.indices()
        if _sparse_codec(self.shape, len(idx)):
            header = _HEADER.pack(
                _MAGIC, _VERSION, _KIND_BLOOM, _CODEC_SPARSE, 0,
                self.shape.m, self.shape.k, self.n_items,
            )
            return header + idx.astype(np.uint32).tobytes()
        return self.to_filter().to_bytes()

    def _dense_to_bytes(self) -> bytes:
        f = self._dense
        return BloomFilter(self.shape, f.words, self.n_items).to_bytes()


def _sparse_indices(body, shape: Shape) -> np.ndarray:
    """The uint32 set-bit indices of a sparse-coded body. Every encoder
    writes them strictly increasing and below m, and only when the codec
    rule picks sparse; anything else (trailing bytes, duplicates, forged
    indices that would set padding bits or crash the scatter with an
    IndexError, a body the rule would have written dense) is a corrupt
    payload."""
    if len(body) % 4:
        raise ValueError("corrupt sparse BloomFilter payload length")
    idx = np.frombuffer(body, dtype=np.uint32)
    m = shape.m
    if idx.size > 1 and not (idx[1:] > idx[:-1]).all():
        raise ValueError("corrupt sparse BloomFilter payload: indices not strictly increasing")
    if idx.size and int(idx[-1]) >= m:
        raise ValueError(f"corrupt sparse BloomFilter payload: index {int(idx[-1])} >= m={m}")
    if not _sparse_codec(shape, idx.size):
        raise ValueError("non-canonical BloomFilter payload: sparse-coded but dense by the codec rule")
    return idx


def merge_payloads(payloads: list[bytes]) -> bytes:
    """OR-merge serialized filters; associative/commutative, canonical
    output bytes. Used by the Spark tree-merge stages.

    Sparse fast path: when every payload is sparse-coded and the merged
    index set still wins the density rule, the union happens on index
    arrays — no m-bit word array is ever allocated, so huge-m/tiny-fill
    keyed merges stay O(set bits) end to end.
    """
    if not payloads:
        raise ValueError("nothing to merge")
    try:
        headers = [_HEADER.unpack_from(p, 0) for p in payloads]
    except struct.error:  # short/garbage payload: let from_bytes report it
        headers = []
    # fast path only when EVERY payload is a valid sparse-coded Bloom
    # header (a foreign sketch kind must fall through to from_bytes so
    # it raises the proper error instead of being misread as indices)
    if headers and all(
        h[0] == _MAGIC and h[1] == _VERSION and h[2] == _KIND_BLOOM and h[3] == _CODEC_SPARSE
        for h in headers
    ):
        m, k = headers[0][5], headers[0][6]
        shape = Shape(m=m, k=k)
        for h in headers[1:]:
            if (h[5], h[6]) != (m, k):
                raise ValueError(f"shape mismatch: {Shape(m=h[5], k=h[6])} vs {shape}")
        # same checks as from_bytes: never re-emit forged indices
        idx = np.unique(
            np.concatenate([_sparse_indices(memoryview(p)[_HEADER.size :], shape) for p in payloads])
        )
        n_items = sum(h[7] for h in headers)
        if _sparse_codec(shape, len(idx)):
            header = _HEADER.pack(
                _MAGIC, _VERSION, _KIND_BLOOM, _CODEC_SPARSE, 0, m, k, n_items
            )
            return header + idx.tobytes()
        return BloomFilter.from_indices(
            shape, idx.astype(np.int64), n_items=n_items
        ).to_bytes()
    acc = BloomFilter.from_bytes(payloads[0])
    for p in payloads[1:]:
        acc.merge_in_place(BloomFilter.from_bytes(p))
    return acc.to_bytes()
