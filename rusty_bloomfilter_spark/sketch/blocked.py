"""Cache-line-blocked ("split-block") Bloom filter — the scale path.

The classic Kirsch-Mitzenmacher filter (.bloom.BloomFilter, reference
parity) touches k cache lines per item; at 32-way parallelism on a
100 TB build that makes the job memory-bound and kills throughput
scaling. The *blocked* design (Putze, Sanders, Singler, "Cache-,
Hash- and Space-Efficient Bloom Filters", JEA 2009; deployed as
Apache Parquet's split-block Bloom filter) confines each item's k=8
bits to ONE 256-bit block = one cache line: ~1 memory touch per item
for both build and probe, so the kernel stays compute-bound and
scales with cores (measured ~3x the classic filter per core here).

Layout and salt constants follow the public Parquet SBBF spec:
8 x uint32 words per block; item hash h (uint64):
  block  = (h >> 32) mod n_blocks
  word j bit = top-5 bits of (low32(h) * SALT[j])   (j = 0..7)

Sizing uses parquet-mr's published formula:
  total_bits = -8n / ln(1 - p^(1/8))
(derivation: each word is an independent 1-of-32 mini-filter; a probe
false-positives iff all 8 words hit, so per-word hit prob must be
p^(1/8).)

Same merge algebra as every sketch here: OR, associative +
commutative + idempotent, empty identity, canonical bytes. Zero false
negatives (probe masks computed identically to insert masks).

Two wire layouts behind one canonical chooser (as the classic filter's
dense/sparse codecs and HLL's and CMS's compact layouts), both after
the same 24-byte header:
  v1 dense : the n_blocks x 4 uint64 words.
  v2 sparse: the strictly increasing <u4 indices of the non-empty
             blocks, then each listed block's four <u8 words; the
             block count is the body length over 36.
``to_bytes`` writes v2 exactly when it is smaller (36*nnz <
32*n_blocks) and every block index fits its <u4 slot (n_blocks <=
2^32); otherwise v1. The choice is a function of the words alone, so
bytes stay canonical under any partitioning or merge order. In memory
the words are always dense; per-file and per-key filters that touch a
fraction of their blocks cross the wire at ~36/32 x that fraction.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import splitmix64, tokens_to_u64

_U64 = np.uint64
_U32 = np.uint32

# Public Parquet split-block Bloom filter salts.
_SALT = np.array(
    [0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
     0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31],
    dtype=_U32,
)
_WORDS_PER_BLOCK = 8  # uint32 words; 4 uint64 on the wire
_BLOCK_BITS = 256

_MAGIC = b"RBKB"
_HEADER = struct.Struct("<4sBxxxQQ")  # magic, version, n_blocks, n_items
_SPARSE_ENTRY = 4 + 32  # v2: one <u4 block index + one block's words
_BLOCK = np.dtype("V32")  # one block as a single item: row gathers/scatters


def _sparse_layout(nnz: int, n_blocks: int) -> bool:
    """v2 is written iff it is smaller than v1 (36*nnz < 32*n_blocks)
    and every block index fits its <u4 slot."""
    return n_blocks <= 1 << 32 and _SPARSE_ENTRY * nnz < 32 * n_blocks


def _block_or(blocks: np.ndarray) -> np.ndarray:
    """uint64[n_blocks, 4] -> uint64[n_blocks]: each block's words OR-ed
    (nonzero iff the block has a bit set)."""
    acc = blocks[:, 0] | blocks[:, 1]
    acc |= blocks[:, 2]
    acc |= blocks[:, 3]
    return acc


def _poisson_fpr(lam: float) -> float:
    """FPR of one block whose load is Poisson(lam): E[(1-(31/32)^B)^8].

    Exact mixture, truncated at lam + 12*sqrt(lam) + 20 (tail mass
    negligible). This is the corrected blocked-filter bound the tests
    assert against (the naive mean-load formula understates FPR ~2x).
    """
    if lam <= 0:
        return 0.0
    hi = int(lam + 12.0 * math.sqrt(lam) + 20.0)
    b = np.arange(hi + 1)
    # log Poisson pmf for numerical stability
    logpmf = b * math.log(lam) - lam - np.cumsum(np.log(np.maximum(b, 1)))
    pmf = np.exp(logpmf)
    per_word = 1.0 - (31.0 / 32.0) ** b
    return float((pmf * per_word**8).sum())


class BlockedBloomFilter:
    """Split-block Bloom filter over uint64[n_blocks*4] words."""

    __slots__ = ("n_blocks", "words", "n_items")

    _CHUNK = 1 << 18

    def __init__(self, n_blocks: int, words: np.ndarray | None = None, n_items: int = 0):
        if n_blocks <= 0:
            raise ValueError("n_blocks must be positive")
        self.n_blocks = int(n_blocks)
        n64 = self.n_blocks * 4
        if words is None:
            words = np.zeros(n64, dtype=_U64)
        else:
            words = np.ascontiguousarray(words, dtype=_U64)
            if words.shape != (n64,):
                raise ValueError(f"expected {n64} words")
        self.words = words
        self.n_items = int(n_items)

    # -- sizing ------------------------------------------------------------

    @classmethod
    def for_np(cls, n: int, p: float) -> "BlockedBloomFilter":
        """Size for n items at FPR <= p.

        Starts from parquet-mr's optimalNumOfBits
        (-8n / ln(1 - p^(1/8)), which targets the FPR of the *mean*
        block load) and then grows the block count until the
        Poisson-load-corrected FPR (Putze et al. §4: block loads are
        Poisson, and E[fill^8] > (E fill)^8) meets p.
        """
        if n <= 0 or not (0.0 < p < 1.0):
            raise ValueError("need n > 0 and p in (0,1)")
        bits = -8.0 * n / math.log(1.0 - p ** (1.0 / 8.0))
        n_blocks = max(1, math.ceil(bits / _BLOCK_BITS))
        while _poisson_fpr(n / n_blocks) > p:
            n_blocks = math.ceil(n_blocks * 1.08)
        return cls(n_blocks)

    @property
    def m(self) -> int:
        return self.n_blocks * _BLOCK_BITS

    def number_of_bytes(self) -> int:
        return self.n_blocks * 32

    # -- kernel ------------------------------------------------------------

    def _block_and_masks(self, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """h uint64[N] -> (block int64[N], masks uint64[N,4])."""
        block = ((h >> _U64(32)) % int(self.n_blocks)).astype(np.int64)
        x = (h & _U64(0xFFFFFFFF)).astype(_U32)
        with np.errstate(over="ignore"):
            m32 = _U32(1) << ((x[:, None] * _SALT[None, :]) >> _U32(27))
        return block, np.ascontiguousarray(m32).view(_U64)

    def _insert(self, hh: np.ndarray) -> None:
        block, masks = self._block_and_masks(hh)
        pos = block[:, None] * 4 + np.arange(4, dtype=np.int64)[None, :]
        np.bitwise_or.at(self.words, pos.reshape(-1), masks.reshape(-1))

    def add_hashes(self, h: np.ndarray) -> "BlockedBloomFilter":
        """Insert pre-hashed uint64 items (ONE hash per item)."""
        n = len(h)
        for lo in range(0, n, self._CHUNK):
            self._insert(h[lo : lo + self._CHUNK].astype(_U64, copy=False))
        self.n_items += n
        return self

    def add_u64(self, values: np.ndarray) -> "BlockedBloomFilter":
        n = len(values)
        for lo in range(0, n, self._CHUNK):
            self._insert(splitmix64(values[lo : lo + self._CHUNK].astype(_U64, copy=False)))
        self.n_items += n
        return self

    def add_tokens(self, tokens: np.ndarray) -> "BlockedBloomFilter":
        return self.add_u64(tokens_to_u64(np.asarray(tokens)))

    def contains_hashes(self, h: np.ndarray) -> np.ndarray:
        n = len(h)
        out = np.empty(n, dtype=bool)
        arange4 = np.arange(4, dtype=np.int64)[None, :]
        for lo in range(0, n, self._CHUNK):
            hh = h[lo : lo + self._CHUNK].astype(_U64, copy=False)
            block, masks = self._block_and_masks(hh)
            pos = block[:, None] * 4 + arange4
            got = self.words[pos]
            out[lo : lo + len(hh)] = ((got & masks) == masks).all(axis=1)
        return out

    def contains_u64(self, values: np.ndarray) -> np.ndarray:
        return self.contains_hashes(splitmix64(np.asarray(values).astype(_U64, copy=False)))

    def contains_tokens(self, tokens: np.ndarray) -> np.ndarray:
        return self.contains_u64(tokens_to_u64(np.asarray(tokens)))

    # -- algebra ------------------------------------------------------------

    def merge_in_place(self, other: "BlockedBloomFilter") -> "BlockedBloomFilter":
        if self.n_blocks != other.n_blocks:
            raise ValueError(f"n_blocks mismatch: {self.n_blocks} vs {other.n_blocks}")
        self.words |= other.words
        self.n_items += other.n_items
        return self

    def merge(self, other: "BlockedBloomFilter") -> "BlockedBloomFilter":
        out = BlockedBloomFilter(self.n_blocks, self.words.copy(), self.n_items)
        return out.merge_in_place(other)

    # -- inspect -------------------------------------------------------------

    def cardinality(self) -> int:
        from .bloom import popcount_words

        return popcount_words(self.words)

    def fill_ratio(self) -> float:
        return self.cardinality() / self.m

    def estimate_n(self) -> float:
        """Distinct-insert estimate for the blocked layout.

        Each item sets exactly 1 uniformly-chosen bit in each of 8
        32-bit words of its block, so a given bit is set w.p.
        1-(1-1/32)^b after b items land in its block. With n items
        uniform over blocks, E[fill] = 1-(1-1/32)^(n/n_blocks), giving
        n_hat = n_blocks * ln(1-fill)/ln(1-1/32).
        """
        fill = self.fill_ratio()
        if fill >= 1.0:
            return math.inf
        if fill == 0.0:
            return 0.0
        return self.n_blocks * math.log(1.0 - fill) / math.log(1.0 - 1.0 / 32.0)

    def false_positives(self, n: int) -> float:
        """Expected FPR after n inserts (Poisson-load-corrected)."""
        return _poisson_fpr(n / self.n_blocks)

    # -- wire -------------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes``: the v1 dense block array (the v2 sparse
        layout is written only while it is smaller)."""
        return _HEADER.size + self.words.nbytes

    def to_bytes(self) -> bytes:
        blocks = self.words.reshape(-1, 4)
        filled = _block_or(blocks) != 0
        if not _sparse_layout(int(np.count_nonzero(filled)), self.n_blocks):
            return _HEADER.pack(_MAGIC, 1, self.n_blocks, self.n_items) + self.words.tobytes()
        idx = np.flatnonzero(filled)
        return b"".join((
            _HEADER.pack(_MAGIC, 2, self.n_blocks, self.n_items),
            idx.astype("<u4").tobytes(),
            blocks.take(idx, axis=0).astype("<u8", copy=False).tobytes(),
        ))

    @classmethod
    def from_bytes(cls, data: bytes) -> "BlockedBloomFilter":
        """Decode either layout; only canonical bytes are accepted
        (``from_bytes(raw).to_bytes() == raw``), anything else raises
        ``ValueError``."""
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized BlockedBloomFilter")
        magic, version, n_blocks, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version not in (1, 2) or n_blocks == 0:
            raise ValueError("not a serialized BlockedBloomFilter")
        body = memoryview(data)[_HEADER.size :]
        if version == 1:
            if len(body) != 32 * n_blocks:
                raise ValueError(
                    f"corrupt BlockedBloomFilter payload: {len(body)} bytes for {n_blocks} blocks"
                )
            words = np.frombuffer(body, dtype="<u8").astype(_U64)
            nnz = int(np.count_nonzero(_block_or(words.reshape(-1, 4))))
            if _sparse_layout(nnz, n_blocks):
                raise ValueError("non-canonical BlockedBloomFilter: dense blocks that are sparse")
            return cls(n_blocks, words, n_items=n_items)
        nnz, rem = divmod(len(body), _SPARSE_ENTRY)
        if rem:
            raise ValueError(
                f"corrupt BlockedBloomFilter payload: {len(body)} bytes is not a whole"
                f" number of {_SPARSE_ENTRY}-byte sparse blocks"
            )
        if not _sparse_layout(nnz, n_blocks):
            raise ValueError("non-canonical BlockedBloomFilter: sparse blocks that are dense")
        idx = np.frombuffer(body, dtype="<u4", count=nnz)
        blocks = np.frombuffer(body, dtype="<u8", count=4 * nnz, offset=4 * nnz).reshape(-1, 4)
        if nnz and (int(idx[-1]) >= n_blocks or bool((idx[1:] <= idx[:-1]).any())):
            raise ValueError(
                "corrupt BlockedBloomFilter payload: block indices must be strictly"
                f" increasing and < n_blocks={n_blocks}"
            )
        if not _block_or(blocks).all():
            raise ValueError("corrupt BlockedBloomFilter payload: a listed block is empty")
        words = np.zeros(4 * n_blocks, dtype=_U64)
        words.view(_BLOCK)[idx] = blocks.view(_BLOCK).reshape(-1)
        return cls(n_blocks, words, n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, BlockedBloomFilter):
            return NotImplemented
        return self.n_blocks == other.n_blocks and bool(np.array_equal(self.words, other.words))

    def __repr__(self) -> str:
        return (
            f"BlockedBloomFilter(blocks={self.n_blocks}, "
            f"bits={self.cardinality()}, n_items={self.n_items})"
        )
