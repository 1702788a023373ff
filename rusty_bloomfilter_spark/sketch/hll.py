"""HyperLogLog distinct-count sketch (Flajolet et al. 2007).

Same mergeable algebra as the reference's Bloom filter (associative,
commutative, idempotent merge with an empty identity — the axioms the
reference pins in its merge matrices, mod.rs:621-761) with registers
instead of bits: merge = elementwise max over uint8[2^p].

Vectorized numpy throughout; canonical serialization (register array is
a pure function of the inserted set, so merge order never matters).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import hash_pair, tokens_to_u64

_U64 = np.uint64
_MAGIC = b"RHLL"
_HEADER = struct.Struct("<4sBBxxQ")  # magic, version, p, pad, n_items


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _clz_rank(w: np.ndarray) -> np.ndarray:
    """rank = (#leading zeros of left-aligned w) + 1. Vectorized binary
    search; w == 0 yields 64 (callers cap at width+1)."""
    w = w.astype(_U64, copy=True)
    n = np.zeros(w.shape, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        mask = (w >> _U64(64 - shift)) == 0
        n[mask] += shift
        w[mask] = w[mask] << _U64(shift)
    return n + 1  # w==0 -> 64, capped by caller


class HyperLogLog:
    """Dense HLL with 2^p uint8 registers; merge = elementwise max."""

    __slots__ = ("p", "registers", "n_items")

    def __init__(self, p: int = 14, registers: np.ndarray | None = None, n_items: int = 0):
        if not (4 <= p <= 18):
            raise ValueError(f"p must be in [4,18], got {p}")
        self.p = p
        m = 1 << p
        if registers is None:
            registers = np.zeros(m, dtype=np.uint8)
        else:
            registers = np.ascontiguousarray(registers, dtype=np.uint8)
            if registers.shape != (m,):
                raise ValueError(f"expected {m} registers")
        self.registers = registers
        self.n_items = int(n_items)

    @classmethod
    def empty(cls, p: int = 14) -> "HyperLogLog":
        return cls(p)

    @property
    def m(self) -> int:
        return 1 << self.p

    def relative_error(self) -> float:
        """Published standard error bound 1.04/sqrt(m)."""
        return 1.04 / math.sqrt(self.m)

    # -- update --------------------------------------------------------

    def add_hashes(self, h: np.ndarray) -> "HyperLogLog":
        """Insert pre-hashed uint64 values."""
        if len(h) == 0:
            return self
        h = h.astype(_U64, copy=False)
        idx = (h >> _U64(64 - self.p)).astype(np.int64)
        # remaining 64-p bits, left-aligned in a 64-bit word for clz
        w = h << _U64(self.p)
        rank = _clz_rank(w)
        rank = np.minimum(rank, 64 - self.p + 1)
        if self.m <= (1 << 16):
            # max-reduce per register via bincount presence: rank < 64,
            # so (idx, rank) packs injectively into idx*64 + rank; a
            # register's max rank is the highest occupied lane. O(n)
            # sequential scatter into m*64 bins — measured 14x faster
            # than the sort + maximum.reduceat path at 10M tokens
            # (cache-resident bins; the sort is O(n log n) and
            # cache-hostile at Arrow-batch sizes).
            key = (idx << 6) + rank
            occupied = np.bincount(key, minlength=self.m * 64).reshape(self.m, 64) > 0
            mx = (63 - np.argmax(occupied[:, ::-1], axis=1)).astype(np.uint8)
            mx[~occupied.any(axis=1)] = 0
            np.maximum(self.registers, mx, out=self.registers)
        else:
            # p > 16: the bin table would outgrow cache (m*64 int64
            # bins) — fall back to sort + maximum.reduceat
            rank = rank.astype(np.uint8)
            order = np.argsort(idx, kind="stable")
            si = idx[order]
            sr = rank[order]
            starts = np.concatenate(([0], np.flatnonzero(si[1:] != si[:-1]) + 1))
            maxed = np.maximum.reduceat(sr, starts)
            regs = si[starts]
            self.registers[regs] = np.maximum(self.registers[regs], maxed)
        self.n_items += len(h)
        return self

    def add_u64(self, values: np.ndarray) -> "HyperLogLog":
        h1, _ = hash_pair(values)
        return self.add_hashes(h1)

    def add_tokens(self, tokens: np.ndarray) -> "HyperLogLog":
        return self.add_u64(tokens_to_u64(np.asarray(tokens)))

    # -- merge ---------------------------------------------------------

    def merge_in_place(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.p != other.p:
            raise ValueError(f"precision mismatch: {self.p} vs {other.p}")
        np.maximum(self.registers, other.registers, out=self.registers)
        self.n_items += other.n_items
        return self

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        out = HyperLogLog(self.p, self.registers.copy(), self.n_items)
        return out.merge_in_place(other)

    # -- estimate --------------------------------------------------------

    def estimate(self) -> float:
        """Classic HLL estimator with linear-counting small-range
        correction (Flajolet et al. 2007, Fig. 3)."""
        m = self.m
        regs = self.registers.astype(np.float64)
        est = _alpha(m) * m * m / np.power(2.0, -regs).sum()
        if est <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros:
                return m * math.log(m / zeros)
        return float(est)

    # Estimator-protocol alias shared with BloomFilter (pairwise
    # overlap plans call estimate_n on either sketch kind).
    def estimate_n(self) -> float:
        return self.estimate()

    def estimate_union(self, other: "HyperLogLog") -> float:
        """|A ∪ B| from the register-wise max — exact HLL semantics
        (the union sketch IS the sketch of the union), no materialized
        merge. Mirrors the Bloom estimator pair (mod.rs:48-54)."""
        if self.p != other.p:
            raise ValueError(f"precision mismatch: {self.p} vs {other.p}")
        return HyperLogLog(
            self.p, np.maximum(self.registers, other.registers)
        ).estimate()

    def estimate_intersection(self, other: "HyperLogLog") -> float:
        """Inclusion-exclusion |A| + |B| − |A ∪ B| (mod.rs:38-40
        analog). Error compounds for small intersections of large sets
        — the published caveat; clamped at 0."""
        return max(0.0, self.estimate() + other.estimate() - self.estimate_union(other))

    # -- wire -------------------------------------------------------------
    #
    # Two encodings behind one canonical chooser (the HLL analogue of
    # the reference's sparse/dense Bloom representations, mod.rs
    # sparse promotion — and of HLL++'s sparse mode, Heule et al.
    # 2013 §5.3, simplified to the fixed-p register list):
    #   v1 dense : m raw uint8 registers
    #   v2 sparse: nnz sorted uint32 words, each (idx << 6) | rank
    #              (idx <= 2^18 needs 18 bits; rank <= 61 fits 6)
    # The encoding is picked from register STATE alone (4*nnz < m), so
    # serialization stays a pure function of content — merge order and
    # partitioning cannot flip it, preserving canonical-bytes algebra.
    # In memory the sketch is always dense (update/merge/estimate
    # kernels untouched); sparse is a wire format, shrinking shuffle
    # bytes for keyed/windowed sketches whose groups see few distincts
    # (an empty p=14 payload drops 16 KiB -> 16 B).

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes`` of this precision: the dense registers
        (the sparse form is only used while it is smaller)."""
        return _HEADER.size + self.m

    def to_bytes(self) -> bytes:
        idx = np.flatnonzero(self.registers)
        if 4 * len(idx) < self.m:
            packed = (idx.astype(np.uint32) << np.uint32(6)) | self.registers[
                idx
            ].astype(np.uint32)
            return (
                _HEADER.pack(_MAGIC, 2, self.p, self.n_items)
                + packed.astype("<u4").tobytes()
            )
        return _HEADER.pack(_MAGIC, 1, self.p, self.n_items) + self.registers.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized HyperLogLog (truncated header)")
        magic, version, p, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version not in (1, 2):
            raise ValueError("not a serialized HyperLogLog")
        body = memoryview(data)[_HEADER.size :]
        if version == 1:
            regs = np.frombuffer(body, dtype=np.uint8).copy()
            if regs.size != 1 << p:
                raise ValueError(
                    f"corrupt HyperLogLog payload: {regs.size} registers, expected {1 << p}"
                )
            if 4 * np.count_nonzero(regs) < regs.size:
                raise ValueError("non-canonical HyperLogLog: dense registers that are sparse")
            return cls(p, regs, n_items=n_items)
        if len(body) % 4:
            raise ValueError("corrupt sparse HyperLogLog payload length")
        packed = np.frombuffer(body, dtype="<u4").astype(np.uint32)
        if 4 * len(packed) >= 1 << p:
            raise ValueError("non-canonical HyperLogLog: sparse registers that are dense")
        regs = np.zeros(1 << p, dtype=np.uint8)
        idx = (packed >> np.uint32(6)).astype(np.int64)
        if len(idx) and (idx >= (1 << p)).any():
            raise ValueError("sparse HLL register index out of range")
        # forged states must not enter the merge algebra: a rank above
        # the reachable cap (64-p+1) is unproducible by any insert and
        # would inflate every downstream max-merge permanently; dup
        # indices would silently last-win. The encoder writes the
        # nonzero registers in index order, so out-of-order words or a
        # rank-0 word are non-canonical bytes for the same registers.
        if (np.diff(idx) <= 0).any():
            raise ValueError(
                "sparse HLL register indices must be strictly increasing"
                " (duplicate or out of order)"
            )
        ranks = (packed & np.uint32(0x3F)).astype(np.uint8)
        if len(ranks) and int(ranks.max()) > 64 - p + 1:
            raise ValueError(
                f"sparse HLL register rank {int(ranks.max())} exceeds cap {64 - p + 1}"
            )
        if len(ranks) and int(ranks.min()) == 0:
            raise ValueError("sparse HLL payload has a rank-0 register word")
        regs[idx] = ranks
        return cls(p, regs, n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, HyperLogLog):
            return NotImplemented
        return self.p == other.p and bool(np.array_equal(self.registers, other.registers))
