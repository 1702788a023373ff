"""Misra–Gries heavy-hitter summary (Misra & Gries 1982), merged per
Agarwal et al. 2013 ("Mergeable Summaries", PODS'12 §3.1).

The deterministic sibling of the count-min top-k path: a summary of at
most ``capacity`` (key, count) counters over a weighted stream such
that for EVERY key::

    est(key) <= true(key) <= est(key) + err_ub

where ``est`` is the stored counter (0 if absent) and ``err_ub`` is the
summary's tracked total decrement, bounded by n_items/(capacity+1).
Hence any key with true count > n_items/(capacity+1) is GUARANTEED
present — a provable candidate superset for exact heavy-hitter
verification, with no distributional assumption (contrast the local
top-k margin contract in operators/topk.py, which can miss hitters
spread thin across partitions).

Merge (Agarwal et al. §3.1): add counters keyed-wise, then if more
than ``capacity`` counters remain, subtract the (capacity+1)-th
largest counter value from all and drop the non-positive ones. The
guarantee is preserved with err_ub_merged <= err_ub_a + err_ub_b +
decrement — associative and commutative IN THE GUARANTEE (like KLL /
t-digest, the stored counts may differ across merge orders; unlike the
Bloom/HLL/CMS cores the bytes are canonical only per state, not per
input partitioning). Batch update is the same operation with the
batch's exact (distinct, multiplicity) counts as the other summand,
which never decrements surviving keys below their stream-suffix truth.

Reference parity: the reference repo has no frequency sketch; this is
a sibling mergeable summary following the same algebra axioms its
Bloom filter pins (/root/reference/src/bloomfilter/mod.rs merge
matrices at mod.rs:621-761 — associative, commutative, empty
identity), with the deterministic bound replacing the probabilistic
one.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import tokens_to_u64

_MAGIC = b"RMGS"
_HEADER = struct.Struct("<4sBxxxIQQQ")  # magic, version, capacity, n_keys, n_items, err_ub


class MisraGries:
    __slots__ = ("capacity", "keys", "counts", "n_items", "err_ub")

    def __init__(
        self,
        capacity: int = 1024,
        keys: np.ndarray | None = None,
        counts: np.ndarray | None = None,
        n_items: int = 0,
        err_ub: int = 0,
    ):
        if capacity <= 0:
            raise ValueError("capacity must be positive")
        self.capacity = int(capacity)
        if keys is None:
            keys = np.empty(0, dtype=np.uint64)
            counts = np.empty(0, dtype=np.int64)
        self.keys = np.ascontiguousarray(keys, dtype=np.uint64)
        self.counts = np.ascontiguousarray(counts, dtype=np.int64)
        if self.keys.shape != self.counts.shape:
            raise ValueError("keys/counts length mismatch")
        self.n_items = int(n_items)
        self.err_ub = int(err_ub)

    @classmethod
    def empty(cls, capacity: int = 1024) -> "MisraGries":
        return cls(capacity)

    @classmethod
    def for_threshold(cls, phi: float) -> "MisraGries":
        """Capacity sized so every key with frequency > phi * N is
        guaranteed kept: capacity + 1 > 1/phi."""
        if not 0.0 < phi < 1.0:
            raise ValueError("phi must be in (0, 1)")
        return cls(capacity=int(np.ceil(1.0 / phi)))

    # -- core combine ------------------------------------------------------

    def _combine(self, keys: np.ndarray, counts: np.ndarray) -> None:
        """Keyed add of (keys, counts) into the summary, then shrink to
        capacity by the (capacity+1)-th-largest decrement rule."""
        if self.keys.size:
            both = np.concatenate([self.keys, keys])
            w = np.concatenate([self.counts, counts])
            uk, inv = np.unique(both, return_inverse=True)
            uc = np.bincount(inv, weights=w.astype(np.float64)).astype(np.int64)
        else:
            uk, uc = keys.copy(), counts.astype(np.int64, copy=True)
        if uk.size > self.capacity:
            # decrement by the (capacity+1)-th largest counter; everything
            # <= it drops to <= 0, so at most `capacity` keys survive
            t = int(np.partition(uc, -(self.capacity + 1))[-(self.capacity + 1)])
            keep = uc > t
            uk, uc = uk[keep], uc[keep] - t
            self.err_ub += t
        self.keys, self.counts = uk, uc

    # -- update ------------------------------------------------------------

    _CHUNK = 1 << 20

    def add_u64(self, values: np.ndarray, counts: np.ndarray | None = None) -> "MisraGries":
        """Weighted batch insert. Exact (distinct, multiplicity) per
        batch, then one keyed combine — counters can only saturate,
        never exceed, the int64 range at realistic stream sizes."""
        values = np.asarray(values)
        if values.size == 0:
            return self
        if values.size > self._CHUNK:
            for lo in range(0, values.size, self._CHUNK):
                hi = lo + self._CHUNK
                self.add_u64(values[lo:hi], None if counts is None else counts[lo:hi])
            return self
        v = values.astype(np.uint64, copy=False)
        if counts is None:
            uk, uc = np.unique(v, return_counts=True)
            uc = uc.astype(np.int64)
            total = int(values.size)
        else:
            c = np.asarray(counts, dtype=np.int64)
            if np.any(c < 0):
                raise ValueError("negative multiplicities")
            uk, inv = np.unique(v, return_inverse=True)
            uc = np.bincount(inv, weights=c.astype(np.float64)).astype(np.int64)
            total = int(c.sum())
        self._combine(uk, uc)
        self.n_items += total
        return self

    def add_tokens(self, tokens: np.ndarray) -> "MisraGries":
        return self.add_u64(tokens_to_u64(np.asarray(tokens)))

    # -- query -------------------------------------------------------------

    def query_u64(self, values: np.ndarray) -> np.ndarray:
        """Lower-bound estimates (int64[N]; 0 when absent). Guarantee:
        est <= true <= est + self.err_ub."""
        v = np.asarray(values).astype(np.uint64, copy=False)
        if v.size == 0:
            return np.empty(0, dtype=np.int64)
        if self.keys.size == 0:
            return np.zeros(v.size, dtype=np.int64)
        pos = np.searchsorted(self.keys, v)
        pos = np.clip(pos, 0, self.keys.size - 1)
        hit = self.keys[pos] == v
        out = np.zeros(v.size, dtype=np.int64)
        out[hit] = self.counts[pos[hit]]
        return out

    def query_tokens(self, tokens: np.ndarray) -> np.ndarray:
        return self.query_u64(tokens_to_u64(np.asarray(tokens)))

    def candidates_above(self, threshold: int) -> np.ndarray:
        """uint64 keys that COULD have true count > threshold
        (est + err_ub > threshold). Guaranteed superset of the true
        heavy hitters above the threshold whenever
        threshold >= n_items/(capacity+1) — err_ub never exceeds that."""
        if self.keys.size == 0:
            return np.empty(0, dtype=np.uint64)
        return self.keys[self.counts + self.err_ub > threshold]

    def error_bound(self) -> int:
        """Worst-case undercount: min(tracked decrements, N/(cap+1))."""
        return min(self.err_ub, self.n_items // (self.capacity + 1))

    # -- merge ---------------------------------------------------------------

    def merge_in_place(self, other: "MisraGries") -> "MisraGries":
        if self.capacity != other.capacity:
            raise ValueError("MisraGries capacity mismatch")
        self.err_ub += other.err_ub
        self._combine(other.keys, other.counts)
        self.n_items += other.n_items
        return self

    def merge(self, other: "MisraGries") -> "MisraGries":
        out = MisraGries(
            self.capacity, self.keys.copy(), self.counts.copy(), self.n_items, self.err_ub
        )
        return out.merge_in_place(other)

    # -- wire ----------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes``: ``capacity`` (key, count) pairs."""
        return _HEADER.size + 16 * self.capacity

    def to_bytes(self) -> bytes:
        """Canonical per state: keys ascending (``_combine`` keeps them
        sorted — np.unique output), counts aligned."""
        return (
            _HEADER.pack(_MAGIC, 1, self.capacity, self.keys.size, self.n_items, self.err_ub)
            + self.keys.tobytes()
            + self.counts.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "MisraGries":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized MisraGries (truncated header)")
        magic, version, cap, n_keys, n_items, err_ub = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version != 1:
            raise ValueError("not a serialized MisraGries")
        body = memoryview(data)[_HEADER.size :]
        if n_keys > cap:
            raise ValueError(f"corrupt MisraGries payload: {n_keys} keys > capacity {cap}")
        if len(body) != 16 * n_keys:
            raise ValueError(
                f"corrupt MisraGries payload: {len(body)} body bytes for {n_keys} keys"
            )
        keys = np.frombuffer(body, dtype=np.uint64, count=n_keys).copy()
        counts = np.frombuffer(body, dtype=np.int64, offset=8 * n_keys, count=n_keys).copy()
        if n_keys > 1 and bool(np.any(keys[1:] <= keys[:-1])):
            # element compare, not np.diff: uint64 diff wraps on a
            # descending pair and the wrap is a huge positive value
            raise ValueError("corrupt MisraGries payload: keys not strictly ascending")
        if np.any(counts <= 0):
            raise ValueError("corrupt MisraGries payload: non-positive counter")
        return cls(cap, keys, counts, n_items=n_items, err_ub=err_ub)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, MisraGries):
            return NotImplemented
        return (
            self.capacity == other.capacity
            and bool(np.array_equal(self.keys, other.keys))
            and bool(np.array_equal(self.counts, other.counts))
        )
