"""DDSketch — relative-error quantile summary (Masson, Rim & Lee,
VLDB'19 "DDSketch: A Fast and Fully-Mergeable Quantile Sketch with
Relative-Error Guarantees").

Log-bucketed histogram: a value v > 0 lands in bucket
``ceil(log_gamma(v))`` with gamma = (1+alpha)/(1-alpha), so every
bucket's midpoint estimate ``2*gamma^k/(gamma+1)`` is within relative
error ``alpha`` of every value in the bucket. Negative values mirror
into a second bucket array keyed on ``-v``; |v| below ``min_positive``
counts as an exact zero.

Deliberate deviation from the paper: NO bucket collapsing. The paper
caps memory by collapsing the lowest buckets when the map exceeds a
bound, which makes the stored counts depend on arrival order. We
instead keep every touched bucket and raise when a configured
``max_buckets`` is exceeded (alpha=0.01 covers 12 orders of magnitude
in ~1 400 buckets, so the guard never fires on real telemetry). The
payoff is the strongest algebra in the library for a QUANTILE sketch:
bucket counts are a pure function of the inserted multiset, so merge
is exactly associative + commutative AND the wire bytes are canonical
under any partitioning — the same bitwise-identity contract the
reference pins for its Bloom filter merges
(/root/reference/src/bloomfilter/mod.rs merge matrices at
mod.rs:621-761), which KLL and t-digest only satisfy up to rank error
(their compaction is merge-order dependent; see sketch/kll.py notes).

Guarantee: for any q with a nonzero true quantile x_q,
``|quantile(q) - x_q| <= alpha * |x_q|``.
"""

from __future__ import annotations

import math
import struct

import numpy as np

_MAGIC = b"RDDS"
# magic, version, pad, alpha f64, zero_count i64, n_items i64, n_pos u32, n_neg u32
_HEADER = struct.Struct("<4sBxxxdqqII")

_MIN_POSITIVE = 1e-12  # |v| below this is an exact zero bucket


class DDSketch:
    __slots__ = (
        "alpha",
        "max_buckets",
        "pos_keys",
        "pos_counts",
        "neg_keys",
        "neg_counts",
        "zero_count",
        "n_items",
        "_log_gamma",
    )

    def __init__(
        self,
        alpha: float = 0.01,
        *,
        max_buckets: int = 4096,
        pos_keys: np.ndarray | None = None,
        pos_counts: np.ndarray | None = None,
        neg_keys: np.ndarray | None = None,
        neg_counts: np.ndarray | None = None,
        zero_count: int = 0,
        n_items: int = 0,
    ):
        if not 0.0 < alpha < 1.0:
            raise ValueError("alpha must be in (0, 1)")
        if max_buckets <= 0:
            raise ValueError("max_buckets must be positive")
        self.alpha = float(alpha)
        self.max_buckets = int(max_buckets)
        gamma = (1.0 + self.alpha) / (1.0 - self.alpha)
        self._log_gamma = math.log(gamma)

        def _arr(a, dtype):
            if a is None:
                return np.empty(0, dtype=dtype)
            return np.ascontiguousarray(a, dtype=dtype)

        self.pos_keys = _arr(pos_keys, np.int64)
        self.pos_counts = _arr(pos_counts, np.int64)
        self.neg_keys = _arr(neg_keys, np.int64)
        self.neg_counts = _arr(neg_counts, np.int64)
        if self.pos_keys.shape != self.pos_counts.shape:
            raise ValueError("pos keys/counts length mismatch")
        if self.neg_keys.shape != self.neg_counts.shape:
            raise ValueError("neg keys/counts length mismatch")
        self.zero_count = int(zero_count)
        self.n_items = int(n_items)

    @classmethod
    def empty(cls, alpha: float = 0.01) -> "DDSketch":
        return cls(alpha)

    @property
    def gamma(self) -> float:
        return (1.0 + self.alpha) / (1.0 - self.alpha)

    @property
    def n_buckets(self) -> int:
        return int(self.pos_keys.size + self.neg_keys.size)

    # -- core combine --------------------------------------------------------

    @staticmethod
    def _keyed_add(
        keys_a: np.ndarray, counts_a: np.ndarray, keys_b: np.ndarray, counts_b: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Sorted keyed sum of two (key, count) bucket arrays."""
        if keys_a.size == 0:
            return keys_b.astype(np.int64, copy=True), counts_b.astype(np.int64, copy=True)
        if keys_b.size == 0:
            return keys_a.astype(np.int64, copy=True), counts_a.astype(np.int64, copy=True)
        both = np.concatenate([keys_a, keys_b])
        w = np.concatenate([counts_a, counts_b]).astype(np.int64)
        uk, inv = np.unique(both, return_inverse=True)
        uc = np.zeros(uk.size, dtype=np.int64)
        np.add.at(uc, inv, w)
        return uk, uc

    def _check_capacity(self) -> None:
        if self.n_buckets > self.max_buckets:
            raise ValueError(
                f"DDSketch exceeded max_buckets={self.max_buckets} "
                f"({self.n_buckets} touched); the value range spans more "
                f"orders of magnitude than alpha={self.alpha} can index — "
                "raise max_buckets or coarsen alpha (no collapsing by design, "
                "see module docstring)"
            )

    # -- update ---------------------------------------------------------------

    def add(self, values: np.ndarray, counts: np.ndarray | None = None) -> "DDSketch":
        """Batch insert (optionally weighted). NaN/inf values are
        rejected loudly — a silent drop would break the n_items-based
        rank arithmetic."""
        v = np.asarray(values, dtype=np.float64).ravel()
        if v.size == 0:
            return self
        if not np.all(np.isfinite(v)):
            raise ValueError("DDSketch.add: non-finite values")
        if counts is None:
            c = np.ones(v.size, dtype=np.int64)
        else:
            c = np.asarray(counts, dtype=np.int64).ravel()
            if c.shape != v.shape:
                raise ValueError("values/counts length mismatch")
            if np.any(c < 0):
                raise ValueError("negative multiplicities")
        pos = v > _MIN_POSITIVE
        neg = v < -_MIN_POSITIVE
        zero = ~(pos | neg)
        # bincount over the inverse index, not np.add.at: ~10x on Arrow
        # batches; float64 weights are exact below 2^53 per batch
        if np.any(pos):
            keys = np.ceil(np.log(v[pos]) / self._log_gamma).astype(np.int64)
            uk, inv = np.unique(keys, return_inverse=True)
            uc = np.bincount(inv, weights=c[pos].astype(np.float64)).astype(np.int64)
            self.pos_keys, self.pos_counts = self._keyed_add(
                self.pos_keys, self.pos_counts, uk, uc
            )
        if np.any(neg):
            keys = np.ceil(np.log(-v[neg]) / self._log_gamma).astype(np.int64)
            uk, inv = np.unique(keys, return_inverse=True)
            uc = np.bincount(inv, weights=c[neg].astype(np.float64)).astype(np.int64)
            self.neg_keys, self.neg_counts = self._keyed_add(
                self.neg_keys, self.neg_counts, uk, uc
            )
        self.zero_count += int(c[zero].sum())
        self.n_items += int(c.sum())
        self._check_capacity()
        return self

    # sketch-pipeline protocol alias (build_sketch callers use update_batch)
    def update_batch(self, values: np.ndarray) -> "DDSketch":
        return self.add(values)

    # -- query ----------------------------------------------------------------

    def _bucket_value(self, keys: np.ndarray) -> np.ndarray:
        g = self.gamma
        return 2.0 * np.power(g, keys.astype(np.float64)) / (g + 1.0)

    def quantile(self, q: float) -> float:
        """Value estimate at quantile q in [0, 1]; relative error
        <= alpha against the item at rank floor(q * (n-1))."""
        if not 0.0 <= q <= 1.0:
            raise ValueError("q must be in [0, 1]")
        if self.n_items <= 0:
            raise ValueError("empty DDSketch has no quantiles")
        # value-ordered bucket walk: most-negative first (neg keys
        # descending — larger mirror key = larger |v|), then zeros,
        # then positives ascending
        vals = []
        cnts = []
        if self.neg_keys.size:
            vals.append(-self._bucket_value(self.neg_keys[::-1]))
            cnts.append(self.neg_counts[::-1])
        if self.zero_count > 0:
            vals.append(np.zeros(1))
            cnts.append(np.asarray([self.zero_count], dtype=np.int64))
        if self.pos_keys.size:
            vals.append(self._bucket_value(self.pos_keys))
            cnts.append(self.pos_counts)
        v = np.concatenate(vals)
        cum = np.cumsum(np.concatenate(cnts))
        rank = int(math.floor(q * (self.n_items - 1)))
        idx = int(np.searchsorted(cum, rank + 1, side="left"))
        return float(v[min(idx, v.size - 1)])

    def quantiles(self, qs: list[float]) -> list[float]:
        return [self.quantile(q) for q in qs]

    # -- merge ----------------------------------------------------------------

    def merge_in_place(self, other: "DDSketch") -> "DDSketch":
        if not isinstance(other, DDSketch):
            raise TypeError("can only merge DDSketch with DDSketch")
        # exact bit equality: a near-miss alpha silently changes every
        # bucket boundary, so it must be rejected, not tolerated
        if self.alpha != other.alpha:
            raise ValueError(
                f"DDSketch alpha mismatch: {self.alpha} vs {other.alpha}"
            )
        self.pos_keys, self.pos_counts = self._keyed_add(
            self.pos_keys, self.pos_counts, other.pos_keys, other.pos_counts
        )
        self.neg_keys, self.neg_counts = self._keyed_add(
            self.neg_keys, self.neg_counts, other.neg_keys, other.neg_counts
        )
        self.zero_count += other.zero_count
        self.n_items += other.n_items
        self.max_buckets = max(self.max_buckets, other.max_buckets)
        self._check_capacity()
        return self

    def merge(self, other: "DDSketch") -> "DDSketch":
        out = DDSketch(
            self.alpha,
            max_buckets=self.max_buckets,
            pos_keys=self.pos_keys.copy(),
            pos_counts=self.pos_counts.copy(),
            neg_keys=self.neg_keys.copy(),
            neg_counts=self.neg_counts.copy(),
            zero_count=self.zero_count,
            n_items=self.n_items,
        )
        return out.merge_in_place(other)

    # -- wire -----------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes``: ``max_buckets`` (key, count) pairs, at
        least the 4096 a payload read back by ``from_bytes`` allows."""
        return _HEADER.size + 16 * max(self.max_buckets, 4096)

    def to_bytes(self) -> bytes:
        """Canonical per CONTENT (not just per state): bucket counts
        are a pure function of the inserted multiset, keys ascending,
        so any partitioning of the same input yields bitwise-identical
        payloads."""
        return (
            _HEADER.pack(
                _MAGIC,
                1,
                self.alpha,
                self.zero_count,
                self.n_items,
                self.pos_keys.size,
                self.neg_keys.size,
            )
            + self.pos_keys.tobytes()
            + self.pos_counts.tobytes()
            + self.neg_keys.tobytes()
            + self.neg_counts.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "DDSketch":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized DDSketch (truncated header)")
        magic, version, alpha, zero_count, n_items, n_pos, n_neg = _HEADER.unpack_from(
            data, 0
        )
        if magic != _MAGIC or version != 1:
            raise ValueError("not a serialized DDSketch")
        body = memoryview(data)[_HEADER.size :]
        want = 16 * (n_pos + n_neg)
        if len(body) != want:
            raise ValueError(
                f"corrupt DDSketch payload: {len(body)} body bytes, expected {want}"
            )
        off = 0

        def take(n):
            nonlocal off
            out = np.frombuffer(body, dtype=np.int64, offset=off, count=n).copy()
            off += 8 * n
            return out

        pos_keys = take(n_pos)
        pos_counts = take(n_pos)
        neg_keys = take(n_neg)
        neg_counts = take(n_neg)
        for keys, counts, side in (
            (pos_keys, pos_counts, "pos"),
            (neg_keys, neg_counts, "neg"),
        ):
            if keys.size > 1 and bool(np.any(keys[1:] <= keys[:-1])):
                raise ValueError(
                    f"corrupt DDSketch payload: {side} keys not strictly ascending"
                )
            if bool(np.any(counts <= 0)):
                raise ValueError(
                    f"corrupt DDSketch payload: non-positive {side} counter"
                )
        if zero_count < 0 or n_items < 0:
            raise ValueError("corrupt DDSketch payload: negative totals")
        if int(pos_counts.sum() + neg_counts.sum()) + zero_count != n_items:
            raise ValueError("corrupt DDSketch payload: counts do not sum to n_items")
        # max_buckets floors at the observed size so a payload built with
        # a raised cap round-trips without tripping the guard
        return cls(
            alpha,
            max_buckets=max(4096, n_pos + n_neg),
            pos_keys=pos_keys,
            pos_counts=pos_counts,
            neg_keys=neg_keys,
            neg_counts=neg_counts,
            zero_count=zero_count,
            n_items=n_items,
        )

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, DDSketch):
            return NotImplemented
        return (
            self.alpha == other.alpha
            and self.zero_count == other.zero_count
            and self.n_items == other.n_items
            and bool(np.array_equal(self.pos_keys, other.pos_keys))
            and bool(np.array_equal(self.pos_counts, other.pos_counts))
            and bool(np.array_equal(self.neg_keys, other.neg_keys))
            and bool(np.array_equal(self.neg_counts, other.neg_counts))
        )
