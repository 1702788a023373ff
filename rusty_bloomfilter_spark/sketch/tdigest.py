"""t-digest quantile sketch (Dunning & Ertl, "Computing extremely
accurate quantiles using t-digests", 2019 — the merging variant).

Centroids (mean, weight) with cluster sizes bounded by the k1 scale
function, which concentrates resolution at the tails (relative rank
error ~ O(1/compression), tightest near q=0 and q=1). Same mergeable
contract as the other sketches: associative/commutative within the
published error bound, empty identity, canonical-enough bytes
(centroid list fully determines behavior).

Vectorized numpy: batch updates buffer values; compression is a single
sort + cumulative-weight cluster assignment per flush (no per-point
Python loop).
"""

from __future__ import annotations

import math
import struct

import numpy as np

_MAGIC = b"RTDG"
_HEADER = struct.Struct("<4sBxxxIIQdd")  # magic, ver, compression, n_centroids, n_items, min, max


class TDigest:
    __slots__ = ("compression", "means", "weights", "_buf", "n_items", "_min", "_max")

    def __init__(self, compression: int = 200):
        if compression < 20:
            raise ValueError("compression must be >= 20")
        self.compression = int(compression)
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self._buf: list[np.ndarray] = []
        self.n_items = 0
        self._min = math.inf
        self._max = -math.inf

    @classmethod
    def empty(cls, compression: int = 200) -> "TDigest":
        return cls(compression)

    # -- scale function (k1) ------------------------------------------------

    def _k(self, q: np.ndarray) -> np.ndarray:
        return (self.compression / (2.0 * math.pi)) * np.arcsin(2.0 * q - 1.0)

    # -- update --------------------------------------------------------------

    def update_batch(self, values: np.ndarray) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return self
        self._buf.append(v)
        self.n_items += int(v.size)
        self._min = min(self._min, float(v.min()))
        self._max = max(self._max, float(v.max()))
        if sum(len(b) for b in self._buf) >= 20 * self.compression:
            self._compress()
        return self

    def _compress(self) -> None:
        parts_m = [self.means] + self._buf
        parts_w = [self.weights] + [np.ones(len(b)) for b in self._buf]
        m = np.concatenate(parts_m)
        w = np.concatenate(parts_w)
        self._buf = []
        if m.size == 0:
            return
        order = np.argsort(m, kind="stable")
        m = m[order]
        w = w[order]
        total = w.sum()
        # cluster assignment: greedy boundary when k(q) crosses integers.
        # q_right after each point; a new cluster starts when the k-index
        # floor advances (vectorized equivalent of the merge loop).
        q = np.cumsum(w) / total
        k = self._k(np.clip(q, 0.0, 1.0))
        k0 = self._k(np.array([0.0]))[0]
        cluster = np.floor(k - k0).astype(np.int64)
        # force strictly increasing cluster ids to be grouped
        starts = np.concatenate(([0], np.flatnonzero(cluster[1:] != cluster[:-1]) + 1))
        csum_w = np.add.reduceat(w, starts)
        csum_mw = np.add.reduceat(m * w, starts)
        self.means = csum_mw / csum_w
        self.weights = csum_w

    # -- merge ------------------------------------------------------------------

    def _flushed(self) -> "TDigest":
        if self._buf:
            self._compress()
        return self

    def merge_in_place(self, other: "TDigest") -> "TDigest":
        if self.compression != other.compression:
            raise ValueError("compression mismatch")
        self._flushed()
        other._flushed()  # flushing only normalizes internal state
        if other.means.size:
            self.means = np.concatenate([self.means, other.means])
            self.weights = np.concatenate([self.weights, other.weights])
            self._compress()
        self.n_items += other.n_items
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        out = TDigest(self.compression)
        self._flushed()
        out.means = self.means.copy()
        out.weights = self.weights.copy()
        out.n_items = self.n_items
        out._min, out._max = self._min, self._max
        return out.merge_in_place(other)

    # -- query ---------------------------------------------------------------------

    def quantile(self, q: float | np.ndarray):
        self._flushed()
        if self.means.size == 0:
            return np.nan if np.isscalar(q) else np.full(np.shape(q), np.nan)
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        total = self.weights.sum()
        # centroid midpoints in cumulative-weight space
        cw = np.cumsum(self.weights) - self.weights / 2.0
        targets = np.clip(qs, 0.0, 1.0) * total
        out = np.interp(targets, cw, self.means)
        out = np.clip(out, self._min, self._max)
        # exact extremes
        out[qs <= 0.0] = self._min
        out[qs >= 1.0] = self._max
        return float(out[0]) if np.isscalar(q) else out

    def rank(self, value: float) -> float:
        self._flushed()
        if self.means.size == 0:
            return float("nan")
        cw = np.cumsum(self.weights) - self.weights / 2.0
        total = self.weights.sum()
        return float(np.interp(value, self.means, cw / total, left=0.0, right=1.0))

    # -- wire -------------------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes``: the k1 scale spans compression/2 index
        units and a flushed digest keeps one centroid per unit, so
        ``compression`` centroids leave room for rounding."""
        return _HEADER.size + 16 * self.compression

    def to_bytes(self) -> bytes:
        self._flushed()
        header = _HEADER.pack(
            _MAGIC, 1, self.compression, len(self.means), self.n_items,
            self._min if self.n_items else 0.0,
            self._max if self.n_items else 0.0,
        )
        return header + self.means.tobytes() + self.weights.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "TDigest":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized TDigest")
        magic, ver, compression, n_c, n_items, mn, mx = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or ver != 1:
            raise ValueError("not a serialized TDigest")
        if len(data) != _HEADER.size + 16 * n_c:
            raise ValueError(f"corrupt TDigest payload: {len(data)} bytes for {n_c} centroids")
        out = cls(compression)
        off = _HEADER.size
        out.means = np.frombuffer(data, dtype=np.float64, count=n_c, offset=off).copy()
        off += 8 * n_c
        out.weights = np.frombuffer(data, dtype=np.float64, count=n_c, offset=off).copy()
        out.n_items = n_items
        if n_items:
            out._min, out._max = mn, mx
        return out
