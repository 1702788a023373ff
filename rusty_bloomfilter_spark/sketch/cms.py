"""Count-min sketch (Cormode & Muthukrishnan 2005).

Mergeable algebra matching the reference's Bloom axioms where they
apply (associative + commutative merge, empty identity): merge =
elementwise add over a uint64 d x w matrix. Point query = min over
rows; guarantees estimate >= true count, and estimate <= true + eps*N
with probability 1-delta for eps = e/w, delta = e^-d.

Row hashing reuses the Kirsch-Mitzenmacher pair expansion that the
reference pins for the Bloom filter (hasher.rs:48-70): row i probes
column (h1 + i*h2) mod w — the same double-hashing family, published
as sufficient for CMS row independence.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import hash_pair, tokens_to_u64

_U64 = np.uint64
_MAGIC = b"RCMS"
_HEADER = struct.Struct("<4sBxxxIIQ")  # magic, version, d, w, n_items


class CountMinSketch:
    __slots__ = ("d", "w", "table", "n_items")

    def __init__(self, d: int = 5, w: int = 8192, table: np.ndarray | None = None, n_items: int = 0):
        if d <= 0 or w <= 0:
            raise ValueError("d and w must be positive")
        self.d = d
        self.w = w
        if table is None:
            table = np.zeros((d, w), dtype=_U64)
        else:
            table = np.ascontiguousarray(table, dtype=_U64)
            if table.shape != (d, w):
                raise ValueError(f"expected table shape {(d, w)}")
        self.table = table
        self.n_items = int(n_items)

    @classmethod
    def empty(cls, d: int = 5, w: int = 8192) -> "CountMinSketch":
        return cls(d, w)

    @classmethod
    def for_bounds(cls, eps: float, delta: float) -> "CountMinSketch":
        """w = ceil(e/eps), d = ceil(ln(1/delta)) — published sizing."""
        return cls(d=math.ceil(math.log(1.0 / delta)), w=math.ceil(math.e / eps))

    def error_bound(self) -> tuple[float, float]:
        """(eps, delta): overestimate <= eps*N with prob 1-delta."""
        return (math.e / self.w, math.exp(-self.d))

    # -- update ----------------------------------------------------------

    def _columns(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(d, N) column indices via K-M expansion mod w."""
        w = int(self.w)  # Python-int modulo = numpy fast path
        h1r = h1.astype(_U64, copy=False) % w
        h2r = h2.astype(_U64, copy=False) % w
        i = np.arange(self.d, dtype=_U64)
        with np.errstate(over="ignore"):
            return ((h1r[None, :] + i[:, None] * h2r[None, :]) % w).view(np.int64)

    _CHUNK = 1 << 19  # bound (d, chunk) temporaries (page-fault hygiene)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray, counts: np.ndarray | None = None) -> "CountMinSketch":
        if len(h1) == 0:
            return self
        if len(h1) > self._CHUNK:
            for lo in range(0, len(h1), self._CHUNK):
                hi = lo + self._CHUNK
                self.add_hashes(
                    h1[lo:hi], h2[lo:hi], None if counts is None else counts[lo:hi]
                )
            return self
        cols = self._columns(h1, h2)
        if counts is None:
            weights = None
            total = len(h1)
        else:
            weights = np.asarray(counts, dtype=np.float64)
            total = int(weights.sum())
        for r in range(self.d):
            binned = np.bincount(cols[r], weights=weights, minlength=self.w)
            self.table[r] += binned.astype(_U64)
        self.n_items += total
        return self

    def add_u64(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountMinSketch":
        h1, h2 = hash_pair(values)
        return self.add_hashes(h1, h2, counts)

    def add_tokens(self, tokens: np.ndarray) -> "CountMinSketch":
        return self.add_u64(tokens_to_u64(np.asarray(tokens)))

    # -- query -----------------------------------------------------------

    def query_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Estimated counts (int64[N]) = min over rows."""
        if len(h1) == 0:
            return np.empty(0, dtype=np.int64)
        cols = self._columns(h1, h2)
        rows = np.arange(self.d)[:, None]
        return self.table[rows, cols].min(axis=0).astype(np.int64)

    def query_u64(self, values: np.ndarray) -> np.ndarray:
        h1, h2 = hash_pair(values)
        return self.query_hashes(h1, h2)

    def query_tokens(self, tokens: np.ndarray) -> np.ndarray:
        return self.query_u64(tokens_to_u64(np.asarray(tokens)))

    # -- merge -----------------------------------------------------------

    def merge_in_place(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("CMS dimension mismatch")
        self.table += other.table
        self.n_items += other.n_items
        return self

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        out = CountMinSketch(self.d, self.w, self.table.copy(), self.n_items)
        return out.merge_in_place(other)

    def inner_product(self, other: "CountMinSketch") -> int:
        """Estimate the inner product of the two sketched frequency
        vectors, Σ_k f_self(k)·f_other(k) — which for sketches over the
        two sides' join keys is exactly the equi-join's output row
        count. min over rows of Σ_j table_a[i,j]·table_b[i,j]:
        guaranteed ≥ the true product, and ≤ true + eps·N_a·N_b with
        probability 1−delta (Cormode & Muthukrishnan 2005 §4.2 — valid
        because both sketches share the fixed per-(d,w) K-M row-hash
        family, so colliding keys collide identically in both tables).
        Products are summed in float64: relative error ~2^-52 is
        orders below the eps·N_a·N_b sketch bound, while uint64 cell
        products would overflow at 10^12-token counts."""
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("CMS dimension mismatch")
        per_row = (self.table.astype(np.float64) * other.table.astype(np.float64)).sum(axis=1)
        return int(per_row.min())

    # -- wire ---------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """``to_bytes`` size: the fixed d x w table."""
        return _HEADER.size + 8 * self.d * self.w

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, 1, self.d, self.w, self.n_items) + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized CountMinSketch (truncated header)")
        magic, version, d, w, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version != 1:
            raise ValueError("not a serialized CountMinSketch")
        body = memoryview(data)[_HEADER.size :]
        if len(body) != 8 * d * w:
            raise ValueError(
                f"corrupt CountMinSketch payload: {len(body)} bytes for d={d}, w={w}"
            )
        table = np.frombuffer(body, dtype=_U64).reshape(d, w).copy()
        return cls(d, w, table, n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, CountMinSketch):
            return NotImplemented
        return (self.d, self.w) == (other.d, other.w) and bool(
            np.array_equal(self.table, other.table)
        )
