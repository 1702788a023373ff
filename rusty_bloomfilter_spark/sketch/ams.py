"""Count sketch / AMS second-moment estimator (Charikar, Chen &
Farach-Colton 2002; Alon, Matias & Szegedy 1996; Thorup & Zhang 2004).

The SIGNED sibling of the count-min sketch: a d x w matrix of int64
counters where item x adds sign_i(x) * count to cell (i, h_i(x)). Two
estimators fall out of one summary:

- point frequency: median over rows of sign_i(x) * table[i, h_i(x)] —
  UNBIASED (collisions cancel in expectation, unlike CMS's one-sided
  overestimate) and two-sided: |est - true| <= 3 * sqrt(F2 / w) per row
  with constant probability, boosted by the median over d rows.
- second frequency moment F2 = sum_k f_k^2: median over rows of
  sum_b table[i, b]^2 (Thorup-Zhang: each row's sum of squared
  counters is an unbiased F2 estimate with Var <= 2*F2^2/w, so the
  per-row relative standard error is sqrt(2/w), median-boosted).

F2 is the engine's SKEW ORACLE: for a shuffle/join key column,
F2 / F1 is the expected frequency of the key owned by a random row —
exactly the quantity that decides whether a hash-partitioned shuffle
gets a hot partition and whether a build must salt (the north rule's
explicit-skew pillar). operators/skew.py composes this with HLL (ndv)
and Misra-Gries (which hot keys) into a one-scan skew profile.

Merge algebra matches the reference's Bloom axioms where they apply
(/root/reference/src/bloomfilter/mod.rs:621-761 merge semantics:
associative + commutative, empty identity, canonical bytes): merge =
elementwise int64 add, so partition sketches combine in any order to
bitwise-identical state. Negative counts are legal updates (deletions),
mirroring the counting-Bloom's deletable contract.

Hashing: per row i, one splitmix64 mix of (key ^ ROW_SALT[i]) supplies
both the bucket (low bits mod w) and the sign (top bit). splitmix64 is
the library's published-mixer choice (hashing.py); formal 4-wise
independence is not claimed — the accuracy bounds above are pinned
empirically in tests/test_ams.py, the same pragmatic contract as the
CMS row family ("published as sufficient").
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import splitmix64, tokens_to_u64

_U64 = np.uint64
_I64 = np.int64
_MAGIC = b"RAMS"
_HEADER = struct.Struct("<4sBxxxIIq")  # magic, version, d, w, n_items (signed)

# Fixed per-row salt stream: row i's hash universe is splitmix64 keyed
# by a mixed row constant (independent streams across rows; max d=64).
_ROW_SALTS = splitmix64(np.arange(1, 65, dtype=_U64) * _U64(0xA24BAED4963EE407))


class CountSketch:
    __slots__ = ("d", "w", "table", "n_items")

    def __init__(self, d: int = 5, w: int = 8192, table: np.ndarray | None = None, n_items: int = 0):
        if d <= 0 or w <= 0:
            raise ValueError("d and w must be positive")
        if d > len(_ROW_SALTS):
            raise ValueError(f"d must be <= {len(_ROW_SALTS)}")
        if d % 2 == 0:
            raise ValueError("d must be odd (median over rows must be a cell value)")
        self.d = d
        self.w = w
        if table is None:
            table = np.zeros((d, w), dtype=_I64)
        else:
            table = np.ascontiguousarray(table, dtype=_I64)
            if table.shape != (d, w):
                raise ValueError(f"expected table shape {(d, w)}")
        self.table = table
        self.n_items = int(n_items)

    @classmethod
    def empty(cls, d: int = 5, w: int = 8192) -> "CountSketch":
        return cls(d, w)

    def f2_rel_error(self) -> float:
        """Per-row relative standard error of the F2 estimate,
        sqrt(2/w); the d-row median concentrates well inside 3x this."""
        return math.sqrt(2.0 / self.w)

    # -- update ----------------------------------------------------------

    def _mix(self, values: np.ndarray) -> np.ndarray:
        """(d, N) uint64 mixed words: row i = splitmix64(v ^ salt_i)."""
        v = np.ascontiguousarray(values).astype(_U64, copy=False)
        return splitmix64(v[None, :] ^ _ROW_SALTS[: self.d, None])

    _CHUNK = 1 << 19  # bound (d, chunk) temporaries (page-fault hygiene)

    def add_u64(self, values: np.ndarray, counts: np.ndarray | None = None) -> "CountSketch":
        if len(values) == 0:
            return self
        if len(values) > self._CHUNK:
            for lo in range(0, len(values), self._CHUNK):
                hi = lo + self._CHUNK
                self.add_u64(
                    values[lo:hi], None if counts is None else counts[lo:hi]
                )
            return self
        mix = self._mix(values)
        w = int(self.w)  # Python-int modulo = numpy fast path
        cols = (mix % w).view(np.int64)
        # top bit -> {+1.0, -1.0}; float64 weights keep bincount exact
        # for integer counts below 2^53 per batch
        signs = 1.0 - 2.0 * (mix >> _U64(63)).astype(np.float64)
        if counts is None:
            weights = signs
            total = len(values)
        else:
            c = np.asarray(counts, dtype=np.float64)
            weights = signs * c[None, :]
            total = int(c.sum())
        for r in range(self.d):
            binned = np.bincount(cols[r], weights=weights[r], minlength=self.w)
            self.table[r] += binned.astype(_I64)
        self.n_items += total
        return self

    def add_tokens(self, tokens: np.ndarray, counts: np.ndarray | None = None) -> "CountSketch":
        return self.add_u64(tokens_to_u64(np.asarray(tokens)), counts)

    # -- query -----------------------------------------------------------

    def query_u64(self, values: np.ndarray) -> np.ndarray:
        """Estimated counts (int64[N]) = median over rows of the signed
        cell values. Unbiased; two-sided error O(sqrt(F2/w))."""
        if len(values) == 0:
            return np.empty(0, dtype=np.int64)
        mix = self._mix(values)
        cols = (mix % int(self.w)).view(np.int64)
        signs = 1 - 2 * (mix >> _U64(63)).astype(np.int64)
        rows = np.arange(self.d)[:, None]
        ests = signs * self.table[rows, cols]
        # d is odd, so the median IS a cell value — exact int64
        return np.median(ests, axis=0).astype(np.int64)

    def query_tokens(self, tokens: np.ndarray) -> np.ndarray:
        return self.query_u64(tokens_to_u64(np.asarray(tokens)))

    def f2(self) -> int:
        """Second frequency moment estimate: median over rows of the
        row's sum of squared counters (exact when w exceeds the key
        cardinality and no collisions occur; else unbiased with per-row
        rel-std sqrt(2/w)). Squares sum in float64 — exact to 2^53 per
        term, and the sketch error floor is far above float rounding."""
        per_row = (self.table.astype(np.float64) ** 2).sum(axis=1)
        return int(np.median(per_row))

    def inner_product(self, other: "CountSketch") -> int:
        """UNBIASED estimate of Σ_k f_self(k)·f_other(k) — for sketches
        over two join sides' keys, the equi-join output row count.
        Median over rows of Σ_b A[i,b]·B[i,b]: within a row, matching
        keys contribute sign²·fa·fb = fa·fb exactly while cross terms
        carry independent ± signs and cancel in expectation, giving a
        TWO-SIDED estimator (per-row std ≈ sqrt(2·F2_a·F2_b/w)) — the
        complement of CountMinSketch.inner_product's one-sided
        overestimate. Requires identical (d, w) so the per-row salt
        streams line up. Sums in float64 (exact to 2^53 per term; the
        sketch error floor is far above float rounding)."""
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("CountSketch dimension mismatch")
        per_row = (
            self.table.astype(np.float64) * other.table.astype(np.float64)
        ).sum(axis=1)
        return int(np.median(per_row))

    # -- merge -----------------------------------------------------------

    def merge_in_place(self, other: "CountSketch") -> "CountSketch":
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("CountSketch dimension mismatch")
        self.table += other.table
        self.n_items += other.n_items
        return self

    def merge(self, other: "CountSketch") -> "CountSketch":
        out = CountSketch(self.d, self.w, self.table.copy(), self.n_items)
        return out.merge_in_place(other)

    def subtract(self, other: "CountSketch") -> "CountSketch":
        """Linear-sketch difference: sketch(A) - sketch(B) IS the
        sketch of the signed stream A - B, so queries against the
        result estimate per-item count DIFFERENCES c_A(x) - c_B(x) —
        the operation sign-less sketches (CMS, Bloom, HLL) cannot
        express. n_items becomes the total UPDATE count |A| + |B|
        (deletions are updates), which is what the F2-based error
        bound of the difference stream scales with."""
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("CountSketch dimension mismatch")
        return CountSketch(
            self.d, self.w, self.table - other.table, self.n_items + other.n_items
        )

    # -- wire --------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """``to_bytes`` size: the fixed d x w table."""
        return _HEADER.size + 8 * self.d * self.w

    def to_bytes(self) -> bytes:
        return _HEADER.pack(_MAGIC, 1, self.d, self.w, self.n_items) + self.table.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountSketch":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized CountSketch (truncated header)")
        magic, version, d, w, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version != 1:
            raise ValueError("not a serialized CountSketch")
        body = memoryview(data)[_HEADER.size :]
        if len(body) != 8 * d * w:
            raise ValueError(
                f"corrupt CountSketch payload: {len(body)} bytes for d={d}, w={w}"
            )
        table = np.frombuffer(body, dtype=_I64).reshape(d, w).copy()
        return cls(d, w, table, n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, CountSketch):
            return NotImplemented
        return (self.d, self.w) == (other.d, other.w) and bool(
            np.array_equal(self.table, other.table)
        )
