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

Two wire layouts behind one canonical chooser (as HLL's dense/sparse
and the Bloom filter's dense/sparse codecs), both after the same
24-byte header:
  v1 dense  : the d*w uint64 cells, row-major.
  v2 compact: the d*w cells as uint8, any cell >= 255 written as 255;
              then an escape list of those cells' flat indices
              (strictly increasing <u4) and their full values (<u8).
              The escape count is the body length minus d*w, over 12.
``to_bytes`` writes v2 exactly when it is smaller (12*escapes <
7*d*w) and d*w < 2^32 fits the <u4 indices; otherwise v1. The choice
is a function of the table alone, so bytes stay canonical under any
partitioning or merge order. In memory the table is always the dense
uint64 matrix; tables whose cells are mostly below 255 (keyed and
per-partition builds) cross the wire at ~1/8 of the dense size.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .hashing import hash_pair, tokens_to_u64

_U64 = np.uint64
_MAGIC = b"RCMS"
_HEADER = struct.Struct("<4sBxxxIIQ")  # magic, version, d, w, n_items
_ESCAPE = 255  # v2 cell marker: the full value is in the escape list


def _compact(n_escapes: int, cells: int) -> bool:
    """v2 is written iff it is smaller than v1 (cells + 12*escapes <
    8*cells) and every flat index fits its <u4 escape slot."""
    return cells < 1 << 32 and 12 * n_escapes < 7 * cells


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
        """Largest ``to_bytes``: the v1 dense d x w uint64 table (the
        v2 compact layout is written only while it is smaller)."""
        return _HEADER.size + 8 * self.d * self.w

    def to_bytes(self) -> bytes:
        flat = self.table.reshape(-1)
        esc = np.flatnonzero(flat >= _ESCAPE)
        if not _compact(len(esc), flat.size):
            return _HEADER.pack(_MAGIC, 1, self.d, self.w, self.n_items) + self.table.tobytes()
        small = flat.astype(np.uint8)
        small[esc] = _ESCAPE
        return b"".join((
            _HEADER.pack(_MAGIC, 2, self.d, self.w, self.n_items),
            small.tobytes(),
            esc.astype("<u4").tobytes(),
            flat[esc].astype("<u8").tobytes(),
        ))

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        """Decode either layout; only canonical bytes are accepted
        (``from_bytes(raw).to_bytes() == raw``), anything else raises
        ``ValueError``."""
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized CountMinSketch (truncated header)")
        magic, version, d, w, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version not in (1, 2):
            raise ValueError("not a serialized CountMinSketch")
        body = memoryview(data)[_HEADER.size :]
        cells = d * w
        n_esc, rem = divmod(len(body) - cells, 12)
        if (version == 1 and len(body) != 8 * cells) or (version == 2 and (n_esc < 0 or rem)):
            raise ValueError(
                f"corrupt CountMinSketch payload: {len(body)} bytes for d={d}, w={w}"
            )
        if version == 1:
            table = np.frombuffer(body, dtype=_U64).copy()
            if _compact(int(np.count_nonzero(table >= _ESCAPE)), cells):
                raise ValueError("non-canonical CountMinSketch: dense table that is compact")
        else:
            if not _compact(n_esc, cells):
                raise ValueError("non-canonical CountMinSketch: compact table that is dense")
            small = np.frombuffer(body, dtype=np.uint8, count=cells)
            idx = np.frombuffer(body, dtype="<u4", count=n_esc, offset=cells)
            vals = np.frombuffer(body, dtype="<u8", count=n_esc, offset=cells + 4 * n_esc)
            # the escape indices must be exactly the 255 markers, in
            # order: this also bounds them and rejects duplicates
            if not np.array_equal(idx, np.flatnonzero(small == _ESCAPE)):
                raise ValueError(
                    "corrupt CountMinSketch payload: escape indices are not the"
                    " strictly increasing positions of the 255 markers"
                )
            if n_esc and int(vals.min()) < _ESCAPE:
                raise ValueError("corrupt CountMinSketch payload: escaped value below 255")
            table = small.astype(_U64)
            table[idx] = vals
        return cls(d, w, table.reshape(d, w), n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, CountMinSketch):
            return NotImplemented
        return (self.d, self.w) == (other.d, other.w) and bool(
            np.array_equal(self.table, other.table)
        )
