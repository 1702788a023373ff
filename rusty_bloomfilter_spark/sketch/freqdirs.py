"""Matrix sketches over embedding rows: exact Gram accumulation and
Frequent Directions (Liberty 2013, KDD; Ghashami et al. 2015, SICOMP).

Two mergeable summaries of the same object — the d x d Gram/covariance
structure of a tall n x d embedding matrix A:

- ``GramMatrix``: G = A^T A accumulated exactly. Merge = matrix add
  (associative, commutative, empty identity, canonical bytes — the
  full reference algebra, like Bloom/CMS). d^2 floats of state: the
  right choice while d^2 fits a task comfortably (d=4096 -> 128 MB is
  the practical ceiling).
- ``FrequentDirections``: at most ``ell`` maintained rows B with the
  deterministic sandwich  0 <= x^T(A^T A - B^T B)x <= delta * |x|^2
  for EVERY x, where ``delta`` is the tracked sum of shrink values,
  bounded by |A|_F^2 / ell. This is Misra-Gries lifted to matrices
  (Liberty's own analogy): ell * d floats of state instead of d^2,
  the scale path when d is large. Merge = concatenate rows + shrink;
  the sandwich bound is preserved with deltas adding (mergeable per
  Ghashami et al. §3) — associative in the GUARANTEE, bytes canonical
  per state only (like KLL/t-digest, not like Bloom).

Reference parity: the reference repo (978-line Rust Bloom library) has
no matrix surface; these follow the same merge-algebra axioms its
filter pins (/root/reference/src/bloomfilter/mod.rs:621-761) applied
to the embedding analytics the 100-TB corpus needs (covariance / PCA /
drift diagnostics in one pass).
"""

from __future__ import annotations

import struct

import numpy as np

_GRAM_MAGIC = b"RGRM"
_GRAM_HEADER = struct.Struct("<4sBxxxIQd")  # magic, version, dim, n_items, fro_sq
_FD_MAGIC = b"RFDS"
_FD_HEADER = struct.Struct("<4sBxxxIIIxxxxQdd")
# magic, version, ell, dim, n_rows, n_items, delta, fro_sq


def _rows_from(rows: np.ndarray, dim: int) -> np.ndarray:
    r = np.ascontiguousarray(rows, dtype=np.float64)
    if r.ndim != 2 or r.shape[1] != dim:
        raise ValueError(f"expected rows of dim {dim}, got shape {r.shape}")
    return r


class GramMatrix:
    """Exact mergeable d x d Gram accumulator (one-pass covariance /
    PCA): G = sum of row outer products, computed as X^T X per batch
    (one BLAS call, no per-row Python)."""

    __slots__ = ("dim", "g", "n_items", "fro_sq")

    def __init__(self, dim: int, g: np.ndarray | None = None, n_items: int = 0, fro_sq: float = 0.0):
        if dim <= 0:
            raise ValueError("dim must be positive")
        self.dim = int(dim)
        if g is None:
            g = np.zeros((dim, dim), dtype=np.float64)
        else:
            g = np.ascontiguousarray(g, dtype=np.float64)
            if g.shape != (dim, dim):
                raise ValueError(f"expected gram shape {(dim, dim)}")
        self.g = g
        self.n_items = int(n_items)
        self.fro_sq = float(fro_sq)

    @classmethod
    def empty(cls, dim: int) -> "GramMatrix":
        return cls(dim)

    def add_rows(self, rows: np.ndarray) -> "GramMatrix":
        r = _rows_from(rows, self.dim)
        if r.shape[0]:
            self.g += r.T @ r
            self.n_items += r.shape[0]
            self.fro_sq += float(np.einsum("ij,ij->", r, r))
        return self

    def merge_in_place(self, other: "GramMatrix") -> "GramMatrix":
        if self.dim != other.dim:
            raise ValueError("GramMatrix dim mismatch")
        self.g += other.g
        self.n_items += other.n_items
        self.fro_sq += other.fro_sq
        return self

    def eigh(self) -> tuple[np.ndarray, np.ndarray]:
        """(eigenvalues desc, eigenvectors as columns) of the Gram."""
        vals, vecs = np.linalg.eigh(self.g)
        order = np.argsort(vals)[::-1]
        return vals[order], vecs[:, order]

    def max_payload_bytes(self) -> int:
        """``to_bytes`` size: the fixed dim x dim matrix."""
        return _GRAM_HEADER.size + 8 * self.dim * self.dim

    def to_bytes(self) -> bytes:
        return _GRAM_HEADER.pack(_GRAM_MAGIC, 1, self.dim, self.n_items, self.fro_sq) + self.g.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "GramMatrix":
        if len(data) < _GRAM_HEADER.size:
            raise ValueError("not a serialized GramMatrix (truncated header)")
        magic, version, dim, n_items, fro_sq = _GRAM_HEADER.unpack_from(data, 0)
        if magic != _GRAM_MAGIC or version != 1:
            raise ValueError("not a serialized GramMatrix")
        body = memoryview(data)[_GRAM_HEADER.size :]
        if len(body) != 8 * dim * dim:
            raise ValueError(f"corrupt GramMatrix payload: {len(body)} bytes for dim={dim}")
        g = np.frombuffer(body, dtype=np.float64).reshape(dim, dim).copy()
        return cls(dim, g, n_items=n_items, fro_sq=fro_sq)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, GramMatrix):
            return NotImplemented
        return self.dim == other.dim and bool(np.array_equal(self.g, other.g))


class FrequentDirections:
    """Liberty's FD sketch: ell maintained rows whose Gram B^T B
    undershoots A^T A by at most ``delta`` in spectral norm, with
    delta tracked EXACTLY (sum of per-shrink subtractions) and bounded
    by |A|_F^2 / ell — a certified, deterministic error bar shipped
    inside the payload, same contract shape as MisraGries.err_ub."""

    __slots__ = ("ell", "dim", "buf", "filled", "delta", "n_items", "fro_sq")

    def __init__(
        self,
        ell: int,
        dim: int,
        rows: np.ndarray | None = None,
        delta: float = 0.0,
        n_items: int = 0,
        fro_sq: float = 0.0,
    ):
        if ell < 2 or dim <= 0:
            raise ValueError("need ell >= 2 and dim > 0")
        self.ell = int(ell)
        self.dim = int(dim)
        # workspace holds up to 2*ell rows between shrinks
        self.buf = np.zeros((2 * self.ell, self.dim), dtype=np.float64)
        if rows is None:
            self.filled = 0
        else:
            r = _rows_from(rows, dim)
            if r.shape[0] > self.ell:
                raise ValueError(f"at most ell={ell} serialized rows, got {r.shape[0]}")
            self.buf[: r.shape[0]] = r
            self.filled = r.shape[0]
        self.delta = float(delta)
        self.n_items = int(n_items)
        self.fro_sq = float(fro_sq)

    @classmethod
    def empty(cls, ell: int, dim: int) -> "FrequentDirections":
        return cls(ell, dim)

    # -- core --------------------------------------------------------------

    def _shrink(self) -> None:
        """SVD the buffer, subtract the ell-th squared singular value
        from every squared singular value; at most ell-1 rows survive."""
        if self.filled <= self.ell:
            return
        _, s, vt = np.linalg.svd(self.buf[: self.filled], full_matrices=False)
        s2 = s * s
        d = float(s2[self.ell - 1]) if s2.size >= self.ell else 0.0
        if d > 0.0:
            self.delta += d
        kept = np.sqrt(np.maximum(s2 - d, 0.0))
        nz = kept > 0.0
        rows = kept[nz, None] * vt[nz]
        self.buf[:] = 0.0
        self.buf[: rows.shape[0]] = rows
        self.filled = rows.shape[0]

    def add_rows(self, rows: np.ndarray) -> "FrequentDirections":
        r = _rows_from(rows, self.dim)
        n = r.shape[0]
        if n == 0:
            return self
        self.n_items += n
        self.fro_sq += float(np.einsum("ij,ij->", r, r))
        lo = 0
        cap = self.buf.shape[0]
        while lo < n:
            take = min(cap - self.filled, n - lo)
            self.buf[self.filled : self.filled + take] = r[lo : lo + take]
            self.filled += take
            lo += take
            if self.filled >= cap:
                self._shrink()
        return self

    # -- query ---------------------------------------------------------------

    def rows(self) -> np.ndarray:
        """The maintained rows, shrunk to <= ell (copy)."""
        self._shrink()
        return self.buf[: self.filled].copy()

    def singular_values(self) -> np.ndarray:
        """Descending singular values of B (length <= ell). For any
        direction x: |Ax|^2 is in [|Bx|^2, |Bx|^2 + delta]."""
        b = self.rows()
        if b.shape[0] == 0:
            return np.empty(0, dtype=np.float64)
        return np.linalg.svd(b, compute_uv=False)

    def error_bound(self) -> float:
        """Certified spectral undershoot: min(tracked, |A|_F^2/ell)."""
        return min(self.delta, self.fro_sq / self.ell)

    # -- merge -----------------------------------------------------------------

    def merge_in_place(self, other: "FrequentDirections") -> "FrequentDirections":
        if (self.ell, self.dim) != (other.ell, other.dim):
            raise ValueError("FrequentDirections shape mismatch")
        o = other.buf[: other.filled]
        self.delta += other.delta
        self.n_items += other.n_items
        self.fro_sq += other.fro_sq
        lo, n = 0, o.shape[0]
        cap = self.buf.shape[0]
        while lo < n:
            take = min(cap - self.filled, n - lo)
            self.buf[self.filled : self.filled + take] = o[lo : lo + take]
            self.filled += take
            lo += take
            if self.filled >= cap:
                self._shrink()
        return self

    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        out = FrequentDirections(
            self.ell,
            self.dim,
            self.buf[: self.filled].copy() if self.filled <= self.ell else None,
            self.delta,
            self.n_items,
            self.fro_sq,
        )
        if self.filled > self.ell:  # unshrunk workspace: copy verbatim
            out.buf[: self.filled] = self.buf[: self.filled]
            out.filled = self.filled
        return out.merge_in_place(other)

    # -- wire --------------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """Largest ``to_bytes``: at most ``ell`` shrunk rows."""
        return _FD_HEADER.size + 8 * self.ell * self.dim

    def to_bytes(self) -> bytes:
        b = self.rows()  # canonical per state: always serialized shrunk
        return (
            _FD_HEADER.pack(
                _FD_MAGIC, 1, self.ell, self.dim, b.shape[0], self.n_items, self.delta, self.fro_sq
            )
            + b.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "FrequentDirections":
        if len(data) < _FD_HEADER.size:
            raise ValueError("not a serialized FrequentDirections (truncated header)")
        magic, version, ell, dim, n_rows, n_items, delta, fro_sq = _FD_HEADER.unpack_from(data, 0)
        if magic != _FD_MAGIC or version != 1:
            raise ValueError("not a serialized FrequentDirections")
        if n_rows > ell:
            raise ValueError(f"corrupt FrequentDirections payload: {n_rows} rows > ell={ell}")
        body = memoryview(data)[_FD_HEADER.size :]
        if len(body) != 8 * n_rows * dim:
            raise ValueError(
                f"corrupt FrequentDirections payload: {len(body)} bytes for {n_rows} x {dim}"
            )
        if delta < 0.0 or fro_sq < 0.0 or not (np.isfinite(delta) and np.isfinite(fro_sq)):
            raise ValueError("corrupt FrequentDirections payload: negative/non-finite scalars")
        rows = np.frombuffer(body, dtype=np.float64).reshape(n_rows, dim).copy() if n_rows else None
        if rows is not None and not np.all(np.isfinite(rows)):
            raise ValueError("corrupt FrequentDirections payload: non-finite rows")
        return cls(ell, dim, rows, delta=delta, n_items=n_items, fro_sq=fro_sq)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, FrequentDirections):
            return NotImplemented
        return (self.ell, self.dim) == (other.ell, other.dim) and bool(
            np.array_equal(self.rows(), other.rows())
        )
