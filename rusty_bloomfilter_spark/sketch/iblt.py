"""Invertible Bloom Lookup Table (IBLT) — exact set reconciliation.

Eppstein, Goodrich, Uyeda & Varghese 2011 ("What's the Difference?
Efficient Set Reconciliation without Prior Context"); cell structure
per Goodrich & Mitzenmacher 2011. The sketch that closes the gap the
estimate-only family leaves open: Bloom/KMV/HLL can say HOW MUCH two
snapshots differ — an IBLT difference RECOVERS THE ACTUAL KEYS, from
state proportional to the difference, not the sets.

Structure: k sub-tables of m/k cells; key x lands in one cell per
sub-table via an INDEPENDENT per-stripe hash (splitmix64 with a
stripe salt — double hashing is NOT enough here, see ``_positions``).
Each cell holds::

    count     int64  (+1 per inserted key)
    key_xor   uint64 (XOR of inserted keys)
    check_xor uint64 (XOR of check-hashes of inserted keys)

Every field is ADD/XOR-linear, so:

  * ``merge``    = cell-wise add/xor — associative, commutative, empty
    identity, CANONICAL BYTES under any partitioning of a distinct-key
    stream (the same axioms the Bloom core pins);
  * ``subtract`` = cell-wise subtract/xor — gives the sketch OF THE
    SYMMETRIC DIFFERENCE of two sets directly (keys present in both
    sides cancel exactly);
  * ``peel``     = repeatedly extract "pure" cells (|count| == 1 and
    check_xor consistent), remove the recovered key from its other
    cells, until empty. Succeeds with high probability whenever the
    difference size d <= capacity the table was sized for
    (m >= ~1.3·d at k = 3; ``for_diff`` uses 2d + 8k headroom).
    Failure is EXPLICIT (``complete=False``) — never silent.

SET semantics: inserting a key an even number of times cancels it
(XOR) — ``add_u64`` dedupes each batch, and distributed builds must
feed globally-distinct keys (operators/reconcile.py distincts first).

Reference parity: same merge-algebra axioms as the reference's Bloom
merge matrices (/root/reference/src/bloomfilter/mod.rs:621-761);
invertibility is the extension, per the public papers above.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import splitmix64

_MAGIC = b"RIBL"
_HEADER = struct.Struct("<4sBxxxIIq")  # magic, version, m, k, n_items
_CHECK_SALT = np.uint64(0x9E3779B97F4A7C15)


def _check_hash(keys: np.ndarray) -> np.ndarray:
    return splitmix64(keys.astype(np.uint64) ^ _CHECK_SALT)


class IBLT:
    __slots__ = ("m", "k", "counts", "key_xor", "check_xor", "n_items")

    def __init__(
        self,
        m: int,
        k: int = 3,
        counts: np.ndarray | None = None,
        key_xor: np.ndarray | None = None,
        check_xor: np.ndarray | None = None,
        n_items: int = 0,
    ):
        if k < 2:
            raise ValueError("k must be >= 2")
        if m < k or m % k != 0:
            raise ValueError("m must be a positive multiple of k")
        self.m, self.k = int(m), int(k)
        self.counts = (
            np.zeros(m, dtype=np.int64) if counts is None else np.ascontiguousarray(counts, np.int64)
        )
        self.key_xor = (
            np.zeros(m, dtype=np.uint64) if key_xor is None else np.ascontiguousarray(key_xor, np.uint64)
        )
        self.check_xor = (
            np.zeros(m, dtype=np.uint64)
            if check_xor is None
            else np.ascontiguousarray(check_xor, np.uint64)
        )
        if not (self.counts.size == self.key_xor.size == self.check_xor.size == m):
            raise ValueError("cell array length mismatch")
        self.n_items = int(n_items)

    @classmethod
    def empty(cls, m: int, k: int = 3) -> "IBLT":
        return cls(m, k)

    @classmethod
    def for_diff(cls, max_diff: int, k: int = 4) -> "IBLT":
        """Sized to decode a symmetric difference of up to ``max_diff``
        keys with high probability: 2x the ~1.3 decoding threshold plus
        fixed headroom for tiny tables, and k = 4 by default — for k
        stripes the residual failure probability is Theta(m^(2-k)), so
        k = 3 fails ~1% of the time at payload-sized tables (measured
        3/200 random reconciliations) while k = 4 is ~1e-4."""
        if max_diff < 0:
            raise ValueError("max_diff must be >= 0")
        per_sub = int(np.ceil((2 * max_diff + 8 * k) / k))
        return cls(per_sub * k, k)

    # -- positions -----------------------------------------------------------

    def _positions(self, keys: np.ndarray) -> np.ndarray:
        """(n, k) cell indices: sub-table i gets an INDEPENDENT hash
        splitmix64(x ^ salt_i) mod (m/k), offset into its own stripe —
        k distinct cells per key.

        NOT K-M double hashing: (h1 + i*h2) mod sub gives the whole
        k-cell pattern only sub^2 entropy, and two difference keys
        sharing a pattern are permanently unpeelable — measured at
        sf0.01 (two of 48 diff keys collided in all 3 cells at
        sub = 51, a ~(1/sub)^2-per-pair event). Independent stripes
        make an all-cells collision (1/sub)^k."""
        v = keys.astype(np.uint64)
        sub = np.uint64(self.m // self.k)
        idx = np.empty((keys.size, self.k), dtype=np.int64)
        with np.errstate(over="ignore"):
            for i in range(self.k):
                salt = np.uint64(i + 1) * np.uint64(0xD1B54A32D192ED03)
                idx[:, i] = (splitmix64(v ^ salt) % sub).astype(np.int64) + i * int(sub)
        return idx

    # -- update --------------------------------------------------------------

    def add_u64(self, values: np.ndarray) -> "IBLT":
        """Insert a batch of keys (SET semantics — batch deduped; a key
        already inserted in an earlier batch would cancel instead)."""
        v = np.unique(np.asarray(values).astype(np.uint64))
        if v.size == 0:
            return self
        idx = self._positions(v)
        chk = _check_hash(v)
        for i in range(self.k):
            np.add.at(self.counts, idx[:, i], 1)
            np.bitwise_xor.at(self.key_xor, idx[:, i], v)
            np.bitwise_xor.at(self.check_xor, idx[:, i], chk)
        self.n_items += int(v.size)
        return self

    # -- algebra -------------------------------------------------------------

    def _check_compat(self, other: "IBLT") -> None:
        if (self.m, self.k) != (other.m, other.k):
            raise ValueError("IBLT geometry mismatch")

    def merge_in_place(self, other: "IBLT") -> "IBLT":
        """Disjoint-union merge (partition builds over DISTINCT keys):
        cell-wise add/xor — associative, commutative, canonical."""
        self._check_compat(other)
        self.counts += other.counts
        self.key_xor ^= other.key_xor
        self.check_xor ^= other.check_xor
        self.n_items += other.n_items
        return self

    def merge(self, other: "IBLT") -> "IBLT":
        out = IBLT(
            self.m, self.k, self.counts.copy(), self.key_xor.copy(),
            self.check_xor.copy(), self.n_items,
        )
        return out.merge_in_place(other)

    def subtract(self, other: "IBLT") -> "IBLT":
        """Sketch of the symmetric difference: shared keys cancel."""
        self._check_compat(other)
        return IBLT(
            self.m,
            self.k,
            self.counts - other.counts,
            self.key_xor ^ other.key_xor,
            self.check_xor ^ other.check_xor,
            self.n_items - other.n_items,
        )

    # -- decode --------------------------------------------------------------

    def peel(self) -> tuple[np.ndarray, np.ndarray, bool]:
        """Decode a (typically subtracted) table.

        Returns (added, removed, complete): keys with count +1 (present
        only in the left operand of subtract), keys with count -1 (only
        in the right), and whether the table decoded fully. On
        ``complete=False`` the returned keys are still genuine members
        of the difference — the remainder was undecodable (table sized
        below the actual difference).
        """
        counts = self.counts.copy()
        key_xor = self.key_xor.copy()
        check_xor = self.check_xor.copy()
        added: list[int] = []
        removed: list[int] = []
        # classic worklist peel: pop a candidate cell, re-validate its
        # purity (it may have changed since being pushed), remove the
        # recovered key from all k of its cells, push those cells as
        # new candidates. Payload-sized tables -> a python loop is fine.
        stack = list(np.flatnonzero(np.abs(counts) == 1))
        while stack:
            c = stack.pop()
            if abs(int(counts[c])) != 1:
                continue
            x = np.uint64(key_xor[c])
            chk = _check_hash(np.array([x], dtype=np.uint64))[0]
            if check_xor[c] != chk:
                continue  # not pure: several keys folded together
            s = int(counts[c])
            row = self._positions(np.array([x], dtype=np.uint64))[0]
            counts[row] -= s
            key_xor[row] ^= x
            check_xor[row] ^= chk
            (added if s == 1 else removed).append(int(x))
            stack.extend(int(r) for r in row)
        complete = bool(
            not counts.any() and not key_xor.any() and not check_xor.any()
        )
        return (
            np.array(sorted(added), dtype=np.uint64),
            np.array(sorted(removed), dtype=np.uint64),
            complete,
        )

    # -- wire ----------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """``to_bytes`` size: three fixed m-cell arrays."""
        return _HEADER.size + 24 * self.m

    def to_bytes(self) -> bytes:
        """Canonical: fully determined by the inserted key multiset
        (add/xor commute), independent of partitioning/merge order."""
        return (
            _HEADER.pack(_MAGIC, 1, self.m, self.k, self.n_items)
            + self.counts.tobytes()
            + self.key_xor.tobytes()
            + self.check_xor.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "IBLT":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized IBLT (truncated header)")
        magic, version, m, k, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version != 1:
            raise ValueError("not a serialized IBLT")
        if k < 2 or m < k or m % k != 0:
            raise ValueError(f"corrupt IBLT payload: m={m}, k={k}")
        body = memoryview(data)[_HEADER.size :]
        if len(body) != 24 * m:
            raise ValueError(f"corrupt IBLT payload: {len(body)} body bytes for m={m}")
        counts = np.frombuffer(body, dtype=np.int64, count=m).copy()
        key_xor = np.frombuffer(body, dtype=np.uint64, offset=8 * m, count=m).copy()
        check_xor = np.frombuffer(body, dtype=np.uint64, offset=16 * m, count=m).copy()
        return cls(m, k, counts, key_xor, check_xor, n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, IBLT):
            return NotImplemented
        return (
            (self.m, self.k, self.n_items) == (other.m, other.k, other.n_items)
            and bool(np.array_equal(self.counts, other.counts))
            and bool(np.array_equal(self.key_xor, other.key_xor))
            and bool(np.array_equal(self.check_xor, other.check_xor))
        )
