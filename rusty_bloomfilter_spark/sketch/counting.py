"""Counting Bloom filter — the DELETABLE sibling of the dense filter.

Same index expansion and shape math as the plain Bloom filter
(Kirsch–Mitzenmacher double hashing, reference hasher.rs:48-70; Shape
sizing mod.rs:85-132), but each position holds a saturating uint8
counter instead of a bit (Fan et al. 2000, "Summary Cache"). This buys
the one operation the reference's OR-merge filter cannot do: REMOVE —
at corpus scale, revoking documents (DMCA, opt-out, poisoning) from a
membership structure without rebuilding it from 100 TB of survivors.

Algebra (the north rule's merge axioms still hold):

- merge = elementwise SATURATING add: ``min(a + b, 255)``. For
  non-negative counters this is associative AND commutative —
  ``min(min(a+b,255)+c, 255) == min(a+b+c, 255)`` because c >= 0 — so
  partition builds tree-merge to bitwise-identical bytes in any order
  (the canonical-bytes invariant every sketch here obeys).
- empty filter is the identity.
- NOT idempotent (merging a filter with itself doubles counters) —
  deliberate: multiplicity IS the state. The plain BloomFilter remains
  the right sketch for idempotent OR-union semantics.

Deletion contract (standard CBF caveats, enforced/documented):

- ``remove`` must only be fed items that were actually inserted (the
  caller's responsibility, same as every CBF); removing a never-added
  item can zero a counter another item needs -> false negatives.
- a SATURATED counter (255) has lost its true count; decrementing it
  is unsound, so ``remove`` leaves saturated counters untouched and
  reports the count of such skips via ``n_sticky``. Zero false
  negatives for remaining items are preserved (sticky counters stay
  high, never low); the cost is that fully-deleted items may keep
  probing present at saturated positions. ``saturation_ratio()``
  exposes the monitoring signal.
- per-item index DUPLICATES (h2 % m == 0 collapses all k probes onto
  one index, mod.rs:486-495 behavior) are counted with multiset
  semantics consistently in add/remove/contains, so add followed by
  remove of the same item is always a no-op.

Membership: item present iff all k of its counters are > 0 — identical
zero-false-negative guarantee as the bit filter while nothing is
removed.
"""

from __future__ import annotations

import struct

import numpy as np

from .hashing import hash_pair, km_indices, tokens_to_u64
from .shape import Shape

_MAGIC = b"RCBF"
# magic, version u8, pad u8x3, m u64, k u32, pad u32, n_items u64
_HEADER = struct.Struct("<4sBxxxQIxxxxQ")
_SAT = 255


class CountingBloomFilter:
    """Dense uint8-counter Bloom filter with saturating-add merge."""

    __slots__ = ("shape", "counters", "n_items")

    def __init__(
        self,
        shape: Shape,
        counters: np.ndarray | None = None,
        n_items: int = 0,
    ):
        self.shape = shape
        if counters is None:
            counters = np.zeros(shape.m, dtype=np.uint8)
        else:
            counters = np.ascontiguousarray(counters, dtype=np.uint8)
            if counters.shape != (shape.m,):
                raise ValueError(f"expected {shape.m} counters")
        self.counters = counters
        self.n_items = int(n_items)

    @classmethod
    def empty(cls, shape: Shape) -> "CountingBloomFilter":
        return cls(shape)

    # -- update --------------------------------------------------------
    #
    # Memory hygiene (CLAUDE.md first-touch-fault note): updates never
    # materialize an m-length temporary — batches are chunked (page
    # reuse) and counters mutate IN PLACE on the touched indices only.
    # Chunked saturating add equals the one-shot add because the clamp
    # composes (min(min(a+b,255)+c,255) == min(a+b+c,255) for c >= 0),
    # so canonical bytes are unchanged by the chunking.

    _CHUNK = 1 << 18  # items per update slice

    def _touched_counts(
        self, h1: np.ndarray, h2: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """(unique indices, per-index multiplicities) for one chunk."""
        idx = km_indices(h1, h2, self.shape).ravel()
        return np.unique(idx, return_counts=True)

    def add_hashes(self, h1: np.ndarray, h2: np.ndarray) -> "CountingBloomFilter":
        if len(h1) == 0:
            return self
        for s in range(0, len(h1), self._CHUNK):
            uu, cc = self._touched_counts(
                h1[s : s + self._CHUNK], h2[s : s + self._CHUNK]
            )
            cur = self.counters[uu].astype(np.int64)
            self.counters[uu] = np.minimum(cur + cc, _SAT).astype(np.uint8)
        self.n_items += len(h1)
        return self

    def add_tokens(self, tokens: np.ndarray) -> "CountingBloomFilter":
        h1, h2 = hash_pair(tokens_to_u64(np.asarray(tokens)))
        return self.add_hashes(h1, h2)

    def _decrement_at(self, uu: np.ndarray, cc: np.ndarray) -> int:
        """Sticky-saturation decrement at the touched indices; returns
        n_sticky. A counter saturated NOW stays untouched (decrements
        can't re-saturate, so per-chunk stickiness equals one-shot)."""
        cur = self.counters[uu]
        sat = cur == _SAT
        n_sticky = int(cc[sat].sum())
        ns = ~sat
        if ns.any():
            lowered = np.maximum(cur[ns].astype(np.int64) - cc[ns], 0)
            self.counters[uu[ns]] = lowered.astype(np.uint8)
        return n_sticky

    def remove_hashes(self, h1: np.ndarray, h2: np.ndarray) -> int:
        """Decrement the counters of previously-inserted items.

        Saturated counters are left untouched (their true count is
        unknown; lowering them could create false negatives). Returns
        ``n_sticky`` — how many per-index decrements were skipped that
        way (monitoring signal; 0 means the deletion was exact).
        """
        if len(h1) == 0:
            return 0
        n_sticky = 0
        for s in range(0, len(h1), self._CHUNK):
            uu, cc = self._touched_counts(
                h1[s : s + self._CHUNK], h2[s : s + self._CHUNK]
            )
            n_sticky += self._decrement_at(uu, cc)
        self.n_items = max(0, self.n_items - len(h1))
        return n_sticky

    def subtract_in_place(self, other: "CountingBloomFilter") -> int:
        """Filter-level removal — the DISTRIBUTED revocation path: the
        revoke set is itself built as a mergeable CBF (same partition
        build + tree merge as any sketch), then subtracted from the
        corpus filter ONCE, driver-side on two payloads. Subtraction
        is apply-once (not part of the merge algebra); same saturated-
        counter stickiness contract as remove_hashes. Returns n_sticky.

        CAVEAT (same as remove): other's counters at SATURATED
        positions of other are themselves lower bounds; subtracting a
        saturated other-counter under-removes, which errs on the
        zero-FN side.
        """
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch: {self.shape} vs {other.shape}")
        uu = np.flatnonzero(other.counters)  # touched indices only
        n_sticky = self._decrement_at(uu, other.counters[uu].astype(np.int64))
        self.n_items = max(0, self.n_items - other.n_items)
        return n_sticky

    def remove_tokens(self, tokens: np.ndarray) -> int:
        h1, h2 = hash_pair(tokens_to_u64(np.asarray(tokens)))
        return self.remove_hashes(h1, h2)

    # -- probe ---------------------------------------------------------

    def contains_hashes(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        idx = km_indices(h1, h2, self.shape)
        return (self.counters[idx] > 0).all(axis=1)

    def contains_tokens(self, tokens: np.ndarray) -> np.ndarray:
        h1, h2 = hash_pair(tokens_to_u64(np.asarray(tokens)))
        return self.contains_hashes(h1, h2)

    # -- merge (saturating add) -----------------------------------------

    def merge_in_place(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        if self.shape != other.shape:
            raise ValueError(f"shape mismatch: {self.shape} vs {other.shape}")
        # saturating add in uint8 (no 8x int64 temp): the sum wraps mod
        # 256 exactly when a+b > 255, detectable as s < a (b <= 255)
        s = self.counters + other.counters
        s[s < self.counters] = _SAT
        self.counters = s
        self.n_items += other.n_items
        return self

    def merge(self, other: "CountingBloomFilter") -> "CountingBloomFilter":
        out = CountingBloomFilter(self.shape, self.counters.copy(), self.n_items)
        return out.merge_in_place(other)

    # -- stats -----------------------------------------------------------

    def cardinality(self) -> int:
        """Occupied positions (counters > 0) — the CBF analogue of
        popcount; feeds the same Swamidass–Baldi fill estimator."""
        return int((self.counters > 0).sum())

    def saturation_ratio(self) -> float:
        return float((self.counters == _SAT).sum()) / float(self.shape.m)

    def estimate_n(self) -> float:
        return self.shape.estimate_n(self.cardinality())

    # -- wire -------------------------------------------------------------

    def max_payload_bytes(self) -> int:
        """``to_bytes`` size: one byte per counter."""
        return _HEADER.size + self.shape.m

    def to_bytes(self) -> bytes:
        return (
            _HEADER.pack(_MAGIC, 1, self.shape.m, self.shape.k, self.n_items)
            + self.counters.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountingBloomFilter":
        if len(data) < _HEADER.size:
            raise ValueError("not a serialized CountingBloomFilter (truncated header)")
        magic, version, m, k, n_items = _HEADER.unpack_from(data, 0)
        if magic != _MAGIC or version != 1:
            raise ValueError("not a serialized CountingBloomFilter")
        body = memoryview(data)[_HEADER.size :]
        if len(body) != m:
            raise ValueError(f"expected {m} counter bytes, got {len(body)}")
        counters = np.frombuffer(body, dtype=np.uint8).copy()
        return cls(Shape(m=m, k=k), counters, n_items=n_items)

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, CountingBloomFilter):
            return NotImplemented
        return self.shape == other.shape and bool(
            np.array_equal(self.counters, other.counters)
        )
