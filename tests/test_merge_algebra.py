"""Merge algebra on payload bytes, for every sketch kind.

The Spark merges (aggregate.merge_rows) are left folds over rows in
arrival order that flush their buffer every _FLUSH_AT payloads. For the
canonical kinds any grouping or order gives the same bytes; for the
others a flushed left fold must still equal one left fold."""

import numpy as np
import pytest

from rusty_bloomfilter_spark.sketch import (
    IBLT,
    BlockedBloomFilter,
    BloomFilter,
    CountingBloomFilter,
    CountMinSketch,
    CountSketch,
    DDSketch,
    FrequentDirections,
    GramMatrix,
    HyperLogLog,
    KLLSketch,
    MisraGries,
    Shape,
    TDigest,
    XorFilter,
    _KINDS,
    merge_sketch_payloads,
)

# kinds whose merge is commutative and associative on bytes
CANONICAL = {
    BloomFilter, BlockedBloomFilter, HyperLogLog, CountMinSketch, CountingBloomFilter,
    DDSketch, IBLT, CountSketch,
}
# kinds whose bytes depend on the merge order, but not on where a left
# fold is cut: merge([a, b, c]) == merge([merge([a, b]), c])
LEFT_FOLD = {KLLSketch, TDigest, MisraGries, GramMatrix, FrequentDirections}


def _payload(cls, seed: int) -> bytes:
    rng = np.random.default_rng(seed)
    tokens = rng.integers(0, 5000, 400, dtype=np.int64)
    values = rng.normal(size=300)
    rows = rng.normal(size=(10, 4))
    build = {
        BloomFilter: lambda: BloomFilter.empty(Shape.for_np(n=2000, p=0.01)).add_tokens(tokens),
        BlockedBloomFilter: lambda: BlockedBloomFilter.for_np(1000, 0.01).add_tokens(tokens),
        HyperLogLog: lambda: HyperLogLog(10).add_tokens(tokens),
        CountMinSketch: lambda: CountMinSketch(3, 64).add_tokens(tokens),
        CountingBloomFilter: lambda: CountingBloomFilter.empty(
            Shape.for_np(n=500, p=0.01)
        ).add_tokens(tokens),
        KLLSketch: lambda: KLLSketch(20).update_batch(values),
        DDSketch: lambda: DDSketch(0.05).add(np.exp(values)),
        TDigest: lambda: TDigest(20).update_batch(values),
        MisraGries: lambda: MisraGries(16).add_tokens(tokens % 40),
        IBLT: lambda: IBLT.for_diff(50, 4).add_u64(tokens[:20].astype(np.uint64)),
        CountSketch: lambda: CountSketch(3, 64).add_tokens(tokens),
        GramMatrix: lambda: GramMatrix(4).add_rows(rows),
        FrequentDirections: lambda: FrequentDirections(2, 4).add_rows(rows),
        XorFilter: lambda: XorFilter.build_tokens(np.unique(tokens)),
    }[cls]
    return build().to_bytes()


def test_every_kind_is_classified():
    assert CANONICAL | LEFT_FOLD | {XorFilter} == set(_KINDS.values())


@pytest.mark.parametrize("cls", list(_KINDS.values()), ids=lambda c: c.__name__)
def test_merge_algebra_on_bytes(cls):
    merge = merge_sketch_payloads
    a, b, c = (_payload(cls, seed) for seed in (1, 2, 3))
    assert len({a, b, c}) == 3
    if cls is XorFilter:
        with pytest.raises(ValueError):
            merge([a, b])
        return
    if cls in CANONICAL:
        assert merge([a, b]) == merge([b, a])
        assert merge([merge([a, b]), c]) == merge([a, merge([b, c])])
    assert merge([a, b, c]) == merge([merge([a, b]), c])


def _blocked(n_blocks: int, filled) -> bytes:
    words = np.zeros(4 * n_blocks, dtype=np.uint64)
    for b in filled:
        words[4 * b + b % 4] = np.uint64(1 + b)
    return BlockedBloomFilter(n_blocks, words, n_items=len(filled)).to_bytes()


def test_blocked_merge_algebra_across_layouts():
    """Blocked payloads switch from the sparse (v2) to the dense (v1)
    layout at 36*nnz >= 32*n_blocks (8 of 9 blocks here); merges that
    cross the switch, or mix layouts, still commute and associate on
    bytes."""
    a, b, c, d = (_blocked(9, f) for f in ([0, 1, 2, 3], [3, 4, 5, 6], [7], [0, 2, 4, 5, 6, 8]))
    assert [p[4] for p in (a, b, c, d)] == [2, 2, 2, 2]
    merge = merge_sketch_payloads
    assert merge([a, b])[4] == 2 and merge([a, b, c])[4] == 1 and merge([a, d])[4] == 1
    full = merge([a, b, c, d])
    for x, y in ((a, b), (merge([a, b]), c), (a, merge([c, d])), (full, a)):
        assert merge([x, y]) == merge([y, x])
    assert merge([merge([a, b]), c]) == merge([a, merge([b, c])])
    assert merge([merge([a, d]), merge([b, c])]) == merge([merge([c, a]), merge([d, b])]) == full
    assert merge([full, _blocked(9, [])]) == full  # the empty (header-only) payload is the identity
