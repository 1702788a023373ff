"""Every accumulator's ``max_payload_bytes()`` bounds its serialized
size however much data it has seen, and after merges: the Spark builds
size their driver-side merge budget with it."""

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
    SparseBloomBuilder,
    TDigest,
    merge_sketch_payloads,
)

rng = np.random.default_rng(7)
TOKENS = rng.integers(0, 1 << 30, 200_000).astype(np.int64)
SHAPE = Shape.for_np(n=10_000, p=1e-2)

# (make_empty, fill, fixed size?)
CASES = {
    "hll": (lambda: HyperLogLog(10), lambda s: s.add_tokens(TOKENS), True),
    "kll": (lambda: KLLSketch(20), lambda s: s.update_batch(rng.random(200_000)), False),
    "mg": (lambda: MisraGries(64), lambda s: s.add_tokens(TOKENS), False),
    "tdigest": (lambda: TDigest(21), lambda s: s.update_batch(rng.standard_cauchy(100_000)), False),
    "ddsketch": (lambda: DDSketch(0.05), lambda s: s.add(np.exp(rng.normal(0, 30, 50_000))), False),
    "cms": (lambda: CountMinSketch(3, 64), lambda s: s.add_tokens(TOKENS), True),
    "cms_compact": (lambda: CountMinSketch(3, 4096), lambda s: s.add_tokens(TOKENS[:20_000]), False),
    "ams": (lambda: CountSketch(3, 64), lambda s: s.add_tokens(TOKENS), True),
    "blocked": (lambda: BlockedBloomFilter.for_np(1000, 0.01), lambda s: s.add_tokens(TOKENS), True),
    "bloom": (lambda: BloomFilter(SHAPE), lambda s: s.add_tokens(TOKENS), True),
    "sparse_bloom": (lambda: SparseBloomBuilder(SHAPE), lambda s: s.add_tokens(TOKENS), True),
    "counting": (lambda: CountingBloomFilter.empty(SHAPE), lambda s: s.add_tokens(TOKENS), True),
    "iblt": (lambda: IBLT.for_diff(100, 4), lambda s: s.add_u64(TOKENS.astype(np.uint64)), True),
    "gram": (lambda: GramMatrix(8), lambda s: s.add_rows(rng.random((1000, 8))), True),
    "freqdirs": (lambda: FrequentDirections(4, 8), lambda s: s.add_rows(rng.random((1000, 8))), False),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_max_payload_bytes_bounds_built_and_merged(name):
    make_empty, fill, fixed = CASES[name]
    bound = make_empty().max_payload_bytes()
    assert len(make_empty().to_bytes()) <= bound
    payloads = []
    for _ in range(3):
        acc = make_empty()
        fill(acc)
        payloads.append(acc.to_bytes())
    merged = merge_sketch_payloads(payloads)
    sizes = [len(p) for p in payloads] + [len(merged)]
    assert max(sizes) <= bound, sizes
    if fixed:
        # saturated fixed-layout sketches reach their bound exactly
        assert len(merged) == bound


def test_cms_compact_payload_stays_below_dense_bound():
    """Cells below 255 cross the wire as one byte each, so a lightly
    filled count-min table, merged, is the compact layout at about an
    eighth of the dense bound; the saturated "cms" case stays dense."""
    make_empty, fill, _ = CASES["cms_compact"]
    payloads = []
    for _ in range(3):
        acc = make_empty()
        fill(acc)
        payloads.append(acc.to_bytes())
    merged = merge_sketch_payloads(payloads)
    assert merged[4] == 2
    assert len(merged) < make_empty().max_payload_bytes() / 7
