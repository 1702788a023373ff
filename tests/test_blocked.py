"""Split-block Bloom filter: published-design guarantees (zero FN,
FPR <= configured p per the parquet-mr sizing formula), merge algebra,
Spark build parity with the numpy oracle."""

import numpy as np
import pytest

from rusty_bloomfilter_spark.sketch import BlockedBloomFilter

RNG = np.random.default_rng(42)


def test_zero_false_negatives():
    f = BlockedBloomFilter.for_np(n=50_000, p=1e-3)
    toks = RNG.integers(0, 50257, size=50_000, dtype=np.int32)
    f.add_tokens(toks)
    assert bool(f.contains_tokens(toks).all())


def test_fpr_within_configured_p():
    p = 1e-3
    items = RNG.integers(0, 10**9, size=100_000, dtype=np.int64)
    f = BlockedBloomFilter.for_np(n=100_000, p=p)
    f.add_tokens(items)
    absent = RNG.integers(2 * 10**9, 3 * 10**9, size=500_000, dtype=np.int64)
    fpr = float(f.contains_tokens(absent).mean())
    assert fpr <= p * 1.5 + 1e-5  # statistical headroom over configured p
    # matches the design's own closed-form prediction
    assert fpr <= f.false_positives(100_000) * 1.3 + 1e-5


def test_merge_algebra_and_partition_invariance():
    proto = BlockedBloomFilter.for_np(n=10_000, p=1e-2)
    items = RNG.integers(0, 10**8, size=9_000, dtype=np.int64)
    whole = BlockedBloomFilter(proto.n_blocks).add_tokens(items)
    assignment = RNG.integers(0, 3, size=len(items))
    parts = [
        BlockedBloomFilter(proto.n_blocks).add_tokens(items[assignment == i]) for i in range(3)
    ]
    m1 = parts[0].merge(parts[1]).merge(parts[2])
    m2 = parts[2].merge(parts[0].merge(parts[1]))
    assert m1.to_bytes() == m2.to_bytes() == whole.to_bytes()
    empty = BlockedBloomFilter(proto.n_blocks)
    assert whole.merge(empty) == whole
    assert whole.merge(whole) == whole  # idempotent


def test_estimate_n():
    f = BlockedBloomFilter.for_np(n=100_000, p=1e-3)
    items = RNG.integers(0, 10**9, size=80_000, dtype=np.int64)
    f.add_tokens(items)
    distinct = len(np.unique(items))
    assert f.estimate_n() == pytest.approx(distinct, rel=0.05)


def test_roundtrip():
    f = BlockedBloomFilter.for_np(n=1000, p=1e-2)
    f.add_tokens(RNG.integers(0, 10**6, size=500, dtype=np.int64))
    rt = BlockedBloomFilter.from_bytes(f.to_bytes())
    assert rt == f and rt.n_items == f.n_items
    with pytest.raises(ValueError):
        BlockedBloomFilter.from_bytes(b"garbage-not-a-filter")


def test_spark_build_matches_oracle(spark, sequences_pdf):
    from rusty_bloomfilter_spark.operators.sketches import BlockedBloomSketch

    sk = BlockedBloomSketch.for_np(n=300_000, p=1e-4)
    df = spark.createDataFrame(sequences_pdf)
    payload, n_items = sk.build_bytes(df.repartition(7))
    oracle = BlockedBloomFilter(sk.proto.n_blocks).add_tokens(
        np.concatenate(list(sequences_pdf["tokens"]))
    )
    got = BlockedBloomFilter.from_bytes(payload)
    assert got.words.tobytes() == oracle.words.tobytes()
    assert n_items == oracle.n_items
    # distributed probe: zero FN over all tokens
    hits, total = sk.count_contained(df, payload, spark)
    assert hits == total == n_items


def test_sketch_keeps_only_the_block_count():
    """Task closures pickle the column sketch: it must not carry a
    block array, while ``proto`` still reads as an empty filter."""
    import pickle

    from rusty_bloomfilter_spark.operators.sketches import BlockedBloomSketch

    sk = BlockedBloomSketch.for_np(n=1 << 20, p=1e-3)
    assert sk.proto == BlockedBloomFilter(sk.n_blocks)
    assert len(pickle.dumps(sk)) < 1000 < sk.proto.number_of_bytes()
