"""Bloom filter core — ports every reference unit-test assertion.

Reference test suite: `/root/reference/src/bloomfilter/mod.rs:454-798`
(19 test functions). Items are inserted via raw (h1, h2) pairs exactly
like the reference's `SimpleHasher{initial, increment}` so expected bit
positions are pinned: (h1 + i*h2) mod m for i < k (hasher.rs:48-70).
"""

import numpy as np
import pytest

from rusty_bloomfilter_spark.sketch import BloomFilter, Shape, km_indices, popcount_words

SHAPE = Shape(m=60, k=2)


def bf_from_pairs(pairs, shape=SHAPE):
    f = BloomFilter.empty(shape)
    if pairs:
        h1 = np.array([p[0] for p in pairs], dtype=np.uint64)
        h2 = np.array([p[1] for p in pairs], dtype=np.uint64)
        f.add_hashes(h1, h2)
    return f


def set_bits(f):
    return set(f.to_indices().tolist())


# -- index expansion (hasher.rs:48-70) ---------------------------------------


def test_km_expansion_basic():
    idx = km_indices(np.array([0], dtype=np.uint64), np.array([1], dtype=np.uint64), SHAPE)
    assert idx.tolist() == [[0, 1]]


def test_km_expansion_wraps_mod_m():
    # (0, 0x100): i=0 -> 0, i=1 -> 256 % 60 = 16
    idx = km_indices(np.array([0], dtype=np.uint64), np.array([0x100], dtype=np.uint64), SHAPE)
    assert idx.tolist() == [[0, 16]]


def test_km_duplicate_indices_collapse():
    # h2 % m == 0 -> all k probes hit one bit (observable in the
    # reference's HashSet collapse, mod.rs:486-495 analogue)
    f = bf_from_pairs([(5, 60)])
    assert set_bits(f) == {5}
    assert f.cardinality() == 1


def test_km_matches_reference_wrapped_add():
    # brute-force congruence check: (h1 + i*h2) mod m over random pairs
    rng = np.random.default_rng(42)
    h1 = rng.integers(0, 2**63, size=200, dtype=np.uint64)
    h2 = rng.integers(0, 2**63, size=200, dtype=np.uint64)
    shape = Shape(m=134191, k=23)
    idx = km_indices(h1, h2, shape)
    for row in rng.integers(0, 200, size=20):
        for i in range(shape.k):
            expect = (int(h1[row]) + i * int(h2[row])) % shape.m
            assert idx[row, i] == expect


# -- empty filter axioms (mod.rs:473-484) -------------------------------------


def test_empty_filter():
    f = BloomFilter.empty(SHAPE)
    assert f.cardinality() == 0
    assert set_bits(f) == set()
    assert f.estimate_n() < 0.05
    assert f.contains_filter(f)
    assert f.contains_filter(BloomFilter.empty(SHAPE))
    assert not f.is_full()


# -- build correctness (mod.rs:486-512) ----------------------------------------


def test_filter_build_correct():
    f = bf_from_pairs([(0, 1)])
    assert set_bits(f) == {0, 1}
    assert f.cardinality() == 2
    assert f.estimate_n() == pytest.approx(1.0, abs=0.05)
    # containment axioms
    assert f.contains_filter(f)
    assert f.contains_filter(BloomFilter.empty(SHAPE))
    assert not BloomFilter.empty(SHAPE).contains_filter(f)


# -- containment matrix (mod.rs:514-602) ----------------------------------------


def test_containment_superset_axiom():
    one = bf_from_pairs([(0, 1)])
    two = bf_from_pairs([(0, 1), (0, 5)])
    assert set_bits(two) == {0, 1, 5}
    assert two.contains_filter(one)
    assert not one.contains_filter(two)
    assert two.contains_indices(one.to_indices())
    assert not one.contains_indices(two.to_indices())


# -- determinism / shape reuse (mod.rs:604-619) ----------------------------------


def test_shape_used_multiple_times():
    a = bf_from_pairs([(7, 11)])
    b = bf_from_pairs([(7, 11)])
    assert a == b
    assert a.to_bytes() == b.to_bytes()


# -- merge matrices (mod.rs:621-797) -----------------------------------------------


def test_merge_pinned_bits():
    a = bf_from_pairs([(0, 1)])
    b = bf_from_pairs([(0, 0x100)])
    merged = a.merge(b)
    assert set_bits(merged) == {0, 1, 16}
    assert merged.contains_filter(a)
    assert merged.contains_filter(b)
    # copy-merge left inputs untouched
    assert set_bits(a) == {0, 1}
    assert set_bits(b) == {0, 16}


def test_merge_in_place_pinned_bits():
    a = bf_from_pairs([(0, 1)])
    b = bf_from_pairs([(0, 0x100)])
    a.merge_in_place(b)
    assert set_bits(a) == {0, 1, 16}


def test_merge_by_hashes():
    # analogue of merge_hasher (mod.rs:763-797): inserting the second
    # item directly equals merging a filter built from it
    a = bf_from_pairs([(0, 1)])
    a.add_hashes(np.array([0], dtype=np.uint64), np.array([0x100], dtype=np.uint64))
    assert set_bits(a) == {0, 1, 16}


def test_merge_shape_mismatch_rejected():
    with pytest.raises(ValueError):
        BloomFilter.empty(Shape(60, 2)).merge(BloomFilter.empty(Shape(61, 2)))
    with pytest.raises(ValueError):
        BloomFilter.empty(Shape(60, 2)).merge(BloomFilter.empty(Shape(60, 3)))


# -- membership: zero false negatives ------------------------------------------------


def test_zero_false_negatives_tokens():
    shape = Shape.for_np(n=5000, p=1e-3)
    rng = np.random.default_rng(42)
    tokens = rng.integers(0, 50257, size=5000, dtype=np.int32)
    f = BloomFilter.empty(shape).add_tokens(tokens)
    assert bool(f.contains_tokens(tokens).all())


def test_observed_fpr_within_bound():
    shape = Shape.for_np(n=5000, p=1e-2)
    rng = np.random.default_rng(42)
    present = rng.integers(0, 50257, size=5000, dtype=np.int64)
    f = BloomFilter.empty(shape).add_tokens(present)
    absent = rng.integers(10**9, 2 * 10**9, size=200_000, dtype=np.int64)
    fpr = float(f.contains_tokens(absent).mean())
    bound = shape.false_positives(len(np.unique(present)))
    assert fpr <= bound * 1.5 + 1e-4  # statistical headroom


# -- estimators (mod.rs:38-54) --------------------------------------------------------


def test_estimate_union_intersection():
    shape = Shape.for_np(n=2000, p=1e-3)
    rng = np.random.default_rng(7)
    a_items = rng.integers(0, 10**6, size=1000, dtype=np.int64)
    b_items = np.concatenate([a_items[:500], rng.integers(2 * 10**6, 3 * 10**6, size=500, dtype=np.int64)])
    a = BloomFilter.empty(shape).add_tokens(a_items)
    b = BloomFilter.empty(shape).add_tokens(b_items)
    nu = len(np.unique(np.concatenate([a_items, b_items])))
    ni = len(np.intersect1d(a_items, b_items))
    assert a.estimate_union(b) == pytest.approx(nu, rel=0.05)
    assert a.estimate_intersection(b) == pytest.approx(ni, rel=0.15, abs=30)
    # estimate_union == estimate of materialized merge (mod.rs:48-54)
    assert a.estimate_union(b) == a.merge(b).estimate_n()


# -- serialization -------------------------------------------------------------------------


def test_roundtrip_dense_and_sparse():
    shape = Shape(m=1 << 16, k=5)
    rng = np.random.default_rng(1)
    # sparse: few items
    s = BloomFilter.empty(shape).add_tokens(rng.integers(0, 10**6, size=10, dtype=np.int64))
    rt = BloomFilter.from_bytes(s.to_bytes())
    assert rt == s and rt.n_items == s.n_items
    assert len(s.to_bytes()) < shape.number_of_bytes()  # sparse codec won
    # dense: many items
    d = BloomFilter.empty(shape).add_tokens(rng.integers(0, 10**6, size=20000, dtype=np.int64))
    rt = BloomFilter.from_bytes(d.to_bytes())
    assert rt == d and rt.n_items == d.n_items


def test_canonical_bytes_order_independent():
    shape = Shape(m=4096, k=3)
    rng = np.random.default_rng(3)
    items = rng.integers(0, 10**9, size=300, dtype=np.int64)
    a = BloomFilter.empty(shape).add_tokens(items)
    b = BloomFilter.empty(shape).add_tokens(items[::-1].copy())
    assert a.to_bytes() == b.to_bytes()


def test_popcount_words_matches_bin_count():
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    single = np.uint64(1) << np.arange(64, dtype=np.uint64)
    rng = np.random.default_rng(3)
    # more words than one SWAR pass takes, so the chunk seam is covered
    rand = rng.integers(0, 1 << 63, 40_000, dtype=np.int64).view(np.uint64) * np.uint64(3)
    for words in (np.zeros(5, np.uint64), np.full(7, ones), single, rand, np.zeros(0, np.uint64)):
        assert popcount_words(words) == sum(bin(int(w)).count("1") for w in words)
    assert popcount_words(np.full(3, ones)) == 192
    assert popcount_words(single) == 64
