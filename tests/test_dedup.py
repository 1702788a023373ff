"""Dedup operators: planted near-duplicates must be found; disjoint
docs must not pair; exact metrics verified against numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rusty_bloomfilter_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup_groups,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dups,
    simhash_signatures,
)


@pytest.fixture(scope="module")
def dup_corpus(spark):
    """60 docs: 20 base + 20 near-dup copies (10% token edits) +
    20 unrelated."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(20):
        base = rng.integers(0, 5000, size=200, dtype=np.int32)
        dup = base.copy()
        edit = rng.integers(0, 200, size=20)
        dup[edit] = rng.integers(5000, 10000, size=20, dtype=np.int32)
        other = rng.integers(20000, 50000, size=200, dtype=np.int32)
        rows.append((f"base-{i:03d}", base))
        rows.append((f"dup-{i:03d}", dup))
        rows.append((f"other-{i:03d}", other))
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "tokens": [r[1] for r in rows],
            "n_tok": [len(r[1]) for r in rows],
            "source": ["cc"] * len(rows),
        }
    )
    return spark.createDataFrame(pdf).repartition(5), pdf


def test_exact_dedup(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["aaa", "bbb", "aaa", "ccc", "aaa"],
        }
    )
    out = exact_dedup_groups(spark.createDataFrame(pdf)).collect()
    by_n = sorted([r["n_docs"] for r in out], reverse=True)
    assert by_n == [3, 1, 1]
    trip = [r for r in out if r["n_docs"] == 3][0]
    assert trip["keep_doc_id"] == 1


def test_minhash_signature_accuracy(spark, dup_corpus):
    """Signature agreement ~ true Jaccard of shingle sets."""
    df, pdf = dup_corpus
    sigs = {r["doc_id"]: np.array(r["sig"]) for r in minhash_signatures(df).collect()}
    from rusty_bloomfilter_spark.sketch.hashing import ngram_hashes

    def true_jac(a, b):
        sa = set(ngram_hashes(a, 3).tolist())
        sb = set(ngram_hashes(b, 3).tolist())
        return len(sa & sb) / len(sa | sb)

    toks = dict(zip(pdf["doc_id"], pdf["tokens"]))
    for i in (0, 5, 11):
        t = true_jac(toks[f"base-{i:03d}"], toks[f"dup-{i:03d}"])
        est = (sigs[f"base-{i:03d}"] == sigs[f"dup-{i:03d}"]).mean()
        assert est == pytest.approx(t, abs=0.15)
        assert t > 0.5  # the planted pairs are genuinely similar


def test_minhash_dedup_finds_planted_pairs(spark, dup_corpus):
    df, _ = dup_corpus
    pairs = minhash_dedup(df, threshold=0.4).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for i in range(20):
        assert (f"base-{i:03d}", f"dup-{i:03d}") in found
    # no unrelated doc should pair with anything
    assert not any("other" in a or "other" in b for a, b in found)


def test_simhash_near_dups(spark, dup_corpus):
    """The 4x16-bit block LSH guarantees recall for hamming <= 3
    (pigeonhole); verify exactly that set is found, vs a numpy oracle."""
    df, _ = dup_corpus
    sig_df = simhash_signatures(df)
    sigs = {r["doc_id"]: np.int64(r["simhash"]).view(np.uint64) for r in sig_df.collect()}

    def hamming(a, b):
        return bin(int(sigs[a]) ^ int(sigs[b])).count("1")

    ids = sorted(sigs)
    oracle = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if hamming(a, b) <= 3
    }
    pairs = simhash_near_dups(sig_df, max_hamming=3).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert found == oracle
    for r in pairs:
        assert r["hamming"] == hamming(r["doc_a"], r["doc_b"])
    # near-dup pairs have far smaller hamming than unrelated pairs
    planted = np.array([hamming(f"base-{i:03d}", f"dup-{i:03d}") for i in range(20)])
    unrelated = np.array([hamming(f"base-{i:03d}", f"other-{i:03d}") for i in range(20)])
    assert planted.mean() + 8 < unrelated.mean()


def test_ngram_jaccard_exact(spark, dup_corpus):
    df, pdf = dup_corpus
    cand = minhash_dedup(df, threshold=0.4).select("doc_a", "doc_b")
    out = ngram_jaccard_pairs(df, cand).collect()
    from rusty_bloomfilter_spark.sketch.hashing import ngram_hashes

    toks = dict(zip(pdf["doc_id"], pdf["tokens"]))
    for r in out[:10]:
        sa = set(ngram_hashes(toks[r["doc_a"]], 3).tolist())
        sb = set(ngram_hashes(toks[r["doc_b"]], 3).tolist())
        true = len(sa & sb) / len(sa | sb)
        assert r["jaccard"] == pytest.approx(true, abs=1e-9)


def test_embedding_near_dups(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((30, 32)).astype(np.float32)
    near = base[:10] + rng.standard_normal((10, 32)).astype(np.float32) * 0.01
    vecs = np.concatenate([base, near])
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [v for v in vecs],
        }
    )
    out = embedding_near_dups(
        spark.createDataFrame(pdf), threshold=0.98, n_planes=16, bands=4
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in out}
    hits = sum((i, 30 + i) in found for i in range(10))
    assert hits >= 8  # LSH recall on planted near-identical vectors
    for r in out:
        assert r["cosine"] >= 0.98


def test_minhash_pairs_lazy_with_n_hashes(spark, dup_corpus):
    """Passing n_hashes removes the driver first() action: constructing
    the candidate-pair plan must not execute the signature stage. A
    poisoned upstream proves it — building the plan succeeds, only
    collection raises."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
    )

    df, _ = dup_corpus

    def boom(batches):
        raise RuntimeError("signature stage executed during planning")
        yield  # pragma: no cover

    poisoned = (
        df.select("doc_id", "tokens")
        .mapInArrow(boom, schema="doc_id string, sig array<bigint>")
    )
    pairs = minhash_candidate_pairs(poisoned, bands=32, n_hashes=128)  # no job
    with pytest.raises(Exception, match="signature stage executed"):
        pairs.count()

    # and with a real upstream the explicit width matches the inferred one
    sigs = minhash_signatures(df, n_hashes=64, shingle=3)
    explicit = minhash_candidate_pairs(sigs, bands=16, threshold=0.4, n_hashes=64)
    inferred = minhash_candidate_pairs(sigs, bands=16, threshold=0.4)
    got_e = {(r["doc_a"], r["doc_b"]) for r in explicit.collect()}
    got_i = {(r["doc_a"], r["doc_b"]) for r in inferred.collect()}
    assert got_e == got_i and got_e


def test_simhash_multiblock_identical_pairs(spark, dup_corpus):
    """n_blocks=6 (20 keys of 31-33 bits) must find EXACTLY the same
    Hamming<=3 pairs as the classic 1-of-4 16-bit scheme — pigeonhole
    stays exact, only bucket width changes."""
    df, _ = dup_corpus
    sig_df = simhash_signatures(df).persist()
    classic = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dups(sig_df, max_hamming=3, n_blocks=4).collect()
    }
    multi = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_dups(sig_df, max_hamming=3, n_blocks=6).collect()
    }
    assert classic == multi and classic


def test_simhash_multiblock_rejects_bad_split():
    from rusty_bloomfilter_spark.operators.dedup import simhash_bucket_keys

    with pytest.raises(ValueError, match="n_blocks > max_hamming"):
        simhash_bucket_keys(3, 3)


def test_simhash_multiblock_bucket_width_shrinks():
    """At 2^20 uniform signatures the classic 16-bit buckets hold ~16
    docs each (quadratic pair expansion at web scale); 3-of-6 block
    keys (31-33 bits) hold ~1. numpy replication of the key scheme."""
    from rusty_bloomfilter_spark.operators.dedup import simhash_block_layout

    rng = np.random.default_rng(5)
    sigs = rng.integers(0, 1 << 64, size=1 << 20, dtype=np.uint64)

    def max_bucket(n_blocks, d):
        from itertools import combinations as C

        starts, sizes = simhash_block_layout(n_blocks)
        keep = n_blocks - d
        worst = 0
        for combo in C(range(n_blocks), keep):
            key = np.zeros_like(sigs)
            for bi in combo:
                blk = (sigs >> np.uint64(starts[bi])) & np.uint64((1 << sizes[bi]) - 1)
                key = (key << np.uint64(sizes[bi])) | blk
            worst = max(worst, int(np.unique(key, return_counts=True)[1].max()))
        return worst

    classic = max_bucket(4, 3)   # 16-bit keys: ~n/2^16 = 16 mean
    multi = max_bucket(6, 3)     # 31-33-bit keys: <<1 mean
    assert classic >= 4 * multi, (classic, multi)
    assert multi <= 4


def test_bigram_lm_scores_rank_fluency(spark):
    """Docs made of corpus-frequent transitions score higher than docs
    of unique transitions (the perplexity-filter property)."""
    import pandas as pd

    from rusty_bloomfilter_spark.operators.dedup import bigram_lm_scores

    fluent = [1, 2, 3, 4] * 10  # transitions repeated corpus-wide
    rows = [("common-%d" % i, np.array(fluent, dtype=np.int32)) for i in range(20)]
    rows.append(("gibberish", np.arange(500, 540, dtype=np.int32)))  # unique pairs
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [r[0] for r in rows], "tokens": [r[1] for r in rows]})
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(df, vocab=1000).collect()}
    assert len(out) == 21
    assert out["gibberish"]["n_pairs"] == 39
    common_score = out["common-000".replace("000", "0")]["lm_score"]
    assert common_score > out["gibberish"]["lm_score"]
    assert all(r["lm_score"] < 0 for r in out.values())  # log-probs


# ---------------------------------------------------------------------------
# lsh_plan (S-curve band/row chooser)
# ---------------------------------------------------------------------------


def test_lsh_plan_brute_force_optimal():
    from rusty_bloomfilter_spark.operators.dedup import lsh_plan

    for t in (0.3, 0.5, 0.8, 0.9):
        plan = lsh_plan(t, n_hashes=128)
        assert plan["bands"] * plan["rows"] == 128
        # exhaustive check: no divisor pair beats the returned cost
        grid = [(i + 0.5) / 512 for i in range(512)]
        for b in range(1, 129):
            if 128 % b:
                continue
            r = 128 // b
            fn = sum((1 - s**r) ** b for s in grid if s >= t) / 512
            fp = sum(1 - (1 - s**r) ** b for s in grid if s < t) / 512
            assert plan["cost"] <= fn + fp + 1e-12


def test_lsh_plan_threshold_monotonicity():
    from rusty_bloomfilter_spark.operators.dedup import lsh_plan

    # a higher target similarity wants LONGER bands (more rows): the
    # 50%-crossing point must track the threshold upward
    lo, hi = lsh_plan(0.3, n_hashes=128), lsh_plan(0.9, n_hashes=128)
    assert hi["rows"] >= lo["rows"]
    assert hi["threshold_50"] > lo["threshold_50"]
    # equal weights place the crossing NEAR the threshold (p(t) ~ 1/2
    # territory); a recall-weighted plan must push the catch prob up
    recall = lsh_plan(0.3, n_hashes=128, fn_weight=10.0)
    assert recall["p_at_threshold"] > 0.5


def test_lsh_plan_fp_weight_shifts_curve_right():
    from rusty_bloomfilter_spark.operators.dedup import lsh_plan

    cheap = lsh_plan(0.5, n_hashes=128, fp_weight=10.0)
    recall = lsh_plan(0.5, n_hashes=128, fn_weight=10.0)
    # penalizing candidate volume pushes the crossing point up (fewer
    # low-sim candidates); penalizing misses pushes it down
    assert cheap["threshold_50"] >= recall["threshold_50"]
    assert cheap["fp_mass"] <= recall["fp_mass"]


def test_lsh_plan_validation():
    import pytest as _pytest

    from rusty_bloomfilter_spark.operators.dedup import lsh_plan

    with _pytest.raises(ValueError, match="threshold"):
        lsh_plan(1.0)
    with _pytest.raises(ValueError, match="n_hashes"):
        lsh_plan(0.5, n_hashes=1)


def test_lsh_plan_default_matches_operator_defaults():
    from rusty_bloomfilter_spark.operators.dedup import lsh_plan

    # the repo's default minhash_candidate_pairs(bands=32, n=128) =>
    # r=4, crossing (1/32)^(1/4) ~ 0.42 — lsh_plan should agree that
    # this is a sane plan for threshold ~0.5 territory
    plan = lsh_plan(0.5, n_hashes=128)
    assert 0.3 < plan["threshold_50"] < 0.7


# -- dedup_savings ----------------------------------------------------------


def test_dedup_savings_attribution_and_math(spark):
    import pytest

    from rusty_bloomfilter_spark.operators.dedup import dedup_savings

    rows = [
        # fp X: canonical doc 1 in src a; copies 5 (a) and 7 (b)
        ("a", 1, "X", 100),
        ("a", 5, "X", 100),
        ("b", 7, "X", 100),
        # fp Y: unique
        ("b", 2, "Y", 50),
        # fp Z: canonical in b, copy in a — attribution flips
        ("b", 3, "Z", 30),
        ("a", 9, "Z", 30),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, fp string, n_tok long")
    got = {r["source"]: r for r in dedup_savings(df).collect()}
    a, b = got["a"], got["b"]
    # src a: docs 1,5,9 -> dups are 5 (X copy) and 9 (Z copy)
    assert a["n_docs"] == 3 and a["n_dup_docs"] == 2 and a["dup_tokens"] == 130
    assert a["frac_dup_docs"] == pytest.approx(2 / 3, abs=1e-6)
    # src b: docs 7,2,3 -> only 7 is a copy (3 is Z's canonical)
    assert b["n_docs"] == 3 and b["n_dup_docs"] == 1 and b["dup_tokens"] == 100
    # totals conserve
    assert a["total_tokens"] + b["total_tokens"] == sum(w for *_, w in rows)


def test_dedup_savings_no_dups_is_zero(spark):
    from rusty_bloomfilter_spark.operators.dedup import dedup_savings

    rows = [("a", i, f"fp{i}", 10) for i in range(5)]
    df = spark.createDataFrame(rows, "source string, doc_id long, fp string, n_tok long")
    got = dedup_savings(df).collect()[0]
    assert got["n_dup_docs"] == 0 and got["frac_dup_tokens"] == 0.0


def test_dedup_savings_zero_weight_group_no_crash(spark):
    # review fix: all-zero-weight group -> NULL fraction, never an
    # ANSI DIVIDE_BY_ZERO crash
    from rusty_bloomfilter_spark.operators.dedup import dedup_savings

    rows = [("z", 1, "f1", 0), ("z", 2, "f1", 0)]
    df = spark.createDataFrame(rows, "source string, doc_id long, fp string, n_tok long")
    got = dedup_savings(df).collect()[0]
    assert got["n_dup_docs"] == 1 and got["frac_dup_tokens"] is None
