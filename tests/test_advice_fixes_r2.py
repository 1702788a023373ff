"""Regression tests for the round-2 ADVICE + VERDICT findings.

1. Clamped np.add.reduceat misattributed the LAST gram-bearing doc's
   trailing hits to trailing zero-gram docs (decontaminate — a zero-FN
   break), and the same pattern lived in contained_fraction_udf and
   simhash_signatures.
2. learn_bpe_merges silently collided pair keys when vocab + n_merges
   exceeded PAIR_BASE.
3. LSH bucket persists leaked cached RDDs for the session lifetime —
   now tied to the result DataFrame (free() / GC finalizer).
4. bigram_lm_scores broadcast the (potentially vocab^2-sized) bigram
   table — now an explicit shuffle-merge join.
"""

import gc

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

NG = 8


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# 1. prefix-sum segment sums (trailing zero-gram rows)
# ---------------------------------------------------------------------------


def test_decontaminate_counts_trailing_grams_of_last_doc(spark):
    """The exact ADVICE repro: a short (<ngram) doc ordered LAST in the
    batch must not absorb (and then zero) the previous doc's final gram
    hits. Doc A is a verbatim eval passage -> ALL 13 of its grams hit;
    under the clamped-reduceat bug n_hits was 12."""
    from rusty_bloomfilter_spark.operators.decontaminate import decontaminate

    passage = list(range(100, 120))  # 20 tokens -> 13 8-grams
    eval_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["e0"], "tokens": [np.array(passage, dtype=np.int32)]})
    )
    train_pdf = pd.DataFrame(
        {
            "doc_id": ["A", "B-short"],
            "tokens": [
                np.array(passage, dtype=np.int32),
                np.array([1, 2, 3], dtype=np.int32),  # 0 grams, last row
            ],
        }
    )
    train_df = spark.createDataFrame(train_pdf).coalesce(1)
    out = {r["doc_id"]: r for r in decontaminate(train_df, eval_df, ngram=NG).collect()}
    assert out["A"]["n_grams"] == 13
    assert out["A"]["n_hits"] == 13  # was 12 under the bug
    assert out["B-short"]["n_grams"] == 0 and out["B-short"]["n_hits"] == 0
    # min_hits at the full gram count must still flag (zero-FN)
    strict = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(train_df, eval_df, ngram=NG, min_hits=13).collect()
    }
    assert strict["A"] is True


def test_contained_fraction_trailing_empty_row(spark):
    """Row with every token in the filter must score exactly 1.0 even
    when an empty-array row ends the batch."""
    from rusty_bloomfilter_spark.operators.sketches import BloomSketch

    sk = BloomSketch.for_np(n=1000, p=1e-4)
    toks = np.arange(50, dtype=np.int32)
    df = spark.createDataFrame(
        pd.DataFrame({"tokens": [toks, np.array([], dtype=np.int32)]})
    ).coalesce(1)
    payload = sk.build_bytes(spark.createDataFrame(pd.DataFrame({"tokens": [toks]})))[0]
    rows = df.select(
        sk.contained_fraction_udf(payload, spark)("tokens").alias("frac")
    ).collect()
    fracs = sorted(r["frac"] for r in rows)
    assert fracs == [0.0, 1.0]  # was [0.0, 0.98] under the bug


def test_simhash_signature_unchanged_by_trailing_empty_doc(spark):
    """A doc's simhash must be identical whether or not an empty doc
    follows it in the Arrow batch (the old kernel dropped the last
    token's contribution)."""
    from rusty_bloomfilter_spark.operators.dedup import simhash_signatures

    toks = np.arange(1000, 1017, dtype=np.int32)
    alone = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["A"], "tokens": [toks]})
    ).coalesce(1)
    with_empty = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["A", "E"], "tokens": [toks, np.array([], dtype=np.int32)]})
    ).coalesce(1)
    sig_alone = {r["doc_id"]: r["simhash"] for r in simhash_signatures(alone).collect()}
    sig_both = {r["doc_id"]: r["simhash"] for r in simhash_signatures(with_empty).collect()}
    assert sig_both["A"] == sig_alone["A"]
    assert sig_both["E"] == 0  # empty doc -> all-zero simhash


# ---------------------------------------------------------------------------
# 2. BPE pair-key capacity contract
# ---------------------------------------------------------------------------


def test_bpe_rejects_vocab_overflowing_pair_base(spark):
    from rusty_bloomfilter_spark.operators.bpe import PAIR_BASE, learn_bpe_merges

    df = spark.createDataFrame([("d0", [1, 2, 3])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match="PAIR_BASE"):
        learn_bpe_merges(df, n_merges=10, vocab=PAIR_BASE - 5)


def test_bpe_rejects_token_ids_outside_vocab(spark):
    from rusty_bloomfilter_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([("d0", [1, 999])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match="vocab"):
        learn_bpe_merges(df, n_merges=1, vocab=100)


# ---------------------------------------------------------------------------
# 3. persisted-intermediate lifecycle
# ---------------------------------------------------------------------------


def test_lsh_bucket_frames_freed_after_free(spark, sequences_pdf):
    from rusty_bloomfilter_spark.operators.cache import free
    from rusty_bloomfilter_spark.operators.dedup import minhash_dedup

    spark.catalog.clearCache()
    gc.collect()
    base = _persistent_rdd_count(spark)
    seq = spark.createDataFrame(sequences_pdf.head(300))
    pairs = minhash_dedup(seq, n_hashes=32, bands=8)
    pairs.count()  # materialize: the persisted bucket frame is live now
    assert _persistent_rdd_count(spark) > base
    free(pairs)
    assert _persistent_rdd_count(spark) == base


def test_persist_survives_chained_transformations(spark, sequences_pdf):
    """The code-review finding that killed the GC-finalizer design:
    callers chain (.orderBy/.agg) off the operator result, so
    the tied wrapper dies at plan-construction time. The persist must
    still be LIVE when the chained plan materializes (else the
    self-join recomputes the signature stage per side)."""
    from rusty_bloomfilter_spark.operators.dedup import simhash_near_dups, simhash_signatures

    spark.catalog.clearCache()
    gc.collect()
    base = _persistent_rdd_count(spark)
    seq = spark.createDataFrame(sequences_pdf.head(300))
    # chain immediately and drop the tied wrapper
    chained = simhash_near_dups(simhash_signatures(seq), max_hamming=3).groupBy().count()
    gc.collect()  # under the old GC-finalizer design this unpersisted the deps
    chained.collect()  # materialize through the (still-)persisted frame
    # the cached RDD exists iff the persist was live during execution
    assert _persistent_rdd_count(spark) > base
    spark.catalog.clearCache()


def test_tied_deps_evicted_fifo_beyond_cap(spark, sequences_pdf):
    """Session storage is bounded: after MAX_LIVE further tied calls,
    the oldest dep-set is unpersisted automatically."""
    from rusty_bloomfilter_spark.operators import cache
    from rusty_bloomfilter_spark.operators.dedup import minhash_dedup

    spark.catalog.clearCache()
    gc.collect()
    base = _persistent_rdd_count(spark)
    seq = spark.createDataFrame(sequences_pdf.head(120))
    first = minhash_dedup(seq, n_hashes=16, bands=4)
    first.count()
    after_first = _persistent_rdd_count(spark)
    assert after_first > base
    for _ in range(cache.MAX_LIVE):
        cache.tie(seq.limit(1), seq.limit(1))  # dummy tied calls age it out
    assert _persistent_rdd_count(spark) == base
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# 4. bigram join is shuffle-merge, not broadcast
# ---------------------------------------------------------------------------


def test_bigram_lm_plan_has_no_bigram_broadcast(spark, sequences_pdf):
    import contextlib
    import io

    from rusty_bloomfilter_spark.operators.dedup import bigram_lm_scores

    seq = spark.createDataFrame(sequences_pdf.head(200))
    df = bigram_lm_scores(seq)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the pair-count join must be sort-merge (scale-safe); only the
    # vocab-bounded unigram join may broadcast
    assert "SortMergeJoin" in plan
    tree = plan.split("\n\n")[0]
    smj_keys = [ln for ln in plan.splitlines() if "Left keys" in ln]
    assert any("pair" in ln for ln in smj_keys), plan


def test_bpe_rejects_negative_token_ids(spark):
    from rusty_bloomfilter_spark.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([("d0", [1, -1, 3])], "doc_id string, tokens array<int>")
    with pytest.raises(ValueError, match="min=-1"):
        learn_bpe_merges(df, n_merges=1, vocab=100)
