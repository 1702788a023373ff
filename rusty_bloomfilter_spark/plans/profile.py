"""Flagship plan: per-source token profile of a sequences table.

For every `source` partition of the corpus, build a Bloom filter and an
HLL over its tokens (map-side combine, sketch-row-only shuffle) and
report exact counts next to sketch estimates + fill/size metrics —
the "sketch-size/fill-ratio metrics" the north star asks jobs to emit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketches import BloomSketch, HllSketch
from ..sketch import BloomFilter, HyperLogLog, Shape

_STATS_SCHEMA = (
    "source string, bloom_n_items bigint, bloom_bits bigint, "
    "bloom_estimate_n double, bloom_fill_ratio double, bloom_bytes bigint"
)


def bloom_stats_df(keyed: DataFrame) -> DataFrame:
    """(key, payload, n_items) Bloom rows -> per-key metrics."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "source": [],
                "bloom_n_items": [],
                "bloom_bits": [],
                "bloom_estimate_n": [],
                "bloom_fill_ratio": [],
                "bloom_bytes": [],
            }
            for key, payload, n_items in zip(pdf["key"], pdf["payload"], pdf["n_items"]):
                bf = BloomFilter.from_bytes(bytes(payload))
                card = bf.cardinality()
                out["source"].append(key)
                out["bloom_n_items"].append(int(n_items))
                out["bloom_bits"].append(card)
                out["bloom_estimate_n"].append(bf.shape.estimate_n(card))
                out["bloom_fill_ratio"].append(card / bf.shape.m)
                out["bloom_bytes"].append(len(bytes(payload)))
            yield pd.DataFrame(out)

    return keyed.mapInPandas(stats, schema=_STATS_SCHEMA)


def _hll_stats_df(keyed: DataFrame) -> DataFrame:
    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "source": list(pdf["key"]),
                    "distinct_tokens_est": [
                        HyperLogLog.from_bytes(bytes(p)).estimate() for p in pdf["payload"]
                    ],
                }
            )

    return keyed.mapInPandas(stats, schema="source string, distinct_tokens_est double")


def token_profile(
    spark: SparkSession,
    sequences: DataFrame,
    *,
    shape: Shape | None = None,
    hll_p: int = 14,
    salt: int = 0,
) -> DataFrame:
    """-> one row per source: exact counts + Bloom/HLL sketch metrics.

    ONE scan of the corpus: a fused multi-sketch keyed build folds every
    Arrow batch into a Bloom AND an HLL accumulator per source while
    counting rows/tokens exactly — where three independent aggregations
    would scan the same 100 TB three times. The shuffle carries one
    (source, bloom_payload, hll_payload) row per partition; the final
    stats projection runs over the handful of merged per-key rows.

    Default shape: per-source DISTINCT tokens are bounded by the
    tokenizer vocabulary (50,257 for the md5/BPE-ish tokenizers here),
    not by corpus size, so n=200k at p=1e-4 gives 4x headroom at any
    scale. Oversizing is the dominant cost of this plan — a 20x-too-big
    filter spends its time allocating/encoding/merging empty bits
    (measured 2.7x slower end-to-end) — so callers with larger vocabs
    should pass a shape sized ~4x their vocab, not "a big number".
    """
    import numpy as np

    from ..operators.aggregate import build_multi_by_key
    from ..sketch import merge_payloads, merge_sketch_payloads

    shape = shape or Shape.for_np(n=200_000, p=1e-4)
    bloom = BloomSketch(shape)
    hll = HllSketch(hll_p)

    # r6 restructure (guide §2.3 "aggregate before you shuffle", §4
    # "shrink the Python boundary"): fold the corpus to (source, tok,
    # cnt) with ONE JVM explode + map-side-combined aggregate — the
    # group count is bounded by sources x vocabulary, not corpus size —
    # and feed the sketches those counted rows instead of shipping
    # every token occurrence through Arrow into Python. Bloom/HLL
    # inserts are idempotent, so inserting each distinct (source, tok)
    # once and correcting n_items by the occurrence count yields
    # byte-identical payloads (the same invariant dedup_counts already
    # relies on). posexplode_outer (not posexplode) keeps one row for
    # empty/NULL-token docs — so doc counting stays exact — and avoids
    # the inferred Generate filter that re-evaluates the upstream
    # tokenize expression.
    ex = sequences.select("source", F.posexplode_outer("tokens").alias("pos", "tok"))
    counts = ex.groupBy("source", "tok").agg(
        F.count("*").alias("cnt"),
        # first-token (or empty-doc) marker: sums to the doc count
        F.sum(
            F.when((F.col("pos") == 0) | F.col("pos").isNull(), 1).otherwise(0)
        ).alias("n_first"),
    )

    def _counted_vals(batch):
        import pyarrow.compute as pc

        tok = batch.column("tok")
        cnt = batch.column("cnt")
        if tok.null_count:  # NULL tok = empty-doc marker rows, not tokens
            keep = pc.is_valid(tok)
            tok = tok.filter(keep)
            cnt = cnt.filter(keep)
        ids = tok.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        cs = cnt.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        return ids, cs

    def bloom_upd(acc, batch):
        ids, cs = _counted_vals(batch)
        if ids.size:
            acc.add_tokens(ids)
            acc.n_items += int(cs.sum()) - ids.size

    def hll_upd(acc, batch):
        ids, cs = _counted_vals(batch)
        if ids.size:
            acc.add_tokens(ids)
            acc.n_items += int(cs.sum()) - ids.size

    class _DocCounter:
        """Trivial spec accumulator: sums the n_first markers so the
        per-source doc count rides the same keyed build row."""

        def __init__(self) -> None:
            self.n_items = 0

        def to_bytes(self) -> bytes:
            return b""

    def docs_upd(acc, batch):
        import pyarrow.compute as pc

        acc.n_items += int(pc.sum(batch.column("n_first")).as_py() or 0)

    keyed = build_multi_by_key(
        counts,
        "source",
        [
            ("bloom", bloom._empty, bloom_upd, merge_payloads),
            ("hll", hll._empty, hll_upd, merge_sketch_payloads),
            ("docs", _DocCounter, docs_upd, lambda payloads: b""),
        ],
        columns=["source", "tok", "cnt", "n_first"],
        salt=salt,
    )

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "source": [],
                "n_seqs": [],
                "n_tokens": [],
                "bloom_n_items": [],
                "bloom_bits": [],
                "bloom_estimate_n": [],
                "bloom_fill_ratio": [],
                "bloom_bytes": [],
                "distinct_tokens_est": [],
            }
            for _, row in pdf.iterrows():
                bf = BloomFilter.from_bytes(bytes(row["payload_bloom"]))
                card = bf.cardinality()
                out["source"].append(row["key"])
                out["n_seqs"].append(int(row["n_docs"]))
                out["n_tokens"].append(int(row["n_bloom"]))
                out["bloom_n_items"].append(int(row["n_bloom"]))
                out["bloom_bits"].append(card)
                out["bloom_estimate_n"].append(bf.shape.estimate_n(card))
                out["bloom_fill_ratio"].append(card / bf.shape.m)
                out["bloom_bytes"].append(len(bytes(row["payload_bloom"])))
                out["distinct_tokens_est"].append(
                    HyperLogLog.from_bytes(bytes(row["payload_hll"])).estimate()
                )
            yield pd.DataFrame(out)

    schema = (
        "source string, n_seqs bigint, n_tokens bigint, "
        + _STATS_SCHEMA.split(", ", 1)[1]
        + ", distinct_tokens_est double"
    )
    return keyed.mapInPandas(stats, schema=schema).orderBy("source")
