"""Distributed sketch builders: the column-sketch wrappers, the
partition fold and its merges, and the checkpointed build.

Only the core entry points are re-exported, so a Spark worker that
imports ``operators.aggregate`` loads nothing beyond the sketch core.
The other operator modules stay importable by their own path."""

from .aggregate import (
    build_by_key,
    build_multi,
    build_multi_by_key,
    build_sketch,
    build_sketch_bytes,
    collect_multi_bytes,
    collect_sketch_bytes,
    partition_sketches,
    tree_merge,
)
from .sketches import (
    BlockedBloomSketch,
    BloomSketch,
    CmsSketch,
    HllSketch,
    KllQuantiles,
    TDigestQuantiles,
    flat_ngram_hashes,
    flatten_tokens,
)

__all__ = [
    "BlockedBloomSketch",
    "BloomSketch",
    "CmsSketch",
    "HllSketch",
    "KllQuantiles",
    "TDigestQuantiles",
    "build_by_key",
    "build_multi",
    "build_multi_by_key",
    "build_sketch",
    "build_sketch_bytes",
    "collect_multi_bytes",
    "collect_sketch_bytes",
    "flat_ngram_hashes",
    "flatten_tokens",
    "partition_sketches",
    "tree_merge",
]
