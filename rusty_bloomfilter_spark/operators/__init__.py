"""Distributed operators: sketch builders, tree merges, dedup,
similarity search, sampling, temporal joins, BPE training, text
analysis, checkpointing."""

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
from .bpe import learn_bpe_merges
from .cache import free, tie
from .cluster import connected_components, dup_clusters
from .compaction import compact_files, compaction_plan, parquet_file_stats
from .curation import frequency_cap, pack_sequences, temperature_rates, temperature_sample
from .funnel import funnel, funnel_users
from .graph import pagerank, pagerank_oracle_sql
from .profile import ColumnProfile, profile_table
from .retention import retention_cohorts
from .spans import merge_window_spans, span_dedup_stats, token_windows
from .outliers import flag_outliers, robust_group_fences, robust_group_stats
from .strings import deletion_variants, edit_distance_pairs
from .sharded import ShardedBloomSketch
from .sampling import (
    bottom_k_by,
    bottom_k_sample,
    kmv_distinct,
    kmv_group_sketches,
    kmv_overlap,
    weighted_bottom_k,
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
from .temporal import asof_join, range_join, salted_join, session_stats, sessionize

__all__ = [
    "BlockedBloomSketch",
    "BloomSketch",
    "connected_components",
    "dup_clusters",
    "CmsSketch",
    "HllSketch",
    "KllQuantiles",
    "ShardedBloomSketch",
    "TDigestQuantiles",
    "asof_join",
    "funnel",
    "funnel_users",
    "profile_table",
    "ColumnProfile",
    "retention_cohorts",
    "bottom_k_by",
    "compact_files",
    "compaction_plan",
    "parquet_file_stats",
    "deletion_variants",
    "edit_distance_pairs",
    "flag_outliers",
    "pagerank",
    "pagerank_oracle_sql",
    "robust_group_fences",
    "robust_group_stats",
    "bottom_k_sample",
    "build_by_key",
    "build_multi",
    "build_multi_by_key",
    "build_sketch",
    "build_sketch_bytes",
    "collect_multi_bytes",
    "collect_sketch_bytes",
    "flat_ngram_hashes",
    "flatten_tokens",
    "frequency_cap",
    "pack_sequences",
    "temperature_rates",
    "temperature_sample",
    "merge_window_spans",
    "span_dedup_stats",
    "token_windows",
    "free",
    "kmv_distinct",
    "kmv_group_sketches",
    "kmv_overlap",
    "tie",
    "weighted_bottom_k",
    "learn_bpe_merges",
    "partition_sketches",
    "range_join",
    "salted_join",
    "session_stats",
    "sessionize",
    "tree_merge",
]
