"""Bloom-indexed file pruning: skip parquet files that cannot contain
any probe key.

The 100-TB point-lookup pattern: a corpus lands as many parquet files;
a per-FILE Bloom filter over the lookup key (one tiny sketch row per
file, built in one corpus pass and stored next to the data, exactly
like Iceberg/parquet row-group Bloom metadata — but user-controlled
and mergeable) lets a probe read ONLY the files whose filter might
contain a key. Zero false negatives make the pruned scan's output
provably equal to the full scan's; false positives only cost extra
files, bounded by the configured p per file.

Reuses the per-file sketch machinery the resumable checkpoint build
already has (operators/checkpoint.py::_file_sketches) — the index IS a
checkpoint-shaped frame (file, payload, n_items, n_rows), so it can be
parqueted, unioned across snapshots, and OR-merged per file on
compaction.

Reference semantics: `contains` zero-FN contract
(/root/reference/src/bloomfilter/mod.rs:199-228); the file-pruning
composition is ours (no reference analogue — it has no I/O).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketch import Shape
from .checkpoint import CKPT_SCHEMA, _file_sketches
from .sketches import BloomSketch


def bloom_file_index(
    df: DataFrame,
    shape: Shape,
    *,
    key_col: str,
) -> DataFrame:
    """One Bloom-sketch row per input parquet file over an integral
    ``key_col`` -> (file, payload, n_items, n_rows).

    ``df`` must come straight from a file source (input_file_name()
    must be non-empty). ``shape`` sizes the per-file filter: n ≈ the
    expected keys per file. String ids: add an integral key column at
    write time (e.g. xxhash64) and probe with the same values — the
    index never sees raw strings.
    """
    sk = BloomSketch(shape, col=key_col, scalar=True)
    return _file_sketches(df, sk._empty, sk._update, columns=[key_col])


def xor_file_index(df: DataFrame, *, key_col: str) -> DataFrame:
    """One STATIC xor-filter row per input parquet file over an integral
    ``key_col`` -> (file, payload, n_items, n_rows) — same index schema
    as ``bloom_file_index``, so ``prune_files``/``bloom_pruned_read``
    work unchanged (magic-dispatch deserialization), at ~19.7 bits/key
    with FPR exactly 2^-16 vs the Bloom row's 1.44·log2(1/p) bits/key.

    Cost model (honest): xor filters are built from the COMPLETE key
    set, so this shuffles (file, key) rows once — one keys-only hash
    exchange, then one build task per file (a file's distinct keys must
    fit a task, the same bound as the sharded routed build). The Bloom
    index builds map-side with no row shuffle; pick xor when the index
    is written once and probed often (smaller artifact, flat 3-probe
    lookups), Bloom when index build cost or mergeability dominates.
    Files are never merged — re-layouts rebuild their rows (the static
    contract; XorFilter.merge_in_place raises).
    """
    picked = df.select(
        F.input_file_name().alias("file"), F.col(key_col).alias("key")
    )

    def build(table):
        import pyarrow as pa

        from ..sketch import XorFilter

        fname = _checked_file_name(table.column("file")[0].as_py())
        keys = table.column("key")
        if keys.null_count:
            raise ValueError(
                f"xor_file_index: NULL {fname} keys cannot be indexed — "
                "fill or filter key NULLs before indexing"
            )
        v = keys.combine_chunks().to_numpy(zero_copy_only=False).astype(np.int64)
        filt = XorFilter.build_tokens(v)
        return pa.table(
            {
                "file": pa.array([fname], type=pa.string()),
                "payload": pa.array([filt.to_bytes()], type=pa.binary()),
                "n_items": pa.array([filt.n_items], type=pa.int64()),
                "n_rows": pa.array([table.num_rows], type=pa.int64()),
            }
        )

    return picked.groupBy("file").applyInArrow(build, CKPT_SCHEMA)


def _checked_file_name(name) -> str:
    """Fail loud where the mistake is: an empty file name means the
    indexed DataFrame was not straight from a file source
    (input_file_name() returns '' after a shuffle/join or on an
    in-memory frame) — downstream it would surface as an opaque Hadoop
    'Can not create a Path from an empty string' at probe time."""
    name = str(name)
    if not name:
        raise ValueError(
            "index row with empty file name: bloom_file_index input must "
            "come straight from a file source (input_file_name() was '')"
        )
    return name


def compact_index(*indexes: DataFrame) -> DataFrame:
    """Union index snapshots and OR-merge per FILE -> one row per file.

    Two sources of multi-row files: a big file read as several splits
    (several rows in ONE snapshot), and the same file re-indexed across
    snapshots. The merge algebra (associative/commutative OR, canonical
    bytes) makes both collapse to the sketch of the file's full
    contents. n_items/n_rows add INSERT counts — exact when the rows
    cover disjoint slices (splits, partial builds); re-indexing the
    same content double-counts them but leaves the bits (and therefore
    pruning decisions and estimate_n-from-popcount) unchanged.
    Shuffle is one hash exchange on `file` over SKETCH rows only.
    """
    if not indexes:
        raise ValueError("compact_index needs at least one index frame")

    from ..sketch import merge_sketch_payloads
    from .aggregate import MergeCol, group_merge

    merge_group = group_merge([
        MergeCol("file", key=True),
        MergeCol("payload", merge_sketch_payloads),
        MergeCol("n_items"),
        MergeCol("n_rows"),
    ])

    def merge_file_group(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for row in merge_group(batches):
            _checked_file_name(row.column("file")[0].as_py())
            yield row

    unioned = indexes[0]
    for extra in indexes[1:]:
        unioned = unioned.unionByName(extra)
    return unioned.groupBy("file").applyInArrow(merge_file_group, CKPT_SCHEMA)


def prune_files(index: DataFrame, keys: Sequence[int]) -> list[str]:
    """Files whose filter might contain ANY of ``keys`` (zero FN: every
    file that truly holds a key survives; FPs add files at rate ≤ p
    each). The probe runs DISTRIBUTED over the index frame — at 100k+
    files the payload column is GBs and must never be collected; only
    the matching file NAMES (tiny) come back to the driver."""
    probe = np.asarray(list(keys), dtype=np.int64)
    if probe.size == 0:
        return []

    def hit(batches):
        import pyarrow as pa

        from ..sketch import sketch_from_bytes

        for batch in batches:
            files = [_checked_file_name(f) for f in batch.column("file").to_pylist()]
            payloads = batch.column("payload").to_pylist()
            kept = [
                f
                for f, p in zip(files, payloads)
                if sketch_from_bytes(bytes(p)).contains_tokens(probe).any()
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(kept, type=pa.string())], names=["file"]
            )

    rows = index.select("file", "payload").mapInArrow(hit, schema="file string").collect()
    # a file read as several splits has several index rows (checkpoint.py
    # _file_sketches contract) — dedup so the pruned read never lists a
    # file twice (parquet(*files) would duplicate its rows)
    return sorted({r["file"] for r in rows})


def bloom_pruned_read(
    spark: SparkSession,
    input_path: str,
    index: DataFrame,
    keys: Sequence[int],
    *,
    key_col: str,
) -> tuple[DataFrame, int]:
    """Point-lookup via the file index: read only the files that might
    contain a key, then filter exactly. Returns (rows, files_read);
    the rows are IDENTICAL to a full-scan ``key_col IN keys`` filter
    (zero FN), with files_read ≤ total files (usually ≪).
    """
    files = prune_files(index, keys)
    key_list = [int(k) for k in keys]
    if not files:
        empty = spark.read.parquet(input_path).filter(F.lit(False))
        return empty, 0
    # basePath keeps hive-partition columns (input_path/date=.../x.parquet)
    # in the schema of a leaf-file read, so both return branches of this
    # function — and the pruned vs full scan — have identical schemas
    rows = (
        spark.read.option("basePath", input_path)
        .parquet(*files)
        .filter(F.col(key_col).isin(key_list))
    )
    return rows, len(files)
