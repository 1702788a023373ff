"""Checkpointable, resumable sketch builds.

The north rule requires batch jobs "resumable from per-partition
checkpoints with lineage + metrics". Spark has no native checkpointing
for batch aggregation state, so we define the unit of work as the
*input file* (deterministic across runs, unlike physical partition
ids): one sketch row per input file, persisted to a parquet checkpoint
directory. The rows come from the shared stage-1 fold
(``aggregate._fold``) keyed by ``input_file_name()``.

Resume reads the checkpoint once. Each scan partition drops the rows
whose file is not in the work-list (an Arrow array in the task
closure) and merges the rest with the shared Arrow row merge
(``aggregate.merge_rows``) into one partial sketch that also carries
its row counts and the files it covered. The driver collects the
partials over Arrow and merges them; the union of their files is the
done-list. A full resume is therefore one Spark job; a cold or partial
build adds its build-and-append job and a fold of just the rows it
appended. While the partials fit the driver budget
(``aggregate._merges_on_driver``, shared with the unkeyed builds) they
merge on the driver; above it they go through the distributed tree
merge (``tree_merge``) first. The partial count is bounded from the
checkpoint's part-file listing, so the scan is planned only once, by
the job itself.

At 100 TB scale this is the natural granularity: a file (or Iceberg
data file) is the retry/skip unit; the checkpoint table stays tiny
(one O(sketch_bytes) row per file) and the final merge reads only
sketch rows, never raw data.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass
from functools import partial

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import (
    MergeCol,
    MergePayloadsFn,
    UpdateFn,
    _fold,
    _merges_on_driver,
    merge_rows,
    tree_merge,
)

CKPT_SCHEMA = "file string, payload binary, n_items bigint, n_rows bigint"
_PARTIAL_SCHEMA = "payload binary, n_items bigint, n_rows bigint, files array<string>"


def _list_input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Deterministic work-list. Uses Spark's own file index so the
    lineage matches what the scan would read. The explicit schema
    skips the schema-inference job; only the listing is needed."""
    return sorted(spark.read.schema("_ int").parquet(input_path).inputFiles())


def _file_sketches(
    df: DataFrame,
    make_empty,
    update: UpdateFn,
    columns: list[str],
) -> DataFrame:
    """One sketch row per input file (``CKPT_SCHEMA``): the shared fold
    keyed by ``input_file_name()``. Partitions align with file splits,
    so a big file read as several splits yields several rows that merge
    later (the merge algebra makes split boundaries invisible)."""
    picked = df.select(F.input_file_name().alias("_file"), *columns)
    per_file = _fold(picked, [("sketch", make_empty, update, None)], key_col="_file")
    return per_file.select(
        F.col("key").alias("file"),
        F.col("payload_sketch").alias("payload"),
        F.col("n_sketch").alias("n_items"),
        "n_rows",
    )


@dataclass
class _Folded:
    payloads: list[bytes]
    n_items: int
    n_rows: int
    files: set[str]


def _fold_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    part_sizes: list[int],
    work: list[str],
    merge_payloads: MergePayloadsFn,
    empty,
    fanout: int,
) -> _Folded:
    """Fold the checkpoint rows of ``work``'s files in one read: one
    partial per scan partition, merged on the driver (or by
    ``tree_merge`` when the partials would exceed the driver budget).
    Rows of files outside ``work`` are ignored. ``part_sizes`` are the
    byte sizes of the checkpoint's parquet parts; they bound the scan
    partitions without planning the scan."""
    ckpt = spark.read.schema(CKPT_SCHEMA).parquet(ckpt_dir)
    n_parts = _max_scan_partitions(spark, part_sizes)
    wanted = pa.array(work, pa.string())

    plan = [MergeCol("payload", merge_payloads), MergeCol("n_items"), MergeCol("n_rows")]

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        files: set[str] = set()

        def in_work() -> Iterator[pa.RecordBatch]:
            for batch in batches:
                keep = pc.is_in(batch.column("file"), value_set=wanted)
                if keep.false_count:
                    batch = batch.filter(keep)
                files.update(batch.column("file").to_pylist())
                yield batch

        for row in merge_rows(in_work(), plan):
            yield row.append_column("files", pa.array([list(files)], pa.list_(pa.string())))

    folded = ckpt.mapInArrow(fold, schema=_PARTIAL_SCHEMA)
    if _merges_on_driver(n_parts, [empty]):
        table = folded.toArrow()
        payloads = table.column("payload").to_pylist()
    else:
        # cached so the counters and the tree merge share one fold
        folded.persist()
        try:
            table = folded.drop("payload").toArrow()
            merged = tree_merge(
                folded.select("payload", "n_items"), merge_payloads,
                fanout=fanout, n_parts=n_parts,
            ).collect()
        finally:
            folded.unpersist()
        payloads = [bytes(r["payload"]) for r in merged]
    return _Folded(
        payloads=payloads,
        n_items=sum(table.column("n_items").to_pylist()),
        n_rows=sum(table.column("n_rows").to_pylist()),
        files={f for fs in table.column("files").to_pylist() for f in fs},
    )


@dataclass
class CheckpointReport:
    total_files: int
    resumed_files: int
    built_files: int
    payload: bytes
    n_items: int
    n_rows: int

    def metrics(self) -> dict:
        return {
            "total_files": self.total_files,
            "resumed_files": self.resumed_files,
            "built_files": self.built_files,
            "n_items": self.n_items,
            "n_rows": self.n_rows,
            "sketch_bytes": len(self.payload),
        }


def build_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    ckpt_dir: str,
    make_empty,
    update: UpdateFn,
    merge_payloads: MergePayloadsFn,
    *,
    columns: list[str],
    fanout: int = 16,
) -> CheckpointReport:
    """Idempotent resumable build.

    1. work-list = input files, listed without a Spark job
    2. if ``ckpt_dir`` holds parquet parts, fold its rows for the
       work-list in one read; the files the fold covered are the
       done-list
    3. build sketches only for the missing files, append them to
       ``ckpt_dir``, and fold just those files' rows
    4. merge the folds' partials on the driver

    Rows of files outside the work-list are ignored. Partials merge on
    the driver while scan partitions x the sketch's largest payload
    stay within ``aggregate._DRIVER_MERGE_BYTES``; above it
    ``tree_merge`` (with ``fanout``) merges them first. Killing the job mid-build loses at most the
    in-flight files; rerunning skips everything already persisted.
    """
    files = _list_input_files(spark, input_path)
    empty = make_empty()
    fold = partial(
        _fold_checkpoint, spark, ckpt_dir, merge_payloads=merge_payloads,
        empty=empty, fanout=fanout,
    )
    folds: list[_Folded] = []
    parts = _ckpt_part_sizes(spark, ckpt_dir)
    if parts:
        folds.append(fold(parts, files))
    done = folds[0].files if folds else set()
    missing = [f for f in files if f not in done]

    if missing:
        part = _file_sketches(
            spark.read.parquet(*missing), make_empty, update, columns=columns
        )
        part.write.mode("append").parquet(ckpt_dir)
        folds.append(fold(_ckpt_part_sizes(spark, ckpt_dir), missing))

    payloads = [p for f in folds for p in f.payloads]
    return CheckpointReport(
        total_files=len(files),
        resumed_files=len(done),
        built_files=len(missing),
        payload=merge_payloads(payloads) if payloads else empty.to_bytes(),
        n_items=sum(f.n_items for f in folds),
        n_rows=sum(f.n_rows for f in folds),
    )


def _ckpt_part_sizes(spark: SparkSession, ckpt_dir: str) -> list[int]:
    """Byte sizes of the parquet parts in ``ckpt_dir`` (empty when it
    holds none), listed through the Hadoop FileSystem of its URI (so
    ``hdfs:``/``s3a:`` work too)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(ckpt_dir)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    parts = fs.globStatus(jvm.org.apache.hadoop.fs.Path(path, "*.parquet"))
    return [p.getLen() for p in parts] if parts is not None else []


def _max_scan_partitions(spark: SparkSession, part_sizes: list[int]) -> int:
    """Upper bound on the partitions of a scan of files this size: Spark
    never splits a file finer than min(maxPartitionBytes,
    openCostInBytes), and every scan partition holds at least one
    split."""
    conf = spark._jsparkSession.sessionState().conf()
    split = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
    return max(1, sum(-(-size // split) for size in part_sizes))
