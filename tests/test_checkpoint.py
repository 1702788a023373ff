"""Checkpoint/resume: idempotent rebuild, partial-failure resume,
bitwise-identical final sketch (SURVEY.md §5 integration plan)."""

import numpy as np
import pytest

from rusty_bloomfilter_spark.operators import aggregate, checkpoint
from rusty_bloomfilter_spark.operators.checkpoint import CKPT_SCHEMA, build_with_checkpoint
from rusty_bloomfilter_spark.operators.sketches import (
    BlockedBloomSketch,
    BloomSketch,
    flatten_tokens,
)
from rusty_bloomfilter_spark.sketch import (
    BlockedBloomFilter,
    BloomFilter,
    Shape,
    merge_payloads,
    merge_sketch_payloads,
)

SHAPE = Shape.for_np(n=100_000, p=1e-3)


@pytest.fixture(scope="module")
def seq_parquet(spark, sequences_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("seq") / "sequences")
    spark.createDataFrame(sequences_pdf).repartition(6).write.parquet(path)
    return path


def _build(spark, seq_parquet, ckpt_dir):
    sk = BloomSketch(SHAPE)
    return build_with_checkpoint(
        spark,
        seq_parquet,
        ckpt_dir,
        sk._empty,
        sk._update,
        merge_payloads,
        columns=["tokens"],
    )


def test_checkpoint_build_and_resume(spark, sequences_pdf, seq_parquet, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    r1 = _build(spark, seq_parquet, ckpt)
    assert r1.built_files > 0 and r1.resumed_files == 0

    oracle = BloomFilter.empty(SHAPE).add_tokens(
        np.concatenate(list(sequences_pdf["tokens"]))
    )
    assert BloomFilter.from_bytes(r1.payload).words.tobytes() == oracle.words.tobytes()
    assert r1.n_items == oracle.n_items
    assert r1.n_rows == len(sequences_pdf)

    # full resume: nothing rebuilt, identical bytes
    r2 = _build(spark, seq_parquet, ckpt)
    assert r2.built_files == 0
    assert r2.resumed_files == r1.total_files
    assert r2.payload == r1.payload and r2.n_items == r1.n_items
    assert r2.n_rows == len(sequences_pdf)


def test_checkpoint_partial_failure_resume(spark, sequences_pdf, seq_parquet, tmp_path):
    """Simulate a crash that persisted only some files' sketches: drop
    half the checkpoint rows, rerun, final sketch must be identical."""
    ckpt = str(tmp_path / "ckpt2")
    r1 = _build(spark, seq_parquet, ckpt)

    ckpt_df = spark.read.parquet(ckpt)
    files = sorted(r["file"] for r in ckpt_df.select("file").distinct().collect())
    kept = files[: len(files) // 2]
    partial = str(tmp_path / "ckpt2_partial")
    ckpt_df.filter(ckpt_df.file.isin(kept)).write.parquet(partial)

    r2 = _build(spark, seq_parquet, partial)
    assert r2.resumed_files == len(kept)
    assert r2.built_files == r1.total_files - len(kept)
    assert r2.payload == r1.payload
    assert r2.n_items == r1.n_items
    assert r2.metrics()["sketch_bytes"] == len(r1.payload)
    assert r2.n_rows == r2.metrics()["n_rows"] == len(sequences_pdf)


def test_checkpoint_file_uri_resume(spark, sequences_pdf, seq_parquet, tmp_path):
    """A URI checkpoint dir is seen through the Hadoop FileSystem: the
    rerun resumes instead of appending a duplicate set of rows."""
    ckpt = (tmp_path / "ckpt_uri").as_uri()
    r1 = _build(spark, seq_parquet, ckpt)
    assert r1.built_files == r1.total_files > 0
    r2 = _build(spark, seq_parquet, ckpt)
    assert r2.built_files == 0 and r2.resumed_files == r1.total_files
    assert r2.payload == r1.payload and r2.n_items == r1.n_items
    assert r2.n_rows == len(sequences_pdf)


def test_ckpt_exists_needs_parquet_parts(spark, tmp_path):
    assert checkpoint._ckpt_part_sizes(spark, str(tmp_path / "absent")) == []
    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / "_SUCCESS").write_bytes(b"")
    assert checkpoint._ckpt_part_sizes(spark, str(tmp_path / "empty")) == []
    assert checkpoint._ckpt_part_sizes(spark, (tmp_path / "empty").as_uri()) == []


def test_scan_partition_bound_covers_the_scan(spark, seq_parquet, tmp_path):
    """The resume sizes its merge from the part listing, not by planning
    the scan; the bound must never undercount the scan's partitions,
    also when Spark splits the parts into small chunks."""
    ckpt = str(tmp_path / "ckpt_bound")
    _build(spark, seq_parquet, ckpt)
    sizes = checkpoint._ckpt_part_sizes(spark, ckpt)
    parts = sorted((tmp_path / "ckpt_bound").glob("*.parquet"))
    assert sorted(sizes) == sorted(p.stat().st_size for p in parts) and sizes
    for max_bytes in ("128MB", "4KB"):
        spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
        try:
            scan = spark.read.schema(CKPT_SCHEMA).parquet(ckpt).rdd.getNumPartitions()
            assert checkpoint._max_scan_partitions(spark, sizes) >= scan
        finally:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert checkpoint._max_scan_partitions(spark, []) == 1


def test_full_resume_is_one_spark_job(spark, seq_parquet, tmp_path):
    ckpt = str(tmp_path / "ckpt_jobs")
    r1 = _build(spark, seq_parquet, ckpt)
    sc = spark.sparkContext
    group = "test_checkpoint.full_resume"
    sc.setJobGroup(group, "full checkpoint resume")
    try:
        r2 = _build(spark, seq_parquet, ckpt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert r2.built_files == 0 and r2.payload == r1.payload
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_tree_merge_route_matches_driver_route(spark, sequences_pdf, seq_parquet, tmp_path, monkeypatch):
    """Past the driver budget the partials go through tree_merge; the
    bytes and counts must not depend on the route."""
    ckpt = str(tmp_path / "ckpt_tree")
    r1 = _build(spark, seq_parquet, ckpt)
    real, calls = checkpoint.tree_merge, []

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "tree_merge", spy)
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)
    r2 = _build(spark, seq_parquet, ckpt)
    assert calls, "tree_merge route not taken"
    assert r2.built_files == 0 and r2.resumed_files == r1.total_files
    assert r2.payload == r1.payload and r2.n_items == r1.n_items
    assert r2.n_rows == len(sequences_pdf)


def test_driver_budget_counts_dense_growth(monkeypatch):
    """An empty classic-Bloom accumulator serializes sparse (a few
    bytes), but a built one reaches the dense word array: the driver
    budget must count the latter."""
    empty = BloomSketch(SHAPE)._empty()
    full = BloomFilter(SHAPE, np.full(SHAPE.number_of_buckets(), ~np.uint64(0)))
    dense = len(full.to_bytes())
    assert len(empty.to_bytes()) < SHAPE.number_of_bytes() < dense
    assert empty.max_payload_bytes() == dense
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 2 * dense)
    assert aggregate._merges_on_driver(2, [empty])
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 2 * dense - 1)
    assert not aggregate._merges_on_driver(2, [empty])


def test_rows_outside_worklist_are_ignored(spark, sequences_pdf, seq_parquet, tmp_path):
    ckpt = str(tmp_path / "ckpt_foreign")
    r1 = _build(spark, seq_parquet, ckpt)
    foreign = BloomFilter.empty(SHAPE).add_tokens(np.arange(60_000, 61_000, dtype=np.int32))
    spark.createDataFrame(
        [("file:/elsewhere/not-an-input.parquet", foreign.to_bytes(), foreign.n_items, 7)],
        CKPT_SCHEMA,
    ).write.mode("append").parquet(ckpt)
    r2 = _build(spark, seq_parquet, ckpt)
    assert r2.built_files == 0 and r2.resumed_files == r1.total_files
    assert r2.payload == r1.payload and r2.n_items == r1.n_items
    assert r2.n_rows == len(sequences_pdf)


def test_sparse_blocked_rows_resume_to_the_plain_build(spark, sequences_pdf, seq_parquet, tmp_path):
    """A blocked filter sized well above one file's tokens writes its
    per-file checkpoint rows in the sparse (v2) layout; the cold build,
    the resume and ``build_bytes`` still give the same payload and
    n_items, and a resume is still one Spark job."""
    sk = BlockedBloomSketch.for_np(n=2_000_000, p=1e-3)
    ckpt = str(tmp_path / "ckpt_sparse")

    def build():
        return build_with_checkpoint(
            spark, seq_parquet, ckpt, sk._empty, sk._update, merge_sketch_payloads,
            columns=["tokens"],
        )

    cold = build()
    rows = spark.read.parquet(ckpt).collect()
    assert len(rows) >= cold.total_files > 1
    for r in rows:
        raw = bytes(r["payload"])
        assert raw[4] == 2 and len(raw) < sk.proto.max_payload_bytes()
    sc = spark.sparkContext
    group = "test_checkpoint.sparse_resume"
    sc.setJobGroup(group, "sparse checkpoint resume")
    try:
        warm = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    plain, n_items = sk.build_bytes(spark.read.parquet(seq_parquet))
    assert warm.built_files == 0 and warm.resumed_files == cold.total_files
    assert cold.payload == warm.payload == plain
    assert cold.n_items == warm.n_items == n_items == sum(len(t) for t in sequences_pdf["tokens"])
    assert plain[4] == 2
    oracle = BlockedBloomFilter(sk.n_blocks).add_tokens(np.concatenate(list(sequences_pdf["tokens"])))
    assert BlockedBloomFilter.from_bytes(plain) == oracle
