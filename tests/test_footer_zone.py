"""Footer-statistics zone index: parity with the scan-built index."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def layout(spark):
    """orders-like table laid out range-partitioned across 8 files."""
    df = spark.range(0, 20_000).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 97).alias("o_custkey"),
        (F.col("id") % 1000 + 0.25).alias("o_totalprice"),
        F.when(F.col("id") % 500 == 0, None)
        .otherwise(F.col("id") * 3)
        .alias("nullable_key"),
        F.concat(F.lit("name-"), F.col("id")).alias("o_name"),
    )
    path = tempfile.mkdtemp(prefix="footer_zone_")
    df.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(path)
    yield path
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def _index_rows(idx):
    return sorted(
        (r["file"], r["lo"], r["hi"], r["n_nulls"], r["n_rows"]) for r in idx.collect()
    )


def test_footer_index_equals_scan_index(spark, layout):
    from rusty_bloomfilter_spark.operators.zonemap import (
        zone_index_from_footers,
        zone_map_index,
    )

    laid = spark.read.parquet(layout)
    scan_idx = _index_rows(zone_map_index(laid, col="o_orderkey"))
    foot_idx = _index_rows(zone_index_from_footers(spark, layout, col="o_orderkey"))
    assert foot_idx == scan_idx and len(foot_idx) == 8


def test_footer_index_nullable_column(spark, layout):
    from rusty_bloomfilter_spark.operators.zonemap import (
        zone_index_from_footers,
        zone_map_index,
    )

    laid = spark.read.parquet(layout)
    scan_idx = _index_rows(zone_map_index(laid, col="nullable_key"))
    foot_idx = _index_rows(zone_index_from_footers(spark, layout, col="nullable_key"))
    assert foot_idx == scan_idx


def test_footer_index_prunes_identically(spark, layout):
    from rusty_bloomfilter_spark.operators.zonemap import (
        zone_index_from_footers,
        zone_pruned_read,
    )

    idx = zone_index_from_footers(spark, layout, col="o_orderkey")
    rows, files_read = zone_pruned_read(
        spark, layout, idx, col="o_orderkey", lower=5_000, upper=9_999
    )
    assert 0 < files_read < 8
    full = (
        spark.read.parquet(layout)
        .filter(F.col("o_orderkey").between(5_000, 9_999))
        .count()
    )
    assert rows.count() == full == 5_000


def test_missing_column_and_string_guard(spark, layout):
    from rusty_bloomfilter_spark.operators.zonemap import zone_index_from_footers

    with pytest.raises(Exception) as ei:
        zone_index_from_footers(spark, layout, col="no_such_col").collect()
    assert "not found" in str(ei.value)
    with pytest.raises(Exception) as ei:
        zone_index_from_footers(spark, layout, col="o_name").collect()
    assert "truncated" in str(ei.value) or "NotImplementedError" in str(ei.value)


def test_empty_dir_raises(spark):
    from rusty_bloomfilter_spark.operators.zonemap import zone_index_from_footers

    with pytest.raises(ValueError):
        zone_index_from_footers(spark, tempfile.mkdtemp(), col="x")


# -- storage_profile --------------------------------------------------------


def test_storage_profile_matches_pyarrow_truth(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.zonemap import storage_profile

    d = str(tmp_path / "sp")
    spark.range(0, 20_000).select(
        F.col("id").alias("a"),
        (F.col("id") % 7).alias("b"),
        F.md5(F.col("id").cast("string")).alias("c"),
    ).repartition(3).write.mode("overwrite").parquet(d)
    got = {r["column_name"]: r for r in storage_profile(spark, d).collect()}
    assert set(got) == {"a", "b", "c"}
    # independent truth: fold the footers with pyarrow directly
    import glob

    want = {}
    for f in glob.glob(d + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                w = want.setdefault(c.path_in_schema, [0, 0, 0])
                w[0] += c.total_compressed_size
                w[1] += c.total_uncompressed_size
                w[2] += c.num_values
    for name, (comp, uncomp, nvals) in want.items():
        r = got[name]
        assert r["compressed_bytes"] == comp
        assert r["uncompressed_bytes"] == uncomp
        assert r["n_values"] == nvals == 20_000
    # repeated md5 strings compress worse than the sequential id column
    assert got["c"]["compression_ratio"] < got["a"]["compression_ratio"]


def test_storage_profile_single_file_and_missing(spark, tmp_path):
    import glob

    import pytest
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.zonemap import storage_profile

    d = str(tmp_path / "single")
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(d)
    (f,) = glob.glob(d + "/part-*.parquet")
    got = storage_profile(spark, f).collect()
    assert len(got) == 1 and got[0]["n_values"] == 10
    with pytest.raises(ValueError, match="no parquet"):
        storage_profile(spark, str(tmp_path / "nope"))


def test_storage_profile_hive_partitioned_tree(spark, tmp_path):
    # review fix: recursive part-file discovery — a partitionBy
    # layout must be profileable too
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.zonemap import storage_profile

    d = str(tmp_path / "hive")
    spark.range(0, 1000).select(
        (F.col("id") % 3).cast("string").alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").partitionBy("k").parquet(d)
    got = {r["column_name"]: r for r in storage_profile(spark, d).collect()}
    assert got["v"]["n_values"] == 1000  # all three partitions folded
