"""Sources: deterministic generator invariance, format roundtrips,
catalog fallback."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rusty_bloomfilter_spark.sources import (
    load_sequences,
    load_table,
    sequences_from_documents,
    synthetic_sequences,
)


def test_synthetic_sequences_partition_invariant(spark):
    """The generation law is a pure function of the row id: any
    partition count yields identical rows (and therefore identical
    sketches — the bitwise merge invariance depends on this)."""
    a = synthetic_sequences(spark, 500, num_partitions=1).orderBy("doc_id").collect()
    b = synthetic_sequences(spark, 500, num_partitions=13).orderBy("doc_id").collect()
    assert len(a) == len(b) == 500
    for ra, rb in zip(a, b):
        assert ra["doc_id"] == rb["doc_id"]
        assert ra["tokens"] == rb["tokens"]
        assert ra["n_tok"] == rb["n_tok"] == len(ra["tokens"])
        assert ra["source"] == rb["source"]


def test_synthetic_sequences_skew(spark):
    pdf = synthetic_sequences(spark, 4000).groupBy("source").count().toPandas()
    frac = dict(zip(pdf["source"], pdf["count"] / pdf["count"].sum()))
    assert frac["cc"] == pytest.approx(0.62, abs=0.04)  # hot key for salting


def test_sequences_schema_matches_input_hint(spark):
    seq = sequences_from_documents(spark, "/root/testdata/sf0.001")
    assert seq.schema.simpleString() == (
        "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string>"
    )
    row = seq.first()
    assert row["n_tok"] == len(row["tokens"])


def test_json_and_csv_roundtrip(spark, tmp_path):
    """Sequences survive a JSON roundtrip; scalar projections survive
    CSV (csv has no array type — standard flatten-first pattern)."""
    seq = synthetic_sequences(spark, 200)
    jdir = str(tmp_path / "seq_json")
    seq.write.json(jdir)
    back = spark.read.schema(seq.schema).json(jdir)
    assert back.count() == 200
    a = {r["doc_id"]: r["tokens"] for r in seq.collect()}
    for r in back.collect():
        assert r["tokens"] == a[r["doc_id"]]

    cdir = str(tmp_path / "seq_csv")
    seq.select("doc_id", "n_tok", "source").write.option("header", True).csv(cdir)
    csv_back = spark.read.option("header", True).csv(cdir)
    assert csv_back.count() == 200


def test_load_sequences_falls_back_to_parquet(spark, tmp_path):
    p = str(tmp_path / "seqs.parquet")
    synthetic_sequences(spark, 50).write.parquet(p)
    df = load_sequences(spark, p)  # not a catalog table -> parquet path
    assert df.count() == 50


def test_per_row_token_array_equality_vs_oracle(spark):
    """input_hint invariant: per-row token-array equality — the Spark
    tokenizer reproduces the DuckDB oracle's token ids row by row."""
    import duckdb

    from rusty_bloomfilter_spark.functions import DUCKDB_TOKENIZE

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: list(r["tokens"])
        for r in sequences_from_documents(spark, sf).collect()
    }
    con = duckdb.connect()
    oracle = con.execute(
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, {DUCKDB_TOKENIZE('text')} AS tokens "
        f"FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()
    assert len(oracle) == len(got) > 0
    for doc_id, tokens in oracle:
        assert got[doc_id] == list(tokens), doc_id


def test_orc_roundtrip(spark, tmp_path):
    seq = synthetic_sequences(spark, 100)
    odir = str(tmp_path / "seq_orc")
    seq.write.orc(odir)
    back = spark.read.orc(odir)
    assert back.count() == 100
    a = {r["doc_id"]: r["tokens"] for r in seq.collect()}
    for r in back.collect():
        assert r["tokens"] == a[r["doc_id"]]


def test_load_sequences_catalog_branch(spark, sequences_pdf, tmp_path):
    """load_sequences resolves a catalog/temp-view name FIRST (the
    Iceberg production path: spark.read.table), and only falls back to
    parquet when table resolution fails."""
    from rusty_bloomfilter_spark.sources import load_sequences

    df = spark.createDataFrame(sequences_pdf.head(50))
    df.createOrReplaceTempView("seq_catalog_view")
    try:
        # catalog branch: read.table succeeds, no parquet attempted
        # (the name is not a valid path, so reversed ordering would fail)
        got = load_sequences(spark, "seq_catalog_view")
        assert got.count() == 50
        assert set(got.columns) == {"doc_id", "tokens", "n_tok", "source"}
    finally:
        spark.catalog.dropTempView("seq_catalog_view")

    # parquet fallback branch: not a table name -> path read
    p = str(tmp_path / "seq.parquet")
    df.write.parquet(p)
    got = load_sequences(spark, p)
    assert got.count() == 50


def test_load_sequences_table_tried_before_parquet(spark, monkeypatch):
    """Stubbed reader pins the fallback ORDER: table() first, parquet()
    only after table() raises."""
    from pyspark.sql import DataFrameReader

    from rusty_bloomfilter_spark.sources import load_sequences

    calls = []
    orig_table = DataFrameReader.table
    orig_parquet = DataFrameReader.parquet

    def fake_table(self, name):
        calls.append(("table", name))
        raise RuntimeError("no such catalog table")

    def fake_parquet(self, *paths):
        calls.append(("parquet", paths[0]))
        return spark.range(1)

    monkeypatch.setattr(DataFrameReader, "table", fake_table)
    monkeypatch.setattr(DataFrameReader, "parquet", fake_parquet)
    out = load_sequences(spark, "cat.db.sequences")
    assert calls == [("table", "cat.db.sequences"), ("parquet", "cat.db.sequences")]
    assert out.count() == 1
    monkeypatch.setattr(DataFrameReader, "table", orig_table)
    monkeypatch.setattr(DataFrameReader, "parquet", orig_parquet)


# -- JSONL ingest -----------------------------------------------------------


def test_read_jsonl_quarantines_corrupt_lines(spark, tmp_path):
    from rusty_bloomfilter_spark.sources import read_jsonl, split_corrupt

    p = tmp_path / "dump"
    p.mkdir()
    (p / "a.json").write_text(
        '{"doc_id": 1, "text": "hello", "n": 5}\n'
        '{"doc_id": 2, "text": "with \\"quotes\\" and \\n newline", "n": 27}\n'
        "this line is not json\n"
        '{"doc_id": 3, "text": "ok", "n": 2}\n'
        '{"doc_id": 4, "text": truncated\n'
    )
    raw = read_jsonl(spark, str(p), "doc_id bigint, text string, n bigint")
    good, bad = split_corrupt(raw)
    grows = {r["doc_id"]: r for r in good.collect()}
    assert set(grows) == {1, 2, 3}
    # JSON escape round trip is lossless
    assert grows[2]["text"] == 'with "quotes" and \n newline'
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 2
    assert "this line is not json" in bad_lines[0] + bad_lines[1]


def test_read_jsonl_missing_field_is_null_not_corrupt(spark, tmp_path):
    from rusty_bloomfilter_spark.sources import read_jsonl, split_corrupt

    p = tmp_path / "dump2"
    p.mkdir()
    (p / "a.json").write_text('{"doc_id": 7}\n')
    good, bad = split_corrupt(
        read_jsonl(spark, str(p), "doc_id bigint, text string")
    )
    rows = good.collect()
    assert bad.count() == 0
    assert rows[0]["doc_id"] == 7 and rows[0]["text"] is None


def test_read_jsonl_rejects_reserved_column(spark, tmp_path):
    import pytest

    from rusty_bloomfilter_spark.sources import read_jsonl

    with pytest.raises(ValueError, match="_corrupt_record"):
        read_jsonl(spark, str(tmp_path), "doc_id bigint, _corrupt_record string")


def test_split_corrupt_survives_free_and_eviction(spark, tmp_path):
    # review fix: the quarantine plan references data columns, so a
    # recompute after free() is LEGAL (SPARK-21610 forbids
    # corrupt-column-only plans), honoring the cache contract
    from rusty_bloomfilter_spark.operators.cache import free
    from rusty_bloomfilter_spark.sources import read_jsonl, split_corrupt

    p = tmp_path / "dump3"
    p.mkdir()
    (p / "a.json").write_text('{"doc_id": 1}\nbroken line\n')
    good, bad = split_corrupt(read_jsonl(spark, str(p), "doc_id bigint"))
    assert good.count() == 1
    free(good)  # unpersists the shared cache out from under `bad`
    rows = bad.collect()  # must recompute, not raise
    assert len(rows) == 1 and rows[0]["raw_line"] == "broken line"
    assert "doc_id" in bad.columns  # partially-parsed fields for triage


@pytest.mark.parametrize(
    "text, expected",
    [("4194304", 4 << 20), ("4m", 4 << 20), ("4mb", 4 << 20), ("1g", 1 << 30), ("8K", 8 << 10)],
)
def test_parse_byte_string(text, expected):
    from rusty_bloomfilter_spark.sources import _parse_byte_string

    assert _parse_byte_string(text) == expected


@pytest.mark.parametrize("text", ["", "m", "4x", "4mbb", "1.5g", "-1"])
def test_parse_byte_string_rejects_garbage(text):
    from rusty_bloomfilter_spark.sources import _parse_byte_string

    with pytest.raises(ValueError):
        _parse_byte_string(text)


def test_fan_out_small_scan_reads_suffixed_open_cost(spark, sequences_pdf, tmp_path):
    """A "4m" open cost is 4 MiB, not 4 bytes: a small one-split scan
    still fans out to the session's parallelism."""
    from rusty_bloomfilter_spark.sources import fan_out_small_scan

    path = str(tmp_path / "small")
    spark.createDataFrame(sequences_pdf).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", "4m")
    try:
        out = fan_out_small_scan(spark, df, path=path)
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
