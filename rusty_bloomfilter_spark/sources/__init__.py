"""Sources: parquet table loaders, the `sequences` view, and a
deterministic synthetic sequences generator.

The engine's primary input shape (BASELINE.json input_hint) is
``sequences(doc_id: string, tokens: array<int>, n_tok: int,
source: string)``. Two ways to obtain it:

- :func:`sequences_from_documents` derives it from the driver's
  `documents` table entirely JVM-side (cross-engine tokenizer, so
  DuckDB oracles can reproduce every token id).
- :func:`synthetic_sequences` generates it at arbitrary scale,
  distributed over ``spark.range`` with a pure function of the row id
  (partition-layout independent, no wall clock, no unseeded RNG) —
  used by the skew/scale tests and ``tools/scaling_bench.py``.

Iceberg note: at production scale the same `sequences` schema is read
via an Iceberg catalog (`spark.read.table("catalog.db.sequences")`);
the Iceberg runtime jar is not in this image, so :func:`load_sequences`
falls back from table-catalog reads to parquet paths.

Iceberg impossibility proof (round 4, re-verified): the image ships no
iceberg-spark-runtime jar (``ls /opt/spark/jars | grep -ci iceberg`` ->
0; a filesystem-wide find for ``*iceberg*`` matches nothing) and has no
network egress to vendor one (repo1.maven.org does not resolve:
``urlopen error [Errno -2] Name or service not known``), and installs
are disallowed. What IS exercised instead: (a) :func:`load_sequences`'s
catalog-first fallback order, and (b) a temp view resolved through
the SAME ``spark.read.table`` API an Iceberg catalog serves (both in
tests/test_sources.py). On a cluster with the jar present,
``spark.read.table("catalog.db.sequences")`` is the only line that
changes — plus snapshot pinning via
``spark.read.option("snapshot-id", ...).table(...)`` for resumable
re-reads, which the checkpoint plan (operators/checkpoint.py) is
designed around.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokenize_md5
from ..sketch.hashing import splitmix64

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SOURCES = ("cc", "github", "wiki", "books", "arxiv")
# Zipf-ish skew: cc is the hot key (~62 %) that exercises salting.
_SOURCE_CUM = np.array([62, 80, 90, 96, 100], dtype=np.uint64)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver test table (parquet; Catalyst handles pruning)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scan_bytes_under(path: str, cap: int) -> int | None:
    """Total bytes of a local file/dir, early-exiting once >= cap.
    None when the path isn't statable (remote FS -> caller falls back
    to the plan probe)."""
    from pathlib import Path as _P

    try:
        p = _P(path)
        if p.is_file():
            return p.stat().st_size
        if not p.is_dir():
            return None
        total = 0
        for f in p.rglob("*"):
            if f.is_file():
                total += f.stat().st_size
                if total >= cap:
                    return total
        return total
    except OSError:
        return None


_BYTE_SHIFTS = {
    "": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
    "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50,
}


def _parse_byte_string(value: str) -> int:
    """Bytes in a Spark byte-size string, read as Spark's own config
    parser reads it: a bare number is bytes, and k/m/g/t/p, each with
    an optional b, are binary powers ("4m" and "4mb" are 4 MiB)."""
    m = re.fullmatch(r"(\d+)([a-z]*)", value.strip().lower())
    if m is None or m.group(2) not in _BYTE_SHIFTS:
        raise ValueError(f"not a byte string: {value!r}")
    return int(m.group(1)) << _BYTE_SHIFTS[m.group(2)]


def fan_out_small_scan(
    spark: SparkSession, df: DataFrame, *, path: str | None = None
) -> DataFrame:
    """Scale-adaptive compute fan-out (optimization guide §2, r6): a
    small corpus arrives as 1-2 parquet splits, which pins every
    CPU-bound stage built on it (md5 tokenize, word aggregation) to
    1-2 cores. Repartition up to the session's default parallelism
    ONLY when the scan would have fewer splits; at real scale the scan
    already has >= cores splits and this returns the input unchanged
    (no Exchange added). Results are partitioning-independent (repo
    invariant), so the rewrite is value-neutral.

    The splits-below-cores test mirrors Spark's own file-split sizing:
    with openCostInBytes-floored splits, a scan lands below `cores`
    splits iff total bytes < cores * openCost. For a local ``path``
    that is a couple of stat() calls (early-exit walk); the plan-probe
    fallback (safe_partition_count, ~0.2s of driver work per call —
    measured) only runs for non-statable sources.
    """
    from ..operators.aggregate import safe_partition_count

    target = spark.sparkContext.defaultParallelism
    if path is not None:
        try:
            open_cost = _parse_byte_string(
                spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
            )
        except ValueError:
            open_cost = 4194304
        cap = target * open_cost
        got = _scan_bytes_under(path, cap)
        if got is not None:
            return df.repartition(target) if got < cap else df
    if safe_partition_count(df, default=target) < target:
        return df.repartition(target)
    return df


def sequences_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> sequences(doc_id, tokens, n_tok, source), all
    JVM-side (tokenize_md5 is Catalyst-codegen'd, DuckDB-reproducible).

    Tokenization is CPU-bound (one md5 per word): the scan is fanned
    out to the session cores first (measured r6: the sf1.0 tokenize
    pass alone went 2.7s -> ~0.5s; see fan_out_small_scan).
    """
    docs = fan_out_small_scan(
        spark,
        load_table(spark, sf_dir, "documents"),
        path=f"{sf_dir}/documents.parquet",
    )
    tokens = tokenize_md5(F.col("text"))
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).alias("n_tok"),
        F.col("source").alias("source"),
    )


def load_sequences(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Load a pre-tokenized sequences table: Iceberg/catalog table name
    if resolvable, else a parquet path."""
    try:
        return spark.read.table(path_or_table)
    except Exception:
        return spark.read.parquet(path_or_table)


# ---------------------------------------------------------------------------
# Deterministic synthetic sequences (FIXTURES.md §1, vectorized law)
# ---------------------------------------------------------------------------

_SEQ_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"


def _gen_batch(ids: np.ndarray, vocab: int, min_len: int, max_len: int) -> pd.DataFrame:
    """Rows for doc ids — pure vectorized function of the id (seed folded
    into the hash), so output is independent of partitioning."""
    ids_u = ids.astype(np.uint64)
    span = np.uint64(max_len - min_len)
    lengths = (splitmix64(ids_u * np.uint64(2) + np.uint64(1)) % span + np.uint64(min_len)).astype(
        np.int64
    )
    src_pick = splitmix64(ids_u * np.uint64(2) + np.uint64(7)) % np.uint64(100)
    src_idx = np.searchsorted(_SOURCE_CUM, src_pick, side="right")
    total = int(lengths.sum())
    # flat token ids: splitmix64(doc_id << 20 | position) % vocab
    row_rep = np.repeat(ids_u, lengths)
    pos = np.arange(total, dtype=np.uint64)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths).astype(np.uint64)
    offset = pos - starts
    with np.errstate(over="ignore"):
        flat = (splitmix64((row_rep << np.uint64(20)) | offset) % np.uint64(vocab)).astype(
            np.int32
        )
    bounds = np.cumsum(lengths)[:-1]
    tokens = np.split(flat, bounds)
    return pd.DataFrame(
        {
            "doc_id": np.char.add("doc-", np.char.zfill(ids.astype("U12"), 12)),
            "tokens": tokens,
            "n_tok": lengths.astype(np.int32),
            "source": np.array(SOURCES)[src_idx],
        }
    )


def synthetic_sequences(
    spark: SparkSession,
    n_rows: int,
    *,
    vocab: int = 50257,
    min_len: int = 8,
    max_len: int = 512,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic sequences table: same rows regardless
    of partition count (every column is a pure function of the row id)."""
    base = spark.range(0, n_rows, numPartitions=num_partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield _gen_batch(ids, vocab, min_len, max_len)

    return base.mapInPandas(gen, schema=_SEQ_SCHEMA)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    *,
    key: str,
    buckets: int,
    sort: bool = True,
) -> None:
    """Persist a table bucketed (and sorted) by the join key, so
    repeated joins/aggregations on that key run WITHOUT a shuffle: both
    sides of a bucketed equi-join are already co-partitioned on disk,
    and Spark's scan reports the bucket spec to the planner. The
    100 TB pattern for fact tables joined on the same key every day —
    pay one shuffle at write time, never again at read time.
    """
    w = df.write.mode("overwrite").option("path", path).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table registered by write_bucketed (bucket spec
    only survives via the catalog — a plain spark.read.parquet of the
    same files loses it and reintroduces the shuffle)."""
    return spark.read.table(table)


# ---------------------------------------------------------------------------
# JSONL ingest (the crawl-dump format a curation pipeline reads FIRST)
# ---------------------------------------------------------------------------


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    *,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema-EXPLICIT JSONL reader with corrupt-line quarantine.

    Crawl dumps arrive as JSON Lines, and the two defaults that work in
    a notebook are scale bugs at 100 TB: schema inference runs a whole
    extra pass over the corpus before the first real job, and the
    default PERMISSIVE mode silently NULLs every field of a malformed
    line — a parse failure becomes a plausible-looking empty document.
    This reader takes the schema as a contract (zero inference passes)
    and routes unparseable lines to ``corrupt_col`` so
    :func:`split_corrupt` can count and quarantine them loudly.

    Returns the raw frame INCLUDING the corrupt column; pass it to
    :func:`split_corrupt` to separate good rows from quarantined lines.
    """
    from pyspark.sql.types import StructType, StringType

    parsed = StructType.fromDDL(schema)
    if corrupt_col in parsed.fieldNames():
        raise ValueError(f"schema must not already contain {corrupt_col!r}")
    # build a FRESH StructType: StructType.add mutates in place, and a
    # cached schema object shared with a caller must not grow a column
    full = StructType(list(parsed.fields)).add(corrupt_col, StringType(), True)
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_corrupt(
    df: DataFrame, *, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(good_rows_without_corrupt_col, quarantine_frame).

    The quarantine frame carries ``raw_line`` (the unparsed text)
    FOLLOWED BY every partially-parsed data column — useful for triage
    (which fields survived?) and REQUIRED for the cache lifecycle: a
    corrupt-column-only plan is illegal to (re)compute on a raw JSON
    scan (SPARK-21610), so a quarantine frame that referenced nothing
    else would ERROR — not recompute — if its persist were freed or
    FIFO-evicted, violating cache.py's "recompute on use, never wrong
    results" contract. Referencing the data columns keeps every
    recompute legal.

    The frame is persisted and tied to both outputs so the corpus
    parses once for the two consumers; ``free()`` on either output
    (or FIFO eviction) downgrades the other to a legal recompute.
    """
    from ..operators.cache import tie

    cached = df.persist()
    data_cols = [c for c in df.columns if c != corrupt_col]
    good = cached.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = cached.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"), *data_cols
    )
    return tie(good, cached), tie(bad, cached)
