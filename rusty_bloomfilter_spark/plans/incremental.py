"""Cross-snapshot incremental dedup: filter a NEW corpus snapshot
against the fingerprint filter of everything already ingested.

The standing problem in training-data pipelines: snapshot V2 arrives
and most of it was already in V1 (recrawls, mirrors); exact-dedup of
V1 ∪ V2 rescans V1 (at 100 TB: rescans the world per snapshot). The
incremental shape instead keeps a SHARDED Bloom filter over the
fingerprints of everything seen so far — O(n_seen * bits/item) total,
partitioned so no task holds more than a shard — and each new snapshot
only scans ITSELF:

    fp(doc) = xxhash64(md5(text))      (64-bit content fingerprint)
    seen    = ShardedBloomSketch over all prior fps   (persisted frame)
    flags   = seen.flag_contained(new_fps)            (zero FN)
    novel   = new docs where NOT probably_seen
    seen'   = seen  OR  build(novel fps)              (shard-wise merge)

Zero false negatives: a true duplicate can never slip through. The
price is one-sided: a novel doc is wrongly dropped at the configured
false-positive rate p (choose p so p * snapshot_size is an acceptable
loss — 1e-6 drops ~1 doc per million). 64-bit fingerprint collisions
add ~n^2/2^65 more, negligible below billions of docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cache import tie
from ..operators.sharded import SHARDED_SCHEMA, ShardedBloomSketch


def _id_key(df: DataFrame, id_col: str):
    """int64 document key: numeric ids pass through exactly; any other
    type (string doc ids are the common case in crawl corpora) is keyed
    by xxhash64 of its string form — the probe frame needs an int64 id,
    and a raw cast("long") on strings either crashes (ANSI) or NULLs
    every id (non-ANSI) [round-4 review, CONFIRMED repro]. Collision
    odds 2^-64 per pair, far below the filter's own FPR."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[id_col].dataType
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return F.col(id_col).cast("long")
    return F.xxhash64(F.col(id_col).cast("string"))


def doc_fingerprints(
    docs: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """-> (doc_id, fp): 64-bit content fingerprint, pure Catalyst.
    ``doc_id`` is the int64 key from ``_id_key`` (hashed for non-numeric
    id columns)."""
    return docs.select(
        _id_key(docs, id_col).alias("doc_id"),
        F.xxhash64(F.md5(F.col(text_col))).alias("fp"),
    )


def merge_shard_frames(a: DataFrame, b: DataFrame) -> DataFrame:
    """Shard-wise OR of two sharded sketch frames (same n_shards and
    per-shard shape) -> one row per shard. Shares the single shard-merge
    function with ShardedBloomSketch.build."""
    from ..operators.sharded import merge_shard_group

    return a.unionByName(b).groupBy("shard").applyInArrow(
        merge_shard_group, SHARDED_SCHEMA
    )


def incremental_dedup(
    prev_docs: DataFrame,
    new_docs: DataFrame,
    *,
    expected_docs: int,
    p: float = 1e-6,
    n_shards: int = 16,
    routed: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """One snapshot step. Returns::

        {
          "sketch":  ShardedBloomSketch (reusable prober),
          "seen":    sharded sketch frame over prev fingerprints,
          "flags":   (doc_id, probably_seen) for every NEW doc
                     (doc_id is the int64 _id_key: the id itself for
                     numeric columns, xxhash64(id) for string ids),
          "novel":   new_docs rows not flagged (ready to ingest),
          "updated": seen OR novel-fps  (the frame to persist for V3),
        }

    ``expected_docs`` sizes the per-shard filters for the TOTAL corpus
    the frame will eventually hold (all snapshots), not one snapshot.
    In production the "seen" frame is written/read as parquet between
    snapshots (it is an ordinary (shard, payload, n_items) DataFrame).

    Lifecycle: ``seen`` is persisted (the probe cogroup and the merge
    both reference it) and tied to ``flags`` via operators.cache.tie,
    so the FIFO cap reclaims it even if the caller ignores the dict
    entry; callers wanting deterministic cleanup still call
    ``out["seen"].unpersist()`` (or ``free(out["flags"])``).
    """
    sk = ShardedBloomSketch(expected_docs, p, n_shards, col="fp", scalar=True)
    seen = sk.build(doc_fingerprints(prev_docs, text_col=text_col, id_col=id_col),
                    routed=routed).persist()
    new_fp = doc_fingerprints(new_docs, text_col=text_col, id_col=id_col)
    flags = tie(sk.flag_contained(new_fp, seen, id_col="doc_id"), seen)
    novel_ids = flags.filter(~F.col("probably_seen")).select(
        F.col("doc_id").alias("_novel_id")
    )
    novel = new_docs.join(
        novel_ids,
        on=_id_key(new_docs, id_col) == novel_ids["_novel_id"],
        how="left_semi",
    )
    novel_fp = doc_fingerprints(novel, text_col=text_col, id_col=id_col)
    updated = merge_shard_frames(seen, sk.build(novel_fp, routed=routed))
    return {"sketch": sk, "seen": seen, "flags": flags, "novel": novel, "updated": updated}
