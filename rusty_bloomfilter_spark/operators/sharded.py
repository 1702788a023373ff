"""Sharded Bloom filter: membership at filter sizes no single task
could hold.

The north rule targets 10^12-sequence corpora. A single Bloom filter
for 10^12 distinct items at p=1e-4 is ~2.2 TB of bits — no executor
(or driver broadcast) can hold it. The standard scale-out is hash
sharding: route every token by an independent 64-bit hash into one of
S shards, keep one correctly-sized filter per shard
(n_per_shard = n_total/S), and make BOTH build and probe route by the
same hash:

- build, two plans with an explicit memory/shuffle trade:
  * map-side combine (``routed=False``): each input partition folds
    its tokens into local shard accumulators and a groupBy(shard)
    merge ORs the partials. Zero row shuffle — but uniform hashing
    means every partition touches every shard, so a task holds ALL S
    shard filters (the full filter size). Right only when the total
    filter fits a task: it parallelizes the merge, nothing more.
  * routed (``routed=True``): token hashes shuffle ONCE by shard
    (narrow (shard, h) rows, 12 bytes each) into shard-hash-partitioned
    tasks, and each task folds ONLY the shards that land in it
    (~S/P shards): per-task filter memory = total/(P) — THE plan for
    filters bigger than any executor. No second merge: a shard's rows
    all land in one partition, so the partition's accumulators are
    final.
- probe: tokens shuffle ONCE by shard (same narrow rows) and cogroup
  against the sketch frame — each task decodes exactly one shard's
  filter. Broadcasting the whole filter set would be the same TBs as
  the unsharded filter; the shuffle-by-shard is the only probe plan
  that scales past executor memory.

Zero false negatives survive sharding (a token probes the shard it was
inserted into — same routing hash); the FPR of each shard follows its
own shape, so the configured p holds globally. The routing hash
(splitmix64 of token XOR a fixed salt) is independent of the filter's
K-M index hashes, so shard membership doesn't bias within-shard bit
positions.

Merge algebra is shard-wise OR: two sharded builds with the same
(S, shape) merge by unioning their sketch frames and re-merging per
shard — associative/commutative like every sketch here.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sketch import BlockedBloomFilter, merge_sketch_payloads, sketch_from_bytes
from ..sketch.hashing import splitmix64
from .aggregate import MergeCol, group_merge
from .sketches import arrow_flat_tokens, flat_ngram_hashes

SHARD_SALT = np.uint64(0xA076_1D64_78BD_642F)  # splitmix64 increment constant

SHARDED_SCHEMA = "shard int, payload binary, n_items bigint"


# OR-merge sketch rows sharing one shard id -> one row, for
# groupBy("shard").applyInArrow. THE shard-wise merge: the build fan-in
# (ShardedBloomSketch.build) and the cross-snapshot union
# (plans/incremental.merge_shard_frames) both go through it, and its
# body is aggregate.merge_rows, the merge every build shares.
merge_shard_group = group_merge(
    [MergeCol("shard", key=True), MergeCol("payload", merge_sketch_payloads), MergeCol("n_items")]
)


def shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Routing hash, independent of the filter's index hashes: one
    extra splitmix64 mix of the token hash XOR a fixed salt."""
    return (splitmix64(hashes ^ SHARD_SALT) % np.uint64(n_shards)).astype(np.int64)


class ShardedBloomSketch:
    """S independent blocked Bloom filters keyed by token-hash shard.

    ``n_total`` is the expected TOTAL distinct count; each shard is
    sized for n_total/n_shards (hash routing is uniform, so per-shard
    load concentrates tightly around the mean — at n/S >= 10^6 the
    imbalance is < 1%).
    """

    def __init__(
        self,
        n_total: int,
        p: float,
        n_shards: int,
        *,
        col: str = "tokens",
        ngram: int = 1,
        scalar: bool = False,
    ):
        if n_shards < 1:
            raise ValueError(f"n_shards must be >= 1, got {n_shards}")
        if scalar and ngram != 1:
            raise ValueError("ngram applies to array columns only")
        self.n_shards = int(n_shards)
        self.p = float(p)
        self.n_per_shard = max(1, int(np.ceil(n_total / n_shards)))
        self.col = col
        self.ngram = int(ngram)
        self.scalar = bool(scalar)

    def _empty(self) -> BlockedBloomFilter:
        return BlockedBloomFilter.for_np(n=self.n_per_shard, p=self.p)

    def _flat_hashes(self, batch) -> np.ndarray:
        """Fully-mixed uint64 hashes of every item: each within-row
        n-gram of an array column (ngram=1: splitmix64 per token), or
        each value of a scalar int64 column — the form add_hashes/
        contains_hashes expect."""
        from .sketches import _scalar_values, arrow_row_lengths

        if self.scalar:
            vals = _scalar_values(batch, self.col)
            if vals.size == 0:
                return np.empty(0, dtype=np.uint64)
            return splitmix64(vals.view(np.uint64))
        flat = arrow_flat_tokens(batch, self.col)
        lengths = arrow_row_lengths(batch, self.col)
        return flat_ngram_hashes(flat, lengths, self.ngram)

    # -- build ---------------------------------------------------------

    def build(
        self, df: DataFrame, *, routed: bool = False, shuffle_partitions: int | None = None
    ) -> DataFrame:
        """-> (shard, payload, n_items), one row per shard.

        ``routed=False`` (map-side combine): per-partition fold (sort +
        segment slice, no per-token Python) then groupBy(shard) merge —
        zero row shuffle, but each task holds all S shard accumulators;
        use when the TOTAL filter fits a task.
        ``routed=True``: shuffle narrow (shard, h) rows by shard first,
        fold inside the shard-partitioned tasks — per-task memory is
        one partition's share of the filter; use when it doesn't.
        """
        if routed:
            return self._build_routed(df, shuffle_partitions)
        n_shards = self.n_shards
        make_empty = self._empty
        flat_hashes = self._flat_hashes

        def build_partition(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            accs: dict[int, BlockedBloomFilter] = {}
            for batch in batches:
                h = flat_hashes(batch)
                if not h.size:
                    continue
                shards = shard_of(h, n_shards)
                order = np.argsort(shards, kind="stable")
                sh = shards[order]
                hh = h[order]
                starts = np.concatenate(([0], np.flatnonzero(sh[1:] != sh[:-1]) + 1))
                bounds = np.concatenate((starts, [len(sh)]))
                for i, s in enumerate(sh[starts]):
                    acc = accs.get(int(s))
                    if acc is None:
                        acc = accs[int(s)] = make_empty()
                    acc.add_hashes(hh[bounds[i] : bounds[i + 1]])
            if accs:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(list(accs.keys()), type=pa.int32()),
                        pa.array([a.to_bytes() for a in accs.values()], type=pa.binary()),
                        pa.array([a.n_items for a in accs.values()], type=pa.int64()),
                    ],
                    names=["shard", "payload", "n_items"],
                )

        partial = df.select(self.col).mapInArrow(build_partition, schema=SHARDED_SCHEMA)
        return partial.groupBy("shard").applyInArrow(merge_shard_group, SHARDED_SCHEMA)

    def _hash_rows(self, df: DataFrame, *, with_counts: bool = False) -> DataFrame:
        """(shard, h) per token — the narrow routing frame both the
        routed build and the probe shuffle.

        ``with_counts=True`` (build path only): map-side dedup — each
        Arrow batch emits its DISTINCT hashes plus their multiplicity
        (shard, h, cnt). Bloom insertion is idempotent, so dropping
        duplicate hashes before the shuffle changes nothing about the
        filter while cutting shuffled rows by the batch's repeat factor
        (~10x on zipf-ish token streams whose batch size exceeds the
        vocabulary); cnt preserves exact n_items accounting. NOT used
        for probes — probe counts are per-occurrence semantics."""
        n_shards = self.n_shards
        flat_hashes = self._flat_hashes

        def rows(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            for batch in batches:
                h = flat_hashes(batch)
                if not h.size:
                    continue
                if with_counts:
                    h, cnt = np.unique(h, return_counts=True)
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(shard_of(h, n_shards), type=pa.int32()),
                            pa.array(h.view(np.int64), type=pa.int64()),
                            pa.array(cnt.astype(np.int64), type=pa.int64()),
                        ],
                        names=["shard", "h", "cnt"],
                    )
                else:
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(shard_of(h, n_shards), type=pa.int32()),
                            pa.array(h.view(np.int64), type=pa.int64()),
                        ],
                        names=["shard", "h"],
                    )

        schema = "shard int, h bigint, cnt bigint" if with_counts else "shard int, h bigint"
        return df.select(self.col).mapInArrow(rows, schema=schema)

    def _build_routed(self, df: DataFrame, shuffle_partitions: int | None) -> DataFrame:
        make_empty = self._empty
        n_parts = int(shuffle_partitions or self.n_shards)
        routedf = self._hash_rows(df, with_counts=True).repartition(n_parts, "shard")

        def fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            accs: dict[int, BlockedBloomFilter] = {}
            items: dict[int, int] = {}
            for batch in batches:
                sh = batch.column("shard").to_numpy(zero_copy_only=False)
                h = batch.column("h").to_numpy(zero_copy_only=False).view(np.uint64)
                cnt = batch.column("cnt").to_numpy(zero_copy_only=False)
                order = np.argsort(sh, kind="stable")
                ss = sh[order]
                hh = h[order]
                cc = cnt[order]
                starts = np.concatenate(([0], np.flatnonzero(ss[1:] != ss[:-1]) + 1))
                bounds = np.concatenate((starts, [len(ss)]))
                for i, s in enumerate(ss[starts]):
                    s = int(s)
                    acc = accs.get(s)
                    if acc is None:
                        acc = accs[s] = make_empty()
                        items[s] = 0
                    seg_items = int(cc[bounds[i] : bounds[i + 1]].sum())
                    acc.add_hashes(hh[bounds[i] : bounds[i + 1]])
                    # n_items = TOKEN insertions (pre-dedup): correct the
                    # filter's internal counter (baked into the wire
                    # header, so bitwise parity with the map-side build
                    # requires it) by the dedup delta
                    acc.n_items += seg_items - (bounds[i + 1] - bounds[i])
                    items[s] += seg_items
            if accs:
                # hash partitioning puts ALL of a shard's rows in this
                # partition — these accumulators are final, no re-merge
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(list(accs.keys()), type=pa.int32()),
                        pa.array([a.to_bytes() for a in accs.values()], type=pa.binary()),
                        pa.array([items[s] for s in accs.keys()], type=pa.int64()),
                    ],
                    names=["shard", "payload", "n_items"],
                )

        return routedf.mapInArrow(fold, schema=SHARDED_SCHEMA)

    # -- probe ---------------------------------------------------------

    def count_contained(
        self, df: DataFrame, sketch_df: DataFrame, spark: SparkSession | None = None
    ) -> tuple[int, int]:
        """(hits, total) over every token of ``df`` probed against the
        sharded filter. Probe hashes shuffle ONCE by shard (narrow
        (shard, h) rows) and cogroup with the sketch frame — each task
        decodes exactly one shard's filter, so probe memory is bounded
        by one shard regardless of the total filter size."""
        probes = self._hash_rows(df)

        def probe_shard(key, probe_pdf, sketch_pdf):
            import pandas as pd

            total = int(len(probe_pdf))
            if total == 0:
                return pd.DataFrame({"shard": [int(key[0])], "hits": [0], "total": [0]})
            if len(sketch_pdf) == 0:
                # no filter for this shard: nothing was ever inserted
                return pd.DataFrame({"shard": [int(key[0])], "hits": [0], "total": [total]})
            # a unioned-but-not-yet-remerged sketch frame has multiple
            # rows per shard: merge them here rather than silently
            # probing one (which would be a false-negative hole)
            if len(sketch_pdf) > 1:
                from ..sketch import merge_sketch_payloads

                payload = merge_sketch_payloads([bytes(p) for p in sketch_pdf["payload"]])
            else:
                payload = bytes(sketch_pdf["payload"].iloc[0])
            bf = sketch_from_bytes(payload)
            h = probe_pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            hits = int(bf.contains_hashes(h).sum())
            return pd.DataFrame({"shard": [int(key[0])], "hits": [hits], "total": [total]})

        out = (
            probes.groupBy("shard")
            .cogroup(sketch_df.select("shard", "payload").groupBy("shard"))
            .applyInPandas(probe_shard, "shard int, hits bigint, total bigint")
            .agg(F.sum("hits").alias("hits"), F.sum("total").alias("total"))
            .collect()[0]
        )
        return int(out["hits"] or 0), int(out["total"] or 0)

    def flag_contained(
        self, df: DataFrame, sketch_df: DataFrame, *, id_col: str
    ) -> DataFrame:
        """Per-row membership verdict for a SCALAR sketch: -> (id_col,
        probably_seen boolean). Zero FN: every value that was inserted
        flags True; a True on a novel value is a false positive at the
        configured p. Same shuffle-by-shard shape as count_contained —
        the id rides the narrow probe row, one shard's filter per task.
        """
        if not self.scalar:
            raise ValueError("flag_contained requires a scalar-column sketch")
        n_shards = self.n_shards
        col = self.col

        def hash_rows(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from .sketches import _scalar_values

            for batch in batches:
                vals = _scalar_values(batch, col)
                if vals.size == 0:
                    continue
                id_arr = batch.column(id_col)
                if id_arr.null_count:
                    # A NULL id would round-trip through float NaN and
                    # silently cast to INT64_MIN — fail loudly instead.
                    raise ValueError(
                        f"flag_contained: {id_arr.null_count} NULL values in "
                        f"id column {id_col!r}; ids must be non-null"
                    )
                ids = id_arr.to_numpy(zero_copy_only=False)
                h = splitmix64(vals.view(np.uint64))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(shard_of(h, n_shards), type=pa.int32()),
                        pa.array(h.view(np.int64), type=pa.int64()),
                        pa.array(ids.astype(np.int64), type=pa.int64()),
                    ],
                    names=["shard", "h", "rid"],
                )

        probes = df.select(id_col, col).mapInArrow(
            hash_rows, schema="shard int, h bigint, rid bigint"
        )

        def probe_shard(key, probe_pdf, sketch_pdf):
            import pandas as pd

            if len(probe_pdf) == 0:
                return pd.DataFrame({"rid": [], "probably_seen": []})
            rid = probe_pdf["rid"].to_numpy(dtype=np.int64)
            if len(sketch_pdf) == 0:
                return pd.DataFrame({"rid": rid, "probably_seen": np.zeros(len(rid), bool)})
            if len(sketch_pdf) > 1:
                from ..sketch import merge_sketch_payloads

                payload = merge_sketch_payloads([bytes(p) for p in sketch_pdf["payload"]])
            else:
                payload = bytes(sketch_pdf["payload"].iloc[0])
            bf = sketch_from_bytes(payload)
            h = probe_pdf["h"].to_numpy(dtype=np.int64).view(np.uint64)
            return pd.DataFrame({"rid": rid, "probably_seen": bf.contains_hashes(h)})

        out = (
            probes.groupBy("shard")
            .cogroup(sketch_df.select("shard", "payload").groupBy("shard"))
            .applyInPandas(probe_shard, "rid bigint, probably_seen boolean")
        )
        return out.select(F.col("rid").alias(id_col), "probably_seen")

    # -- stats ---------------------------------------------------------

    def stats(self, sketch_df: DataFrame) -> DataFrame:
        """Per-shard (shard, n_items, fill_ratio, bytes) — the
        north-rule sketch-size/fill metrics, one narrow row per shard."""

        def per_shard(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            for batch in batches:
                shards = batch.column("shard").to_pylist()
                payloads = batch.column("payload").to_pylist()
                items = batch.column("n_items").to_pylist()
                fills, sizes = [], []
                for p in payloads:
                    bf = sketch_from_bytes(bytes(p))
                    fills.append(round(bf.fill_ratio(), 8))
                    sizes.append(len(bytes(p)))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(shards, type=pa.int32()),
                        pa.array(items, type=pa.int64()),
                        pa.array(fills, type=pa.float64()),
                        pa.array(sizes, type=pa.int64()),
                    ],
                    names=["shard", "n_items", "fill_ratio", "n_bytes"],
                )

        return sketch_df.mapInArrow(
            per_shard, schema="shard int, n_items bigint, fill_ratio double, n_bytes bigint"
        )
