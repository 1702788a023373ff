"""Distributed sketch aggregation: the tree-merge topology.

PySpark has no vectorized custom-Aggregator API, so the idiomatic (and
north-rule-mandated explicit) substitute is:

    stage 1  mapInArrow       one sketch row per *input partition*
                              (map-side combine: row data never
                              shuffles — only O(sketch_bytes) rows do)
    stage 2  repartition(fanout) + mapInPandas     partial OR-merge
    stage 3  repartition(1)   + mapInPandas        final merge

This is exactly ``RDD.treeAggregate(depth=2)`` expressed in DataFrame
form (semantics pinned by the reference's merge matrices,
/root/reference/src/bloomfilter/mod.rs:621-761: merges are associative
and commutative, so any tree shape yields the same bytes).

Unkeyed builds that return bytes (``build_multi`` +
``collect_multi_bytes``, ``build_sketch_bytes``) run stages 2-3 only
above a driver budget: while partitions x the largest payload each
sketch's config can serialize to stays within ``_DRIVER_MERGE_BYTES``
(``_merges_on_driver``) the stage-1 rows are collected over Arrow in
the build's own job and merged on the driver, so a build is one Spark
job with one stage. ``build_sketch``/``tree_merge`` keep the full tree
for callers that need a lazy single-row DataFrame.

Scale notes (1000-executor / 100 TB framing):
- Stage 1 scans row data once, in place — zero row shuffle. The only
  shuffled bytes are P sketch payloads (P = input partitions), each
  O(m/8). At P=100k partitions and a 16 MB filter that is ~1.6 TB of
  payloads in the worst case — which is why fanout is a tree, not a
  single reducer: each stage-2 task merges P/fanout payloads, and the
  final task merges only `fanout` of them.
- Keyed builds (``build_by_key``) shuffle one sketch row per
  (partition, key): the classic partial-agg pattern. A skewed key
  (hot `source`) therefore costs nothing extra at stage 1 — its rows
  are already spread across partitions — and its merge fan-in is
  bounded by the partition count, optionally salted down further.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SKETCH_SCHEMA = "payload binary, n_items bigint"
KEYED_SKETCH_SCHEMA = "key string, payload binary, n_items bigint"

# An adapter is (make_empty, update(acc, batch) -> None, payload merge
# fn). `update` receives a *pyarrow RecordBatch*: list columns flatten
# zero-copy (ListArray.values), roughly 2x cheaper end-to-end than the
# pandas conversion for ragged token arrays (measured local[32]).
UpdateFn = Callable[[Any, pa.RecordBatch], None]
MergePayloadsFn = Callable[[list[bytes]], bytes]

# merge stages fold their payload buffer down to one whenever it grows
# past this many live payloads — bounds task memory at FLUSH_AT
# payloads regardless of fan-in (merges are associative, so folding
# early yields the same canonical bytes)
_FLUSH_AT = 64

# Largest total of stage-1 payloads the driver collects and merges
# itself: partitions x the bytes one row's payloads can reach. Shared by
# the unkeyed builds (collect_multi_bytes) and the checkpoint resume
# through _merges_on_driver.
_DRIVER_MERGE_BYTES = 256 << 20


def _merges_on_driver(n_parts: int, empties: list) -> bool:
    """The driver-budget rule: True iff ``n_parts`` payloads of every
    sketch in ``empties``, each at the largest size its config can
    serialize to (``max_payload_bytes()``), fit in
    ``_DRIVER_MERGE_BYTES``. A sketch that declares no maximum always
    merges through the tree."""
    bounds = [getattr(e, "max_payload_bytes", None) for e in empties]
    if None in bounds:
        return False
    return n_parts * sum(b() for b in bounds) <= _DRIVER_MERGE_BYTES


def keyed_payload_merge(
    key_col: str,
    *,
    merge_fn: MergePayloadsFn,
    sum_cols: tuple[str, ...] = ("n_items",),
    key_out: Callable[[Any], Any] | None = None,
):
    """THE single-payload keyed group-merge for applyInPandas: one row
    out per key — payload = merge_fn(group payloads), every counter in
    ``sum_cols`` summed. Shared by build_by_key, the sharded build /
    cross-snapshot union (sharded.merge_shard_group) and the file-index
    compaction (pruning.compact_index) so payload handling cannot
    diverge across them. ``key_out`` coerces the group key for the
    output schema (int for shard ids, str for file names)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[key_col].iloc[0]
        out: dict[str, list] = {
            key_col: [key if key_out is None else key_out(key)],
            "payload": [merge_fn([bytes(p) for p in pdf["payload"]])],
        }
        for c in sum_cols:
            out[c] = [int(pdf[c].sum())]
        return pd.DataFrame(out)

    return merge


def safe_partition_count(df: DataFrame, default: int) -> int:
    """Partition count of ``df`` WITHOUT the AQE materialization trap.

    ``df.rdd.getNumPartitions()`` on a post-shuffle plan eagerly
    materializes upstream query stages at plan-construction time
    (whole Spark jobs before the caller ever runs an action — round-3
    ADVICE + round-4 review, both measured). Touch ``.rdd`` only when
    the physical plan contains no Exchange; otherwise return
    ``default`` (callers pass the shuffle-partition conf — the
    pre-AQE-coalesce upper bound, so the tree conservatively keeps its
    merge level)."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # plan stringification is best-effort only
        return default
    if "Exchange" in plan:
        return default
    return df.rdd.getNumPartitions()


def _shuffle_conf(df: DataFrame, fallback: int = 200) -> int:
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return fallback


def partition_sketches(
    df: DataFrame,
    make_empty: Callable[[], Any],
    update: UpdateFn,
    *,
    columns: list[str] | None = None,
) -> DataFrame:
    """Stage 1: fold every Arrow batch of each partition into one local
    sketch; emit one (payload, n_items) row per partition. Column-prunes
    before the UDF so the parquet scan reads only what the sketch needs.
    """
    if columns:
        df = df.select(*columns)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = make_empty()
        for batch in batches:
            update(acc, batch)
        yield pa.RecordBatch.from_pydict(
            {"payload": [acc.to_bytes()], "n_items": [acc.n_items]}
        )

    return df.mapInArrow(build, schema=SKETCH_SCHEMA)


def tree_merge(
    sketch_df: DataFrame,
    merge_payloads: MergePayloadsFn,
    *,
    fanout: int = 16,
    empty_payload: bytes | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """Stages 2+3: depth-2 tree reduction over sketch rows. Returns a
    single-row DataFrame (payload, n_items). ``empty_payload`` (the
    sketch identity) is emitted when the input has no rows at all."""

    def _fold(batches: Iterator[pd.DataFrame]) -> tuple[list[bytes], int]:
        # stream-fold: never hold more than _FLUSH_AT payloads live —
        # a stage task at P=100k partitions would otherwise buffer its
        # whole fan-in (GBs of payloads) before the first merge call
        payloads: list[bytes] = []
        n_items = 0
        for pdf in batches:
            payloads.extend(bytes(p) for p in pdf["payload"])
            n_items += int(pdf["n_items"].sum())
            if len(payloads) >= _FLUSH_AT:
                payloads = [merge_payloads(payloads)]
        return payloads, n_items

    def merge_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payloads, n_items = _fold(batches)
        if payloads:
            yield pd.DataFrame({"payload": [merge_payloads(payloads)], "n_items": [n_items]})

    def merge_final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        payloads, n_items = _fold(batches)
        if not payloads and empty_payload is not None:
            yield pd.DataFrame({"payload": [empty_payload], "n_items": [0]})
        elif payloads:
            yield pd.DataFrame({"payload": [merge_payloads(payloads)], "n_items": [n_items]})

    # Intermediate levels only help when they REDUCE fan-in: with
    # P <= fanout partial rows they're pure extra shuffle + python
    # round-trip over the same rows (measured ~2.7s of overhead on 8x
    # 5 MB payloads) — go straight to the final merge then. Above that,
    # repartition(ceil(P/fanout)) per level keeps EVERY task's expected
    # fan-in at ~fanout (a fixed repartition(fanout) would give stage-2
    # tasks P/fanout payloads each — unbounded in P), looping levels
    # until one task can finish the job: depth grows as log_fanout(P).
    # Callers that know the upstream partition count pass n_parts;
    # otherwise it is derived WITHOUT touching .rdd on a shuffled plan
    # (safe_partition_count — the AQE eager-materialization trap).
    if n_parts is None:
        n_parts = safe_partition_count(sketch_df, default=_shuffle_conf(sketch_df))
    level = sketch_df
    while n_parts > fanout:
        n_tasks = -(-n_parts // fanout)  # ceil
        level = level.repartition(n_tasks).mapInPandas(
            merge_partition, schema=SKETCH_SCHEMA
        )
        n_parts = n_tasks
    return level.repartition(1).mapInPandas(merge_final, schema=SKETCH_SCHEMA)


def build_sketch(
    df: DataFrame,
    make_empty: Callable[[], Any],
    update: UpdateFn,
    merge_payloads: MergePayloadsFn,
    *,
    columns: list[str] | None = None,
    fanout: int = 16,
) -> DataFrame:
    """Full pipeline: partition build -> tree merge -> single sketch row."""
    # partition count measured on the INPUT (pre-mapInArrow) via the
    # Exchange-probing helper: the input itself may be post-shuffle (a
    # join output, as in plans/curate.py), where .rdd would eagerly run
    # the upstream pipeline at plan-construction time
    n_parts = safe_partition_count(df, default=_shuffle_conf(df))
    return tree_merge(
        partition_sketches(df, make_empty, update, columns=columns),
        merge_payloads,
        fanout=fanout,
        empty_payload=make_empty().to_bytes(),
        n_parts=n_parts,
    )


def collect_sketch_bytes(sketch_df: DataFrame) -> tuple[bytes, int]:
    """Driver-side: pull the single merged (payload, n_items) row."""
    rows = sketch_df.collect()
    if not rows:
        raise ValueError("sketch pipeline produced no rows (empty input?)")
    return bytes(rows[0]["payload"]), int(rows[0]["n_items"])


def iter_key_slices(batch: pa.RecordBatch, key_col: str):
    """Yield (key, sub_batch) per distinct key in the batch.

    One stable argsort + take, then zero-copy slices — O(n log n) per
    batch regardless of key cardinality. The previous per-key
    ``batch.filter(keys == key)`` loop rescanned the whole batch for
    every key (O(keys_in_batch * batch_rows)): fine for 5 sources,
    quadratic for high-cardinality keys.
    """
    import numpy as np
    import pyarrow.compute as pc

    col = batch.column(key_col)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        # None is not orderable against strings (np.unique would raise);
        # split the null-key rows out and slice the rest normally
        valid = col.is_valid()
        null_mask = pc.invert(valid)
        yield None, batch.filter(null_mask)
        batch = batch.filter(valid)
        if batch.num_rows == 0:
            return
        col = batch.column(key_col)
    keys = col.to_numpy(zero_copy_only=False)
    if len(keys) == 0:
        return
    uniq, counts = np.unique(keys, return_counts=True)
    if len(uniq) == 1:
        yield keys[0], batch
        return
    order = np.argsort(keys, kind="stable")
    sorted_batch = batch.take(pa.array(order))
    # uniq is sorted, so equal-key runs in sorted_batch follow uniq order
    offsets = np.concatenate(([0], np.cumsum(counts)))
    for i, key in enumerate(uniq):
        yield key, sorted_batch.slice(offsets[i], offsets[i + 1] - offsets[i])


def build_by_key(
    df: DataFrame,
    key_col: str,
    make_empty: Callable[[], Any],
    update: UpdateFn,
    merge_payloads: MergePayloadsFn,
    *,
    columns: list[str] | None = None,
    salt: int = 0,
) -> DataFrame:
    """Per-key sketches with map-side combine.

    Stage 1 (mapInPandas) folds each partition's rows into one sketch
    *per key present in the partition* — the hot key's row data never
    concentrates. Stage 2 groupBy(key) merges the tiny sketch rows.
    ``salt > 0`` adds an intermediate merge level: groupBy(key, salt)
    first, bounding any single task's fan-in to partitions/salt — use
    when the partition count is huge (the north rule's explicit skew
    handling).
    """
    cols = columns or df.columns
    if key_col not in cols:
        cols = [key_col, *cols]
    df = df.select(*cols)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        accs: dict[str, Any] = {}
        for batch in batches:
            for key, sub in iter_key_slices(batch, key_col):
                acc = accs.get(key)
                if acc is None:
                    acc = accs[key] = make_empty()
                update(acc, sub)
        if accs:
            yield pa.RecordBatch.from_pydict(
                {
                    "key": [None if k is None else str(k) for k in accs],
                    "payload": [a.to_bytes() for a in accs.values()],
                    "n_items": [a.n_items for a in accs.values()],
                }
            )

    partial = df.mapInArrow(build, schema=KEYED_SKETCH_SCHEMA)

    merge_group = keyed_payload_merge("key", merge_fn=merge_payloads)

    if salt > 0:
        # merge_group ignores the extra _salt column, so it serves both
        # levels directly (no wrapper indirection)
        salted = partial.withColumn("_salt", F.pmod(F.xxhash64(F.col("payload")), F.lit(salt)))
        level1 = salted.groupBy("key", "_salt").applyInPandas(merge_group, KEYED_SKETCH_SCHEMA)
        return level1.groupBy("key").applyInPandas(merge_group, KEYED_SKETCH_SCHEMA)
    return partial.groupBy("key").applyInPandas(merge_group, KEYED_SKETCH_SCHEMA)


# A multi-sketch spec: (name, make_empty, update, merge_payloads).
MultiSpec = tuple[str, Callable[[], Any], UpdateFn, MergePayloadsFn]


def _multi_schema(specs: list[MultiSpec]) -> str:
    return "n_rows bigint, " + ", ".join(
        f"payload_{name} binary, n_{name} bigint" for name, *_ in specs
    )


def build_multi(
    df: DataFrame,
    specs: list[MultiSpec],
    *,
    columns: list[str],
    fanout: int = 16,
) -> DataFrame:
    """N GLOBAL sketches in one scan of the input: stage 1 only.

    The unkeyed sibling of ``build_multi_by_key``: every Arrow batch is
    folded into all N accumulators in a single pass — N separate builds
    would scan the same corpus N times, and at 100 TB the scan I/O
    dominates, so fusing is an N x win on the dominant cost. Each
    partition emits one row holding all N payloads side by side;
    ``collect_multi_bytes`` decides where those rows merge (on the
    driver, or through the tree above the driver budget) and takes the
    fan-in there. ``fanout`` is accepted for callers of the earlier
    single-row form and has no effect here.

    ``columns`` must cover every spec's input column (e.g.
    ["tokens", "n_tok"] for token sketches + a length quantile sketch).

    -> one row per input partition (n_rows, payload_<name> binary,
    n_<name> bigint, ...), unmerged.
    """
    df = df.select(*columns)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        accs = [mk() for _, mk, _, _ in specs]
        n_rows = 0
        for batch in batches:
            n_rows += batch.num_rows
            for acc, (_, _, upd, _) in zip(accs, specs):
                upd(acc, batch)
        out: dict[str, list] = {"n_rows": [n_rows]}
        for acc, (name, *_rest) in zip(accs, specs):
            out[f"payload_{name}"] = [acc.to_bytes()]
            out[f"n_{name}"] = [acc.n_items]
        yield pa.RecordBatch.from_pydict(out)

    return df.mapInArrow(build, schema=_multi_schema(specs))


def _tree_merge_multi(
    partial: DataFrame, specs: list[MultiSpec], *, fanout: int, n_parts: int
) -> DataFrame:
    """Stages 2+3 for ``build_multi`` rows: the tree levels of
    ``tree_merge``, every spec merged side by side -> single row."""
    schema = _multi_schema(specs)

    def merge_rows(batches: Iterator[pd.DataFrame], *, emit_empty: bool):
        payloads: dict[str, list[bytes]] = {name: [] for name, *_ in specs}
        n_items: dict[str, int] = {name: 0 for name, *_ in specs}
        n_rows = 0
        for pdf in batches:
            n_rows += int(pdf["n_rows"].sum())
            for name, *_rest in specs:
                payloads[name].extend(bytes(p) for p in pdf[f"payload_{name}"])
                n_items[name] += int(pdf[f"n_{name}"].sum())
            # stream-fold per spec: bound live payloads at _FLUSH_AT
            # each regardless of this task's fan-in (see tree_merge)
            for name, _mk, _upd, mrg in specs:
                if len(payloads[name]) >= _FLUSH_AT:
                    payloads[name] = [mrg(payloads[name])]
        have_rows = any(payloads[name] for name, *_ in specs)
        if not have_rows and not emit_empty:
            return
        out: dict[str, list] = {"n_rows": [n_rows]}
        for name, mk, _upd, mrg in specs:
            out[f"payload_{name}"] = [
                mrg(payloads[name]) if payloads[name] else mk().to_bytes()
            ]
            out[f"n_{name}"] = [n_items[name]]
        yield pd.DataFrame(out)

    def merge_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from merge_rows(batches, emit_empty=False)

    def merge_final(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield from merge_rows(batches, emit_empty=True)

    # same level topology as tree_merge: skip levels that don't reduce
    # fan-in; otherwise ceil(P/fanout) tasks per level (~fanout payloads
    # each) looping until one task can finish
    level = partial
    while n_parts > fanout:
        n_tasks = -(-n_parts // fanout)
        level = level.repartition(n_tasks).mapInPandas(merge_partial, schema=schema)
        n_parts = n_tasks
    return level.repartition(1).mapInPandas(merge_final, schema=schema)


def collect_multi_bytes(
    multi_df: DataFrame, specs: list[MultiSpec], *, fanout: int = 16
) -> tuple[int, dict[str, tuple[bytes, int]]]:
    """Merge ``build_multi``'s per-partition rows -> (n_rows,
    {name: (payload, n_items)}). The one place that decides where they
    merge, by ``_merges_on_driver``: partitions x the sum of the specs'
    largest payload sizes (known from the sketch configs before the job
    runs) against ``_DRIVER_MERGE_BYTES``:

    - within the budget the rows are collected over Arrow by the
      build's own job (one job, one stage) and each spec merges on the
      driver; an empty input gives each spec's
      ``make_empty().to_bytes()``;
    - above it, or when a spec's sketch declares no largest size, the
      rows go through ``_tree_merge_multi`` (fan-in ``fanout``) and
      the single merged row is collected.

    Merges are associative and commutative, so both routes give the
    same bytes. The partition count is taken shuffle-safely
    (``safe_partition_count``), so a post-shuffle input counts as
    ``spark.sql.shuffle.partitions`` partitions.
    """
    n_parts = safe_partition_count(multi_df, default=_shuffle_conf(multi_df))
    if not _merges_on_driver(n_parts, [mk() for _, mk, _, _ in specs]):
        row = _tree_merge_multi(multi_df, specs, fanout=fanout, n_parts=n_parts).collect()[0]
        return int(row["n_rows"]), {
            name: (bytes(row[f"payload_{name}"]), int(row[f"n_{name}"]))
            for name, *_ in specs
        }
    table = multi_df.toArrow()
    out: dict[str, tuple[bytes, int]] = {}
    for name, mk, _upd, mrg in specs:
        payloads = table.column(f"payload_{name}").to_pylist()
        out[name] = (
            mrg(payloads) if payloads else mk().to_bytes(),
            sum(table.column(f"n_{name}").to_pylist()),
        )
    return sum(table.column("n_rows").to_pylist()), out


def build_sketch_bytes(
    df: DataFrame,
    make_empty: Callable[[], Any],
    update: UpdateFn,
    merge_payloads: MergePayloadsFn,
    *,
    columns: list[str],
    fanout: int = 16,
) -> tuple[bytes, int]:
    """One sketch's (payload, n_items): a one-spec ``build_multi``
    merged by ``collect_multi_bytes`` — the path behind every
    ``*.build_bytes``. Use ``build_sketch`` for a lazy DataFrame."""
    spec: list[MultiSpec] = [("sketch", make_empty, update, merge_payloads)]
    _, out = collect_multi_bytes(
        build_multi(df, spec, columns=columns), spec, fanout=fanout
    )
    return out["sketch"]


def build_multi_by_key(
    df: DataFrame,
    key_col: str,
    specs: list[MultiSpec],
    *,
    columns: list[str] | None = None,
    salt: int = 0,
) -> DataFrame:
    """N sketches per key in ONE scan of the input.

    Where ``build_by_key`` called N times costs N full corpus scans
    (at 100 TB: N x 100 TB of I/O for the same bytes), this folds every
    Arrow batch into all N accumulators per key in a single pass. The
    shuffle still carries only sketch rows — one row per
    (partition, key) with all N payloads side by side.

    -> (key, n_rows, payload_<name>, n_<name>, ...) one row per key.
    """
    cols = columns or df.columns
    if key_col not in cols:
        cols = [key_col, *cols]
    df = df.select(*cols)
    schema = "key string, n_rows bigint, " + ", ".join(
        f"payload_{name} binary, n_{name} bigint" for name, *_ in specs
    )

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        accs: dict[str, list] = {}  # key -> [acc_per_spec..., n_rows]
        for batch in batches:
            for key, sub in iter_key_slices(batch, key_col):
                ent = accs.get(key)
                if ent is None:
                    ent = accs[key] = [[mk() for _, mk, _, _ in specs], 0]
                for acc, (_, _, upd, _) in zip(ent[0], specs):
                    upd(acc, sub)
                ent[1] += sub.num_rows
        if accs:
            out: dict[str, list] = {
                "key": [None if k is None else str(k) for k in accs],
                "n_rows": [ent[1] for ent in accs.values()],
            }
            for i, (name, *_rest) in enumerate(specs):
                out[f"payload_{name}"] = [ent[0][i].to_bytes() for ent in accs.values()]
                out[f"n_{name}"] = [ent[0][i].n_items for ent in accs.values()]
            yield pa.RecordBatch.from_pydict(out)

    partial = df.mapInArrow(build, schema=schema)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {
            "key": [pdf["key"].iloc[0]],
            "n_rows": [int(pdf["n_rows"].sum())],
        }
        for name, _mk, _upd, mrg in specs:
            out[f"payload_{name}"] = [mrg([bytes(p) for p in pdf[f"payload_{name}"]])]
            out[f"n_{name}"] = [int(pdf[f"n_{name}"].sum())]
        return pd.DataFrame(out)

    if salt > 0:
        # same skew bound as build_by_key: intermediate (key, salt) merge
        # level caps any single task's fan-in at partitions/salt;
        # merge_group ignores the extra _salt column so it serves both
        # levels directly
        first_payload = f"payload_{specs[0][0]}"
        salted = partial.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(first_payload)), F.lit(salt))
        )
        level1 = salted.groupBy("key", "_salt").applyInPandas(merge_group, schema)
        return level1.groupBy("key").applyInPandas(merge_group, schema)
    return partial.groupBy("key").applyInPandas(merge_group, schema)
