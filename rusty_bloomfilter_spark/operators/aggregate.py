"""Distributed sketch aggregation: one partition fold, one row merge.

PySpark has no vectorized custom-Aggregator API, so every build is the
same two explicit steps:

    fold    ``_fold``: one ``mapInArrow`` body folds a partition's Arrow
            batches into one accumulator per spec (per key, for keyed
            builds) and emits one row per (partition, key) with all the
            payloads side by side. Row data never shuffles; only these
            O(sketch_bytes) rows do.
    merge   ``merge_rows``: a left fold of payload rows, in arrival
            order, into one row. A column plan (``MergeCol``) says which
            columns are payloads (with their merge function and identity
            payload), which are counts to sum and which are keys to pass
            through.

Where the merge runs is the only thing that differs between builds:

- unkeyed builds that return bytes (``build_multi`` +
  ``collect_multi_bytes``, ``build_sketch_bytes``) merge on the driver
  while partitions x the largest payload each sketch's config can
  serialize to stays within ``_DRIVER_MERGE_BYTES``
  (``_merges_on_driver``), so a build is one Spark job with one stage;
  above it, and for ``build_sketch``/``tree_merge``'s lazy single-row
  DataFrame, the rows go through the tree levels of ``_merge_levels``
  (``mapInArrow`` per level, ceil(P/fanout) tasks each, until one task
  can finish);
- keyed builds (``build_multi_by_key``, ``build_by_key``) merge per key
  with ``groupBy(key).applyInArrow`` (``group_merge``), optionally
  after a salted (key, salt) level.

The reference's merge matrices (``src/bloomfilter/mod.rs:621-761``)
make merges associative and commutative, so any tree shape or grouping
yields the same bytes. KLL, t-digest and Misra-Gries merges are not
byte-associative, but a left fold flushed every ``_FLUSH_AT`` payloads
equals one left fold over the same rows (tests/test_merge_algebra.py),
so their bytes depend only on the arrival order.

Scale notes (1000-executor / 100 TB framing):
- The fold scans row data once, in place. The only shuffled bytes are
  P sketch payloads (P = input partitions), each O(m/8). At P=100k
  partitions and a 16 MB filter that is ~1.6 TB of payloads in the
  worst case, which is why the merge above the driver budget is a tree:
  every task merges ~fanout payloads, and a merge never holds more than
  ``_FLUSH_AT`` of them.
- Keyed builds shuffle one sketch row per (partition, key): the classic
  partial-agg pattern. A skewed key (hot `source`) costs nothing extra
  in the fold, since its rows are already spread across partitions, and
  its merge fan-in is bounded by the partition count, optionally salted
  down further.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from functools import partial
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
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

# A multi-sketch spec: (name, make_empty, update, merge_payloads).
MultiSpec = tuple[str, Callable[[], Any], UpdateFn, MergePayloadsFn]

# merge_rows folds a payload buffer down to one whenever it grows past
# this many live payloads, bounding task memory regardless of fan-in
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


# ---------------------------------------------------------------------------
# The fold
# ---------------------------------------------------------------------------


def iter_key_slices(batch: pa.RecordBatch, key_col: str):
    """Yield (key, sub_batch) per distinct key in the batch.

    One stable argsort + take, then zero-copy slices — O(n log n) per
    batch regardless of key cardinality. The previous per-key
    ``batch.filter(keys == key)`` loop rescanned the whole batch for
    every key (O(keys_in_batch * batch_rows)): fine for 5 sources,
    quadratic for high-cardinality keys.
    """
    import numpy as np

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


def _multi_schema(specs: list[MultiSpec], *, keyed: bool = False) -> str:
    return ("key string, " if keyed else "") + "n_rows bigint, " + ", ".join(
        f"payload_{name} binary, n_{name} bigint" for name, *_ in specs
    )


def _fold(df: DataFrame, specs: list[MultiSpec], *, key_col: str | None = None) -> DataFrame:
    """THE stage-1 fold: every Arrow batch of a partition goes into one
    accumulator per spec — per key of ``key_col`` when given
    (``iter_key_slices``) — in a single pass over the batch.

    Unkeyed, each partition emits exactly one row, empty partitions
    included: (n_rows, payload_<name>, n_<name>, ...). Keyed, one row
    per (partition, key), with a leading ``key string`` column.
    ``df`` must already be projected to the columns the specs (and the
    key) read."""
    makers = [mk for _, mk, _, _ in specs]
    updates = [upd for _, _, upd, _ in specs]

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        accs: dict[Any, list] = {}  # key -> [n_rows, acc per spec...]
        for batch in batches:
            slices = [(None, batch)] if key_col is None else iter_key_slices(batch, key_col)
            for key, sub in slices:
                ent = accs.get(key)
                if ent is None:
                    ent = accs[key] = [0, *(mk() for mk in makers)]
                ent[0] += sub.num_rows
                for acc, upd in zip(ent[1:], updates):
                    upd(acc, sub)
        if key_col is None and not accs:
            accs[None] = [0, *(mk() for mk in makers)]
        if not accs:
            return
        out: dict[str, list] = {}
        if key_col is not None:
            out["key"] = [None if k is None else str(k) for k in accs]
        out["n_rows"] = [ent[0] for ent in accs.values()]
        for i, (name, *_rest) in enumerate(specs, start=1):
            out[f"payload_{name}"] = [ent[i].to_bytes() for ent in accs.values()]
            out[f"n_{name}"] = [ent[i].n_items for ent in accs.values()]
        yield pa.RecordBatch.from_pydict(out)

    return df.mapInArrow(fold, schema=_multi_schema(specs, keyed=key_col is not None))


def _single(frame: DataFrame, *keys) -> DataFrame:
    """A one-spec ("sketch") fold or merge under the single-sketch
    column names: (*keys, payload, n_items)."""
    return frame.select(
        *keys, F.col("payload_sketch").alias("payload"), F.col("n_sketch").alias("n_items")
    )


# ---------------------------------------------------------------------------
# The merge
# ---------------------------------------------------------------------------


class MergeCol(NamedTuple):
    """One output column of ``merge_rows``, in schema order: a payload
    column when ``merge`` is set (``identity`` makes its empty payload),
    a group key passed through from the first row when ``key``, else a
    count that is summed."""

    name: str
    merge: MergePayloadsFn | None = None
    identity: Callable[[], bytes] | None = None
    key: bool = False


def merge_rows(
    batches: Iterable[pa.RecordBatch], plan: list[MergeCol], *, or_identity: bool = False
) -> Iterator[pa.RecordBatch]:
    """THE payload merge: left-fold every row of ``batches``, in arrival
    order, into one row laid out by ``plan``. Each payload buffer folds
    down to one payload whenever it reaches ``_FLUSH_AT`` (stream-fold:
    a task at P=100k partitions would otherwise buffer its whole fan-in
    before the first merge call).

    Yields that one row, or nothing when ``batches`` hold no rows —
    unless ``or_identity``, which yields the identity row then (every
    payload's ``identity()``, counts 0; key columns are not allowed)."""
    payloads = {c.name: [] for c in plan if c.merge}
    sums = {c.name: 0 for c in plan if not c.merge and not c.key}
    first = None
    for batch in batches:
        if not batch.num_rows:
            continue
        if first is None:
            first = batch.slice(0, 1)
        for name in sums:
            sums[name] += pc.sum(batch.column(name)).as_py() or 0
        for c in plan:
            if c.merge:
                buf = payloads[c.name]
                buf.extend(batch.column(c.name).to_pylist())
                if len(buf) >= _FLUSH_AT:
                    payloads[c.name] = [c.merge(buf)]
    if first is None and not or_identity:
        return
    cols = []
    for c in plan:
        if c.key:
            cols.append(first.column(c.name))
        elif c.merge:
            buf = payloads[c.name]
            cols.append(pa.array([c.merge(buf) if buf else c.identity()], pa.binary()))
        else:
            cols.append(pa.array([sums[c.name]], pa.int64()))
    yield pa.RecordBatch.from_arrays(cols, names=[c.name for c in plan])


def group_merge(plan: list[MergeCol]):
    """``merge_rows`` as a ``groupBy(...).applyInArrow`` function: one
    merged row per group, streamed over the group's batches. Columns the
    plan does not name (a salt) are dropped."""

    def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return merge_rows(batches, plan)

    return merge


def _spec_plan(specs: list[MultiSpec], *, keyed: bool = False) -> list[MergeCol]:
    """The merge plan of ``_fold``'s rows (``_multi_schema`` order)."""
    plan = [MergeCol("key", key=True)] if keyed else []
    plan.append(MergeCol("n_rows"))
    for name, mk, _upd, mrg in specs:
        plan.append(MergeCol(f"payload_{name}", mrg, lambda mk=mk: mk().to_bytes()))
        plan.append(MergeCol(f"n_{name}"))
    return plan


def _merge_levels(
    rows: DataFrame, plan: list[MergeCol], schema: str, *, fanout: int, n_parts: int,
    or_identity: bool,
) -> DataFrame:
    """The tree levels shared by ``tree_merge`` and ``_tree_merge_multi``
    -> single-row DataFrame (``or_identity``: the identity row on an
    empty input, else no row).

    Intermediate levels only help when they REDUCE fan-in: with
    P <= fanout rows they're pure extra shuffle + python round-trip over
    the same rows (measured ~2.7s of overhead on 8x 5 MB payloads) — go
    straight to the final merge then. Above that, repartition(ceil(P/
    fanout)) per level keeps EVERY task's expected fan-in at ~fanout (a
    fixed repartition(fanout) would give each task P/fanout payloads —
    unbounded in P), looping levels until one task can finish the job:
    depth grows as log_fanout(P)."""
    level = rows
    while n_parts > fanout:
        n_tasks = -(-n_parts // fanout)  # ceil
        level = level.repartition(n_tasks).mapInArrow(partial(merge_rows, plan=plan), schema)
        n_parts = n_tasks
    final = partial(merge_rows, plan=plan, or_identity=or_identity)
    return level.repartition(1).mapInArrow(final, schema)


# ---------------------------------------------------------------------------
# Single-sketch builds
# ---------------------------------------------------------------------------


def partition_sketches(
    df: DataFrame,
    make_empty: Callable[[], Any],
    update: UpdateFn,
    *,
    columns: list[str] | None = None,
) -> DataFrame:
    """Stage 1 for one sketch: one (payload, n_items) row per partition,
    from a one-spec ``_fold``. Column-prunes before the UDF so the
    parquet scan reads only what the sketch needs."""
    if columns:
        df = df.select(*columns)
    return _single(_fold(df, [("sketch", make_empty, update, None)]))


def tree_merge(
    sketch_df: DataFrame,
    merge_payloads: MergePayloadsFn,
    *,
    fanout: int = 16,
    empty_payload: bytes | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """The tree levels over (payload, n_items) rows -> single-row
    DataFrame (payload, n_items). ``empty_payload`` (the sketch
    identity) is emitted when the input has no rows at all. Callers
    that know the upstream partition count pass ``n_parts``; otherwise
    it is derived WITHOUT touching .rdd on a shuffled plan
    (``safe_partition_count`` — the AQE eager-materialization trap)."""
    if n_parts is None:
        n_parts = safe_partition_count(sketch_df, default=_shuffle_conf(sketch_df))
    plan = [MergeCol("payload", merge_payloads, lambda: empty_payload), MergeCol("n_items")]
    return _merge_levels(
        sketch_df, plan, SKETCH_SCHEMA, fanout=fanout, n_parts=n_parts,
        or_identity=empty_payload is not None,
    )


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
    """Per-key sketches with map-side combine -> (key, payload, n_items):
    a one-spec ``build_multi_by_key`` (same fold, same merge levels and
    ``salt``)."""
    spec: list[MultiSpec] = [("sketch", make_empty, update, merge_payloads)]
    return _single(build_multi_by_key(df, key_col, spec, columns=columns, salt=salt), "key")


# ---------------------------------------------------------------------------
# Multi-sketch builds
# ---------------------------------------------------------------------------


def build_multi(
    df: DataFrame,
    specs: list[MultiSpec],
    *,
    columns: list[str],
    fanout: int = 16,
) -> DataFrame:
    """N GLOBAL sketches in one scan of the input: the fold only.

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
    return _fold(df.select(*columns), specs)


def _tree_merge_multi(
    partial: DataFrame, specs: list[MultiSpec], *, fanout: int, n_parts: int
) -> DataFrame:
    """The tree levels for ``build_multi`` rows, every spec merged side
    by side -> single row (each spec's identity on an empty input)."""
    return _merge_levels(
        partial, _spec_plan(specs), _multi_schema(specs), fanout=fanout, n_parts=n_parts,
        or_identity=True,
    )


def collect_multi_bytes(
    multi_df: DataFrame, specs: list[MultiSpec], *, fanout: int = 16
) -> tuple[int, dict[str, tuple[bytes, int]]]:
    """Merge ``build_multi``'s per-partition rows -> (n_rows,
    {name: (payload, n_items)}). The one place that decides where they
    merge, by ``_merges_on_driver``: partitions x the sum of the specs'
    largest payload sizes (known from the sketch configs before the job
    runs) against ``_DRIVER_MERGE_BYTES``:

    - within the budget the rows are collected over Arrow by the
      build's own job (one job, one stage) and ``merge_rows`` merges
      them on the driver; an empty input gives each spec's
      ``make_empty().to_bytes()``;
    - above it, or when a spec's sketch declares no largest size, the
      rows go through ``_tree_merge_multi`` (fan-in ``fanout``) and
      the single merged row is collected.

    Both routes are the same left fold, so they give the same bytes.
    The partition count is taken shuffle-safely
    (``safe_partition_count``), so a post-shuffle input counts as
    ``spark.sql.shuffle.partitions`` partitions.
    """
    n_parts = safe_partition_count(multi_df, default=_shuffle_conf(multi_df))
    if _merges_on_driver(n_parts, [mk() for _, mk, _, _ in specs]):
        (merged,) = merge_rows(
            multi_df.toArrow().to_batches(), _spec_plan(specs), or_identity=True
        )
    else:
        merged = _tree_merge_multi(multi_df, specs, fanout=fanout, n_parts=n_parts).toArrow()
    row = merged.to_pylist()[0]
    return row["n_rows"], {
        name: (row[f"payload_{name}"], row[f"n_{name}"]) for name, *_ in specs
    }


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
    (partition, key) with all N payloads side by side — and
    ``groupBy(key).applyInArrow`` merges them. ``salt > 0`` adds an
    intermediate (key, salt) merge level first, bounding any single
    task's fan-in to partitions/salt — use when the partition count is
    huge (the north rule's explicit skew handling).

    -> (key, n_rows, payload_<name>, n_<name>, ...) one row per key.
    """
    cols = columns or df.columns
    if key_col not in cols:
        cols = [key_col, *cols]
    rows = _fold(df.select(*cols), specs, key_col=key_col)
    schema = _multi_schema(specs, keyed=True)
    merge_group = group_merge(_spec_plan(specs, keyed=True))
    if salt > 0:
        salted = rows.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(f"payload_{specs[0][0]}")), F.lit(salt))
        )
        rows = salted.groupBy("key", "_salt").applyInArrow(merge_group, schema)
    return rows.groupBy("key").applyInArrow(merge_group, schema)
