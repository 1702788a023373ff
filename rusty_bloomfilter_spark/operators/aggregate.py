"""Distributed sketch aggregation: one partition fold, one row merge.

PySpark has no vectorized custom-Aggregator API, so every build is the
same two explicit steps:

    fold    ``_fold``: one ``mapInArrow`` body folds a partition's Arrow
            batches into one accumulator per spec (per key, for keyed
            builds) and emits one row per (partition, key) with all the
            payloads side by side. Row data never shuffles; only these
            O(sketch_bytes) rows do.
    merge   ``merge_rows``: a left fold of payload rows, in arrival
            order, into one row per key. A column plan (``MergeCol``)
            says which columns are payloads (with their merge function
            and identity payload), which are counts to sum and which is
            the key to group by.

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
- keyed builds (``build_multi_by_key``, ``build_by_key``) take the same
  budget over partitions x the keys one task folds: the fold caps its
  keys at the largest count that fits (``_driver_key_cap``), and the
  rows are merged per key on the driver, again one job with one stage.
  The build then runs when it is called. The fold is checkpointed
  locally as it runs: a task that folds more keys keeps its rows on the
  executors and sends a marker row instead, and the build is re-routed
  (one INFO log line) to ``groupBy(key).applyInArrow`` (``group_merge``)
  over the checkpointed rows, optionally after a salted (key, salt)
  level, so the input is still read once.

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
- Keyed builds above the budget shuffle one sketch row per
  (partition, key): the classic partial-agg pattern. A skewed key (hot
  `source`) costs nothing extra in the fold, since its rows are already
  spread across partitions, and its merge fan-in is bounded by the
  partition count, optionally salted down further.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterable, Iterator
from functools import partial
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SKETCH_SCHEMA = "payload binary, n_items bigint"
KEYED_SKETCH_SCHEMA = "key string, payload binary, n_items bigint"

_log = logging.getLogger("rusty_bloomfilter_spark")

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
# the unkeyed builds (collect_multi_bytes), the keyed builds (x keys per
# task, _driver_key_cap) and the checkpoint resume.
_DRIVER_MERGE_BYTES = 256 << 20


def _row_bytes(empties: list) -> int | None:
    """The most bytes one stage-1 row's payloads can reach: the sum of
    every sketch's ``max_payload_bytes()``; None when a sketch declares
    no maximum."""
    bounds = [getattr(e, "max_payload_bytes", None) for e in empties]
    if None in bounds:
        return None
    return sum(b() for b in bounds)


def _merges_on_driver(n_rows: int, empties: list) -> bool:
    """The driver-budget rule: True iff ``n_rows`` stage-1 rows of the
    sketches in ``empties``, each payload at the largest size its config
    can serialize to, fit in ``_DRIVER_MERGE_BYTES``. A sketch that
    declares no maximum always merges in Spark."""
    row = _row_bytes(empties)
    return row is not None and n_rows * row <= _DRIVER_MERGE_BYTES


def _driver_key_cap(n_parts: int, empties: list) -> int:
    """The keys per task a keyed build may fold and still merge on the
    driver: the largest k with ``_merges_on_driver(n_parts * k,
    empties)``, 0 when there is none."""
    row = _row_bytes(empties)
    if not row:
        return 0
    return _DRIVER_MERGE_BYTES // (max(n_parts, 1) * row)


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
    """Yield (key, sub_batch) per distinct key in the batch, in the
    order the keys first appear.

    The key is dictionary-encoded once; a stable argsort of the int32
    codes + one take groups the rows, and ``bincount`` of the codes
    gives the zero-copy slice bounds. Rows keep their order within a
    key. Keys come from the dictionary's ``to_numpy()`` (numpy scalars,
    as ``to_numpy`` of the column gives). Null keys are split out first,
    as one (None, sub_batch).
    """
    import numpy as np

    col = batch.column(key_col)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        valid = col.is_valid()
        yield None, batch.filter(pc.invert(valid))
        batch = batch.filter(valid)
        if batch.num_rows == 0:
            return
        col = batch.column(key_col)
    if len(col) == 0:
        return
    encoded = pc.dictionary_encode(col)
    uniq = encoded.dictionary.to_numpy(zero_copy_only=False)
    if len(uniq) == 1:
        yield uniq[0], batch
        return
    codes = encoded.indices.to_numpy()
    sorted_batch = batch.take(pa.array(np.argsort(codes, kind="stable")))
    offsets = np.concatenate(([0], np.cumsum(np.bincount(codes, minlength=len(uniq)))))
    for i, key in enumerate(uniq):
        yield key, sorted_batch.slice(offsets[i], offsets[i + 1] - offsets[i])


def _arrow_multi_schema(
    specs: list[MultiSpec], *, keyed: bool = False, spill: bool = False
) -> pa.Schema:
    """The fold's row layout: ([key,] n_rows, payload_<name>, n_<name>,
    ... [, spill])."""
    fields = [("key", pa.string())] if keyed else []
    fields.append(("n_rows", pa.int64()))
    for name, *_ in specs:
        fields += [(f"payload_{name}", pa.binary()), (f"n_{name}", pa.int64())]
    if spill:
        fields.append(("spill", pa.bool_()))
    return pa.schema(fields)


_DDL_TYPES = {
    pa.string(): "string", pa.int64(): "bigint", pa.binary(): "binary", pa.bool_(): "boolean",
}


def _multi_schema(specs: list[MultiSpec], *, keyed: bool = False, spill: bool = False) -> str:
    """``_arrow_multi_schema`` as a Spark DDL string."""
    return ", ".join(
        f"{f.name} {_DDL_TYPES[f.type]}"
        for f in _arrow_multi_schema(specs, keyed=keyed, spill=spill)
    )


def _fold(
    df: DataFrame, specs: list[MultiSpec], *, key_col: str | None = None,
    max_keys: int | None = None,
) -> DataFrame:
    """THE stage-1 fold: every Arrow batch of a partition goes into one
    accumulator per spec — per key of ``key_col`` when given
    (``iter_key_slices``) — in a single pass over the batch.

    Unkeyed, each partition emits exactly one row, empty partitions
    included: (n_rows, payload_<name>, n_<name>, ...). Keyed, one row
    per (partition, key), with a leading ``key string`` column.
    ``df`` must already be projected to the columns the specs (and the
    key) read.

    ``max_keys`` caps the rows one task may send to the driver: the
    rows gain a trailing ``spill`` column, true on every row of a task
    that folded more keys than that. Such a task still folds its whole
    input, and adds one marker row with ``spill`` false, ``n_rows =
    -1`` and null key, payloads and counts, so that filtering out the
    spilled rows leaves the driver a sign of them."""
    makers = [mk for _, mk, _, _ in specs]
    updates = [upd for _, _, upd, _ in specs]
    capped = max_keys is not None
    schema = _arrow_multi_schema(specs, keyed=key_col is not None, spill=capped)

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
        if capped:
            spilled = len(accs) > max_keys
            out["spill"] = [spilled] * len(accs)
            if spilled:
                marker = {"n_rows": -1, "spill": False}
                for name, col in out.items():
                    col.append(marker.get(name))
        yield pa.RecordBatch.from_pydict(out, schema=schema)

    return df.mapInArrow(fold, schema=_multi_schema(specs, keyed=key_col is not None, spill=capped))


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
    the column whose values group the rows when ``key`` (at most one per
    plan), else a count that is summed."""

    name: str
    merge: MergePayloadsFn | None = None
    identity: Callable[[], bytes] | None = None
    key: bool = False


def merge_rows(
    batches: Iterable[pa.RecordBatch], plan: list[MergeCol], *, or_identity: bool = False
) -> Iterator[pa.RecordBatch]:
    """THE payload merge: left-fold every row of ``batches``, in arrival
    order, into one row per distinct value of the plan's key column (one
    row in all when the plan has none), laid out by ``plan``, in one
    pass. Each payload buffer folds down to one payload whenever it
    reaches ``_FLUSH_AT`` (stream-fold: a task at P=100k partitions
    would otherwise buffer its whole fan-in before the first merge
    call).

    Yields one batch of those rows, in the order their keys first
    arrived, or nothing when ``batches`` hold no rows — unless
    ``or_identity``, which yields the identity row then (every payload's
    ``identity()``, counts 0; key columns are not allowed)."""
    key = next((c.name for c in plan if c.key), None)
    merged = [c for c in plan if c.merge]
    summed = [c.name for c in plan if not c.merge and not c.key]

    def new_group() -> dict[str, Any]:  # column -> running sum or payload buffer
        return {**{name: 0 for name in summed}, **{c.name: [] for c in merged}}

    groups: dict[Any, dict[str, Any]] = {}
    key_type = None
    for batch in batches:
        if not batch.num_rows:
            continue
        if key is None:
            keys = [None] * batch.num_rows
        else:
            key_type = batch.schema.field(key).type
            keys = batch.column(key).to_pylist()
        counts = [(name, batch.column(name).to_pylist()) for name in summed]
        payloads = [(c, batch.column(c.name).to_pylist()) for c in merged]
        for i, k in enumerate(keys):
            group = groups.get(k)
            if group is None:
                group = groups[k] = new_group()
            for name, col in counts:
                group[name] += col[i] or 0
            for c, col in payloads:
                buf = group[c.name]
                buf.append(col[i])
                if len(buf) >= _FLUSH_AT:
                    buf[:] = [c.merge(buf)]
    if not groups:
        if not or_identity:
            return
        groups[None] = new_group()
    cols = []
    for c in plan:
        if c.key:
            cols.append(pa.array(list(groups), key_type))
        elif c.merge:
            bufs = [g[c.name] for g in groups.values()]
            cols.append(pa.array([c.merge(b) if b else c.identity() for b in bufs], pa.binary()))
        else:
            cols.append(pa.array([g[c.name] for g in groups.values()], pa.int64()))
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
    a one-spec ``build_multi_by_key``, with the same fold and the same
    two routes. Under the driver budget the build runs when this is
    called and returns a local DataFrame; above it, the shuffle plan,
    which ``salt`` shapes."""
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
    Arrow batch into all N accumulators per key in a single pass; one
    stage-1 row per (partition, key) holds all N payloads side by side.
    Where those rows merge follows the driver budget of the unkeyed
    builds (``_driver_key_cap``):

    - while every task folds at most k keys, with partitions x k rows
      within ``_DRIVER_MERGE_BYTES``, the rows are collected over Arrow
      and ``merge_rows`` merges them per key on the driver. The build
      then runs when this is called, as one Spark job with one stage,
      and the result is a local DataFrame: collecting it starts no job;
    - when a task folds more keys (the fold counts them itself), its
      rows stay on the executors and the build is re-routed, with one
      INFO line on the ``rusty_bloomfilter_spark`` logger, to the shuffle
      plan: every task's rows shuffle (sketch rows only) and
      ``groupBy(key).applyInArrow`` merges them. The fold ran once: the
      plan reads its rows from a local checkpoint, which ties the result
      to the executors that hold them (losing one before the result's
      action fails that action). When no k fits, the build is the lazy
      shuffle plan from the start (``shuffle_multi_by_key``). ``salt >
      0`` adds an intermediate (key, salt) merge level to the shuffle
      plan, bounding any single task's fan-in to partitions/salt — use
      when the partition count is huge (the north rule's explicit skew
      handling).

    Both routes are the same per-key left fold, so they give the same
    bytes for every canonical sketch.

    -> (key, n_rows, payload_<name>, n_<name>, ...) one row per key.
    """
    src = _keyed_input(df, key_col, columns)
    n_parts = safe_partition_count(src, default=_shuffle_conf(src))
    cap = _driver_key_cap(n_parts, [mk() for _, mk, _, _ in specs])
    if cap < 1:
        _log_reroute(key_col, "not one key per task fits", n_parts)
        return shuffle_multi_by_key(src, key_col, specs, salt=salt)
    rows = _fold(src, specs, key_col=key_col, max_keys=cap).localCheckpoint(eager=False)
    table = rows.where(~F.col("spill")).drop("spill").toArrow()
    if pc.any(pc.less(table.column("n_rows"), 0)).as_py():
        _log_reroute(key_col, f"a task folded more than {cap} keys, the most that fit", n_parts)
        return _merge_by_key(rows.where(F.col("n_rows") >= 0).drop("spill"), specs, salt=salt)
    _release(rows)
    merged = list(merge_rows(table.to_batches(), _spec_plan(specs, keyed=True)))
    if merged:
        table = pa.Table.from_batches(merged)
    return src.sparkSession.createDataFrame(table, schema=_multi_schema(specs, keyed=True))


def _log_reroute(key_col: str, why: str, n_parts: int) -> None:
    _log.info(
        "build_multi_by_key on %r re-routed to the shuffle merge: %s within the driver"
        " budget (%d bytes at %d partitions)", key_col, why, _DRIVER_MERGE_BYTES, n_parts,
    )


def _release(checkpointed: DataFrame) -> None:
    """Free the executor blocks of a ``localCheckpoint(eager=False)``
    frame once it is no longer read, instead of at the JVM's next GC
    (the context cleaner frees them then if this fails)."""
    try:
        checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:  # best-effort: the blocks are freed at GC anyway
        pass


def _keyed_input(df: DataFrame, key_col: str, columns: list[str] | None) -> DataFrame:
    cols = columns or df.columns
    if key_col not in cols:
        cols = [key_col, *cols]
    return df.select(*cols)


def shuffle_multi_by_key(
    df: DataFrame,
    key_col: str,
    specs: list[MultiSpec],
    *,
    columns: list[str] | None = None,
    salt: int = 0,
) -> DataFrame:
    """``build_multi_by_key``'s shuffle route as a lazy plan, whatever the
    budget: the fold, then ``_merge_by_key``. For callers whose result
    must stay a plan until its action runs.

    -> (key, n_rows, payload_<name>, n_<name>, ...) one row per key.
    """
    rows = _fold(_keyed_input(df, key_col, columns), specs, key_col=key_col)
    return _merge_by_key(rows, specs, salt=salt)


def _merge_by_key(rows: DataFrame, specs: list[MultiSpec], *, salt: int) -> DataFrame:
    """A shuffle of keyed fold rows and ``groupBy(key).applyInArrow``
    (``group_merge``), after a (key, salt) level when ``salt > 0``."""
    schema = _multi_schema(specs, keyed=True)
    merge_group = group_merge(_spec_plan(specs, keyed=True))
    if salt > 0:
        salted = rows.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(f"payload_{specs[0][0]}")), F.lit(salt))
        )
        rows = salted.groupBy("key", "_salt").applyInArrow(merge_group, schema)
    return rows.groupBy("key").applyInArrow(merge_group, schema)
