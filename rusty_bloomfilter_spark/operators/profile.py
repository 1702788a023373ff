"""ANALYZE-style table profiler: every column's stats in ONE scan.

The cost model for everything else in this library (zone maps, range /
z-order layouts, skew salting, join advice) starts from per-column
statistics — and at 100 TB the statistics job must itself be cheap.
``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`` re-scans per
feature; ``profile_table`` makes exactly ONE pass:

- EXACT stats (row count, per-column null count, min, max) ride the
  scan as ``df.observe`` metrics — a CollectMetrics node costs zero
  extra jobs and zero extra passes; values are JVM-side Catalyst
  aggregates, no row ever reaches Python for them.
- ESTIMATED stats fold into mergeable sketches in the SAME pass via
  ``aggregate.build_multi``: an HLL per column (distinct count — string
  and timestamp columns go through a JVM-side ``xxhash64`` projection,
  NULLs masked out so they never count as a value), a KLL per numeric
  column (quantiles), and a Misra-Gries per integer column (hot values
  with deterministic bounds, feeding straight into skew salting
  decisions). No row data moves; the driver receives one row of
  payloads per partition plus the metrics map, never data.

Every estimate carries its published error bound in the result
(``ndv_rel_error``, ``quantile_rank_error``, ``hot_key_err_ub``) — no
estimate is silently treated as exact, same discipline as
operators/skew.py.

Reference parity: composes the reference's mergeable-summary algebra
(merge matrices /root/reference/src/bloomfilter/mod.rs:621-761) into a
whole-table statistics operator; the relational layer (observe metrics,
hash projections, type dispatch) is ours.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

from ..sketch import HyperLogLog, KLLSketch, MisraGries, merge_sketch_payloads
from .aggregate import build_multi, collect_multi_bytes
from .skew import HotKey, _hot_keys

_INT_TYPES = (ByteType, ShortType, IntegerType, LongType)
_FLOAT_TYPES = (FloatType, DoubleType, DecimalType)
_ORDERED_EXTRA = (StringType, TimestampType, TimestampNTZType, DateType)


@dataclass(frozen=True)
class ColumnProfile:
    """One column's statistics. ``min_value``/``max_value`` are EXACT
    (Catalyst aggregates, the column's own Python type); estimates are
    sketch-backed with their bound alongside."""

    column: str
    dtype: str
    n_rows: int          # exact, table-wide
    n_nulls: int         # exact
    min_value: object    # exact; None iff the column is all NULL
    max_value: object
    ndv_est: float       # HLL estimate over NON-NULL values
    ndv_rel_error: float
    quantiles: dict[float, float] = field(default_factory=dict)  # numeric cols
    quantile_rank_error: float = 0.0
    hot_keys: list[HotKey] = field(default_factory=list)  # integer cols
    hot_key_err_ub: int = 0

    @property
    def null_fraction(self) -> float:
        return self.n_nulls / self.n_rows if self.n_rows else 0.0


def _nonnull_array(batch, col: str):
    import pyarrow as pa

    arr = batch.column(col)
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = arr.drop_null()
    return arr


def _hll_update(col: str):
    """NULLs are masked JVM-side (hash column is NULL iff value is) and
    DROPPED here, so they never count toward distinct values; the hash
    column is int64 with no nulls after the drop, so no float promotion
    can round it (the 2^53 hazard _scalar_values documents)."""

    def upd(acc: HyperLogLog, batch) -> None:
        arr = _nonnull_array(batch, col)
        if len(arr):
            acc.add_tokens(arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False))

    return upd


def _kll_update(col: str):
    def upd(acc: KLLSketch, batch) -> None:
        arr = _nonnull_array(batch, col)
        if len(arr):
            acc.update_batch(
                np.asarray(arr.to_numpy(zero_copy_only=False), dtype=np.float64)
            )

    return upd


def _mg_update(col: str):
    def upd(acc: MisraGries, batch) -> None:
        arr = _nonnull_array(batch, col)
        if len(arr):
            acc.add_tokens(arr.to_numpy(zero_copy_only=False).astype(np.int64, copy=False))

    return upd


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    hll_p: int = 14,
    kll_k: int = 200,
    mg_capacity: int = 64,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    fanout: int = 16,
) -> list[ColumnProfile]:
    """Profile ``columns`` (default: every supported column) in ONE
    scan of ``df``. Supported: integer, float/decimal, string,
    timestamp, date; unsupported types raise (profile what you name,
    never silently skip).

    Exactly one job runs: the build_multi sketch pass, with the exact
    aggregates observed on the same action. At 100 TB this is the
    statistics collection a layout/advisor pipeline runs once per
    snapshot and persists next to the data.
    """
    from pyspark.sql import Observation

    schema = {f.name: f.dataType for f in df.schema.fields}
    if columns is None:
        columns = [
            n
            for n, t in schema.items()
            if isinstance(t, _INT_TYPES + _FLOAT_TYPES + _ORDERED_EXTRA)
        ]
    if not columns:
        raise ValueError("no profilable columns")
    for c in columns:
        if c not in schema:
            raise ValueError(f"unknown column {c!r}")
        if not isinstance(schema[c], _INT_TYPES + _FLOAT_TYPES + _ORDERED_EXTRA):
            raise ValueError(f"unsupported dtype for {c!r}: {schema[c].simpleString()}")

    # exact stats ride the same action as CollectMetrics aggregates
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, c in enumerate(columns):
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{i}"),
            F.min(c).alias(f"min_{i}"),
            F.max(c).alias(f"max_{i}"),
        ]
    obs = Observation("profile_table")
    observed = df.observe(obs, *aggs)

    # sketch inputs: numerics feed KLL natively; EVERY column gets a
    # NULL-masked xxhash64 projection for HLL (and integers feed MG
    # directly) — all JVM-side, one projection, still one scan
    proj: list = []
    specs: list = []
    sketch_cols: list[str] = []
    for i, c in enumerate(columns):
        t = schema[c]
        hcol = f"__h_{i}"
        proj.append(F.when(F.col(c).isNotNull(), F.xxhash64(c)).alias(hcol))
        sketch_cols.append(hcol)
        specs.append((f"hll_{i}", _mk(HyperLogLog, hll_p), _hll_update(hcol), merge_sketch_payloads))
        if isinstance(t, _INT_TYPES + _FLOAT_TYPES):
            proj.append(F.col(c).cast("double").alias(f"__v_{i}"))
            sketch_cols.append(f"__v_{i}")
            specs.append(
                (f"kll_{i}", _mk(KLLSketch, kll_k), _kll_update(f"__v_{i}"), merge_sketch_payloads)
            )
        if isinstance(t, _INT_TYPES):
            proj.append(F.col(c).alias(f"__k_{i}"))
            sketch_cols.append(f"__k_{i}")
            specs.append(
                (f"mg_{i}", _mk(MisraGries, mg_capacity), _mg_update(f"__k_{i}"), merge_sketch_payloads)
            )

    _, got = collect_multi_bytes(
        build_multi(observed.select(*proj), specs, columns=sketch_cols), specs, fanout=fanout
    )
    totals = obs.get

    out: list[ColumnProfile] = []
    n_rows = int(totals["n_rows"])
    ndv_err = 1.04 / math.sqrt(2.0**hll_p)
    for i, c in enumerate(columns):
        t = schema[c]
        hll = HyperLogLog.from_bytes(got[f"hll_{i}"][0])
        qs: dict[float, float] = {}
        rank_err = 0.0
        if isinstance(t, _INT_TYPES + _FLOAT_TYPES):
            kll = KLLSketch.from_bytes(got[f"kll_{i}"][0])
            if kll.n_items:
                qs = {q: float(kll.quantile(q)) for q in quantiles}
            rank_err = kll.rank_error()
        hot: list[HotKey] = []
        err_ub = 0
        if isinstance(t, _INT_TYPES):
            mg = MisraGries.from_bytes(got[f"mg_{i}"][0])
            n_vals = n_rows - int(totals[f"nulls_{i}"])
            hot = _hot_keys(mg, n_vals)
            err_ub = int(mg.err_ub)
        out.append(
            ColumnProfile(
                column=c,
                dtype=t.simpleString(),
                n_rows=n_rows,
                n_nulls=int(totals[f"nulls_{i}"]),
                min_value=totals[f"min_{i}"],
                max_value=totals[f"max_{i}"],
                ndv_est=float(hll.estimate()),
                ndv_rel_error=ndv_err,
                quantiles=qs,
                quantile_rank_error=rank_err,
                hot_keys=hot,
                hot_key_err_ub=err_ub,
            )
        )
    return out


def _mk(cls, arg):
    """Constructor thunk that avoids closing over loop variables."""

    def make():
        return cls(arg)

    return make
