"""Sketch-driven range layout: KLL boundaries -> clustered files.

The third sketch-driven physical-planning operator (with skew.py's
salting plans and zonemap.py/pruning.py's file skipping): compute
BALANCED range-partition boundaries from a mergeable KLL quantile
sketch, lay the data out as one range-clustered file per bucket, and
the zone-map index over that layout turns every range predicate into a
narrow file subset.

Why not ``repartitionByRange``? Spark's RangePartitioner runs a hidden
driver-side SAMPLING job per write (an extra pass over the input, with
nondeterministic reservoir samples — two runs of the same job can cut
different boundaries). The KLL path is one mergeable scan (sketch rows
only shuffle), the boundaries are a value the pipeline can persist,
audit, and REUSE across snapshots (appending tomorrow's data to
yesterday's boundaries keeps file ranges aligned so zone maps stay
narrow), and the balance guarantee is published: each bucket holds a
quantile slice of width 1/n within the KLL rank error ~O(1/k).

Correctness never depends on where the boundaries land: bucket
assignment is a pure Catalyst expression, the final read re-applies the
exact predicate, and zone pruning is zero-FN — a bad boundary can only
cost balance, not rows (tests pin both).

Reference parity: composes the library's KLL merge algebra (the same
associative/commutative contract the reference pins for Bloom merges,
/root/reference/src/bloomfilter/mod.rs:621-761) into a layout planner;
the relational layer is ours.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sketch import KLLSketch
from .aggregate import build_multi, collect_multi_bytes
from .sketches import KllQuantiles


def range_boundaries(
    df: DataFrame, col: str, n_buckets: int, *, k: int = 200, fanout: int = 16
) -> tuple[list[float], float]:
    """(boundaries, rank_error): n_buckets-1 ascending cut points at
    ranks i/n_buckets, estimated from ONE mergeable KLL scan (no
    sampling job, no row shuffle). Duplicate cut points (heavy repeated
    values) are collapsed — callers get <= n_buckets-1 boundaries and
    correspondingly fewer, still-correct buckets."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    payload, _ = KllQuantiles(k=k, col=col).build_bytes(df, fanout=fanout)
    sk = KLLSketch.from_bytes(payload)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = [float(sk.quantile(q)) for q in qs]
    uniq: list[float] = []
    for c in cuts:
        if not uniq or c > uniq[-1]:
            uniq.append(c)
    return uniq, sk.rank_error()


def assign_buckets(
    df: DataFrame, col: str, boundaries: list[float], *, bucket_col: str = "bucket"
) -> DataFrame:
    """bucket = #(boundaries < value), pure Catalyst (a sum of
    comparisons stays inside whole-stage codegen; boundaries are plan
    literals, never a join). NULL values land in bucket 0."""
    if not boundaries:
        return df.withColumn(bucket_col, F.lit(0))
    if sorted(boundaries) != list(boundaries):
        raise ValueError("boundaries must be ascending")
    expr = reduce(
        lambda a, b: a + b,
        [(F.col(col) > F.lit(b)).cast("int") for b in boundaries],
    )
    return df.withColumn(bucket_col, F.coalesce(expr, F.lit(0)))


def write_range_layout(
    df: DataFrame,
    path: str,
    col: str,
    n_buckets: int,
    *,
    k: int = 200,
    fanout: int = 16,
) -> tuple[list[float], float]:
    """Range-cluster ``df`` by ``col`` into one parquet file per bucket
    under ``path`` (hive dirs bucket=i/). Returns (boundaries,
    rank_error) so callers can persist them and append future snapshots
    against the SAME cuts.

    repartition on the bucket id puts each bucket in exactly one task,
    so partitionBy emits exactly one file per bucket dir;
    sortWithinPartitions additionally orders rows so parquet row-group
    stats are narrow INSIDE each file (page skipping stacks under the
    zone map's file skipping)."""
    boundaries, rank_err = range_boundaries(df, col, n_buckets, k=k, fanout=fanout)
    bucketed = assign_buckets(df, col, boundaries)
    (
        bucketed.repartition(max(n_buckets, 1), F.col("bucket"))
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    return boundaries, rank_err


# ---------------------------------------------------------------------------
# Z-order (Morton) layout: MULTI-column clustering for multi-dim pruning.
# The 1-D range layout above makes predicates on ONE column narrow; a
# corpus queried on two+ independent columns (key range AND value range,
# timestamp AND user bucket) needs files that are rectangles in the
# joint space, which is exactly what a Morton curve over quantile-
# bucketed ranks produces (the layout Delta/Iceberg expose as OPTIMIZE
# ZORDER BY). Same planning discipline as the 1-D path: no hidden
# RangePartitioner sampling job — per-column boundaries come from ONE
# fused mergeable KLL scan (all columns sketched in the same pass), and
# the file cut points come from an EXACT, tiny z-histogram (<= 2^(bits x
# ncols) grid cells, a map-side-combined aggregate), so the layout is
# deterministic, auditable, and reusable across snapshots. Correctness
# never depends on the curve: pruning is zero-FN on exact per-file
# min/max bounds and the final read re-applies the exact predicate.
# ---------------------------------------------------------------------------


def multi_range_boundaries(
    df: DataFrame, cols: list[str], n_buckets: int, *, k: int = 200, fanout: int = 16
) -> tuple[dict[str, list[float]], float]:
    """Per-column balanced cut points at ranks i/n_buckets from ONE
    fused KLL scan over all ``cols`` (build_multi: every Arrow batch
    folds into one sketch per column; only sketch rows shuffle).
    Returns ({col: ascending cuts}, worst rank_error). Duplicate cuts
    (heavy repeated values) collapse per column, same contract as
    `range_boundaries`."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if not cols:
        raise ValueError("need at least one column")
    sketches = [KllQuantiles(k=k, col=c) for c in cols]
    specs = [
        (f"c{i}", sk._empty, sk._update, sk._merge)
        for i, sk in enumerate(sketches)
    ]
    _, got = collect_multi_bytes(
        build_multi(df.select(*cols), specs, columns=list(cols)), specs, fanout=fanout
    )
    qs = [i / n_buckets for i in range(1, n_buckets)]
    out: dict[str, list[float]] = {}
    worst_err = 0.0
    for i, c in enumerate(cols):
        sk = KLLSketch.from_bytes(got[f"c{i}"][0])
        uniq: list[float] = []
        for cut in (float(sk.quantile(q)) for q in qs):
            if not uniq or cut > uniq[-1]:
                uniq.append(cut)
        out[c] = uniq
        worst_err = max(worst_err, sk.rank_error())
    return out, worst_err


def zorder_expr(
    cols: list[str], boundaries: dict[str, list[float]], bits: int
) -> Column:
    """Morton z-value as a PURE Catalyst expression (stays inside
    whole-stage codegen; boundaries are plan literals, never a join).

    Each column's rank bucket = #(cuts < value) (NULLs -> bucket 0,
    matching `assign_buckets`), then bit i of column j lands at z bit
    position i*ncols + j. ``bits`` bits per column: boundaries must
    carry <= 2^bits - 1 cuts, and bits*ncols is capped at 20 because the
    z-histogram (2^(bits*ncols) cells max) is collected to the driver."""
    ncols = len(cols)
    if ncols == 0:
        raise ValueError("need at least one column")
    if bits < 1:
        raise ValueError("bits must be >= 1")
    if bits * ncols > 20:
        raise ValueError(
            f"z domain 2^{bits * ncols} too large to histogram exactly; "
            "lower bits or cluster fewer columns"
        )
    terms: list[Column] = []
    for j, c in enumerate(cols):
        cuts = boundaries[c]
        if len(cuts) > (1 << bits) - 1:
            raise ValueError(
                f"{len(cuts)} cuts for column {c!r} need more than {bits} bits"
            )
        if cuts:
            if sorted(cuts) != list(cuts):
                raise ValueError(f"boundaries for {c!r} must be ascending")
            bucket = F.coalesce(
                reduce(
                    lambda a, b: a + b,
                    [(F.col(c) > F.lit(cut)).cast("bigint") for cut in cuts],
                ),
                F.lit(0).cast("bigint"),
            )
        else:
            bucket = F.lit(0).cast("bigint")
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * ncols + j)
            )
    return reduce(lambda a, b: a + b, terms)


def _zfile_cuts(hist: list[tuple[int, int]], n_files: int) -> list[int]:
    """Upper-bound z value per output file (ascending, len < n_files)
    from the EXACT (z, count) histogram: cut wherever the cumulative
    count crosses total*(i+1)/n_files — quantile cutting on the exact
    distribution, so each file's row count is within one grid cell of
    the even share no matter how correlated the clustered columns are."""
    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    if not hist:
        return []
    total = sum(cnt for _, cnt in hist)
    last_z = hist[-1][0]
    cuts: list[int] = []
    cum = 0
    for z, cnt in hist:
        cum += cnt
        # never cut at the top occupied cell: a cut there would label an
        # EMPTY trailing file (every z falls at or below it), so the
        # written layout would have fewer files than ZorderLayout.n_files
        # claims — callers key gates and zone-map audits off that count
        if len(cuts) >= n_files - 1 or z == last_z:
            break
        if cum >= total * (len(cuts) + 1) / n_files:
            cuts.append(z)
    return cuts


@dataclass(frozen=True)
class ZorderLayout:
    """The persistable plan of a z-order write: re-apply it to append
    future snapshots against the SAME grid so per-file bounds stay
    narrow and pruning decisions stay aligned."""

    cols: tuple[str, ...]
    bits: int
    boundaries: dict[str, list[float]] = field(compare=False)
    z_cuts: list[int] = field(compare=False)
    rank_error: float = 0.0

    @property
    def n_files(self) -> int:
        return len(self.z_cuts) + 1

    def z_expr(self) -> Column:
        return zorder_expr(list(self.cols), self.boundaries, self.bits)

    def file_expr(self) -> Column:
        """file id = #(z_cuts < z), the same comparison-sum Catalyst
        trick as `assign_buckets` — no join, no shuffle beyond the
        repartition the writer asks for."""
        z = self.z_expr()
        if not self.z_cuts:
            return F.lit(0)
        return reduce(
            lambda a, b: a + b,
            [(z > F.lit(int(cut))).cast("int") for cut in self.z_cuts],
        )


def plan_zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    *,
    bits: int = 4,
    k: int = 200,
    fanout: int = 16,
) -> ZorderLayout:
    """Two bounded passes, no sampling job: (1) ONE fused KLL scan cuts
    per-column quantile boundaries (2^bits buckets each); (2) one exact
    map-side-combined z-histogram (<= 2^(bits*ncols) cells) cuts file
    boundaries along the curve so files are even-sized even when the
    clustered columns are correlated (where per-dim independence math
    would misallocate)."""
    boundaries, rank_err = multi_range_boundaries(
        df, cols, 1 << bits, k=k, fanout=fanout
    )
    z = zorder_expr(cols, boundaries, bits)
    hist_rows = df.select(z.alias("z")).groupBy("z").count().collect()
    hist = sorted((int(r["z"]), int(r["count"])) for r in hist_rows)
    return ZorderLayout(
        cols=tuple(cols),
        bits=bits,
        boundaries=boundaries,
        z_cuts=_zfile_cuts(hist, n_files),
        rank_error=rank_err,
    )


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    *,
    bits: int = 4,
    k: int = 200,
    fanout: int = 16,
    layout: ZorderLayout | None = None,
) -> ZorderLayout:
    """Z-order-cluster ``df`` into one parquet file per curve segment
    under ``path`` (hive dirs zfile=i/). Pass a previous ``layout`` to
    append a new snapshot on the SAME grid (boundaries and cuts are plan
    values, so tomorrow's files line up with yesterday's and a compacted
    zone map stays narrow).

    repartition on the file id puts each segment in exactly one task;
    sorting within the task by the z value keeps parquet row-group
    stats narrow INSIDE each file, so page skipping stacks under the
    zone map's file skipping on EVERY clustered column."""
    if layout is None:
        layout = plan_zorder_layout(df, cols, n_files, bits=bits, k=k, fanout=fanout)
    elif list(layout.cols) != list(cols):
        raise ValueError(f"layout clusters {layout.cols}, asked for {tuple(cols)}")
    staged = df.withColumn("_z", layout.z_expr()).withColumn(
        "zfile", layout.file_expr()
    )
    (
        staged.repartition(max(layout.n_files, 1), F.col("zfile"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("zfile")
        .parquet(path)
    )
    return layout
