"""Percentile-rank normalization from a broadcast KLL sketch — the
global sort you never run.

Quality pipelines threshold on PERCENTILES ("drop the bottom 5% by LM
score", "keep docs between the 10th and 98th length percentile"), and
the exact percentile rank of every row is a cume_dist window over a
GLOBAL order — a single-partition sort of the corpus, the canonical
scale-killer. The sketch form runs ONE mergeable-KLL scan (sketch rows
only on the shuffle), broadcasts the ~KB payload, and maps every row to
its estimated rank in a second map-only pass: no global sort, no
shuffle of row data, and the estimate is within the published KLL rank
error eps ~ O(1/k) of the true cume_dist — uniformly, for every value
at once (the sketch bounds RANK error, which is exactly the quantity
being emitted; contrast value-space estimates whose error depends on
local density).

Reference scope: composition of the KLL merge algebra over the
reference's token model; no analogous surface in /root/reference.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

__all__ = ["percentile_normalize"]


def percentile_normalize(
    df: DataFrame,
    value_col: str,
    *,
    k: int = 200,
    out_col: str = "pct_est",
    fanout: int = 16,
) -> DataFrame:
    """-> ``df`` + ``out_col`` double: estimated cume_dist of each
    row's ``value_col`` (fraction of corpus mass <= value), from one
    KLL build + a broadcast payload. NULL/NaN values rank NaN.

    Two passes over the corpus (build, then annotate), zero joins,
    zero row shuffles; error <= the sketch's rank_error() uniformly.
    """
    from .sketches import KllQuantiles

    payload, _ = KllQuantiles(k, col=value_col).build_bytes(df, fanout=fanout)
    bc = df.sparkSession.sparkContext.broadcast(payload)
    # StructType.add MUTATES (and returns) the instance — calling it on
    # df.schema would corrupt the input frame's cached schema; build a
    # fresh StructType instead
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )
    col_idx = df.columns.index(value_col)

    def annotate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..sketch import sketch_from_bytes

        sk = sketch_from_bytes(bc.value)
        for b in batches:
            vals = b.column(col_idx).to_numpy(zero_copy_only=False)
            ranks = sk.rank_batch(np.asarray(vals, dtype=np.float64))
            yield b.append_column(out_col, pa.array(ranks, type=pa.float64()))

    return df.mapInArrow(annotate, schema=out_schema)


def weighted_length_quantiles(
    df: DataFrame,
    *,
    group_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "n_tok",
    pcts: "tuple[int, ...]" = (50, 90),
) -> DataFrame:
    """TOKEN-weighted document-length quantiles per group: the length
    of the document the p-th percentile TOKEN lives in — "half the
    training tokens come from docs of at least N tokens". The
    doc-weighted median (q_ntok_quantiles_by_source) answers what a
    typical DOCUMENT looks like; this answers what a typical TOKEN's
    context looks like, which is what actually hits the model — a few
    giant documents can hold most of the mass while the doc-median
    stays tiny (q_pareto_coverage measures that same skew as a
    concentration ratio; this converts it into the quantile the
    chunk/pack parameter choice needs).

    Exactness: selection is pure BIGINT arithmetic — the smallest
    length whose cumulative token mass reaches pct% (100·cum ≥
    pct·total on the deterministic (weight, id) ascending order), so
    every emitted quantile is an exact integer cross-engine, no
    interpolation, no float boundary. One windowed pass per group +
    one aggregate.
    """
    from pyspark.sql import Window

    for p in pcts:
        if not 0 < p <= 100:
            raise ValueError(f"pcts must be in (0,100], got {p}")
    w_ord = (
        Window.partitionBy(group_col)
        .orderBy(F.col(weight_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    wt = F.col(weight_col).cast("bigint")
    base = df.select(
        F.col(group_col),
        wt.alias("_w"),
        F.sum(wt).over(w_ord).alias("_cum"),
        F.sum(wt).over(w_all).alias("_tot"),
    )
    aggs = [
        F.count("*").alias("n_docs"),
        F.max("_tot").alias("total_weight"),
    ]
    for p in pcts:
        qualifies = F.lit(100) * F.col("_cum") >= F.lit(int(p)) * F.col("_tot")
        aggs.append(
            F.min(F.when(qualifies, F.col("_w"))).alias(f"w_p{int(p)}")
        )
    return base.groupBy(group_col).agg(*aggs)
