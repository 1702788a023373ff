"""Spectral analytics over embedding columns: one-pass distributed
Gram/covariance (exact) and Frequent Directions (sketched), both
mergeable through the standard tree-merge topology.

The 100-TB shape: each task folds its Arrow batches into ONE d x d
Gram (a BLAS X^T X per batch — no per-row Python) or one ell x d FD
workspace; only those fixed-size payloads shuffle. Eigen/SVD work on
the merged result is driver-side on a d x d / ell x d array —
independent of corpus size. Use GramMatrix while d^2 comfortably fits
a task (d=4096 ~ 128 MB); switch to FrequentDirections when d is
large enough that d^2 doesn't, or when only the top spectrum is
needed: ell*d state with the certified spectral undershoot ``delta``
shipped in the payload.

``dim`` is threaded explicitly everywhere (house rule: no driver
``first()`` job at plan-construction time).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame

from ..sketch import FrequentDirections, GramMatrix
from .similarity import _stack_rows
from .sketches import _ColumnSketch


class GramSketch(_ColumnSketch):
    """Distributed exact Gram accumulator over an array<float> column.
    NULL / wrong-width rows are skipped (same tolerance contract as the
    ANN operators — one bad row must not abort a corpus job)."""

    def __init__(self, dim: int, *, vec_col: str = "embedding"):
        self.dim = dim
        self.vec_col = vec_col

    def _empty(self) -> GramMatrix:
        return GramMatrix(self.dim)

    def _update(self, acc: GramMatrix, batch) -> None:
        mat, _ = _stack_rows(batch.column(self.vec_col), self.dim)
        if mat.shape[0]:
            acc.add_rows(mat)

    def _columns(self) -> list[str]:
        return [self.vec_col]


class FreqDirsSketch(_ColumnSketch):
    """Distributed Frequent Directions over an array<float> column."""

    def __init__(self, ell: int, dim: int, *, vec_col: str = "embedding"):
        self.ell = ell
        self.dim = dim
        self.vec_col = vec_col

    def _empty(self) -> FrequentDirections:
        return FrequentDirections(self.ell, self.dim)

    def _update(self, acc: FrequentDirections, batch) -> None:
        mat, _ = _stack_rows(batch.column(self.vec_col), self.dim)
        if mat.shape[0]:
            acc.add_rows(mat)

    def _columns(self) -> list[str]:
        return [self.vec_col]


def embedding_gram(
    df: DataFrame, dim: int, *, vec_col: str = "embedding", round_dp: int | None = 6
) -> DataFrame:
    """Exact corpus Gram as an upper-triangle DataFrame (i, j, g).

    Result size is dim*(dim+1)/2 rows — a function of the embedding
    WIDTH, never the corpus, so the driver-side construction is
    k-bounded in the same sense as a collected top-k. ``round_dp``
    rounds entries for cross-engine comparison (float32 inputs summed
    in float64; reorder noise ~1e-13 at the test scale)."""
    payload, _ = GramSketch(dim, vec_col=vec_col).build_bytes(df)
    g = GramMatrix.from_bytes(payload).g
    iu, ju = np.triu_indices(dim)
    vals = g[iu, ju]
    if round_dp is not None:
        vals = np.round(vals, round_dp) + 0.0  # +0.0 normalizes -0.0
    rows = [(int(a), int(b), float(v)) for a, b, v in zip(iu, ju, vals)]
    return df.sparkSession.createDataFrame(rows, "i int, j int, g double")


def embedding_spectrum(
    df: DataFrame, ell: int, dim: int, *, vec_col: str = "embedding"
) -> DataFrame:
    """Top spectrum of the corpus Gram, self-auditing: one FD pass
    (the scale path) AND one exact Gram pass, emitting per component
    (component, sigma_sq_est, sigma_sq_exact, delta, in_bound) where
    the FD sandwich + Weyl's inequality certify
    0 <= sigma_sq_exact - sigma_sq_est <= delta for every component.
    ``in_bound`` is evaluated in-row so a rows-only driver check still
    witnesses the bound (house pattern for estimate queries)."""
    fd_payload, _ = FreqDirsSketch(ell, dim, vec_col=vec_col).build_bytes(df)
    fd = FrequentDirections.from_bytes(fd_payload)
    g_payload, _ = GramSketch(dim, vec_col=vec_col).build_bytes(df)
    exact = GramMatrix.from_bytes(g_payload).eigh()[0]

    sv = fd.singular_values()
    est = np.zeros(ell, dtype=np.float64)
    est[: sv.size] = sv * sv
    ex = np.maximum(exact[:ell], 0.0)  # eigh noise can dip -1e-12
    # sandwich with a relative epsilon for driver-side float noise
    tol = 1e-9 * max(1.0, fd.fro_sq)
    rows = [
        (
            int(i),
            float(est[i]),
            float(ex[i]),
            float(fd.delta),
            bool(ex[i] - est[i] >= -tol and ex[i] - est[i] <= fd.delta + tol),
        )
        for i in range(ell)
    ]
    return df.sparkSession.createDataFrame(
        rows, "component int, sigma_sq_est double, sigma_sq_exact double, delta double, in_bound boolean"
    )


def cluster_quality(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Davies–Bouldin cluster quality over a labeled embedding corpus
    (Davies & Bouldin 1979, q = 1 average-Euclidean scatter): per
    label, within-cluster scatter s_i, the worst separation ratio
    R_i = max_{j≠i} (s_i + s_j)/d(c_i, c_j), which neighbor attains
    it, and the corpus DB index (mean R_i — lower is better). The
    label-health diagnostic after q_embedding_centroids: centroids say
    WHERE each domain sits, this says WHICH domains have collapsed
    into each other (the pair a dedup/mixing pass should look at
    first).

    Distributed shape: the corpus posexplodes ONCE into a persisted
    (id, label, pos, v) frame feeding both passes (centroids, then
    per-vector distances against the broadcast |labels|·dim centroid
    frame — a second pass is inherent: mean distance TO the centroid
    is not a function of moments). Everything after the per-vector
    aggregate is bounded by |labels|² — label pairs, ratios, and the
    final index never touch corpus-sized data. Ties in the worst
    neighbor resolve to the larger label, identically cross-engine
    (max-of-struct ≡ ORDER BY ratio DESC, label DESC).
    """
    from pyspark.sql import functions as F

    from .cache import tie

    e = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_l"),
        F.posexplode(vec_col).alias("_pos", "_v"),
    ).persist()
    cent = e.groupBy("_l", "_pos").agg(F.avg("_v").alias("_m"))
    pd_ = (
        e.join(
            F.broadcast(cent),
            on=["_l", "_pos"],
        )
        .groupBy("_id", "_l")
        .agg(
            F.sqrt(F.sum((F.col("_v") - F.col("_m")) * (F.col("_v") - F.col("_m"))))
            .alias("_dist")
        )
    )
    s = pd_.groupBy("_l").agg(
        F.avg("_dist").alias("_s"), F.count("*").alias("n_vecs")
    )
    a = cent.alias("a")
    b = cent.alias("b")
    dmat = (
        a.join(
            b,
            on=[
                F.col("a._pos") == F.col("b._pos"),
                F.col("a._l") != F.col("b._l"),
            ],
        )
        .groupBy(F.col("a._l").alias("_la"), F.col("b._l").alias("_lb"))
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("a._m") - F.col("b._m"))
                    * (F.col("a._m") - F.col("b._m"))
                )
            ).alias("_d")
        )
    )
    sa = s.select(F.col("_l").alias("_la"), F.col("_s").alias("_sa"), "n_vecs")
    sb = s.select(F.col("_l").alias("_lb"), F.col("_s").alias("_sb"))
    # identical centroids (d = 0) are exactly the collapsed-cluster case
    # this diagnostic exists to surface: report +inf rather than crash
    # (Spark 4 ANSI double/0 THROWS — guard BEFORE dividing; CaseWhen
    # short-circuits per row, so the division never sees d = 0)
    ratio = F.when(
        F.col("_d") > 0.0,
        F.round((F.col("_sa") + F.col("_sb")) / F.col("_d"), 6),
    ).otherwise(F.lit(float("inf")))
    ratios = (
        dmat.join(sa, on="_la")
        .join(sb, on="_lb")
        .select(
            "_la",
            "n_vecs",
            "_sa",
            ratio.alias("_r"),
            "_lb",
        )
    )
    per_label = ratios.groupBy("_la", "n_vecs", "_sa").agg(
        F.max(F.struct(F.col("_r").alias("r"), F.col("_lb").alias("lb"))).alias(
            "_w"
        )
    )
    db = per_label.agg(F.round(F.avg("_w.r"), 6).alias("db_index"))
    out = per_label.crossJoin(F.broadcast(db)).select(
        F.col("_la").alias(label_col),
        F.col("n_vecs"),
        F.round("_sa", 6).alias("scatter"),
        F.col("_w.r").alias("worst_ratio"),
        F.col("_w.lb").cast("int").alias("worst_neighbor"),
        F.col("db_index"),
    )
    return tie(out, e)
