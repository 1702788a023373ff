"""Exact cross-snapshot set reconciliation via IBLT difference.

The operator the estimate family builds toward: q_source_overlap_*
says HOW MUCH two snapshots share, incremental dedup flags NEW keys
against a persisted filter — this recovers the EXACT two-sided
symmetric difference (keys only in A, keys only in B) from two
difference-sized sketches, without ever shipping either key set.

Protocol (Eppstein et al. 2011, sketch/iblt.py):

  1. each snapshot folds its DISTINCT keys into an IBLT — one
     map-side partition build + tree merge (the standard sketch
     pipeline: only payload rows shuffle, canonical bytes);
  2. subtract: shared keys cancel cell-wise, leaving the sketch OF the
     difference;
  3. peel the ~O(d)-sized result back into the actual keys.

At 100 TB: two corpus scans (one per snapshot — each column-pruned to
the key), payload traffic O(max_diff) regardless of corpus size. The
classic alternative — a full-outer anti join — shuffles BOTH key sets;
this shuffles neither. Decode failure (difference larger than the
table was sized for) raises, never silently truncates; size
``max_diff`` from a KMV/HLL difference estimate when unknown
(q_kmv_overlap gives exactly that feed).

Reference parity: merge algebra axioms and K-M double hashing as the
reference Bloom core (mod.rs:621-761, hasher.rs:48-70); the
invertible extension follows the public IBLT papers.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..sketch import merge_sketch_payloads
from ..sketch.iblt import IBLT
from .aggregate import build_sketch, build_sketch_bytes
from .sketches import _scalar_values


def _keyset_iblt_spec(df: DataFrame, key_col: str, max_diff: int, k: int):
    """(distinct keys, make_empty, update, merge) of the key-set IBLT
    (set semantics — the sketch XOR-cancels repeats, so the distinct()
    is load-bearing, not an optimization)."""
    keys = df.select(F.col(key_col).alias("key")).filter(F.col("key").isNotNull()).distinct()

    def update(acc: IBLT, batch) -> None:
        acc.add_u64(_scalar_values(batch, "key").astype(np.uint64))

    return keys, lambda: IBLT.for_diff(max_diff, k), update, merge_sketch_payloads


def build_keyset_iblt(
    df: DataFrame, key_col: str, *, max_diff: int, k: int = 4
) -> DataFrame:
    """One (payload, n_items) row: the IBLT of the DISTINCT values of
    ``key_col``."""
    return build_sketch(*_keyset_iblt_spec(df, key_col, max_diff, k), columns=["key"])


def set_reconcile(
    snap_a: DataFrame,
    snap_b: DataFrame,
    key_col: str,
    *,
    max_diff: int,
    k: int = 4,
) -> DataFrame:
    """-> (key, side): every key in exactly one snapshot, side in
    {'only_a', 'only_b'}. Exact whenever the true difference fits
    ``max_diff``; raises ValueError on decode failure (undersized
    table), never a silently-partial answer."""
    spark = snap_a.sparkSession
    pa_, _ = build_sketch_bytes(*_keyset_iblt_spec(snap_a, key_col, max_diff, k), columns=["key"])
    pb_, _ = build_sketch_bytes(*_keyset_iblt_spec(snap_b, key_col, max_diff, k), columns=["key"])
    diff = IBLT.from_bytes(pa_).subtract(IBLT.from_bytes(pb_))
    only_a, only_b, complete = diff.peel()
    if not complete:
        raise ValueError(
            f"IBLT decode incomplete: difference exceeds max_diff={max_diff} "
            f"(recovered {only_a.size + only_b.size} keys before stalling) — "
            "rebuild with a larger bound (e.g. from a KMV difference estimate)"
        )
    rows = [(int(np.int64(x)), "only_a") for x in only_a] + [
        (int(np.int64(x)), "only_b") for x in only_b
    ]
    schema = StructType(
        [StructField("key", LongType()), StructField("side", StringType())]
    )
    return spark.createDataFrame(rows, schema)


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    *,
    key_col: str,
    compare_cols: "list[str]",
) -> DataFrame:
    """Row-level CONTENT diff between two snapshots of a keyed table —
    the third tier of the snapshot-comparison family: IBLT
    reconciliation recovers WHICH KEYS appeared/vanished from O(diff)
    state, compare_snapshots' PSI says whether DISTRIBUTIONS moved,
    and this says what actually CHANGED cell-by-cell for the keys
    present in both (the "data diff" a schema-change review or a
    suspected-bad-backfill investigation reads). One full-outer join
    on the key, one aggregate row out:

    - ``n_common`` / ``n_added`` / ``n_removed``: key overlap
    - ``changed_<col>``: rows in both whose value differs (NULL-safe:
      NULL→value and value→NULL each count as a change, NULL→NULL
      does not — eqNullSafe, not ``=``)
    - ``n_changed_rows``: rows in both with ANY compared column
      changed.

    Cost model: the join shuffles both snapshots on the key — at
    100 TB run the IBLT key-diff FIRST; if it reports a small churn,
    semi-join both sides down to the suspect keys before this diff
    (churn-bounded instead of corpus-bounded).
    """
    if not compare_cols:
        raise ValueError("compare_cols must be non-empty")
    la = a.select(
        F.col(key_col).alias("_k"),
        F.lit(True).alias("_ina"),
        *[F.col(c).alias(f"_a_{c}") for c in compare_cols],
    )
    lb = b.select(
        F.col(key_col).alias("_k"),
        F.lit(True).alias("_inb"),
        *[F.col(c).alias(f"_b_{c}") for c in compare_cols],
    )
    j = la.join(lb, on="_k", how="full_outer")
    both = F.col("_ina").isNotNull() & F.col("_inb").isNotNull()
    changed = {
        c: both & ~F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
        for c in compare_cols
    }
    any_changed = None
    for expr in changed.values():
        any_changed = expr if any_changed is None else (any_changed | expr)
    aggs = [
        F.sum(F.when(both, 1).otherwise(0)).alias("n_common"),
        F.sum(F.when(F.col("_ina").isNull(), 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(F.col("_inb").isNull(), 1).otherwise(0)).alias("n_removed"),
        F.sum(F.when(any_changed, 1).otherwise(0)).alias("n_changed_rows"),
    ]
    for c, expr in changed.items():
        aggs.append(F.sum(F.when(expr, 1).otherwise(0)).alias(f"changed_{c}"))
    return j.agg(*aggs)
