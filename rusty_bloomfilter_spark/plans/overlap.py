"""Cross-source overlap analytics via Bloom union/intersection
estimators (reference ops: estimate_union mod.rs:48-54,
estimate_intersection mod.rs:38-40).

One keyed Bloom build (sketch rows only on the shuffle), then a
pair-join OVER THE SKETCH FRAME: the tiny (key, payload) frame is
broadcast against itself and each executor task decodes + popcounts
its batch of pairs. The driver never holds a payload — it receives
only the O(pairs) result rows of six numbers each. Broadcast cost is
O(keys x sketch_bytes); beyond ~10k keys drop the broadcast hint and
let the cross join shuffle both sides instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cache import tie
from ..operators.sketches import BloomSketch, HllSketch
from ..sketch import Shape

_OVERLAP_SCHEMA = (
    "source_a string, source_b string, est_distinct_a double, "
    "est_distinct_b double, est_union double, est_intersection double"
)


def source_overlap(
    spark: SparkSession,
    sequences: DataFrame,
    *,
    shape: Shape | None = None,
    key_col: str = "source",
    broadcast_pairs: bool = True,
    sketch: str = "bloom",
) -> DataFrame:
    """-> (source_a, source_b, est_distinct_a, est_distinct_b,
    est_union, est_intersection) for every source pair.

    ``sketch``: "bloom" (reference estimators, O(m/8) per key) or
    "hll" (16 KB per key at p=14 regardless of m — the cheaper wire
    format when only cardinalities are needed, no membership)."""
    # a NULL key cannot pair (NULL < x is NULL, so the join would drop
    # it silently) — exclude unlabeled rows BEFORE the build so they
    # don't pay for a sketch that can never appear in the output
    # (round-4 review finding; common in crawl data with missing
    # source labels)
    sequences = sequences.where(F.col(key_col).isNotNull())
    if sketch == "hll":
        sk = HllSketch(p=14)
    elif sketch == "bloom":
        sk = BloomSketch(shape or Shape.for_np(n=1_000_000, p=1e-4))
    else:
        raise ValueError(f"sketch must be 'bloom' or 'hll', got {sketch!r}")
    # the keyed build's shuffle route: build_by_key would run the build
    # now (its driver route), and this frame stays a plan until its action
    keyed = sk.shuffle_by_key(sequences, key_col).select("key", "payload")
    # self-join on an applyInPandas output recomputes the producing
    # stage per side (Spark 4.1, documented gotcha) — persist so the
    # keyed corpus build runs once; the frame is tiny (one row per key)
    keyed = keyed.persist()
    a = keyed.select(F.col("key").alias("source_a"), F.col("payload").alias("payload_a"))
    b = keyed.select(F.col("key").alias("source_b"), F.col("payload").alias("payload_b"))
    if broadcast_pairs:
        b = F.broadcast(b)
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))

    def est(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "source_a", "source_b", "est_distinct_a",
                "est_distinct_b", "est_union", "est_intersection",
            )}
            # magic-byte dispatch inside the worker: closing over the
            # sketch class makes cloudpickle serialize it by value and
            # trip on the module's struct.Struct codec objects
            from ..sketch import sketch_from_bytes

            for sa, sb, pa_, pb_ in zip(
                pdf["source_a"], pdf["source_b"], pdf["payload_a"], pdf["payload_b"]
            ):
                fa = sketch_from_bytes(bytes(pa_))
                fb = sketch_from_bytes(bytes(pb_))
                out["source_a"].append(sa)
                out["source_b"].append(sb)
                out["est_distinct_a"].append(round(fa.estimate_n(), 2))
                out["est_distinct_b"].append(round(fb.estimate_n(), 2))
                out["est_union"].append(round(fa.estimate_union(fb), 2))
                out["est_intersection"].append(round(fa.estimate_intersection(fb), 2))
            yield pd.DataFrame(out)

    return tie(pairs.mapInPandas(est, schema=_OVERLAP_SCHEMA), keyed)
