"""Compression-ratio document quality signal.

The curation heuristic the ratio features in functions/text.py cannot
express: DEFLATE compressibility. A document whose UTF-8 bytes
compress far below typical prose (~0.3-0.5 at zlib level 6) is
dominated by repeated structure — boilerplate navigation, keyword
stuffing, generated spam, log dumps — and is exactly what
repetition-filter papers cut (Rae et al. 2021 "Gopher" §A.1.1 uses
this signal family; Raffel et al. 2020 C4 cuts its cousins). Near the
other end, ratio ≈ 1 (or > 1 on short inputs, header overhead) means
high-entropy bytes: base64 blobs, hex dumps, minified assets —
equally suspect as TRAINING text but for the opposite reason, which
is why the operator emits the raw ratio and leaves both cutoffs to
the caller (``filter_sweep`` tunes them).

Execution shape: zlib is a per-payload C call, the same inherent
per-row cost class as the multimodal codecs (operators/multimodal.py)
— a vectorized Arrow batch reaches the worker, each document
compresses once, and only the double ratio column comes back. This is
deliberately NOT in a Catalyst hot path: it's a one-scan scoring pass
whose output joins the relational curation pipeline. Not
SQL-expressible, so the contract query is rows-only with in-query
planted-document gates; exactness is pinned in pytest.

No reference analogue (/root/reference has no text operators).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def compression_ratio(text: Column) -> Column:
    """len(zlib.compress(utf8, 6)) / len(utf8), rounded to 6 dp.
    NULL text or empty bytes -> NULL (no ratio to report — never a
    fake 0.0 that a threshold would happily keep or cut). The pandas
    UDF is made here, not at import: declaring it parses its return
    type through the active SparkContext, and the module must import
    without one."""
    return pandas_udf(_ratios, "double")(text)


def _ratios(text: pd.Series) -> pd.Series:
    import zlib

    def ratio(s):
        if s is None:
            return None
        b = s.encode("utf-8")
        if not b:
            return None
        return round(len(zlib.compress(b, 6)) / len(b), 6)

    return text.map(ratio)


def compressibility_profile(
    df: DataFrame,
    key_col: str,
    text_col: str,
    *,
    low: float = 0.25,
    high: float = 0.95,
) -> DataFrame:
    """Per-key compressibility profile: document counts, mean ratio,
    and the fraction outside [low, high] — the repetitive tail (below)
    and the high-entropy tail (above), the two populations a curation
    pass reviews first. Every ratio statistic uses the SCORED docs as
    its denominator (``n_scored``; NULL-ratio empty/NULL-text docs are
    reported in ``n_docs`` but excluded everywhere else — counting
    them as "not repetitive" would dilute exactly the tail the filter
    is tuning on). One corpus scan (the UDF scoring pass) into one
    map-side-combinable aggregate."""
    if not 0.0 < low < high:
        raise ValueError(f"need 0 < low < high, got low={low}, high={high}")
    r = compression_ratio(F.col(text_col))
    scored = df.select(F.col(key_col), r.alias("_r"))
    # avg() skips NULLs, so NULL-ratio docs leave BOTH the numerator and
    # the denominator of the tail fractions (CASE keeps NULL for them)
    tail = lambda cond: F.round(  # noqa: E731
        F.avg(
            F.when(F.col("_r").isNull(), None)
            .when(cond, 1.0)
            .otherwise(0.0)
        ),
        4,
    )
    return scored.groupBy(key_col).agg(
        F.count("*").alias("n_docs"),
        F.count("_r").alias("n_scored"),
        F.round(F.avg("_r"), 4).alias("mean_ratio"),
        tail(F.col("_r") < low).alias("frac_repetitive"),
        tail(F.col("_r") > high).alias("frac_high_entropy"),
    )
