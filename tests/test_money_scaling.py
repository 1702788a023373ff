"""Money-column invariant of the TPC-H testdata: on every `lineitem`
and `orders` money value, floor(x*1e4 + 0.5) (pure double HALF_UP)
equals CAST(x AS DECIMAL(38,4)). Exact money sums over these tables can
therefore run on 1e4-scaled longs without drifting from the decimal
formulation; the small SF re-audit keeps the fixture from regressing.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _sc4(c):
    return F.floor(F.col(c) * 10000 + F.lit(0.5)).cast("long")


def _dec4u(c):
    return (F.col(c).cast("decimal(38,4)") * 10000).cast("long")


@pytest.mark.parametrize(
    "table, cols",
    [
        ("lineitem", ["l_quantity", "l_extendedprice", "l_discount"]),
        ("orders", ["o_totalprice"]),
    ],
)
def test_floor_scaling_equals_decimal_cast(spark, table, cols):
    df = spark.read.parquet(f"{SF}/{table}.parquet")
    bad = df.agg(
        *[F.sum((_sc4(c) != _dec4u(c)).cast("long")).alias(c) for c in cols]
    ).collect()[0]
    assert all(bad[c] == 0 for c in cols), dict(bad.asDict())

