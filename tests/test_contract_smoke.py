"""Every harness query must CONSTRUCT AND EXECUTE in a session WITHOUT
spark.sql.execution.arrow.pyspark.enabled (the session shape the
harness was written for).

The regression this guards: q_sharded_bloom passed every gate that
enabled Arrow but failed without it, because a
createDataFrame(pd.DataFrame(...)) with numpy-ndarray cells only infers a
schema under Arrow conversion.

One case per registered query (101), in registration order, at sf0.001;
this checks executability (rows materialize, schema non-empty), not
correctness — tools/check_contract.py at sf0.01 is the value gate.
"""

import pytest

SF_DIR = "/root/testdata/sf0.001"

_ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture(scope="module")
def driverlike_spark(spark):
    """The shared session with Arrow conversion OFF (runtime-settable),
    mirroring the round driver; restored afterwards for other modules."""
    prev = spark.conf.get(_ARROW_CONF, None)
    spark.conf.set(_ARROW_CONF, "false")
    yield spark
    if prev is not None:
        spark.conf.set(_ARROW_CONF, prev)


def _all_query_names():
    from rusty_bloomfilter_spark import contract

    return list(contract.queries())


@pytest.mark.parametrize("name", _all_query_names())
def test_query_executes_driverlike(driverlike_spark, name):
    from rusty_bloomfilter_spark import contract

    fn = contract.queries()[name]
    df = fn(driverlike_spark, SF_DIR)
    rows = df.count()
    assert rows >= 0
    assert df.schema.fieldNames(), f"{name}: empty schema"


def test_oracle_names_subset_of_queries():
    from rusty_bloomfilter_spark import contract

    q = set(contract.queries())
    o = set(contract.oracle_sql())
    assert o <= q, f"oracles without queries: {o - q}"
