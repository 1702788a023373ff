"""Spark integration: distributed builds equal the single-threaded
numpy oracle bitwise; partition-count invariance; skew-salted keyed
builds; probe UDFs. (SURVEY.md §5 Spark-integration plan.)"""

import numpy as np
import pytest

from rusty_bloomfilter_spark.operators import (
    BloomSketch,
    CmsSketch,
    HllSketch,
    KllQuantiles,
    collect_sketch_bytes,
)
from rusty_bloomfilter_spark.sketch import (
    BloomFilter,
    CountMinSketch,
    HyperLogLog,
    Shape,
)

SHAPE = Shape.for_np(n=300_000, p=1e-4)


@pytest.fixture(scope="module")
def seq_df(spark, sequences_pdf):
    return spark.createDataFrame(sequences_pdf)


def oracle_bloom(sequences_pdf, shape, ngram=1):
    f = BloomFilter.empty(shape)
    if ngram == 1:
        f.add_tokens(np.concatenate(list(sequences_pdf["tokens"])))
    else:
        for t in sequences_pdf["tokens"]:
            f.add_ngrams(t, ngram)
    return f


def test_bloom_build_equals_oracle_bitwise(spark, seq_df, sequences_pdf):
    sk = BloomSketch(SHAPE)
    payload, n_items = sk.build_bytes(seq_df)
    oracle = oracle_bloom(sequences_pdf, SHAPE)
    got = BloomFilter.from_bytes(payload)
    assert got.words.tobytes() == oracle.words.tobytes()
    assert n_items == oracle.n_items == int(sequences_pdf["n_tok"].sum())


@pytest.mark.parametrize("parts", [2, 16])
def test_bloom_partition_invariance(spark, seq_df, sequences_pdf, parts):
    """repartition(2) vs repartition(16) -> byte-identical final sketch
    (north-star merge-order invariance, end to end through Spark)."""
    sk = BloomSketch(SHAPE)
    payload, _ = sk.build_bytes(seq_df.repartition(parts))
    oracle = oracle_bloom(sequences_pdf, SHAPE)
    assert payload == oracle.to_bytes()


def test_bloom_ngram_build_equals_oracle(spark, seq_df, sequences_pdf):
    sk = BloomSketch(SHAPE, ngram=3)
    payload, _ = sk.build_bytes(seq_df.repartition(5))
    oracle = oracle_bloom(sequences_pdf, SHAPE, ngram=3)
    assert BloomFilter.from_bytes(payload).words.tobytes() == oracle.words.tobytes()


def test_bloom_zero_false_negatives_and_fpr(spark, seq_df, sequences_pdf):
    sk = BloomSketch(SHAPE)
    payload, _ = sk.build_bytes(seq_df)
    bf = BloomFilter.from_bytes(payload)
    all_tokens = np.concatenate(list(sequences_pdf["tokens"]))
    assert bool(bf.contains_tokens(all_tokens).all())
    # disjoint probe domain measures FPR
    absent = np.arange(10**6, 10**6 + 100_000, dtype=np.int64)
    fpr = float(bf.contains_tokens(absent).mean())
    assert fpr <= SHAPE.false_positives(len(np.unique(all_tokens))) * 1.5 + 1e-4


def test_probe_udfs(spark, seq_df, sequences_pdf):
    sk = BloomSketch(SHAPE)
    payload, _ = sk.build_bytes(seq_df)
    present = int(sequences_pdf["tokens"].iloc[0][0])
    probe_df = spark.createDataFrame(
        [(present, True), (10**7 + 12345, False)], ["token", "expected"]
    )
    rows = probe_df.withColumn("hit", sk.might_contain_udf(payload)("token")).collect()
    got = {r["token"]: r["hit"] for r in rows}
    assert got[present] is True  # zero false negatives
    # contained-fraction over the original token arrays: all 1.0
    frac = seq_df.select(
        sk.contained_fraction_udf(payload)("tokens").alias("frac")
    ).agg({"frac": "min"}).collect()[0][0]
    assert frac == 1.0


def test_count_contained_on_an_input_with_no_partitions(spark):
    """A probe over an input with no partitions sums no rows: (0, 0),
    not a TypeError from the NULL sums."""
    from rusty_bloomfilter_spark.operators import BlockedBloomSketch

    df = spark.createDataFrame([([1, 2, 3],)], "tokens array<int>")
    sk = BlockedBloomSketch.for_np(n=1000, p=1e-3)
    payload, _ = sk.build_bytes(df)
    assert df.limit(0).rdd.getNumPartitions() == 0
    assert sk.count_contained(df.limit(0), payload) == (0, 0)
    assert sk.count_contained(df, payload) == (3, 3)


def test_bloom_by_key_with_salt(spark, seq_df, sequences_pdf, monkeypatch):
    from rusty_bloomfilter_spark.operators import aggregate

    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)  # salt shapes the shuffle only
    sk = BloomSketch(SHAPE)
    rows = sk.build_by_key(seq_df, "source", salt=4).collect()
    got = {r["key"]: BloomFilter.from_bytes(bytes(r["payload"])) for r in rows}
    assert set(got) == set(sequences_pdf["source"].unique())
    for src, bf in got.items():
        mask = sequences_pdf["source"] == src
        oracle = BloomFilter.empty(SHAPE).add_tokens(
            np.concatenate(list(sequences_pdf.loc[mask, "tokens"]))
        )
        assert bf.words.tobytes() == oracle.words.tobytes()
        assert bf.n_items == oracle.n_items


def test_hll_build_matches_oracle_and_exact(spark, seq_df, sequences_pdf):
    hs = HllSketch(p=12)
    payload, _ = collect_sketch_bytes(hs.build(seq_df.repartition(7)))
    got = HyperLogLog.from_bytes(payload)
    all_tokens = np.concatenate(list(sequences_pdf["tokens"]))
    oracle = HyperLogLog(p=12).add_tokens(all_tokens)
    assert np.array_equal(got.registers, oracle.registers)  # register-identical
    true = len(np.unique(all_tokens))
    assert abs(got.estimate() - true) / true < 3 * got.relative_error()


def test_cms_build_matches_oracle(spark, seq_df, sequences_pdf):
    cs = CmsSketch(d=5, w=16384)
    payload, n = cs.build_bytes(seq_df.repartition(3))
    all_tokens = np.concatenate(list(sequences_pdf["tokens"]))
    oracle = CountMinSketch(5, 16384).add_tokens(all_tokens)
    got = CountMinSketch.from_bytes(payload)
    assert np.array_equal(got.table, oracle.table)
    assert n == len(all_tokens)
    # point estimates never underestimate
    vals, counts = np.unique(all_tokens[:500], return_counts=True)
    full_counts = np.array([(all_tokens == v).sum() for v in vals[:20]])
    est = got.query_tokens(vals[:20])
    assert bool((est >= full_counts).all())


def test_kll_quantiles_close_to_exact(spark, seq_df, sequences_pdf):
    kq = KllQuantiles(k=200, col="n_tok")
    qs = [0.1, 0.5, 0.9]
    got = kq.quantiles(seq_df.repartition(6), qs)
    vals = np.sort(sequences_pdf["n_tok"].to_numpy())
    for q, est in zip(qs, got):
        true_rank = np.searchsorted(vals, est) / len(vals)
        assert abs(true_rank - q) <= 0.05


def test_hll_vs_native_approx_count_distinct(spark, seq_df, sequences_pdf):
    """Cross-check our HLL against Spark's native HLL++ and the exact
    count (SURVEY §5: native estimator as test oracle)."""
    import numpy as np
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators import HllSketch

    ours = HllSketch(p=14).estimate(seq_df)
    native = (
        seq_df.select(F.explode("tokens").alias("tok"))
        .agg(F.approx_count_distinct("tok", rsd=0.01).alias("n"))
        .collect()[0]["n"]
    )
    exact = len(np.unique(np.concatenate(list(sequences_pdf["tokens"]))))
    assert abs(ours - exact) / exact < 0.03
    assert abs(ours - native) / exact < 0.04


def test_cms_and_kll_by_key(spark, seq_df, sequences_pdf):
    """Per-key frequency and quantile sketches match per-key oracles."""
    cs = CmsSketch(d=4, w=8192)
    rows = cs.build_by_key(seq_df, "source").collect()
    assert set(r["key"] for r in rows) == set(sequences_pdf["source"].unique())
    for r in rows:
        mask = sequences_pdf["source"] == r["key"]
        toks = np.concatenate(list(sequences_pdf.loc[mask, "tokens"]))
        oracle = CountMinSketch(4, 8192).add_tokens(toks)
        got = CountMinSketch.from_bytes(bytes(r["payload"]))
        assert np.array_equal(got.table, oracle.table)

    kq = KllQuantiles(k=128, col="n_tok")
    out = kq.quantiles_by_key(seq_df, "source", [0.5]).collect()
    for r in out:
        vals = np.sort(
            sequences_pdf.loc[sequences_pdf["source"] == r["key"], "n_tok"].to_numpy()
        )
        rank = np.searchsorted(vals, r["value"]) / len(vals)
        assert abs(rank - 0.5) < 0.12


def test_build_on_empty_dataframe(spark):
    """Empty input -> the sketch identity (empty filter), not a crash."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("tokens", T.ArrayType(T.IntegerType())),
            T.StructField("n_tok", T.IntegerType()),
            T.StructField("source", T.StringType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    sk = BloomSketch(SHAPE)
    payload, n = sk.build_bytes(empty)
    bf = BloomFilter.from_bytes(payload)
    assert n == 0 and bf.cardinality() == 0
    assert bf == BloomFilter.empty(SHAPE)


def test_cms_weighted_add():
    """CMS weighted updates (counts column) match repeated inserts."""
    a = CountMinSketch(4, 1024)
    vals = np.array([5, 9, 5], dtype=np.int64)
    a.add_u64(vals.view(np.uint64), counts=np.array([3, 2, 1]))
    b = CountMinSketch(4, 1024)
    b.add_tokens(np.array([5, 5, 5, 5, 9, 9], dtype=np.int64))
    assert np.array_equal(a.table, b.table)
    assert a.n_items == b.n_items == 6


def test_sql_sketch_aggregates(spark, seq_df, sequences_pdf):
    """Pure-SQL sketch aggregation: hll_agg/bloom_agg payloads are
    bitwise identical to the tree-merge builders (canonical bytes), and
    estimates land within published bounds of exact distincts."""
    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql
    from rusty_bloomfilter_spark.sketch import Shape

    register_sketch_sql(spark, hll_p=12, bloom_n=100_000, bloom_p=1e-3)
    seq_df.createOrReplaceTempView("seq_sql")
    rows = spark.sql(
        """
        SELECT source,
               hll_agg(tokens) AS hll_payload,
               hll_estimate(hll_agg(tokens)) AS est,
               bloom_agg(tokens) AS bloom_payload,
               bloom_estimate_n(bloom_agg(tokens)) AS est2
        FROM seq_sql GROUP BY source
        """
    ).collect()
    assert len(rows) == sequences_pdf["source"].nunique()
    shape = Shape.for_np(n=100_000, p=1e-3)
    for r in rows:
        grp = sequences_pdf[sequences_pdf["source"] == r["source"]]
        exact = len(np.unique(np.concatenate(list(grp["tokens"]))))
        assert abs(r["est"] - exact) / exact < 0.1
        assert abs(r["est2"] - exact) / exact < 0.1
        # canonical-bytes parity with the builder pipeline
        oracle_hll = HyperLogLog(12)
        oracle_hll.add_tokens(np.concatenate(list(grp["tokens"])).astype(np.int64))
        assert bytes(r["hll_payload"]) == oracle_hll.to_bytes()
        oracle_bf = BloomFilter.empty(shape)
        oracle_bf.add_tokens(np.concatenate(list(grp["tokens"])).astype(np.int64))
        assert bytes(r["bloom_payload"]) == oracle_bf.to_bytes()


def test_sql_cms_kll_functions(spark, seq_df, sequences_pdf):
    """cms_agg/cms_query and kll_agg/kll_quantile SQL functions:
    payloads match the numpy sketches bitwise; CMS one-sided bound and
    KLL rank-error bound hold vs exact answers."""
    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql
    from rusty_bloomfilter_spark.sketch import CountMinSketch, KLLSketch

    register_sketch_sql(spark, cms_d=5, cms_w=4096, kll_k=128, prefix="t3_")
    seq_df.createOrReplaceTempView("seq_sql3")
    flat = np.concatenate(list(sequences_pdf["tokens"])).astype(np.int64)
    top_tok = int(np.bincount(flat - flat.min()).argmax() + flat.min())
    row = spark.sql(
        f"""
        SELECT t3_cms_agg(tokens) AS cms_payload,
               t3_cms_query(t3_cms_agg(tokens), {top_tok}) AS est_count,
               t3_kll_agg(CAST(n_tok AS DOUBLE)) AS kll_payload,
               t3_kll_quantile(t3_kll_agg(CAST(n_tok AS DOUBLE)), 0.5) AS p50
        FROM seq_sql3
        """
    ).collect()[0]
    true_count = int((flat == top_tok).sum())
    assert true_count <= row["est_count"] <= true_count + 0.01 * len(flat)
    oracle_cms = CountMinSketch(d=5, w=4096).add_tokens(flat)
    assert bytes(row["cms_payload"]) == oracle_cms.to_bytes()
    ntok = sequences_pdf["n_tok"].to_numpy(dtype=np.float64)
    true_rank = (ntok <= row["p50"]).mean()
    assert abs(true_rank - 0.5) <= 2 * KLLSketch(k=128).rank_error() + 2 / len(ntok)


def test_sql_ams_functions(spark, seq_df, sequences_pdf):
    """ams_agg/ams_f2/ams_query: payload matches the numpy CountSketch
    bitwise; F2 estimate within the published bound of exact."""
    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql
    from rusty_bloomfilter_spark.sketch import CountSketch

    register_sketch_sql(spark, ams_d=5, ams_w=4096, prefix="t4_")
    seq_df.createOrReplaceTempView("seq_sql4")
    flat = np.concatenate(list(sequences_pdf["tokens"])).astype(np.int64)
    top_tok = int(np.bincount(flat - flat.min()).argmax() + flat.min())
    row = spark.sql(
        f"""
        SELECT t4_ams_agg(tokens) AS payload,
               t4_ams_f2(t4_ams_agg(tokens)) AS f2_est,
               t4_ams_query(t4_ams_agg(tokens), {top_tok}) AS est_count
        FROM seq_sql4
        """
    ).collect()[0]
    oracle = CountSketch(d=5, w=4096).add_tokens(flat)
    assert bytes(row["payload"]) == oracle.to_bytes()
    _, c = np.unique(flat, return_counts=True)
    true_f2 = int((c.astype(np.float64) ** 2).sum())
    assert abs(row["f2_est"] - true_f2) / true_f2 <= 3 * oracle.f2_rel_error()
    true_count = int((flat == top_tok).sum())
    bound = 3 * np.sqrt(true_f2 / 4096)
    assert abs(row["est_count"] - true_count) <= bound


def test_sql_probe_functions_nullable_args(spark, seq_df):
    """Review regression: nullable BIGINT token / DOUBLE q columns
    reach pandas UDFs as float64 with NaN for NULL rows — cms_query /
    ams_query / kll_quantile must yield NULL there (not crash on
    int(NaN), not return quantile(nan) == the sketched max)."""
    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql

    register_sketch_sql(spark, cms_d=3, cms_w=1024, ams_d=3, ams_w=1024, kll_k=64, prefix="t5_")
    seq_df.createOrReplaceTempView("seq_sql5")
    spark.createDataFrame(
        [(1, 42, 0.5), (2, None, None)], "id int, tok bigint, q double"
    ).createOrReplaceTempView("probes5")
    rows = spark.sql(
        """
        WITH s AS (SELECT t5_cms_agg(tokens) AS cms,
                          t5_ams_agg(tokens) AS ams,
                          t5_kll_agg(CAST(n_tok AS DOUBLE)) AS kll
                   FROM seq_sql5)
        SELECT p.id, t5_cms_query(s.cms, p.tok) AS c,
               t5_ams_query(s.ams, p.tok) AS a,
               t5_kll_quantile(s.kll, p.q) AS kq
        FROM probes5 p CROSS JOIN s ORDER BY p.id
        """
    ).collect()
    assert rows[0]["c"] is not None and rows[0]["a"] is not None
    assert rows[0]["kq"] is not None
    assert rows[1]["c"] is None and rows[1]["a"] is None and rows[1]["kq"] is None


def test_sql_sketch_merge_rollup(spark, seq_df, sequences_pdf):
    """sketch_merge GROUPED_AGG: per-source HLL cells rolled to the
    grand total in pure SQL are BITWISE the direct whole-corpus build
    (merge-exactness through the SQL surface)."""
    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql
    from rusty_bloomfilter_spark.sketch import HyperLogLog

    register_sketch_sql(spark, hll_p=12, prefix="t6_")
    seq_df.createOrReplaceTempView("seq_sql6")
    row = spark.sql(
        """
        WITH cells AS (
            SELECT source, t6_hll_agg(tokens) AS payload
            FROM seq_sql6 GROUP BY source
        )
        SELECT t6_sketch_merge(payload) AS total,
               t6_hll_estimate(t6_sketch_merge(payload)) AS est
        FROM cells
        """
    ).collect()[0]
    flat = np.concatenate(list(sequences_pdf["tokens"])).astype(np.int64)
    direct = HyperLogLog(12).add_tokens(flat)
    got = HyperLogLog.from_bytes(bytes(row["total"]))
    # registers identical (estimate equal); n_items may differ only if
    # the keyed agg saw a different occurrence count — it must not
    assert got == direct and got.n_items == flat.size
    assert row["est"] == direct.estimate()


def test_sql_sketch_merge_null_group(spark):
    """Review regression: a group whose payloads are all NULL yields
    NULL (SQL aggregate semantics), not a task-crashing ValueError;
    NULL-payload probe rows yield NULL even with a 2^53-range token."""
    from rusty_bloomfilter_spark.functions.sql_sketches import register_sketch_sql

    register_sketch_sql(spark, prefix="t7_")
    spark.createDataFrame(
        [("a", None), ("a", None)], "g string, payload binary"
    ).createOrReplaceTempView("null_cells7")
    row = spark.sql(
        "SELECT g, t7_sketch_merge(payload) AS m FROM null_cells7 GROUP BY g"
    ).collect()[0]
    assert row["m"] is None
    # NULL payload + huge nullable token: answer is NULL, no guard crash
    spark.createDataFrame(
        [(None, 2**60), (None, None)], "payload binary, tok bigint"
    ).createOrReplaceTempView("null_probe7")
    rows = spark.sql(
        "SELECT t7_cms_query(payload, tok) c, t7_ams_query(payload, tok) a FROM null_probe7"
    ).collect()
    assert all(r["c"] is None and r["a"] is None for r in rows)


def test_dedup_counts_unit():
    """bincount dedup: exact (values, multiplicities), negatives ok,
    wide-range and small inputs decline."""
    from rusty_bloomfilter_spark.operators.sketches import dedup_counts

    rng = np.random.default_rng(5)
    flat = rng.integers(-50, 2000, 1 << 15, dtype=np.int64)
    dc = dedup_counts(flat)
    assert dc is not None
    uniq, cnt = dc
    e_uniq, e_cnt = np.unique(flat, return_counts=True)
    assert np.array_equal(uniq, e_uniq) and np.array_equal(cnt, e_cnt)
    assert int(cnt.sum()) == flat.size
    # small batch: not worth two scans
    assert dedup_counts(flat[:100]) is None
    # wide-range values (64-bit-hash-like): decline
    wide = rng.integers(0, 2**62, 1 << 15, dtype=np.int64)
    assert dedup_counts(wide) is None


def test_dedup_build_bitwise_equal_and_probe_counts(spark):
    """The dedup fast path must be invisible: payload bytes (incl. the
    n_items header word) and per-occurrence probe counts identical to a
    build/probe over the raw stream. Forced by comparing a duplicate-
    heavy corpus (batch >> vocab, dedup fires) against a unique-valued
    one built through the same code (dedup declines)."""
    import pandas as pd

    from rusty_bloomfilter_spark.operators.sketches import (
        BlockedBloomSketch,
        BloomSketch,
        dedup_counts,
    )

    # one partition, one Arrow batch of 36,000 tokens: ABOVE the 1<<14
    # dedup_counts threshold, so the fast path demonstrably fires (the
    # round-4 review caught an earlier version of this test at 12,000
    # tokens/batch, where dedup always declined and the assertions were
    # vacuous)
    n_rows, row_len, vocab = 900, 40, 500
    rng = np.random.default_rng(11)
    toks = [rng.integers(0, vocab, row_len).astype(np.int64) for _ in range(n_rows)]
    pdf = pd.DataFrame({"doc_id": [str(i) for i in range(n_rows)], "tokens": [t.tolist() for t in toks]})
    df = spark.createDataFrame(pdf).repartition(1)
    flat = np.concatenate(toks)
    assert dedup_counts(flat) is not None, "test input must trigger the fast path"

    for sk in (BloomSketch.for_np(n=10_000, p=1e-3), BlockedBloomSketch.for_np(n=10_000, p=1e-3)):
        payload, n = sk.build_bytes(df, fanout=4)
        assert n == flat.size  # occurrence count survives dedup
        # numpy oracle: insert the raw (duplicate-heavy) stream directly
        oracle = sk._empty()
        oracle.add_tokens(flat)
        if hasattr(oracle, "to_filter"):
            assert payload == oracle.to_filter().to_bytes()
        else:
            assert payload == oracle.to_bytes()
        hits, total = sk.count_contained(df, payload, spark)
        assert (hits, total) == (flat.size, flat.size)  # zero FN, per-occurrence


def test_build_sketch_no_jobs_at_plan_construction_on_shuffled_input(spark):
    """build_sketch on a post-shuffle input must not launch Spark jobs
    while CONSTRUCTING the plan (.rdd under AQE eagerly materializes
    upstream query stages — round-3 ADVICE + round-4 review, both
    measured). safe_partition_count probes the plan string instead."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.sketches import BloomSketch

    tracker = spark.sparkContext.statusTracker()

    def n_jobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    shuffled = (
        spark.range(2000)
        .groupBy((F.col("id") % 97).alias("token"))
        .agg(F.count("*"))
        .select("token")
    )
    sk = BloomSketch.for_np(n=10_000, p=1e-4, col="token", scalar=True)
    before = n_jobs()
    plan = sk.build(shuffled)  # plan construction only — no action
    assert n_jobs() == before, "plan construction launched Spark jobs"
    # and the result is still correct once the action runs
    payload = bytes(plan.collect()[0]["payload"])
    from rusty_bloomfilter_spark.sketch import BloomFilter
    import numpy as np

    f = BloomFilter.from_bytes(payload)
    assert f.contains_tokens(np.arange(97, dtype=np.int64)).all()


def test_tree_merge_multi_level_matches_single_stage(spark):
    """fanout smaller than sqrt(P) forces >2 merge levels; canonical
    bytes must match the single-stage result (associativity)."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.sketches import BloomSketch

    df = spark.range(5000).select(
        (F.col("id") % 211).alias("token")
    ).repartition(20)
    sk = BloomSketch.for_np(n=10_000, p=1e-4, col="token", scalar=True)
    p_deep, n_deep = sk.build_bytes(df, fanout=2)  # 20 -> 10 -> 5 -> 3 -> 2 -> 1
    p_flat, n_flat = sk.build_bytes(df, fanout=64)  # single stage
    assert p_deep == p_flat and n_deep == n_flat


def test_dedup_counts_declines_uint64():
    """uint64 can't safe-cast into bincount — decline (None), never a
    mid-build TypeError (round-4 review, CONFIRMED crash)."""
    from rusty_bloomfilter_spark.operators.sketches import dedup_counts

    assert dedup_counts(np.arange(1 << 15, dtype=np.uint64) % 100) is None


# ---------------------------------------------------------------------------
# Unkeyed builds merge their stage-1 rows on the driver under the byte
# budget, through the tree above it
# ---------------------------------------------------------------------------


def _scalar_specs():
    """Canonical-merge sketches (OR / max / add) over scalar columns:
    their bytes cannot depend on partitioning or merge route."""
    from rusty_bloomfilter_spark.sketch import merge_payloads, merge_sketch_payloads

    bloom = BloomSketch.for_np(n=20_000, p=1e-3, col="k", scalar=True)
    hll = HllSketch(p=10, col="k", scalar=True)
    cms = CmsSketch(d=3, w=1 << 10, col="k", scalar=True)
    return [
        ("bloom", bloom._empty, bloom._update, merge_payloads),
        ("hll", hll._empty, hll._update, merge_sketch_payloads),
        ("cms", cms._empty, cms._update, merge_sketch_payloads),
    ]


def _scalar_df(spark, n_parts):
    from pyspark.sql import functions as F

    return spark.range(0, 20_000, numPartitions=n_parts).select(
        (F.col("id") * 7919 % 5003).alias("k")
    )


def _jobs_and_stages(spark, group, fn):
    """Run ``fn`` under a job group -> (result, jobs, stages)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    return out, len(jobs), len(stages)


def test_unkeyed_builds_run_one_job_one_stage(spark, sequences_pdf, tmp_path):
    """build_bytes and collect_multi_bytes(build_multi(...)) under the
    driver budget: the stage-1 job is the whole build (the tree merge
    used to add a job and two stages)."""
    from rusty_bloomfilter_spark.operators import (
        BlockedBloomSketch,
        build_multi,
        collect_multi_bytes,
    )

    path = str(tmp_path / "seq")
    spark.createDataFrame(sequences_pdf).repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    sk = BlockedBloomSketch.for_np(n=300_000, p=1e-3, ngram=3)
    (payload, n_items), jobs, stages = _jobs_and_stages(
        spark, "test_spark_build.build_bytes", lambda: sk.build_bytes(df)
    )
    assert (jobs, stages) == (1, 1)
    assert (payload, n_items) == collect_sketch_bytes(sk.build(df))

    hll, cms = HllSketch(p=12), CmsSketch(d=3, w=1 << 12)
    specs = [
        ("hll", hll._empty, hll._update, hll._merge),
        ("cms", cms._empty, cms._update, cms._merge),
    ]
    (n_rows, got), jobs, stages = _jobs_and_stages(
        spark,
        "test_spark_build.build_multi",
        lambda: collect_multi_bytes(build_multi(df, specs, columns=["tokens"]), specs),
    )
    assert (jobs, stages) == (1, 1)
    assert n_rows == len(sequences_pdf)
    assert got["hll"] == collect_sketch_bytes(hll.build(df))
    assert got["cms"] == collect_sketch_bytes(cms.build(df))


def _keyed_rows(rows, names):
    return {r["key"]: tuple(
        (bytes(r[f"payload_{n}"]), r[f"n_{n}"]) for n in names
    ) + (r["n_rows"],) for r in rows}


def test_keyed_builds_under_the_budget_run_one_job_one_stage(
    spark, sequences_pdf, tmp_path, monkeypatch
):
    """A keyed build under the driver budget, ``.collect()`` included,
    is the stage-1 job alone: the rows merge per key on the driver and
    the result is a local DataFrame. The shuffle route gives the same
    rows."""
    from rusty_bloomfilter_spark.operators import aggregate, build_multi_by_key

    path = str(tmp_path / "seq")
    spark.createDataFrame(sequences_pdf[["source", "tokens"]]).repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    hll, cms = HllSketch(p=12), CmsSketch(d=3, w=1 << 12)
    specs = [
        ("hll", hll._empty, hll._update, hll._merge),
        ("cms", cms._empty, cms._update, cms._merge),
    ]

    def multi():
        rows = build_multi_by_key(df, "source", specs, columns=["source", "tokens"]).collect()
        return _keyed_rows(rows, ["hll", "cms"])

    def single():
        return {r["key"]: (bytes(r["payload"]), r["n_items"])
                for r in hll.build_by_key(df, "source").collect()}

    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    multi()  # warm the Python workers
    # the fold's checkpoint blocks are freed once its rows are collected
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    got, jobs, stages = _jobs_and_stages(spark, "test_spark_build.keyed_multi", multi)
    assert (jobs, stages) == (1, 1)
    assert set(got) == set(sequences_pdf["source"])
    assert sum(v[-1] for v in got.values()) == len(sequences_pdf)
    one, jobs, stages = _jobs_and_stages(spark, "test_spark_build.keyed_single", single)
    assert (jobs, stages) == (1, 1)
    assert one == {k: v[0] for k, v in got.items()}
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)
    assert multi() == got and single() == one


def test_keyed_driver_route_null_keys_and_empty_input(spark, monkeypatch, caplog):
    """Null keys form their own row on the driver route as in the
    shuffle; an input without rows, or without partitions, gives no
    rows and the keyed schema, without a re-route."""
    import logging

    import pandas as pd

    from rusty_bloomfilter_spark.operators import aggregate, build_multi_by_key

    caplog.set_level(logging.INFO, logger="rusty_bloomfilter_spark")
    hll = HllSketch(p=8)
    specs = [("hll", hll._empty, hll._update, hll._merge)]
    pdf = pd.DataFrame({
        "source": ["a", None, "b", None, "a", None],
        "tokens": [[1, 2], [3], [4], [5, 6], [7], []],
    })
    df = spark.createDataFrame(pdf, "source string, tokens array<int>").repartition(2)
    driver = _keyed_rows(build_multi_by_key(df, "source", specs).collect(), ["hll"])
    assert set(driver) == {"a", "b", None} and driver[None][0][1] == 3 and driver[None][1] == 3
    for empty in (df.limit(0), df.where("source = 'z'"), spark.createDataFrame([], df.schema)):
        out = build_multi_by_key(empty, "source", specs)
        assert out.collect() == []
        assert out.columns == ["key", "n_rows", "payload_hll", "n_hll"]
    assert not [r for r in caplog.records if r.name == "rusty_bloomfilter_spark"]
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)
    assert _keyed_rows(build_multi_by_key(df, "source", specs).collect(), ["hll"]) == driver


def test_keyed_overflow_reroutes_and_keeps_the_python_workers(spark, tmp_path, monkeypatch, caplog):
    """A task that folds more keys than the cap keeps its rows on the
    executors and sends a marker row: the build re-routes to the shuffle
    (one INFO line) over the checkpointed fold rows, salted or not, with
    the same rows. The input is folded once, and the Python workers
    that ran the fold stay alive for reuse."""
    import logging
    import os

    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators import aggregate, build_multi_by_key

    df = spark.range(0, 40_000, numPartitions=4).select(
        (F.col("id") % 97).cast("string").alias("key"), F.col("id").alias("k")
    )
    hll = HllSketch(p=10, col="k", scalar=True)
    pid_dir = tmp_path / "pids"
    pid_dir.mkdir()

    def make_empty(pid_dir=str(pid_dir)):  # one file per (worker, call)
        import tempfile

        os.close(tempfile.mkstemp(dir=pid_dir, prefix=f"{os.getpid()}-")[0])
        return hll._empty()

    specs = [("hll", make_empty, hll._update, hll._merge)]
    plain = [("hll", hll._empty, hll._update, hll._merge)]
    ref = _keyed_rows(build_multi_by_key(df, "key", plain).collect(), ["hll"])
    caplog.set_level(logging.INFO, logger="rusty_bloomfilter_spark")
    # room for 2 keys per task; every task meets 97
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 2 * 4 * hll._empty().max_payload_bytes())
    spy = _FoldSpy(aggregate._fold)
    monkeypatch.setattr(aggregate, "_fold", spy)
    got = _keyed_rows(build_multi_by_key(df, "key", specs).collect(), ["hll"])
    assert got == ref and len(got) == 97
    assert spy.caps == [2]  # the shuffle reads the checkpointed rows: no second fold
    logged = [r.getMessage() for r in caplog.records if r.name == "rusty_bloomfilter_spark"]
    assert len(logged) == 1 and "more than 2 keys" in logged[0], logged
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    calls = [p.name.split("-")[0] for p in pid_dir.iterdir()]
    worker_calls = [c for c in calls if c != str(os.getpid())]
    assert len(worker_calls) == 4 * 97  # one accumulator per (task, key): one fold
    salted = build_multi_by_key(df, "key", specs, salt=3)
    assert _keyed_rows(salted.collect(), ["hll"]) == ref
    pids = {int(c) for c in worker_calls}
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:  # a dead worker has no entry or is a zombie
            assert f.read().split(") ")[1][0] not in "ZX", pid


class _FoldSpy:
    """Wraps ``aggregate._fold`` and records each call's ``max_keys``."""

    def __init__(self, fold):
        self.fold, self.caps = fold, []

    def __call__(self, *args, max_keys=None, **kw):
        self.caps.append(max_keys)
        return self.fold(*args, max_keys=max_keys, **kw)


def test_tree_route_matches_driver_route(spark, monkeypatch):
    """Past the driver budget the rows go through the tree; with more
    partitions than ``fanout`` an intermediate level runs. Payloads and
    counts must not depend on the route."""
    from rusty_bloomfilter_spark.operators import aggregate

    df = _scalar_df(spark, 7)
    specs = _scalar_specs()
    bloom = BloomSketch.for_np(n=20_000, p=1e-3, col="k", scalar=True)

    def build():
        multi = aggregate.collect_multi_bytes(
            aggregate.build_multi(df, specs, columns=["k"]), specs, fanout=2
        )
        return multi, bloom.build_bytes(df, fanout=2)

    driver = build()
    real, calls = aggregate._tree_merge_multi, []

    def spy(partial, specs, *, fanout, n_parts):
        calls.append((fanout, n_parts))
        return real(partial, specs, fanout=fanout, n_parts=n_parts)

    monkeypatch.setattr(aggregate, "_tree_merge_multi", spy)
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)
    tree = build()
    assert calls == [(2, 7), (2, 7)], "tree route not taken"
    assert tree == driver
    assert driver[0][0] == 20_000
    assert {name: n for name, (_, n) in driver[0][1].items()} == {
        "bloom": 20_000, "hll": 20_000, "cms": 20_000,
    }


def test_driver_budget_counts_grown_payloads(spark, monkeypatch):
    """The budget sizes each payload at the largest its sketch can
    reach, not at its empty size: an empty p=14 HLL is 16 bytes, a
    dense one 2^14 + 16. With P x empty within the budget but
    P x dense over it, the rows must go through the tree."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators import aggregate

    hll = HllSketch(p=14, col="k", scalar=True)
    specs = [("hll", hll._empty, hll._update, hll._merge)]
    df = spark.range(0, 40_000, numPartitions=4).select(F.col("id").alias("k"))

    def build():
        return aggregate.collect_multi_bytes(
            aggregate.build_multi(df, specs, columns=["k"]), specs, fanout=2
        )

    driver = build()
    budget = 10 * 4 * len(hll._empty().to_bytes())
    rows = aggregate.build_multi(df, specs, columns=["k"]).toArrow()
    assert sum(len(p) for p in rows.column("payload_hll").to_pylist()) > budget
    assert hll._empty().max_payload_bytes() == (1 << 14) + 16

    real, calls = aggregate._tree_merge_multi, []

    def spy(partial, specs, *, fanout, n_parts):
        calls.append(n_parts)
        return real(partial, specs, fanout=fanout, n_parts=n_parts)

    monkeypatch.setattr(aggregate, "_tree_merge_multi", spy)
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", budget)
    assert build() == driver
    assert calls == [4], "tree route not taken"
    # a sketch that declares no largest size never merges on the driver
    assert not aggregate._merges_on_driver(1, [object()])


def test_build_multi_partition_invariance(spark):
    """7 partitions merged on the driver == the 1-partition build, for
    every spec."""
    from rusty_bloomfilter_spark.operators import build_multi, collect_multi_bytes

    specs = _scalar_specs()
    seven, one = (
        collect_multi_bytes(
            build_multi(_scalar_df(spark, n), specs, columns=["k"]), specs
        )
        for n in (7, 1)
    )
    assert seven[0] == one[0] == 20_000
    for name, *_ in specs:
        assert seven[1][name] == one[1][name], name


def test_every_route_gives_the_same_sketches(spark, sequences_pdf, tmp_path, monkeypatch, caplog):
    """HLL, CMS and KLL over one token table through every route: the
    unkeyed driver and tree merges; the keyed build on its driver route,
    forced through the shuffle, salted, and re-routed after a task met
    more keys than the budget allows (per-key sketches merged); the
    one-spec keyed build; and the checkpointed build cold and resumed.
    HLL and CMS payloads and every count must be equal. KLL bytes depend
    on the merge order, so its rank errors are checked against the bound
    instead."""
    import logging

    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators import aggregate
    from rusty_bloomfilter_spark.operators.checkpoint import build_with_checkpoint
    from rusty_bloomfilter_spark.sketch import KLLSketch

    path = str(tmp_path / "seq")
    spark.createDataFrame(sequences_pdf[["tokens", "n_tok"]]).repartition(6).write.parquet(path)
    df = spark.read.parquet(path)
    one_key = df.withColumn("k", F.lit("all"))
    two_keys = df.withColumn("k", F.when(F.col("n_tok") % 2 == 0, "even").otherwise("odd"))
    sketches = {"hll": HllSketch(p=12), "cms": CmsSketch(d=3, w=1 << 12), "kll": KllQuantiles(k=50)}
    specs = [(name, sk._empty, sk._update, sk._merge) for name, sk in sketches.items()]
    columns = ["tokens", "n_tok"]

    def unkeyed():
        multi = aggregate.build_multi(df, specs, columns=columns)
        return aggregate.collect_multi_bytes(multi, specs, fanout=2)

    def keyed(frame, salt=0):
        """The per-key rows merged across keys, and the re-route log."""
        caplog.clear()
        rows = aggregate.build_multi_by_key(
            frame, "k", specs, columns=["k", *columns], salt=salt
        ).collect()
        logged = [r.getMessage() for r in caplog.records if r.name == "rusty_bloomfilter_spark"]
        assert len(rows) == len({r["k"] for r in frame.select("k").distinct().collect()})
        assert len(rows) == len({r["key"] for r in rows}), "a key has more than one row"
        out = {
            name: (sk._merge([bytes(r[f"payload_{name}"]) for r in rows]),
                   sum(r[f"n_{name}"] for r in rows))
            for name, sk in sketches.items()
        }
        return (sum(r["n_rows"] for r in rows), out), logged

    caplog.set_level(logging.INFO, logger="rusty_bloomfilter_spark")
    routes = {"driver": unkeyed()}
    routes["keyed driver"], logged = keyed(one_key)
    assert logged == []
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)
    routes["tree"] = unkeyed()
    routes["keyed shuffle"], logged = keyed(one_key)
    assert len(logged) == 1 and "not one key per task fits" in logged[0]
    routes["keyed salted"], _ = keyed(one_key, salt=4)
    # room for one key per task: every task meets both keys and overflows
    one_key_bytes = aggregate._row_bytes([sk._empty() for sk in sketches.values()])
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", one_key_bytes * df.rdd.getNumPartitions())
    routes["keyed overflow"], logged = keyed(two_keys)
    assert len(logged) == 1 and "more than 1 keys" in logged[0]
    monkeypatch.undo()
    by_key = {}
    for name, sk in sketches.items():
        (row,) = sk.build_by_key(one_key, "k").collect()
        by_key[name] = (bytes(row["payload"]), row["n_items"])
    routes["build_by_key"] = (len(sequences_pdf), by_key)
    for resumed in (False, True):
        out = {}
        for name, sk in sketches.items():
            rep = build_with_checkpoint(
                spark, path, str(tmp_path / f"ckpt_{name}"), sk._empty, sk._update, sk._merge,
                columns=sk._columns(),
            )
            assert rep.resumed_files == (rep.total_files if resumed else 0)
            assert rep.n_rows == len(sequences_pdf)
            out[name] = (rep.payload, rep.n_items)
        routes["resumed" if resumed else "checkpoint"] = (len(sequences_pdf), out)

    n_tok = np.sort(sequences_pdf["n_tok"].to_numpy())
    qs = np.linspace(0.01, 0.99, 99)
    bound = KLLSketch(50).rank_error()
    ref = routes["driver"][1]
    for route, (n_rows, out) in routes.items():
        assert n_rows == len(sequences_pdf), route
        assert out["hll"] == ref["hll"] and out["cms"] == ref["cms"], route
        assert out["hll"][1] == out["cms"][1] == n_tok.sum(), route
        assert out["kll"][1] == len(n_tok), route
        est = KLLSketch.from_bytes(out["kll"][0]).quantile(qs)
        lo = np.searchsorted(n_tok, est, side="left") / len(n_tok)
        hi = np.searchsorted(n_tok, est, side="right") / len(n_tok)
        assert np.maximum(lo - qs, qs - hi).max() <= bound, route


def test_ngram_hashes_shorter_than_n_are_empty(spark):
    """Inputs shorter than the n-gram width hash to no n-grams (an empty
    uint64 array, not a broadcast error), and a build over such rows is
    the empty sketch."""
    import pandas as pd

    from rusty_bloomfilter_spark.operators import BlockedBloomSketch, flat_ngram_hashes
    from rusty_bloomfilter_spark.sketch import ngram_hashes

    for toks in (np.array([], np.int32), np.array([7], np.int32), np.array([7, 8], np.int32)):
        h = ngram_hashes(toks, 3)
        assert h.dtype == np.uint64 and h.size == 0
    # every row shorter than n, though the concatenated stream is longer
    h = flat_ngram_hashes(np.arange(7, dtype=np.int64), np.array([2, 1, 2, 2]), 3)
    assert h.dtype == np.uint64 and h.size == 0

    short = spark.createDataFrame(
        pd.DataFrame({"tokens": [np.array(t, np.int32) for t in ([1, 2], [3], [], [4, 5])]})
    )
    sk = BlockedBloomSketch.for_np(n=10_000, p=1e-3, ngram=3)
    payload, n_items = sk.build_bytes(short)
    assert n_items == 0
    assert payload == sk._empty().to_bytes()


@pytest.mark.parametrize("n", [2, 3, 5])
def test_flat_ngram_hashes_equal_per_row_ngrams(n):
    """The flattened n-grams of a ragged token column (empty rows, rows
    shorter than n, null lists, a sliced batch) are each row's own
    ``ngram_hashes``, concatenated in row order."""
    import pyarrow as pa

    from rusty_bloomfilter_spark.operators import flat_ngram_hashes
    from rusty_bloomfilter_spark.operators.sketches import arrow_flat_tokens, arrow_row_lengths
    from rusty_bloomfilter_spark.sketch import ngram_hashes

    rng = np.random.default_rng(n)
    rows = [
        None if rng.random() < 0.1 else rng.integers(0, 50257, rng.integers(0, 12)).tolist()
        for _ in range(300)
    ]
    rows[:4] = [[], None, [1] * (n - 1), [2] * n]
    batch = pa.record_batch({"tokens": pa.array(rows, pa.list_(pa.int32()))})
    for b, part in ((batch, rows), (batch.slice(7, 200), rows[7:207])):
        got = flat_ngram_hashes(arrow_flat_tokens(b, "tokens"), arrow_row_lengths(b, "tokens"), n)
        want = [ngram_hashes(np.asarray(r, np.int32), n) for r in part if r]
        assert got.dtype == np.uint64
        assert np.array_equal(got, np.concatenate(want))
