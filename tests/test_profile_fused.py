"""Fused multi-sketch keyed build (one scan) + high-cardinality keyed
builds (sort-slice batch splitting)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from rusty_bloomfilter_spark.operators.aggregate import (
    build_multi_by_key,
    iter_key_slices,
)
from rusty_bloomfilter_spark.operators.sketches import BloomSketch, HllSketch
from rusty_bloomfilter_spark.sketch import (
    BloomFilter,
    HyperLogLog,
    Shape,
    merge_payloads,
    merge_sketch_payloads,
)

SHAPE = Shape.for_np(n=100_000, p=1e-3)


@pytest.fixture(scope="module")
def seq_df(spark, sequences_pdf):
    return spark.createDataFrame(sequences_pdf)


def test_fused_build_matches_separate_builds_bitwise(spark, seq_df):
    """One-scan fused (bloom, hll) per key == two independent
    build_by_key passes, payload-bitwise (merge algebra invariance)."""
    bloom = BloomSketch(SHAPE)
    hll = HllSketch(p=12)
    fused = {
        r["key"]: r
        for r in build_multi_by_key(
            seq_df,
            "source",
            [
                ("bloom", bloom._empty, bloom._update, merge_payloads),
                ("hll", hll._empty, hll._update, merge_sketch_payloads),
            ],
            columns=["source", "tokens"],
        ).collect()
    }
    sep_bloom = {r["key"]: r for r in bloom.build_by_key(seq_df, "source").collect()}
    sep_hll = {r["key"]: r for r in hll.build_by_key(seq_df, "source").collect()}
    assert set(fused) == set(sep_bloom) == set(sep_hll)
    for k, row in fused.items():
        assert bytes(row["payload_bloom"]) == bytes(sep_bloom[k]["payload"])
        assert bytes(row["payload_hll"]) == bytes(sep_hll[k]["payload"])
        assert row["n_bloom"] == sep_bloom[k]["n_items"]


def test_token_profile_single_scan_plan(spark):
    """The flagship profile must scan its input exactly once (was three
    independent jobs = three full corpus scans at 100 TB)."""
    import contextlib
    import io

    from rusty_bloomfilter_spark.plans import token_profile
    from rusty_bloomfilter_spark.sources import sequences_from_documents

    seq = sequences_from_documents(spark, "/root/testdata/sf0.01")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        token_profile(spark, seq).explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]  # operator tree, not details
    assert tree.count("Scan parquet") == 1, tree


def test_token_profile_values_match_exact_counts(spark, seq_df, sequences_pdf):
    from rusty_bloomfilter_spark.plans import token_profile

    out = {r["source"]: r for r in token_profile(spark, seq_df, shape=SHAPE).collect()}
    gb = sequences_pdf.groupby("source")
    for src, grp in gb:
        row = out[src]
        assert row["n_seqs"] == len(grp)
        assert row["n_tokens"] == row["bloom_n_items"] == int(grp["n_tok"].sum())
        exact_distinct = len(np.unique(np.concatenate(list(grp["tokens"]))))
        assert row["distinct_tokens_est"] == pytest.approx(exact_distinct, rel=0.05)
        oracle = BloomFilter.empty(SHAPE)
        oracle.add_tokens(np.concatenate(list(grp["tokens"])))
        assert row["bloom_bits"] == oracle.cardinality()


# ---------------------------------------------------------------------------
# iter_key_slices / high-cardinality keyed builds
# ---------------------------------------------------------------------------


def test_iter_key_slices_covers_batch_exactly():
    rng = np.random.default_rng(7)
    keys = rng.choice([f"k{i}" for i in range(50)], size=1000)
    vals = rng.integers(0, 1000, size=1000)
    batch = pa.record_batch({"key": keys.tolist(), "v": vals.tolist()})
    seen = {}
    for key, sub in iter_key_slices(batch, "key"):
        assert key not in seen  # each key yielded once
        got_keys = sub.column("key").to_pylist()
        assert all(k == key for k in got_keys)
        seen[key] = sorted(sub.column("v").to_pylist())
    for k in set(keys):
        assert seen[k] == sorted(vals[keys == k].tolist())


def test_iter_key_slices_list_columns_slice_correctly():
    """Sliced ListArray flatten must respect offsets (the update fns
    consume flattened token streams)."""
    batch = pa.record_batch(
        {
            "key": ["b", "a", "b", "a"],
            "tokens": [[1, 2], [3], [4, 5, 6], [7, 8]],
        }
    )
    got = {}
    for key, sub in iter_key_slices(batch, "key"):
        flat = sub.column("tokens").flatten().to_pylist()
        got[key] = sorted(flat)
    assert got == {"a": [3, 7, 8], "b": [1, 2, 4, 5, 6]}


@pytest.mark.parametrize("kind", ["string", "int", "timestamp"])
def test_iter_key_slices_keys_and_row_order(kind):
    """Each key once, in first-appearance order, as the numpy scalar
    ``to_numpy`` of the column gives (``str()`` of it is the keyed
    row's key), with its rows in batch order; null keys first."""
    import pyarrow.compute as pc

    rng = np.random.default_rng(3)
    codes = rng.integers(0, 40, size=700)
    if kind == "string":
        col = pa.array([f"k{c}" for c in codes])
    elif kind == "int":
        col = pa.array(codes * 1_000_003, pa.int64())
    else:
        col = pa.array(codes.astype("datetime64[s]").astype("datetime64[us]"), pa.timestamp("us"))
    valid = rng.random(700) > 0.1
    batch = pa.record_batch({
        "key": pc.if_else(pa.array(valid), col, pa.nulls(700, col.type)), "row": np.arange(700),
    })
    got = list(iter_key_slices(batch, "key"))
    assert got[0][0] is None
    assert got[0][1].column("row").to_pylist() == np.flatnonzero(~valid).tolist()
    # the parent's keys: to_numpy of the non-null keys
    values = col.filter(pa.array(valid)).to_numpy(zero_copy_only=False)
    first = {}
    for v, i in zip(values, np.flatnonzero(valid)):
        first.setdefault(str(v), []).append(int(i))
    assert [str(k) for k, _ in got[1:]] == list(first)
    for key, sub in got[1:]:
        assert type(key) is type(values[0])
        assert sub.column("row").to_pylist() == first[str(key)]


def test_high_cardinality_keyed_build_invariance(spark):
    """10k distinct keys: keyed build completes without the per-key
    batch-rescan blowup and matches a numpy oracle per key."""
    rng = np.random.default_rng(11)
    n = 20_000
    keys = [f"key-{i % 10_000:05d}" for i in range(n)]
    toks = [rng.integers(0, 50257, size=4, dtype=np.int32) for _ in range(n)]
    pdf = pd.DataFrame({"source": keys, "tokens": toks})
    df = spark.createDataFrame(pdf)
    hll = HllSketch(p=8)
    rows = hll.build_by_key(df, "source").collect()
    assert len(rows) == 10_000
    # spot-check 20 keys bitwise against a local oracle
    by_key = {}
    for k, t in zip(keys, toks):
        by_key.setdefault(k, []).append(t)
    for r in rows[:20]:
        oracle = HyperLogLog(8)
        oracle.add_tokens(np.concatenate(by_key[r["key"]]))
        assert bytes(r["payload"]) == oracle.to_bytes()


def test_fused_salted_build_bitwise_invariant(spark, seq_df, monkeypatch):
    """salt>0 adds an intermediate merge level to the shuffle route;
    output bytes equal the driver route's (merge algebra) and fan-in is
    bounded."""
    from rusty_bloomfilter_spark.operators import aggregate

    bloom = BloomSketch(SHAPE)
    hll = HllSketch(p=12)
    specs = [
        ("bloom", bloom._empty, bloom._update, merge_payloads),
        ("hll", hll._empty, hll._update, merge_sketch_payloads),
    ]
    plain = {
        r["key"]: (bytes(r["payload_bloom"]), bytes(r["payload_hll"]), r["n_rows"])
        for r in build_multi_by_key(seq_df, "source", specs, columns=["source", "tokens"]).collect()
    }
    monkeypatch.setattr(aggregate, "_DRIVER_MERGE_BYTES", 0)  # salt shapes the shuffle only
    salted = {
        r["key"]: (bytes(r["payload_bloom"]), bytes(r["payload_hll"]), r["n_rows"])
        for r in build_multi_by_key(
            seq_df.repartition(16), "source", specs, columns=["source", "tokens"], salt=4
        ).collect()
    }
    assert plain == salted


def test_keyed_build_null_keys(spark):
    """NULL keys form their own group (Spark groupBy semantics) instead
    of crashing np.unique's None-vs-str comparison."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "source": ["a", None, "b", None, "a"],
            "tokens": [[1, 2], [3], [4], [5, 6], [7]],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = {r["key"]: r for r in HllSketch(p=8).build_by_key(df, "source").collect()}
    assert set(rows) == {"a", "b", None}
    assert rows[None]["n_items"] == 3  # tokens 3, 5, 6
    oracle = HyperLogLog(8)
    oracle.add_tokens(np.array([3, 5, 6]))
    assert bytes(rows[None]["payload"]) == oracle.to_bytes()


def test_build_multi_bitwise_equals_individual_builds(spark, sequences_pdf):
    """The unkeyed fused builder (one corpus scan for N sketches) must
    produce byte-identical payloads to N separate builds — the merge
    algebra guarantees it; this pins the wiring."""
    from rusty_bloomfilter_spark.operators.aggregate import (
        build_multi,
        collect_multi_bytes,
        collect_sketch_bytes,
    )
    from rusty_bloomfilter_spark.operators.sketches import (
        CmsSketch,
        HllSketch,
        KllQuantiles,
    )

    seq = spark.createDataFrame(sequences_pdf.head(500)).repartition(5)
    hll = HllSketch(p=12)
    cms = CmsSketch(d=3, w=1 << 12)
    kll = KllQuantiles(k=128, col="n_tok")
    specs = [
        ("hll", hll._empty, hll._update, hll._merge),
        ("cms", cms._empty, cms._update, cms._merge),
        ("kll", kll._empty, kll._update, kll._merge),
    ]
    n_rows, got = collect_multi_bytes(
        build_multi(seq, specs, columns=["tokens", "n_tok"], fanout=4), specs
    )
    assert n_rows == 500
    # Bloom/HLL/CMS merges are canonical (OR/max/add): bitwise equal
    for name, sk in (("hll", hll), ("cms", cms)):
        payload, n_items = collect_sketch_bytes(sk.build(seq, fanout=4))
        assert got[name][0] == payload, name
        assert got[name][1] == n_items, name
    # KLL is rank-accurate but merge-order-sensitive in its bytes:
    # same item count, quantiles within the sketch's rank error
    from rusty_bloomfilter_spark.sketch import KLLSketch

    kll_payload, kll_n = collect_sketch_bytes(kll.build(seq, fanout=4))
    assert got["kll"][1] == kll_n == 500
    fused_q = KLLSketch.from_bytes(got["kll"][0]).quantile(0.5)
    solo_q = KLLSketch.from_bytes(kll_payload).quantile(0.5)
    n_tok = sequences_pdf.head(500)["n_tok"].to_numpy()
    exact = float(__import__("numpy").quantile(n_tok, 0.5))
    assert abs(fused_q - exact) <= 8 and abs(solo_q - exact) <= 8


def test_build_multi_empty_input_emits_identities(spark):
    from rusty_bloomfilter_spark.operators.aggregate import (
        build_multi,
        collect_multi_bytes,
    )
    from rusty_bloomfilter_spark.operators.sketches import HllSketch, KllQuantiles

    hll = HllSketch(p=12)
    kll = KllQuantiles(k=128, col="n_tok")
    specs = [
        ("hll", hll._empty, hll._update, hll._merge),
        ("kll", kll._empty, kll._update, kll._merge),
    ]
    empty = spark.createDataFrame([], "tokens array<int>, n_tok int")
    n_rows, got = collect_multi_bytes(
        build_multi(empty, specs, columns=["tokens", "n_tok"], fanout=4), specs
    )
    assert n_rows == 0
    assert got["hll"][0] == hll._empty().to_bytes() and got["hll"][1] == 0
    assert got["kll"][0] == kll._empty().to_bytes() and got["kll"][1] == 0
