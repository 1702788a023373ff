"""Streaming sketch maintenance."""

import numpy as np
from pyspark.sql import functions as F
import pandas as pd
import pytest


def test_streaming_bloom_build(spark, tmp_path, sequences_pdf):
    """File-source stream -> foreachBatch sketch maintenance; final
    sketch equals the batch build over the same rows."""
    from rusty_bloomfilter_spark.operators.sketches import BlockedBloomSketch
    from rusty_bloomfilter_spark.sketch import BlockedBloomFilter
    from rusty_bloomfilter_spark.streaming import StreamingSketchState, streaming_bloom_build

    src = str(tmp_path / "stream_src")
    df = spark.createDataFrame(sequences_pdf)
    df.repartition(4).write.parquet(src)

    sk = BlockedBloomSketch.for_np(n=300_000, p=1e-3)
    state = StreamingSketchState(str(tmp_path / "bloom.state"))
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = streaming_bloom_build(
        stream, sk, state, checkpoint_dir=str(tmp_path / "ckpt"), trigger_once=True
    )
    q.awaitTermination(120)

    got = state.sketch()
    oracle = BlockedBloomFilter(sk.proto.n_blocks).add_tokens(
        np.concatenate(list(sequences_pdf["tokens"]))
    )
    assert got.words.tobytes() == oracle.words.tobytes()
    assert got.n_items == oracle.n_items

    # idempotence: replaying the same batch id is a no-op
    state.apply_batch(got.to_bytes(), batch_id=0)
    assert state.sketch().n_items == oracle.n_items


def test_windowed_distinct_users(spark, tmp_path):
    """Drive the watermarked windowed-distinct STREAMING query over a
    file source to completion; result must match the exact batch
    distinct within HLL++ error."""
    import datetime as dt

    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.streaming import windowed_distinct_users

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "ts": [base + dt.timedelta(minutes=int(m)) for m in rng.integers(0, 180, 500)],
            "user_id": rng.integers(0, 40, 500).astype(np.int64),
            "event_type": np.where(rng.integers(0, 2, 500) == 0, "click", "view"),
        }
    )
    src_dir = str(tmp_path / "ev_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(3).write.parquet(src_dir)

    stream = spark.readStream.schema(batch_df.schema).parquet(src_dir)
    out = windowed_distinct_users(stream, window="1 hour", watermark="2 hours")
    # complete mode: a bounded replay never advances the watermark past
    # the last window, so append would emit nothing (late-data semantics
    # working as designed); complete emits every window's current state
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_users")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_users").collect()

    exact = (
        batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    )
    em = {(r["w"].start, r["event_type"]): r["n"] for r in exact}
    assert len(got) >= 1  # append mode emits windows the watermark closed
    for r in got:
        e = em[(r["window_start"], r["event_type"])]
        assert abs(r["approx_users"] - e) / max(e, 1) < 0.15


def test_running_distinct_by_key_stateful(spark, tmp_path):
    """applyInPandasWithState: per-key HLL state across micro-batches;
    the LAST emitted estimate per key matches exact distinct."""
    import datetime as dt

    from rusty_bloomfilter_spark.streaming import running_distinct_by_key

    rng = np.random.default_rng(9)
    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "ts": [base + dt.timedelta(seconds=int(s)) for s in rng.integers(0, 3600, 800)],
            "user_id": rng.integers(0, 120, 800).astype(np.int64),
            "event_type": np.where(rng.integers(0, 3, 800) == 0, "click", "view"),
        }
    )
    src = str(tmp_path / "state_src")
    batch_df = spark.createDataFrame(pdf)
    # several files => several micro-batches with maxFilesPerTrigger
    batch_df.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_distinct_by_key(stream, key_col="event_type", value_col="user_id", p=12)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_distinct")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "select * from running_distinct"
    ).collect()
    # last emission per key (n_items grows monotonically)
    last = {}
    for r in rows:
        if r["key"] not in last or r["n_items"] > last[r["key"]]["n_items"]:
            last[r["key"]] = r
    exact = {
        r["event_type"]: r["n"]
        for r in batch_df.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(last) == set(exact)
    for k, r in last.items():
        assert abs(r["distinct_est"] - exact[k]) / exact[k] < 0.1
        assert r["n_items"] == int((pdf["event_type"] == k).sum())
    # state accumulated across MULTIPLE micro-batches
    assert len(rows) > len(exact)


def test_streaming_restart_processes_only_new_files(spark, tmp_path, sequences_pdf):
    """Kill/restart resilience: restarting the stream with the same
    checkpoint dir after new files arrive processes ONLY the new files
    (Spark source checkpoint) and the state stays correct (our batch-id
    guard); final sketch == batch build over everything."""
    from rusty_bloomfilter_spark.operators.sketches import BlockedBloomSketch
    from rusty_bloomfilter_spark.sketch import BlockedBloomFilter
    from rusty_bloomfilter_spark.streaming import StreamingSketchState, streaming_bloom_build

    src = str(tmp_path / "restart_src")
    half1 = sequences_pdf.iloc[:1000]
    half2 = sequences_pdf.iloc[1000:]
    df1 = spark.createDataFrame(half1)
    df1.repartition(2).write.parquet(src)

    sk = BlockedBloomSketch.for_np(n=300_000, p=1e-3)
    state = StreamingSketchState(str(tmp_path / "restart.state"))
    ckpt = str(tmp_path / "restart_ckpt")

    schema = df1.schema
    q1 = streaming_bloom_build(
        spark.readStream.schema(schema).parquet(src), sk, state,
        checkpoint_dir=ckpt, trigger_once=True,
    )
    q1.awaitTermination(120)
    n_after_first = state.sketch().n_items
    assert n_after_first == int(half1["n_tok"].sum())

    # new files arrive; "restart" the query against the same checkpoint
    spark.createDataFrame(half2).repartition(2).write.mode("append").parquet(src)
    q2 = streaming_bloom_build(
        spark.readStream.schema(schema).parquet(src), sk, state,
        checkpoint_dir=ckpt, trigger_once=True,
    )
    q2.awaitTermination(120)

    got = state.sketch()
    oracle = BlockedBloomFilter(sk.proto.n_blocks).add_tokens(
        np.concatenate(list(sequences_pdf["tokens"]))
    )
    assert got.n_items == oracle.n_items  # first half NOT double-counted
    assert got.words.tobytes() == oracle.words.tobytes()


def test_windowed_topk_tokens_stream(spark, tmp_path):
    """Streaming per-window heavy hitters across several micro-batches:
    the final emission's top-k must equal the exact per-window top-k
    (CMS estimates are one-sided and w >> distinct here, so exact)."""
    import numpy as np
    import pandas as pd

    from rusty_bloomfilter_spark.streaming import windowed_topk_tokens

    rng = np.random.default_rng(23)
    n = 3000
    # two event-time windows; tokens heavily skewed toward small ids
    ts = pd.to_datetime("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 7200, n), unit="s"
    )
    tokens = [rng.zipf(1.6, size=20).clip(max=5000).astype(np.int64) for _ in range(n)]
    pdf = pd.DataFrame({"ts": ts, "tokens": tokens})
    src = str(tmp_path / "topk_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_topk_tokens(stream, window="1 hour", k=8, d=4, w=1 << 15)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_topk")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_topk").collect()
    assert rows
    # last emission per window = the one with the highest est for rank 1
    last: dict = {}
    for r in rows:
        cur = last.setdefault(r["window_start"], {})
        cur.setdefault(r["rank"], r)
        if r["est_freq"] >= cur[r["rank"]]["est_freq"]:
            cur[r["rank"]] = r
    # exact oracle per window
    win = pdf.assign(w=pdf["ts"].dt.floor("h"))
    for wstart, grp in win.groupby("w"):
        flat = np.concatenate(list(grp["tokens"]))
        uniq, counts = np.unique(flat, return_counts=True)
        order = np.lexsort((uniq, -counts))
        exact_top = [(int(uniq[i]), int(counts[i])) for i in order[:8]]
        got = [
            (last[wstart][r]["tok"], last[wstart][r]["est_freq"])
            for r in sorted(last[wstart])
        ]
        assert got == exact_top, (wstart, got, exact_top)


def test_windowed_topk_with_watermark_expiry(spark, tmp_path):
    """Watermarked variant: same results through the EventTimeTimeout
    path (state expiry wiring exercised end to end)."""
    import numpy as np
    import pandas as pd

    from rusty_bloomfilter_spark.streaming import windowed_topk_tokens

    rng = np.random.default_rng(29)
    n = 600
    ts = pd.to_datetime("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 3600, n), unit="s"
    )
    tokens = [rng.zipf(1.7, size=12).clip(max=999).astype(np.int64) for _ in range(n)]
    pdf = pd.DataFrame({"ts": ts, "tokens": tokens})
    src = str(tmp_path / "topk_wm_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_topk_tokens(stream, window="1 hour", k=5, watermark="30 minutes")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_topk_wm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_topk_wm").collect()
    assert rows
    best = {}
    for r in rows:
        cur = best.setdefault(r["rank"], r)
        if r["est_freq"] >= cur["est_freq"]:
            best[r["rank"]] = r
    flat = np.concatenate(tokens)
    uniq, counts = np.unique(flat, return_counts=True)
    order = np.lexsort((uniq, -counts))
    exact = [(int(uniq[i]), int(counts[i])) for i in order[:5]]
    got = [(best[r]["tok"], best[r]["est_freq"]) for r in sorted(best)]
    assert got == exact


def test_windowed_distinct_hll_state(spark, tmp_path):
    """Custom-state windowed HLL distinct across micro-batches: the
    final emission per window must match the exact distinct count
    (small range -> HLL linear counting is near-exact), and the state
    payload is a REAL mergeable HLL (n_items accumulates)."""
    import numpy as np
    import pandas as pd

    from rusty_bloomfilter_spark.streaming import windowed_distinct

    rng = np.random.default_rng(31)
    n = 2000
    ts = pd.to_datetime("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 7200, n), unit="s"
    )
    pdf = pd.DataFrame({"ts": ts, "user_id": rng.integers(0, 300, n).astype(np.int64)})
    src = str(tmp_path / "wd_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_distinct(stream, window="1 hour", p=14)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_dist_hll")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_dist_hll").collect()
    assert rows
    # final emission per window = the one with the largest n_items
    final: dict = {}
    for r in rows:
        cur = final.get(r["window_start"])
        if cur is None or r["n_items"] > cur["n_items"]:
            final[r["window_start"]] = r
    win = pdf.assign(w=pdf["ts"].dt.floor("h"))
    for wstart, grp in win.groupby("w"):
        exact = grp["user_id"].nunique()
        r = final[wstart]
        assert abs(r["distinct_est"] - exact) / exact < 0.03, (wstart, r, exact)
        assert r["n_items"] == len(grp)  # every row of the window folded in


def test_windowed_distinct_watermark_variant(spark, tmp_path):
    """Watermarked variant runs through EventTimeTimeout wiring and
    still matches the exact distinct count."""
    import numpy as np
    import pandas as pd

    from rusty_bloomfilter_spark.streaming import windowed_distinct

    rng = np.random.default_rng(37)
    n = 800
    ts = pd.to_datetime("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 3600, n), unit="s"
    )
    pdf = pd.DataFrame({"ts": ts, "user_id": rng.integers(0, 120, n).astype(np.int64)})
    src = str(tmp_path / "wd_wm_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_distinct(stream, window="1 hour", p=14, watermark="30 minutes")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_dist_wm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_dist_wm").collect()
    assert rows
    exact = pdf["user_id"].nunique()
    best = max(rows, key=lambda r: r["n_items"])
    assert best["n_items"] == n
    assert abs(best["distinct_est"] - exact) / exact < 0.03


def test_running_distinct_tolerates_null_values(spark, tmp_path):
    """Nullable int64 value columns reach the stateful UDF as float64
    (Arrow->pandas promotion); NULLs fold to token 0 via the shared
    _series_probe_values guard instead of crashing — and |v| >= 2^53
    would fail loudly rather than silently rounding (round-4 audit:
    the streaming path previously bypassed the guard every batch
    probe uses)."""
    from rusty_bloomfilter_spark.streaming import running_distinct_by_key

    pdf = pd.DataFrame(
        {
            "user_id": pd.array([1, 2, None, 3, None, 2], dtype="Int64"),
            "event_type": ["a", "a", "a", "b", "b", "b"],
        }
    )
    src = str(tmp_path / "null_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = running_distinct_by_key(stream, key_col="event_type", value_col="user_id", p=12)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_distinct_nulls")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from running_distinct_nulls").collect()
    last = {}
    for r in rows:
        if r["key"] not in last or r["n_items"] > last[r["key"]]["n_items"]:
            last[r["key"]] = r
    # key a: {1, 2, 0(null)} = 3 distinct; key b: {3, 0(null), 2} = 3
    assert last["a"]["n_items"] == 3 and last["b"]["n_items"] == 3
    assert abs(last["a"]["distinct_est"] - 3) < 0.5
    assert abs(last["b"]["distinct_est"] - 3) < 0.5


def test_windowed_drift_monitor(spark, tmp_path):
    """Streaming distribution-drift monitor: a source whose token
    distribution matches the batch reference scores drift ~0 in every
    window; a source with a shifted (disjoint-range) distribution
    scores high — detected purely from sketch payloads, no token join."""
    import numpy as np
    import pandas as pd

    from rusty_bloomfilter_spark.operators.sketches import AmsSketch
    from rusty_bloomfilter_spark.streaming import windowed_drift

    rng = np.random.default_rng(31)
    # batch reference corpus: zipf over [1, 5000]
    ref_tokens = [rng.zipf(1.4, size=40).clip(max=5000).astype(np.int64) for _ in range(800)]
    ref_df = spark.createDataFrame(pd.DataFrame({"tokens": ref_tokens}))
    ref_payload, _ = AmsSketch(d=5, w=4096, col="tokens").build_bytes(ref_df)

    n = 1200
    ts = pd.to_datetime("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 7200, n), unit="s"
    )
    stable = [rng.zipf(1.4, size=40).clip(max=5000).astype(np.int64) for _ in range(n // 2)]
    # shifted: same shape, disjoint token range
    drifted = [
        (rng.zipf(1.4, size=40).clip(max=5000) + 100_000).astype(np.int64)
        for _ in range(n // 2)
    ]
    pdf = pd.DataFrame(
        {
            "ts": ts,
            "source": ["stable"] * (n // 2) + ["drifted"] * (n // 2),
            "tokens": stable + drifted,
        }
    )
    src = str(tmp_path / "drift_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_drift(stream, ref_payload, window="1 hour")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_drift")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_drift").collect()
    assert rows
    # keep the LAST emission per (source, window) = max n_tokens
    last: dict = {}
    for r in rows:
        k = (r["source"], r["window_start"])
        if k not in last or r["n_tokens"] > last[k]["n_tokens"]:
            last[k] = r
    stable_drifts = [r["drift"] for k, r in last.items() if k[0] == "stable"]
    drifted_drifts = [r["drift"] for k, r in last.items() if k[0] == "drifted"]
    assert len(stable_drifts) == 2 and len(drifted_drifts) == 2  # two windows
    assert all(d < 0.1 for d in stable_drifts), stable_drifts
    assert all(d > 0.5 for d in drifted_drifts), drifted_drifts
    # a forged reference payload fails loudly in the driver, before
    # any stream starts
    import pytest as _pytest

    with _pytest.raises(ValueError):
        windowed_drift(stream, b"nope")


def test_windowed_quantiles_stream(spark, tmp_path):
    """Streaming per-window p50/p95/p99: the final emission per window
    is within the KLL rank-error bound of the exact batch quantiles."""
    import numpy as np
    import pandas as pd

    from rusty_bloomfilter_spark.sketch import KLLSketch
    from rusty_bloomfilter_spark.streaming import windowed_quantiles

    rng = np.random.default_rng(37)
    n = 6000
    ts = pd.to_datetime("2024-01-01 00:00:00") + pd.to_timedelta(
        rng.integers(0, 7200, n), unit="s"
    )
    vals = rng.lognormal(mean=1.0, sigma=0.8, size=n)
    pdf = pd.DataFrame({"ts": ts, "value": vals})
    src = str(tmp_path / "quant_src")
    batch_df = spark.createDataFrame(pdf)
    batch_df.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_quantiles(stream, window="1 hour", qs=(0.5, 0.95, 0.99), k=200)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("win_quant")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from win_quant").collect()
    assert rows
    last: dict = {}
    for r in rows:  # final emission per (window, q) = max n_items
        key = (r["window_start"], r["q"])
        if key not in last or r["n_items"] > last[key]["n_items"]:
            last[key] = r
    rank_err = KLLSketch(k=200).rank_error()
    win = pdf.assign(w=pdf["ts"].dt.floor("h"))
    checked = 0
    for (wstart, qq), r in last.items():
        grp = np.sort(win[win["w"] == wstart]["value"].to_numpy())
        assert r["n_items"] == grp.size
        # estimate's true rank within the published bound of q
        true_rank = np.searchsorted(grp, r["value"], side="right") / grp.size
        assert abs(true_rank - qq) <= 3 * rank_err + 2 / grp.size, (wstart, qq)
        checked += 1
    assert checked == 6  # two windows x three quantiles

    import pytest as _pytest

    with _pytest.raises(ValueError, match="fractions"):
        windowed_quantiles(stream, qs=(1.5,))


def test_windowed_sliding_distinct(spark, tmp_path):
    """Streaming trailing-3-day actives per source across multi-file
    micro-batches: last emission per (key, window) must match the
    exact batch trailing distinct within HLL error, state must stay
    bounded, and beyond-horizon late rows must be dropped."""
    import datetime as dt

    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.streaming.stateful import (
        _duration_seconds,
        windowed_sliding_distinct,
    )

    assert _duration_seconds("1 day") == 86400
    assert _duration_seconds("2 hours") == 7200
    with pytest.raises(ValueError):
        _duration_seconds("fortnight")

    base = dt.datetime(2024, 5, 1)
    rng = np.random.default_rng(9)
    rows = []
    for day in range(10):
        for src in ("a", "b"):
            lo = 0 if src == "a" else 500
            for u in rng.integers(lo, lo + 40, 60):
                rows.append(
                    (base + dt.timedelta(days=day, hours=int(u) % 24), src, int(u))
                )
    pdf = pd.DataFrame(rows, columns=["ts", "source", "user_id"])
    batch_df = spark.createDataFrame(pdf)
    src_dir = str(tmp_path / "slide_src")
    # time-ordered micro-batches (a real stream's arrival order): rows
    # randomly split across files would arrive "late" past the
    # operator's documented lateness horizon and be dropped by design
    import os
    import time

    os.makedirs(src_dir, exist_ok=True)
    for i, (lo, hi) in enumerate([(0, 3), (3, 5), (5, 8), (8, 10)]):
        cut_lo = base + dt.timedelta(days=lo)
        cut_hi = base + dt.timedelta(days=hi)
        part = pdf[(pdf.ts >= cut_lo) & (pdf.ts < cut_hi)]
        spark.createDataFrame(part).coalesce(1).write.parquet(
            str(tmp_path / f"slide_part{i}")
        )
        import glob
        import shutil

        (src_file,) = glob.glob(str(tmp_path / f"slide_part{i}" / "part-*.parquet"))
        shutil.copy(src_file, os.path.join(src_dir, f"batch_{i}.parquet"))
        time.sleep(1.1)  # order file mtimes => micro-batch order

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(src_dir)
    )
    out = windowed_sliding_distinct(
        stream, key_col="source", window="1 day", trailing=3, p=14
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("slide_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    em = spark.sql(
        "select * from slide_mem"
    ).toPandas()
    assert len(em)
    # the memory sink doesn't order emissions by batch; trailing_est is
    # MONOTONE (register-max union never shrinks), so the final state
    # per (key, window) is the max emission
    em = (
        em.groupby(["key", "window_start"])[["trailing_est", "n_windows"]]
        .max()
        .reset_index()
    )

    # exact trailing-3-day distinct per (source, day)
    ev = pdf.assign(day=pdf.ts.dt.floor("D"))
    for _, r in em.iterrows():
        day = r.window_start
        lo = day - pd.Timedelta(days=2)
        sub = ev[(ev.source == r.key) & (ev.day >= lo) & (ev.day <= day)]
        exact = sub.user_id.nunique()
        assert exact > 0
        assert abs(r.trailing_est - exact) / exact <= 0.05, (r.key, day, exact, r.trailing_est)
        assert 1 <= r.n_windows <= 3

    # every (source, day) with activity got an emission
    assert len(em) == 10 * 2


def test_windowed_sliding_distinct_late_row_never_degrades(spark, tmp_path):
    """A row arriving more than `trailing` windows behind the newest
    window in state must be DROPPED (acceptance horizon), never folded
    into a degraded re-emission that overwrites a complete one; NULL
    timestamps must not fabricate a sentinel-epoch window."""
    import datetime as dt
    import glob
    import os
    import shutil
    import time

    from rusty_bloomfilter_spark.streaming.stateful import (
        windowed_sliding_distinct,
    )

    base = dt.datetime(2024, 5, 1)
    schema = "ts timestamp, source string, user_id long"
    # batch 1: days 0..9 (wide); batch 2: one LATE row for day 0 (far
    # beyond the trailing=3 acceptance horizon) + one NULL ts row
    b1 = spark.createDataFrame(
        [(base + dt.timedelta(days=d), "a", 100 + d) for d in range(10)], schema
    )
    b2 = spark.createDataFrame(
        [(base, "a", 999), (None, "a", 777)], schema
    )
    src_dir = str(tmp_path / "late_src")
    os.makedirs(src_dir, exist_ok=True)
    for i, bdf in enumerate((b1, b2)):
        bdf.coalesce(1).write.parquet(str(tmp_path / f"late_part{i}"))
        (f,) = glob.glob(str(tmp_path / f"late_part{i}" / "part-*.parquet"))
        shutil.copy(f, os.path.join(src_dir, f"b{i}.parquet"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = windowed_sliding_distinct(
        stream, key_col="source", window="1 day", trailing=3, p=14
    )
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("late_mem")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    em = spark.sql("select * from late_mem").toPandas()
    day0 = em[em.window_start == pd.Timestamp(base)]
    # exactly ONE emission for day 0 (batch 1); the late row was
    # dropped, so no second (possibly degraded) emission exists
    assert len(day0) == 1 and day0.iloc[0].trailing_est == pytest.approx(1.0, abs=0.1)
    # the NULL-ts row fabricated no window (sentinel epoch ~ year 1677)
    assert (em.window_start >= pd.Timestamp("2024-01-01")).all()
