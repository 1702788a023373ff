"""The traced run: spans around the benchmark's calls into each layer,
per-layer measurements, and Spark task metrics from the event log.

Layers are the package's modules: ``sources``, ``sketch``,
``operators.sketches``, ``operators.aggregate``, ``operators.checkpoint``,
plus the Spark runtime per operation. Spans are kept in memory and
written out, one JSON object per line (name, start, end, parent, op id),
when the run ends.

Tracing overhead: the traced run turns spans and per-operation CPU
sampling on for each operation on alternate passes, every other
operation starting traced, and reports the median over operations of
traced over untraced time, minus one. The Spark event log is on for the
whole traced run, so its cost is not in that figure.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

from ops import MEASURED

SPARK_FIELDS = ("tasks", "task_cpu_s", "cpu_util", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "task_skew")
KINDS = ("blocked", "bloom", "hll", "cms", "kll")
SAMPLE_TOKENS = 1 << 19


class Tracer:
    """Spans and per-operation CPU use; a no-op while ``enabled`` is off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sampler = None
        self.spark = None
        self.spans: list[dict] = []
        self.cpu: dict[str, list[float]] = {}  # op -> cpu_util per traced run
        self._stack: list[int] = []
        self._op_id: str | None = None
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent, "op_id": self._op_id})
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans[sid].update(start=start - self._t0, end=end - self._t0)

    @contextmanager
    def op(self, op: str, op_id: str):
        """One operation: its span, its Spark job group, its CPU use."""
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(op_id, op)
        if not self.enabled:
            yield
            return
        self._op_id = op_id
        cpu0, t0 = self.sampler.cpu_seconds(), time.perf_counter()
        try:
            with self.span(op):
                yield
        finally:
            wall = time.perf_counter() - t0
            cores = len(os.sched_getaffinity(0))
            self.cpu.setdefault(op, []).append((self.sampler.cpu_seconds() - cpu0) / (wall * cores))
            self._op_id = None

    def overhead(self, samples: dict[str, list[float]]) -> float:
        """Median over operations of traced over untraced time, minus one;
        operation i was traced on the passes p with i + p even."""
        return statistics.median(
            statistics.median(v[i % 2 :: 2]) / statistics.median(v[1 - i % 2 :: 2]) - 1.0
            for i, v in enumerate(samples.values())
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def unit_of(metric: str) -> str:
    """Unit of any metric the benchmark prints, from its name's suffix."""
    for suffix, unit in (
        ("_ns_per_item", "ns"),
        ("_ns_per_token", "ns"),
        ("_ns_per_row", "ns"),
        ("_mb_per_s", "MB/s"),
        ("_per_s", "1/s"),
        ("_bytes", "bytes"),
        ("_mb", "MB"),
        ("_mb_written", "MB"),
        ("_s", "s"),
        ("tasks", "count"),
        ("_rows", "count"),
        ("_files", "count"),
    ):
        if metric.endswith(suffix):
            return unit
    return "ratio"


def _per_call(fn, min_time: float = 0.05, reps: int = 3) -> float:
    """Median seconds per call over ``reps`` timed loops of at least
    ``min_time`` each."""
    out = []
    for _ in range(reps):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            dt = time.perf_counter() - t0
            if dt >= min_time:
                break
        out.append(dt / n)
    return statistics.median(out)


def _sample_batches(files: list[str]) -> list:
    """The workload's own Arrow batches, read file by file until about
    SAMPLE_TOKENS tokens are in hand."""
    import pyarrow.parquet as pq

    out, n = [], 0
    for path in files:
        for b in pq.ParquetFile(path).iter_batches(batch_size=10000, columns=["tokens", "n_tok", "doc_bucket"]):
            out.append(b)
            n += len(b.column("tokens").values)
            if n >= SAMPLE_TOKENS:
                return out
    return out


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**"), recursive=True) if os.path.isfile(f)) / 2**20


def layer_metrics(bench, oracle, tracer: Tracer, gen_s: float, failures: list[str]) -> dict[str, float]:
    """Per-layer measurements, taken after the measured passes; a wrong
    result is appended to ``failures``."""
    from pyspark.sql import functions as F

    from rusty_bloomfilter_spark.operators.aggregate import iter_key_slices, partition_sketches, tree_merge
    from rusty_bloomfilter_spark.operators.sketches import arrow_flat_tokens, dedup_counts
    from rusty_bloomfilter_spark.sketch import (
        BlockedBloomFilter,
        BloomFilter,
        CountMinSketch,
        HyperLogLog,
        KLLSketch,
        Shape,
        merge_sketch_payloads,
        sketch_from_bytes,
    )

    from ops import CKPT_N, NGRAM_P

    m: dict[str, float] = {"sources.gen_s": gen_s}
    with tracer.span("sources.scan_floor"):
        m["sources.scan_floor_s"] = _per_call(
            lambda: bench.df.select("tokens").write.format("noop").mode("overwrite").save(), 0.0
        )

    batches = _sample_batches(oracle.files)
    flats = [arrow_flat_tokens(b, "tokens") for b in batches]
    n_tok = [b.column("n_tok").to_numpy() for b in batches]
    n_items = sum(f.size for f in flats)
    n_rows = sum(v.size for v in n_tok)
    uni = bench.unigram.proto
    makers = {
        "blocked": lambda: BlockedBloomFilter(uni.n_blocks),
        "bloom": lambda: BloomFilter.empty(Shape.for_np(CKPT_N, NGRAM_P)),
        "hll": lambda: HyperLogLog(bench.hll.p),
        "cms": lambda: CountMinSketch(bench.cms.d, bench.cms.w),
        "kll": lambda: KLLSketch(bench.kll.k),
    }
    built = {}
    with tracer.span("sketch"):
        for kind, make in makers.items():
            def add(kind=kind, make=make):
                sk = make()
                for f, v in zip(flats, n_tok):
                    if kind == "kll":
                        sk.update_batch(v)
                    else:
                        sk.add_tokens(f)
                built[kind] = sk

            per = n_rows if kind == "kll" else n_items
            m[f"sketch.{kind}.add_ns_per_item"] = _per_call(add, 0.0) / per * 1e9
        probe = built["blocked"]
        m["sketch.blocked.contains_ns_per_item"] = (
            _per_call(lambda: [probe.contains_tokens(f) for f in flats], 0.0) / n_items * 1e9
        )
        payloads = {
            "blocked": bench.ref["ckpt.plain"],
            "bloom": built["bloom"].to_bytes(),
            "hll": bench.ref["profile.hll"],
            "cms": bench.ref["profile.cms"],
            "kll": bench.ref["profile.kll"],
        }
        for kind, p in payloads.items():
            mb = len(p) / 2**20
            m[f"sketch.{kind}.merge_mb_per_s"] = 2 * mb / _per_call(lambda p=p: merge_sketch_payloads([p, p]))
            m[f"sketch.{kind}.codec_mb_per_s"] = mb / _per_call(lambda p=p: sketch_from_bytes(p).to_bytes())
            m[f"sketch.{kind}.payload_bytes"] = float(len(p))

    with tracer.span("operators.sketches"):
        def update_all():
            accs = [mk() for _, mk, _, _ in bench.profile_specs]
            for b in batches:
                for acc, (_, _, upd, _) in zip(accs, bench.profile_specs):
                    upd(acc, b)

        m["operators.sketches.update_ns_per_token"] = _per_call(update_all, 0.0) / n_items * 1e9
        distinct = 0
        for f in flats:
            dc = dedup_counts(f)
            distinct += f.size if dc is None else dc[0].size
        m["operators.sketches.dedup_ratio"] = distinct / n_items

    with tracer.span("operators.aggregate"):
        ck = bench.ckpt
        stage1, merge = [], []
        for _ in range(2):
            t = time.perf_counter()
            part = partition_sketches(bench.df, ck._empty, ck._update, columns=["tokens"]).persist()
            rows, payload_bytes = part.agg(F.count("*"), F.sum(F.length("payload"))).collect()[0]
            stage1.append(time.perf_counter() - t)
            t = time.perf_counter()
            merged = tree_merge(part, merge_sketch_payloads, fanout=16).collect()[0]
            merge.append(time.perf_counter() - t)
            part.unpersist(blocking=True)
            if bytes(merged["payload"]) != bench.ref["ckpt.plain"]:
                failures.append("layers: tree_merge over stage-1 rows differs from build_bytes")
        m["operators.aggregate.stage1_s"] = statistics.median(stage1)
        m["operators.aggregate.tree_merge_s"] = statistics.median(merge)
        m["operators.aggregate.sketch_rows"] = float(rows)
        m["operators.aggregate.shuffle_payload_mb"] = payload_bytes / 2**20

        def slices():
            for b in batches:
                for _ in iter_key_slices(b, "doc_bucket"):
                    pass

        m["operators.aggregate.key_slice_ns_per_row"] = _per_call(slices, 0.0) / n_rows * 1e9

    cold, resume = bench.reports["ckpt_cold"], bench.reports["ckpt_resume"]
    m["operators.checkpoint.built_files"] = float(cold.built_files)
    m["operators.checkpoint.resumed_files"] = float(resume.resumed_files)
    m["operators.checkpoint.ckpt_mb_written"] = _dir_mb(bench.ckpt_dir)
    return m


def event_log_metrics(events_dir: str, tracer: Tracer) -> dict[str, float]:
    """spark.<op>.<field> from the Spark event log (read after the
    session stopped); medians over the measured passes of each op."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", ()):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev)

    per_run: dict[str, dict[str, list]] = {}
    for sid, evs in tasks.items():
        group = stage_group.get(sid)
        if group is None or group.endswith("#warmup"):
            continue
        run = per_run.setdefault(group, {"tasks": [], "stages": []})
        run["tasks"].extend(evs)
        run["stages"].append([e["Task Metrics"]["Executor Run Time"] for e in evs if e.get("Task Metrics")])

    out: dict[str, float] = {}
    for op in MEASURED:
        rows = []
        for group, run in per_run.items():
            if group.split("#")[0] != op:
                continue
            tm = [e["Task Metrics"] for e in run["tasks"] if e.get("Task Metrics")]
            skew = [max(s) / (sum(s) / len(s)) for s in run["stages"] if len(s) > 1 and sum(s) > 0]
            rows.append(
                {
                    "tasks": float(len(run["tasks"])),
                    "task_cpu_s": sum(t["Executor CPU Time"] for t in tm) / 1e9,
                    "gc_s": sum(t["JVM GC Time"] for t in tm) / 1e3,
                    "shuffle_write_mb": sum(t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tm) / 2**20,
                    "shuffle_read_mb": sum(
                        t["Shuffle Read Metrics"]["Remote Bytes Read"] + t["Shuffle Read Metrics"]["Local Bytes Read"]
                        for t in tm
                    ) / 2**20,
                    "task_skew": max(skew, default=1.0),
                }
            )
        for field in SPARK_FIELDS:
            if field == "cpu_util":
                vals = tracer.cpu.get(op, [])
            else:
                vals = [r[field] for r in rows]
            out[f"spark.{op}.{field}"] = float(np.median(vals)) if vals else 0.0
    return out


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    names = [
        "sources.gen_s",
        "sources.scan_floor_s",
        *(f"sketch.{k}.add_ns_per_item" for k in KINDS),
        "sketch.blocked.contains_ns_per_item",
    ]
    for k in KINDS:
        names += [f"sketch.{k}.merge_mb_per_s", f"sketch.{k}.codec_mb_per_s", f"sketch.{k}.payload_bytes"]
    names += [
        "operators.sketches.update_ns_per_token",
        "operators.sketches.dedup_ratio",
        "operators.aggregate.stage1_s",
        "operators.aggregate.tree_merge_s",
        "operators.aggregate.sketch_rows",
        "operators.aggregate.shuffle_payload_mb",
        "operators.aggregate.key_slice_ns_per_row",
        "operators.checkpoint.built_files",
        "operators.checkpoint.resumed_files",
        "operators.checkpoint.ckpt_mb_written",
    ]
    names += [f"spark.{op}.{f}" for op in MEASURED for f in SPARK_FIELDS]
    return names + ["trace.overhead_frac"]
