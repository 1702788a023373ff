#!/usr/bin/env python
"""Two-parallelism scaling benchmark (north rule: >=0.8 throughput
scaling efficiency from N to 4N executors; this sandbox sustains ~8
real cores, so the honest N->4N pair is local[2] vs local[8]).

Round-4 methodology (per round-3 verdict task 8): the tool itself now
aggregates PER LEG across multiple interleaved runs — every (run, cpus)
leg is a fresh JVM, legs alternate 2/8/32 so a host-steal window hits
at most one leg per level, and the reported number per (level, job) is
the MEDIAN of n_runs best-of-2 timings. One command regenerates the
whole table; every raw leg is appended to BENCH/scaling_samples.jsonl
for audit.

Jobs: blocked Bloom build, blocked probe, classic K-M build
(reference-parity path), and the sharded ROUTED build (shuffle-by-
shard — the 100-TB flagship for filters larger than one task's
memory; round-3 verdict task 7).

Usage: python tools/scaling_bench.py [rows] [n_runs]
       (defaults: 120_000 rows, 5 runs)
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

JOBS = [
    ("blocked_build_sec", "Bloom build (split-block, scale path)"),
    ("blocked_probe_sec", "Bloom probe (split-block)"),
    ("classic_build_sec", "Bloom build (classic K-M, reference parity)"),
    ("sharded_routed_build_sec", "Sharded Bloom routed build (shuffle-by-shard)"),
    ("ams_mg_profile_sec", "Fused AMS+MG token profile (one scan, build_multi)"),
]

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

cpus = int(sys.argv[1])
spark = (SparkSession.builder.master(f"local[{{cpus}}]")
         .appName(f"scaling-{{cpus}}")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.driver.memory", "60g")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "40000")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from rusty_bloomfilter_spark.operators.sketches import BlockedBloomSketch, BloomSketch
from rusty_bloomfilter_spark.operators.sharded import ShardedBloomSketch
from rusty_bloomfilter_spark.sketch import Shape

seq = spark.read.parquet("/tmp/bench_seq_scaling.parquet")
n_tokens = seq.agg({{"n_tok": "sum"}}).collect()[0][0]

from rusty_bloomfilter_spark.operators.aggregate import build_multi, collect_multi_bytes
from rusty_bloomfilter_spark.operators.sketches import AmsSketch, MgSketch
from rusty_bloomfilter_spark.sketch import merge_sketch_payloads

bsk = BlockedBloomSketch.for_np(n=2_000_000, p=1e-4)
csk = BloomSketch(Shape.for_np(n=2_000_000, p=1e-4))
ssk = ShardedBloomSketch(n_total=2_000_000, p=1e-4, n_shards=max(cpus, 8))
ams = AmsSketch(d=5, w=8192, col="tokens")
mg = MgSketch(1024, col="tokens")
specs = [("ams", ams._empty, ams._update, merge_sketch_payloads),
         ("mg", mg._empty, mg._update, merge_sketch_payloads)]
def profile_once():
    collect_multi_bytes(build_multi(seq.select("tokens"), specs, columns=["tokens"]), specs, fanout=cpus)
# warm workers with FULL-SIZE runs (page-fault warmup dominates first
# touches of large buffers on this microVM; small warmups bias the
# first timed job)
bsk.build_bytes(seq, fanout=cpus)
csk.build_bytes(seq, fanout=cpus)
ssk.build(seq, routed=True).count()
profile_once()

def best_of(fn, reps=2):
    best = None
    for _ in range(reps):
        t0 = time.time(); fn(); dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best

tb = best_of(lambda: bsk.build_bytes(seq, fanout=cpus))
payload, _ = bsk.build_bytes(seq, fanout=cpus)
tp = best_of(lambda: bsk.count_contained(seq, payload, spark))
tc = best_of(lambda: csk.build_bytes(seq, fanout=cpus))
ts = best_of(lambda: ssk.build(seq, routed=True).count())
ta = best_of(profile_once)
print(json.dumps({{
    "cpus": cpus, "n_tokens": int(n_tokens),
    "blocked_build_sec": round(tb, 3), "blocked_probe_sec": round(tp, 3),
    "classic_build_sec": round(tc, 3),
    "sharded_routed_build_sec": round(ts, 3),
    "ams_mg_profile_sec": round(ta, 3),
}}))
spark.stop()
"""


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    # materialize the shared input once
    gen = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from pyspark.sql import SparkSession\n"
        "from rusty_bloomfilter_spark.sources import synthetic_sequences\n"
        "spark = (SparkSession.builder.master('local[32]')"
        ".config('spark.ui.enabled','false').config('spark.driver.memory','60g').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"synthetic_sequences(spark, {rows}, num_partitions=64).write.mode('overwrite')"
        ".parquet('/tmp/bench_seq_scaling.parquet')\n"
        "spark.stop()\n"
    ).format(repo=str(REPO))
    subprocess.run([sys.executable, "-c", gen], check=True, capture_output=True)

    levels = (2, 8, 32)
    samples: list[dict] = []
    samples_path = REPO / "BENCH" / "scaling_samples.jsonl"
    samples_path.parent.mkdir(exist_ok=True)
    for run_i in range(n_runs):
        for cpus in levels:  # interleaved: a steal window hits <=1 leg/level
            out = subprocess.run(
                [sys.executable, "-c", CHILD.format(repo=str(REPO)), str(cpus)],
                check=True,
                capture_output=True,
                text=True,
            )
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            rec["run"] = run_i
            rec["wall_clock"] = time.time()
            samples.append(rec)
            with samples_path.open("a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(
                f"run {run_i} local[{cpus}]: "
                + " ".join(f"{k}={rec[k]}" for k, _ in JOBS),
                file=sys.stderr,
            )

    n_tok = samples[0]["n_tokens"]

    def leg_median(cpus: int, key: str) -> float:
        return statistics.median(s[key] for s in samples if s["cpus"] == cpus)

    report: dict = {"rows": rows, "n_tokens": n_tok, "n_runs": n_runs}
    lines = [
        "# BENCH/BASELINE — measured throughput + scaling efficiency",
        "",
        "Same job, same materialized input (`/tmp/bench_seq_scaling.parquet`,",
        f"{rows} rows / {n_tok:,} tokens) at three parallelism levels; every",
        f"(run, level) leg is a fresh warmed JVM, best-of-2 per job, legs",
        f"interleaved 2/8/32 across {n_runs} runs; each cell is the PER-LEG",
        "MEDIAN (host-steal windows hit individual legs, so medians across",
        "interleaved runs are the honest aggregate — see round-3 notes).",
        "",
        "**Effective-core calibration.** This sandbox advertises 32 vCPUs",
        "but a pure-CPU cache-resident probe (multiprocessing, uint64",
        "mix loop) sustains only ~7.8x one core's throughput whether 8 or",
        "32 processes run — i.e. the host provides ~8 physical cores'",
        "worth of CPU. The honest N -> 4N pair on this box is therefore",
        "**local[2] -> local[8]** (headline efficiency below); the",
        "local[32] column is shown for transparency and is flat by",
        "construction of the VM, not of the engine.",
        "",
        "| job | local[2] | local[8] | local[32] | 2->8 speedup | 2->8 efficiency |",
        "|---|---|---|---|---|---|",
    ]
    for key, label in JOBS:
        t2, t8, t32 = (leg_median(c, key) for c in levels)
        speedup = t2 / t8
        eff = speedup / 4.0
        report[key] = {
            "local2_sec": round(t2, 3),
            "local8_sec": round(t8, 3),
            "local32_sec": round(t32, 3),
            "local2_tokens_per_sec": round(n_tok / t2, 1),
            "local8_tokens_per_sec": round(n_tok / t8, 1),
            "local32_tokens_per_sec": round(n_tok / t32, 1),
            "speedup_2_to_8": round(speedup, 2),
            "efficiency_2_to_8": round(eff, 3),
        }
        lines.append(
            f"| {label} | {t2:.2f}s ({n_tok/t2/1e6:.2f} M/s) "
            f"| {t8:.2f}s ({n_tok/t8/1e6:.2f} M/s) "
            f"| {t32:.2f}s ({n_tok/t32/1e6:.2f} M/s) "
            f"| {speedup:.2f}x | {eff:.2f} |"
        )
    lines += [
        "",
        "Scaling efficiency = (T_N / T_4N) / 4, N=2. Local-mode workers",
        "share one memory subsystem, so memory-bound stages understate what",
        "a multi-executor cluster (independent memory buses) would see; the",
        "split-block filter keeps the kernel compute-bound (one cache line",
        "per token) precisely to protect that scaling. The sharded routed",
        "build adds one hash-partitioned shuffle of (shard, h) rows — its",
        "efficiency shows the shuffle path scales, not just the map side.",
        "",
        "```json",
        json.dumps(report, indent=2),
        "```",
    ]
    # BENCH/BASELINE.md is the curated median-of-runs document; each
    # invocation writes its own table next to it for later aggregation
    out_md = REPO / "BENCH" / "scaling_run_latest.md"
    out_md.write_text("\n".join(lines) + "\n")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
