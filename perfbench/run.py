"""The sketch-library benchmark: one command, one named workload, one seed.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 32 --trace 0
    python3 perfbench/run.py --smoke

Run from the root of a source checkout (the directory that holds
``rusty_bloomfilter_spark``). A run

1. starts a local Spark session on half the cores (``env.py``), generates the
   workload's table from the seed three times (``gen.py``; the bytes must
   repeat) and warms up with one full-size, untimed run of every
   operation: together that is ``setup_s``, counting the median of the
   three generations;
2. runs passes over the measured operations (``ops.MEASURED``) while
   another pass fits in ``--seconds``, and checks every output against
   the generator's oracle;
3. prints a detail line (environment, sample counts, tail percentiles,
   failures) and, last, one JSON object with ``correct``, ``attempted``,
   ``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
   the per-layer metrics with ``--trace 1`` (``tracing.py``).

``--smoke`` runs every workload at a small size, untraced and traced, and
asserts that every metric named in ``BENCHMARK.json`` is printed with its
unit. All scratch files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rusty_bloomfilter_spark"
GEN_REPS = 3

# passes a run makes at least, whatever --seconds says: a traced run
# needs every operation traced and untraced
MIN_PASSES = 3


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def _tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    return int(100 * (1 - 10 / n)) if n >= 20 else None


def _percentile(xs: list[float], q: int) -> float:
    s = sorted(xs)
    return s[min(len(s) - 1, int(len(s) * q / 100))]


def run_workload(name: str, seed: int, seconds: float, trace: bool, *, smoke: bool = False) -> tuple[dict, dict]:
    import env
    import gen
    import ops
    import tracing as tr

    cores = env.spark_cores()
    spec = ops.workloads(env.nproc(), smoke=smoke)[name]
    work = os.path.join(ROOT, ".perfbench", f"{name}-{seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = tr.Tracer(enabled=trace)
    samples: dict[str, list[float]] = {op: [] for op in ops.MEASURED}
    failures: list[str] = []
    attempted = 0
    layers: dict[str, float] = {}
    warmup: dict[str, float] = {}

    def attempt(bench, op: str, pass_id: str, record: bool) -> None:
        nonlocal attempted
        bench.before(op)
        attempted += 1
        with tracer.op(op, f"{op}#{pass_id}"):
            try:
                bench.run(op)
            except ops.CheckFailed as e:
                failures.append(f"{op}#{pass_id}: {e}")
            except Exception:  # a failed Spark job is a failed operation
                failures.append(f"{op}#{pass_id}: {traceback.format_exc(limit=3)}")
        if record:
            samples[op].append(bench.last_s)
        else:
            warmup[op] = bench.last_s

    with env.TreeSampler() as sampler:
        tracer.sampler = sampler
        t0 = time.perf_counter()
        spark = env.start_spark(ROOT, work, event_log=trace)
        if trace:
            tracer.spark = spark
        try:
            session_s = time.perf_counter() - t0
            gen_s, oracle = [], None
            for _ in range(GEN_REPS):
                t = time.perf_counter()
                with tracer.span("sources.generate"):
                    o = gen.generate(seed, spec, data)
                gen_s.append(time.perf_counter() - t)
                if oracle is not None and o.digest != oracle.digest:
                    failures.append("setup: generation did not repeat for the same seed")
                oracle = o
            bench = ops.Ops(spark, data, spec, oracle, cores, tracer)
            tracer.enabled = False
            t = time.perf_counter()
            for op in ops.OPS:
                attempt(bench, op, "warmup", record=False)
            warmup_s = time.perf_counter() - t
            setup_s = session_s + _median(gen_s) + warmup_s

            start = time.perf_counter()
            pass_s: list[float] = []
            n_pass = 0
            # stop when the next pass, as long as the median pass so far,
            # would end after --seconds
            while n_pass < MIN_PASSES or time.perf_counter() - start + _median(pass_s) <= seconds:
                t = time.perf_counter()
                for i, op in enumerate(ops.MEASURED):
                    # a traced run traces operation i on the passes p with
                    # i + p even: every operation has traced and untraced
                    # runs, and the later passes' extra warmth falls on both
                    # sides of the overhead
                    tracer.enabled = trace and (i + n_pass) % 2 == 0
                    attempt(bench, op, str(n_pass), record=True)
                pass_s.append(time.perf_counter() - t)
                n_pass += 1
            tracer.enabled = trace
            if trace:
                layers = tr.layer_metrics(bench, oracle, tracer, _median(gen_s), failures)
        finally:
            env.stop_spark(spark, sampler)
        peak_rss = sampler.peak_rss

    p50 = {op: _median(v) for op, v in samples.items()}
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        **{f"{op}_p50_s": p50[op] for op in ops.MEASURED if op != "profile_1task"},
        "profile_tokens_per_s": oracle.n_tokens / p50["profile"],
        "scaling_eff": p50["profile_1task"] / p50["profile"] / cores,
        **bench.accuracy,
    }
    if trace:
        layers.update(tr.event_log_metrics(os.path.join(work, "events"), tracer))
        layers["trace.overhead_frac"] = tracer.overhead(samples)
        spans = os.path.join(ROOT, ".perfbench", f"spans-{name}-{seed}.jsonl")
        tracer.write(spans)
    detail = {
        "workload": name,
        "env": env.describe(ROOT, seed),
        "passes": n_pass,
        "pass_s": pass_s,
        "session_s": session_s,
        "gen_s": gen_s,
        "warmup_s": warmup_s,
        "warmup": warmup,
        "n_tokens": oracle.n_tokens,
        "samples": {
            op: {"n": len(v), "p50_s": p50[op]}
            | ({f"p{q}_s": _percentile(v, q)} if (q := _tail_percentile(len(v))) else {})
            | {"all_s": v}
            for op, v in samples.items()
        },
        "failed_frac": len(failures) / attempted,
        "failures": failures[:20],
    }
    if trace:
        detail["spans_file"] = os.path.relpath(spans, ROOT)
        detail["end_to_end"] = metrics  # as measured with tracing on
    shutil.rmtree(work, ignore_errors=True)
    chosen = layers if trace else metrics
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": tr.unit_of(k)} for k, v in chosen.items()},
    }
    return detail, result


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke() -> int:
    """Every workload at a small size, untraced and traced: every
    declared metric is printed with its declared unit."""
    spec = _declared()
    problems = []
    for w in spec["workloads"]:
        for trace, declared in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
            detail, result = run_workload(w["name"], 1, 1.0, trace, smoke=True)
            got = result["metrics"]
            for m in declared:
                if m["name"] not in got:
                    problems.append(f"{w['name']} trace={int(trace)}: {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{w['name']} trace={int(trace)}: {m['name']} unit {got[m['name']]['unit']}")
            if not result["correct"]:
                problems.append(f"{w['name']} trace={int(trace)}: {detail['failures']}")
            print(f"smoke {w['name']} trace={int(trace)}: {len(got)} metrics, {result['attempted']} ops", flush=True)
    for p in problems:
        print("SMOKE FAIL", p, file=sys.stderr)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problems")
    return 1 if problems else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("corpus", "resume"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package at {ROOT}: run from a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    detail, result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
