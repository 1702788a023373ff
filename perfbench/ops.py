"""Workloads, and the operations a run times.

Every workload runs the same operations, so every run reports every
metric; the workloads differ in the table the operations read:

- ``corpus``: 2 x nproc files, ~62% of rows on one ``source`` key. Sketch
  kernels and the Arrow/UDF boundary carry the unkeyed builds, the keyed
  builds shuffle skewed sketch rows into ``groupBy().applyInPandas``
  merges, and the tree merge sees few payloads.
- ``resume``: 64 small files, balanced keys. The checkpointed build
  writes, and the resume merges, one payload per file, so the merge path
  and the payload codec dominate while the kernels do little.

The warm-up runs every operation in ``OPS`` once. The measured passes
repeat only ``MEASURED``: ``ONCE`` holds the slowest operations, whose
warm-up run is checked and feeds the accuracy metrics but is not timed,
so that the measured operations get enough passes for a steady median.

Each operation checks its output against the generator's oracle and
raises :class:`CheckFailed` when it is wrong. Only the library calls are
timed (``Ops.timed``); the checks run outside the timing.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext

import numpy as np

from gen import BALANCED_MIX, SKEWED_MIX, VOCAB, Corpus, Oracle

OPS = (
    "profile",
    "ngram_build",
    "probe",
    "profile_1task",
    "keyed",
    "keyed_hicard",
    "ckpt_cold",
    "ckpt_resume",
)
ONCE = ("keyed_hicard", "ckpt_cold")
MEASURED = tuple(op for op in OPS if op not in ONCE)

UNIGRAM_P = 1e-2  # unigram filter: sized for 1.5 x vocabulary at this FPR
NGRAM_P = 1e-3
CKPT_N = 1 << 19  # checkpointed filter: ~1 MB payload per input file
QGRID = np.linspace(0.01, 0.99, 99)


def workloads(cores: int, *, smoke: bool = False) -> dict[str, Corpus]:
    rows = 1500 if smoke else 15000
    return {
        "corpus": Corpus(n_rows=rows, n_files=2 * cores, source_mix=SKEWED_MIX),
        "resume": Corpus(n_rows=rows // 4, n_files=16 if smoke else 64, source_mix=BALANCED_MIX),
    }


class CheckFailed(Exception):
    """An operation's output disagrees with the oracle."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def kll_rank_errors(payload: bytes, sorted_vals: np.ndarray) -> np.ndarray:
    """|rank error| of the sketch's quantile estimates on QGRID, against
    the exact rank interval of each estimate (ties span an interval)."""
    from rusty_bloomfilter_spark.sketch import KLLSketch

    est = KLLSketch.from_bytes(payload).quantile(QGRID)
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return np.maximum(0.0, np.maximum(lo - QGRID, QGRID - hi))


class Ops:
    """The operations over one generated table."""

    def __init__(self, spark, data_dir: str, spec: Corpus, oracle: Oracle, cores: int, tracer=None):
        from rusty_bloomfilter_spark.operators.sketches import (
            BlockedBloomSketch,
            CmsSketch,
            HllSketch,
            KllQuantiles,
        )
        from rusty_bloomfilter_spark.sketch import BlockedBloomFilter, merge_sketch_payloads

        self.spark = spark
        self.cores = cores
        self.oracle = oracle
        self.corpus_dir = os.path.join(data_dir, "corpus")
        self.ckpt_dir = os.path.join(data_dir, "ckpt")
        self.df = spark.read.parquet(self.corpus_dir)
        self.span = tracer.span if tracer is not None else (lambda name: nullcontext())

        self.unigram = BlockedBloomSketch(BlockedBloomFilter.for_np(VOCAB * 3 // 2, UNIGRAM_P))
        # p=12 keeps the ~50k-token vocabulary above 5 x m registers, out of
        # the band (2.5-5 x m) where the uncorrected raw estimator is biased;
        # the per-bucket sketches (<= ~10k distinct each) stay below 2.5 x m
        self.hll = HllSketch(p=12)
        self.hicard = HllSketch(p=14)
        self.cms = CmsSketch(d=5, w=1 << 17)
        self.kll = KllQuantiles(k=200, col="n_tok")
        self.ngram = BlockedBloomSketch(
            BlockedBloomFilter.for_np(int(spec.n_rows * spec.mean_len), NGRAM_P), ngram=3
        )
        self.ckpt = BlockedBloomSketch(BlockedBloomFilter.for_np(CKPT_N, NGRAM_P))
        self.profile_specs = [
            ("bloom", self.unigram._empty, self.unigram._update, merge_sketch_payloads),
            ("hll", self.hll._empty, self.hll._update, self.hll._merge),
            ("cms", self.cms._empty, self.cms._update, self.cms._merge),
            ("kll", self.kll._empty, self.kll._update, self.kll._merge),
        ]
        self.keyed_specs = self.profile_specs[1:]
        # payloads of the first run of each operation: later runs, the
        # 1-task build and the checkpointed builds must reproduce them bit
        # for bit
        self.ref: dict[str, object] = {}
        self.accuracy: dict[str, float] = {}
        self.reports: dict[str, object] = {}
        self.last_s = 0.0

    @contextmanager
    def timed(self, name: str):
        """A library call: a span, and its time added to ``last_s``."""
        t = time.perf_counter()
        try:
            with self.span(name):
                yield
        finally:
            self.last_s += time.perf_counter() - t

    def before(self, op: str) -> None:
        """Untimed preparation: the cold build starts from no checkpoint."""
        if op == "ckpt_cold":
            shutil.rmtree(self.ckpt_dir, ignore_errors=True)

    def run(self, op: str) -> None:
        """Run and check one operation; ``last_s`` is then the time its
        library calls took, even when the run failed."""
        self.last_s = 0.0
        getattr(self, op)()

    def _same(self, key: str, value, what: str) -> None:
        ref = self.ref.setdefault(key, value)
        _require(ref == value, f"{what} differs from its first run")

    # -- unkeyed builds ---------------------------------------------------

    def _profile(self, df) -> dict[str, tuple[bytes, int]]:
        from rusty_bloomfilter_spark.operators.aggregate import build_multi, collect_multi_bytes

        with self.timed("operators.aggregate.build_multi"):
            n_rows, out = collect_multi_bytes(
                build_multi(df, self.profile_specs, columns=["tokens", "n_tok"], fanout=16),
                self.profile_specs,
            )
        o = self.oracle
        _require(n_rows == o.n_rows, f"profile n_rows {n_rows} != {o.n_rows}")
        for name in ("bloom", "hll", "cms"):
            _require(out[name][1] == o.n_tokens, f"profile {name} n_items {out[name][1]} != {o.n_tokens}")
        _require(out["kll"][1] == o.n_rows, f"profile kll n_items {out['kll'][1]} != {o.n_rows}")
        return out

    def profile(self) -> None:
        from rusty_bloomfilter_spark.sketch import CountMinSketch, HyperLogLog

        out = self._profile(self.df)
        with self.span("check"):
            o = self.oracle
            for name in ("bloom", "hll", "cms"):
                self._same(f"profile.{name}", out[name][0], f"profile {name} payload")
            self.ref.setdefault("profile.kll", out["kll"][0])
            est = CountMinSketch.from_bytes(out["cms"][0]).query_tokens(np.arange(VOCAB))
            _require(bool((est >= o.token_counts).all()), "CMS under-estimates a token count")
            hll = HyperLogLog.from_bytes(out["hll"][0])
            err = abs(hll.estimate() - o.distinct) / o.distinct
            _require(err <= 3 * hll.relative_error(), f"HLL error {err:.4f} beyond 3 standard errors")
            self._check_kll(out["kll"][0], o.n_tok_sorted, "profile")

    def profile_1task(self) -> None:
        out = self._profile(self.df.coalesce(1))
        with self.span("check"):
            for name in ("bloom", "hll", "cms"):
                _require(
                    out[name][0] == self.ref[f"profile.{name}"],
                    f"1-task {name} payload differs from the {self.cores}-task payload",
                )
            self._check_kll(out["kll"][0], self.oracle.n_tok_sorted, "1-task profile")

    def _check_kll(self, payload: bytes, sorted_vals: np.ndarray, what: str) -> np.ndarray:
        from rusty_bloomfilter_spark.sketch import KLLSketch

        errs = kll_rank_errors(payload, sorted_vals)
        bound = KLLSketch(self.kll.k).rank_error()
        _require(float(errs.max()) <= bound, f"{what} KLL rank error {errs.max():.4f} > {bound:.4f}")
        return errs

    def ngram_build(self) -> None:
        with self.timed("operators.sketches.BlockedBloomSketch.build_bytes"):
            payload, n_items = self.ngram.build_bytes(self.df)
        with self.span("check"):
            _require(n_items == self.oracle.n_trigrams, f"3-gram n_items {n_items} != {self.oracle.n_trigrams}")
            self._same("ngram", payload, "3-gram payload")

    def probe(self) -> None:
        from rusty_bloomfilter_spark.sketch import sketch_from_bytes

        payload = self.ref["profile.bloom"]
        with self.timed("operators.sketches.count_contained"):
            hits, total = self.unigram.count_contained(self.df, payload, self.spark)
        with self.span("check"):
            o = self.oracle
            _require(total == o.n_tokens, f"probed {total} tokens, corpus has {o.n_tokens}")
            _require(hits == total, f"{total - hits} false negatives")
            fpr = float(sketch_from_bytes(payload).contains_tokens(o.disjoint).mean())
            _require(fpr <= UNIGRAM_P, f"observed FPR {fpr:.2e} above the bound {UNIGRAM_P:.0e}")
            self.accuracy["fpr_over_bound"] = fpr / UNIGRAM_P

    # -- keyed builds -----------------------------------------------------

    def keyed(self) -> None:
        from rusty_bloomfilter_spark.operators.aggregate import build_multi_by_key

        with self.timed("operators.aggregate.build_multi_by_key"):
            rows = build_multi_by_key(
                self.df, "source", self.keyed_specs, columns=["tokens", "n_tok"]
            ).collect()
        with self.span("check"):
            o = self.oracle
            got = {r["key"]: r for r in rows}
            _require(set(got) == set(o.source_tokens), f"keys {sorted(got)} != {sorted(o.source_tokens)}")
            errs = [kll_rank_errors(self.ref["profile.kll"], o.n_tok_sorted)]
            for key, r in got.items():
                _require(r["n_hll"] == r["n_cms"] == o.source_tokens[key], f"key {key} token count")
                _require(r["n_kll"] == r["n_rows"] == len(o.source_n_tok[key]), f"key {key} row count")
                for name in ("hll", "cms"):
                    self._same(f"keyed.{key}.{name}", bytes(r[f"payload_{name}"]), f"keyed {key} {name} payload")
                errs.append(self._check_kll(bytes(r["payload_kll"]), o.source_n_tok[key], f"key {key}"))
            self.accuracy["kll_rank_err"] = float(np.mean(errs))

    def keyed_hicard(self) -> None:
        from rusty_bloomfilter_spark.sketch import HyperLogLog

        with self.timed("operators.sketches.HllSketch.build_by_key"):
            rows = self.hicard.build_by_key(self.df, "doc_bucket").collect()
        with self.span("check"):
            o = self.oracle
            present = int((o.bucket_tokens > 0).sum())
            _require(len(rows) == present, f"{len(rows)} buckets, expected {present}")
            rel = np.empty(len(rows))
            for i, r in enumerate(rows):
                b = int(r["key"])
                _require(r["n_items"] == o.bucket_tokens[b], f"bucket {b} token count")
                sk = HyperLogLog.from_bytes(bytes(r["payload"]))
                rel[i] = sk.estimate() / o.bucket_distinct[b] - 1.0
            rms = float(np.sqrt(np.mean(rel**2)))
            bound = HyperLogLog(self.hicard.p).relative_error()
            _require(rms <= bound, f"HLL RMS error {rms:.4f} over {present} keys > {bound:.4f}")
            self.accuracy["hll_rel_err"] = rms

    # -- checkpointed builds ------------------------------------------------

    def _checkpoint(self):
        from rusty_bloomfilter_spark.operators.checkpoint import build_with_checkpoint
        from rusty_bloomfilter_spark.sketch import merge_sketch_payloads

        with self.timed("operators.checkpoint.build_with_checkpoint"):
            rep = build_with_checkpoint(
                self.spark, self.corpus_dir, self.ckpt_dir, self.ckpt._empty, self.ckpt._update,
                merge_sketch_payloads, columns=["tokens"],
            )
        if "ckpt.plain" not in self.ref:
            with self.span("operators.sketches.BlockedBloomSketch.build_bytes"):
                self.ref["ckpt.plain"] = self.ckpt.build_bytes(self.df)[0]
        _require(rep.total_files == len(self.oracle.files), f"{rep.total_files} files listed")
        _require(rep.n_items == self.oracle.n_tokens, f"checkpointed n_items {rep.n_items}")
        _require(rep.payload == self.ref["ckpt.plain"], "checkpointed payload differs from build_bytes")
        return rep

    def ckpt_cold(self) -> None:
        rep = self._checkpoint()
        _require(rep.built_files == rep.total_files and rep.resumed_files == 0, "cold build resumed files")
        self.reports["ckpt_cold"] = rep

    def ckpt_resume(self) -> None:
        rep = self._checkpoint()
        _require(rep.built_files == 0 and rep.resumed_files == rep.total_files, "resume rebuilt files")
        self.reports["ckpt_resume"] = rep
