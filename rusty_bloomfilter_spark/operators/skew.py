"""Sketch-driven shuffle-skew profiling and salting plans.

The north rule demands partitioning / shuffle / skew handled
EXPLICITLY. Handling skew starts with measuring it, and at 100 TB the
measurement itself must not shuffle the corpus: an exact per-key count
(``GROUP BY key``) is itself a full shuffle on the very key being
diagnosed — if that key is hot, the diagnostic job inherits the hot
partition it was trying to predict.

``key_skew_profile`` instead folds ONE corpus scan into three mergeable
summaries via ``aggregate.build_multi`` (sketch rows only on the
shuffle, no key ever shuffles):

- CountSketch (sketch/ams.py)  -> F2 = sum_k f_k^2, the second
  frequency moment. F2/F1 is the expected frequency of the key owned
  by a RANDOM row — the collision mass a hash shuffle must absorb.
- HyperLogLog                  -> ndv, so F1/ndv = average multiplicity
  and F2*ndv/F1^2 = the uniformity ratio (1 = perfectly uniform).
- Misra-Gries                  -> WHICH keys are hot, with deterministic
  bounds est <= true <= est + err_ub — enough to size a per-key salt
  fan-out without ever counting keys exactly.

``SkewProfile.salting_plan`` turns the bounds into physical-plan
advice: a key whose upper-bound count exceeds ``overload`` x the even
per-partition share gets split across ceil(count / share) salt
buckets — the same decision operators/aggregate.build_by_key's ``salt``
parameter and the q_salted_skew_build path execute, now driven by a
measurement instead of a guess.

Reference parity: the reference library has no relational layer; this
composes its sketch algebra (merge matrices mod.rs:621-761 — all three
summaries merge associatively/commutatively) into a planning operator.
Estimates carry published bounds (AMS/Thorup-Zhang for F2, HLL 1.04/
sqrt(2^p) for ndv, MG N/(capacity+1) undercount cap) — all pinned in
tests; no estimate is silently treated as exact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from ..sketch import CountSketch, HyperLogLog, MisraGries, merge_sketch_payloads
from .aggregate import build_multi, collect_multi_bytes
from .sketches import _scalar_values


@dataclass(frozen=True)
class HotKey:
    key: int
    est: int      # MG counter: est <= true
    ub: int       # est + err_ub: true <= ub
    share_ub: float  # ub / F1 — upper bound on the key's row share


@dataclass(frozen=True)
class SkewProfile:
    n_rows: int              # F1 (exact — counted in the same scan)
    f2_est: int              # AMS estimate of sum_k f_k^2
    ndv_est: float           # HLL distinct-key estimate
    hot_keys: list[HotKey] = field(default_factory=list)
    mg_err_ub: int = 0       # MG undercount cap (0 => hot counts exact)
    f2_rel_error: float = 0.0    # per-row rel-std of f2_est (sqrt(2/w))
    ndv_rel_error: float = 0.0   # HLL standard error (1.04/sqrt(2^p))

    @property
    def avg_multiplicity(self) -> float:
        """F1 / ndv: mean rows per key."""
        return self.n_rows / self.ndv_est if self.ndv_est else 0.0

    @property
    def collision_mult(self) -> float:
        """F2 / F1: expected frequency of a random row's key — the
        expected co-located row count a hash shuffle gives that row."""
        return self.f2_est / self.n_rows if self.n_rows else 0.0

    @property
    def uniformity_ratio(self) -> float:
        """F2 * ndv / F1^2 >= 1, == 1 iff all keys equally frequent.
        The single-number skew score."""
        if not self.n_rows:
            return 1.0
        return self.f2_est * self.ndv_est / (self.n_rows ** 2)

    def salting_plan(self, n_partitions: int, *, overload: float = 2.0) -> dict[int, int]:
        """key -> salt fan-out for every hot key whose UPPER-BOUND count
        exceeds ``overload`` x the even per-partition share F1/P. The
        fan-out ceil(ub / share) spreads the key's rows to ~share-sized
        salted sub-groups. Using the MG upper bound means a key is
        never under-salted by summary undercount; a non-hot key
        inflated past the threshold by err_ub costs only harmless extra
        sub-groups (merge algebra makes salted output exact)."""
        if n_partitions <= 0:
            raise ValueError("n_partitions must be positive")
        if not self.n_rows:
            return {}
        share = self.n_rows / n_partitions
        plan: dict[int, int] = {}
        for hk in self.hot_keys:
            if hk.ub > overload * share:
                plan[hk.key] = math.ceil(hk.ub / share)
        return plan


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    *,
    d: int = 5,
    w: int = 8192,
    hll_p: int = 14,
    mg_capacity: int = 256,
    fanout: int = 16,
) -> SkewProfile:
    """One-scan skew profile of a scalar int shuffle/join key column.

    Exactly one corpus scan (build_multi fuses all three updates per
    Arrow batch); the driver receives one row of payloads per
    partition, never key data. ``mg_capacity`` bounds which keys can
    surface as hot: every key with true share > 1/(capacity+1) is
    guaranteed present (MG superset guarantee)."""
    upd = lambda acc, batch: _add_scalar(acc, batch, key_col)  # noqa: E731
    specs = [
        ("ams", lambda: CountSketch(d, w), upd, merge_sketch_payloads),
        ("hll", lambda: HyperLogLog(hll_p), upd, merge_sketch_payloads),
        ("mg", lambda: MisraGries(mg_capacity), upd, merge_sketch_payloads),
    ]
    n_rows, got = collect_multi_bytes(
        build_multi(df, specs, columns=[key_col]), specs, fanout=fanout
    )
    ams = CountSketch.from_bytes(got["ams"][0])
    hll = HyperLogLog.from_bytes(got["hll"][0])
    mg = MisraGries.from_bytes(got["mg"][0])
    hot = _hot_keys(mg, n_rows)
    return SkewProfile(
        n_rows=n_rows,
        f2_est=ams.f2(),
        ndv_est=float(hll.estimate()),
        hot_keys=hot,
        mg_err_ub=int(mg.err_ub),
        f2_rel_error=ams.f2_rel_error(),
        ndv_rel_error=1.04 / math.sqrt(2.0 ** hll_p),
    )


def _add_scalar(acc, batch, col: str) -> None:
    vals = _scalar_values(batch, col)
    if vals.size:
        acc.add_tokens(vals)


def _hot_keys(mg: MisraGries, n_rows: int) -> list[HotKey]:
    """MG summary -> HotKey rows sorted by descending estimate. Keys
    were inserted via tokens_to_u64 (int64 bit-reinterpret), so the
    inverse view recovers the original int64 values exactly."""
    if mg.keys.size == 0 or n_rows == 0:
        return []
    keys = mg.keys.view(np.int64)
    order = np.argsort(mg.counts)[::-1]
    out = []
    for i in order:
        est = int(mg.counts[i])
        ub = est + int(mg.err_ub)
        out.append(
            HotKey(key=int(keys[i]), est=est, ub=ub, share_ub=ub / n_rows)
        )
    return out
