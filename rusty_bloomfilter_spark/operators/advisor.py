"""Sketch-driven join planning: pick broadcast / shuffle / salted from
one fused profile scan per side.

The fourth sketch-driven physical-planning operator (with skew.py's
salting plans, layout.py's range boundaries, and zonemap/pruning file
skipping). Choosing a join strategy at 100 TB needs three numbers the
planner cannot afford to compute exactly — side cardinalities, join
output size, and whether the key is hot — and every one of them has a
mergeable summary in this library:

- row counts fall out of the profile scan itself (exact);
- |A join B| = the inner product of the two sides' key-frequency
  vectors, estimated from two CMS payloads (Cormode-Muthukrishnan
  section 4.2: est >= exact, est <= exact + eps*N_a*N_b at 1-delta) —
  O(d*w) bytes per side instead of running the join to size it;
- hot keys come from Misra-Gries with deterministic bounds, sizing the
  salt fan-out exactly as skew.SkewProfile.salting_plan does;
- HLL ndv separates "hot key" from "merely few keys" (low ndv with no
  single hot key still shuffles fine).

``advise_join`` reduces each side with ONE build_multi scan (sketch
rows only shuffle; the sides' row data never moves), then
``execute_join`` applies the decision: F.broadcast on the small side,
temporal.salted_join for a hot-key shuffle, plain join otherwise. The
advice is a dataclass the caller can log, persist, and override — the
decision is auditable, not buried in an optimizer.

Results are strategy-invariant (broadcast/salted/plain joins are all
the same relational join); tests pin result equality across all three
strategies plus plan-shape gates (BroadcastHashJoin present exactly
when advised).

Reference parity: composes the reference's merge algebra
(/root/reference/src/bloomfilter/mod.rs:621-761) — the relational
planner layer is ours.
"""

from __future__ import annotations

from dataclasses import dataclass

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sketch import CountMinSketch, HyperLogLog, MisraGries, merge_sketch_payloads
from .aggregate import build_multi, collect_multi_bytes
from .skew import HotKey, _add_scalar, _hot_keys


@dataclass(frozen=True)
class SideProfile:
    n_rows: int
    ndv_est: float
    cms_payload: bytes
    hot_keys: list[HotKey]


@dataclass(frozen=True)
class JoinAdvice:
    strategy: str            # broadcast_left | broadcast_right | shuffle | shuffle_salted
    est_out_rows: int        # CMS inner product (>= exact, capped by eps*Na*Nb)
    n_left: int
    n_right: int
    ndv_left: float
    ndv_right: float
    n_salt: int = 1          # fan-out when strategy == shuffle_salted
    hot_key: int | None = None
    hot_share_ub: float = 0.0
    hot_side: str | None = None  # "left"|"right": which side owns the hot key


def profile_join_side(
    df: DataFrame,
    key_col: str,
    *,
    cms_d: int = 5,
    cms_w: int = 65536,
    hll_p: int = 14,
    mg_capacity: int = 64,
    fanout: int = 16,
) -> SideProfile:
    """ONE fused scan of a join side's key column -> (exact row count,
    HLL ndv, CMS payload for inner products, MG hot keys). Both sides
    of a join MUST use the same (cms_d, cms_w) so the inner product's
    row-hash families line up."""
    upd = lambda acc, batch: _add_scalar(acc, batch, key_col)  # noqa: E731
    specs = [
        ("cms", lambda: CountMinSketch(cms_d, cms_w), upd, merge_sketch_payloads),
        ("hll", lambda: HyperLogLog(hll_p), upd, merge_sketch_payloads),
        ("mg", lambda: MisraGries(mg_capacity), upd, merge_sketch_payloads),
    ]
    n_rows, got = collect_multi_bytes(
        build_multi(df, specs, columns=[key_col]), specs, fanout=fanout
    )
    mg = MisraGries.from_bytes(got["mg"][0])
    return SideProfile(
        n_rows=n_rows,
        ndv_est=float(HyperLogLog.from_bytes(got["hll"][0]).estimate()),
        cms_payload=got["cms"][0],
        hot_keys=_hot_keys(mg, n_rows),
    )


def advise_join(
    left: SideProfile,
    right: SideProfile,
    *,
    broadcast_rows: int = 1_000_000,
    n_partitions: int = 200,
    overload: float = 2.0,
    max_salt: int = 64,
) -> JoinAdvice:
    """Strategy decision from two side profiles (pure driver math, no
    jobs). Precedence mirrors what a human planner does:

    1. a side small enough to broadcast always wins (no shuffle at all,
       skew irrelevant — the hot key never concentrates);
    2. else if the bigger side's hottest key owns more than ``overload``
       x the even per-partition share, salt the shuffle with fan-out
       ceil(ub/share) (capped at ``max_salt`` — replication cost grows
       linearly with the fan-out);
    3. else a plain shuffle join is the right plan.
    """
    cl = CountMinSketch.from_bytes(left.cms_payload)
    cr = CountMinSketch.from_bytes(right.cms_payload)
    est_out = cl.inner_product(cr)
    base = dict(
        est_out_rows=est_out,
        n_left=left.n_rows,
        n_right=right.n_rows,
        ndv_left=left.ndv_est,
        ndv_right=right.ndv_est,
    )
    if min(left.n_rows, right.n_rows) <= broadcast_rows:
        side = "broadcast_left" if left.n_rows <= right.n_rows else "broadcast_right"
        return JoinAdvice(strategy=side, **base)
    big, side = (left, "left") if left.n_rows >= right.n_rows else (right, "right")
    share = big.n_rows / n_partitions
    if big.hot_keys and big.hot_keys[0].ub > overload * share:
        top = big.hot_keys[0]
        return JoinAdvice(
            strategy="shuffle_salted",
            n_salt=min(max_salt, math.ceil(top.ub / share)),
            hot_key=top.key,
            hot_share_ub=top.share_ub,
            hot_side=side,
            **base,
        )
    return JoinAdvice(strategy="shuffle", **base)


def execute_join(
    left: DataFrame, right: DataFrame, on: str, advice: JoinAdvice, *, how: str = "inner"
) -> DataFrame:
    """Apply the advice. Every strategy computes the SAME relational
    join; only the physical shuffle/replication shape differs."""
    if advice.strategy == "broadcast_left":
        # a hint, not a command: Spark ignores it when the broadcast
        # side must be stream-preserved (e.g. left side of a left join)
        # and falls back to a shuffle join — results are unaffected
        return F.broadcast(left).join(right, on, how)
    if advice.strategy == "broadcast_right":
        return left.join(F.broadcast(right), on, how)
    if advice.strategy == "shuffle_salted":
        from .temporal import salted_join

        # the HOT side must be the salt-split (left) argument of
        # salted_join; the other side is the replicated one. Salting
        # the cold side would replicate the hot side's rows n_salt
        # times while leaving the hot partition intact — worse than a
        # plain shuffle.
        if advice.hot_side == "right":
            if how != "inner":
                # swapping sides inverts outer semantics; a salted
                # right/full join isn't expressible here — fall back to
                # the plain shuffle (correct, just unsalted)
                return left.join(right, on, how)
            swapped = salted_join(right, left, on, n_salt=advice.n_salt, how="inner")
            names = swapped.columns
            if len(set(names)) != len(names):
                # duplicate non-key column names survive a join (same
                # as a plain join); selecting by name would be
                # ambiguous — return the swapped order as-is
                return swapped
            order = [on] + [c for c in left.columns if c != on] + [
                c for c in right.columns if c != on
            ]
            return swapped.select(*order)
        if how not in ("inner", "left"):
            # salted_join supports inner/left only; never fail the
            # caller's join over a physical-shape hint
            return left.join(right, on, how)
        return salted_join(left, right, on, n_salt=advice.n_salt, how=how)
    return left.join(right, on, how)
