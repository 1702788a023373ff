"""Seeded input generator for the benchmark, with exact oracles.

Everything is a pure function of ``(seed, Corpus)``: token ids are Zipf
over a GPT-2-sized vocabulary (50,257 ids, rank order scrambled by a
seeded permutation), row lengths are lognormal, the ``source`` key is
drawn from a fixed mix (skewed or balanced) and every row carries a
``doc_bucket`` hash of its doc id. The table is written as parquet from
this single process, and the exact answers the sketches approximate are
recorded beside it:

- token, trigram, row counts (what ``n_items`` must equal),
- per-token counts (CMS never under-estimates them),
- distinct tokens overall and per ``doc_bucket`` (HLL error),
- the sorted ``n_tok`` column, overall and per source (KLL rank error),
- per-source and per-bucket token counts (keyed ``n_items``).

Ids drawn from outside the vocabulary form the disjoint probe set: every
hit on it is a false positive.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50257
SOURCES = ("cc", "github", "wiki", "books", "arxiv")
SKEWED_MIX = (0.62, 0.18, 0.10, 0.06, 0.04)
BALANCED_MIX = (0.2, 0.2, 0.2, 0.2, 0.2)
N_BUCKETS = 256
# disjoint probe ids start far above any vocabulary id
DISJOINT_BASE = 1 << 24


@dataclass(frozen=True)
class Corpus:
    """Shape of one generated table."""

    n_rows: int
    n_files: int
    mean_len: float = 260.0
    len_sigma: float = 0.6
    zipf_s: float = 1.07
    source_mix: tuple[float, ...] = BALANCED_MIX
    n_disjoint: int = 1 << 20


@dataclass
class Oracle:
    """Exact answers for one generated table."""

    n_rows: int
    n_tokens: int
    n_trigrams: int
    distinct: int
    token_counts: np.ndarray  # int64[VOCAB]
    n_tok_sorted: np.ndarray  # int32[n_rows]
    source_tokens: dict[str, int]
    source_n_tok: dict[str, np.ndarray]  # sorted n_tok of each source's rows
    bucket_tokens: np.ndarray  # int64[N_BUCKETS]
    bucket_distinct: np.ndarray  # int64[N_BUCKETS]
    disjoint: np.ndarray  # int64 ids outside the vocabulary
    digest: str  # content hash: generation must repeat bit for bit
    files: list[str] = field(default_factory=list)


_INV_CDF_BITS = 22  # inverse-CDF table resolution; rarest rank spans >= 4 slots


def _zipf_tokens(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    cdf = np.cumsum(ranks**-s)
    cdf /= cdf[-1]
    slots = 1 << _INV_CDF_BITS
    grid = (np.arange(slots, dtype=np.float64) + 0.5) / slots
    inv = np.searchsorted(cdf, grid, side="right").clip(0, VOCAB - 1)
    perm = rng.permutation(VOCAB).astype(np.int32)
    return perm[inv][(rng.random(n) * slots).astype(np.int64)]


def _lengths(rng: np.random.Generator, spec: Corpus) -> np.ndarray:
    mu = np.log(spec.mean_len) - spec.len_sigma**2 / 2
    raw = rng.lognormal(mu, spec.len_sigma, spec.n_rows)
    return np.clip(np.rint(raw), 3, 8 * spec.mean_len).astype(np.int32)


def _bucket_of(doc_index: np.ndarray, seed: int) -> np.ndarray:
    # splitmix64 of (seed, doc index): a hash bucket of the doc id
    with np.errstate(over="ignore"):
        z = doc_index.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return (z % np.uint64(N_BUCKETS)).astype(np.int32)


def _list_array(flat: np.ndarray, lengths: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))


def generate(seed: int, spec: Corpus, out_dir: str) -> Oracle:
    """Write ``out_dir/corpus/part-*.parquet`` and return the oracle.
    Same ``(seed, spec)`` -> same bytes."""
    rng = np.random.default_rng(seed)
    lengths = _lengths(rng, spec)
    n_tokens = int(lengths.sum())
    flat = _zipf_tokens(rng, n_tokens, spec.zipf_s)
    src = rng.choice(len(SOURCES), size=spec.n_rows, p=np.asarray(spec.source_mix))
    doc_index = np.arange(spec.n_rows, dtype=np.int64)
    bucket = _bucket_of(doc_index, seed)

    corpus_dir = os.path.join(out_dir, "corpus")
    os.makedirs(corpus_dir, exist_ok=True)
    bounds = np.linspace(0, spec.n_rows, spec.n_files + 1).astype(np.int64)
    starts = np.zeros(spec.n_rows + 1, dtype=np.int64)
    np.cumsum(lengths, out=starts[1:])
    files = []
    for i in range(spec.n_files):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        table = pa.table(
            {
                "doc_id": pa.array([f"{seed:x}-{j:08d}" for j in range(lo, hi)]),
                "tokens": _list_array(flat[starts[lo] : starts[hi]], lengths[lo:hi]),
                "n_tok": pa.array(lengths[lo:hi]),
                "source": pa.array(np.asarray(SOURCES)[src[lo:hi]]),
                "doc_bucket": pa.array(bucket[lo:hi]),
            }
        )
        path = os.path.join(corpus_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        files.append(path)

    # disjoint probe set: distinct ids never drawn from the vocabulary
    disjoint = (
        DISJOINT_BASE
        + 4 * np.arange(spec.n_disjoint)
        + rng.integers(0, 4, spec.n_disjoint)
    ).astype(np.int64)

    token_counts = np.bincount(flat, minlength=VOCAB).astype(np.int64)
    row_of_token = np.repeat(bucket, lengths)
    seen = np.zeros(N_BUCKETS * VOCAB, dtype=bool)
    seen[row_of_token.astype(np.int64) * VOCAB + flat] = True
    src_tokens = np.bincount(src, weights=lengths, minlength=len(SOURCES)).astype(np.int64)
    digest = hashlib.sha256()
    for arr in (lengths, flat, src, bucket, disjoint):
        digest.update(arr.tobytes())
    return Oracle(
        n_rows=spec.n_rows,
        n_tokens=n_tokens,
        n_trigrams=int(np.maximum(lengths.astype(np.int64) - 2, 0).sum()),
        distinct=int((token_counts > 0).sum()),
        token_counts=token_counts,
        n_tok_sorted=np.sort(lengths),
        source_tokens={s: int(c) for s, c in zip(SOURCES, src_tokens) if c},
        source_n_tok={s: np.sort(lengths[src == i]) for i, s in enumerate(SOURCES) if (src == i).any()},
        bucket_tokens=np.bincount(bucket, weights=lengths, minlength=N_BUCKETS).astype(np.int64),
        bucket_distinct=seen.reshape(N_BUCKETS, VOCAB).sum(axis=1).astype(np.int64),
        disjoint=disjoint,
        digest=digest.hexdigest(),
        files=files,
    )
