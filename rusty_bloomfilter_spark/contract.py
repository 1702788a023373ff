"""Driver-contract query registry: Spark queries + DuckDB oracles.

Every exact-answer query has a DuckDB oracle producing identical
column names and values (driver compares row count + schema +
order-insensitive value hash). Sketch-estimate queries are registered
without an oracle (rows-only check) since approximate values are not
hash-comparable; their accuracy is pinned in pytest instead.

Conventions for oracle parity:
- every computed column aliased identically on both sides
- money sums go through DECIMAL(38,4) (both engines exact) then round
- float ratios rounded to 6 dp on both sides
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.text import DEFAULT_VOCAB
from .functions import (
    DUCKDB_TOKENIZE,
    lang_id_expr,
    quality_exprs,
    token_count_expr,
    tokenize_md5,
)
from .sources import load_table, sequences_from_documents
from .functions.sqlhash import (
    cms_table_ctes as _cms_ctes,
    hll_estimate_select as _hll_est,
    hll_rows_ctes as _hll_rows,
    sm64_pair_ctes as _sm64_ctes,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _scratch_dir(kind: str) -> str:
    """Deterministic per-process scratch dir, WIPED on every call.

    The streaming/checkpoint/index queries run repeatedly (the
    check_contract gate + smoke suite); a mkdtemp per invocation
    accumulated an unbounded pile of full table copies under /tmp
    (round-4 review finding). Fresh CONTENT per call is still required
    — a stale streaming checkpoint would skip already-processed files
    and emit an empty table — so the fixed path is removed and
    recreated rather than reused."""
    import os
    import shutil
    import tempfile

    path = os.path.join(tempfile.gettempdir(), f"rbf_contract_{os.getpid()}_{kind}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ===========================================================================
# Token pipeline (cross-engine md5 tokenizer => exact oracles)
# ===========================================================================

_SEQ_CTE = f"""
    WITH sequences AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               {DUCKDB_TOKENIZE("text")} AS tokens,
               source
        FROM documents
    )
"""


@register(
    "q_heavy_tokens_exact",
    oracle=_SEQ_CTE
    + """
    SELECT tok, count(*) AS freq
    FROM (SELECT unnest(tokens) AS tok FROM sequences) t
    GROUP BY tok ORDER BY freq DESC, tok LIMIT 25
    """,
)
def q_heavy_tokens_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters — the CMS top-k companion.

    r6 rewrite (same result, same oracle): count WORDS first, md5 only
    the distinct words. The old explode(tokenize(text)) paid one md5
    per occurrence — and 3x that, because the Generate's inferred
    size/isnotnull filter re-evaluated the whole tokenize expression
    twice more (plans/r06/q_heavy_tokens_exact_before.txt). Token
    frequency = sum of word frequencies over words mapping to the id,
    so aggregating words (cheap strings, map-side combined) and
    hashing each distinct word once is value-identical: measured
    4.53s -> 1.15s at sf1.0 before the tokenize fan-out landed.
    """
    from .sources import fan_out_small_scan

    docs = fan_out_small_scan(
        spark,
        load_table(spark, sf_dir, "documents"),
        path=f"{sf_dir}/documents.parquet",
    )
    words = F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != F.lit(""))
    tok = (
        F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
        % DEFAULT_VOCAB
    ).cast("int")
    return (
        docs.select(F.explode(words).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .select(tok.alias("tok"), "c")
        .groupBy("tok")
        .agg(F.sum("c").alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(25)
    )


@register(
    "q_heavy_tokens_mg",
    oracle=_SEQ_CTE
    + """
    , toks AS (SELECT unnest(tokens) AS tok FROM sequences)
    SELECT tok, count(*) AS freq
    FROM toks GROUP BY tok
    HAVING count(*) * 40 > (SELECT count(*) FROM toks)
    ORDER BY freq DESC, tok
    """,
)
def q_heavy_tokens_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent tokens above N/40 via the Misra-Gries candidate
    pass (operators/topk.py::heavy_hitters_mg): deterministic summary
    bound => the candidate set provably contains every true hitter
    under any partitioning (no margin contract), then one exact
    recount restricted to candidates. Integer threshold arithmetic
    (freq*40 > N) keeps the cut bit-identical to the SQL HAVING."""
    from .operators.topk import heavy_hitters_mg

    seq = sequences_from_documents(spark, sf_dir)
    return heavy_hitters_mg(seq, col="tokens", denom=40, capacity=64)


# ===========================================================================
# Text analysis (cross-engine expressions => exact oracles)
# ===========================================================================


@register(
    "q_lang_id",
    oracle=None,  # set below after duckdb_lang_id renders
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID vs the labeled lang column: confusion
    counts. Heuristic is deterministic and identically rendered in
    DuckDB (oracle pins the whole scoring pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang").alias("labeled"), lang_id_expr(F.col("text")).alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


from .functions.text import duckdb_lang_id as _dd_lang  # noqa: E402

_ORACLES["q_lang_id"] = (
    "SELECT lang AS labeled, "
    + _dd_lang("text")
    + " AS predicted, count(*) AS n_docs FROM documents GROUP BY 1, 2"
)


@register(
    "q_exact_dedup",
    oracle="""
    SELECT count(*) AS n_groups, CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(n_docs - 1) AS BIGINT) AS n_redundant
    FROM (SELECT md5(text) AS fp, count(*) AS n_docs FROM documents GROUP BY 1) g
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup summary over full-text fingerprints."""
    from .operators.dedup import exact_dedup_groups

    groups = exact_dedup_groups(load_table(spark, sf_dir, "documents"))
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum(F.col("n_docs") - 1).cast("bigint").alias("n_redundant"),
    )


@register(
    "q_ann_bruteforce",
    oracle="""
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
    WHERE a.vec_id IN (0, 7, 42, 99, 123)
    QUALIFY row_number() OVER (PARTITION BY a.vec_id
                               ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
                                        b.vec_id) <= 5
    """,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for 5 query vectors; DuckDB oracle
    computes the identical double-precision cosine."""
    from .operators.similarity import ann_bruteforce_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_bruteforce_topk(emb, [0, 7, 42, 99, 123], k=5).drop("rank")


# ===========================================================================
# Sketch queries (estimates: rows-only driver check; accuracy pinned
# in pytest against exact companions)
# ===========================================================================


def _bloom_profile_oracle() -> str:
    from .sketch import Shape
    from .sketch.bloom import _HEADER

    sh = Shape.for_np(n=200_000, p=1e-4)
    m, k = sh.m, sh.k
    a = repr(-(sh.m / sh.k))
    dense = sh.number_of_bytes()
    hdr = _HEADER.size
    return (
        _SEQ_CTE
        + f""",
tk AS (SELECT source, unnest(tokens) AS tok FROM sequences),
dk AS (SELECT DISTINCT source, CAST(tok AS UBIGINT) AS k FROM tk),
{_sm64_ctes('bs', 'SELECT k, source FROM dk', ', source')},
bits AS (SELECT DISTINCT source,
         (CAST(h1 % {m} AS BIGINT) + t.i * CAST(h2 % {m} AS BIGINT)) % {m}
             AS bit
         FROM bsh CROSS JOIN (SELECT unnest(range({k})) AS i) t),
pc AS (SELECT source, CAST(count(*) AS BIGINT) AS card
       FROM bits GROUP BY source),
{_hll_rows('bq', 'SELECT k, source FROM dk', 14, ', source')},
rg AS (SELECT source, idx, max(rank) AS r FROM bqr GROUP BY source, idx),
he AS ({_hll_est('rg', 'source')}),
ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_seqs,
              CAST(sum(len(tokens)) AS BIGINT) AS n_tokens
       FROM sequences GROUP BY source)
SELECT ex.source, ex.n_seqs, ex.n_tokens,
       ex.n_tokens AS bloom_n_items,
       pc.card AS bloom_bits,
       CASE WHEN pc.card = 0 THEN 0.0
            ELSE {a} * ln(1.0 - pc.card / {m}) END AS bloom_estimate_n,
       pc.card / CAST({m} AS DOUBLE) AS bloom_fill_ratio,
       CAST({hdr} + CASE WHEN 4 * pc.card < {dense} THEN 4 * pc.card
                         ELSE {dense} END AS BIGINT) AS bloom_bytes,
       he.est AS distinct_tokens_est
FROM ex
JOIN pc ON pc.source = ex.source
JOIN he ON he.source = ex.source
"""
    )


@register("q_bloom_source_profile", oracle=_bloom_profile_oracle())
def q_bloom_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-source exact counts + Bloom/HLL sketch metrics.
    FULLY oracle-backed (r5): the DuckDB oracle rebuilds every
    source's K-M bit set and HLL registers bit-for-bit
    (functions/sqlhash.py), so the popcount, the Swamidass-Baldi
    estimate, the fill ratio, the HLL distinct estimate AND the
    canonical wire size (header + sparse 4*bits vs dense, the
    corrected Shape.is_sparse rule) all hash-match cross-engine —
    the entry() flagship's semantics, bit-verified."""
    from .plans import token_profile

    return token_profile(spark, sequences_from_documents(spark, sf_dir))


@register(
    "q_salted_skew_build",
    oracle=f"""
    SELECT CASE WHEN CAST(doc_id AS BIGINT) % 5 < 4 THEN 'head' ELSE source END AS skew_key,
           CAST(sum(len({DUCKDB_TOKENIZE("text")})) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY 1
    """,
)
def q_salted_skew_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's explicit skew handling, driver-visible: 80% of
    documents collapse onto one 'head' key, then per-key Bloom sketches
    build through the SALTED two-level merge (groupBy(key, salt) then
    groupBy(key) — aggregate.build_by_key salt=4, plan shape gated in
    tests/test_plans.py). Per-key n_items is an exact occurrence count
    that must survive both merge levels, so the query hash-matches a
    plain SQL GROUP BY — correctness of the skew path, not just
    liveness. Hot-key row data never concentrates: stage 1 emits one
    sketch row per (partition, key), and the salt bounds any single
    merge task's fan-in."""
    from .operators.sketches import BlockedBloomSketch

    seq = sequences_from_documents(spark, sf_dir).withColumn(
        "skew_key",
        F.when(F.col("doc_id").cast("long") % 5 < 4, F.lit("head")).otherwise(
            F.col("source")
        ),
    )
    sk = BlockedBloomSketch.for_np(n=200_000, p=1e-3)
    keyed = sk.build_by_key(seq.select("skew_key", "tokens"), "skew_key", salt=4)
    return keyed.select(
        F.col("key").alias("skew_key"), F.col("n_items").alias("n_tokens")
    )


def _bloom_probe_oracle() -> str:
    from .sketch.blocked import _SALT, BlockedBloomFilter

    nb = BlockedBloomFilter.for_np(n=500_000, p=1e-4).n_blocks
    salts = ", ".join(f"({j}, {int(s)})" for j, s in enumerate(_SALT))
    return (
        _SEQ_CTE
        + f""",
tok AS (SELECT unnest(tokens) AS tok FROM sequences),
ins AS (SELECT DISTINCT CAST(tok AS UBIGINT) AS k FROM tok),
{_sm64_ctes('bi', 'SELECT k FROM ins')},
ibits AS (SELECT DISTINCT CAST((h1 >> 32) % {nb} AS BIGINT) AS block, s.j,
          CAST(((CAST(h1 % 4294967296 AS HUGEINT) * s.salt) % 4294967296)
               AS BIGINT) >> 27 AS bit
          FROM bih CROSS JOIN (VALUES {salts}) s(j, salt)),
{_sm64_ctes('bp',
                'SELECT CAST(tok AS UBIGINT) AS k, tok FROM '
                '(SELECT unnest(range(1000000, 1200000)) AS tok)',
                ', tok')},
pbits AS (SELECT tok, CAST((h1 >> 32) % {nb} AS BIGINT) AS block, s.j,
          CAST(((CAST(h1 % 4294967296 AS HUGEINT) * s.salt) % 4294967296)
               AS BIGINT) >> 27 AS bit
          FROM bph CROSS JOIN (VALUES {salts}) s(j, salt)),
fhits AS (SELECT p.tok FROM pbits p
          JOIN ibits i ON p.block = i.block AND p.j = i.j AND p.bit = i.bit
          GROUP BY p.tok HAVING count(*) = 8),
ni AS (SELECT CAST(sum(len(tokens)) AS BIGINT) AS n FROM sequences),
fh AS (SELECT CAST(count(*) AS BIGINT) AS false_hits FROM fhits)
SELECT ni.n AS n_inserted, ni.n AS present_hits, ni.n AS present_probes,
       fh.false_hits, CAST(200000 AS BIGINT) AS n_probes,
       round(fh.false_hits / CAST(200000 AS BIGINT), 8) AS observed_fpr
FROM ni CROSS JOIN fh
"""
    )


@register("q_bloom_probe", oracle=_bloom_probe_oracle())
def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom over all tokens, probe present + disjoint-domain
    tokens: (hits_present == n_present pins zero FN; fp_rate vs p).
    FULLY oracle-backed (r5): the DuckDB oracle rebuilds the Parquet
    split-block layout bit-for-bit — splitmix64 item hash
    (functions/sqlhash.py), block = (h >> 32) mod n_blocks, word-j bit
    = top-5 of (low32 * SALT_j) — and probes the same 200k disjoint
    ids, so the FALSE-POSITIVE count itself hash-matches cross-engine.
    The oracle renders present_hits as the exact occurrence total,
    which IS the zero-false-negative guarantee: any FN would break the
    driver's value hash."""
    from .operators.sketches import BlockedBloomSketch

    seq = sequences_from_documents(spark, sf_dir)
    sk = BlockedBloomSketch.for_np(n=500_000, p=1e-4)
    payload, n_items = sk.build_bytes(seq)
    hits, total = sk.count_contained(seq, payload, spark)
    probe_udf = sk.might_contain_udf(payload, spark)
    absent = spark.range(10**6, 10**6 + 200_000).select(
        F.col("id").cast("int").alias("tok")
    )
    fp = absent.select(probe_udf("tok").cast("long").alias("h")).agg(
        F.sum("h").alias("false_hits"), F.count("*").alias("n_probes")
    )
    return fp.select(
        F.lit(n_items).alias("n_inserted"),
        F.lit(hits).alias("present_hits"),
        F.lit(total).alias("present_probes"),
        "false_hits",
        "n_probes",
        F.round(F.col("false_hits") / F.col("n_probes"), 8).alias("observed_fpr"),
    )


def _hll_tokens_oracle() -> str:
    return (
        _SEQ_CTE
        + f""",
tk AS (SELECT source, unnest(tokens) AS tok FROM sequences),
dk AS (SELECT DISTINCT source, CAST(tok AS UBIGINT) AS k FROM tk),
{_hll_rows('hd', 'SELECT k, source FROM dk', 14, ', source')},
rg AS (SELECT source, idx, max(rank) AS r FROM hdr GROUP BY source, idx),
es AS ({_hll_est('rg', 'source')}),
ex AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS distinct_exact
       FROM tk GROUP BY source)
SELECT ex.source, ex.distinct_exact, round(es.est, 2) AS distinct_est,
       round(abs(round(es.est, 2) - ex.distinct_exact) / ex.distinct_exact, 6)
           AS rel_err
FROM ex JOIN es ON ex.source = es.source
"""
    )


@register("q_hll_distinct_tokens", oracle=_hll_tokens_oracle())
def q_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-token estimates per source next to exact counts.
    FULLY oracle-backed: the DuckDB oracle rebuilds each source's
    registers bit-for-bit from the parity tokenizer's ids (splitmix64
    + exact clz CTEs, functions/sqlhash.py) and runs the same
    estimator, so distinct_est itself hash-matches; 2-dp rounding
    absorbs summation-order ulps."""
    from .operators.sketches import HllSketch
    from .sketch import HyperLogLog

    seq = sequences_from_documents(spark, sf_dir)
    keyed = HllSketch(p=14).build_by_key(seq, "source")

    def stats(batches):
        import pyarrow as pa

        for b in batches:
            pdf = b.to_pandas()
            # explicit types: from_pandas over zero-row / object columns
            # infers null type and breaks the declared schema at read
            # time (CLAUDE.md mapInArrow rule)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(pdf["key"].tolist(), type=pa.string()),
                    pa.array(
                        [
                            round(HyperLogLog.from_bytes(bytes(p)).estimate(), 2)
                            for p in pdf["payload"]
                        ],
                        type=pa.float64(),
                    ),
                ],
                names=["source", "distinct_est"],
            )

    est = keyed.mapInArrow(stats, schema="source string, distinct_est double")
    exact = (
        seq.select("source", F.explode("tokens").alias("tok"))
        .groupBy("source")
        .agg(F.countDistinct("tok").alias("distinct_exact"))
    )
    return exact.join(est, "source").withColumn(
        "rel_err",
        F.round(F.abs(F.col("distinct_est") - F.col("distinct_exact")) / F.col("distinct_exact"), 6),
    )


def _cms_top_oracle() -> str:
    return (
        _SEQ_CTE
        + f""",
tk AS (SELECT unnest(tokens) AS tok FROM sequences),
ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq_exact FROM tk
       GROUP BY tok ORDER BY freq_exact DESC, tok LIMIT 20),
{_cms_ctes('ct', 'SELECT CAST(tok AS UBIGINT) AS k FROM tk', 5, 32768)},
{_sm64_ctes('pt', 'SELECT CAST(tok AS UBIGINT) AS k, tok FROM ex', ', tok')},
pcols AS (SELECT tok, t.r,
          (CAST(h1 % 32768 AS BIGINT) + t.r * CAST(h2 % 32768 AS BIGINT))
              % 32768 AS col
          FROM pth CROSS JOIN (SELECT unnest(range(5)) AS r) t),
pest AS (SELECT p.tok, CAST(min(COALESCE(c.c, 0)) AS BIGINT) AS freq_est
         FROM pcols p LEFT JOIN ctcnt c ON c.r = p.r AND c.col = p.col
         GROUP BY p.tok)
SELECT ex.tok, ex.freq_exact, pest.freq_est FROM ex JOIN pest ON ex.tok = pest.tok
"""
    )


@register("q_cms_top_tokens", oracle=_cms_top_oracle())
def q_cms_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimates for the exact top-20 tokens: estimate
    must be >= exact (one-sided CMS guarantee), small overestimate.
    FULLY oracle-backed: the DuckDB oracle rebuilds the d x w CMS
    table cell-for-cell (splitmix64 CTEs, functions/sqlhash.py) and
    probes the same min-over-rows cells, so freq_est hash-matches."""
    import numpy as np

    from .operators.sketches import CmsSketch

    seq = sequences_from_documents(spark, sf_dir)
    exact = (
        seq.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq_exact"))
        .orderBy(F.desc("freq_exact"), "tok")
        .limit(20)
    )
    cs = CmsSketch(d=5, w=1 << 15)
    payload, _ = cs.build_bytes(seq)
    rows = exact.collect()
    toks = np.array([r["tok"] for r in rows], dtype=np.int64)
    est = cs.estimate_counts(payload, toks)
    out = [
        (int(t), int(r["freq_exact"]), int(e))
        for t, r, e in zip(toks, rows, est)
    ]
    return spark.createDataFrame(out, "tok int, freq_exact bigint, freq_est bigint")


_KLLQ_ORACLE = "\nUNION ALL\n".join(
    f"SELECT CAST({q} AS DOUBLE) AS q,"
    f" round(CAST(quantile_cont(value, {q}) AS DOUBLE), 6) AS exact,"
    f" 1 AS kll_in_bound FROM events"
    for q in (0.1, 0.5, 0.9, 0.99)
)


@register("q_kll_quantiles", oracle=_KLLQ_ORACLE)
def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile estimates for events.value, certified against
    exact. Oracle-backed via the in-bound-flag pattern
    (q_kll_ntok_by_source precedent): KLL payloads are merge-order-
    dependent so raw estimates can't hash-match cross-engine; instead
    the exact quantiles hash-match and each estimate must land between
    the exact quantile values at q ± 3x the published rank-error bound
    — the oracle emits literal 1s, so an accuracy regression under any
    partitioning fails the driver's value hash."""
    from .operators.sketches import KllQuantiles
    from .sketch.kll import KLLSketch

    eps3 = 3.0 * KLLSketch(200).rank_error()
    ev = load_table(spark, sf_dir, "events")
    qs = [0.1, 0.5, 0.9, 0.99]
    est = KllQuantiles(k=200, col="value").quantiles(ev, qs)
    bounds = ev.agg(
        *[F.expr(f"percentile(value, {q})").alias(f"p{i}") for i, q in enumerate(qs)],
        *[
            F.expr(f"percentile(value, {max(q - eps3, 0.0)!r})").alias(f"lo{i}")
            for i, q in enumerate(qs)
        ],
        *[
            F.expr(f"percentile(value, {min(q + eps3, 1.0)!r})").alias(f"hi{i}")
            for i, q in enumerate(qs)
        ],
    ).collect()[0]
    rows = [
        (
            q,
            round(float(bounds[f"p{i}"]), 6),
            1 if bounds[f"lo{i}"] <= est[i] <= bounds[f"hi{i}"] else 0,
        )
        for i, q in enumerate(qs)
    ]
    return spark.createDataFrame(rows, "q double, exact double, kll_in_bound int")


# ===========================================================================
# Dedup / similarity (LSH candidates: rows-only; exactness pinned in tests)
# ===========================================================================


def _minhash_ctes(prefix: str, seq_rel: str) -> str:
    """CTE chain rebuilding the MinHash LSH pipeline over a relation
    ``seq_rel`` with (doc_id VARCHAR, tokens array<int>): 3-gram
    positional-mix + splitmix64 shingle hashes, the 128 affine perms
    mod the Mersenne prime in the same uint64 wrap order as
    minhash_signatures, per-doc signature minima (empty docs -> all-M
    signatures), banded candidates via band-slice equality (equivalent
    to the xxhash64 bucket join up to 2^-64 collisions). Final CTE
    ``<prefix>mt`` exposes (doc_a, doc_b, ej) — every band-sharing
    pair with its exact matching-perm Jaccard estimate; callers apply
    their own threshold."""
    from .operators.dedup import _MERSENNE, _perm_coeffs
    from .sketch.hashing import _NGRAM_MULS

    a, b = _perm_coeffs(128)
    perms = ", ".join(
        f"({i}, {int(a[i])}::UBIGINT, {int(b[i])}::UBIGINT)" for i in range(128)
    )
    m1, m2, m3 = (int(x) for x in _NGRAM_MULS[:3])
    mod64 = 1 << 64
    mers = _MERSENNE
    acc = (
        f"CAST((CAST(tokens[i+1] AS HUGEINT) * {m1}"
        f" + CAST(tokens[i+2] AS HUGEINT) * {m2}"
        f" + CAST(tokens[i+3] AS HUGEINT) * {m3}) % {mod64} AS UBIGINT)"
    )
    # v = ((h * a) mod 2^64 + b) mod 2^64, then mod the Mersenne prime —
    # the numpy uint64 wrap order in minhash_signatures
    ha = (
        f"CAST(((CAST(h AS HUGEINT) % 4294967296) * p.a"
        f" + (((CAST(h AS HUGEINT) // 4294967296) * p.a) % 4294967296)"
        f" * 4294967296) % {mod64} AS UBIGINT)"
    )
    v = f"CAST((CAST({ha} AS HUGEINT) + p.b) % {mod64} AS UBIGINT) % {mers}"
    x = prefix
    return f"""{x}sh AS (SELECT doc_id,
       unnest(list_transform(range(greatest(len(tokens) - 2, 0)),
                             i -> {acc})) AS acc
       FROM {seq_rel}),
{_sm64_ctes(x + 'q', f'SELECT acc AS k, doc_id FROM {x}sh', ', doc_id')},
{x}hv AS (SELECT doc_id, h1 AS h FROM {x}qh),
{x}pv AS (SELECT doc_id, p.i, {v} AS v
       FROM {x}hv CROSS JOIN (VALUES {perms}) p(i, a, b)),
{x}sg AS (SELECT doc_id, i, min(v) AS s FROM {x}pv GROUP BY doc_id, i),
{x}grid AS (SELECT d.doc_id, p.i FROM (SELECT doc_id FROM {seq_rel}) d
         CROSS JOIN (SELECT unnest(range(128)) AS i) p),
{x}sigf AS (SELECT g.doc_id, g.i, COALESCE(s.s, {mers}::UBIGINT) AS s
         FROM {x}grid g LEFT JOIN {x}sg s ON s.doc_id = g.doc_id AND s.i = g.i),
{x}bb AS (SELECT doc_id, i // 4 AS band,
              string_agg(CAST(s AS VARCHAR), ',' ORDER BY i) AS key
       FROM {x}sigf GROUP BY doc_id, i // 4),
{x}cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         FROM {x}bb l JOIN {x}bb r ON l.band = r.band AND l.key = r.key
                            AND l.doc_id < r.doc_id),
{x}mt AS (SELECT c.doc_a, c.doc_b,
              sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 128.0 AS ej
       FROM {x}cand c
       JOIN {x}sigf sa ON sa.doc_id = c.doc_a
       JOIN {x}sigf sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       GROUP BY c.doc_a, c.doc_b)"""


def _minhash_oracle() -> str:
    return (
        _SEQ_CTE
        + f""",
{_minhash_ctes('m', 'sequences')}
SELECT doc_a, doc_b, ej AS est_jaccard FROM mmt WHERE ej >= 0.35
"""
    )


@register("q_minhash_near_dups", oracle=_minhash_oracle())
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs over the corpus (word
    3-gram shingles, 128 perms, 32 bands). FULLY oracle-backed (r5):
    minhash is deterministic end-to-end — 3-gram positional-mix +
    splitmix64 shingle hashes, affine perms mod the Mersenne prime in
    the same uint64 wrap order, per-doc minima — so the DuckDB oracle
    rebuilds every signature bit-for-bit; band membership is rendered
    as band-SLICE equality (Spark buckets by xxhash64 of the slice,
    which partitions docs identically to slice equality up to 2^-64
    collisions), and est_jaccard = matching-perm fraction is exact
    dyadic arithmetic. The LSH candidate SET and its scores
    hash-match cross-engine."""
    from .operators.dedup import minhash_dedup

    seq = sequences_from_documents(spark, sf_dir)
    return minhash_dedup(seq, threshold=0.35).orderBy("doc_a", "doc_b")


def _simhash_oracle() -> str:
    bitw = ", ".join(f"({b}, {1 << b}::HUGEINT)" for b in range(64))
    return (
        _SEQ_CTE
        + f""",
tk AS (SELECT doc_id, unnest(tokens) AS tok FROM sequences),
{_sm64_ctes('sx', 'SELECT CAST(tok AS UBIGINT) AS k, doc_id FROM tk', ', doc_id')},
hb AS (SELECT doc_id, h1 AS h FROM sxh),
bt AS (SELECT doc_id, b.b,
              sum(CASE WHEN (h >> CAST(b.b AS INTEGER)) & 1 = 1
                       THEN 1 ELSE -1 END) AS s
       FROM hb CROSS JOIN (SELECT unnest(range(64)) AS b) b
       GROUP BY doc_id, b.b),
sigx AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN p.w ELSE 0::HUGEINT END) AS x
         FROM bt JOIN (VALUES {bitw}) p(b, w) ON p.b = bt.b
         GROUP BY doc_id),
sg AS (SELECT doc_id,
              CASE WHEN x >= 9223372036854775808
                   THEN CAST(x - 18446744073709551616 AS BIGINT)
                   ELSE CAST(x AS BIGINT) END AS sh
       FROM sigx),
allsig AS (SELECT d.doc_id, COALESCE(s.sh, 0) AS sh
           FROM (SELECT doc_id FROM sequences) d
           LEFT JOIN sg s ON s.doc_id = d.doc_id)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.sh, b.sh)) AS hamming
FROM allsig a JOIN allsig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""
    )


@register("q_simhash_near_dups", oracle=_simhash_oracle())
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dups. FULLY oracle-backed (r5): the
    64-bit sign-sum signature is a pure function of the token-hash
    multiset (splitmix64 bits, ±1 sums, sign per bit — the
    unpack/pack byte-order gymnastics in simhash_signatures cancel,
    leaving simhash bit b = sign of the bit-b sum), so the DuckDB
    oracle rebuilds every signature bit-for-bit. The multi-block
    pigeonhole guarantees the candidate join loses NO pair within the
    radius, so the verified output equals the plain all-pairs
    Hamming-<=3 set the oracle computes — LSH recall = 1 by
    construction, now cross-engine verified."""
    from .operators.dedup import simhash_near_dups, simhash_signatures

    seq = sequences_from_documents(spark, sf_dir)
    return simhash_near_dups(simhash_signatures(seq), max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


@register("q_embedding_near_dups")
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import embedding_near_dups

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, threshold=0.35, n_planes=16, bands=8).orderBy(
        "id_a", "id_b"
    )


@register(
    "q_embedding_near_dups_exact",
    oracle="""
    SELECT id_a, id_b, cosine FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ) t WHERE cosine >= 0.35
    """,
)
def q_embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine >= threshold — the hash-matched oracle
    companion of q_embedding_near_dups (whose LSH candidates are not
    SQL-expressible). Quadratic by definition: the small-corpus
    baseline; embedding_near_dups is the bucketed scale path."""
    from .operators.dedup import _cosine_expr

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(_cosine_expr(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
    )


@register("q_ann_lsh")
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import ann_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_lsh_topk(emb, [0, 7, 42, 99, 123], k=5, n_planes=16, bands=8)


@register("q_ann_ivf")
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (coarse spherical-k-means quantizer, nprobe inverted
    lists, exact re-rank): recall vs brute force pinned in pytest;
    nprobe == n_centroids degenerates to the exact result."""
    from .operators.similarity import ann_ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ivf_topk(emb, [0, 7, 42, 99, 123], k=5, n_centroids=16, nprobe=8)


@register(
    "q_source_overlap_exact",
    oracle=_SEQ_CTE
    + """
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common_tokens
    FROM (SELECT DISTINCT source, unnest(tokens) AS tok FROM sequences) a
    JOIN (SELECT DISTINCT source, unnest(tokens) AS tok FROM sequences) b
      ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 50
    """,
)
def q_source_overlap_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-token overlap between source pairs — the exact
    companion of the Bloom intersection estimator."""
    seq = sequences_from_documents(spark, sf_dir)
    d = seq.select("source", F.explode("tokens").alias("tok")).distinct()
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count("*").alias("n_common_tokens"))
        .orderBy("source_a", "source_b")
        .limit(50)
    )


def _overlap_bloom_oracle() -> str:
    from .sketch import Shape

    sh = Shape.for_np(n=200_000, p=1e-4)
    m, k = sh.m, sh.k
    a = repr(-(sh.m / sh.k))  # same eval order as Shape.estimate_n
    return (
        _SEQ_CTE
        + f""",
tk AS (SELECT source, unnest(tokens) AS tok FROM sequences),
dk AS (SELECT DISTINCT source, CAST(tok AS UBIGINT) AS k FROM tk
       WHERE source IS NOT NULL),
{_sm64_ctes('ob', 'SELECT k, source FROM dk', ', source')},
bits AS (SELECT DISTINCT source,
         (CAST(h1 % {m} AS BIGINT) + t.i * CAST(h2 % {m} AS BIGINT)) % {m}
             AS bit
         FROM obh CROSS JOIN (SELECT unnest(range({k})) AS i) t),
pcx AS (SELECT source, CAST(count(*) AS BIGINT) AS c FROM bits GROUP BY source),
srcs AS (SELECT DISTINCT source FROM sequences WHERE source IS NOT NULL),
pc AS (SELECT s.source, COALESCE(p.c, 0) AS c
       FROM srcs s LEFT JOIN pcx p ON p.source = s.source),
pairs AS (SELECT a.source AS sa, b.source AS sb
          FROM pc a JOIN pc b ON a.source < b.source),
inter AS (SELECT x.source AS sa, y.source AS sb,
                 CAST(count(*) AS BIGINT) AS ci
          FROM bits x JOIN bits y ON x.bit = y.bit AND x.source < y.source
          GROUP BY x.source, y.source),
cards AS (SELECT p.sa, p.sb, pa.c AS ca, pb.c AS cb,
                 pa.c + pb.c - COALESCE(i.ci, 0) AS cu
          FROM pairs p
          JOIN pc pa ON pa.source = p.sa
          JOIN pc pb ON pb.source = p.sb
          LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb)
SELECT sa AS source_a, sb AS source_b,
       CASE WHEN ca = 0 THEN 0.0
            ELSE round({a} * ln(1.0 - ca / {m}), 2) END AS est_distinct_a,
       CASE WHEN cb = 0 THEN 0.0
            ELSE round({a} * ln(1.0 - cb / {m}), 2) END AS est_distinct_b,
       CASE WHEN cu = 0 THEN 0.0
            ELSE round({a} * ln(1.0 - cu / {m}), 2) END AS est_union,
       round(CASE WHEN ca = 0 THEN 0.0 ELSE {a} * ln(1.0 - ca / {m}) END
             + CASE WHEN cb = 0 THEN 0.0 ELSE {a} * ln(1.0 - cb / {m}) END
             - CASE WHEN cu = 0 THEN 0.0 ELSE {a} * ln(1.0 - cu / {m}) END,
             2) AS est_intersection
FROM cards ORDER BY source_a, source_b LIMIT 50
"""
    )


@register("q_source_overlap_bloom", oracle=_overlap_bloom_oracle())
def q_source_overlap_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom union/intersection estimates per source pair (reference
    estimators mod.rs:38-54 as a distributed query); accuracy vs the
    exact companion is pinned in tests. FULLY oracle-backed (r5): the
    DuckDB oracle rebuilds every source's K-M bit set exactly
    (splitmix64 pair + (h1 + i*h2) mod m, functions/sqlhash.py),
    popcounts unions by inclusion-exclusion on bit overlap, and
    applies the same Swamidass-Baldi estimator -(m/k)*ln(1-c/m) — so
    the reference's estimate_n / estimate_union /
    estimate_intersection OUTPUTS hash-match cross-engine."""
    from .plans import source_overlap
    from .sketch import Shape

    seq = sequences_from_documents(spark, sf_dir)
    return source_overlap(spark, seq, shape=Shape.for_np(n=200_000, p=1e-4)).orderBy(
        "source_a", "source_b"
    ).limit(50)


def _overlap_hll_oracle() -> str:
    pair_est = _hll_est("urg", "sa, sb", 14)
    src_est = _hll_est("rg", "source", 14)
    return (
        _SEQ_CTE
        + f""",
tk AS (SELECT source, unnest(tokens) AS tok FROM sequences),
dk AS (SELECT DISTINCT source, CAST(tok AS UBIGINT) AS k FROM tk
       WHERE source IS NOT NULL),
{_hll_rows('oh', 'SELECT k, source FROM dk', 14, ', source')},
rg AS (SELECT source, idx, max(rank) AS r FROM ohr GROUP BY source, idx),
sex AS ({src_est}),
srcs AS (SELECT DISTINCT source FROM sequences WHERE source IS NOT NULL),
se AS (SELECT s.source, COALESCE(x.est, 0.0) AS est
       FROM srcs s LEFT JOIN sex x ON x.source = s.source),
pairs AS (SELECT a.source AS sa, b.source AS sb
          FROM se a JOIN se b ON a.source < b.source),
urg AS (SELECT p.sa, p.sb, r.idx, max(r.r) AS r
        FROM pairs p JOIN rg r ON r.source = p.sa OR r.source = p.sb
        GROUP BY p.sa, p.sb, r.idx),
uex AS ({pair_est}),
ue AS (SELECT p.sa, p.sb, COALESCE(x.est, 0.0) AS est
       FROM pairs p LEFT JOIN uex x ON x.sa = p.sa AND x.sb = p.sb)
SELECT p.sa AS source_a, p.sb AS source_b,
       round(ea.est, 2) AS est_distinct_a,
       round(eb.est, 2) AS est_distinct_b,
       round(u.est, 2) AS est_union,
       round(greatest(0.0, ea.est + eb.est - u.est), 2) AS est_intersection
FROM pairs p
JOIN se ea ON ea.source = p.sa
JOIN se eb ON eb.source = p.sb
JOIN ue u ON u.sa = p.sa AND u.sb = p.sb
ORDER BY source_a, source_b LIMIT 50
"""
    )


@register("q_source_overlap_hll", oracle=_overlap_hll_oracle())
def q_source_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-based source-pair overlap (register-max union + inclusion-
    exclusion intersection): 16 KB per key vs the Bloom variant's m/8
    bytes; accuracy vs q_source_overlap_exact pinned in pytest. FULLY
    oracle-backed (r5): the DuckDB oracle rebuilds per-source
    registers bit-for-bit, takes the same register-wise max for each
    pair union (the union sketch IS the sketch of the union), and
    runs the same Flajolet estimator — estimates hash-match at 2 dp
    cross-engine (functions/sqlhash.py)."""
    from .plans import source_overlap

    seq = sequences_from_documents(spark, sf_dir)
    return source_overlap(spark, seq, sketch="hll").orderBy("source_a", "source_b").limit(50)


@register("q_bloom_doc_ids")
def q_bloom_doc_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom over doc_ids (strings hashed JVM-side with xxhash64 — the
    north star's 'token n-grams and doc_ids'): zero FN on every present
    id, FPR on a disjoint probe set."""
    from .operators.sketches import BlockedBloomSketch

    seq = sequences_from_documents(spark, sf_dir)
    hashed = seq.select(F.xxhash64("doc_id").alias("h"))
    sk = BlockedBloomSketch.for_np(n=100_000, p=1e-4, col="h", scalar=True)
    payload, n = sk.build_bytes(hashed)
    hits, total = sk.count_contained(hashed, payload, spark)
    absent = spark.range(10**7, 10**7 + 100_000).select(
        F.xxhash64(F.concat(F.lit("absent-"), F.col("id"))).alias("h")
    )
    fp_hits, fp_total = sk.count_contained(absent, payload, spark)
    return spark.createDataFrame(
        [(n, hits, total, fp_hits, fp_total, round(fp_hits / fp_total, 8))],
        "n_inserted bigint, present_hits bigint, present_probes bigint, "
        "false_hits bigint, n_probes bigint, observed_fpr double",
    )


def _sharded_bloom_oracle() -> str:
    import numpy as np

    from .operators.sharded import SHARD_SALT
    from .sketch.blocked import _SALT, BlockedBloomFilter

    nb = BlockedBloomFilter.for_np(
        n=max(1, int(np.ceil(500_000 / 16))), p=1e-4
    ).n_blocks
    m_bits = nb * 256
    salts = ", ".join(f"({j}, {int(s)})" for j, s in enumerate(_SALT))
    ss = int(SHARD_SALT)
    return (
        _SEQ_CTE
        + f""",
tok AS (SELECT unnest(tokens) AS tok FROM sequences),
dtok AS (SELECT DISTINCT CAST(tok AS UBIGINT) AS k FROM tok),
{_sm64_ctes('sb', 'SELECT k FROM dtok')},
hs AS (SELECT h1 AS h FROM sbh),
{_sm64_ctes('sr', f'SELECT xor(h, {ss}::UBIGINT) AS k, h FROM hs', ', h')},
hr AS (SELECT h, CAST(h1 % 16 AS BIGINT) AS shard FROM srh),
ibits AS (SELECT DISTINCT shard, CAST((h >> 32) % {nb} AS BIGINT) AS block,
          s.j,
          CAST(((CAST(h % 4294967296 AS HUGEINT) * s.salt) % 4294967296)
               AS BIGINT) >> 27 AS bit
          FROM hr CROSS JOIN (VALUES {salts}) s(j, salt)),
fill AS (SELECT shard, round(count(*) / CAST({m_bits} AS DOUBLE), 8) AS fr
         FROM ibits GROUP BY shard),
ap AS (SELECT unnest(range(100000000, 100100000)) AS v),
{_sm64_ctes('pb', 'SELECT CAST(v AS UBIGINT) AS k FROM ap')},
ph AS (SELECT h1 AS h FROM pbh),
{_sm64_ctes('pr', f'SELECT xor(h, {ss}::UBIGINT) AS k, h FROM ph', ', h')},
phr AS (SELECT h, CAST(h1 % 16 AS BIGINT) AS shard FROM prh),
pbits AS (SELECT h, shard, CAST((h >> 32) % {nb} AS BIGINT) AS block, s.j,
          CAST(((CAST(h % 4294967296 AS HUGEINT) * s.salt) % 4294967296)
               AS BIGINT) >> 27 AS bit
          FROM phr CROSS JOIN (VALUES {salts}) s(j, salt)),
fhits AS (SELECT p.h FROM pbits p
          JOIN ibits i ON p.shard = i.shard AND p.block = i.block
                       AND p.j = i.j AND p.bit = i.bit
          GROUP BY p.h HAVING count(*) = 8),
ni AS (SELECT CAST(sum(len(tokens)) AS BIGINT) AS n FROM sequences),
fh AS (SELECT CAST(count(*) AS BIGINT) AS false_hits FROM fhits)
SELECT (SELECT CAST(count(DISTINCT shard) AS BIGINT) FROM hr) AS n_shards,
       ni.n AS n_inserted,
       round((SELECT max(fr) FROM fill), 8) AS max_fill,
       ni.n AS present_hits, ni.n AS present_probes,
       fh.false_hits, CAST(100000 AS BIGINT) AS n_probes,
       round(fh.false_hits / CAST(100000 AS BIGINT), 8) AS observed_fpr
FROM ni CROSS JOIN fh
"""
    )


@register("q_sharded_bloom", oracle=_sharded_bloom_oracle())
def q_sharded_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded blocked-Bloom membership (operators/sharded.py) — the
    scale path for filters too big for one task at 10^12 tokens. Builds
    via the routed plan (token hashes shuffled once by shard, per-task
    memory = one partition's shard filters), probes every corpus token
    (zero FN asserted) plus a disjoint domain (observed FPR). FULLY
    oracle-backed (r5): the DuckDB oracle reproduces the independent
    routing hash (sm64(h XOR shard-salt) mod S), rebuilds every
    shard's Parquet-SBBF bit set exactly, and probes the same 100k
    disjoint ids — so shard routing, per-shard max fill, the
    false-positive count, AND the zero-FN guarantee (present_hits
    rendered as the exact occurrence total) all hash-match."""
    from .operators.sharded import ShardedBloomSketch

    seq = sequences_from_documents(spark, sf_dir)
    sk = ShardedBloomSketch(n_total=500_000, p=1e-4, n_shards=16)
    sketch_df = sk.build(seq, routed=True).persist()
    stats = sk.stats(sketch_df).agg(
        F.count("*").alias("n_shards"),
        F.sum("n_items").alias("n_inserted"),
        F.max("fill_ratio").alias("max_fill"),
    ).collect()[0]
    hits, total = sk.count_contained(seq, sketch_df, spark)
    assert hits == total, (hits, total)  # zero FN through shard routing
    # Build the absent-probe frame JVM-side: pandas->Spark inference of
    # numpy-ndarray cells only works when Arrow conversion is enabled,
    # which the round driver's session does NOT set (round-3 regression).
    absent = spark.range(10).select(
        F.sequence(
            F.lit(10**8) + F.col("id") * F.lit(10_000),
            F.lit(10**8) + (F.col("id") + F.lit(1)) * F.lit(10_000) - F.lit(1),
        ).alias("tokens")
    )
    fp_hits, fp_total = sk.count_contained(absent, sketch_df, spark)
    sketch_df.unpersist()
    return spark.createDataFrame(
        [
            (
                int(stats["n_shards"]), int(stats["n_inserted"]),
                round(float(stats["max_fill"]), 8), hits, total,
                fp_hits, fp_total, round(fp_hits / fp_total, 8),
            )
        ],
        "n_shards bigint, n_inserted bigint, max_fill double, present_hits bigint, "
        "present_probes bigint, false_hits bigint, n_probes bigint, observed_fpr double",
    )


def _snapshot_split(spark: SparkSession, sf_dir: str):
    """Deterministic prev/new snapshot construction over documents:
    prev = doc_id % 4 != 1; new = doc_id % 4 == 1 PLUS re-identified
    copies (doc_id + 10^9) of every doc_id % 10 == 0 doc — planted
    cross-snapshot duplicates. Reproducible verbatim in DuckDB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    prev = docs.filter(F.col("doc_id") % 4 != 1)
    planted = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + F.lit(10**9)).alias("doc_id"), "text"
    )
    new = docs.filter(F.col("doc_id") % 4 == 1).unionByName(planted)
    return prev, new


def q_incremental_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT companion of the incremental-dedup sketch: new-snapshot
    docs whose content fingerprint appears in the previous snapshot.
    Not registered; q_incremental_dedup asserts zero FN against it."""
    prev, new = _snapshot_split(spark, sf_dir)
    return (
        new.join(
            prev.select(F.md5("text").alias("fp")).distinct(),
            F.md5(new["text"]) == F.col("fp"),
            "left_semi",
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


@register("q_incremental_dedup")
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup via the sharded fingerprint
    filter (plans/incremental.py): zero FN (every true duplicate
    flagged — asserted in-query against the exact companion), FP-rate
    bounded over-removal. Summary row so the driver check is stable."""
    from .plans.incremental import incremental_dedup

    prev, new = _snapshot_split(spark, sf_dir)
    out = incremental_dedup(prev, new, expected_docs=500_000, p=1e-6, n_shards=8)
    flagged = {
        r["doc_id"] for r in out["flags"].filter("probably_seen").collect()
    }
    exact = {r["doc_id"] for r in q_incremental_dedup_exact(spark, sf_dir).collect()}
    assert exact <= flagged, "zero-FN violated: a true duplicate was not flagged"
    n_new = new.count()
    out["seen"].unpersist()
    return spark.createDataFrame(
        [
            (
                n_new,
                len(exact),
                len(flagged),
                len(flagged) - len(exact),  # false positives (over-removal)
                n_new - len(flagged),
            )
        ],
        "n_new bigint, n_true_dups bigint, n_flagged bigint, n_false_pos bigint, n_novel bigint",
    )


@register(
    "q_topk_two_pass",
    oracle=_SEQ_CTE
    + """
    SELECT tok, count(*) AS freq
    FROM (SELECT unnest(tokens) AS tok FROM sequences) t
    GROUP BY tok ORDER BY freq DESC, tok LIMIT 25
    """,
)
def q_topk_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalable two-pass top-k (local candidates + exact recount) must
    equal the full exact groupBy top-k — same oracle as
    q_heavy_tokens_exact proves it."""
    from .operators.topk import topk_exact_candidates

    seq = sequences_from_documents(spark, sf_dir)
    return topk_exact_candidates(seq, k=25, margin=6)


@register("q_topk_cms")
def q_topk_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-path top-k (CMS estimates over local-top candidates)."""
    from .operators.topk import topk_by_cms

    seq = sequences_from_documents(spark, sf_dir)
    return topk_by_cms(seq, k=25, margin=6)


@register(
    "q_token_count_bpe",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe_tokens,
           len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS n_ws_tokens
    FROM documents ORDER BY doc_id LIMIT 300
    """,
)
def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace and the BPE-ish regex
    pretokenizer (GPT-2-style, RE2-compatible subset) — identical in
    DuckDB."""
    from .functions.text import bpe_pretokenize_expr

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(bpe_pretokenize_expr("text")).alias("n_bpe_tokens"),
            token_count_expr(F.col("text")).alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
        .limit(300)
    )


from .functions.text import duckdb_rolling_fingerprint as _dd_rfp  # noqa: E402


@register(
    "q_rolling_fingerprint",
    oracle=_SEQ_CTE
    + f"""
    SELECT fp, count(*) AS n_docs
    FROM (SELECT {_dd_rfp('tokens')} AS fp FROM sequences WHERE len(tokens) >= 3) t
    GROUP BY fp HAVING count(*) > 0 ORDER BY n_docs DESC, fp LIMIT 100
    """,
)
def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint groups (min 3-gram polynomial per doc)."""
    from .functions.text import rolling_fingerprint_expr

    seq = sequences_from_documents(spark, sf_dir)
    return (
        seq.filter(F.size("tokens") >= 3)
        .select(rolling_fingerprint_expr(F.col("tokens")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "fp")
        .limit(100)
    )


@register(
    "q_ngram_jaccard",
    oracle=_SEQ_CTE
    + """
    , shingles AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(tokens) - 2),
                   i -> CAST(tokens[i+1] AS BIGINT) * 2526168121
                        + CAST(tokens[i+2] AS BIGINT) * 50261
                        + tokens[i+3])) AS sh
        FROM sequences WHERE len(tokens) >= 3
    ), fps AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, md5(substr(text, 1, 40)) AS fp
        FROM documents
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE
                 / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
    FROM cand c
    JOIN shingles sa ON sa.doc_id = c.doc_a
    JOIN shingles sb ON sb.doc_id = c.doc_b
    WHERE len(list_intersect(sa.sh, sb.sh)) > 0
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over prefix-fingerprint candidate pairs,
    hash-matched against DuckDB's list_intersect on identical polynomial
    shingle keys. The operator broadcast-semi-joins candidates BEFORE
    the shingle self-join (the 100 TB-safe ordering)."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.md5(F.substring("text", 1, 40)).alias("fp"),
    )
    cand = (
        fps.alias("a")
        .join(fps.alias("b"), (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    seq = sequences_from_documents(spark, sf_dir)
    pairs = ngram_jaccard_pairs(seq, cand, shingle=3, exact_keys=True)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "q_bpe_merge_pairs",
    oracle=_SEQ_CTE
    + """
    SELECT pair // 50261 AS left_tok, pair % 50261 AS right_tok, count(*) AS freq
    FROM (SELECT unnest(list_transform(range(len(tokens) - 1),
              i -> CAST(tokens[i+1] AS BIGINT) * 50261 + tokens[i+2])) AS pair
          FROM sequences WHERE len(tokens) >= 2) t
    GROUP BY 1, 2 ORDER BY freq DESC, left_tok, right_tok LIMIT 25
    """,
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge-learning primitive: corpus-wide adjacent-pair
    counts, top 25 — one merge-training iteration is exactly "count
    all adjacent pairs, take the argmax". Pure Catalyst (injective
    int64 pair keys), hash-matched cross-engine."""
    from .functions.text import adjacent_pair_keys

    seq = sequences_from_documents(spark, sf_dir)
    return (
        seq.select(F.explode(adjacent_pair_keys(F.col("tokens"))).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("freq"))
        .select(
            F.expr("pair DIV 50261").alias("left_tok"),
            (F.col("pair") % 50261).alias("right_tok"),
            "freq",
        )
        .orderBy(F.desc("freq"), "left_tok", "right_tok")
        .limit(25)
    )


@register(
    "q_contamination_exact",
    oracle=_SEQ_CTE
    + """
    , grams AS (
        SELECT doc_id, unnest(list_distinct(list_transform(range(len(tokens) - 2),
            i -> CAST(tokens[i+1] AS BIGINT) * 2526168121
                 + CAST(tokens[i+2] AS BIGINT) * 50261 + tokens[i+3]))) AS g
        FROM sequences WHERE len(tokens) >= 3
    ), eval_g AS (SELECT DISTINCT g FROM grams WHERE CAST(doc_id AS BIGINT) < 50),
       train_g AS (SELECT doc_id, g FROM grams WHERE CAST(doc_id AS BIGINT) >= 50)
    SELECT t.doc_id, count(*) AS shared_grams
    FROM train_g t JOIN eval_g e USING (g)
    GROUP BY t.doc_id ORDER BY shared_grams DESC, doc_id LIMIT 100
    """,
)
def q_contamination_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact eval-contamination companion: distinct 3-grams each
    'training' doc (ids >= 50) shares with the 'eval' docs (ids < 50),
    via a broadcast gram join — hash-matched cross-engine."""
    from .operators.dedup import shingle_sets_poly

    seq = sequences_from_documents(spark, sf_dir)
    grams = shingle_sets_poly(seq, shingle=3)
    is_eval = F.col("doc_id").cast("bigint") < 50
    eval_g = grams.filter(is_eval).select("shingle_hash").distinct()
    train_g = grams.filter(~is_eval)
    return (
        train_g.join(F.broadcast(eval_g), "shingle_hash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("shared_grams"))
        .orderBy(F.desc("shared_grams"), "doc_id")
        .limit(100)
    )


@register("q_decontaminate")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom decontamination sweep (8-gram leak detection, zero FN):
    summary over the same eval/train split as q_contamination_exact;
    one-sidedness and planted-leak recall are pinned in pytest."""
    from .operators.decontaminate import decontaminate

    seq = sequences_from_documents(spark, sf_dir)
    is_eval = F.col("doc_id").cast("bigint") < 50
    out = decontaminate(seq.filter(~is_eval), seq.filter(is_eval), ngram=8)
    return out.agg(
        F.count("*").alias("n_train_docs"),
        F.sum(F.col("contaminated").cast("long")).alias("n_flagged"),
        F.sum("n_hits").alias("total_hits"),
        F.sum("n_grams").alias("total_grams"),
    )


@register(
    "q_bigram_lm_scores",
    oracle=_SEQ_CTE
    + """
    , pairs AS (
        SELECT doc_id, unnest(list_transform(range(len(tokens) - 1),
            i -> CAST(tokens[i+1] AS BIGINT) * 1048576 + tokens[i+2])) AS pair
        FROM sequences WHERE len(tokens) >= 2
    ), bigram AS (SELECT pair, count(*) AS c2 FROM pairs GROUP BY pair),
       unigram AS (SELECT tok, count(*) AS c1
                   FROM (SELECT unnest(tokens) AS tok FROM sequences) GROUP BY tok)
    SELECT p.doc_id, count(*) AS n_pairs,
           round(avg(ln((b.c2 + 1)::DOUBLE / (u.c1 + 50257))), 6) AS lm_score
    FROM pairs p
    JOIN bigram b USING (pair)
    JOIN unigram u ON u.tok = p.pair // 1048576
    GROUP BY p.doc_id
    """,
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter: per-doc mean log-likelihood
    under an add-one-smoothed corpus bigram LM — hash-matched against
    the identical arithmetic in DuckDB."""
    from .operators.dedup import bigram_lm_scores

    seq = sequences_from_documents(spark, sf_dir)
    return bigram_lm_scores(seq)


@register("q_bpe_learn")
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (5 iterations of count -> argmax
    -> vectorized replace): emits the learned merge table. Deterministic
    and partition-invariant, pinned against a sequential reference BPE
    in pytest (the iterative loop is not one-shot SQL-expressible, so
    rows-only here)."""
    from .operators.bpe import learn_bpe_merges

    seq = sequences_from_documents(spark, sf_dir)
    merges, merged = learn_bpe_merges(seq, n_merges=5, vocab=50257)
    merged.unpersist()
    return spark.createDataFrame(
        merges, "left_tok bigint, right_tok bigint, new_id bigint, freq bigint"
    )


from .functions.text import duckdb_repetition as _dd_rep  # noqa: E402

_REP = _dd_rep("tokens")


@register(
    "q_repetition_filters",
    oracle=_SEQ_CTE
    + f"""
    SELECT doc_id,
           {_REP['dup_3gram_ratio']} AS dup_3gram_ratio,
           {_REP['top_token_ratio']} AS top_token_ratio
    FROM sequences ORDER BY doc_id LIMIT 150
    """,
)
def q_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (duplicate-3-gram ratio,
    top-token share) — pure Catalyst, hash-matched cross-engine."""
    from .functions.text import repetition_exprs

    seq = sequences_from_documents(spark, sf_dir)
    r = repetition_exprs(F.col("tokens"))
    return (
        seq.select(
            "doc_id",
            r["dup_3gram_ratio"].alias("dup_3gram_ratio"),
            r["top_token_ratio"].alias("top_token_ratio"),
        )
        .orderBy("doc_id")
        .limit(150)
    )


def _curate_oracle() -> str:
    import math

    from .functions.text import DUCKDB_TOKENIZE
    from .sketch.blocked import _HEADER as _BHEADER
    from .sketch.blocked import _SALT, BlockedBloomFilter

    nb = BlockedBloomFilter.for_np(n=500_000, p=1e-4).n_blocks
    m_bits = nb * 256
    wire = _BHEADER.size + nb * 32
    lnfac = repr(math.log(1.0 - 1.0 / 32.0))
    salts = ", ".join(f"({j}, {int(s)})" for j, s in enumerate(_SALT))
    return f"""
WITH gated AS (
  SELECT doc_id, text FROM documents
  WHERE len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) >= 8
    AND round(CASE WHEN length(text) > 0
                   THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        * 1.0 / length(text)
                   ELSE 0.0 END, 6) >= 0.3
),
keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
csequences AS (SELECT CAST(g.doc_id AS VARCHAR) AS doc_id,
                      {DUCKDB_TOKENIZE('g.text')} AS tokens
               FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
{_minhash_ctes('c', 'csequences')},
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM cmt WHERE ej >= 0.6),
surv AS (SELECT s.doc_id, s.tokens FROM csequences s
         LEFT JOIN dropped d ON s.doc_id = d.doc_id WHERE d.doc_id IS NULL),
stok AS (SELECT unnest(tokens) AS tok FROM surv),
sdt AS (SELECT DISTINCT CAST(tok AS UBIGINT) AS k FROM stok),
{_sm64_ctes('cb', 'SELECT k FROM sdt')},
cbits AS (SELECT DISTINCT CAST((h1 >> 32) % {nb} AS BIGINT) AS block, s.j,
          CAST(((CAST(h1 % 4294967296 AS HUGEINT) * s.salt) % 4294967296)
               AS BIGINT) >> 27 AS bit
          FROM cbh CROSS JOIN (VALUES {salts}) s(j, salt)),
card AS (SELECT CAST(count(*) AS BIGINT) AS c FROM cbits)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS docs_in,
       (SELECT CAST(count(*) AS BIGINT) FROM gated) AS docs_after_quality,
       (SELECT CAST(count(*) AS BIGINT) FROM keep) AS docs_after_exact_dedup,
       (SELECT CAST(count(*) AS BIGINT) FROM surv) AS docs_out,
       (SELECT CAST(COALESCE(sum(len(tokens)), 0) AS BIGINT) FROM surv)
           AS tokens_out,
       CASE WHEN c = 0 THEN 0.0
            ELSE round({nb} * ln(1.0 - c / CAST({m_bits} AS DOUBLE))
                       / {lnfac}, 1) END AS distinct_tokens_est,
       round(c / CAST({m_bits} AS DOUBLE), 6) AS bloom_fill_ratio,
       CAST({wire} AS BIGINT) AS bloom_bytes
FROM card
"""


@register("q_curate_corpus", oracle=_curate_oracle())
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline stats (quality gate -> exact dedup
    -> MinHash near-dedup -> tokenize -> final Bloom); the capstone
    composition of the library's operators. FULLY oracle-backed (r5):
    the DuckDB oracle replays the ENTIRE pipeline — whitespace/alpha
    quality gate, md5 exact-dedup keep-min rule, the bit-exact MinHash
    LSH drop set (_minhash_ctes) at threshold 0.6, tokenizer-parity
    token counts, and the final split-block filter's fill/estimate/
    wire size from an exactly rebuilt bit set — so every number in the
    stats row hash-matches cross-engine."""
    from .plans import curate_corpus

    out = curate_corpus(
        spark,
        load_table(spark, sf_dir, "documents"),
        min_tokens=8,
        min_alpha_ratio=0.3,
        jaccard_threshold=0.6,
        bloom_n=500_000,
    )
    s = out["stats"]
    return spark.createDataFrame(
        [tuple(s.values())],
        ", ".join(f"{k} {'double' if isinstance(v, float) else 'bigint'}" for k, v in s.items()),
    )


_TDQ_ORACLE = "\nUNION ALL\n".join(
    f"SELECT CAST({q} AS DOUBLE) AS q,"
    f" round(CAST(quantile_cont(value, {q}) AS DOUBLE), 6) AS exact,"
    f" 1 AS td_in_bound, 1 AS kll_in_bound FROM events"
    for q in (0.01, 0.5, 0.99)
)


@register("q_tdigest_quantiles", oracle=_TDQ_ORACLE)
def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest + KLL quantiles of events.value, certified against
    exact (both quantile sketches the north rule names). Oracle-backed
    via in-bound flags: both sketches are merge-order-dependent, so
    the exact quantiles hash-match and each estimate must land between
    the exact quantile values at q ± margin — 0.03 rank margin for the
    t-digest (the bound tests/test_tdigest.py pins for the Spark
    path) and 3x the published rank error for KLL. Oracle emits
    literal 1s; a flipped flag fails the driver hash."""
    from .operators.sketches import KllQuantiles, TDigestQuantiles
    from .sketch.kll import KLLSketch

    td_m = 0.03
    kll_m = 3.0 * KLLSketch(200).rank_error()
    ev = load_table(spark, sf_dir, "events")
    qs = [0.01, 0.5, 0.99]
    td = TDigestQuantiles(compression=200, col="value").quantiles(ev, qs)
    kll = KllQuantiles(k=200, col="value").quantiles(ev, qs)
    aggs = [
        F.expr(f"percentile(value, {q})").alias(f"p{i}") for i, q in enumerate(qs)
    ]
    for name, m in (("t", td_m), ("k", kll_m)):
        aggs += [
            F.expr(f"percentile(value, {max(q - m, 0.0)!r})").alias(f"{name}lo{i}")
            for i, q in enumerate(qs)
        ]
        aggs += [
            F.expr(f"percentile(value, {min(q + m, 1.0)!r})").alias(f"{name}hi{i}")
            for i, q in enumerate(qs)
        ]
    b = ev.agg(*aggs).collect()[0]
    rows = [
        (
            q,
            round(float(b[f"p{i}"]), 6),
            1 if b[f"tlo{i}"] <= td[i] <= b[f"thi{i}"] else 0,
            1 if b[f"klo{i}"] <= kll[i] <= b[f"khi{i}"] else 0,
        )
        for i, q in enumerate(qs)
    ]
    return spark.createDataFrame(
        rows, "q double, exact double, td_in_bound int, kll_in_bound int"
    )


# ===========================================================================
# Streaming (Structured Streaming executions inside the batch contract:
# file-source micro-batches, trigger(availableNow), memory/foreachBatch
# sinks — deterministic final tables over bounded replays)
# ===========================================================================


_T0 = 1_600_000_000  # fixed epoch base for replay-file mtimes


def _stream_fp_source(spark: SparkSession, sf_dir: str, n_files: int = 4):
    """Documents prefix-fingerprint column replayed as n micro-batches —
    the ONE source both streaming-dedup queries read, so the exact and
    Bloom variants can never silently dedup different key sets."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5(F.substring("text", 1, 40)).alias("fp")
    )
    src = _scratch_dir("sdedup_src")
    docs.repartition(n_files).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("fp string").option("maxFilesPerTrigger", 1).parquet(src)
    )
    return docs, stream


def _await_stream(q, seconds: int = 300) -> None:
    """awaitTermination with the timeout actually enforced: on expiry
    the query is stopped and a clear error raised — otherwise callers
    would read racing snapshots of a memory sink a live query is still
    appending to (and leak the active stream)."""
    if not q.awaitTermination(seconds):
        q.stop()
        raise TimeoutError(f"streaming query {q.name} did not finish in {seconds}s")


@register("q_streaming_windowed_topk")
def q_streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator in the driver contract:
    windowed_topk_tokens (applyInPandasWithState, CMS + candidate set
    per event-time window, O(d*w + 2k) state) over the documents token
    stream replayed as 3 micro-batches. foreachBatch records every
    update-mode emission with its batch id; the final table keeps each
    window's LAST emission — the top-k after the window saw all its
    data. Registered rows-only (CMS estimates aren't one-shot SQL);
    estimate accuracy is pinned in tests/test_multimodal_streaming.py
    (test_windowed_topk_tokens_stream) against exact batch counts."""
    from .streaming.stateful import windowed_topk_tokens

    seq = sequences_from_documents(spark, sf_dir).select(
        # deterministic synthetic event time: hour = doc_id % 6
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id").cast("long") % 6) * 3600
        ).alias("ts"),
        "tokens",
    )
    src = _scratch_dir("topk_src")
    seq.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(seq.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = windowed_topk_tokens(stream, ts_col="ts", tokens_col="tokens", window="1 hour", k=10)

    emissions: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():  # k rows per active window: tiny
            emissions.append((batch_id, r))

    ckpt = _scratch_dir("topk_ckpt")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    last_batch: dict = {}
    for bid, r in emissions:
        key = r["window_start"]
        if key not in last_batch or bid > last_batch[key]:
            last_batch[key] = bid
    final = [
        (int(r["window_start"].timestamp()), int(r["tok"]), int(r["est_freq"]), int(r["rank"]))
        for bid, r in emissions
        if bid == last_batch[r["window_start"]]
    ]
    final.sort()
    return spark.createDataFrame(
        final, "window_epoch bigint, tok bigint, est_freq bigint, rank int"
    )


@register("q_streaming_drift")
def q_streaming_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor in the driver contract
    (streaming/stateful.py::windowed_drift): a batch-built reference
    CountSketch, then the documents token stream replayed as
    micro-batches with HALF the sources' token ids shifted out of the
    reference range. Drift per (source-group, window) = 1 - cosine
    between frequency vectors, computed ENTIRELY from sketch payloads
    (AMS inner product + F2) — no token dictionary, no join, O(d*w)
    state per window. In-query gates: every unshifted window scores
    drift < 0.1, every shifted window > 0.5 (detection, not just
    liveness). Rows-only (the estimator is not one-shot SQL); the
    planted-drift detection is pinned again in
    tests/test_multimodal_streaming.py::test_windowed_drift_monitor."""
    from .operators.sketches import AmsSketch
    from .streaming.stateful import windowed_drift

    seq = sequences_from_documents(spark, sf_dir)
    ref_payload, _ = AmsSketch(d=5, w=4096, col="tokens").build_bytes(
        seq.select("tokens")
    )
    # group A keeps reference tokens; group B shifts ids out of range
    shifted = seq.select(
        F.timestamp_seconds(
            F.lit(1704067200) + (F.col("doc_id").cast("long") % 4) * 3600
        ).alias("ts"),
        F.when(F.col("doc_id").cast("long") % 2 == 0, F.lit("stable"))
        .otherwise(F.lit("shifted"))
        .alias("grp"),
        F.when(
            F.col("doc_id").cast("long") % 2 == 0, F.col("tokens")
        )
        .otherwise(F.transform("tokens", lambda t: t + F.lit(1_000_000)))
        .alias("tokens"),
    )
    src = _scratch_dir("drift_src")
    shifted.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(shifted.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = windowed_drift(
        stream, ref_payload, ts_col="ts", tokens_col="tokens",
        source_col="grp", window="1 hour",
    )
    emissions: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():  # one row per active (grp, window)
            emissions.append(r)

    ckpt = _scratch_dir("drift_ckpt")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    last: dict = {}
    for r in emissions:  # last emission per (grp, window) = max n_tokens
        key = (r["source"], r["window_start"])
        if key not in last or r["n_tokens"] > last[key]["n_tokens"]:
            last[key] = r
    if not last:
        raise AssertionError("drift monitor emitted nothing")
    for (grp, _), r in last.items():
        if grp == "stable" and r["drift"] >= 0.1:
            raise AssertionError(f"stable group drifted: {r}")
        if grp == "shifted" and r["drift"] <= 0.5:
            raise AssertionError(f"shifted group not detected: {r}")
    final = sorted(
        (r["source"], int(r["window_start"].timestamp()), int(r["n_tokens"]),
         round(float(r["drift"]), 4))
        for r in last.values()
    )
    return spark.createDataFrame(
        final, "grp string, window_epoch bigint, n_tokens bigint, drift double"
    )


# ===========================================================================
# Checkpointed build (resume must equal a direct build)
# ===========================================================================


@register("q_checkpoint_resume")
def q_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north rule's resumability pillar, driver-visible: the corpus
    is written as a multi-file parquet input, a partial run checkpoints
    HALF the files' per-file sketch rows (simulated crash), then
    build_with_checkpoint resumes — it must rebuild only the missing
    files and the resumed filter must be BITWISE-IDENTICAL to a direct
    uncheckpointed build (asserted in-query; merge algebra makes the
    split invisible). Emits the lineage metrics a production job logs.
    Rows-only: the payload-equality assert is the real gate."""
    from .operators.aggregate import partition_sketches
    from .operators.checkpoint import build_with_checkpoint
    from .operators.sketches import BlockedBloomSketch
    from .sketch import merge_sketch_payloads

    seq = sequences_from_documents(spark, sf_dir).select("tokens")
    src = _scratch_dir("ckpt_src")
    seq.repartition(6).write.mode("overwrite").parquet(src)

    sk = BlockedBloomSketch.for_np(n=500_000, p=1e-4)

    # direct build (no checkpoint) — the bitwise oracle
    direct = partition_sketches(
        spark.read.parquet(src), sk._empty, sk._update, columns=["tokens"]
    )
    from .operators.aggregate import tree_merge

    drow = tree_merge(direct, merge_sketch_payloads, fanout=8).collect()[0]

    # simulated crash: checkpoint only half the input files
    files = sorted(spark.read.parquet(src).inputFiles())
    half = files[: len(files) // 2]
    ckpt = _scratch_dir("ckpt_dir") + "/ckpt"
    from .operators.checkpoint import _file_sketches

    _file_sketches(
        spark.read.parquet(*half), sk._empty, sk._update, columns=["tokens"]
    ).write.mode("overwrite").parquet(ckpt)

    report = build_with_checkpoint(
        spark, src, ckpt, sk._empty, sk._update, merge_sketch_payloads,
        columns=["tokens"], fanout=8,
    )
    assert report.payload == bytes(drow["payload"]), "resume != direct build"
    assert report.n_items == int(drow["n_items"])
    assert 0 < report.resumed_files < report.total_files  # genuine resume
    assert report.built_files == report.total_files - report.resumed_files
    m = report.metrics()
    from .sketch import BlockedBloomFilter

    filt = BlockedBloomFilter.from_bytes(report.payload)
    return spark.createDataFrame(
        [
            (
                m["total_files"], m["resumed_files"], m["built_files"],
                m["n_items"], m["sketch_bytes"],
                round(filt.fill_ratio(), 6), 1,
            )
        ],
        "total_files int, resumed_files int, built_files int, n_items bigint, "
        "sketch_bytes bigint, fill_ratio double, bitwise_equal int",
    )


# ===========================================================================
# Round 4 additions: cluster resolution, PII scrub, entropy quality
# ===========================================================================


@register(
    "q_dup_clusters",
    oracle="""
    WITH RECURSIVE
    docs40 AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
        FROM documents WHERE length(text) >= 40
    ),
    pre AS (SELECT doc_id, md5(substr(text, 1, 40)) AS fp FROM docs40),
    suf AS (
        SELECT doc_id, md5(substr(text, length(text) - 39, 40)) AS fp
        FROM docs40
    ),
    epairs AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM pre a JOIN pre b ON a.fp = b.fp AND a.doc_id <> b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id
        FROM suf a JOIN suf b ON a.fp = b.fp AND a.doc_id <> b.doc_id
    ),
    reach(node, lab) AS (
        SELECT src, src FROM epairs
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN epairs e ON e.src = r.node
    ),
    comp AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node)
    SELECT c.doc_id, c.cluster_id, s.n_members
    FROM comp c
    JOIN (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY cluster_id) s
      USING (cluster_id)
    """,
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: connected components over the union
    of prefix-fingerprint and suffix-fingerprint candidate pairs, so
    transitive chains (A~B by prefix, B~C by suffix) land in one group.
    Spark side runs iterative hash-to-min label propagation
    (operators/cluster.py) to exact convergence; the oracle computes
    the same components with a DuckDB recursive CTE — a hash-match
    pins the whole iterative algorithm, not just one round."""
    from .operators.cluster import dup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 40)
    docs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    pre = docs.select("doc_id", F.md5(F.substring("text", 1, 40)).alias("fp"))
    suf = docs.select(
        "doc_id",
        F.md5(F.expr("substring(text, length(text) - 39, 40)")).alias("fp"),
    )

    def _star_edges(fps: DataFrame) -> DataFrame:
        # STAR edges (every doc -> min doc sharing its fp), not all
        # pairs: a D-doc duplicate group yields D-1 edges instead of
        # D·(D-1) — same connected components, no quadratic blowup on
        # the hot fingerprint at corpus scale. The oracle builds the
        # clique pairs (small SF); components are identical by
        # construction.
        hubs = fps.groupBy("fp").agg(
            F.min("doc_id").alias("doc_a"), F.count("*").alias("n_docs")
        )
        return (
            fps.join(hubs.filter(F.col("n_docs") >= 2), "fp")
            .filter(F.col("doc_id") != F.col("doc_a"))
            .select("doc_a", F.col("doc_id").alias("doc_b"))
        )

    edges = _star_edges(pre).union(_star_edges(suf))
    return dup_clusters(edges)


@register(
    "q_pii_scrub",
    oracle="""
    WITH planted AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text2
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text2,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(text2, '\\+?1?-?555-[0-9]{4}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(text2,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\\+?1?-?555-[0-9]{4}', '<PHONE>', 'g')) AS clean_md5
    FROM planted
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (curation-pipeline scrub pass): plant
    deterministic emails/phones keyed by doc_id, then count and redact
    them with pure-Catalyst regexp_count/regexp_replace (JVM regex and
    DuckDB RE2 agree on this pattern subset). Hash-matching md5(clean
    text) pins the exact redaction output per row. Scale: one narrow
    projection, no shuffle, no Python."""
    from .functions.text import pii_redact, pii_counts

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text2"),
    )
    n_emails, n_phones = pii_counts(F.col("text2"))
    return planted.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        F.md5(pii_redact(F.col("text2"))).alias("clean_md5"),
    )


@register(
    "q_token_entropy",
    oracle=_SEQ_CTE
    + """
    , t AS (
        SELECT doc_id, len(tokens) AS n_tok, unnest(tokens) AS token
        FROM sequences WHERE len(tokens) > 0
    ),
    c AS (SELECT doc_id, n_tok, token, count(*) AS c FROM t GROUP BY ALL)
    SELECT doc_id,
           round(ln(n_tok) - sum(c * ln(c)) / n_tok, 6) AS entropy
    FROM c GROUP BY doc_id, n_tok
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    low-entropy filter every curation pipeline runs (boilerplate and
    repeated-phrase docs score low). H = ln(n) - sum(c·ln c)/n over
    token multiplicities; pure Catalyst (explode + two hash
    aggregates, map-side partial agg shrinks the shuffle to distinct
    (doc, token) rows). Hash-matched to 1e-6 against DuckDB."""
    from .functions.text import doc_token_entropy

    seq = sequences_from_documents(spark, sf_dir).filter(F.size("tokens") > 0)
    return doc_token_entropy(seq)


@register(
    "q_bloom_join_prune",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000
    GROUP BY c.c_mktsegment
    """,
)
def q_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-join pruning — the library's flagship join use: build a
    blocked-Bloom filter over the selective build side's keys
    (customers with c_acctbal > 9000, ~10%), broadcast the payload,
    and drop probe-side orders whose o_custkey definitely doesn't
    match BEFORE the exact join. Zero false negatives ⇒ the pruned
    join aggregate is bitwise the plain join (the oracle); false
    positives survive the prune but die in the exact join. At 100 TB
    with a build side too big to broadcast-join, the O(bytes) filter
    still broadcasts, cutting the probe-side shuffle by the key
    selectivity; the small-side count used for sizing is the same
    cost class as the filter build itself."""
    from .operators.sketches import BlockedBloomSketch

    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n_keys = cust.count()
    sk = BlockedBloomSketch.for_np(n=max(n_keys, 1024), p=1e-3, col="h", scalar=True)
    payload, _ = sk.build_bytes(cust.select(F.col("c_custkey").alias("h")))
    orders = load_table(spark, sf_dir, "orders")
    pruned = orders.filter(sk.might_contain_udf(payload, spark)(F.col("o_custkey")))
    return (
        pruned.join(cust, pruned.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,4)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


_JS_EPS_FULL = repr(__import__("math").e / 65536)
_JS_ORACLE = f"""
WITH
{_cms_ctes('ja', 'SELECT CAST(l_orderkey AS UBIGINT) AS k FROM lineitem', 5, 65536)},
{_cms_ctes('jb', 'SELECT CAST(o_orderkey AS UBIGINT) AS k FROM orders', 5, 65536)},
ip AS (SELECT a.r, sum(CAST(a.c AS HUGEINT) * b.c) AS dot
       FROM jacnt a JOIN jbcnt b ON a.r = b.r AND a.col = b.col GROUP BY a.r),
est AS (SELECT CAST(min(dot) AS BIGINT) AS est_join_size FROM ip),
ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_size
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
ns AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_left,
              (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_right)
SELECT n_left, n_right, exact_join_size, est_join_size,
       {round(__import__("math").e / 65536, 8)!r} AS eps,
       CASE WHEN est_join_size <= exact_join_size + {_JS_EPS_FULL} * n_left * n_right
            THEN 1 ELSE 0 END AS within_bound
FROM ns, ex, est
"""


@register("q_join_size_est", oracle=_JS_ORACLE)
def q_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two mergeable CMS sketches
    (Cormode–Muthukrishnan inner product): |lineitem ⋈ orders| on
    orderkey estimated WITHOUT touching row pairs — each side is one
    scan reduced to a d×w table, the estimate is a driver-side inner
    product of two payloads. At 100 TB this is the planner's
    join-cardinality probe: O(sketch) bytes moved vs an actual join.
    In-query asserts pin the one-sided bound (est ≥ exact) and the
    eps·N_a·N_b error cap at delta confidence. FULLY oracle-backed —
    including the estimate itself: the DuckDB oracle rebuilds both CMS
    tables bit-for-bit (splitmix64 rendered as wrapping HUGEINT SQL,
    functions/sqlhash.py) and takes the same min-over-rows inner
    product, so est_join_size hash-matches cross-engine. Sums are
    exact: cell products at this scale are < 2^53, so Spark's float64
    accumulation and DuckDB's HUGEINT agree integer-for-integer."""
    from .operators.sketches import CmsSketch
    from .sketch.cms import CountMinSketch

    li = load_table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    od = load_table(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    sk = CmsSketch(d=5, w=65536, col="k", scalar=True)
    pa_bytes, n_a = sk.build_bytes(li)
    pb_bytes, n_b = sk.build_bytes(od)
    ca, cb = CountMinSketch.from_bytes(pa_bytes), CountMinSketch.from_bytes(pb_bytes)
    est = ca.inner_product(cb)
    exact = li.join(od, "k").count()
    eps, _delta = ca.error_bound()
    cap = exact + eps * n_a * n_b
    assert est >= exact, (est, exact)  # one-sided estimator
    assert est <= cap, (est, cap)
    return spark.createDataFrame(
        [(n_a, n_b, exact, est, round(float(eps), 8), 1 if est <= cap else 0)],
        "n_left bigint, n_right bigint, exact_join_size bigint, "
        "est_join_size bigint, eps double, within_bound int",
    )


_USER_HLL_ORACLE = f"""
WITH
dk AS (SELECT DISTINCT user_id, CAST(event_id AS UBIGINT) AS k FROM events),
{_hll_rows('ud', 'SELECT k, user_id FROM dk', 14, ', user_id')},
rg AS (SELECT user_id, idx, max(rank) AS r FROM udr GROUP BY user_id, idx),
es AS ({_hll_est('rg', 'user_id')}),
nz AS (SELECT user_id,
              CAST(CASE WHEN 4 * count(*) < 16384 THEN 16 + 4 * count(*)
                        ELSE 16 + 16384 END AS BIGINT) AS wire_bytes
       FROM rg GROUP BY user_id),
ex AS (SELECT user_id, CAST(count(DISTINCT event_id) AS BIGINT)
           AS distinct_exact FROM events GROUP BY user_id)
SELECT ex.user_id, ex.distinct_exact, round(es.est, 2) AS distinct_est,
       nz.wire_bytes,
       round(abs(round(es.est, 2) - ex.distinct_exact) / ex.distinct_exact, 6)
           AS rel_err
FROM ex JOIN es ON ex.user_id = es.user_id JOIN nz ON ex.user_id = nz.user_id
"""


@register("q_user_distinct_hll", oracle=_USER_HLL_ORACLE)
def q_user_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-USER HLL distinct-event estimates — the many-small-groups
    keyed build (150 users x ~67 events at sf0.01; millions of users
    at 100 TB). Each group's register state is nearly empty, so the
    canonical wire chooser (sketch/hll.py v2) serializes sorted
    (idx,rank) words instead of 2^p raw registers: wire_bytes shows
    the per-group payload the shuffle actually moves (~260 B, not
    16 KiB — a ~60x reduction in keyed-sketch shuffle volume, the
    cost that dominates per-entity sketching at corpus scale). The
    estimate rides linear counting at this fill, so rel_err is tiny;
    pinned <= 3*1.04/sqrt(m) in tests/test_hll_sparse.py. FULLY
    oracle-backed: the DuckDB oracle rebuilds every user's registers
    bit-for-bit (functions/sqlhash.py), runs the same estimator, and
    derives wire_bytes from the sparse-wire formula 16 + 4*nnz (the
    chooser is a pure function of register state, so nnz is
    SQL-computable — hll.py v2 invariant)."""
    from .operators.sketches import HllSketch
    from .sketch import HyperLogLog

    ev = load_table(spark, sf_dir, "events")
    keyed = HllSketch(p=14, col="event_id", scalar=True).build_by_key(
        ev, "user_id"
    )

    def stats(batches):
        import pyarrow as pa

        for b in batches:
            pdf = b.to_pandas()
            payloads = [bytes(p) for p in pdf["payload"]]
            # explicit types: from_pandas infers null type for empty /
            # object columns (CLAUDE.md mapInArrow rule)
            yield pa.RecordBatch.from_arrays(
                [
                    # keyed builds carry the key as string; cast back
                    pa.array(pdf["key"].astype("int64").tolist(), type=pa.int64()),
                    pa.array(
                        [
                            round(HyperLogLog.from_bytes(p).estimate(), 2)
                            for p in payloads
                        ],
                        type=pa.float64(),
                    ),
                    pa.array([len(p) for p in payloads], type=pa.int64()),
                ],
                names=["user_id", "distinct_est", "wire_bytes"],
            )

    est = keyed.mapInArrow(
        stats, schema="user_id bigint, distinct_est double, wire_bytes bigint"
    )
    exact = ev.groupBy("user_id").agg(
        F.countDistinct("event_id").alias("distinct_exact")
    )
    return (
        exact.join(est, "user_id")
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("distinct_est") - F.col("distinct_exact"))
                / F.col("distinct_exact"),
                6,
            ),
        )
        .orderBy("user_id")
    )


def q_user_novelty_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact novelty curve — per day: active users, NEVER-seen-before
    users, cumulative distinct users. The exact form needs the
    min-first-day trick (one extra shuffle on user_id) and at 100 TB
    the 'distinct so far' recount this replaces is O(days x corpus);
    the HLL companion (q_user_novelty_hll) gets the same curve from
    one corpus scan + |days| sketch rows. Not registered; that
    companion joins it in."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    per_day = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    novel = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("n_new"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.join(novel, "day", "left")
        .withColumn("n_new", F.coalesce("n_new", F.lit(0)))
        .withColumn("cum_distinct", F.sum("n_new").over(w).cast("bigint"))
    )


_NOVELTY_HLL_ORACLE = f"""
WITH
ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(user_id AS UBIGINT) AS k
       FROM events),
{_hll_rows('nh', 'SELECT DISTINCT day, k FROM ev', 14, ', day')},
rg AS (SELECT day, idx, max(rank) AS r FROM nhr GROUP BY day, idx),
dl AS (SELECT DISTINCT day FROM rg),
pde AS ({_hll_est('rg', 'day')}),
cumr AS (SELECT d.day, r.idx, max(r.r) AS r FROM dl d
         JOIN rg r ON r.day <= d.day GROUP BY d.day, r.idx),
cume AS ({_hll_est('cumr', 'day')}),
curve AS (SELECT p.day, round(p.est, 2) AS est_period,
                 round(c.est, 2) AS est_cumulative,
                 round(c.est - COALESCE(lag(c.est) OVER (ORDER BY c.day), 0.0),
                       2) AS est_new
          FROM pde p JOIN cume c ON p.day = c.day),
daysx AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id FROM events),
firsts AS (SELECT user_id, min(day) AS first_day FROM daysx GROUP BY user_id),
per_day AS (SELECT day, count(DISTINCT user_id) AS n_active
            FROM daysx GROUP BY day),
novel AS (SELECT first_day AS day, count(*) AS n_new
          FROM firsts GROUP BY first_day),
exacts AS (SELECT p.day, p.n_active,
                  CAST(sum(COALESCE(n.n_new, 0)) OVER (ORDER BY p.day)
                       AS BIGINT) AS cum_distinct
           FROM per_day p LEFT JOIN novel n ON n.day = p.day)
SELECT e.day, e.n_active, e.cum_distinct, v.est_period, v.est_cumulative,
       v.est_new,
       round(abs(v.est_cumulative - e.cum_distinct), 2) AS cum_abs_err
FROM exacts e JOIN curve v ON e.day = v.day
"""


@register("q_user_novelty_hll", oracle=_NOVELTY_HLL_ORACLE)
def q_user_novelty_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL novelty curve (operators/novelty.py): per-day sketches from
    ONE corpus scan, prefix-merged in day order — est_new(i) =
    est(prefix_i) - est(prefix_{i-1}); register-max union means each
    prefix state IS the sketch of the true prefix union. Joined to the
    exact curve; abs_err columns pin accuracy in-row (rel bound pinned
    in tests/test_novelty.py). FULLY oracle-backed — the ESTIMATES
    hash-match too: the DuckDB oracle rebuilds the per-day registers
    bit-for-bit (splitmix64 + exact integer clz via functions/
    sqlhash.py), takes the same running register max for prefixes, and
    evaluates the same Flajolet estimator with linear-counting
    correction; the 2-dp rounding the curve already applies absorbs
    cross-engine last-ulp summation-order differences."""
    from .operators.novelty import novelty_curve

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
    )
    curve = novelty_curve(ev, "day", "user_id").withColumnRenamed(
        "period", "day"
    )
    exact = q_user_novelty_exact(spark, sf_dir).select(
        "day", "n_active", "cum_distinct"
    )
    return (
        exact.join(curve, "day")
        .withColumn(
            "cum_abs_err",
            F.round(F.abs(F.col("est_cumulative") - F.col("cum_distinct")), 2),
        )
        .orderBy("day")
    )


def q_ntok_quantiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE exact sequence-length quantiles — the keyed exact
    companion of q_kll_ntok_by_source, which joins it in (not
    registered on its own). Spark `percentile` and DuckDB
    `quantile_cont` share linear interpolation, so the keyed GROUP BY
    hash-matches. At 100 TB the exact form needs a full sort-per-group
    (percentile buffers every value); the sketch companion holds
    O(k log n) per group."""
    seq = sequences_from_documents(spark, sf_dir)
    return seq.groupBy("source").agg(
        F.round(F.expr("percentile(size(tokens), 0.5D)"), 6).alias("p50_exact"),
        F.round(F.expr("percentile(size(tokens), 0.95D)"), 6).alias("p95_exact"),
    )


@register(
    "q_kll_ntok_by_source",
    oracle=_SEQ_CTE
    + """
    SELECT source,
           round(CAST(quantile_cont(len(tokens), 0.5) AS DOUBLE), 6)
               AS p50_exact,
           round(CAST(quantile_cont(len(tokens), 0.95) AS DOUBLE), 6)
               AS p95_exact,
           1 AS p50_in_bound, 1 AS p95_in_bound
    FROM sequences GROUP BY source
    """,
)
def q_kll_ntok_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE KLL sequence-length quantiles, certified against the
    exact values — the keyed mergeable-quantile path (one sketch per
    source via map-side combine; sketch rows only shuffle). KLL is the
    one merge-order-DEPENDENT sketch in the repo (compaction coin
    order varies with partitioning), so its raw estimates can never
    hash-match a cross-engine oracle; instead the query emits the
    exact quantiles (hash-matched) plus in-bound FLAGS: the estimate
    must land between the exact quantile values at q ± 3x the
    published rank-error bound (2.296/k^0.9, k=200 — the same 3x
    margin q_ntok_percentile_kll pins). The oracle emits literal 1s,
    so any accuracy regression under ANY partitioning flips a flag and
    fails the driver's value hash."""
    from .operators.sketches import KllQuantiles
    from .sketch.kll import KLLSketch

    eps3 = 3.0 * KLLSketch(200).rank_error()
    seq = sequences_from_documents(spark, sf_dir).withColumn(
        "n_tok", F.size("tokens")
    )
    est = (
        KllQuantiles(k=200, col="n_tok")
        .quantiles_by_key(seq, "source", [0.5, 0.95])
        .groupBy("key")
        .pivot("q", [0.5, 0.95])
        .agg(F.first("value"))
        .select(
            F.col("key").alias("source"),
            F.col("`0.5`").alias("p50_est"),
            F.col("`0.95`").alias("p95_est"),
        )
    )
    bounds = seq.groupBy("source").agg(
        F.expr(f"percentile(size(tokens), {max(0.5 - eps3, 0.0)!r}D)").alias("lo50"),
        F.expr(f"percentile(size(tokens), {min(0.5 + eps3, 1.0)!r}D)").alias("hi50"),
        F.expr(f"percentile(size(tokens), {max(0.95 - eps3, 0.0)!r}D)").alias("lo95"),
        F.expr(f"percentile(size(tokens), {min(0.95 + eps3, 1.0)!r}D)").alias("hi95"),
    )
    exact = q_ntok_quantiles_by_source(spark, sf_dir)
    return (
        exact.join(est, "source")
        .join(bounds, "source")
        .select(
            "source",
            "p50_exact",
            "p95_exact",
            F.when(
                F.col("p50_est").between(F.col("lo50"), F.col("hi50")), 1
            ).otherwise(0).alias("p50_in_bound"),
            F.when(
                F.col("p95_est").between(F.col("lo95"), F.col("hi95")), 1
            ).otherwise(0).alias("p95_in_bound"),
        )
        .orderBy("source")
    )


@register("q_counting_bloom_revoke")
def q_counting_bloom_revoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETABLE membership — counting Bloom filter revocation
    (sketch/counting.py, operators/sketches.CountingBloomSketch):
    build the corpus filter AND the revoke-set filter (docs of one
    source) through the same mergeable partition-build + tree-merge
    pipeline, subtract ONCE driver-side on two payloads, then probe
    every doc distributed. Invariants surfaced in-row: zero false
    negatives for surviving docs (remaining_present == n_remaining),
    n_sticky == 0 (no counter saturated, so the deletion was exact),
    and revoked docs mostly gone (revoked_present small, FP-bounded).
    At 100 TB this is how DMCA/opt-out removal works WITHOUT
    rebuilding membership from the survivors. Rows-only: sketch-state
    semantics; algebra pinned in tests/test_counting.py."""
    from .operators.sketches import CountingBloomSketch
    from .sketch import CountingBloomFilter

    docs = load_table(spark, sf_dir, "documents").select(
        F.xxhash64("doc_id").alias("key"),
        (F.col("source") == F.lit("src1")).alias("revoked"),
    )
    sk = CountingBloomSketch.for_np(n=50_000, p=1e-6, col="key")
    corpus_payload, n_docs = sk.build_bytes(docs)
    revoke_payload, n_revoked = sk.build_bytes(docs.filter("revoked"))

    cbf = CountingBloomFilter.from_bytes(corpus_payload)
    n_sticky = cbf.subtract_in_place(
        CountingBloomFilter.from_bytes(revoke_payload)
    )
    probe = sk.might_contain_udf(cbf.to_bytes(), spark)
    flags = docs.withColumn("present", probe(F.col("key")))
    stats = flags.groupBy("revoked").agg(
        F.count("*").alias("n"),
        F.sum(F.col("present").cast("long")).alias("n_present"),
    ).collect()
    by = {bool(r.revoked): r for r in stats}
    return spark.createDataFrame(
        [
            (
                int(n_docs),
                int(n_revoked),
                int(by[False].n),
                int(by[False].n_present),
                int(by.get(True).n_present if True in by else 0),
                int(n_sticky),
                round(cbf.saturation_ratio(), 8),
            )
        ],
        "n_docs bigint, n_revoked bigint, n_remaining bigint, "
        "remaining_present bigint, revoked_present bigint, "
        "n_sticky bigint, saturation_ratio double",
    )


@register(
    "q_join_advisor",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
)
def q_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven join planning end to end (operators/advisor.py):
    ONE fused CMS+HLL+MG scan per side profiles the join key, the
    advisor picks the strategy (customer is the small side here, so
    broadcast — at 100 TB the decision that avoids shuffling the fact
    table entirely), execute_join applies it, and the joined aggregate
    hash-matches DuckDB's plain join: strategy choices can never change
    results, only physical shape. In-query gates: the advice IS
    broadcast_right, BroadcastHashJoin IS in the executed plan, and the
    CMS inner-product size estimate brackets the exact join size
    (every order has a valid customer, so exact = |orders|) within the
    published eps*Na*Nb cap."""
    import contextlib
    import io

    from .operators.advisor import advise_join, execute_join, profile_join_side
    from .sketch import CountMinSketch

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    pf = profile_join_side(orders.select("o_custkey"), "o_custkey")
    pd_ = profile_join_side(cust.select("o_custkey"), "o_custkey")
    adv = advise_join(pf, pd_, broadcast_rows=max(pd_.n_rows, 1))
    if adv.strategy != "broadcast_right":
        raise AssertionError(f"expected broadcast_right, got {adv.strategy}")
    eps, _delta = CountMinSketch.from_bytes(pf.cms_payload).error_bound()
    exact_out = pf.n_rows  # FK join: every order matches one customer
    if not exact_out <= adv.est_out_rows <= exact_out + eps * pf.n_rows * pd_.n_rows:
        raise AssertionError(f"join-size estimate out of bound: {adv}")
    joined = execute_join(orders, cust, "o_custkey", adv)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    if "BroadcastHashJoin" not in buf.getvalue():
        raise AssertionError("advised broadcast join did not broadcast")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(38,4)")).cast("double").alias("revenue"),
    )


@register(
    "q_inverted_index",
    oracle=_SEQ_CTE
    + """
    , pairs AS (
        SELECT doc_id, unnest(tokens) AS token FROM sequences
    ), per_doc AS (
        SELECT token, doc_id, count(*) AS tf FROM pairs GROUP BY token, doc_id
    ), idx AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               md5(string_agg(doc_id, ',' ORDER BY doc_id)) AS postings_md5
        FROM per_doc GROUP BY token HAVING count(*) >= 2
    )
    SELECT CAST(token AS BIGINT) AS token, df, cf, postings_md5
    FROM idx ORDER BY df DESC, token LIMIT 100
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/postings.py): per token the
    SORTED posting list (deterministic under any partitioning — a bare
    collect_list would be partition-ordered), df and cf, with rare
    tokens (df < 2) pruned BEFORE any list is collected (the map-side-
    combined df pass + broadcast semi-join keeps the heavy hapax tail
    out of collect_list memory — the 100-TB index build's cap). Posting
    MEMBERSHIP AND ORDER are pinned by md5 over the comma-joined list,
    hash-matched against DuckDB re-deriving identical lists."""
    from .operators.postings import posting_lists

    seq = sequences_from_documents(spark, sf_dir)
    idx = posting_lists(seq, min_df=2)
    return (
        idx.select(
            "token",
            "df",
            "cf",
            F.md5(F.concat_ws(",", F.col("postings"))).alias("postings_md5"),
        )
        .orderBy(F.desc("df"), "token")
        .limit(100)
    )


def _skewed_key_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> one BIGINT shuffle key per row, 80% collapsed onto
    key 7 (the numeric twin of q_salted_skew_build's 'head' key; cold
    keys offset past any doc_id so they never collide with 7)."""
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("long")
    return docs.select(
        F.when(did % 5 < 4, F.lit(7).cast("long"))
        .otherwise(did + F.lit(1_000_000))
        .alias("key")
    )


@register("q_key_skew_profile")
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven skew diagnosis (operators/skew.py): ONE corpus
    scan folds the key column into CountSketch (F2, sketch/ams.py) +
    HLL (ndv) + Misra-Gries (which keys are hot) via build_multi — only
    sketch rows shuffle, no key data ever concentrates — then emits the
    salting plan the salted build (q_salted_skew_build) would execute.
    In-query audit vs the exact Catalyst moments: F2 within 3x
    sqrt(2/w), ndv within 3x 1.04/sqrt(2^p), MG bounds bracket the true
    hot count, and the hot key is identified exactly. Merge algebra per
    the reference's axioms (mod.rs:621-761): the profile is partition-
    order invariant."""
    from .operators.skew import key_skew_profile

    keyed = _skewed_key_frame(spark, sf_dir)
    prof = key_skew_profile(keyed, "key", w=8192, mg_capacity=64)
    exact = (
        keyed.groupBy("key")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").alias("f1"),
            F.sum(F.col("c") * F.col("c")).alias("f2"),
            F.count(F.lit(1)).alias("ndv"),
            F.max_by("key", "c").alias("hot_key"),
            F.max("c").alias("hot_count"),
        )
        .collect()[0]
    )
    f2_rel = abs(prof.f2_est - exact["f2"]) / exact["f2"]
    ndv_rel = abs(prof.ndv_est - exact["ndv"]) / exact["ndv"]
    if f2_rel > 3 * prof.f2_rel_error:
        raise AssertionError(f"F2 estimate out of bound: rel err {f2_rel}")
    if ndv_rel > 3 * prof.ndv_rel_error:
        raise AssertionError(f"ndv estimate out of bound: rel err {ndv_rel}")
    if prof.n_rows != exact["f1"]:
        raise AssertionError("row count drifted between scan and exact job")
    top = prof.hot_keys[0]
    if top.key != exact["hot_key"] or not top.est <= exact["hot_count"] <= top.ub:
        raise AssertionError("MG hot-key bounds failed to bracket the truth")
    plan = prof.salting_plan(n_partitions=32)
    return spark.createDataFrame(
        [
            (
                int(prof.n_rows),
                int(prof.f2_est),
                round(float(f2_rel), 6),
                int(round(prof.ndv_est)),
                round(float(ndv_rel), 6),
                round(float(prof.uniformity_ratio), 3),
                int(top.key),
                round(float(top.share_ub), 6),
                int(plan.get(top.key, 0)),
            )
        ],
        schema=(
            "f1 bigint, f2_est bigint, f2_rel_err double, ndv_est bigint, "
            "ndv_rel_err double, uniformity_ratio double, hot_key bigint, "
            "hot_share_ub double, salt_fanout int"
        ),
    )


@register(
    "q_bloom_pruned_read",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey % 997 = 0
    """,
)
def q_bloom_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed FILE PRUNING (operators/pruning.py): lay orders out
    range-partitioned across 8 parquet files, build one Bloom sketch per
    FILE over o_orderkey (the user-controlled analogue of Iceberg /
    parquet row-group Bloom metadata, reusing checkpoint._file_sketches),
    then answer a point-lookup by reading ONLY the files whose filter
    might contain a probe key. Zero false negatives (reference contract
    mod.rs:199-228) make the pruned scan provably equal to the oracle's
    full-scan IN-filter — which is exactly what the hash check verifies.
    At 100 TB this turns a corpus-wide point lookup into a handful of
    file reads."""
    from .operators.pruning import bloom_file_index, bloom_pruned_read
    from .sketch import Shape

    orders = load_table(spark, sf_dir, "orders")
    scratch = _scratch_dir("prune")
    orders.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(scratch)
    laid = spark.read.parquet(scratch)
    # n sized for ~sf1 per-file counts; zero-FN holds regardless of n
    index = bloom_file_index(laid, Shape.for_np(250_000, 0.001), key_col="o_orderkey")
    keys = [
        r["o_orderkey"]
        for r in laid.filter(F.col("o_orderkey") % 997 == 0)
        .select("o_orderkey")
        .collect()
    ]
    rows, _files_read = bloom_pruned_read(
        spark, scratch, index, keys, key_col="o_orderkey"
    )
    return rows.select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "q_xor_pruned_read",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey % 17 = 3
          AND o_orderkey * 8 <= (SELECT max(o_orderkey) FROM orders)
    """,
)
def q_xor_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATIC xor-filter file pruning (sketch/xorfilter.py +
    operators/pruning.py::xor_file_index): the space-optimal static
    tier of the AMQ family — ~19.7 bits/key at FPR exactly 2^-16 vs a
    Bloom row's 23.1 bits/key at the same p, built once per file by
    hypergraph peeling (Graf & Lemire 2020) and immutable after. Same
    index schema as the Bloom file index, so prune_files/
    bloom_pruned_read run unchanged via magic dispatch. The probe keys
    sit in the LOW o_orderkey band of a range-partitioned layout, so
    the index actually skips files; zero FN (reference contract
    mod.rs:199-228 — here by construction of the xor identity) makes
    the pruned scan hash-equal to the oracle's full-scan filter."""
    from .operators.pruning import bloom_pruned_read, xor_file_index

    orders = load_table(spark, sf_dir, "orders")
    scratch = _scratch_dir("xorprune")
    orders.repartitionByRange(8, "o_orderkey").write.mode("overwrite").parquet(scratch)
    laid = spark.read.parquet(scratch)
    index = xor_file_index(laid, key_col="o_orderkey")
    hi = laid.agg(F.max("o_orderkey").alias("m")).collect()[0]["m"]
    keys = [
        r["o_orderkey"]
        for r in laid.filter(
            (F.col("o_orderkey") % 17 == 3) & (F.col("o_orderkey") * 8 <= hi)
        )
        .select("o_orderkey")
        .collect()
    ]
    rows, _files_read = bloom_pruned_read(
        spark, scratch, index, keys, key_col="o_orderkey"
    )
    return rows.select("o_orderkey", "o_custkey", "o_totalprice")


@register("q_streaming_bloom_dedup")
def q_streaming_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming dedup (streaming/dedup.py): one Bloom
    payload per fingerprint shard as applyInPandasWithState state —
    total state is n_shards x filter bytes FOREVER, vs dropDuplicates'
    one-state-row per distinct key (the difference at 10^12 docs).
    Invariants surfaced in-row against the exact batch answer:
    n_dup_emissions == 0 (zero FN — an admitted fingerprint is never
    emitted again) and n_wrongly_dropped small (FP-bounded, configured
    p=1e-8 over ~476 keys). Rows-only: sketch-state semantics; the
    keep-first contract is pinned in tests/test_streaming_dedup.py."""
    import uuid

    from .streaming import streaming_bloom_dedup

    docs, stream = _stream_fp_source(spark, sf_dir)
    out = streaming_bloom_dedup(stream, fp_col="fp", n_total=5_000, p=1e-8, n_shards=4)
    name = "rbf_sbloom_dedup_" + uuid.uuid4().hex[:8]
    ckpt = _scratch_dir("sbdedup_ckpt")
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    emitted = spark.table(name)
    exact = docs.select("fp").distinct()
    n_emitted = emitted.count()
    n_dup_emissions = n_emitted - emitted.distinct().count()
    n_exact = exact.count()
    n_wrongly_dropped = n_exact - exact.join(emitted, "fp", "left_semi").count()
    return spark.createDataFrame(
        [(int(docs.count()), int(n_exact), int(n_emitted),
          int(n_dup_emissions), int(n_wrongly_dropped))],
        "n_in bigint, n_distinct_exact bigint, n_emitted bigint, "
        "n_dup_emissions bigint, n_wrongly_dropped bigint",
    )


@register(
    "q_embedding_gram",
    oracle="""
        -- exact corpus Gram, upper triangle; constant series indexes the
        -- fixed 64-dim vectors (DuckDB v1.0 lacks WITH ORDINALITY). The
        -- +0 after round() normalizes -0.0 on both engines.
        SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
               round(sum(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
                         * CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE)), 6) + 0 AS g
        FROM embeddings
        CROSS JOIN generate_series(0, 63) t(i)
        CROSS JOIN generate_series(0, 63) u(j)
        WHERE i <= j AND embedding IS NOT NULL AND len(embedding) = 64
        GROUP BY 1, 2
    """,
)
def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact one-pass distributed Gram/covariance of the embedding
    corpus (operators/spectral.py::embedding_gram): each task folds its
    Arrow batches through one BLAS X^T X into a d x d accumulator;
    only d x d payloads shuffle (tree merge), so the plan is
    corpus-size-independent past the scan. The upper-triangle frame is
    d(d+1)/2 rows — bounded by embedding WIDTH, never corpus size.
    Products/sums in float64 on both engines, round-6 per the
    cross-engine float convention."""
    from .operators.spectral import embedding_gram

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_gram(emb, 64)


@register("q_embedding_spectrum")  # estimates: rows-only + in-row bound audit
def q_embedding_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-16 spectrum of the corpus Gram via Frequent Directions
    (sketch/freqdirs.py — Misra-Gries lifted to matrices), self-audited
    in-row against the exact Gram eigenvalues: the FD sandwich plus
    Weyl's inequality certify 0 <= exact - est <= delta per component,
    and the `in_bound` column witnesses it for the driver's rows-only
    check. ell*d state (vs d^2 exact) is the scale path when d^2
    outgrows a task."""
    from .operators.spectral import embedding_spectrum

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_spectrum(emb, ell=16, dim=64)


@register(
    "q_collocations_pmi",
    oracle=_SEQ_CTE
    + """
    , pairs AS (
        SELECT pair // 50261 AS left_tok, pair % 50261 AS right_tok,
               count(*) AS pair_freq
        FROM (SELECT unnest(list_transform(range(len(tokens) - 1),
                  i -> CAST(tokens[i+1] AS BIGINT) * 50261 + tokens[i+2])) AS pair
              FROM sequences WHERE len(tokens) >= 2) t
        GROUP BY 1, 2 HAVING count(*) >= 5
    ), uni AS (
        SELECT tok, count(*) AS uni_freq
        FROM (SELECT unnest(tokens) AS tok FROM sequences) u GROUP BY tok
    ), totals AS (
        SELECT CAST(sum(len(tokens)) AS BIGINT) AS n_tokens,
               CAST(sum(greatest(len(tokens) - 1, 0)) AS BIGINT) AS n_pairs
        FROM sequences
    )
    SELECT left_tok, right_tok, pair_freq,
           round(ln(CAST(pair_freq AS DOUBLE) * n_tokens * n_tokens
                    / (CAST(n_pairs AS DOUBLE) * l.uni_freq * r.uni_freq)),
                 6) AS pmi
    FROM pairs
    JOIN uni l ON l.tok = left_tok
    JOIN uni r ON r.tok = right_tok
    CROSS JOIN totals
    ORDER BY pmi DESC, left_tok, right_tok LIMIT 50
    """,
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (operators/collocations.py): top-50
    adjacent token pairs by pointwise mutual information among pairs
    seen >= 5 times — the association statistic that surfaces
    boilerplate phrases and tokenizer-merge candidates raw frequency
    misses. One corpus scan, two map-side-combined hash aggregates
    (pair counts bounded by distinct adjacent pairs, unigrams bounded
    by vocab); unigrams and totals broadcast, so nothing reshuffles
    with corpus size. Integer counts until the final single ln(),
    rounded 6 dp both engines; the top-50 cut orders by the ROUNDED
    pmi so the limit boundary is reproducible cross-engine."""
    from .operators.collocations import pmi_collocations

    seq = sequences_from_documents(spark, sf_dir)
    return pmi_collocations(seq, min_count=5, top_n=50)


@register(
    "q_sliding_distinct",
    oracle="""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, user_id FROM events
    ), d AS (SELECT DISTINCT day FROM ev)
    SELECT strftime(d.day, '%Y-%m-%d') AS day,
           count(DISTINCT e.user_id) AS distinct_ids
    FROM d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
    GROUP BY 1
    """,
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day active users per observed day
    (operators/sliding.py::sliding_distinct_exact). Distinct counts
    don't subtract, so the scalable exact plan expands each event
    map-side into the <=7 window days it reaches — one shuffle of
    (window_day, user) pairs, map-side-deduplicated, never a per-day
    recount of the trailing corpus. Hash-matched vs DuckDB's
    range-join formulation; the HLL companion
    (q_sliding_distinct_hll) gets the same curve from one scan plus
    |days| sketch rows."""
    from .operators.sliding import sliding_distinct_exact

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    return sliding_distinct_exact(ev, "day", "user_id", days=7)


@register("q_sliding_distinct_hll")  # estimate: rows-only + in-row audit
def q_sliding_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day actives from per-day HLL sketches
    (operators/sliding.py::sliding_distinct_hll): ONE corpus scan
    builds a sketch per day; every window is a payload merge over <=7
    sketch ROWS — the production "N-day actives" pattern where window
    length never changes scan count. Register-max union is exact on
    states, so each window keeps the plain 1.04/sqrt(2^p) bound;
    in-row audit joins the exact companion and witnesses rel_err
    within 3x the bound for the driver's rows-only check."""
    from .operators.sliding import sliding_distinct_exact, sliding_distinct_hll

    p = 14
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    est = sliding_distinct_hll(ev, "day", "user_id", days=7, p=p)
    exact = sliding_distinct_exact(ev, "day", "user_id", days=7)
    bound = 3 * 1.04 / (2.0**p) ** 0.5
    return (
        exact.join(est, "day")
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("distinct_est") - F.col("distinct_ids"))
                / F.col("distinct_ids"),
                6,
            ),
        )
        .withColumn("in_bound", F.col("rel_err") <= F.lit(bound))
        .orderBy("day")
    )


@register("q_bigram_lm_cms")  # estimate: rows-only + in-row audit
def q_bigram_lm_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scores from broadcast count-min payloads
    (operators/lm.py) — the sketch-replaces-table form of
    q_bigram_lm_scores: the corpus bigram table (vocab²-bounded,
    billions of rows at 100 TB, an unavoidable shuffle-merge join in
    the exact plan) collapses to two ~5 MiB CMS payloads broadcast to
    a map-only vectorized scorer; nothing corpus-scale shuffles.
    In-row audit joins the exact companion per doc: abs_err carries
    the CMS count-overestimate drift (<= ln(1+eps·N/(c+1)) per pair,
    eps = 2/w). On this corpus the distinct pair set (~vocab'^2 for
    the small generator vocab) 5-row-collides with P~1e-9, so scores
    are exactly equal — in_bound gates abs_err <= 1e-3 with that
    margin documented, not assumed."""
    from .operators.dedup import bigram_lm_scores
    from .operators.lm import bigram_lm_scores_cms

    seq = sequences_from_documents(spark, sf_dir)
    exact = bigram_lm_scores(seq)
    est = bigram_lm_scores_cms(seq)
    return (
        exact.join(est, ["doc_id", "n_pairs"])
        .withColumn(
            "abs_err", F.round(F.abs(F.col("lm_score_cms") - F.col("lm_score")), 6)
        )
        .withColumn("in_bound", F.col("abs_err") <= 1e-3)
        .orderBy("doc_id")
    )


@register(
    "q_token_shift_exact",
    oracle=_SEQ_CTE
    + """
    SELECT tok, freq_a, freq_b, freq_a - freq_b AS diff
    FROM (
        SELECT tok,
               CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS freq_a,
               CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS freq_b
        FROM (SELECT source, unnest(tokens) AS tok FROM sequences
              WHERE source IN ('src0', 'src1')) t
        GROUP BY tok
    )
    ORDER BY abs(freq_a - freq_b) DESC, tok LIMIT 50
    """,
)
def q_token_shift_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-distribution shift ledger between two sources
    (operators/shift.py::token_shift_exact): top-50 tokens by
    |c_src0 - c_src1|. One pruned scan (the source IN-filter pushes to
    the file scan), one vocab-bounded conditional aggregate — the
    'what exactly changed between slices' companion to the KL-style
    q_source_token_drift. Hash-matched (integer counts, total order
    abs-desc then tok)."""
    from .operators.shift import token_shift_exact

    seq = sequences_from_documents(spark, sf_dir)
    return token_shift_exact(seq, "source", "src0", "src1", k=50)


@register("q_token_shift_cs")  # estimate: rows-only + in-row audit
def q_token_shift_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token shift from a CountSketch DIFFERENCE
    (operators/shift.py::token_shift_topk_cs): CountSketch is a linear
    map of the frequency vector, so sketch(A) - sketch(B)
    (sketch/ams.py::CountSketch.subtract) IS the sketch of the signed
    difference stream — the query sign-less summaries cannot express.
    One fused CountSketch+Misra-Gries scan per side, sketch rows only
    on the shuffle; candidates carry the MG provable-superset
    guarantee (every token with |shift| > max(N_a,N_b)/(cap+1)
    surfaces). In-row audit joins the exact counts: abs_err vs the
    3-sigma CountSketch bound carried per row as err_bound."""
    from .operators.shift import token_shift_exact, token_shift_topk_cs

    seq = sequences_from_documents(spark, sf_dir)
    est = token_shift_topk_cs(seq, "source", "src0", "src1", k=50)
    exact_all = (
        seq.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
            .cast("bigint")
            .alias("freq_a"),
            F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
            .cast("bigint")
            .alias("freq_b"),
        )
        .withColumn("diff_exact", F.col("freq_a") - F.col("freq_b"))
        .select("tok", "diff_exact")
    )
    return (
        est.join(exact_all, "tok", "left")
        .withColumn("diff_exact", F.coalesce(F.col("diff_exact"), F.lit(0)))
        .withColumn("abs_err", F.abs(F.col("diff_est") - F.col("diff_exact")))
        .withColumn("in_bound", F.col("abs_err") <= F.col("err_bound"))
        .orderBy(F.abs(F.col("diff_est")).desc(), "tok")
    )


@register("q_ntok_percentile_kll")  # estimate: rows-only + in-row audit
def q_ntok_percentile_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank normalization from a broadcast KLL payload
    (operators/percentiles.py::percentile_normalize) — the quality-
    pipeline primitive 'drop the bottom p% by X' WITHOUT the global
    sort the exact cume_dist needs: one mergeable-sketch scan (sketch
    rows only on the shuffle) + one map-only annotate pass. KLL bounds
    RANK error directly — exactly the emitted quantity — so the in-row
    audit gates abs_err <= 3x the published rank error uniformly, at
    every value, not just at pinned quantiles."""
    from .operators.percentiles import percentile_normalize
    from .sketch import KLLSketch

    k = 200
    seq = sequences_from_documents(spark, sf_dir).select("doc_id", "n_tok")
    est = percentile_normalize(seq, "n_tok", k=k)
    exact = seq.select(
        "doc_id", F.cume_dist().over(Window.orderBy("n_tok")).alias("pct_exact")
    )
    bound = 3 * KLLSketch(k).rank_error()
    return (
        est.join(exact, "doc_id")
        .withColumn(
            "abs_err", F.round(F.abs(F.col("pct_est") - F.col("pct_exact")), 6)
        )
        .withColumn("in_bound", F.col("abs_err") <= F.lit(bound))
        .select("doc_id", "n_tok", F.round("pct_est", 6).alias("pct_est"),
                F.round("pct_exact", 6).alias("pct_exact"), "abs_err", "in_bound")
        .orderBy("doc_id")
    )


@register("q_streaming_sliding_distinct")  # estimate: rows-only + audit
def q_streaming_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trailing-window actives in the driver contract
    (streaming/stateful.py::windowed_sliding_distinct): per event type,
    the distinct users over the trailing FIVE 1-week event-time
    windows — live "35-day actives" — with cross-window HLL payloads as
    applyInPandasWithState group state (O(2·trailing·2^p) per key,
    stream-length-independent). The events table replays as 3
    micro-batches; the operator's acceptance horizon guarantees no
    re-emission is ever a degraded merge, so each (key, window)'s LAST
    emission is the final state. In-row audit joins the exact batch
    trailing distinct (map-side window expansion, the
    q_sliding_distinct plan shape): rel_err within 3x the HLL bound.
    trailing=5 is sized so the 5-week event span (all SFs) fits the
    trailing-window ACCEPTANCE horizon — the replay is unordered, and
    a row arriving more than `trailing` windows behind the newest seen
    would otherwise be dropped under the documented lateness bound
    (correct for a stream, a miscount for this replay)."""
    from .streaming.stateful import windowed_sliding_distinct

    p = 14
    trailing = 5
    week = 604800
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id"
    )
    src = _scratch_dir("slide_src")
    ev.repartition(3).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = windowed_sliding_distinct(
        stream,
        key_col="event_type",
        ts_col="ts",
        value_col="user_id",
        window="1 week",
        trailing=trailing,
        p=p,
    )
    emissions: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():  # rows per active (key, window): tiny
            emissions.append((batch_id, r))

    ckpt = _scratch_dir("slide_ckpt")
    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    last: dict = {}
    for bid, r in emissions:
        key = (r["key"], int(r["window_start"].timestamp()))
        if key not in last or bid >= last[key][0]:
            last[key] = (bid, float(r["trailing_est"]))
    est = spark.createDataFrame(
        [(k, w, round(e, 2)) for (k, w), (_, e) in sorted(last.items())],
        "event_type string, window_epoch bigint, trailing_est double",
    )
    # exact batch companion: expand each event into the trailing
    # windows it reaches, one (window, key) distinct aggregate
    base = ev.select(
        "event_type",
        "user_id",
        (
            (F.col("ts").cast("timestamp").cast("long") / week).cast("long") * week
        ).alias("w0"),
    )
    expanded = base.select(
        "event_type",
        "user_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(trailing - 1))
        ).alias("i"),
        "w0",
    ).select(
        "event_type", "user_id", (F.col("w0") + F.col("i") * week).alias("window_epoch")
    )
    observed = base.select("event_type", F.col("w0").alias("window_epoch")).distinct()
    exact = (
        expanded.join(observed, ["event_type", "window_epoch"], "left_semi")
        .groupBy("event_type", "window_epoch")
        .agg(F.countDistinct("user_id").alias("distinct_exact"))
    )
    bound = 3 * 1.04 / (2.0**p) ** 0.5
    return (
        exact.join(est, ["event_type", "window_epoch"])
        .withColumn(
            "rel_err",
            F.round(
                F.abs(F.col("trailing_est") - F.col("distinct_exact"))
                / F.col("distinct_exact"),
                6,
            ),
        )
        .withColumn("in_bound", F.col("rel_err") <= F.lit(bound))
        .orderBy("event_type", "window_epoch")
    )


# ===========================================================================
# Round-4 continuation II: Bloom shape planning onward
# ===========================================================================


@register(
    "q_bloom_shape_plan",
    oracle=_SEQ_CTE
    + """
    , nd AS (SELECT source, count(DISTINCT tok) AS ndv
             FROM (SELECT source, unnest(tokens) AS tok FROM sequences) u
             GROUP BY source),
    p1 AS (SELECT source, CAST(ndv AS BIGINT) AS ndv,
                  CAST(ceil(ndv * 19.170116754734877e0) AS BIGINT) AS m
           FROM nd),
    p2 AS (SELECT *,
                  CAST(LEAST(64, GREATEST(1,
                       CAST(round((m / CAST(ndv AS DOUBLE))
                                  * 0.6931471805599453e0) AS BIGINT)))
                       AS BIGINT) AS k
           FROM p1),
    p3 AS (SELECT *, (m + 63) // 64 AS buckets FROM p2),
    p4 AS (SELECT *, buckets * 8 AS filter_bytes FROM p3)
    SELECT source, ndv, m, k,
           CAST(buckets AS BIGINT) AS buckets,
           CAST(filter_bytes AS BIGINT) AS filter_bytes,
           CAST((filter_bytes + 4096 - 1) // 4096 AS BIGINT) AS n_shards,
           round(pow(1.0e0 - exp(-(k * CAST(ndv AS DOUBLE)) / m), k), 6)
               AS expected_fpp
    FROM p4
    """,
)
def q_bloom_shape_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Shape math (mod.rs:85-132) as a distributed
    planning pass (operators/planning.py): per-source optimal
    m = ceil(-n ln p/(ln 2)^2), k = clamp(round((m/n) ln 2), 1, 64),
    dense width, and the routed-build shard fan-out for a 4 KiB/task
    budget — a plan frame, not a driver loop, so it holds for 10^6
    groups. Transcendental constants are folded in Python and inlined
    as double literals on BOTH engines, so the ceil/round integers are
    bitwise-reproducible. Hash-matched on the exact-ndv feed; the
    100-TB feed (HLL estimates from the same machinery the profile
    scan uses) is audited in-query: per source the HLL estimate must
    sit within 4x its published rel error of the exact ndv, which
    bounds the planned m by the same factor (m is linear in n)."""
    from .operators.planning import plan_from_exact
    from .operators.sketches import HllSketch
    from .sketch import HyperLogLog

    seq = sequences_from_documents(spark, sf_dir)
    toks = seq.select("source", F.explode("tokens").alias("tok"))
    plan = plan_from_exact(toks, "tok", "source", p=1e-4, shard_budget_bytes=4096)

    hll_p = 14
    keyed = HllSketch(p=hll_p, col="tok", scalar=True).build_by_key(toks, "source")
    est = {
        r["key"]: HyperLogLog.from_bytes(bytes(r["payload"])).estimate()
        for r in keyed.select("key", "payload").collect()  # sketch rows only
    }
    bound = 4.0 * 1.04 / (2.0**hll_p) ** 0.5
    for r in plan.select("source", "ndv").collect():  # k-bounded (|sources|)
        n_hll = est[str(r["source"])]
        if abs(n_hll - r["ndv"]) > bound * r["ndv"] + 1:
            raise AssertionError(
                f"HLL plan feed for {r['source']}: est {n_hll} vs exact "
                f"{r['ndv']} outside 4x bound"
            )
    return plan


def _stream_events_ordered(spark: SparkSession, sf_dir: str, n_files: int = 4):
    """Events replayed as TIME-ORDERED micro-batches (file mtimes set
    the FileStreamSource order): recency-scoped operators need arrival
    to roughly follow event time — a random split would teleport the
    acceptance horizon to the stream's end in batch 1 and clamp
    everything (the generational dedup handles that correctly, but the
    query's re-admittance gate would then be vacuous)."""
    import glob
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.col("user_id").cast("string").alias("fp")
    )
    bounds = ev.agg(
        F.min(F.col("ts").cast("timestamp").cast("double")).alias("lo"),
        F.max(F.col("ts").cast("timestamp").cast("double")).alias("hi"),
    ).collect()[0]
    src = _scratch_dir("gen_dedup_src")
    os.makedirs(src, exist_ok=True)
    span = (bounds["hi"] - bounds["lo"]) or 1.0
    for i in range(n_files):
        lo = bounds["lo"] + span * i / n_files
        hi = bounds["hi"] + 1 if i == n_files - 1 else bounds["lo"] + span * (i + 1) / n_files
        part_dir = _scratch_dir(f"gen_dedup_part{i}")
        sec = F.col("ts").cast("timestamp").cast("double")  # NTZ: via timestamp
        ev.where((sec >= lo) & (sec < hi)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        (f,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copy(f, dst)
        # explicit increasing mtimes pin micro-batch order with no
        # wall-clock sleep (review fix: 3 helpers x 4 files x 1.1s of
        # pure latency per contract run, gone)
        os.utime(dst, (_T0 + i, _T0 + i))
    stream = (
        spark.readStream.schema("ts timestamp, fp string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return ev, stream


_SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 hours


def _stream_sessions_ordered(spark: SparkSession, sf_dir: str, n_files: int = 4):
    """Events as (user_id, ts_us) TIME-ORDERED micro-batches for the
    streaming sessionizer (cross-batch event-time order per key is the
    operator's arrival contract; see _stream_events_ordered)."""
    import glob
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    bounds = ev.agg(F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")).collect()[0]
    src = _scratch_dir("sess_src")
    os.makedirs(src, exist_ok=True)
    span = (bounds["hi"] - bounds["lo"]) or 1
    for i in range(n_files):
        lo = bounds["lo"] + span * i // n_files
        hi = bounds["hi"] + 1 if i == n_files - 1 else bounds["lo"] + span * (i + 1) // n_files
        part_dir = _scratch_dir(f"sess_part{i}")
        ev.where((F.col("ts_us") >= lo) & (F.col("ts_us") < hi)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        (f,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copy(f, dst)
        # explicit increasing mtimes pin micro-batch order with no
        # wall-clock sleep (review fix: 3 helpers x 4 files x 1.1s of
        # pure latency per contract run, gone)
        os.utime(dst, (_T0 + i, _T0 + i))
    return (
        spark.readStream.schema("user_id bigint, ts_us bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@register(
    "q_streaming_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ), marked AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER w IS NULL
                  OR us - lag(us) OVER w > {_SESSION_GAP_US} THEN 1
                  ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ), sess AS (
      SELECT user_id, us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY us
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(make_timestamp(min(us)), '%Y-%m-%d %H:%M:%S.%f')
             AS session_start,
           strftime(make_timestamp(max(us)), '%Y-%m-%d %H:%M:%S.%f')
             AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based sessionization, HASH-MATCHED against the
    batch lag-window SQL (streaming/sessions.py::streaming_sessionize):
    the events stream replayed as 4 time-ordered micro-batches through
    applyInPandasWithState holding only the OPEN session per user (O(1)
    state, stream-length-independent — the batch form needs the whole
    per-user history under a sort). Sessions closed by a batch emit
    finally; the open session emits a monotone snapshot per batch, and
    the post-replay reduction (last emission per (user, start) wins)
    reconstructs exactly the batch result. Timestamps travel as BIGINT
    microseconds (unix_micros == epoch_us on the same parquet values)
    and render as wall-clock strings, so the hash is tz-robust."""
    import uuid

    from .streaming.sessions import finalize_sessions, streaming_sessionize

    stream = _stream_sessions_ordered(spark, sf_dir)
    out = streaming_sessionize(
        stream, key_col="user_id", ts_us_col="ts_us", gap_us=_SESSION_GAP_US
    )
    name = "rbf_sessionize_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    final = finalize_sessions(spark.table(name))
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return final.select(
        "user_id",
        F.date_format(F.timestamp_micros(F.col("session_start_us")), fmt).alias(
            "session_start"
        ),
        F.date_format(F.timestamp_micros(F.col("session_end_us")), fmt).alias(
            "session_end"
        ),
        "n_events",
    ).orderBy("user_id", "session_start")


@register("q_streaming_generational_dedup")
def q_streaming_generational_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECENCY-scoped bounded-state streaming dedup
    (streaming/dedup.py::streaming_bloom_dedup_generational): one Bloom
    filter per event-time generation per shard, rotating as event time
    advances — total state n_shards x 2G x filter bytes FOREVER, and
    unlike q_streaming_bloom_dedup a fingerprint is RE-ADMITTED once
    its generation leaves the trailing horizon (re-posts after a quiet
    period are new documents again). In-query gates pin the published
    guarantees on the replayed events stream (user_id as fingerprint,
    2-day windows, G=2): (1) no fp ever emitted twice within the same
    generation, (2) consecutive emissions per fp are >= (G+1) windows
    apart — the any-arrival-order floor the slot arithmetic proves,
    (3) every distinct fp is emitted at least once (p=1e-8: zero
    FP-suppression expected at 150 keys), (4) re-admittance actually
    happens (> 0 fps emitted more than once over the 30-day span).
    Rows-only: emission timing is stateful-replay semantics, not
    SQL-derivable."""
    import uuid

    from .streaming import streaming_bloom_dedup_generational

    G, win_days = 2, 2
    ev, stream = _stream_events_ordered(spark, sf_dir)
    out = streaming_bloom_dedup_generational(
        stream,
        fp_col="fp",
        ts_col="ts",
        window=f"{win_days} days",
        generations=G,
        n_per_gen=2_000,
        p=1e-8,
        n_shards=4,
    )
    name = "rbf_gen_dedup_" + uuid.uuid4().hex[:8]
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("gen_dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    emitted = spark.table(name)

    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("gen")
    gaps = emitted.withColumn("prev", F.lag("gen").over(w)).withColumn(
        "gap_sec",
        F.col("gen").cast("double") - F.col("prev").cast("double"),
    )
    n_gap_violations = gaps.where(
        F.col("prev").isNotNull()
        & (F.col("gap_sec") < (G + 1) * win_days * 86400)
    ).count()
    n_dup_same_gen = emitted.count() - emitted.distinct().count()
    n_fp = ev.select("fp").distinct().count()
    n_missing = n_fp - emitted.select("fp").distinct().count()
    n_readmitted = (
        emitted.groupBy("fp").count().where(F.col("count") > 1).count()
    )
    if n_gap_violations or n_dup_same_gen or n_missing:
        raise AssertionError(
            f"generational dedup invariants violated: gap={n_gap_violations} "
            f"dup={n_dup_same_gen} missing={n_missing}"
        )
    if n_readmitted == 0:
        raise AssertionError("no re-admittance over a 30-day recurring stream")
    return spark.createDataFrame(
        [(
            int(ev.count()), int(n_fp), int(emitted.count()),
            int(n_readmitted), int(n_missing), int(n_gap_violations),
            int(n_dup_same_gen),
        )],
        "n_in bigint, n_fp bigint, n_emitted bigint, n_readmitted bigint, "
        "n_missing bigint, n_gap_violations bigint, n_dup_same_gen bigint",
    )


@register(
    "q_bloom_anti_join",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey
                        AND c.c_acctbal > 9000)
    """,
)
def q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-accelerated ANTI join (operators/bloomjoin.py): orders
    whose customer is NOT in the high-balance set. Zero FN flipped
    around — a negative probe proves absence, so ~90% of orders BYPASS
    the exact join entirely; only true matches + an FP fraction <= p
    pay for verification, and the exact LEFT ANTI kills the FPs, so
    the result is provably the plain anti join (the oracle). The
    100-TB shape of NOT IN (revoked set / previous snapshot / opt-out
    list): the filter broadcasts in O(bytes) even when the build
    side's rows can't. FP-bounded candidate fraction pinned in
    tests/test_bloomjoin.py."""
    from .operators.bloomjoin import bloom_anti_join

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    rich = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000
    )
    return bloom_anti_join(orders, "o_custkey", rich, "c_custkey", p=1e-3)


@register(
    "q_bloom_inner_join",
    oracle="""
    SELECT o.o_orderpriority, l.l_returnflag,
           count(*) AS n_items,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1, 2
    """,
)
def q_bloom_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral Bloom join (operators/bloomjoin.py::bloom_inner_join,
    Mackert & Lohman 1986's filter shipping in broadcast form):
    lineitem ⋈ urgent orders with BOTH sides pruned by the other's
    filter before any row shuffles — ~80% of lineitem rows (non-urgent
    orders' items) drop at the scan; both filters are built from the
    original sides (building from a pruned side would re-run its
    pruned plan twice — review finding). Zero FN ⇒
    the pruned join aggregate is bitwise the plain join (the oracle);
    FPs ride along and die in the exact join. The 100-TB fact⋈fact
    shape where neither side broadcasts as rows but both filters do."""
    from .operators.bloomjoin import bloom_inner_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey", "o_orderpriority")
    joined = bloom_inner_join(li, "l_orderkey", urgent, "o_orderkey", p=1e-3)
    return joined.groupBy("o_orderpriority", "l_returnflag").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,4)"))
        .cast("double")
        .alias("revenue"),
    )


_DDQ_ORACLE = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p50_exact,
       max(CASE WHEN rn = CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p99_exact,
       1 AS p50_in_bound, 1 AS p99_in_bound
FROM ranked GROUP BY event_type
"""


@register("q_value_quantiles_dd", oracle=_DDQ_ORACLE)
def q_value_quantiles_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIVE-error quantiles per event type via DDSketch
    (sketch/ddsketch.py, operators/sketches.DDQuantiles) — the
    tail-precision companion to the KLL rank-error path: at p99 of a
    heavy-tailed value column the estimate is within alpha*|x| of the
    true item, where KLL's rank eps blurs by the inverse tail density.
    Audit is STRICT: the exact side is the item at the same rank
    floor(q*(n-1)) DDSketch targets (window row_number, no collect),
    so in_bound asserts rel_err <= alpha with no interpolation slack.
    DDSketch's bucket counts are a pure function of the input multiset
    — canonical bytes under ANY partitioning (the reference's
    Bloom-merge bitwise contract, mod.rs:621-761, extended to
    quantiles) — so the distributed build equals a single-node build
    exactly. At 100 TB: one scan, O(buckets)-sized sketch rows are the
    only shuffle for the estimate side. Oracle-backed (r5) via the
    bound-flag pattern: exact rank-item values hash-match and the
    strict rel_err <= alpha audit becomes the flag the oracle pins at
    literal 1 (DDSketch bucket indexing rides float log, so rendering
    the estimate itself cross-engine would be boundary-fragile —
    flags are robust)."""
    from .operators.sketches import DDQuantiles

    alpha = 0.01
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    qs = [0.5, 0.99]

    est = (
        DDQuantiles(alpha, col="value")
        .quantiles_by_key(ev, "event_type", qs)
        .groupBy("key")
        .pivot("q", qs)
        .agg(F.first("value"))
        .select(
            F.col("key").alias("event_type"),
            F.col("`0.5`").alias("p50_dd"),
            F.col("`0.99`").alias("p99_dd"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    exact = (
        ranked.filter(
            (F.col("rn") == F.floor(F.lit(0.5) * (F.col("n") - 1)) + 1)
            | (F.col("rn") == F.floor(F.lit(0.99) * (F.col("n") - 1)) + 1)
        )
        .withColumn(
            "which",
            F.when(
                F.col("rn") == F.floor(F.lit(0.5) * (F.col("n") - 1)) + 1, "p50"
            ).otherwise("p99"),
        )
        .groupBy("event_type")
        .pivot("which", ["p50", "p99"])
        .agg(F.first("value"))
        .select(
            "event_type",
            F.col("p50").alias("p50_exact"),
            F.col("p99").alias("p99_exact"),
        )
    )
    return (
        exact.join(est, "event_type")
        .withColumn(
            "p50_rel_err",
            F.round(F.abs(F.col("p50_dd") - F.col("p50_exact")) / F.abs("p50_exact"), 6),
        )
        .withColumn(
            "p99_rel_err",
            F.round(F.abs(F.col("p99_dd") - F.col("p99_exact")) / F.abs("p99_exact"), 6),
        )
        .select(
            "event_type",
            "p50_exact",
            "p99_exact",
            (F.col("p50_rel_err") <= alpha).cast("int").alias("p50_in_bound"),
            (F.col("p99_rel_err") <= alpha).cast("int").alias("p99_in_bound"),
        )
        .orderBy("event_type")
    )


@register("q_streaming_late_audit")
def q_streaming_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-DATA accounting (streaming/metrics.py::progress_drop_stats):
    a watermark is a contract to DROP data, and the only record of how
    much is the per-batch numRowsDroppedByWatermark counter — this
    query reads it. The stateful operator is dropDuplicates, chosen
    deliberately: its state rows are INPUT rows, so the counter is an
    exact late-row count (under a windowed aggregation the same
    counter counts post-partial-aggregation STATE rows — one per
    late window, not one per late row — a measured trap this query's
    docstring is the record of). Three micro-batches: two in time
    order, then a batch of planted stragglers a full 7 hours behind
    the advanced watermark. Rows-only with in-query gates: dropped ==
    planted, emitted == on-time, and emitted + dropped == input
    (exact conservation — dedup state never holds rows back)."""
    import datetime as dt
    import glob
    import os
    import shutil
    import uuid

    from .streaming.metrics import progress_drop_stats

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    on_time = [
        (i % 7, base + dt.timedelta(minutes=5 * i)) for i in range(96)
    ]  # 0h .. 8h in two halves; all (uid, ts) pairs unique
    stragglers = [
        (i % 7, base + dt.timedelta(minutes=i, seconds=30)) for i in range(25)
    ]  # back at hour 0: far behind the watermark after batch 2
    src = _scratch_dir("late_src")
    os.makedirs(src, exist_ok=True)
    batches = [on_time[:48], on_time[48:], stragglers]
    for i, rows in enumerate(batches):
        part_dir = _scratch_dir(f"late_part{i}")
        spark.createDataFrame(rows, "uid long, ts timestamp").coalesce(
            1
        ).write.mode("overwrite").parquet(part_dir)
        (f,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copy(f, dst)
        os.utime(dst, (_T0 + i, _T0 + i))
    stream = (
        spark.readStream.schema("uid long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(["uid", "ts"])
    name = "rbf_late_" + uuid.uuid4().hex[:8]
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    stats = progress_drop_stats(q)
    n_emitted = spark.table(name).count()
    n_planted = len(stragglers)
    return spark.createDataFrame(
        [
            (
                stats["n_input_rows"],
                stats["n_dropped_late"],
                stats["n_batches"],
                n_emitted,
                n_planted,
                stats["n_dropped_late"] == n_planted,
                n_emitted == len(on_time),
                n_emitted + stats["n_dropped_late"] == stats["n_input_rows"],
            )
        ],
        "n_input bigint, n_dropped_late bigint, n_batches bigint, "
        "n_emitted bigint, n_planted bigint, "
        "drop_gate boolean, emit_gate boolean, conservation_gate boolean",
    )


def _pseudonym_oracle() -> str:
    from .functions.text import duckdb_pseudonym

    pe = duckdb_pseudonym("e.user_id", "rot-2026-08")
    pc = duckdb_pseudonym("c.c_custkey", "rot-2026-08")
    return f"""
    WITH ev AS (
      SELECT {pe} AS pseu, e.user_id, e.event_type FROM events e
    ), cu AS (
      SELECT {pc} AS pseu, c.c_custkey, c.c_mktsegment FROM customer c
    )
    SELECT cu.c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_events_pseudonym_join,
           CAST(count(DISTINCT ev.pseu) AS BIGINT) AS n_users_pseudonym,
           CAST((SELECT count(*) FROM events e2 JOIN customer c2
                 ON e2.user_id = c2.c_custkey
                 WHERE c2.c_mktsegment = cu.c_mktsegment) AS BIGINT)
             AS n_events_raw_join
    FROM ev JOIN cu ON ev.pseu = cu.pseu
    GROUP BY cu.c_mktsegment
    ORDER BY segment
    """


@register("q_pseudonym_join", oracle=_pseudonym_oracle())
def q_pseudonym_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted pseudonymization with REFERENTIAL CONSISTENCY
    (functions/text.py::pseudonym_expr) — the privacy tier between
    pii_scrub (destroys the value) and erasure (destroys the row):
    events and customers re-keyed under the same salt, then joined ON
    THE PSEUDONYMS; the per-segment counts must equal the raw-key join
    computed independently in the same query (both columns emitted —
    the hash certifies joins survive re-keying), while rotating the
    salt severs all history at once. Pure Catalyst md5, 1:1 DuckDB
    rendering."""
    from .functions.text import pseudonym_expr

    ev = load_table(spark, sf_dir, "events").select(
        pseudonym_expr(F.col("user_id"), "rot-2026-08").alias("pseu"),
        "user_id",
        "event_type",
    )
    cu = load_table(spark, sf_dir, "customer").select(
        pseudonym_expr(F.col("c_custkey"), "rot-2026-08").alias("cpseu"),
        "c_custkey",
        "c_mktsegment",
    )
    pj = (
        ev.join(cu, on=F.col("pseu") == F.col("cpseu"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events_pseudonym_join"),
            F.countDistinct("pseu").alias("n_users_pseudonym"),
        )
    )
    raw = (
        load_table(spark, sf_dir, "events")
        .join(
            load_table(spark, sf_dir, "customer"),
            on=F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_events_raw_join"))
    )
    return pj.join(raw, on="segment").orderBy("segment")


_STORAGE_SNAPSHOT = "/root/testdata/sf0.01/lineitem.parquet"


@register(
    "q_storage_profile",
    oracle=f"""
    SELECT path_in_schema AS column_name,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(total_compressed_size) AS BIGINT) AS compressed_bytes,
           CAST(sum(total_uncompressed_size) AS BIGINT) AS uncompressed_bytes,
           CAST(sum(num_values) AS BIGINT) AS n_values,
           round(sum(total_uncompressed_size)
                 / NULLIF(sum(total_compressed_size), 0), 4)
             AS compression_ratio
    FROM parquet_metadata('{_STORAGE_SNAPSHOT}')
    GROUP BY 1 ORDER BY 1
    """,
)
def q_storage_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column storage profile from parquet FOOTERS only
    (operators/zonemap.py::storage_profile): compressed/uncompressed
    bytes, chunk and value counts, compression ratio per column — the
    table-bloat report behind every drop-a-column / recode /
    re-sort-for-compression decision, priced in KB footer reads (data
    pages never touched; paths parallelized, the driver opens no
    footer). Both engines read ONE FIXED snapshot (the driver's sf0.01
    lineitem) because oracle SQL is static — the check is two
    INDEPENDENT parquet implementations (pyarrow footers vs DuckDB
    parquet_metadata()) agreeing on every byte count of the same
    files; data scale is meaningless for a metadata reader."""
    from .operators.zonemap import storage_profile

    return storage_profile(spark, _STORAGE_SNAPSHOT).orderBy("column_name")


def _encoding_oracle() -> str:
    from .functions.text import duckdb_encoding

    e = duckdb_encoding("text")
    return f"""
    WITH allrows AS (
      SELECT source, text FROM documents
      UNION ALL
      SELECT '_planted', 'bad' || chr(7) || 'ctrl' || chr(65533) ||
             'caf' || chr(233)
      UNION ALL
      SELECT '_planted', 'clean ascii only'
    ), feats AS (
      SELECT source, {e['n_ctrl']} AS n_ctrl,
             {e['n_replacement']} AS n_repl,
             {e['n_non_ascii']} AS n_na,
             {e['n_chars']} AS n_ch
      FROM allrows
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_ctrl,
           CAST(sum(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_replacement,
           CAST(sum(n_na) AS BIGINT) AS total_non_ascii,
           CAST(sum(n_ch) AS BIGINT) AS total_chars,
           round(sum(n_na) / NULLIF(sum(n_ch), 0), 6) AS non_ascii_ratio
    FROM feats GROUP BY source ORDER BY source
    """


@register("q_encoding_audit", oracle=_encoding_oracle())
def q_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding/mojibake audit (functions/text.py::encoding_exprs):
    per-source C0-control-character docs, U+FFFD replacement-character
    docs (the smoking gun of a wrong-charset decode upstream), and the
    exact non-ASCII character mass — the byte-hygiene gate run before
    any tokenizer sees the corpus. Two planted docs (one with BEL +
    U+FFFD + é, one clean) make the audit visibly fire and pin the
    regex semantics cross-engine; integer sums keep everything exact
    except one round(6) ratio of sums. Hash-matched."""
    from .functions.text import encoding_exprs

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    planted = spark.createDataFrame(
        [
            ("_planted", "bad\x07ctrl�café"),
            ("_planted", "clean ascii only"),
        ],
        "source string, text string",
    )
    e = encoding_exprs(F.col("text"))
    feats = docs.unionByName(planted).select(
        "source",
        e["n_ctrl"].alias("n_ctrl"),
        e["n_replacement"].alias("n_repl"),
        e["n_non_ascii"].alias("n_na"),
        e["n_chars"].alias("n_ch"),
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_ctrl") > 0, 1).otherwise(0)).alias(
                "docs_with_ctrl"
            ),
            F.sum(F.when(F.col("n_repl") > 0, 1).otherwise(0)).alias(
                "docs_with_replacement"
            ),
            F.sum("n_na").alias("total_non_ascii"),
            F.sum("n_ch").alias("total_chars"),
            F.round(
                F.try_divide(F.sum("n_na"), F.sum("n_ch")), 6
            ).alias("non_ascii_ratio"),
        )
        .orderBy("source")
    )


@register(
    "q_index_append",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 501 = 0
    """,
)
def q_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL file-index maintenance (operators/pruning.py::
    compact_index, driver-visible): snapshot 1 (even order keys) lands
    and gets indexed; snapshot 2 (odd keys) is APPENDED to the same
    table directory and ONLY its new files are indexed; compact_index
    unions the two index frames (per-file OR-merge handles split
    rows). The pruned point-lookup over the combined table must equal
    the oracle's full-scan filter — the zero-FN contract surviving the
    append loop a daily-snapshot table lives by, without ever
    re-indexing old files."""
    from .operators.pruning import (
        bloom_file_index,
        bloom_pruned_read,
        compact_index,
    )
    from .sketch import Shape

    orders = load_table(spark, sf_dir, "orders")
    scratch = _scratch_dir("idxappend")
    shape = Shape.for_np(250_000, 0.001)
    orders.filter(F.col("o_orderkey") % 2 == 0).repartitionByRange(
        4, "o_orderkey"
    ).write.mode("overwrite").parquet(scratch)
    snap1_files = set(spark.read.parquet(scratch).inputFiles())
    idx1 = bloom_file_index(
        spark.read.parquet(scratch), shape, key_col="o_orderkey"
    ).localCheckpoint()  # pin snapshot-1 rows before the append changes the dir
    orders.filter(F.col("o_orderkey") % 2 == 1).repartitionByRange(
        4, "o_orderkey"
    ).write.mode("append").parquet(scratch)
    new_files = sorted(
        set(spark.read.parquet(scratch).inputFiles()) - snap1_files
    )
    idx2 = bloom_file_index(
        spark.read.option("basePath", scratch).parquet(*new_files),
        shape,
        key_col="o_orderkey",
    )
    index = compact_index(idx1, idx2)
    keys = [
        r["o_orderkey"]
        for r in spark.read.parquet(scratch)
        .filter(F.col("o_orderkey") % 501 == 0)
        .select("o_orderkey")
        .collect()
    ]
    rows, _files_read = bloom_pruned_read(
        spark, scratch, index, keys, key_col="o_orderkey"
    )
    return rows.select("o_orderkey", "o_custkey", "o_totalprice")


def _stream_events_typed_ordered(spark: SparkSession, sf_dir: str, n_files: int = 4):
    """(user_id, event_type, ts) TIME-ORDERED micro-batches — the
    typed-timestamp replay for watermarked stream-stream joins (range-
    disjoint batches keep every row inside the watermark tolerance)."""
    import glob
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    us = F.unix_micros(F.col("ts"))
    b = ev.agg(F.min(us).alias("lo"), F.max(us).alias("hi")).collect()[0]
    src = _scratch_dir("sattr_src")
    os.makedirs(src, exist_ok=True)
    span = (b["hi"] - b["lo"]) or 1
    for i in range(n_files):
        lo = b["lo"] + span * i // n_files
        hi = b["hi"] + 1 if i == n_files - 1 else b["lo"] + span * (i + 1) // n_files
        part_dir = _scratch_dir(f"sattr_part{i}")
        ev.where((us >= lo) & (us < hi)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(part_dir)
        (f,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copy(f, dst)
        # explicit increasing mtimes pin micro-batch order with no
        # wall-clock sleep (review fix: 3 helpers x 4 files x 1.1s of
        # pure latency per contract run, gone)
        os.utime(dst, (_T0 + i, _T0 + i))
    return (
        spark.readStream.schema("user_id bigint, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@register(
    "q_streaming_attribution",
    oracle="""
    SELECT p.user_id,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT p.ts) AS BIGINT) AS n_attributed_purchases
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL 1 HOUR
     AND v.ts <= p.ts
    GROUP BY 1 ORDER BY 1
    """,
)
def q_streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join (streaming/enrich.py::
    stream_stream_interval_join) — the attribution query: views within
    the hour BEFORE each purchase, both sides streaming with 2-hour
    watermarks bounding the join state (right rows evict once the
    watermark passes vts+1h; left once it passes pts — state is
    O(horizon), never O(stream)). Inner matches emit on arrival (the
    watermark gates cleanup, not emission), and the range-disjoint
    time-ordered replay keeps every needed row inside the horizon, so
    the appended pair set aggregates to EXACTLY the batch interval
    join — hash-matched."""
    import uuid

    from .streaming.enrich import stream_stream_interval_join

    stream = _stream_events_typed_ordered(spark, sf_dir)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("puid"), F.col("ts").alias("pts")
    )
    views = stream.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vuid"), F.col("ts").alias("vts")
    )
    pairs = stream_stream_interval_join(
        purchases,
        views,
        left_key="puid",
        right_key="vuid",
        left_ts="pts",
        right_ts="vts",
        before="1 HOUR",
        after="0 SECONDS",
        watermark="2 hours",
    ).select("puid", "pts", "vts")
    name = "rbf_sattr_" + uuid.uuid4().hex[:8]
    q = (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", _scratch_dir("sattr_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return (
        spark.table(name)
        .groupBy(F.col("puid").alias("user_id"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("pts").alias("n_attributed_purchases"),
        )
        .orderBy("user_id")
    )


@register(
    "q_streaming_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join (streaming/enrich.py::
    stream_static_enrich): the events feed replayed as 4 micro-batches
    is joined per batch against the static customer dimension
    (broadcast — zero join state, no watermark: the one streaming join
    that is free at scale), then aggregated per (segment, event_type)
    in complete mode. A STREAMING query whose final table HASH-MATCHES
    the batch SQL join — replay-split invariance is exactly what the
    value hash certifies."""
    import uuid

    from .streaming.enrich import stream_static_enrich

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    src = _scratch_dir("senrich_src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id bigint, user_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream_static_enrich(
        stream, cust, on=F.col("user_id") == F.col("c_custkey")
    )
    agg = joined.groupBy(
        F.col("c_mktsegment").alias("segment"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,4)"))
        .cast("double")
        .alias("total_value"),
    )
    name = "rbf_senrich_" + uuid.uuid4().hex[:8]
    ckpt = _scratch_dir("senrich_ckpt")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_stream(q)
    return spark.table(name).orderBy("segment", "event_type")


@register(
    "q_dedup_savings",
    oracle=f"""
    WITH base AS (
      SELECT source, doc_id,
             md5(substr(text, 1, 40)) AS fp,
             CAST(len({DUCKDB_TOKENIZE("text")}) AS BIGINT) AS w,
             row_number() OVER (
               PARTITION BY md5(substr(text, 1, 40)) ORDER BY doc_id ASC
             ) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(CASE WHEN rn > 1 THEN w ELSE 0 END) AS BIGINT)
             AS dup_tokens,
           round(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) / count(*), 6)
             AS frac_dup_docs,
           round(sum(CASE WHEN rn > 1 THEN w ELSE 0 END) / sum(w), 6)
             AS frac_dup_tokens
    FROM base GROUP BY source ORDER BY source
    """,
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup SAVINGS report per source (operators/dedup.py::
    dedup_savings): duplicate docs under the keep-first-by-id
    fingerprint rule and the token mass they waste — the sizing read
    before a corpus-rewrite dedup pass and the attribution read after
    (duplicates attach to the COPY's source, so a mirror feed shows in
    its own row). Same plan shape and cost as one exact_dedup
    candidate pass (one fingerprint exchange). Hash-matched vs the
    identical DuckDB window algebra."""
    from .functions.text import tokenize_md5
    from .operators.dedup import dedup_savings

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.md5(F.substring("text", 1, 40)).alias("fp"),
        F.size(tokenize_md5(F.col("text"))).alias("n_tok"),
    )
    return dedup_savings(base).orderBy("source")


@register(
    "q_weighted_length_quantiles",
    oracle=_SEQ_CTE
    + """
    , base AS (
      SELECT source, CAST(len(tokens) AS BIGINT) AS w,
             sum(CAST(len(tokens) AS BIGINT)) OVER (
               PARTITION BY source ORDER BY len(tokens) ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(CAST(len(tokens) AS BIGINT)) OVER (PARTITION BY source) AS tot
      FROM sequences
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(tot) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 100 * cum >= 50 * tot THEN w END) AS BIGINT)
             AS w_p50,
           CAST(min(CASE WHEN 100 * cum >= 90 * tot THEN w END) AS BIGINT)
             AS w_p90
    FROM base GROUP BY source ORDER BY source
    """,
)
def q_weighted_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-weighted document-length quantiles per source
    (operators/percentiles.py::weighted_length_quantiles): the length
    of the document the median (and p90) TOKEN lives in — what a
    typical token's context looks like, vs the doc-weighted median's
    typical document. Converts the Pareto skew into the quantile the
    chunk/pack parameter choice needs. Selection is pure BIGINT
    arithmetic on the deterministic (weight, id) order — exact integer
    quantiles, no interpolation, no float boundary. Hash-matched."""
    from .operators.percentiles import weighted_length_quantiles

    seq = sequences_from_documents(spark, sf_dir)
    return weighted_length_quantiles(seq).orderBy("source")


@register(
    "q_lexical_richness",
    oracle=_SEQ_CTE
    + """
    , tok AS (SELECT source AS g, unnest(tokens) AS t FROM sequences),
    st AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2)
    SELECT g AS source,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
           round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / count(*), 6)
             AS hapax_type_share,
           round(sum(CASE WHEN c = 1 THEN c ELSE 0 END) / sum(c), 6)
             AS hapax_mass_share,
           round(count(*) / sum(c), 6) AS type_token_ratio
    FROM st GROUP BY g ORDER BY g
    """,
)
def q_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-based lexical richness per source (operators/vocab.py::
    lexical_richness): hapax/dis legomena counts, their type and mass
    shares, and the type-token ratio — the TAIL's weight next to
    Zipf's head slope and Heaps' growth (collapsed hapax share =
    boilerplate; inflated = OCR noise/tokenizer shredding, the same
    pathologies the OOV audit sees from the vocabulary side). One
    corpus explode into a map-side-combinable (source, token) count,
    one aggregate after. Hash-matched."""
    from .operators.vocab import lexical_richness

    seq = sequences_from_documents(spark, sf_dir)
    return lexical_richness(seq).orderBy("source")


@register(
    "q_bigram_entropy",
    oracle=_SEQ_CTE
    + """
    , pk AS (
      SELECT source AS g,
             unnest(list_transform(range(len(tokens) - 1),
                    i -> CAST(tokens[i+1] AS BIGINT) * 50261 + tokens[i+2]))
               AS pk
      FROM sequences WHERE len(tokens) >= 2
    ), pc AS (
      SELECT g, pk, CAST(count(*) AS BIGINT) AS c FROM pk GROUP BY 1, 2
    ), base AS (
      SELECT g, c, (pk - pk % 50261) / 50261 AS a, pk % 50261 AS b FROM pc
    ), enr AS (
      SELECT g, c,
             sum(c) OVER (PARTITION BY g, a) AS ca,
             sum(c) OVER (PARTITION BY g, b) AS cb,
             sum(c) OVER (PARTITION BY g) AS n
      FROM base
    )
    SELECT g AS source,
           CAST(max(n) AS BIGINT) AS n_pairs,
           round(-sum(c::DOUBLE * ln(c::DOUBLE / ca)) / max(n), 6) AS h_cond,
           round(-sum(c::DOUBLE * ln(cb::DOUBLE / n)) / max(n), 6) AS h_right,
           round((-sum(c::DOUBLE * ln(cb::DOUBLE / n)) / max(n))
                 - (-sum(c::DOUBLE * ln(c::DOUBLE / ca)) / max(n)), 6)
             AS mutual_info
    FROM enr GROUP BY g ORDER BY g
    """,
)
def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source bigram information profile (operators/lm.py::
    bigram_entropy): conditional entropy H(next|prev), unigram
    H(next), and their gap — mutual information — in nats. The
    PREDICTABILITY axis of the text-statistics family (Zipf/Heaps read
    frequency/growth laws, KL reads between-group shift, this reads
    within-text structure: template corpora pin each next token, MI≈0
    means shuffled); also the exact average log-loss of the unsmoothed
    bigram LM. One corpus scan of map-side pair keys into a (source,
    pair) count; marginals are window sums over the vocab²-bounded
    frame. Hash-matched vs DuckDB's identical window algebra."""
    from .operators.lm import bigram_entropy

    seq = sequences_from_documents(spark, sf_dir)
    return bigram_entropy(seq).orderBy("source")


@register(
    "q_cluster_quality",
    oracle="""
    -- constant 1..64 series recovers positions (q_embedding_centroids
    -- convention; a dim mismatch surfaces as a row-count/hash FAIL)
    WITH e AS (
      SELECT vec_id, label, CAST(i AS INT) AS pos,
             embedding[CAST(i AS INT)] AS v
      FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
    ), cent AS (
      SELECT label, pos, avg(v) AS m FROM e GROUP BY 1, 2
    ), pd AS (
      SELECT e.vec_id, e.label,
             sqrt(sum((e.v - c.m) * (e.v - c.m))) AS dist
      FROM e JOIN cent c ON e.label = c.label AND e.pos = c.pos
      GROUP BY 1, 2
    ), s AS (
      SELECT label, avg(dist) AS s_i, CAST(count(*) AS BIGINT) AS n_vecs
      FROM pd GROUP BY 1
    ), dmat AS (
      SELECT a.label AS la, b.label AS lb,
             sqrt(sum((a.m - b.m) * (a.m - b.m))) AS d
      FROM cent a JOIN cent b ON a.pos = b.pos AND a.label <> b.label
      GROUP BY 1, 2
    ), ratios AS (
      SELECT la, sa.n_vecs, sa.s_i,
             round((sa.s_i + sb.s_i) / d, 6) AS r, lb
      FROM dmat JOIN s sa ON sa.label = la JOIN s sb ON sb.label = lb
    ), per_label AS (
      SELECT la, n_vecs, s_i, r, lb
      FROM ratios
      QUALIFY row_number() OVER (
        PARTITION BY la ORDER BY r DESC, lb DESC
      ) = 1
    ), db AS (
      SELECT round(avg(r), 6) AS db_index FROM per_label
    )
    SELECT la AS label, n_vecs, round(s_i, 6) AS scatter,
           r AS worst_ratio, CAST(lb AS INT) AS worst_neighbor, db_index
    FROM per_label CROSS JOIN db
    ORDER BY label
    """,
)
def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin label-cluster quality over the embedding corpus
    (operators/spectral.py::cluster_quality): per-label scatter, the
    worst separation ratio and which neighbor attains it, plus the
    corpus DB index — the label-health diagnostic after
    q_embedding_centroids (centroids say WHERE each domain sits, this
    says WHICH domains collapsed into each other — the pair a
    dedup/mixing pass reviews first). One persisted posexplode feeds
    both passes; everything after the per-vector aggregate is
    |labels|²-bounded. Hash-matched vs DuckDB's constant-series
    rendering at round(6)."""
    from .operators.spectral import cluster_quality

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_quality(emb).orderBy("label")


@register(
    "q_oov_rate",
    oracle=_SEQ_CTE
    + """
    , tok AS (SELECT source AS g, unnest(tokens) AS t FROM sequences),
    st AS (SELECT g, t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
    gt AS (SELECT t, sum(c) AS n FROM st GROUP BY 1),
    vocab AS (
      SELECT t FROM gt
      QUALIFY row_number() OVER (ORDER BY n DESC, t ASC) <= 500
    )
    SELECT st.g AS source,
           CAST(sum(c) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.t IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS oov_occurrences,
           round(sum(CASE WHEN v.t IS NULL THEN c ELSE 0 END) / sum(c), 6)
             AS oov_rate,
           CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS oov_types,
           CAST(count(*) AS BIGINT) AS distinct_types
    FROM st LEFT JOIN vocab v ON st.t = v.t
    GROUP BY 1 ORDER BY 1
    """,
)
def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit (operators/vocab.py::oov_rate): per
    source, the fraction of token occurrences and types outside the
    top-500 frequency-built reference vocabulary (deterministic
    count-desc/token-asc cut) — the tokenizer-fit check: an OOV
    outlier source is being shredded into fallback bytes (code against
    a prose vocab, wrong language) and trains badly regardless of its
    quality scores. One corpus explode into a map-side-combinable
    (source, token) count (persisted + tied, two consumers);
    everything downstream bounded by sources × vocab. Hash-matched vs
    DuckDB's QUALIFY rendering."""
    from .operators.vocab import oov_rate

    seq = sequences_from_documents(spark, sf_dir)
    return oov_rate(seq, vocab_size=500).orderBy("source")


_CHUNK_SIZE, _CHUNK_STRIDE = 48, 32


@register(
    "q_chunk_windows",
    oracle=_SEQ_CTE
    + f"""
    , c AS (
      SELECT doc_id, tokens, len(tokens) AS n,
             CASE WHEN len(tokens) <= {_CHUNK_SIZE} THEN 1
                  ELSE CAST((len(tokens) - {_CHUNK_SIZE} + {_CHUNK_STRIDE} - 1)
                            // {_CHUNK_STRIDE} AS INT) + 1
             END AS n_chunks
      FROM sequences WHERE len(tokens) > 0
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           CAST(i * {_CHUNK_STRIDE} AS INT) AS start,
           CAST(least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)
                - i * {_CHUNK_STRIDE} AS INT) AS chunk_len,
           md5(array_to_string(
             tokens[i * {_CHUNK_STRIDE} + 1
                    : least(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE}, n)], ','))
             AS chunk_md5,
           i = n_chunks - 1 AS is_last
    FROM c, LATERAL (SELECT unnest(range(0, n_chunks)) AS i)
    ORDER BY doc_id, chunk_idx
    """,
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window training-chunk manifest (operators/curation.py::
    chunk_windows): every tokenized document cut into size-48 windows
    advancing by 32 (16-token overlap carries context across cuts) —
    the step between raw docs and pack_sequences (packing fills
    context windows with whole SHORT docs; chunking makes LONG docs
    fit at all). chunk_md5 pins the exact token content of every
    window cross-engine; the manifest ships instead of materialized
    slices. Map-side sequence()+explode, no shuffle. Hash-matched vs
    DuckDB's 1-based list-slice rendering."""
    from .operators.curation import chunk_windows

    seq = sequences_from_documents(spark, sf_dir)
    return chunk_windows(
        seq, size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


def _readability_oracle() -> str:
    from .functions.text import duckdb_readability

    r = duckdb_readability("text")
    return f"""
    SELECT doc_id,
           {r['n_words']} AS n_words,
           {r['n_sentences']} AS n_sentences,
           {r['n_syllables']} AS n_syllables,
           {r['fre']} AS fre,
           {r['fk_grade']} AS fk_grade
    FROM documents
    ORDER BY doc_id LIMIT 200
    """


@register("q_readability", oracle=_readability_oracle())
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch Reading Ease + Flesch–Kincaid grade per document
    (functions/text.py::readability_exprs) — the register/fluency tier
    of the quality family: ratio features catch structural junk,
    compression catches repetition and entropy, readability catches
    text whose sentence and word shapes sit far from prose (legalese,
    keyword stuffing). Pure Catalyst higher-order functions over one
    word array; min-1 clamps for sentences and per-word syllables make
    the classic approximations total. Hash-matched vs the 1:1 DuckDB
    rendering at round(4)."""
    from .functions.text import readability_exprs

    docs = load_table(spark, sf_dir, "documents")
    r = readability_exprs(F.col("text"))
    return (
        docs.select(
            "doc_id",
            r["n_words"].alias("n_words"),
            r["n_sentences"].alias("n_sentences"),
            r["n_syllables"].alias("n_syllables"),
            r["fre"].alias("fre"),
            r["fk_grade"].alias("fk_grade"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@register("q_compressibility")
def q_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compressibility quality profile (operators/quality.py):
    per-source mean zlib ratio + fractions in the repetitive tail
    (boilerplate/spam compresses far below prose) and the high-entropy
    tail (base64/hex/minified blobs) — the Gopher-family repetition
    signal the Catalyst ratio features can't express. One scoring scan
    (one per-payload C call)
    into one map-side-combinable aggregate. Rows-only (zlib is not
    SQL-expressible); in-query gates: a planted repeated-phrase doc
    must land deep in the repetitive tail, a planted md5-chain hex doc
    in the high-entropy tail, and every real source mean must sit in
    (0, 1.1]."""
    import hashlib

    from .operators.quality import compressibility_profile

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    chain, h = [], b"seed"
    for _ in range(80):
        h = hashlib.md5(h).digest()
        chain.append(h.hex())
    planted = spark.createDataFrame(
        [
            ("_planted_rep", "click here to buy now " * 150),
            ("_planted_rand", "".join(chain)),
        ],
        "source string, text string",
    )
    out = compressibility_profile(
        docs.unionByName(planted), "source", "text"
    )
    gate = (
        F.when(F.col("source") == "_planted_rep", F.col("mean_ratio") < 0.2)
        .when(F.col("source") == "_planted_rand", F.col("mean_ratio") > 0.55)
        .otherwise(
            (F.col("mean_ratio") > 0) & (F.col("mean_ratio") <= 1.1)
        )
    )
    return out.withColumn("gate_ok", gate).orderBy("source")


_SWEEP_TS = [round(i * 0.03, 2) for i in range(11)]  # 0.00 .. 0.30


def _filter_sweep_oracle() -> str:
    """DuckDB rendering of the identical one-aggregate threshold sweep
    (conditional sums -> UNION-ALL unpivot, mirroring Spark's stack());
    the score expression is the q_quality_scores stopword_ratio."""
    conds = "\n             ".join(
        f"sum(CASE WHEN s >= CAST({t!r} AS DOUBLE) THEN 1 ELSE 0 END) AS n{i},\n"
        f"             sum(CASE WHEN s >= CAST({t!r} AS DOUBLE) THEN n_chars ELSE 0 END) AS m{i},"
        for i, t in enumerate(_SWEEP_TS)
    ).rstrip(",")
    unions = "\n      UNION ALL ".join(
        f"SELECT source, n, m, CAST({t!r} AS DOUBLE) AS threshold, "
        f"n{i} AS docs_kept, m{i} AS mass_kept FROM wide"
        for i, t in enumerate(_SWEEP_TS)
    )
    return rf"""
    WITH scored AS (
      SELECT source, n_chars,
             round(len(list_filter(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w <> ''),
                   w -> list_contains(['the','a','of','and','to','in','is','it','for','on'], w)))::DOUBLE
                   / len(list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '')), 6) AS s
      FROM documents
    ), wide AS (
      SELECT source, count(*) AS n, sum(n_chars) AS m,
             {conds}
      FROM scored GROUP BY 1
    ), long AS (
      {unions}
    )
    SELECT source, threshold,
           CAST(docs_kept AS BIGINT) AS docs_kept,
           round(docs_kept / n, 6) AS frac_docs,
           CAST(mass_kept AS BIGINT) AS mass_kept,
           round(mass_kept / NULLIF(m, 0), 6) AS frac_mass
    FROM long ORDER BY source, threshold
    """


@register("q_filter_sweep", oracle=_filter_sweep_oracle())
def q_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter RETENTION SWEEP (operators/curation.py::
    filter_sweep): for 11 candidate stopword-ratio cutoffs, how many
    documents and how much character mass survive per source — the
    decision table read BEFORE committing a corpus-scale delete (pick
    the knee; watch for a source cliff-dropping, the filter-bias
    fairness check). ONE map-side-combinable aggregate with 22
    conditional sums — no explode-by-threshold row multiplication, no
    histogram intermediary; adding a threshold adds a column, not a
    pass. Hash-matched vs DuckDB's identical conditional-sum algebra."""
    from .functions.text import quality_exprs
    from .operators.curation import filter_sweep

    docs = load_table(spark, sf_dir, "documents")
    q = quality_exprs(F.col("text"))
    scored = docs.select(
        "source", "n_chars", q["stopword_ratio"].alias("s")
    )
    return filter_sweep(
        scored, "source", "s", _SWEEP_TS, mass_col="n_chars"
    ).orderBy("source", "threshold")


@register(
    "q_jsonl_scan",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(md5(text), ',' ORDER BY doc_id)) AS text_md5,
           3 AS n_quarantined
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest with corrupt-line quarantine (sources/read_jsonl +
    split_corrupt) — the format a curation pipeline reads FIRST. The
    documents table is round-tripped through JSON Lines with THREE
    malformed lines injected; the reader takes the schema as a
    contract (zero inference passes over the corpus), routes the bad
    lines to the corrupt column instead of silently NULLing them into
    plausible empty documents (the PERMISSIVE default), and the good
    rows hash-match the original table EXACTLY — text_md5 pins every
    byte of every document through the JSON escape/unescape round
    trip, per source in doc_id order; n_quarantined pins the bad-line
    count cross-engine as a constant."""
    import os

    from .sources import read_jsonl, split_corrupt

    docs = load_table(spark, sf_dir, "documents")
    scratch = _scratch_dir("jsonl")
    docs.write.mode("overwrite").json(scratch)
    with open(os.path.join(scratch, "bad-lines.json"), "w") as fh:
        fh.write('{"doc_id": 1, "text": unquoted}\n')
        fh.write("not json at all\n")
        fh.write('{"doc_id": "trailing...\n')
    raw = read_jsonl(
        spark,
        scratch,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    good, bad = split_corrupt(raw)
    n_bad = bad.count()
    sorted_hashes = F.array_sort(
        F.collect_list(F.struct(F.col("doc_id"), F.md5("text").alias("h")))
    )
    return (
        good.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.md5(
                F.array_join(F.transform(sorted_hashes, lambda s: s["h"]), ",")
            ).alias("text_md5"),
        )
        .withColumn("n_quarantined", F.lit(n_bad).cast("int"))
        .orderBy("source")
    )


def _ppjoin_oracle() -> str:
    from .functions.text import duckdb_shingle_key_array

    sh = duckdb_shingle_key_array("tokens", 3)
    return f"""
    WITH seq AS (
      SELECT doc_id, {DUCKDB_TOKENIZE("text")} AS tokens FROM documents
    ), sets AS (
      SELECT doc_id, {sh} AS ts FROM seq
    ), ne AS (
      SELECT doc_id, ts, len(ts) AS n FROM sets WHERE len(ts) > 0
    ), p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.ts, b.ts)) AS inter,
             a.n + b.n - len(list_intersect(a.ts, b.ts)) AS uni
      FROM ne a JOIN ne b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
           CAST(uni AS BIGINT) AS union_sz,
           round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
    FROM p WHERE CAST(inter AS DOUBLE) / uni >= 0.5
    ORDER BY doc_a, doc_b
    """


@register("q_jaccard_join", oracle=_ppjoin_oracle())
def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY document pair with 3-gram-shingle Jaccard >= 0.5 — the
    exact, zero-false-negative similarity self-join
    (operators/ppjoin.py::jaccard_similarity_join, prefix-filtering per
    Chaudhuri 2006 / Xiao 2008) that audits what the MinHash+LSH path
    (q_minhash_near_dups) only approximates. The oracle is DuckDB's
    QUADRATIC list_intersect join — the spec; the Spark plan touches
    only prefix-token collisions (rarest-first ordering, lossless
    length filter, exact verify), never |docs|² pairs. Shingle keys are
    the injective cross-engine polynomial (functions/text.py::
    shingle_key_array == duckdb_shingle_key_array)."""
    from .functions.text import shingle_key_array
    from .operators.ppjoin import jaccard_similarity_join

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokenize_md5(F.col("text")).alias("tokens")
    )
    sets = docs.select("doc_id", shingle_key_array(F.col("tokens"), 3).alias("sh"))
    out = jaccard_similarity_join(sets, "doc_id", "sh", tau=0.5)
    return out.select(
        "doc_a", "doc_b", "inter", "union_sz", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


@register(
    "q_tfidf_cosine_pairs",
    oracle=_SEQ_CTE
    + """
    , tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(tokens) AS tok FROM sequences) GROUP BY 1, 2
    ), dfreq AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), nd AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
    w AS (
      SELECT t.doc_id, t.tok,
             t.tf * (ln((CAST(n AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))
                     + 1.0) AS w
      FROM tf t JOIN dfreq USING (tok) CROSS JOIN nd
      WHERE df >= 1 AND CAST(df AS DOUBLE) <= 0.5 * n
    ), nrm AS (
      SELECT doc_id, sqrt(sum(w * w)) AS nn FROM w GROUP BY 1
    ), u AS (
      SELECT w.doc_id, tok, w / nn AS uw FROM w JOIN nrm USING (doc_id)
    ), pairsums AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_common,
             sum(a.uw * b.uw) AS cosine
      FROM u a JOIN u b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common, round(cosine, 6) AS cosine
    FROM pairsums WHERE cosine >= 0.3
    ORDER BY doc_a, doc_b
    """,
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this, exactly — every document pair with TF-IDF
    cosine >= 0.3 over the df-bounded vocabulary
    (operators/tfidf.py::tfidf_cosine_pairs): sparse dot products via
    an inverted-index token equi-join, never a |docs|² loop; the
    df <= 0.5·N stop-word cut is both the standard metric definition
    and the bound on join fan-out (sum_t C(df_t, 2)). The weighted
    complement to the set-based joins: q_jaccard_join treats every
    shingle equally, this ranks by term rarity. Smooth-idf ln() ulp
    noise sits far below round(6) (the keyness precedent)."""
    from .operators.tfidf import tfidf_cosine_pairs

    seq = sequences_from_documents(spark, sf_dir)
    return tfidf_cosine_pairs(seq, 0.3, max_df_ratio=0.5).select(
        "doc_a", "doc_b", "n_common", F.round("cosine", 6).alias("cosine")
    ).orderBy("doc_a", "doc_b")


@register(
    "q_dataset_card",
    oracle=r"""
    WITH base AS (
      SELECT md5(substr(text, 1, 40)) AS fp,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
                                  w -> w <> '')) AS BIGINT) AS ntok,
             CAST(length(text) AS BIGINT) AS nchars,
             source, lang
      FROM documents
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(ntok) AS BIGINT) AS n_tokens,
             CAST(sum(nchars) AS BIGINT) AS n_chars,
             CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
             round(quantile_cont(ntok, 0.5), 6) AS median_ntok,
             round(avg(ntok), 6) AS mean_ntok,
             CAST(sum(CASE WHEN ntok < 50 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_short
      FROM base
    ), src AS (SELECT source, count(*) AS c FROM base GROUP BY 1),
    top_src AS (SELECT source AS top_source, c AS top_c FROM src
                ORDER BY c DESC, source ASC LIMIT 1),
    nsrc AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM src),
    lg AS (SELECT lang, count(*) AS c FROM base GROUP BY 1),
    langa AS (SELECT CAST(count(*) AS BIGINT) AS n_langs,
                     sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clnc
              FROM lg)
    SELECT n_docs, n_tokens, n_chars, n_sources, n_langs, top_source,
           round(CAST(top_c AS DOUBLE) / n_docs, 6) AS top_source_share,
           round(ln(CAST(n_docs AS DOUBLE)) - clnc / n_docs, 6)
             AS lang_entropy_nats,
           n_distinct_fp,
           round(1.0 - CAST(n_distinct_fp AS DOUBLE) / n_docs, 6) AS dup_rate,
           median_ntok, mean_ntok,
           round(CAST(n_short AS DOUBLE) / n_docs, 6) AS pct_short
    FROM g CROSS JOIN nsrc CROSS JOIN top_src CROSS JOIN langa
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATASHEET in one row (operators/datacard.py::
    dataset_card, Gebru et al. 2021's quantitative half): size, source
    concentration, language entropy, exact-dedup rate, document-length
    profile. One corpus scan + |sources|/|langs|-bounded aggregates
    reassembled by broadcast cross joins; every value is an exact
    integer or a round(6) function of exact integers, so the card is
    an auditable hash-matched artifact — parquet it per snapshot and
    diff across rounds (jobs/compare_snapshots.py is the drift gate
    over the same idea)."""
    from .operators.datacard import dataset_card

    return dataset_card(load_table(spark, sf_dir, "documents"))


def _skipgram_oracle() -> str:
    from .functions.text import duckdb_skipgram_pair_keys

    pairs = duckdb_skipgram_pair_keys("tokens", window=3)
    n_pairs_row = " + ".join(f"greatest(len(tokens) - {d}, 0)" for d in (1, 2, 3))
    return (
        _SEQ_CTE
        + f"""
    , pairs AS (
        SELECT pair // 50261 AS left_tok, pair % 50261 AS right_tok,
               count(*) AS pair_freq
        FROM (SELECT unnest({pairs}) AS pair FROM sequences) t
        GROUP BY 1, 2 HAVING count(*) >= 5
    ), uni AS (
        SELECT tok, count(*) AS uni_freq
        FROM (SELECT unnest(tokens) AS tok FROM sequences) u GROUP BY tok
    ), totals AS (
        SELECT CAST(sum(len(tokens)) AS BIGINT) AS n_tokens,
               CAST(sum({n_pairs_row}) AS BIGINT) AS n_pairs
        FROM sequences
    )
    SELECT left_tok, right_tok, pair_freq,
           round(ln(CAST(pair_freq AS DOUBLE) * n_tokens * n_tokens
                    / (CAST(n_pairs AS DOUBLE) * l.uni_freq * r.uni_freq)),
                 6) AS pmi
    FROM pairs
    JOIN uni l ON l.tok = left_tok
    JOIN uni r ON r.tok = right_tok
    CROSS JOIN totals
    ORDER BY pmi DESC, left_tok, right_tok LIMIT 50
    """
    )


@register("q_skipgram_pmi", oracle=_skipgram_oracle())
def q_skipgram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence PMI (operators/collocations.py::
    skipgram_pmi): top-50 UNORDERED token pairs co-occurring within
    distance 3 (the word2vec skip-gram context) by pointwise mutual
    information — associated terms that rarely sit adjacent, which the
    adjacency statistic (q_collocations_pmi) can't see. Pairs are
    generated MAP-SIDE by a Catalyst transform (canonical
    least/greatest key; no join, no window function), so the only
    corpus-sized cost is the scan + a map-side-combined aggregate;
    unigrams and totals broadcast. Integer counts until one ln(),
    cut ordered by the ROUNDED pmi — cross-engine reproducible."""
    from .operators.collocations import skipgram_pmi

    seq = sequences_from_documents(spark, sf_dir)
    return skipgram_pmi(seq, window=3, min_count=5, top_n=50)


def _containment_oracle() -> str:
    from .functions.text import duckdb_shingle_key_array

    sh = duckdb_shingle_key_array("tokens", 3)
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             substr(text, 1, CAST(n_chars // 3 AS INT)) AS text
      FROM documents WHERE doc_id % 17 = 0
    ), seq AS (
      SELECT doc_id, {DUCKDB_TOKENIZE("text")} AS tokens FROM corpus
    ), sets AS (
      SELECT doc_id, {sh} AS ts FROM seq
    ), ne AS (
      SELECT doc_id, ts, len(ts) AS n FROM sets WHERE len(ts) > 0
    ), p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.ts, b.ts)) AS inter, a.n AS na
      FROM ne a JOIN ne b ON a.doc_id <> b.doc_id
    )
    SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
           CAST(na AS BIGINT) AS size_a,
           round(CAST(inter AS DOUBLE) / na, 6) AS containment
    FROM p WHERE CAST(inter AS DOUBLE) / na >= 0.8
    ORDER BY doc_a, doc_b
    """


@register("q_containment_join", oracle=_containment_oracle())
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which documents are EXCERPTS of others — the directed
    containment join |a∩b|/|a| >= 0.8
    (operators/ppjoin.py::containment_join): a short doc fully quoted
    inside a long one has tiny Jaccard but containment ~1, the
    cross-document case the within-corpus span operators don't cover.
    The query PLANTS the excerpts (first third of every 17th document,
    identical construction in the oracle) so the asymmetric direction
    is genuinely exercised: 30 of the 80 sf0.01 pairs are
    excerpt→original. Candidates = a's rarest-first PREFIX against b's
    FULL inverted index (complete by the prefix-filter counting
    argument; one-sided length filter — no upper bound on |b|, that
    asymmetry is the point), then exact verify."""
    from .functions.text import shingle_key_array
    from .operators.ppjoin import containment_join

    docs = load_table(spark, sf_dir, "documents")
    excerpts = docs.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("text").substr(
            F.lit(1), F.floor(F.col("n_chars") / 3).cast("int")
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(excerpts)
    sets = corpus.select(
        "doc_id",
        shingle_key_array(tokenize_md5(F.col("text")), 3).alias("sh"),
    )
    out = containment_join(sets, "doc_id", "sh", tau=0.8)
    return out.select(
        "doc_a",
        "doc_b",
        "inter",
        "size_a",
        F.round("containment", 6).alias("containment"),
    ).orderBy("doc_a", "doc_b")


@register("q_lsh_recall_audit")
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does the MinHash+LSH shortcut actually miss — the
    sketch-vs-truth audit the exact join (q_jaccard_join) makes
    possible: ground truth = prefix-filtered EXACT Jaccard pairs
    (zero FN by construction), candidate = the production LSH path
    (128 perms, 32 bands, est >= 0.5). Emits recall on the
    high-similarity stratum (true J >= 0.7, where the S-curve
    1-(1-s^r)^b predicts ~1), precision against true J >= 0.5 (every
    LSH pair re-verified exactly via ngram_jaccard_pairs), and the
    mean |est - true| of the 128-perm estimator (sigma =
    sqrt(s(1-s)/128) ~ 0.044). Deterministic end to end (seeded
    perms), but MinHash isn't SQL-renderable: rows-only registration
    with in-row audit gates; the same gates are pinned in pytest.
    All joins here are pair-frame-sized (<< corpus)."""
    from .functions.text import shingle_key_array
    from .operators.dedup import minhash_dedup, ngram_jaccard_pairs
    from .operators.ppjoin import jaccard_similarity_join

    seq = sequences_from_documents(spark, sf_dir)
    sets = seq.select("doc_id", shingle_key_array(F.col("tokens"), 3).alias("sh"))
    exact = jaccard_similarity_join(sets, "doc_id", "sh", tau=0.5).select(
        "doc_a", "doc_b", F.col("jaccard").alias("true_j")
    )
    lsh = minhash_dedup(seq, threshold=0.5).select("doc_a", "doc_b", "est_jaccard")
    truth_of_lsh = ngram_jaccard_pairs(
        seq, lsh.select("doc_a", "doc_b"), shingle=3, exact_keys=True
    ).select("doc_a", "doc_b", F.col("jaccard").alias("true_j"))
    lsh_scored = lsh.join(truth_of_lsh, ["doc_a", "doc_b"], "left").withColumn(
        "true_j", F.coalesce("true_j", F.lit(0.0))
    )
    hit = exact.join(
        lsh.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi"
    )
    ex_agg = exact.agg(
        F.count("*").alias("n_exact"),
        F.sum((F.col("true_j") >= 0.7).cast("long")).alias("n_exact_hi"),
    )
    hit_agg = hit.agg(
        F.sum((F.col("true_j") >= 0.7).cast("long")).alias("hits_hi")
    )
    lsh_agg = lsh_scored.agg(
        F.count("*").alias("n_lsh"),
        F.sum((F.col("true_j") >= 0.5).cast("long")).alias("n_lsh_true"),
        F.avg(F.abs(F.col("est_jaccard") - F.col("true_j"))).alias("_mae"),
    )
    row = ex_agg.crossJoin(hit_agg).crossJoin(lsh_agg)
    recall_hi = F.when(
        F.col("n_exact_hi") > 0,
        F.col("hits_hi").cast("double") / F.col("n_exact_hi"),
    ).otherwise(F.lit(1.0))
    precision = F.when(
        F.col("n_lsh") > 0, F.col("n_lsh_true").cast("double") / F.col("n_lsh")
    ).otherwise(F.lit(1.0))
    return row.select(
        "n_exact",
        "n_exact_hi",
        "n_lsh",
        "n_lsh_true",
        "hits_hi",
        F.round(recall_hi, 6).alias("recall_hi"),
        F.round(precision, 6).alias("precision"),
        F.round(F.coalesce(F.col("_mae"), F.lit(0.0)), 6).alias("mean_abs_est_err"),
        (F.round(recall_hi, 6) >= 0.9).alias("recall_ok"),
        (F.round(F.coalesce(F.col("_mae"), F.lit(0.0)), 6) <= 0.15).alias("err_ok"),
    )


@register(
    "q_winnow_overlap",
    oracle=_SEQ_CTE
    + """
    , grams AS (
        SELECT doc_id,
               list_transform(range(len(tokens) - 2),
                 i -> ((CAST(tokens[i+1] AS BIGINT) * 2526168121
                        + CAST(tokens[i+2] AS BIGINT) * 50261
                        + tokens[i+3]) * 48271) % 2147483647) AS hs
        FROM sequences WHERE len(tokens) >= 3
    ), keys AS (
        SELECT doc_id,
               list_transform(range(len(hs)),
                 i -> (hs[i+1] << 27) + (134217727 - i)) AS ks
        FROM grams
    ), sel AS (
        SELECT doc_id,
               CASE WHEN len(ks) < 4 THEN [list_min(ks)]
                    ELSE list_transform(range(3, len(ks)),
                           q -> list_min(ks[q-2:q+1])) END AS sels
        FROM keys
    ), fps AS (
        SELECT DISTINCT doc_id, s >> 27 AS fp
        FROM (SELECT doc_id, unnest(sels) AS s FROM sel)
    ), capped AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 20
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.fp IN (SELECT fp FROM capped)
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), counts AS (SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id)
    SELECT doc_a, doc_b, shared_fps,
           round(CAST(shared_fps AS DOUBLE) / least(ca.n_fp, cb.n_fp), 6) AS containment
    FROM shared
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    ORDER BY containment DESC, shared_fps DESC, doc_a, doc_b LIMIT 100
    """,
)
def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS, Schleimer et al. 2003) fingerprint overlap:
    k=3-gram Lehmer-mixed hashes, window w=4 rightmost-min selection as
    ONE map-side Arrow pass (zero shuffle), then shared-fingerprint
    document pairs via per-fingerprint postings with a df cap — no
    self-join, candidate pairs generated inside the posting arrays.
    Hash-matched against a DuckDB list-algebra rendering of the exact
    same integer selection (same polynomial, mix, packed tie-break)."""
    from .operators.winnow import winnow_fingerprints, winnow_overlap_pairs

    seq = sequences_from_documents(spark, sf_dir)
    fps = winnow_fingerprints(seq, k=3, w=4)
    return (
        winnow_overlap_pairs(fps, min_shared=2, df_cap=20)
        .orderBy(F.desc("containment"), F.desc("shared_fps"), "doc_a", "doc_b")
        .limit(100)
    )


@register(
    "q_vocab_growth",
    oracle=_SEQ_CTE
    + """
    , ranked AS (
        SELECT source, doc_id, len(tokens) AS n_tok, tokens,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS r
        FROM sequences
    ), curve AS (
        SELECT source, r,
               CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY r) AS BIGINT) AS cum_tokens
        FROM ranked
    ), firsts AS (
        SELECT source, tok, min(r) AS first_r
        FROM (SELECT source, r, unnest(tokens) AS tok FROM ranked) t
        GROUP BY source, tok
    ), new_at AS (
        SELECT source, first_r AS r, count(*) AS new_types FROM firsts GROUP BY 1, 2
    ), full_curve AS (
        SELECT c.source, c.r, c.cum_tokens,
               CAST(sum(COALESCE(n.new_types, 0))
                    OVER (PARTITION BY c.source ORDER BY c.r) AS BIGINT) AS cum_vocab
        FROM curve c LEFT JOIN new_at n ON n.source = c.source AND n.r = c.r
    )
    SELECT source, count(*) AS n_docs,
           max(cum_tokens) AS total_tokens, max(cum_vocab) AS vocab,
           round(regr_slope(ln(CAST(cum_vocab AS DOUBLE)), ln(CAST(cum_tokens AS DOUBLE))), 4) AS heaps_beta,
           round(regr_intercept(ln(CAST(cum_vocab AS DOUBLE)), ln(CAST(cum_tokens AS DOUBLE))), 4) AS heaps_lnk
    FROM full_curve GROUP BY source ORDER BY source
    """,
)
def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth per source (operators/vocab.py):
    exact V(n) curve via the min-first-rank trick (one corpus-sized
    (source, token) aggregate — no per-prefix distinct counts), then a
    closed-form log-log OLS (covar_pop/var_pop) mirrored by DuckDB's
    regr_slope/regr_intercept at 4 dp, the q_zipf_slope float
    contract. Reads the growth axis of the same distributional-health
    phenomenon whose frequency axis q_zipf_slope reads."""
    from .operators.vocab import heaps_fit, vocab_growth_curve

    seq = sequences_from_documents(spark, sf_dir)
    return heaps_fit(vocab_growth_curve(seq)).orderBy("source")


@register(
    "q_token_dispersion",
    oracle=_SEQ_CTE
    + """
    , sc AS (
        SELECT source AS src, tok, count(*) AS c
        FROM (SELECT source, unnest(tokens) AS tok FROM sequences) t
        GROUP BY 1, 2
    ), src_tot AS (
        SELECT src, CAST(sum(c) AS BIGINT) AS n_s FROM sc GROUP BY src
    ), nrow AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM src_tot),
    top AS (
        SELECT tok, src AS top_source, c AS top_c
        FROM (SELECT tok, src, c,
                     row_number() OVER (PARTITION BY tok ORDER BY c DESC, src) AS rn
              FROM sc) r
        WHERE rn = 1
    ), tt AS (SELECT tok, CAST(sum(c) AS BIGINT) AS total FROM sc GROUP BY tok),
    per AS (
        SELECT s.tok, t.total, count(*) AS n_sources,
               round(0.5 + 0.5 * sum(abs(CAST(c AS DOUBLE) / t.total
                                         - CAST(n_s AS DOUBLE) / nrow.n)
                                     - CAST(n_s AS DOUBLE) / nrow.n), 6) AS dp,
               round(1.0 / sum((CAST(c AS DOUBLE) / t.total)
                               * (CAST(c AS DOUBLE) / t.total)), 6) AS eff_sources
        FROM sc s JOIN src_tot USING (src) JOIN tt t USING (tok) CROSS JOIN nrow
        WHERE t.total >= 10
        GROUP BY s.tok, t.total
    )
    SELECT p.tok, p.total, p.n_sources, top.top_source,
           round(CAST(top.top_c AS DOUBLE) / p.total, 6) AS top_share,
           p.dp, p.eff_sources
    FROM per p JOIN top USING (tok)
    ORDER BY dp DESC, tok LIMIT 200
    """,
)
def q_token_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP dispersion + inverse-Simpson concentration per token
    (operators/dispersion.py): the per-TOKEN burstiness screen that
    separates vocabulary from boilerplate/spam markers. Absent sources
    folded analytically (no token x source grid join); one corpus
    aggregate, everything downstream vocab x sources-bounded.
    Hash-matched at 6 dp with a deterministic dominant-source
    tie-break (count desc, then source)."""
    from .operators.dispersion import token_dispersion

    seq = sequences_from_documents(spark, sf_dir)
    return (
        token_dispersion(seq, min_total=10)
        .orderBy(F.desc("dp"), "tok")
        .limit(200)
    )


@register(
    "q_bm25_search",
    oracle=_SEQ_CTE
    + """
    , freqs AS (
        SELECT tok, count(*) AS freq
        FROM (SELECT unnest(tokens) AS tok FROM sequences) t GROUP BY tok
    ), terms AS (
        SELECT tok FROM (
            SELECT tok, row_number() OVER (ORDER BY freq DESC, tok) AS rn FROM freqs
        ) r WHERE rn BETWEEN 11 AND 15
    ), stats AS (
        SELECT count(*) AS n_docs, avg(CAST(len(tokens) AS DOUBLE)) AS avgdl
        FROM sequences
    ), occ AS (
        SELECT doc_id, len(tokens) AS dl, tok
        FROM (SELECT doc_id, tokens, unnest(tokens) AS tok FROM sequences) u
        WHERE tok IN (SELECT tok FROM terms)
    ), tf AS (
        SELECT doc_id, dl, tok, count(*) AS tf FROM occ GROUP BY 1, 2, 3
    ), dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
    SELECT doc_id, count(*) AS n_terms_hit,
           round(sum(
               ln(1.0 + (stats.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
               * (CAST(tf AS DOUBLE) * 2.2
                  / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / stats.avgdl)))
           ), 6) AS score
    FROM tf JOIN dfs USING (tok) CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 25
    """,
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (operators/bm25.py, Lucene idf form,
    k1=1.2, b=0.75) for a deterministic 5-term probe: global-frequency
    ranks 11-15 (mid-head terms — rare enough to discriminate, common
    enough to hit many docs; tie-break by token id). The corpus
    explode is semi-joined against the broadcast probe terms BEFORE
    aggregation, so only query-term occurrences shuffle; document
    length rides in the tf group key (no second corpus join).
    Hash-matched at 6 dp; top-25 cut on the ROUNDED score with doc_id
    tie-break."""
    from .operators.bm25 import bm25_rank

    seq = sequences_from_documents(spark, sf_dir)
    freqs = (
        seq.select(F.explode("tokens").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.orderBy(F.desc("freq"), "tok")
    terms = (
        freqs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn").between(11, 15))
        .select("tok")
    )
    return (
        bm25_rank(seq, terms, k1=1.2, b=0.75)
        .orderBy(F.desc("score"), "doc_id")
        .limit(25)
    )


@register(
    "q_ann_sq",
    oracle="""
    WITH qz AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> floor(x / s * 127.0 + 0.5)) AS q
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s
              FROM embeddings) t
        WHERE s > 0
    )
    SELECT query_id, neighbor_id, cosine_sq FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               round(list_cosine_similarity(a.q, b.q), 6) AS cosine_sq,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY round(list_cosine_similarity(a.q, b.q), 6) DESC,
                            b.vec_id) AS rn
        FROM qz a JOIN qz b ON b.vec_id <> a.vec_id
        WHERE a.vec_id IN (0, 7, 42, 99, 123)
    ) r WHERE rn <= 5
    """,
)
def q_ann_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized cosine top-5 (operators/similarity.py::
    ann_sq_topk) for the same 5 probes as q_ann_bruteforce — the
    embedding-COMPRESSION tier of the ANN family (LSH/IVF prune
    candidates; SQ shrinks vectors 4x, the page-cache lever at 100 TB).
    floor(x+0.5) half-up on both engines (Spark round() is HALF_UP,
    DuckDB's HALF_EVEN); the quantized ranking is a deterministic
    function of exact integer dot products, hash-matched; recall vs
    the exact ranking is pinned in tests/test_ann_sq.py."""
    from .operators.similarity import ann_sq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_sq_topk(emb, [0, 7, 42, 99, 123], k=5).drop("rank")


@register(
    "q_source_similarity",
    oracle=_SEQ_CTE
    + """
    , sc AS (
        SELECT source AS src, tok, count(*) AS c
        FROM (SELECT source, unnest(tokens) AS tok FROM sequences) t
        GROUP BY 1, 2
    ), norms AS (
        SELECT src, CAST(sum(c * c) AS BIGINT) AS nn FROM sc GROUP BY src
    ), dots AS (
        SELECT a.src AS src_a, b.src AS src_b,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot,
               count(*) AS shared_tokens
        FROM sc a JOIN sc b USING (tok)
        WHERE a.src < b.src
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, shared_tokens,
           round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS cosine
    FROM dots
    JOIN norms na ON na.src = src_a
    JOIN norms nb ON nb.src = src_b
    ORDER BY cosine DESC, src_a, src_b LIMIT 100
    """,
)
def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-level unigram cosine (operators/dispersion.py::
    source_cosine_pairs): the feed-duplication screen — two crawls of
    one site pair at cosine ~1 before any document comparison runs.
    Dot products and norms are exact BIGINT sums (bitwise cross-engine);
    one double division at the end, 6 dp. Vocab-bounded inverted-index
    join, |S|^2 output rows."""
    from .operators.dispersion import source_cosine_pairs

    seq = sequences_from_documents(spark, sf_dir)
    return (
        source_cosine_pairs(seq)
        .orderBy(F.desc("cosine"), "src_a", "src_b")
        .limit(100)
    )


# ===========================================================================
# HTML boilerplate extraction (round-5: the crawl-curation stage the r4
# verdict flagged as the one missing text-pipeline tier)
# ===========================================================================


def _html_extract_oracle() -> str:
    from .operators.html import (
        LINK_WEIGHT,
        MIN_CHARS,
        duckdb_clean_segment,
        duckdb_link_count,
        duckdb_segments,
        duckdb_strip_blocks,
    )

    page = (
        "'<!DOCTYPE html><html><head><title>' || source || ' · doc ' || doc_id"
        " || '</title><style>p{margin:0} .x{color:red}</style>"
        "<script src=\"a.js\"></script></head><body>"
        "<nav><ul><li><a href=\"/\">Home</a></li>"
        "<li><a href=\"/about\">About</a></li>"
        "<li><a href=\"/contact\">Contact</a></li></ul></nav>"
        "<header><h1>' || source || '</h1></header>"
        "<!-- rendered ' || doc_id || ' --><div id=\"main\"><p>'"
        " || substr(text, 1, CAST(floor(len(text) / 2) AS INT)) || '</p><p>'"
        " || substr(text, CAST(floor(len(text) / 2) AS INT) + 1)"
        " || ' &amp; more &lt;escaped&gt;</p></div>"
        "<aside><p>Related: <a href=\"/r1\">one</a> <a href=\"/r2\">two</a>"
        " <a href=\"/r3\">three</a></p></aside>"
        "<footer><p>© corp — <a href=\"/tos\">terms</a></p></footer>"
        "<script>var x=1;</script></body></html>'"
    )
    return f"""
    WITH pages AS (
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, {page} AS html
        FROM documents
    ), segs AS (
        SELECT doc_id, len(html) AS n_chars_html,
               unnest({duckdb_segments(duckdb_strip_blocks('html'))}) AS seg,
               generate_subscripts({duckdb_segments(duckdb_strip_blocks('html'))}, 1)
                   AS seg_idx
        FROM pages
    ), scored AS (
        SELECT doc_id, n_chars_html, seg_idx,
               {duckdb_clean_segment('seg')} AS txt,
               {duckdb_link_count('seg')} AS n_links
        FROM segs WHERE trim(seg) <> ''
    ), docs AS (
        SELECT doc_id, any_value(n_chars_html) AS n_chars_html,
               count(*) AS n_segments,
               CAST(sum(CASE WHEN len(txt) >= {MIN_CHARS}
                             AND n_links * {LINK_WEIGHT} < len(txt)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               string_agg(CASE WHEN len(txt) >= {MIN_CHARS}
                               AND n_links * {LINK_WEIGHT} < len(txt)
                          THEN txt END, ' ' ORDER BY seg_idx) AS text
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_chars_html, n_segments, n_kept,
           CAST(len(COALESCE(text, '')) AS BIGINT) AS n_chars_text,
           md5(COALESCE(text, '')) AS text_md5,
           round(len(COALESCE(text, '')) * 1.0 / n_chars_html, 6)
               AS text_density,
           CASE WHEN contains(COALESCE(text, ''), 'Home')
                  OR contains(COALESCE(text, ''), 'var x=1')
                  OR contains(COALESCE(text, ''), '© corp')
                THEN 1 ELSE 0 END AS boilerplate_leak
    FROM docs
    """


@register("q_html_extract", oracle=_html_extract_oracle())
def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate extraction (operators/html.py) over synthetic
    crawl pages built deterministically from the documents fixture:
    every page wraps the doc text in a realistic shell (title, style,
    script, link-dense nav, header, comment, main div split into two
    paragraphs with planted HTML entities, link-heavy aside, footer,
    inline script). The extractor removes boilerplate containers,
    splits block segments, keeps content by the densitometric rule
    (len >= 25, n_links*20 < len), cleans and re-joins — all Catalyst,
    explode/groupBy shape (no HOF-over-derived-array re-inlining;
    CLAUDE.md winnow lesson). Pinned by text_md5 per document — the
    extracted CONTENT, not just counts, hash-matches the identical
    RE2/Java-regex-common rendering in DuckDB; boilerplate_leak
    asserts none of the planted nav/script/footer markers survive
    (expected constant 0)."""
    from .operators.html import extract_text

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    half = F.floor(F.length("text") / 2).cast("int")
    page = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>"),
        F.col("source"),
        F.lit(" · doc "),
        F.col("doc_id"),
        F.lit(
            '</title><style>p{margin:0} .x{color:red}</style>'
            '<script src="a.js"></script></head><body>'
            '<nav><ul><li><a href="/">Home</a></li>'
            '<li><a href="/about">About</a></li>'
            '<li><a href="/contact">Contact</a></li></ul></nav>'
            "<header><h1>"
        ),
        F.col("source"),
        F.lit("</h1></header><!-- rendered "),
        F.col("doc_id"),
        F.lit(' --><div id="main"><p>'),
        F.substring(F.col("text"), F.lit(1), half),
        F.lit("</p><p>"),
        F.col("text").substr(half + 1, F.length("text")),
        F.lit(
            " &amp; more &lt;escaped&gt;</p></div>"
            '<aside><p>Related: <a href="/r1">one</a> <a href="/r2">two</a>'
            ' <a href="/r3">three</a></p></aside>'
            '<footer><p>© corp — <a href="/tos">terms</a></p></footer>'
            "<script>var x=1;</script></body></html>"
        ),
    )
    pages = docs.select("doc_id", page.alias("html"))
    out = extract_text(pages, "html", "doc_id")
    sized = pages.select("doc_id", F.length("html").alias("n_chars_html"))
    return (
        out.join(sized, "doc_id")
        .select(
            "doc_id",
            "n_chars_html",
            "n_segments",
            "n_kept",
            F.length("text").cast("bigint").alias("n_chars_text"),
            F.md5("text").alias("text_md5"),
            F.round(
                F.length("text") * F.lit(1.0) / F.col("n_chars_html"), 6
            ).alias("text_density"),
            F.when(
                F.col("text").contains("Home")
                | F.col("text").contains("var x=1")
                | F.col("text").contains("© corp"),
                1,
            )
            .otherwise(0)
            .alias("boilerplate_leak"),
        )
        .orderBy("doc_id")
    )
