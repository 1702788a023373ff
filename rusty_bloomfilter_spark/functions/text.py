"""Text analysis as Catalyst column expressions (JVM-side, codegen'd).

Every function here has a 1:1 DuckDB SQL rendering, so an external SQL
engine can reproduce its output exactly; nothing in this module touches
Python row-at-a-time execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_VOCAB = 50257  # GPT-2-style vocab size for token-id domain

# ---------------------------------------------------------------------------
# Tokenization
# ---------------------------------------------------------------------------


def _words(text: Column) -> Column:
    """Whitespace word split with empties dropped (identical semantics
    to DuckDB's regexp_split_to_array + list_filter)."""
    return F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))


def tokenize_md5(text: Column, vocab: int = DEFAULT_VOCAB) -> Column:
    """text -> array<int> token ids, cross-engine reproducible.

    token_id = int(first 8 hex chars of md5(word), 16) % vocab.
    DuckDB renders the same ids (see DUCKDB_TOKENIZE).
    """
    return F.transform(
        _words(text),
        lambda w: (F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long") % vocab).cast("int"),
    )


def tokenize_xxhash(text: Column, vocab: int = DEFAULT_VOCAB) -> Column:
    """Production-scale tokenizer: xxhash64 (JVM intrinsic, far cheaper
    than md5). Not DuckDB-reproducible — use for throughput paths."""
    return F.transform(
        _words(text),
        lambda w: F.pmod(F.xxhash64(w), F.lit(vocab)).cast("int"),
    )


def DUCKDB_TOKENIZE(text_expr: str, vocab: int = DEFAULT_VOCAB) -> str:
    """DuckDB SQL rendering of tokenize_md5 for oracle queries."""
    return (
        f"list_transform(list_filter(regexp_split_to_array({text_expr}, '\\s+'), "
        f"w -> w <> ''), w -> CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % {vocab} AS INT))"
    )


def token_count_expr(text: Column) -> Column:
    """Whitespace token count (DuckDB: len(list_filter(...)))."""
    return F.size(_words(text))


# ---------------------------------------------------------------------------
# Quality scoring (length / punctuation / stopword / alpha ratios)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def quality_exprs(text: Column) -> dict[str, Column]:
    """Per-document quality features; all SQL-expressible in DuckDB with
    identical results."""
    words = _words(text)
    n_tok = F.size(words)
    n_chars = F.length(text)
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w))))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    avg_word_len = F.when(n_tok > 0, (n_alpha.cast("double") / n_tok)).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tok": n_tok.cast("int"),
        "stopword_ratio": F.round(
            F.when(n_tok > 0, n_stop.cast("double") / n_tok).otherwise(0.0), 6
        ),
        "alpha_ratio": F.round(
            F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0), 6
        ),
        "punct_ratio": F.round(
            F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0), 6
        ),
        "avg_word_len": F.round(avg_word_len, 6),
    }


# ---------------------------------------------------------------------------
# Language ID (marker-word profile heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "des"),
    "es": ("el", "la", "los", "que", "es", "una", "para", "con"),
    "zh": ("的", "是", "了", "在", "我", "有", "他", "这"),
}


def lang_id_expr(text: Column) -> Column:
    """Predicted language = argmax over marker-word hit counts; ties and
    zero-hit rows -> 'und'. Deterministic, SQL-expressible."""
    words = _words(F.lower(text))
    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append((lang, F.size(F.filter(words, lambda w: F.array_contains(arr, w)))))
    best = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    # reversed so earlier langs win ties (stable priority order en>de>...)
    for lang, s in reversed(scores):
        expr = F.when((s == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def duckdb_lang_id(text_expr: str) -> str:
    """DuckDB rendering of lang_id_expr (same priority order)."""
    counts = {}
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        counts[lang] = (
            f"len(list_filter(list_filter(regexp_split_to_array(lower({text_expr}), '\\s+'), "
            f"w -> w <> ''), w -> list_contains([{lst}], w)))"
        )
    best = "greatest(" + ", ".join(counts.values()) + ")"
    expr = "'und'"
    for lang, c in reversed(list(counts.items())):
        expr = f"CASE WHEN ({c}) = ({best}) AND ({best}) > 0 THEN '{lang}' ELSE {expr} END"
    return expr


# ---------------------------------------------------------------------------
# BPE-ish regex tokenization + rolling-hash fingerprints
# ---------------------------------------------------------------------------

# GPT-2-style pretokenizer, simplified to the RE2-compatible subset
# (no lookahead) so DuckDB oracles can reproduce it exactly.
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_pretokenize(text: Column) -> Column:
    """text -> array<string> of BPE-ish pretokens (letters / digits /
    punctuation runs with leading-space attachment, GPT-2 style)."""
    return F.expr(f"regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0)").alias("pretokens")


def bpe_pretokenize_expr(col_name: str) -> Column:
    return F.regexp_extract_all(F.col(col_name), F.lit(BPE_ISH_PATTERN), F.lit(0))


def duckdb_bpe_pretokenize(text_expr: str) -> str:
    return f"regexp_extract_all({text_expr}, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')"


def rolling_fingerprint_expr(tokens: Column, n: int = 3, vocab: int = 50257) -> Column:
    """Rolling-hash document fingerprint: the MIN positional-polynomial
    key over within-row token n-grams (n=3). A deterministic
    content-based fingerprint robust to document reordering at the
    corpus level; cross-engine reproducible (DuckDB renders the same
    polynomial). Total over all row lengths: rows with fewer than n
    tokens yield NULL (matching DuckDB, where range(negative) is empty
    and list_min([]) is NULL) — Spark's sequence(0, -1) is [0, -1]
    (descending step), NOT empty, so the transform must be gated."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - n),
        lambda i: F.element_at(tokens, i + 1).cast("long") * F.lit(2526168121).cast("long")
        + F.element_at(tokens, i + 2).cast("long") * 50261
        + F.element_at(tokens, i + 3).cast("long"),
    )
    return F.when(F.size(tokens) >= n, F.array_min(grams)).otherwise(F.lit(None).cast("long"))


def duckdb_rolling_fingerprint(tokens_expr: str, n: int = 3) -> str:
    return (
        f"list_min(list_transform(range(len({tokens_expr}) - 2), "
        f"i -> CAST({tokens_expr}[i+1] AS BIGINT) * 2526168121 "
        f"+ CAST({tokens_expr}[i+2] AS BIGINT) * 50261 + {tokens_expr}[i+3]))"
    )


def adjacent_pair_keys(tokens: Column, vocab: int = 50261) -> Column:
    """Within-row adjacent token pairs as injective int64 keys
    (left * 50261 + right, exact for token ids < 50261) — the counting
    primitive of BPE merge learning: one merge-training iteration is
    "count all adjacent pairs, take the argmax". Total over short rows
    (< 2 tokens -> empty array); DuckDB renders identically."""
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - 2),
        lambda i: F.element_at(tokens, i + 1).cast("long") * vocab
        + F.element_at(tokens, i + 2).cast("long"),
    )
    return F.when(F.size(tokens) >= 2, pairs).otherwise(
        F.array().cast("array<bigint>")
    )


def duckdb_adjacent_pair_keys(tokens_expr: str, vocab: int = 50261) -> str:
    return (
        f"list_transform(range(len({tokens_expr}) - 1), "
        f"i -> CAST({tokens_expr}[i+1] AS BIGINT) * {vocab} + {tokens_expr}[i+2])"
    )


def skipgram_pair_keys(tokens: Column, window: int = 3, vocab: int = 50261) -> Column:
    """Within-row UNORDERED co-occurrence pairs for every token and its
    partners at distances 1..window, as canonical injective int64 keys
    least·vocab + greatest (symmetric: (a,b) and (b,a) count together).
    The skip-gram generalization of adjacent_pair_keys — word2vec-style
    windowed association instead of strict adjacency. Rows shorter than
    2 yield an EMPTY array (Spark's sequence(0,-1) is [0,-1] — gated);
    the inner distance range never underflows because the outer index
    stops at n-2. DuckDB renders identically (duckdb_skipgram_pair_keys).
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    n = F.size(tokens)

    def partners(i):
        def key(d):
            a = F.element_at(tokens, i + 1).cast("long")
            b = F.element_at(tokens, i + d + 1).cast("long")
            return F.least(a, b) * vocab + F.greatest(a, b)

        return F.transform(F.sequence(F.lit(1), F.least(F.lit(window), n - 1 - i)), key)

    nested = F.transform(F.sequence(F.lit(0), n - 2), partners)
    return F.when(n >= 2, F.flatten(nested)).otherwise(
        F.array().cast("array<bigint>")
    )


def duckdb_skipgram_pair_keys(tokens_expr: str, window: int = 3, vocab: int = 50261) -> str:
    """DuckDB rendering of skipgram_pair_keys (range(negative) is
    empty, so no short-row gate is needed)."""
    t = tokens_expr
    return (
        f"flatten(list_transform(range(len({t}) - 1), "
        f"i -> list_transform(range(least({window}, len({t}) - 1 - i)), "
        f"d -> CAST(least({t}[i+1], {t}[i+d+2]) AS BIGINT) * {vocab} "
        f"+ greatest({t}[i+1], {t}[i+d+2]))))"
    )


def shingle_key_array(tokens: Column, n: int = 3) -> Column:
    """DISTINCT within-row token n-gram keys as an array<bigint> —
    the array-form sibling of operators/dedup.shingle_sets_poly (same
    positional polynomial sum(tok[i+j] * 50261^(n-1-j)), injective for
    token ids < 50261, DuckDB-reproducible via duckdb_shingle_key_array).
    Rows shorter than n yield an EMPTY array (Spark's sequence(0, -1)
    is [0, -1], not empty — must be gated)."""
    if not 2 <= n <= 4:
        raise ValueError("polynomial shingle keys support n in [2, 4] (int64 range)")
    muls = [50261 ** (n - 1 - j) for j in range(n)]

    def key(i):
        out = F.element_at(tokens, i + 1).cast("long") * F.lit(muls[0]).cast("long")
        for j in range(1, n):
            out = out + F.element_at(tokens, i + j + 1).cast("long") * F.lit(
                muls[j]
            ).cast("long")
        return out

    grams = F.transform(F.sequence(F.lit(0), F.size(tokens) - n), key)
    return F.when(F.size(tokens) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<bigint>")
    )


def duckdb_shingle_key_array(tokens_expr: str, n: int = 3) -> str:
    """DuckDB rendering of shingle_key_array (range(negative) is empty
    and list_distinct([]) is [], so no gate is needed there)."""
    muls = [50261 ** (n - 1 - j) for j in range(n)]
    terms = " + ".join(
        f"CAST({tokens_expr}[i+{j + 1}] AS BIGINT) * {muls[j]}" for j in range(n)
    )
    return (
        f"list_distinct(list_transform(range(len({tokens_expr}) - {n - 1}), "
        f"i -> {terms}))"
    )


def repetition_exprs(tokens: Column) -> dict[str, Column]:
    """Intra-document repetition metrics (the Gopher-style repetition
    quality filters, Rae et al. 2021 §A1.1): high values mark
    boilerplate/spam.

    - dup_3gram_ratio: 1 - distinct_3grams / n_3grams (0 when < 3 toks)
    - top_token_ratio: share of the most frequent token

    Pure Catalyst; DuckDB renders identically (duckdb_repetition)."""
    n = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.element_at(tokens, i + 1).cast("long") * F.lit(2526168121).cast("long")
        + F.element_at(tokens, i + 2).cast("long") * 50261
        + F.element_at(tokens, i + 3).cast("long"),
    )
    n_grams = (n - 2).cast("double")
    dup_ratio = F.when(
        n >= 3,
        F.round(F.lit(1.0) - F.size(F.array_distinct(grams)) / n_grams, 6),
    ).otherwise(F.lit(0.0))
    # most frequent token's share: max over distinct tokens of its count
    top_count = F.array_max(
        F.transform(
            F.array_distinct(tokens),
            lambda t: F.size(F.filter(tokens, lambda x: x == t)),
        )
    )
    top_ratio = F.when(
        n > 0, F.round(top_count.cast("double") / n, 6)
    ).otherwise(F.lit(0.0))
    return {"dup_3gram_ratio": dup_ratio, "top_token_ratio": top_ratio}


def duckdb_repetition(tokens_expr: str) -> dict[str, str]:
    grams = (
        f"list_transform(range(len({tokens_expr}) - 2), "
        f"i -> CAST({tokens_expr}[i+1] AS BIGINT) * 2526168121 "
        f"+ CAST({tokens_expr}[i+2] AS BIGINT) * 50261 + {tokens_expr}[i+3])"
    )
    dup = (
        f"CASE WHEN len({tokens_expr}) >= 3 THEN "
        f"round(1.0 - len(list_distinct({grams}))::DOUBLE / (len({tokens_expr}) - 2), 6) "
        f"ELSE 0.0 END"
    )
    top = (
        f"CASE WHEN len({tokens_expr}) > 0 THEN "
        f"round(list_max(list_transform(list_distinct({tokens_expr}), "
        f"t -> len(list_filter({tokens_expr}, x -> x = t))))::DOUBLE / len({tokens_expr}), 6) "
        f"ELSE 0.0 END"
    )
    return {"dup_3gram_ratio": dup, "top_token_ratio": top}


# ---------------------------------------------------------------------------
# PII detection / redaction (curation scrub pass)
# ---------------------------------------------------------------------------

# Pattern subset chosen to mean the same thing in Java regex (Spark) and
# RE2 (DuckDB): char classes, bounded repetition, optional literals.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?1?-?555-[0-9]{4}"


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) occurrence counts — JVM-side regexp_count."""
    return (
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("bigint"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("bigint"),
    )


def pii_redact(text: Column) -> Column:
    """Replace every email with <EMAIL>, then every phone with <PHONE>.
    Order matters: emails first so an address containing digits can't be
    half-eaten by the phone pass."""
    out = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


# ---------------------------------------------------------------------------
# Token-distribution entropy (low-entropy = boilerplate/repetition)
# ---------------------------------------------------------------------------


def doc_token_entropy(seq: DataFrame) -> DataFrame:
    """sequences(doc_id, tokens, n_tok, ...) -> (doc_id, entropy) with
    Shannon entropy H = ln(n_tok) − Σ c·ln(c) / n_tok over per-doc token
    multiplicities (natural log, rounded to 1e-6 for cross-engine float
    parity). Explode + two hash aggregates: the first combines map-side
    to distinct (doc_id, token) rows before its shuffle, the second is
    one row per doc — both partial-agg friendly, no Python."""
    counts = (
        seq.select("doc_id", "n_tok", F.explode("tokens").alias("token"))
        .groupBy("doc_id", "n_tok", "token")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("doc_id", "n_tok").agg(
        F.round(
            F.log("n_tok") - F.sum(F.col("c") * F.log("c")) / F.col("n_tok"), 6
        ).alias("entropy")
    ).select("doc_id", "entropy")


# ---------------------------------------------------------------------------
# Readability (Flesch Reading Ease / Flesch–Kincaid grade)
# ---------------------------------------------------------------------------


def readability_exprs(text: Column) -> dict[str, Column]:
    """Flesch Reading Ease and Flesch–Kincaid grade level from the
    classic approximations: sentences = runs of [.!?] (min 1), syllables
    per word = runs of [aeiouy] in the lowercased word (min 1 — "rhythm"
    has no vowel letter but one spoken syllable). The fluency tier of
    the quality family: ratio features catch structure junk, compression
    catches repetition/entropy, readability catches register (legalese
    and keyword-stuffed spam both land far from conversational prose).
    All Catalyst higher-order functions over the ONE word array —
    1:1 DuckDB rendering in ``duckdb_readability``."""
    words = _words(text)
    n_words = F.size(words)
    n_sentences = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0))
    )
    syllables = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.lower(w), F.lit("[aeiouy]+"), 0)),
        ),
    )
    wps = n_words.cast("double") / n_sentences.cast("double")
    spw = syllables.cast("double") / n_words.cast("double")
    fre = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fkgl = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    guard = n_words > 0
    return {
        "n_words": n_words.cast("int"),
        "n_sentences": n_sentences.cast("int"),
        "n_syllables": F.when(guard, syllables).otherwise(0).cast("int"),
        "fre": F.when(guard, F.round(fre, 4)),
        "fk_grade": F.when(guard, F.round(fkgl, 4)),
    }


def duckdb_readability(text_expr: str) -> dict[str, str]:
    """DuckDB SQL rendering of readability_exprs (same min-1 clamps,
    same double algebra, same round(4))."""
    words = f"list_filter(regexp_split_to_array({text_expr}, '\\s+'), w -> w <> '')"
    n_words = f"len({words})"
    n_sent = f"greatest(1, len(regexp_extract_all({text_expr}, '[.!?]+')))"
    syl = (
        f"list_sum(list_transform({words}, "
        f"w -> greatest(1, len(regexp_extract_all(lower(w), '[aeiouy]+')))))"
    )
    wps = f"({n_words}::DOUBLE / {n_sent}::DOUBLE)"
    spw = f"({syl}::DOUBLE / {n_words}::DOUBLE)"
    return {
        "n_words": f"CAST({n_words} AS INT)",
        "n_sentences": f"CAST({n_sent} AS INT)",
        "n_syllables": f"CAST(CASE WHEN {n_words} > 0 THEN {syl} ELSE 0 END AS INT)",
        "fre": f"CASE WHEN {n_words} > 0 THEN round(206.835 - 1.015 * {wps} - 84.6 * {spw}, 4) END",
        "fk_grade": f"CASE WHEN {n_words} > 0 THEN round(0.39 * {wps} + 11.8 * {spw} - 15.59, 4) END",
    }


# ---------------------------------------------------------------------------
# Encoding / mojibake audit
# ---------------------------------------------------------------------------


def encoding_exprs(text: Column) -> dict[str, Column]:
    """Byte-hygiene features: C0 control characters (minus tab/LF/CR —
    legitimate text), U+FFFD replacement characters (the smoking gun of
    a mis-decoded byte stream: some upstream read bytes with the wrong
    charset and "fixed" it), and the non-ASCII character count (high
    ratios are fine for non-Latin languages — read it against the lang
    column, not alone). All Catalyst regex counts with 1:1 DuckDB
    renderings (``duckdb_encoding``)."""
    ctrl = F.size(
        F.regexp_extract_all(text, F.lit(r"[\x00-\x08\x0B\x0C\x0E-\x1F]"), 0)
    )
    repl = F.size(F.regexp_extract_all(text, F.lit("�"), 0))
    non_ascii = F.length(F.regexp_replace(text, r"[\x00-\x7F]", ""))
    return {
        "n_ctrl": ctrl.cast("long"),
        "n_replacement": repl.cast("long"),
        "n_non_ascii": non_ascii.cast("long"),
        "n_chars": F.length(text).cast("long"),
    }


def duckdb_encoding(text_expr: str) -> dict[str, str]:
    return {
        "n_ctrl": (
            f"CAST(len(regexp_extract_all({text_expr}, "
            f"'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS BIGINT)"
        ),
        "n_replacement": (
            f"CAST(len(regexp_extract_all({text_expr}, chr(65533))) AS BIGINT)"
        ),
        "n_non_ascii": (
            f"CAST(length(regexp_replace({text_expr}, '[\\x00-\\x7F]', '', 'g')) AS BIGINT)"
        ),
        "n_chars": f"CAST(length({text_expr}) AS BIGINT)",
    }


# ---------------------------------------------------------------------------
# Pseudonymization (privacy family: scrub -> erase -> pseudonymize)
# ---------------------------------------------------------------------------


def pseudonym_expr(key: Column, salt: str, *, width: int = 16) -> Column:
    """Salted deterministic pseudonym for an identifier column:
    substr(md5(salt || ':' || key), 1, width). The privacy tier
    BETWEEN pii_scrub (destroys the value) and erasure (destroys the
    row): analytics keep working — equal keys map to equal pseudonyms
    ACROSS TABLES under the same salt, so joins, distinct counts and
    cohorts survive re-keying — while the raw identifier never leaves
    the trusted zone and rotating the salt severs all history at once.
    NULL keys stay NULL (an unowned row must not acquire a shared fake
    owner). NOT format-preserving and not reversible; reversal is the
    salt table's job, which lives where the raw keys live."""
    if not salt:
        raise ValueError("pseudonym_expr: salt must be non-empty")
    return F.when(
        key.isNotNull(),
        F.substring(F.md5(F.concat(F.lit(salt), F.lit(":"), key.cast("string"))), 1, width),
    )


def duckdb_pseudonym(key_expr: str, salt: str, *, width: int = 16) -> str:
    """Must accept exactly what pseudonym_expr accepts (the contract
    relies on the two renderings being 1:1): empty salt raises, and a
    quote in the salt is SQL-escaped rather than breaking the oracle."""
    if not salt:
        raise ValueError("duckdb_pseudonym: salt must be non-empty")
    esc = salt.replace("'", "''")
    return (
        f"CASE WHEN {key_expr} IS NOT NULL THEN "
        f"substr(md5('{esc}' || ':' || CAST({key_expr} AS VARCHAR)), 1, {width}) END"
    )
