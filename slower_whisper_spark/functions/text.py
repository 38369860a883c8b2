"""Text-analysis column functions for webtext pipelines — all JVM-side
Spark expressions (no UDFs): language-ID heuristic, quality signals, token
counting, shingling, fingerprinting, PII redaction.

These are the "training-data pipeline" primitives layered on the documents
table. The reference's ancestors are its text folds (word_count/full_text,
ref: transcription/models.py:616-727).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword inventories for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "por", "con"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "des", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"],
}


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization; empty/blank strings give an empty array."""
    c = F.col(c) if isinstance(c, str) else c
    t = F.split(F.trim(c), r"\s+")
    return F.when(F.length(F.trim(c)) == 0, F.array().cast("array<string>")).otherwise(t)


def token_count(c: Column | str) -> Column:
    return F.size(tokens(c)).cast("long")


def punct_ratio(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?\"'()\[\]{}]", ""))
    return (n_punct / F.greatest(F.length(c), F.lit(1))).cast("double")


def stopword_ratio(c: Column | str, lang: str = "en") -> Column:
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return (hits / F.greatest(F.size(toks), F.lit(1))).cast("double")


def word_ngrams(c: Column | str, n: int = 3) -> Column:
    """Word n-grams WITH multiplicity: array of space-joined n-token
    windows.
    Pure JVM transform over the token array — no explode, no shuffle."""
    toks = tokens(c)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def duplicate_ngram_fraction(c: Column | str, n: int = 3) -> Column:
    """Gopher-style repetition signal: fraction of word n-gram occurrences
    that are repeats of an earlier n-gram in the same document
    (1 − distinct/total). Computed entirely inside the row — array_distinct
    over the n-gram array — so a 10^12-doc table pays zero shuffle for it.
    NULL for documents with fewer than n tokens."""
    grams = word_ngrams(c, n)
    total = F.size(grams)
    return F.when(
        total > 0,
        (F.lit(1.0) - F.size(F.array_distinct(grams)) / total).cast("double"),
    )


def lang_id(c: Column | str) -> Column:
    """Stopword-vote language ID over the 4 inventories; 'und' when no
    stopwords hit. Deterministic ties break by fixed language order."""
    toks = F.transform(tokens(c), lambda t: F.lower(t))
    scores = {}
    for lg, words in STOPWORDS.items():
        stop = F.array(*[F.lit(w) for w in words])
        scores[lg] = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    # reversed so earlier languages win ties via later .when precedence
    for lg in reversed(list(STOPWORDS)):
        expr = F.when((scores[lg] > 0) & (scores[lg] == best), F.lit(lg)).otherwise(expr)
    return expr


def normalize_text(c: Column | str) -> Column:
    """Lowercase, strip punctuation, collapse whitespace — the canonical
    form used by fingerprints and shingles."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", " "), r"\s+", " "))


def fingerprint(c: Column | str) -> Column:
    """Deterministic 128-bit document fingerprint: md5 of normalized text."""
    return F.md5(normalize_text(c))


def hashed_shingle_rows(df, id_col: str, text_col: str, n: int = 3):
    """Exploded (id, sh: bigint) rows — shingles as 64-bit HASHES, never as
    strings. The string form (``shingle_rows``) allocates ~3x the text bytes
    in shingle strings and shuffles them; on this class of hardware the
    string churn saturates memory bandwidth long before CPU (a pure string
    explode probe scales ~1x from 2→8 cores while sha256 scales 3.2x). The
    hashed form does ONE single-pass tokenization (one regex, vs the 3-pass
    normalize+split), hashes each token once, and derives each shingle hash
    arithmetically from 3 consecutive token hashes (``xxhash64(h1,h2,h3)``)
    — everything past tokenization is fixed-width longs.

    Token semantics equal ``tokens(normalize_text(..))``: lowercase alnum
    runs. Short docs (1 ≤ tokens < n) get one whole-doc shingle (hash of the
    token-hash array); empty docs yield nothing. Collision risk 2^-64 —
    fine for candidate generation and minhash signatures.

    PLAN SHAPE: the gram expression is exploded DIRECTLY, never via an
    aliased intermediate column. Catalyst's InferFiltersFromGenerate only
    fires when the generator input is a bare Attribute; exploding an alias
    lets it infer ``size(col) > 0`` and push that predicate — with the whole
    tokenize→hash→gram tree substituted in — down into the parquet scan's
    data filter, tokenizing every document TWICE (the r5 regression:
    minhash_neardup 2.42 s → 18.61 s). Guarded by a plan test asserting no
    xxhash64 appears in any scan filter of the minhash plan."""
    th, grams = _hashed_token_grams(df, id_col, text_col, n=n)
    return th.select("id", F.explode(grams).alias("sh"))


def _hashed_token_grams(df, id_col: str, text_col: str, n: int = 3):
    """Internal shared core of the hashed-shingle builders: returns
    ``(th, grams)`` where ``th`` is the (id, __th, __n) frame with the
    token-hash array MATERIALIZED as a column and ``grams`` is the
    shingle-hash array expression over it, so callers choose how to consume
    the expression (direct explode, aliased array, array_distinct + explode)
    without re-stating the tokenizer."""
    # pre-filter on a cheap regex instead of size(__tk) > 0: a size filter
    # would be pushed below the projection with the tokenizer expression
    # substituted in, tokenizing every document twice
    tok = df.filter(F.col(text_col).rlike("[a-zA-Z0-9]")).select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda t: t != ""
        ).alias("__tk"),
    ).withColumn("__n", F.size("__tk"))
    # token-hash array materialized as its own column: multi-referenced, so
    # Catalyst keeps it instead of inlining the tokenizer per element
    th = tok.select("id", F.transform("__tk", lambda t: F.xxhash64(t)).alias("__th"), "__n")
    grams = F.when(
        F.col("__n") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - n + 1),
            lambda i: F.xxhash64(*[F.element_at(F.col("__th"), i + k) for k in range(n)]),
        ),
    ).otherwise(F.array(F.xxhash64(F.col("__th"))))
    return th, grams


def shingle_rows(df, id_col: str, text_col: str, n: int = 3):
    """Exploded (id, shingle) rows: word n-grams of the normalized text, with
    the token array materialized ONCE per document (short docs yield one
    whole-text shingle; blank docs yield nothing). The intermediate token
    column is referenced multiple times, so Catalyst keeps it materialized
    instead of inlining the tokenizer into the per-element lambda — 30x
    faster than exploding a pure-Column shingle expression."""
    tok = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__tk"),
    ).withColumn("__n", F.size("__tk"))
    tok = tok.filter((F.col("__n") > 1) | (F.element_at("__tk", 1) != ""))
    grams = F.when(
        F.col("__n") >= n,
        F.transform(
            F.sequence(F.lit(1), F.col("__n") - n + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", F.col("__tk"))))
    return tok.select("id", F.explode(grams).alias("shingle"))


# --------------------------------------------------------------------- #
# PII redaction (ref: transcription/privacy.py:216-452 — regex matches →
# typed spans → masked text; here pure regexp_replace, fully vectorized)
# --------------------------------------------------------------------- #
PII_PATTERNS = {
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+?\d[\d\s().-]{7,}\d",
    "SSN": r"\b\d{3}-\d{2}-\d{4}\b",
    "IPV4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def redact_pii(c: Column | str, kinds: list[str] | None = None) -> Column:
    """Mask PII spans with [KIND] tags (order: SSN before PHONE so the more
    specific pattern wins)."""
    c = F.col(c) if isinstance(c, str) else c
    out = c
    order = kinds or ["EMAIL", "SSN", "PHONE", "IPV4"]
    for kind in order:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind}]")
    return out


def vocab_topk(df, text_col: str = "text", k: int = 100):
    """Corpus word-frequency top-k over normalized text — the
    tokenizer-training precursor (BPE/unigram trainers start from exactly
    this table).

    Scale shape: explode → hash aggregate with map-side partial combine
    (the Zipf head collapses before the shuffle, so the exchange carries
    ~|vocab| rows per partition, not |corpus| tokens) → global count →
    ``orderBy().limit(k)``, which Spark executes as TakeOrderedAndProject:
    per-partition heaps of k, no global sort materialization. Ties break
    deterministically by word."""
    return (
        df.select(F.explode(tokens(normalize_text(F.col(text_col)))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(k)
    )
