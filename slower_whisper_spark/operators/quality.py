"""Training-corpus quality-filter chain (C4 / Gopher / RefinedWeb shape):
compose the package's row-local text signals into one keep/drop verdict
with named reasons, plus the CCNet-style unigram-LM score.

Engine analog of the reference's per-file acceptance pipeline (ref:
transcription/service_validation.py — a fixed chain of named rejection
reasons ending in one verdict; transcription/models.py quality fields),
re-expressed as the webtext pre-training filter every LLM data pipeline
runs between crawl and tokenizer.

Scale design: every signal is a row-local JVM expression (token counts,
punctuation/stopword ratios, duplicate-n-gram fraction, eTLD+1 blocklist
— see functions/text.py, functions/url.py), so the whole chain folds into
the scan: zero shuffle, zero Python, whole-stage codegen, and Catalyst
prunes unreferenced columns. At 10^12 rows the filter costs one pass.

Reason vocabulary (evaluation order is the output order, all evaluated —
a row reports EVERY reason it trips, the Gopher-report convention):
``null_text | too_short | too_long | high_punct | low_stopword |
repetitive | bad_lang | blocked_domain``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from slower_whisper_spark.functions.text import (
    duplicate_ngram_fraction,
    punct_ratio,
    stopword_ratio,
    token_count,
)


def quality_filter(
    df: DataFrame,
    *,
    text_col: str = "text",
    lang_col: str | None = None,
    url_col: str | None = None,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.05,
    max_dup3_fraction: float = 0.3,
    allowed_langs: tuple[str, ...] = ("en",),
    blocked_domains: tuple[str, ...] = (),
) -> DataFrame:
    """Append ``reasons array<string>`` (every tripped check, fixed order)
    and ``verdict`` ('keep' | 'drop') to ``df``.

    Language comes from ``lang_col`` when the table already carries one
    (the usual case — langid ran at ingest); pass ``lang_col=None`` to
    derive it with the stopword-vote ``lang_id``. NULL/unknown language is
    a drop (``bad_lang``), the conservative pre-training default. The
    domain blocklist keys on LITE eTLD+1 so one entry covers every host
    under a registered domain.
    """
    t = F.col(text_col)
    n = token_count(t)
    # NULL text must DROP, matching rules/quality.py's documented semantics
    # ("a row with no body cannot demonstrate quality"): every signal check
    # below evaluates to NULL on NULL text and F.when(NULL, ...) yields NULL,
    # so without this explicit reason such rows kept verdict='keep'
    # (ADVICE r5 #1).
    checks: list[tuple[str, Column]] = [
        ("null_text", t.isNull()),
        ("too_short", n < int(min_tokens)),
        ("too_long", n > int(max_tokens)),
        ("high_punct", punct_ratio(t) > float(max_punct_ratio)),
        ("low_stopword", stopword_ratio(t) < float(min_stopword_ratio)),
        ("repetitive", duplicate_ngram_fraction(t, 3) > float(max_dup3_fraction)),
    ]
    if lang_col is not None:
        lang = F.col(lang_col)
    else:
        from slower_whisper_spark.functions.text import lang_id

        lang = lang_id(t)
    checks.append(
        ("bad_lang", ~F.coalesce(lang.isin(*allowed_langs), F.lit(False)))
    )
    if url_col is not None and blocked_domains:
        from slower_whisper_spark.functions.url import registered_domain

        checks.append(
            ("blocked_domain", registered_domain(url_col).isin(*blocked_domains))
        )
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in checks]),
        lambda x: x.isNotNull(),
    )
    return df.withColumn("reasons", reasons).withColumn(
        "verdict", F.when(F.size("reasons") == 0, "keep").otherwise("drop")
    )


def unigram_logprob_table(
    ref: DataFrame,
    *,
    text_col: str = "text",
    vocab_size: int = 50_000,
    alpha: float = 1.0,
):
    """Train the CCNet-style LM quality scorer's table: top-``vocab_size``
    normalized words of a REFERENCE corpus (the 'clean' slice — e.g.
    Wikipedia in CCNet) with add-alpha smoothed log-probs. Returns
    ``(table (word, logp), oov_logp)``; denominator = total reference
    tokens + alpha·(vocab_size+1), OOV gets the pure-alpha mass.

    Training-time op: one explode + partial-combine count, a TakeOrdered
    top-K, and ONE driver scalar (the total token count) — the table is
    a broadcast-sized dim by construction."""
    import math

    from slower_whisper_spark.functions.text import normalize_text, tokens

    words = (
        ref.select(F.explode(tokens(normalize_text(F.col(text_col)))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = words.agg(F.sum("c")).collect()[0][0] or 0
    d = float(total) + float(alpha) * (int(vocab_size) + 1)
    top = words.orderBy(F.desc("c"), "word").limit(int(vocab_size))
    table = top.select(
        "word", F.log((F.col("c") + F.lit(float(alpha))) / F.lit(d)).alias("logp")
    )
    return table, math.log(float(alpha) / d)


def lm_score(
    df: DataFrame,
    table: DataFrame,
    oov_logp: float,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Mean per-token log-prob under the reference unigram LM — higher is
    closer to the reference register (CCNet buckets corpora by exactly
    this, with the LM reduced to unigrams). Output: ``(id, lm_logprob)``,
    NULL for docs with no tokens.

    Scale: explode → BROADCAST hash join against the vocab table (corpus
    rows never shuffle raw words to a join exchange) → partial-combine avg
    back to one row per doc."""
    from slower_whisper_spark.functions.text import normalize_text, tokens

    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(normalize_text(F.col(text_col)))).alias("word"),
    ).where(F.col("word") != "")
    scored = (
        toks.join(F.broadcast(table), "word", "left")
        .groupBy("_id")
        .agg(F.round(F.avg(F.coalesce(F.col("logp"), F.lit(float(oov_logp)))), 6).alias("lm_logprob"))
    )
    return (
        df.select(F.col(id_col))
        .join(scored, F.col(id_col) == F.col("_id"), "left")
        .select(id_col, "lm_logprob")
    )
