"""Deterministic sampling, corpus mixing, and per-domain caps — how a
training corpus is actually assembled from filtered webtext: reproducible
subsets (same input ⇒ same sample, on any cluster, at any parallelism),
per-source mixture fractions, and an anti-spam cap on pages per domain.

Engine analog of the reference's benchmark samplers (ref:
transcription/benchmarks.py — fixed-seed dataset subset iterators), made
cluster-deterministic: no RNG state, no per-partition seeds — membership
is a pure function of the row key.

Scale design: sampling is a row-local predicate on the first 8 hex chars
of md5(key‖salt) — scan-local, pushdown-friendly, zero shuffle, and
exactly reproducible in any engine with md5 (the package's established
oracle-portability device). The domain cap is the one operator here that
shuffles (window over domain); its skew note is in the docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 1 << 32


def sample_bucket(key: Column | str, salt: str = "") -> Column:
    """Uniform [0, 2^32) bucket from md5(key‖salt) — the deterministic
    coin. Changing ``salt`` draws an independent sample; DuckDB replays it
    as ``('0x' || substring(md5(k || salt), 1, 8))::BIGINT``."""
    k = F.col(key) if isinstance(key, str) else key
    return F.conv(
        F.substring(F.md5(F.concat(k.cast("string"), F.lit(salt))), 1, 8), 16, 10
    ).cast("long")


def deterministic_sample(
    df: DataFrame, *, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep each row iff bucket(key) < fraction·2^32. Exact-rate in
    expectation, exactly reproducible, and consistent across tables: the
    same key survives every table sampled at ≥ this fraction with the same
    salt (coordinated sampling — joins between samples stay consistent)."""
    thr = int(fraction * _BUCKETS)
    return df.where(sample_bucket(key_col, salt) < thr)


def stratified_sample(
    df: DataFrame,
    *,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum mixture sampling (the corpus-mixing step: e.g. keep 50%
    of en, 10% of everything else). One scan, one row-local predicate —
    the stratum threshold rides a literal map lookup; NULL or unlisted
    strata fall to ``default_fraction``."""
    pairs: list[Column] = []
    for k, v in sorted(fractions.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(int(v * _BUCKETS)))
    thr = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(strata_col)),
        F.lit(int(default_fraction * _BUCKETS)),
    )
    return df.where(sample_bucket(key_col, salt) < thr)


def domain_cap(
    df: DataFrame,
    *,
    domain_col: str,
    cap: int,
    order_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Keep at most ``cap`` rows per domain, preferring high ``order_col``
    (quality score, typically), ties broken deterministically — the
    MassiveText/C4 anti-spam measure against domains that flood a crawl.

    Adds ``domain_rank`` (1-based) to the survivors. The window shuffles
    on the Zipf-skewed domain key; for adversarial skew run a pre-pass
    ``deterministic_sample`` per hot domain or a two-phase salted cap
    (cap within (domain, salt) then re-rank the ≤ salt·cap survivors) —
    at cap ≪ bucket size the second phase is driver-trivial."""
    w = Window.partitionBy(domain_col).orderBy(F.desc(order_col), F.asc(tiebreak_col))
    return (
        df.withColumn("domain_rank", F.row_number().over(w))
        .where(F.col("domain_rank") <= int(cap))
    )


def mixture_report(
    df: DataFrame,
    *,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    text_col: str = "text",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """The training-mix ledger: for each stratum, documents and whitespace
    tokens before/after ``stratified_sample`` plus the realized document
    fraction — the per-source token-budget table a mixture design is
    reviewed against.

    One scan, one aggregate: membership is recomputed as the same
    row-local md5 predicate (no join against the sampled output), so the
    report costs a groupBy on the (low-cardinality) stratum key with
    conditional sums."""
    from slower_whisper_spark.functions.text import token_count

    pairs: list[Column] = []
    for k, v in sorted(fractions.items()):
        pairs.append(F.lit(k))
        pairs.append(F.lit(int(v * _BUCKETS)))
    thr = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(strata_col)),
        F.lit(int(default_fraction * _BUCKETS)),
    )
    kept = sample_bucket(key_col, salt) < thr
    toks = token_count(F.col(text_col))
    return (
        df.groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.sum(kept.cast("long")).alias("docs_kept"),
            F.sum(toks).alias("tokens_total"),
            F.sum(F.when(kept, toks).otherwise(F.lit(0))).alias("tokens_kept"),
        )
        .select(
            "stratum",
            "docs_total",
            "docs_kept",
            "tokens_total",
            "tokens_kept",
            F.round(F.col("docs_kept") / F.col("docs_total"), 6).alias("realized_frac"),
        )
    )
