"""Quality-filter chain (operators/quality.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark.operators.quality import quality_filter


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, url string")
    out = quality_filter(df, lang_col="lang", **kw)
    return {r.doc_id: (r.verdict, list(r.reasons)) for r in out.collect()}


def test_reasons_and_verdicts(spark):
    good = "the cat sat and looked out of the window to see that it was warm for a while"
    rows = [
        (1, good, "en", None),
        (2, "tiny doc", "en", None),                      # too_short
        (3, good, "fr", None),                            # bad_lang
        (4, "x " * 40, "en", None),                       # low_stopword + repetitive
        (5, good, None, None),                            # NULL lang -> bad_lang
        (6, "", "en", None),                              # empty -> too_short (+low_stopword)
    ]
    got = _run(spark, rows, min_tokens=5, min_stopword_ratio=0.05, max_dup3_fraction=0.3)
    assert got[1] == ("keep", [])
    assert got[2] == ("drop", ["too_short", "low_stopword"])
    assert got[3] == ("drop", ["bad_lang"])
    assert got[4][0] == "drop" and got[4][1] == ["low_stopword", "repetitive"]
    assert got[5] == ("drop", ["bad_lang"])
    assert got[6][0] == "drop" and "too_short" in got[6][1]


def test_too_long_and_punct(spark):
    rows = [
        (1, "the " * 30 + "end", "en", None),             # 31 tokens
        (2, 'the "a"!! ((b)) ,,;;::!! of!!!', "en", None),
    ]
    got = _run(spark, rows, min_tokens=1, max_tokens=20, max_punct_ratio=0.2,
               min_stopword_ratio=0.0, max_dup3_fraction=1.0)
    assert "too_long" in got[1][1]
    assert "high_punct" in got[2][1]


def test_blocked_domain_and_derived_lang(spark):
    rows = [
        (1, "the cat sat on the mat and it was that good for all of us", "xx",
         "https://spam.example.com/p/1"),
        (2, "the cat sat on the mat and it was that good for all of us", "xx",
         "https://ok.example.org/p/2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, url string")
    out = quality_filter(
        df, lang_col=None, url_col="url", min_tokens=5,
        min_stopword_ratio=0.0, blocked_domains=("example.com",),
    )
    got = {r.doc_id: (r.verdict, list(r.reasons)) for r in out.collect()}
    # lang derived via stopword vote -> en, so the blocklist is the only trip
    assert got[1] == ("drop", ["blocked_domain"])
    assert got[2] == ("keep", [])


def test_stats_one_pass(spark, docs_small):
    docs, _, _ = docs_small
    out = quality_filter(
        docs.where(F.col("text").isNotNull()), lang_col="lang",
        min_tokens=20, max_tokens=80, min_stopword_ratio=0.05,
    )
    rows = out.select("verdict", "reasons").collect()
    # a row drops exactly when it trips at least one reason
    assert all((r.verdict == "drop") == bool(r.reasons) for r in rows)
    dropped = sum(r.verdict == "drop" for r in rows)
    assert 0 < dropped < len(rows)


def test_unigram_lm_score(spark):
    import math

    from slower_whisper_spark.operators.quality import (
        lm_score,
        unigram_logprob_table,
    )

    ref = spark.createDataFrame(
        [(1, "the cat the cat the dog")], "doc_id long, text string"
    )
    table, oov = unigram_logprob_table(ref, vocab_size=2, alpha=1.0)
    # counts: the=3 cat=2 dog=1; vocab keeps [the, cat]; N=6, D=6+3=9
    got = {r.word: r.logp for r in table.collect()}
    assert set(got) == {"the", "cat"}
    assert abs(got["the"] - math.log(4 / 9)) < 1e-12
    assert abs(oov - math.log(1 / 9)) < 1e-12

    docs = spark.createDataFrame(
        [(10, "the cat"), (11, "zebra"), (12, None), (13, "???")],
        "doc_id long, text string",
    )
    sc = {r.doc_id: r.lm_logprob for r in lm_score(docs, table, oov).collect()}
    assert sc[10] == round((math.log(4 / 9) + math.log(3 / 9)) / 2, 6)
    assert sc[11] == round(math.log(1 / 9), 6)   # pure OOV
    assert sc[12] is None and sc[13] is None     # no tokens -> NULL
