"""Text-analysis function library."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark.functions import text as X


def test_token_count_edges(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one",), (None,)], "t string"
    )
    got = df.select(X.token_count("t").alias("n")).collect()
    assert [r["n"] for r in got] == [3, 0, 0, 1, None]


def test_normalize_and_fingerprint_invariance(spark):
    df = spark.createDataFrame(
        [("Hello,   WORLD!", "hello world"), ("a  b", "A B.")], "a string, b string"
    )
    rows = df.select(
        (X.fingerprint("a") == X.fingerprint("b")).alias("eq"),
        X.normalize_text("a").alias("na"),
    ).collect()
    assert all(r["eq"] for r in rows)
    assert rows[0]["na"] == "hello world"


def test_shingles(spark):
    df = spark.createDataFrame([(1, "the quick brown fox"), (2, "hi")], "id int, t string")
    rows = X.shingle_rows(df, "id", "t", 3).collect()
    got = {i: [r.shingle for r in rows if r.id == i] for i in (1, 2)}
    assert got[1] == ["the quick brown", "quick brown fox"]
    assert got[2] == ["hi"]  # shorter than n → whole text


def test_lang_id_votes(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and it was good",),
            ("el perro y la casa de los gatos",),
            ("le chat et les maisons de la ville",),
            ("der hund ist von den katzen und nicht klein",),
            ("zzz qqq xxx",),
        ],
        "t string",
    )
    got = [r[0] for r in df.select(X.lang_id("t")).collect()]
    assert got == ["en", "es", "fr", "de", "und"]


def test_stopword_punct_ratios(spark):
    df = spark.createDataFrame([("the dog, the cat.",)], "t string")
    r = df.select(
        X.stopword_ratio("t").alias("sw"), X.punct_ratio("t").alias("p")
    ).first()
    # tokens: the dog, the cat. → 'the' twice of 4 tokens (commas attached)
    assert abs(r["sw"] - 0.5) < 1e-9
    assert r["p"] > 0


def test_word_ngrams_multiplicity(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "t string")
    got = [r[0] for r in df.select(X.word_ngrams("t", 2)).collect()]
    assert got[0] == ["a b", "b c", "c d"]
    assert got[1] == ["a b"]
    assert got[2] == []


def test_duplicate_ngram_fraction(spark):
    df = spark.createDataFrame(
        [
            # 3-grams: [the cat sat, cat sat the, sat the cat, the cat sat]
            # total 4, distinct 3 -> 1 - 3/4 = 0.25
            ("the cat sat the cat sat",),
            ("a b c d",),  # all distinct -> 0.0
            ("a b",),  # fewer than n tokens -> NULL
            ("",),  # empty -> NULL
        ],
        "t string",
    )
    got = [r[0] for r in df.select(X.duplicate_ngram_fraction("t", 3)).collect()]
    assert abs(got[0] - 0.25) < 1e-12
    assert got[1] == 0.0
    assert got[2] is None
    assert got[3] is None


def test_vocab_topk_order_and_ties(spark):
    rows = [(1, "B b a! a c"), (2, "a b. C?")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from slower_whisper_spark.functions.text import vocab_topk

    got = [(r.word, r.n) for r in vocab_topk(df, k=3).collect()]
    # a:3, b:3 (tie -> alphabetical), c:2
    assert got == [("a", 3), ("b", 3), ("c", 2)]
    plan = vocab_topk(df, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
