"""Single-pass column stats, folded into the suite's pass-1 scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark import ConstraintSuite, NotNull


def _stats(df, partition_col, columns):
    return ConstraintSuite("stats", []).validate(
        df, partition_col=partition_col, stats_columns=columns
    ).stats


def test_profile_shapes_and_exactness(docs_small):
    docs, _, _ = docs_small
    st = _stats(docs.drop("warc_day"), None, ["url", "lang", "text", "warc_ts"]).toPandas()
    assert set(st["column"]) == {"url", "lang", "text", "warc_ts"}
    row = st[st["column"] == "lang"].iloc[0]
    n_null = docs.filter(F.col("lang").isNull()).count()
    assert row["nulls"] == n_null
    assert abs(row["null_rate"] - n_null / docs.count()) < 1e-12
    assert row["rows"] == docs.count()

    url_row = st[st["column"] == "url"].iloc[0]
    true_distinct = docs.select("url").distinct().count()
    # HLL++ default accuracy ~1.5-2%
    assert abs(url_row["approx_distinct"] - true_distinct) / true_distinct < 0.05
    assert url_row["nulls"] == 0

    # text stats are length moments
    text_row = st[st["column"] == "text"].iloc[0]
    true_mean = docs.select(F.avg(F.length("text"))).first()[0]
    assert abs(text_row["mean"] - true_mean) < 1e-9
    assert text_row["p50"] > 0 and text_row["p95"] > text_row["p50"]


def test_profile_per_partition(docs_small):
    docs, _, _ = docs_small
    pdf = _stats(docs, "warc_day", ["url", "lang"]).toPandas()
    n_parts = docs.select("warc_day").distinct().count()
    assert len(pdf) == 2 * n_parts
    assert (pdf.groupby("partition")["rows"].max().sum()) == docs.count()


def test_profile_binary_column(docs_small):
    docs, _, _ = docs_small
    st = _stats(docs, None, ["html"]).toPandas()
    row = st.iloc[0]
    true_mean = docs.select(F.avg(F.length("html"))).first()[0]
    assert abs(row["mean"] - true_mean) < 1e-9


def test_stats_folded_into_suite_pass1(docs_small):
    """Folding the stats beside a rule's fail counts leaves them unchanged."""
    docs, _, _ = docs_small
    res = ConstraintSuite("s", [NotNull("url")]).validate(
        docs, key_col="url", partition_col="warc_day", stats_columns=["url", "lang"]
    )
    assert res.stats is not None
    pdf = res.stats.toPandas()
    n_parts = docs.select("warc_day").distinct().count()
    assert len(pdf) == 2 * n_parts
    alone = _stats(docs, "warc_day", ["url", "lang"]).toPandas()
    a = pdf.sort_values(["partition", "column"]).reset_index(drop=True)
    b = alone.sort_values(["partition", "column"]).reset_index(drop=True)
    assert (a["nulls"] == b["nulls"]).all() and (a["rows"] == b["rows"]).all()
