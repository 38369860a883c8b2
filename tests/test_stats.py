"""Single-pass stats profile + mergeable HLL sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark.stats import profile


def test_profile_shapes_and_exactness(docs_small):
    docs, _, _ = docs_small
    st = profile(
        docs.drop("warc_day"), partition_col=None, columns=["url", "lang", "text", "warc_ts"]
    ).toPandas()
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
    st = profile(docs, partition_col="warc_day", columns=["url", "lang"])
    pdf = st.toPandas()
    n_parts = docs.select("warc_day").distinct().count()
    assert len(pdf) == 2 * n_parts
    assert (pdf.groupby("partition")["rows"].max().sum()) == docs.count()


def test_hll_sketches_merge_across_partitions(docs_small):
    docs, _, _ = docs_small
    st = profile(docs, partition_col="warc_day", columns=["url"], include_sketches=True)
    merged = st.agg(
        F.sum("rows").alias("rows"),
        F.hll_sketch_estimate(F.hll_union_agg(F.unbase64("hll_sketch_b64"))).alias("d"),
    ).first()
    true_distinct = docs.select("url").distinct().count()
    assert abs(merged["d"] - true_distinct) / true_distinct < 0.05
    assert merged["rows"] == docs.count()


def test_profile_binary_column(docs_small):
    docs, _, _ = docs_small
    st = profile(docs, partition_col=None, columns=["html"]).toPandas()
    row = st.iloc[0]
    true_mean = docs.select(F.avg(F.length("html"))).first()[0]
    assert abs(row["mean"] - true_mean) < 1e-9


def test_stats_folded_into_suite_pass1(docs_small):
    """stats_columns folds the profile into the suite's single scan."""
    from slower_whisper_spark import ConstraintSuite, NotNull

    docs, _, _ = docs_small
    res = ConstraintSuite("s", [NotNull("url")]).validate(
        docs, key_col="url", partition_col="warc_day", stats_columns=["url", "lang"]
    )
    assert res.stats is not None
    pdf = res.stats.toPandas()
    n_parts = docs.select("warc_day").distinct().count()
    assert len(pdf) == 2 * n_parts
    direct = profile(docs, partition_col="warc_day", columns=["url", "lang"]).toPandas()
    a = pdf.sort_values(["partition", "column"]).reset_index(drop=True)
    b = direct.sort_values(["partition", "column"]).reset_index(drop=True)
    assert (a["nulls"] == b["nulls"]).all() and (a["rows"] == b["rows"]).all()
