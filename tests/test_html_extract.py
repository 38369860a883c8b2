"""HTML → text extraction and the derivable byte-identity invariant.

The per-row invariant vs the reference ("byte-identical extracted text per
url", BASELINE.json input_hint) realized WITHOUT a golden table:
extract_html_text(render(text)) == text, checked across the Column API, the
SQL-text twin, the DuckDB dialect, and the suite rule.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from slower_whisper_spark.functions.html import (
    extract_html_text,
    extract_html_text_sql,
    extract_links,
    render_html_py,
)

TRICKY = [
    "the quick brown fox jumps over the lazy dog",
    'a&b <tag> "quoted" it\'s &amp;lt; tricky',
    "one",
    "",
    "x " * 40 + "y",  # multi-paragraph split at tokens_per_p
]
TRICKY = [t.strip() for t in TRICKY]


def test_render_extract_roundtrip_python_vs_spark(spark):
    rows = [(i, t, render_html_py(t, variant=i % 8)) for i, t in enumerate(TRICKY)]
    df = spark.createDataFrame(rows, "id long, text string, html string")
    out = df.select(
        "text",
        extract_html_text("html").alias("col_api"),
        F.expr(extract_html_text_sql("html", "spark")).alias("sql_api"),
    ).collect()
    for r in out:
        assert r["col_api"] == r["text"]
        assert r["sql_api"] == r["text"]


def test_extract_binary_path(spark):
    rows = [(t, render_html_py(t).encode("utf-8")) for t in TRICKY]
    df = spark.createDataFrame(rows, "text string, html binary")
    out = df.select("text", extract_html_text("html", from_binary=True).alias("e")).collect()
    assert all(r["e"] == r["text"] for r in out)


def test_extract_links_binary_equals_string(spark):
    html = [
        '<p><a href="https://a.example/x">x</a> and <a class="c" href="/rel?q=1">y</a></p>',
        "<p>no links here</p>",
        '<a href="https://b.example/\u00e9t\u00e9">caf\u00e9</a>',
    ]
    df = spark.createDataFrame([(h, h.encode("utf-8")) for h in html], "s string, b binary")
    out = df.select(
        extract_links("s").alias("from_str"), extract_links("b", from_binary=True).alias("from_bin")
    ).collect()
    assert [r["from_bin"] for r in out] == [r["from_str"] for r in out]
    assert out[0]["from_str"] == ["https://a.example/x", "/rel?q=1"]


def test_duckdb_dialect_agrees():
    con = duckdb.connect()
    rows = [(t, render_html_py(t, variant=i % 8)) for i, t in enumerate(TRICKY)]
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ",".join("(?, ?)" for _ in rows)
        + ") v(text, html)",
        [x for r in rows for x in r],
    )
    sql = extract_html_text_sql("html", "duckdb")
    bad = con.execute(f"SELECT text FROM t WHERE NOT ({sql} IS NOT DISTINCT FROM text)").fetchall()
    assert bad == []


def test_extraction_subset_semantics(spark):
    cases = [
        # comments, script (with embedded tags/entities), style all vanish
        ("<p>a</p><!-- <p>ghost</p> --><script>var x='<b>&amp;</b>';</script>"
         "<style>p{color:red}</style><p>b</p>", "a b"),
        # doctype + attributes + self-closing
        ('<!DOCTYPE html><img src="x.png"/><p class="c">hi</p>', "hi"),
        # entity decode order: &amp;lt; is a LITERAL &lt;
        ("<p>&amp;lt;</p>", "&lt;"),
        # whitespace collapse + trim
        ("<p>  a \n\t b  </p>", "a b"),
        # one-sided null handled by callers; empty html -> empty text
        ("", ""),
    ]
    df = spark.createDataFrame(cases, "html string, want string")
    out = df.select("want", extract_html_text("html").alias("got")).collect()
    for r in out:
        assert r["got"] == r["want"], (r["got"], r["want"])


@pytest.fixture(scope="module")
def docs_real_html(spark):
    from slower_whisper_spark.datagen import generate_docs

    docs, expected, _ = generate_docs(3000, seed=42, html_mode="real")
    sdf = spark.createDataFrame(docs).withColumn("warc_day", F.to_date("warc_ts")).cache()
    sdf.count()
    return sdf, docs


def test_real_html_mode_matches_random_mode_elsewhere(spark, docs_real_html):
    """html_mode only changes the html column — urls/ts/lang/text identical."""
    from slower_whisper_spark.datagen import generate_docs

    _, docs = docs_real_html
    rand, _, _ = generate_docs(3000, seed=42, html_mode="random")
    assert list(rand["url"]) == list(docs["url"])
    assert list(rand["text"]) == list(docs["text"])
    assert list(rand["warc_ts"]) == list(docs["warc_ts"])
    assert list(rand["lang"].fillna("~")) == list(docs["lang"].fillna("~"))


def test_extraction_invariant_rule_flags_exactly_mutated_rows(spark, docs_real_html):
    from slower_whisper_spark import ConstraintSuite
    from slower_whisper_spark.rules.invariant import ExtractionInvariant

    sdf, docs = docs_real_html
    suite = ConstraintSuite("ext", [ExtractionInvariant()])
    res = suite.validate(sdf, key_col="url", partition_col="warc_day", violation_limit=10_000)
    viol = res.violations.toPandas()
    got = sorted(viol["key"])

    # ground truth from pandas: rows whose text was mutated after rendering
    want = sorted(docs.loc[docs["text"].str.endswith(" [CORRUPTED]"), "url"])
    assert got == want
    assert len(got) > 0


def test_extraction_invariant_spec_roundtrip(spark, docs_real_html):
    from slower_whisper_spark import ConstraintSuite
    from slower_whisper_spark.migrate import suite_from_spec
    from slower_whisper_spark.rules.invariant import ExtractionInvariant

    sdf, _ = docs_real_html
    s1 = ConstraintSuite("ext", [ExtractionInvariant()])
    s2 = suite_from_spec(s1.spec())
    assert s2.suite_hash == s1.suite_hash
    r1 = s1.validate(sdf, key_col="url", partition_col="warc_day")
    r2 = s2.validate(sdf, key_col="url", partition_col="warc_day")
    assert (
        r1.verdicts.orderBy("partition", "rule_id").collect()
        == r2.verdicts.orderBy("partition", "rule_id").collect()
    )


def test_extraction_invariant_is_scan_local(spark, docs_real_html):
    """The rule's pass-1 plan must contain no shuffle for the predicate
    itself beyond the final verdict aggregate, and no Python eval."""
    from slower_whisper_spark.rules.invariant import ExtractionInvariant

    sdf, _ = docs_real_html
    rule = ExtractionInvariant()
    plan = sdf.select(rule.predicate().alias("ok")).sample(1.0)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan
