"""Boilerplate-paragraph dedup (operators/dedup.py:paragraph_dedup)."""

from __future__ import annotations

from slower_whisper_spark.operators.dedup import paragraph_dedup


def test_boilerplate_removed_order_kept(spark):
    rows = [
        (1, "unique alpha\nSUBSCRIBE now\nunique beta"),
        (2, "subscribe NOW \nown two text"),      # normalized match of doc 1's line
        (3, "own three text\n\n  \nsubscribe now"),  # blanks dropped
        (4, "all mine here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert got[1].text_dedup == "unique alpha\nunique beta"
    assert (got[1].n_paras, got[1].n_kept, got[1].n_removed) == (3, 2, 1)
    assert got[2].text_dedup == "own two text"
    assert got[3].text_dedup == "own three text" and got[3].n_paras == 2
    assert got[4] .text_dedup == "all mine here" and got[4].n_removed == 0


def test_all_boilerplate_doc_survives_empty(spark):
    rows = [(1, "same line"), (2, "same line"), (3, "same line\nmine")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert got[1].text_dedup == "" and got[1].n_kept == 0 and got[1].n_removed == 1
    assert got[3].text_dedup == "mine"


def test_min_docs_threshold_and_case_folding(spark):
    rows = [(1, "Line A\nx"), (2, "line a \ny"), (3, "Line A\nz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # case and edge whitespace fold: 'Line A' appears in all three docs
    got = {r.doc_id: r for r in paragraph_dedup(df, min_docs=3).collect()}
    assert [got[i].text_dedup for i in (1, 2, 3)] == ["x", "y", "z"]
    # raising min_docs above the max doc-frequency keeps everything
    got3 = {r.doc_id: r for r in paragraph_dedup(df, min_docs=4).collect()}
    assert all(g.n_removed == 0 for g in got3.values())

