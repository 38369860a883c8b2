"""Host web graph + PageRank (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from slower_whisper_spark.operators.graph import host_link_edges, pagerank


def test_extract_and_host_edges(spark):
    pages = spark.createDataFrame(
        [
            (
                "https://a.org/p",
                '<a href="https://b.org/x">1</a><a href="https://b.org/y">2</a>'
                '<a href="/relative">3</a><a href="https://c.org/">4</a>',
            ),
            ("https://b.org/q", '<a href="https://a.org/z">5</a>'),
        ],
        "url string, html string",
    )
    got = {(r.src, r.dst): r.w for r in host_link_edges(pages).collect()}
    # relative link dropped; b.org counted twice from a.org
    assert got == {("a.org", "b.org"): 2, ("a.org", "c.org"): 1, ("b.org", "a.org"): 1}


def test_pagerank_known_graph(spark):
    # two nodes pointing at each other -> symmetric, rank 0.5 each at
    # every iteration; a third dangling-source chain shifts mass
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1)], "src string, dst string, w long"
    )
    got = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert abs(got["a"] - 0.5) < 1e-9 and abs(got["b"] - 0.5) < 1e-9

    chain = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "b", 1)],
        "src string, dst string, w long",
    )
    r = {x.node: x.rank for x in pagerank(chain, iterations=20).collect()}
    # b and c trade the bulk of the mass; a keeps only the base term
    assert r["a"] < r["c"] < r["b"]
    assert abs(r["a"] - (1 - 0.85) / 3) < 1e-9


def test_pagerank_weighted_split(spark):
    # a splits 3:1 between b and c in one iteration
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, w long",
    )
    r = {x.node: x.rank for x in pagerank(edges, iterations=1).collect()}
    base = 0.15 / 3
    third = 1.0 / 3
    assert abs(r["b"] - (base + 0.85 * third * 0.75)) < 1e-9
    assert abs(r["c"] - (base + 0.85 * third * 0.25)) < 1e-9


def test_harmonic_centrality_chain(spark):
    # a -> b -> c -> d: H(b)=1, H(c)=1+1/2, H(d)=1+1/2+1/3 (depth 3)
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    from slower_whisper_spark.operators.graph import harmonic_centrality

    got = {r.node: round(r.harmonic, 9) for r in
           harmonic_centrality(edges, max_depth=3).collect()}
    assert got == {
        "b": 1.0,
        "c": round(1 + 1 / 2, 9),
        "d": round(1 + 1 / 2 + 1 / 3, 9),
    }
    # depth cap: at max_depth=2, d never sees the 3-hop path from a
    got2 = {r.node: round(r.harmonic, 9) for r in
            harmonic_centrality(edges, max_depth=2).collect()}
    assert got2["d"] == round(1 + 1 / 2, 9)


def test_harmonic_cycle_min_distance(spark):
    # 2-cycle plus a shortcut: min() must keep the 1-hop distance even
    # after longer rediscoveries
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "a", 1), ("a", "a", 1)],
        "src string, dst string, w long",
    )
    from slower_whisper_spark.operators.graph import harmonic_centrality

    got = {r.node: r.harmonic for r in
           harmonic_centrality(edges, max_depth=4).collect()}
    # self-loop pair excluded; each node reaches the other at d=1
    assert got == {"a": 1.0, "b": 1.0}


def test_pagerank_checkpoint_same_result(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1)],
        "src string, dst string, w long",
    )
    from slower_whisper_spark.operators.graph import pagerank

    plain = {r.node: round(r.rank, 12) for r in
             pagerank(edges, iterations=12).collect()}
    ck = {r.node: round(r.rank, 12) for r in
          pagerank(edges, iterations=12, checkpoint_every=4).collect()}
    assert plain == ck
