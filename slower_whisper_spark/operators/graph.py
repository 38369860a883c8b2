"""Host-level web graph: outlink edges from page html and PageRank over
them — the Common Crawl host-graph/host-rank analog (CC publishes exactly
this artifact per crawl), and the engine's example of an ITERATIVE
DataFrame algorithm done Spark-first.

Engine analog of the reference's cross-record linkage analytics (ref:
historian/analyzers — cross-conversation aggregation over record
references), lifted to the crawl's natural graph.

Scale design:
* Edge building is scan-local (regexp link extraction + host projection,
  one explode); the edge list aggregates once on (src, dst).
* PageRank iterations are join→agg rounds on the HOST graph — 10^7-ish
  nodes, orders of magnitude below page count — with the rank vector and
  out-degree table both tiny relative to the corpus. Each iteration is
  one shuffle of (dst, contribution) partials.
* A fixed iteration count keeps the plan finite; for deep iteration
  counts, checkpoint the rank DataFrame every ~5 rounds to cut lineage
  (documented — the standard Spark iterative-algorithm discipline).
* Simplified update (documented): dangling-node mass is NOT
  redistributed — rank_(t+1)(v) = (1-d)/N + d·Σ_in rank_t(u)·w_uv/out(u).
  Host graphs built from "every page links out" corpora have no dangling
  hosts; callers with dangling nodes should add the uniform correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_link_edges(
    pages: DataFrame, *, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(src, dst, w) host-level weighted edges from page html: src = the
    page's host, dst = each absolute outlink's host (relative links — no
    parseable host — are dropped), w = link count. Scan-local until the
    single (src, dst) aggregate."""
    from slower_whisper_spark.functions.html import extract_links
    from slower_whisper_spark.functions.url import url_host

    links = pages.select(
        url_host(url_col).alias("src"),
        F.explode(extract_links(html_col)).alias("_link"),
    )
    edges = links.select("src", url_host(F.col("_link")).alias("dst")).where(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = "w",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 0,
) -> DataFrame:
    """Weighted PageRank, fixed iterations → ``(node, rank)``.

    Deterministic given the edge multiset (float-sum ordering noise is
    below round-6; consumers should round for comparisons). One driver
    scalar (node count); everything else stays distributed.
    ``checkpoint_every=N`` localCheckpoints the rank vector every N
    rounds — REQUIRED for deep iteration counts, where the join-per-round
    lineage otherwise grows linearly and re-plans quadratically.
    """
    w = F.col(weight) if weight else F.lit(1)
    ew = edges.groupBy(F.col(src).alias("src"), F.col(dst).alias("dst")).agg(
        F.sum(w).cast("double").alias("w")
    )
    nodes = (
        ew.select(F.col("src").alias("node"))
        .unionByName(ew.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(None).cast("double"))
    outdeg = ew.groupBy("src").agg(F.sum("w").alias("od"))
    frac = ew.join(outdeg, "src").select(
        "src", "dst", (F.col("w") / F.col("od")).alias("frac")
    )
    base = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for it in range(int(iterations)):
        if checkpoint_every and it and it % int(checkpoint_every) == 0:
            ranks = ranks.localCheckpoint(eager=True)
        contribs = (
            frac.join(ranks, frac["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                "rank"
            ),
        )
    return ranks


def harmonic_centrality(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 4,
) -> DataFrame:
    """Exact bounded-depth harmonic centrality — the OTHER host-graph
    artifact Common Crawl publishes per crawl: H(v) = Σ 1/d(u,v) over
    nodes u that reach v within ``max_depth`` unweighted directed hops.

    Iterative frontier expansion as join→min-agg rounds (same discipline
    as ``pagerank``): distances table (u, v, d) grows by one hop per
    round and re-minimizes, so a revisit never shortens below the true
    distance. Exact form is for host-graph scale (nodes ≪ pages; the
    distance table is O(reachable pairs within D)); at 10^9-node scale the
    standard swap-in is HyperBall (Boldi–Vigna: per-node HLL neighborhood
    counters), which this bounded-depth API is shaped to accept. Output: ``(node, harmonic)`` for nodes with at
    least one in-path; 1/d sums as double — consumers round for
    comparisons."""
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_t")).distinct()
    dist = e.select(
        F.col("_s").alias("u"), F.col("_t").alias("v"), F.lit(1).alias("d")
    ).distinct()
    for k in range(2, int(max_depth) + 1):
        frontier = dist.where(F.col("d") == k - 1)
        nxt = (
            frontier.join(e, frontier["v"] == e["_s"])
            .select("u", F.col("_t").alias("v"), F.lit(k).alias("d"))
        )
        dist = (
            dist.unionByName(nxt)
            .groupBy("u", "v")
            .agg(F.min("d").alias("d"))
        )
    return (
        dist.where(F.col("u") != F.col("v"))
        .groupBy(F.col("v").alias("node"))
        .agg(F.sum(F.lit(1.0) / F.col("d")).alias("harmonic"))
    )
