"""Dedup / similarity / sessionization / as-of operators, verified against
exact oracles (brute force or DuckDB)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from slower_whisper_spark.operators import (
    asof_join,
    cosine_topk,
    drop_exact_duplicates,
    exact_duplicate_groups,
    jaccard_pairs,
    lsh_bucketed_topk,
    minhash_lsh_candidates,
    monotonic_gaps,
    sessionize,
    simhash_near_duplicates,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def dup_docs(spark):
    """documents + injected near/exact duplicates with known ids."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    base = docs.limit(50).collect()
    extra = []
    nid = 100_000
    for r in base[:5]:  # exact duplicates
        extra.append((nid, r["text"]))
        nid += 1
    for r in base[5:10]:  # near duplicates: append two words (~95% jaccard on long docs)
        extra.append((nid, r["text"] + " extra token"))
        nid += 1
    extra_df = spark.createDataFrame(extra, "doc_id long, text string")
    return docs.unionByName(extra_df).cache()


def test_exact_dedup(dup_docs):
    groups = exact_duplicate_groups(dup_docs, "text", "doc_id").toPandas()
    injected = {100_000, 100_001, 100_002, 100_003, 100_004}
    found = {i for ids in groups["doc_ids"] for i in ids if i >= 100_000}
    assert injected <= found
    total = dup_docs.count()
    deduped = drop_exact_duplicates(dup_docs, "text", "doc_id")
    n_dup_rows = int((groups["n_docs"] - 1).sum())
    assert deduped.count() == total - n_dup_rows
    # keeps the lowest id of each group
    kept_ids = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    for ids in groups["doc_ids"]:
        assert min(ids) in kept_ids and not (set(ids) - {min(ids)}) & kept_ids


def test_minhash_lsh_finds_near_dups_vs_exact_jaccard(dup_docs):
    # exact oracle: all pairs with true jaccard >= 0.7
    exact = jaccard_pairs(dup_docs, "text", "doc_id", threshold=0.7).toPandas()
    exact_pairs = {(a, b) for a, b in zip(exact["id_a"], exact["id_b"])}
    assert len(exact_pairs) >= 10  # 5 exact + 5 near injected

    cand = minhash_lsh_candidates(dup_docs, "text", "doc_id", num_hashes=64, bands=16)
    verified = jaccard_pairs(dup_docs, "text", "doc_id", threshold=0.7, candidates=cand).toPandas()
    got_pairs = {(a, b) for a, b in zip(verified["id_a"], verified["id_b"])}
    # verified LSH output must be a subset of truth, with high recall
    assert got_pairs <= exact_pairs
    assert len(got_pairs) >= 0.9 * len(exact_pairs)


def test_simhash_near_duplicates(dup_docs):
    pairs = simhash_near_duplicates(dup_docs, "text", "doc_id", max_hamming=6).toPandas()
    got = {(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])}
    # exact duplicates have hamming 0 → must all be found
    for i, orig in enumerate(range(5)):
        pass
    exact_ids = [(r["id_a"], r["id_b"]) for _, r in pairs.iterrows() if r["hamming"] == 0]
    assert len(exact_ids) >= 5
    assert (pairs["hamming"] <= 6).all()


def test_cosine_topk_matches_duckdb(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    got = cosine_topk(emb, queries, k=5).toPandas().sort_values(["query_id", "rank"])

    con = duckdb.connect()
    oracle = con.sql(
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
                   FROM '{SF}/embeddings.parquet'),
        q AS (SELECT * FROM e WHERE vec_id < 5),
        scored AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding, e.embedding) AS cos
          FROM q, e WHERE q.vec_id <> e.vec_id
        )
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank
        """
    ).df()
    assert list(got["neighbor_id"]) == list(oracle["neighbor_id"])
    assert (abs(got["cos"].values - oracle["cos"].values) < 1e-7).all()


def test_cosine_topk_skips_null_string_ids(spark):
    """A corpus row with a NULL id is never a neighbour, and must not break
    the kernel's (cos, id) sort when ids are strings."""
    corpus = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), (None, [0.95, 0.05]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    ).coalesce(1)
    queries = corpus.filter(F.col("vec_id") == "a")
    got = cosine_topk(corpus, queries, k=3).orderBy("rank").collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in got] == [
        ("a", "b", 1),
        ("a", "c", 2),
    ]


def test_cosine_topk_refuses_query_sets_past_the_cap(spark):
    """Past _QUERY_MATRIX_CAP (10,000) query rows cosine_topk raises and
    names the ANN operators, instead of scoring every (query, corpus) pair."""
    corpus = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    queries = spark.range(10_001).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0), F.lit(0.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="lsh_bucketed_topk or ivf_topk"):
        cosine_topk(corpus, queries, k=3)


def test_lsh_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    approx = lsh_bucketed_topk(
        emb, queries, k=10, n_planes=4, n_tables=16, seed=7
    ).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 10 for q in exact_sets.index
    ]
    assert sum(recalls) / len(recalls) >= 0.6  # ANN tradeoff, seeded → deterministic


def test_sessionize_matches_duckdb(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = (
        sessionize(ev, key_col="user_id", ts_col="ts", gap_seconds=1800)
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        WITH t AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS brk
          FROM '{SF}/events.parquet' WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        )
        SELECT user_id, count(DISTINCT sid) AS n_sessions FROM (
          SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid FROM t)
        GROUP BY user_id ORDER BY user_id
        """
    ).df()
    assert list(got["n_sessions"]) == list(oracle["n_sessions"])


def test_monotonic_gaps(spark):
    df = spark.createDataFrame(
        [("s1", 1), ("s1", 2), ("s1", 5), ("s2", 1), ("s2", 2)], "stream string, eid long"
    )
    gaps = monotonic_gaps(df, key_col="stream", id_col="eid").toPandas()
    assert len(gaps) == 1
    assert gaps.iloc[0]["key"] == "s1" and gaps.iloc[0]["missing"] == 2


def test_asof_join_matches_duckdb(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts"), F.col("event_id").alias("signup_event_id")
    )
    got = (
        asof_join(
            left,
            right,
            key_col="user_id",
            left_ts="ts",
            right_ts="signup_ts",
            right_cols=["signup_event_id"],
        )
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        WITH e AS (SELECT * FROM '{SF}/events.parquet'),
        s AS (SELECT user_id, ts AS signup_ts, event_id AS signup_event_id
              FROM e WHERE event_type = 'signup')
        SELECT e.event_id, s.signup_event_id
        FROM e ASOF LEFT JOIN s
          ON e.user_id = s.user_id AND e.ts >= s.signup_ts
        ORDER BY e.event_id
        """
    ).df()
    import pandas as pd

    assert len(got) == len(oracle)
    g = got["asof_signup_event_id"].astype("float")
    o = oracle["signup_event_id"].astype("float")
    assert ((g == o) | (g.isna() & o.isna())).all()


def test_interval_bucketing_equals_plain_join(spark):
    """Bucketed range join (hot-key scale path) must emit exactly the plain
    per-key join's pair set — including intervals spanning many buckets."""
    from slower_whisper_spark.operators.sessionize import interval_overlap_pairs
    import random

    rng = random.Random(7)
    rows = []
    # hot key: 300 intervals in a narrow window (lots of overlap)
    for i in range(300):
        s = rng.uniform(0, 500.0)
        rows.append(("hot", i, s, s + rng.uniform(0.1, 50.0)))
    # long intervals spanning many buckets + sparse keys
    for i in range(300, 320):
        s = rng.uniform(0, 10_000.0)
        rows.append(("k" + str(i % 5), i, s, s + rng.uniform(100.0, 5_000.0)))
    df = spark.createDataFrame(rows, "k string, id long, s double, e double")

    def pairset(bw):
        out = interval_overlap_pairs(
            df, key_col="k", id_col="id", start_col="s", end_col="e", bucket_width=bw
        )
        return {(r["k"], r["id_a"], r["id_b"], round(r["overlap"], 9)) for r in out.collect()}

    plain = pairset(None)
    assert len(plain) > 1000  # the hot key really is hot
    for bw in (60.0, 1000.0, 1e9):
        assert pairset(bw) == plain


def test_ivf_recall_vs_bruteforce(spark):
    """IVF cells + n_probe probing: recall vs exact top-10 grows with
    n_probe; full probing (n_probe = n_centroids) is exact."""
    from slower_whisper_spark.operators import cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, queries, k=10).toPandas()
    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)

    def recall(n_probe):
        approx = ivf_topk(
            emb, queries, k=10, n_centroids=16, n_probe=n_probe, seed=7
        ).toPandas()
        sets = approx.groupby("query_id")["neighbor_id"].apply(set)
        return sum(
            len(exact_sets[q] & sets.get(q, set())) / 10 for q in exact_sets.index
        ) / len(exact_sets.index)

    # on UNCLUSTERED (near-uniform) vectors, training-free centroids give
    # modest recall at low n_probe — the property that matters is monotone
    # recall in n_probe and exactness at full probing
    r4, r8 = recall(4), recall(8)
    assert r4 >= 0.3
    assert r8 >= r4
    assert recall(16) == 1.0  # probing every cell degenerates to exact


def test_degenerate_long_interval_no_bucket_blowup(spark):
    """An interval spanning ~10^9 buckets must NOT explode to 10^9 rows: it
    routes through the plain per-key join (exact, nothing dropped) while
    normal intervals stay bucketed. Result must equal the unbucketed path."""
    from slower_whisper_spark.operators.sessionize import interval_overlap_pairs

    rows = [("k", i, float(i * 10), float(i * 10 + 15)) for i in range(50)]
    rows.append(("k", 100, 0.0, 2_000_000_000.0))  # degenerate: 2e9 buckets at width 1
    rows.append(("k", 101, 5.0, 1_500_000_000.0))  # second long one (long×long pair)
    df = spark.createDataFrame(rows, "k string, id long, s double, e double")

    def pairset(bw):
        out = interval_overlap_pairs(
            df, key_col="k", id_col="id", start_col="s", end_col="e", bucket_width=bw
        )
        return {(r["k"], r["id_a"], r["id_b"], round(r["overlap"], 9)) for r in out.collect()}

    plain = pairset(None)
    assert pairset(1.0) == plain  # completes (guard engaged) and stays exact
    # both long intervals overlap everything incl. each other
    assert ("k", 100, 101, 1_499_999_995.0) in plain


def test_trained_ivf_centroids_beat_seeded(spark):
    """Distributed-kmeans centroids on a CLUSTERED corpus: recall@10 at
    n_probe=1 must beat training-free seeded centroids — trained cells
    recover the true clusters (each query's whole neighbourhood lives in
    one cell), random directions split them. Deterministic seeds."""
    import numpy as np
    from slower_whisper_spark.operators import cosine_topk, ivf_topk
    from slower_whisper_spark.operators.similarity import train_ivf_centroids_distributed

    rng = np.random.RandomState(3)
    centers = rng.normal(size=(16, 16)) * 4.0
    X = np.vstack([c + rng.normal(size=(125, 16)) for c in centers])  # 2000 vecs, 16 clusters
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))], "vec_id long, embedding array<double>"
    ).cache()
    queries = emb.filter(F.col("vec_id") % 100 == 0)  # 20 queries across clusters
    exact_sets = (
        cosine_topk(emb, queries, k=10).toPandas().groupby("query_id")["neighbor_id"].apply(set)
    )

    def recall(centroids):
        approx = ivf_topk(
            emb, queries, k=10, n_centroids=16, n_probe=1, seed=7, dim=16, centroids=centroids
        ).toPandas()
        sets = approx.groupby("query_id")["neighbor_id"].apply(set)
        return sum(
            len(exact_sets[q] & sets.get(q, set())) / 10 for q in exact_sets.index
        ) / len(exact_sets.index)

    # distributed Lloyd: mapInPandas partials, no vectors on the Spark driver
    dist = train_ivf_centroids_distributed(
        emb, vec_col="embedding", n_centroids=16, n_iter=10, seed=7, dim=16
    )
    r_seeded, r_dist = recall(None), recall(dist)
    assert r_dist > r_seeded, (r_dist, r_seeded)
    assert r_dist >= 0.9, r_dist  # kmeans recovers the 16 true clusters


def test_distributed_kmeans_exact_mode_bit_identical(spark):
    """exact=True makes the trained centroids a pure function of the vector
    multiset: the fixed-point int64 partial sums are associative, so the
    cluster job's result must be BIT-IDENTICAL to the single-process local
    replay regardless of partitioning — the property the
    ivf_train_distributed oracle row rests on."""
    import numpy as np

    from slower_whisper_spark.operators.similarity import (
        train_ivf_centroids_distributed,
        train_ivf_centroids_exact_local,
    )

    rng = np.random.RandomState(11)
    X = rng.normal(size=(600, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    local = train_ivf_centroids_exact_local(X, n_centroids=8, n_iter=4, seed=3)
    for n_parts in (1, 7):  # different batch boundaries must not matter
        dist = train_ivf_centroids_distributed(
            emb.repartition(n_parts), n_centroids=8, n_iter=4, seed=3, dim=16, exact=True
        )
        assert np.array_equal(dist, local), np.abs(dist - local).max()


def test_jaccard_prune_stats_and_persisted(spark):
    """'No silent caps': with max_df active, stats_out reports how many
    shingles pruning removed (and a pruned run still verifies exactly on
    survivors); the persisted list receives internally cached DataFrames
    for caller unpersist."""
    rows = [(i, f"common shingle words here unique{i} tail{i} more{i}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats: dict = {}
    out = jaccard_pairs(df, "text", "doc_id", threshold=0.9, max_df=5, stats_out=stats)
    out.collect()
    # 'common shingle words'/'shingle words here' appear in all 10 docs
    assert stats["stop_shingles_pruned"] >= 1

    # no pruning triggered → stats report zero
    stats2: dict = {}
    jaccard_pairs(df, "text", "doc_id", threshold=0.9, max_df=100, stats_out=stats2)
    assert stats2["stop_shingles_pruned"] == 0

    held: list = []
    cand = minhash_lsh_candidates(df, "text", "doc_id", num_hashes=16, bands=8)
    verified = jaccard_pairs(df, "text", "doc_id", threshold=0.9, candidates=cand, persisted=held)
    verified.collect()
    # candidate pair set only: the band-rows persist is gone (the windowed
    # bucket guard makes both self-join sides one reusable exchange)
    assert len(held) == 1
    for d in held:
        assert d.storageLevel.useMemory  # actually persisted
        d.unpersist()


def test_embedding_neardup_bucket_guard(spark):
    """Scale guard: a low-entropy corpus (one giant clique of near-identical
    vectors — the expected input for a near-dup pass) must NOT send the LSH
    bucket self-join quadratic. Buckets over max_bucket_size are dropped
    (windowed count over the join keys, mirroring minhash_lsh_candidates;
    exact dropped count opt-in via stats_out); cliques under the cap verify
    exactly."""
    import numpy as np
    from slower_whisper_spark.operators import embedding_near_duplicates

    rng = np.random.RandomState(11)
    base_a = rng.normal(size=8)
    base_b = rng.normal(size=8)
    rows = []
    # big clique: 600 copies of base_a → every table's bucket holds 600 > cap
    for i in range(600):
        rows.append((i, [float(x) for x in base_a]))
    # small clique: 30 copies of base_b → under the cap, must survive intact
    for i in range(600, 630):
        rows.append((i, [float(x) for x in base_b]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    stats: dict = {}
    out = embedding_near_duplicates(
        df, threshold=0.99, n_planes=4, n_tables=4, seed=5, dim=8, max_bucket_size=200,
        stats_out=stats,
    ).toPandas()
    # opt-in drop accounting: the 600-clique over-caps its bucket in all 4 tables
    assert stats["buckets_dropped"] == 4, stats
    # identical vectors share EVERY table's bucket, so the big clique's
    # buckets are all over-cap → dropped; the small clique's 30·29/2 pairs
    # all survive and verify at cos=1
    small_ids = set(range(600, 630))
    assert len(out) == 30 * 29 // 2, len(out)
    assert set(out["id_a"]).issubset(small_ids) and set(out["id_b"]).issubset(small_ids)

    # guard is a no-op when nothing exceeds the cap: same pair set either way
    capped = embedding_near_duplicates(
        df.filter(F.col("vec_id") >= 600), threshold=0.99, n_planes=4, n_tables=4,
        seed=5, dim=8, max_bucket_size=200,
    ).toPandas()
    unguarded = embedding_near_duplicates(
        df.filter(F.col("vec_id") >= 600), threshold=0.99, n_planes=4, n_tables=4,
        seed=5, dim=8, max_bucket_size=None,
    ).toPandas()
    key = lambda p: sorted(map(tuple, p[["id_a", "id_b"]].to_numpy()))
    assert key(capped) == key(unguarded)


def test_cosine_pair_zero_norm_is_null(spark):
    """Zero-norm vectors must produce NULL cosine, not NaN: Spark orders NaN
    larger than any number, so NaN would pass `cos >= t` filters and rank
    FIRST in top-k desc windows. NULL is filtered by >= and sorts last."""
    from slower_whisper_spark.functions.vectorized import make_cosine_pair

    cos = make_cosine_pair()
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, [1.0, 0.0], [0.0, 0.0]),  # zero-norm right side
            (3, [0.0, 0.0], [0.0, 0.0]),  # both zero
        ],
        "id long, a array<double>, b array<double>",
    )
    got = {r["id"]: r["c"] for r in df.select("id", cos("a", "b").alias("c")).collect()}
    assert got[1] == pytest.approx(1.0)
    assert got[2] is None and got[3] is None
    # a >= filter excludes the zero-norm rows (NaN would have passed)
    kept = df.select("id", cos("a", "b").alias("c")).filter(F.col("c") >= 0.5)
    assert {r["id"] for r in kept.collect()} == {1}
    # and embedding_near_duplicates never pairs a zero vector
    from slower_whisper_spark.operators import embedding_near_duplicates

    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, [0.0] * 8), (4, [0.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_near_duplicates(
        emb, threshold=0.9, n_planes=2, n_tables=2, seed=1, dim=8, max_bucket_size=None
    ).toPandas()
    assert sorted(map(tuple, pairs[["id_a", "id_b"]].to_numpy())) == [(1, 2)]


def _uf_components(n_nodes_edges):
    """Ground-truth union-find over an explicit edge list → {node: min-id}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in n_nodes_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_connected_components_vs_union_find(spark):
    """Chains (pointer-jump path), cliques, stars, and cross-links must all
    resolve to the union-find ground truth, for any input partitioning."""
    from slower_whisper_spark.operators import connected_components

    edges = (
        [(i, i + 1) for i in range(10, 30)]        # 21-node chain
        + [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]  # clique
        + [(200, 200 + k) for k in range(1, 7)]     # star
        + [(29, 104), (206, 300)]                   # cross-links merge groups
        + [(400, 401)]                              # tiny pair
    )
    want = _uf_components(edges)
    for n_parts in (1, 7):
        df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(n_parts)
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df, max_iter=10).collect()
        }
        assert got == want, n_parts


def test_neardup_clusters_keeps_isolated_docs(spark):
    """Docs with no near-dup pair are their own singleton component and are
    the representative; paired docs keep only the min id as rep."""
    from slower_whisper_spark.operators import neardup_clusters

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "id_a long, id_b long")
    out = {
        r["doc_id"]: (r["component"], r["is_rep"])
        for r in neardup_clusters(docs, pairs).collect()
    }
    assert out == {
        0: (0, 1), 1: (1, 1), 2: (2, 1), 3: (1, 0), 4: (4, 1), 5: (1, 0),
    }


def test_connected_components_converges_fast_on_long_path(spark):
    """A 200-node path must converge within ~log2(200)+2 rounds thanks to
    pointer jumping (plain one-hop min propagation would need ~200)."""
    from slower_whisper_spark.operators import connected_components

    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = connected_components(df, max_iter=12).agg(
        {"comp": "max"}
    ).collect()[0][0]
    assert got == 0  # every node labeled with the path's min id
