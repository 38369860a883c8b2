"""Similarity search over embedding columns (array<float>).

  * ``cosine_topk``        — brute-force exact top-k: collect the (small)
    query set into a driver matrix, cosine via one numpy matmul per Arrow
    batch of the corpus, rank per query. The exactness baseline.
  * ``lsh_bucketed_topk``  — random-hyperplane LSH scale path: seeded
    hyperplanes → sign-bit bucket key → candidates share a bucket in ≥1
    table → exact cosine re-rank on the (much smaller) candidate set.
    Recall < 1.0 by design; tested against the brute-force oracle.
  * ``ivf_topk`` / ``ivf_topk_partitioned`` — IVF scale path: corpus
    vectors route to one centroid cell, queries probe ``n_probe`` cells,
    exact cosine re-ranks the probed candidates.
  * ``embedding_near_duplicates`` — pairs above a cosine threshold.

At 100 TB the corpus side streams (no shuffle: the query set/hyperplanes are
broadcast literals) and only candidates hit the re-rank join. The ANN
operators re-rank with the pair kernel (``make_cosine_pair``), which scores
only the candidate pairs; the matrix kernel of ``cosine_topk`` scores every
corpus row against every query.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


def _pair_cos(a, b, compute_dtype: str = "float64") -> F.Column:
    from slower_whisper_spark.functions.vectorized import make_cosine_pair

    return make_cosine_pair(compute_dtype)(a, b)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The first ``k`` rows per ``query_id`` of (query_id, neighbor_id, cos)
    in the operators' one total order, (cos DESC NULLS LAST, neighbor_id
    ASC), numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# the matrix kernel collects the query set to the driver (bounded collect —
# the same pattern as the stop-shingle set): 10^4 × 64-dim float64 is ~5 MB
_QUERY_MATRIX_CAP = 10_000


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k neighbours per query: (query_id, neighbor_id, cos, rank).

    queries is expected to be small; corpus streams. A query set of more
    than ``_QUERY_MATRIX_CAP`` (10,000) rows raises ``ValueError``: exact
    scoring of that many queries is |corpus| × |queries| work, the shape
    ``lsh_bucketed_topk`` and ``ivf_topk`` exist for.

    Eager: the query set is collected to the Spark driver when this
    function is CALLED (one Spark job before the returned DataFrame runs),
    and the cap bounds it in rows, not bytes — wide vectors make it
    proportionally larger.

    Plan shape (guide §4.1/§2.3): the query set is collected once into a
    numpy matrix captured by a ``mapInPandas`` kernel over the CORPUS alone,
    so each corpus vector crosses the Arrow boundary exactly ONCE, and one
    dgemm per batch scores every query. The kernel also pre-reduces to an
    exact per-batch top-k per query under the same total order the window
    uses — (cos DESC NULLS LAST, neighbor_id ASC) — so the global window
    ranks batches × queries × k rows instead of |corpus| × |queries|.
    Zero-norm vectors keep the NULL-cos semantics of the pair kernel (sort
    last, never rank above a number).
    """
    q_probe = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    q_rows = q_probe.limit(_QUERY_MATRIX_CAP + 1).collect()
    if len(q_rows) > _QUERY_MATRIX_CAP:
        raise ValueError(
            f"cosine_topk: more than {_QUERY_MATRIX_CAP} query rows; exact "
            "top-k is for small query sets — use lsh_bucketed_topk or ivf_topk"
        )

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    nid_t = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, neighbor_id {nid_t}, cos double"
    # a NULL id cannot be a neighbour (and would break the kernel's id sort)
    narrow = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    ).filter(F.col("neighbor_id").isNotNull())
    spark = corpus.sparkSession
    if not q_rows:
        scored = spark.createDataFrame([], out_schema)
    else:
        import pandas as pd

        q_ids = [r["query_id"] for r in q_rows]
        Q = np.array([list(r["__qv"]) for r in q_rows], dtype=np.float64)  # (q, d)
        qn = np.linalg.norm(Q, axis=1)
        Qt = np.ascontiguousarray(Q.T)

        def part_topk(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = np.array(pdf["__cv"].tolist(), dtype=np.float64)  # (b, d)
                nids = pdf["neighbor_id"].to_numpy()
                num = C @ Qt
                den = np.linalg.norm(C, axis=1)[:, None] * qn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = num / den
                out_q: list = []
                out_n: list = []
                out_c: list = []
                for j, qid in enumerate(q_ids):
                    col = cos[:, j]
                    mask = nids != qid if exclude_self else np.ones(len(col), bool)
                    finite = np.flatnonzero(mask & np.isfinite(col))
                    if len(finite):
                        sel = finite[np.lexsort((nids[finite], -col[finite]))][:k]
                        out_q += [qid] * len(sel)
                        out_n += list(nids[sel])
                        out_c += [float(x) for x in col[sel]]
                    nonf = np.flatnonzero(mask & ~np.isfinite(col))
                    if len(nonf):
                        sel = nonf[np.argsort(nids[nonf], kind="stable")][:k]
                        out_q += [qid] * len(sel)
                        out_n += list(nids[sel])
                        out_c += [None] * len(sel)
                yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cos": out_c})

        scored = narrow.mapInPandas(part_topk, out_schema)
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_tables, n_planes, dim)).astype(float)


def _vec_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality: the explicit parameter when given, else one
    bounded ``first()`` probe (arrays carry no length in the schema). Callers
    on fixed-dim corpora should pass ``dim`` — it removes a driver round-trip
    per operator call."""
    if dim is not None:
        return dim
    return len(df.select(vec_col).first()[0])


def _bucket_rows(df: DataFrame, id_col: str, out_id: str, vec_col: str, bucket_udf) -> DataFrame:
    """(out_id, table, bucket): one row per LSH table a vector hashes into.
    Native (float32) vectors go to the UDF — numpy upcasts to float64 INSIDE
    the kernel (exact widening, identical results to a Spark cast), so the
    Arrow transfer moves half the bytes."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(bucket_udf(F.col(vec_col))).alias("table", "bucket"),
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
    rerank_dtype: str = "float64",
) -> DataFrame:
    """ANN top-k: candidates share an LSH bucket in ≥1 of n_tables, exact
    cosine re-rank on candidates only.

    ``rerank_dtype="float32"`` runs the einsum kernel in single precision —
    half the bytes through the memory-bandwidth-bound re-rank (the measured
    limiter on wide candidate sets), at ~1e-7 relative score perturbation.
    Keep float64 wherever the top-k set is oracle-compared. Buckets come from one numpy-matmul
    Arrow UDF (all tables at once); the re-rank is the einsum kernel
    (``make_cosine_pair``) — Arrow-batched, never per-row Python.

    The multi-table candidate dedup runs over INT PAIRS ONLY — the bucket
    rows carry no vector payload, so the ``distinct()`` exchange shuffles
    ~16 bytes/row instead of the ~1 KB/row a 64-dim double array would cost
    (at 10^9 candidates that is ~50× shuffle volume). Vectors re-join after
    the dedup with the CORPUS STREAMING: the deduped candidate set is
    bounded by |queries| × candidates-per-query (the query side is small by
    this operator's contract), so it broadcasts — the corpus is never
    shuffled at any point in the plan (measured: the corpus-side sort-merge
    fallback cost 2× wall at 1M vectors / 2 cores)."""
    from slower_whisper_spark.functions.vectorized import make_lsh_buckets

    tables = _hyperplanes(_vec_dim(corpus, vec_col, dim), n_planes, n_tables, seed)
    bucket_udf = make_lsh_buckets(tables)
    cb = _bucket_rows(corpus, id_col, "neighbor_id", vec_col, bucket_udf)
    qb = _bucket_rows(queries, query_id_col, "query_id", vec_col, bucket_udf)
    cand = cb.join(F.broadcast(qb), ["table", "bucket"]).select("query_id", "neighbor_id").distinct()
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    qvec = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    scored = (
        cvec.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _pair_cos(F.col("__qv"), F.col("__cv"), rerank_dtype).alias("cos"),
        )
    )
    return _rank_topk(scored, k)


def _ivf_centroids(dim: int, n_centroids: int, seed: int) -> np.ndarray:
    """Training-free IVF centroids: seeded gaussian directions, row-
    normalized. Trained centroids come from
    ``train_ivf_centroids_distributed``; the cell-routing plan (assign →
    probe → re-rank) is identical, so the centroid source is swappable
    without touching the operator."""
    rng = np.random.RandomState(seed)
    c = rng.normal(size=(n_centroids, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _centroid_source(
    df: DataFrame, vec_col: str, dim: int | None, n_centroids: int, seed: int,
    centroids: np.ndarray | None,
) -> np.ndarray:
    """The IVF cells: the given ``centroids`` row-normalized, else the
    seeded ``_ivf_centroids`` at ``df``'s vector dimension."""
    if centroids is None:
        return _ivf_centroids(_vec_dim(df, vec_col, dim), n_centroids, seed)
    cents = np.asarray(centroids, dtype=float)
    return cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)


def _cell(cents: np.ndarray, vec_col: str) -> F.Column:
    """The one IVF cell a vector routes to (its nearest centroid)."""
    from slower_whisper_spark.functions.vectorized import make_ivf_assign

    return F.element_at(make_ivf_assign(cents, n_probe=1)(F.col(vec_col)), 1).alias("cell")


def _probes(queries: DataFrame, query_id_col: str, vec_col: str, cents: np.ndarray, n_probe: int) -> DataFrame:
    """(query_id, __qv, cell): one row per cell a query probes."""
    from slower_whisper_spark.functions.vectorized import make_ivf_assign

    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(make_ivf_assign(cents, n_probe=n_probe)(F.col(vec_col))).alias("cell"),
    )


def _ivf_rerank(cells: DataFrame, probes: DataFrame, k: int, exclude_self: bool) -> DataFrame:
    """Exact top-k over the probed cells: the corpus ``cells``
    (neighbor_id, __cv, cell) meet the broadcast ``probes`` on their cell,
    and the pair kernel re-ranks the candidates."""
    cand = cells.join(F.broadcast(probes), "cell").select("query_id", "neighbor_id", "__qv", "__cv")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.select(
        "query_id", "neighbor_id", _pair_cos(F.col("__qv"), F.col("__cv")).alias("cos")
    )
    return _rank_topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN top-k — the second scale path next to hyperplane LSH: corpus
    vectors route to their nearest centroid CELL (one cell each); each query
    probes its ``n_probe`` best cells; exact cosine re-ranks the union of
    probed cells. At 10^9+ vectors the corpus is effectively partitioned by
    cell (write it bucketed/partitioned by cell id for pruning); a probe
    touches n_probe/n_centroids of the data. Assignment is one numpy matmul
    per Arrow batch; recall grows with n_probe (tested vs brute force).

    ``centroids`` swaps in trained cells (see
    ``train_ivf_centroids_distributed``) — the routing plan is identical
    either way."""
    cents = _centroid_source(corpus, vec_col, dim, n_centroids, seed, centroids)
    cells = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), _cell(cents, vec_col)
    )
    return _ivf_rerank(cells, _probes(queries, query_id_col, vec_col, cents, n_probe), k, exclude_self)


def ivf_assign_cells(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    dim: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """(id, vec, cell) — the corpus with its IVF cell materialized, for
    ``df.write.partitionBy("cell")``: at 10^9+ vectors the probe path then
    reads ONLY the probed cells' files (hive partition pruning — proved by a
    PartitionFilters plan test), turning a full-corpus scan into
    n_probe/n_centroids of the data per query batch."""
    cents = _centroid_source(df, vec_col, dim, n_centroids, seed, centroids)
    return df.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"), _cell(cents, vec_col)
    )


def ivf_topk_partitioned(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    k: int = 10,
    n_probe: int = 4,
    n_centroids: int = 16,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF top-k over a cell-partitioned corpus (``ivf_assign_cells`` →
    ``write.partitionBy("cell")`` → read back): the probed cell set is
    collected from the (small, broadcast-regime) query side first and pushed
    into the corpus scan as ``cell IN (...)`` — a PARTITION filter on the
    hive layout, so unprobed cells' files are never opened. Same results as
    ``ivf_topk`` with the same centroids (asserted in tests); this variant
    exists for corpora big enough that reading 100% of the vectors to route
    them per query batch is the dominant cost."""
    cents = _centroid_source(queries, vec_col, dim, n_centroids, seed, centroids)
    probes = _probes(queries, query_id_col, vec_col, cents, n_probe)
    # one tiny job on the query side yields the probe set — the partition
    # filter literal for the corpus scan
    probed = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    cells = corpus.filter(F.col("cell").isin(probed)).select(
        F.col("vec_id").alias("neighbor_id"), F.col(vec_col).alias("__cv"), "cell"
    )
    return _ivf_rerank(cells, probes, k, exclude_self)


# Fixed-point scale for exact-mode kmeans partials: normalized components
# are in [-1, 1], so quantized values fit 2^40 and int64 partial sums stay
# exact up to ~2^23 (≈8M) rows per cell per batch-tree — far beyond any
# per-cell test corpus. Drop to 2**32 if a cell can exceed that.
_KMEANS_FXP_SCALE = float(2**40)


def _kmeans_partial(X: np.ndarray, C: np.ndarray, exact: bool = True):
    """One batch's mergeable partial: (cells present, int64 counts, per-dim
    sums of the normalized vectors). ``exact`` sums them in fixed-point
    int64: because int64 addition is associative, merging partials — in ANY
    batching or order — yields bit-identical sums to a single-pass
    computation, making the trained centroids a pure function of the vector
    multiset (the deterministic-KLL trick applied to kmeans state).
    Otherwise the sums are float64."""
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    assign = np.argmax(X @ C.T, axis=1)
    cells, inv = np.unique(assign, return_inverse=True)
    if exact:
        X = np.round(X * _KMEANS_FXP_SCALE).astype(np.int64)
    sums = np.zeros((len(cells), X.shape[1]), dtype=X.dtype)
    np.add.at(sums, inv, X)
    counts = np.bincount(inv, minlength=len(cells)).astype(np.int64)
    return cells, counts, sums


def _kmeans_update(partials, d: int, n_centroids: int, seed: int, exact: bool = True) -> np.ndarray:
    """Centroid update from (cell, count, sums) partials: merge in sorted
    cell order (deterministic for float sums; int64 sums are
    order-independent anyway), then row-normalized mean (the fixed-point
    scale cancels in the normalization); empty cells re-seed
    deterministically."""
    sums = np.zeros((n_centroids, d), dtype=np.int64 if exact else np.float64)
    counts = np.zeros(n_centroids, dtype=np.int64)
    for cell, n, part in sorted(partials, key=lambda p: p[0]):
        sums[cell] += part
        counts[cell] += n
    reseed = _ivf_centroids(d, n_centroids, seed + 1)
    C = np.empty((n_centroids, d), dtype=float)
    for j in range(n_centroids):
        if counts[j]:
            s = sums[j].astype(np.float64)
            C[j] = s / max(np.linalg.norm(s), 1e-12)
        else:
            C[j] = reseed[j]
    return C


def train_ivf_centroids_exact_local(
    X: np.ndarray, *, n_centroids: int = 16, n_iter: int = 10, seed: int = 42
) -> np.ndarray:
    """Single-process twin of ``train_ivf_centroids_distributed(exact=True)``
    over an in-memory matrix: same seeded init, same fixed-point partial
    math, same update — bit-identical centroids (asserted in tests). This is
    the oracle-replay path: a DuckDB-side checker fetches the same vectors
    and derives the exact centroid literals the cluster job trains."""
    X = np.asarray(X, dtype=np.float64)
    d = X.shape[1]
    C = _ivf_centroids(d, n_centroids, seed)
    for _ in range(n_iter):
        C = _kmeans_update(zip(*_kmeans_partial(X, C)), d, n_centroids, seed)
    return C


def train_ivf_centroids_distributed(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iter: int = 10,
    seed: int = 42,
    dim: int | None = None,
    exact: bool = False,
) -> np.ndarray:
    """Spherical-kmeans IVF centroids with NO vectors collected to the Spark
    driver.

    Exact distributed Lloyd, the KLL-manifest pattern applied to kmeans
    state: each iteration is ONE ``mapInPandas`` pass where every Arrow
    batch emits its mergeable partial — (cell, count, per-dimension vector
    sum) — against the broadcast current centroids; the ≤ batches ×
    n_centroids partial rows collect to the driver (independent of corpus
    size) and merge by summation, exactly associative/commutative like the
    KLL sketch merge. Update = row-normalized merged mean; empty cells
    re-seed from deterministic directions. Per-iteration cost: one scan, a
    BLAS argmax per batch, ~n_centroids·dim·n_batches doubles over the wire
    — no shuffle at all. Deterministic for a fixed seed (summation merged in
    sorted cell order on the driver; float batch-order variation stays
    below centroid-movement scale and the final assignment argmax is
    robust to it at test tolerance).

    ``exact=True`` switches the partials to fixed-point int64 sums
    (``_kmeans_partial``): integer addition is associative, so the
    merged sums — and therefore the trained centroids — are bit-identical
    regardless of batch boundaries, partition count, or merge order: a pure
    function of the vector multiset. That is what lets a local single-pass
    replay (``train_ivf_centroids_exact_local``) reproduce the cluster-
    trained centroids exactly for oracle checking. Float mode (default)
    keeps full precision for production training, where 1e-16 batch-order
    wobble is irrelevant. Trained cells track the corpus's real cluster
    structure, so probes recover more true neighbours than seeded random
    directions at the same n_probe (asserted in tests vs brute force)."""
    d = dim or _vec_dim(df, vec_col, None)
    vecs = df.select(F.col(vec_col).cast("array<double>").alias("v"))
    C = _ivf_centroids(d, n_centroids, seed)

    import pandas as pd

    sum_t = "array<long>" if exact else "array<double>"
    out_schema = f"cell int, n long, s {sum_t}"
    for _ in range(n_iter):
        def partials(batches, _C=C, _exact=exact):
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(pdf["v"].tolist(), dtype=np.float64)
                cells, counts, sums = _kmeans_partial(X, _C, _exact)
                yield pd.DataFrame(
                    {
                        "cell": cells.astype("int32"),
                        "n": counts,
                        "s": [row.tolist() for row in sums],
                    }
                )

        rows = vecs.mapInPandas(partials, schema=out_schema).collect()
        C = _kmeans_update(rows, d, n_centroids, seed, exact)
    return C


def embedding_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 6,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int | None = 200,
    stats_out: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cos ≥ threshold) via LSH candidate
    buckets + exact verification. As in ``lsh_bucketed_topk``, the
    multi-table dedup ``distinct()`` runs on the INT PAIR only — vectors
    re-join (by id, both sides corpus-resident) for the exact re-rank, so the
    dedup exchange never carries array payloads.

    ``max_bucket_size`` guards the bucket self-join against quadratic blowup
    on low-entropy corpora (near-identical vectors — EXACTLY the input a
    near-dup pass meets — land in one giant bucket): buckets larger than the
    cap are dropped from candidate generation, mirroring
    ``minhash_lsh_candidates`` — the same windowed count over the join keys,
    so the guarded bucket rows are ONE exchange that both (merge-hinted)
    self-join sides reuse: the Python-UDF bucket computation and its shuffle
    run once, with nothing persisted. Members of a dropped bucket can still
    pair through their OTHER n_tables-1 tables; pass ``None`` for the
    unguarded exact-candidate path at test scale.

    When the cap is active, an eager probe counts the buckets the cap will
    drop and logs a WARNING if any — recall loss on near-identical-vector
    corpora must never be silent (ADVICE r4). The probe is one bounded extra
    job whose shuffle carries only DISTINCT (table, bucket) partials
    (map-side combine), far below the join itself.

    ``stats_out``: pass a dict to capture the probe's exact count —
    filled with ``{"buckets_dropped": n}``."""
    from slower_whisper_spark.functions.vectorized import make_lsh_buckets

    tables = _hyperplanes(_vec_dim(df, vec_col, dim), n_planes, n_tables, seed)
    bucket_udf = make_lsh_buckets(tables)
    b = _bucket_rows(df, id_col, "id", vec_col, bucket_udf)
    if max_bucket_size:
        # the cap being ACTIVE is never silent, and the driver-checked
        # oracle replays the cap so its effect is correctness-visible
        _log.info(
            "embedding_near_duplicates: max_bucket_size=%d active — buckets "
            "above the cap are excluded from candidate generation",
            max_bucket_size,
        )
        n_big = (
            b.groupBy("table", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .count()
        )
        if stats_out is not None:
            stats_out["buckets_dropped"] = int(n_big)
        if n_big:
            _log.warning(
                "embedding_near_duplicates: dropping %d bucket(s) larger "
                "than max_bucket_size=%d from candidate generation — "
                "members may still pair via their other %d table(s)",
                n_big,
                max_bucket_size,
                n_tables - 1,
            )
        w = Window.partitionBy("table", "bucket")
        b = (
            b.withColumn("__bn", F.count(F.lit(1)).over(w))
            .filter(F.col("__bn") <= max_bucket_size)
            .drop("__bn")
        )
    # force sort-merge on the self-join: both sides are the identical
    # (table, bucket)-partitioned subtree, so SMJ reuses ONE exchange and the
    # Python-UDF bucket computation runs once — AQE's default would instead
    # broadcast one side, recomputing that whole subtree as the build
    b = b.hint("merge")
    cand = (
        b.alias("a")
        .join(
            b.alias("c"),
            (F.col("a.table") == F.col("c.table"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.id") < F.col("c.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("c.id").alias("id_b"))
        .distinct()
    )
    vec = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("__v"))
    return (
        cand.join(vec.select(F.col("id").alias("id_a"), F.col("__v").alias("__va")), "id_a")
        .join(vec.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb")), "id_b")
        .select("id_a", "id_b", _pair_cos(F.col("__va"), F.col("__vb")).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )
