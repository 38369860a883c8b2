"""Arrow-batch (pandas) UDF factories.

NOTE: deliberately NO ``from __future__ import annotations`` here — PySpark
resolves pandas-UDF signatures from real type objects, and stringified
annotations break inference.

These are the engine's only Python-side execution paths, and all of them are
numpy-vectorized over Arrow batches (north rule: zero per-row Python).
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf


def make_bool_batch_udf(fn):
    """Wrap a user batch predicate ``pd.Series -> pd.Series[bool]`` as an
    Arrow-batch pandas UDF — the sanctioned plugin surface for constraints
    Spark SQL can't express (the reference's SegmentProcessor/analyzer
    plugin analog, ref: transcription/post_process.py:97-114). The function
    sees a whole Arrow batch; keep it numpy-vectorized."""

    @pandas_udf("boolean")
    def batch_pred(v: pd.Series) -> pd.Series:
        out = fn(v)
        if not isinstance(out, pd.Series):
            out = pd.Series(out, index=v.index)
        return out.astype("boolean")

    return batch_pred


def make_lsh_buckets(tables):
    """All hyperplane-LSH table buckets for a vector in ONE numpy matmul per
    Arrow batch: (batch, dim) @ (dim, tables*planes) → sign bits → packed
    per-table bucket ids (array<long>, one per table).

    ``tables``: numpy (n_tables, n_planes, dim). This replaces both
    expression forms for bucketing: the HOF dot runs interpreted per
    element, and unrolled arithmetic at 64 dims × many tables makes a
    ~10^5-node Catalyst tree (driver OOM in codegen). BLAS scales with
    cores and the plan stays one UDF node."""
    import numpy as _np

    n_tables, n_planes, dim = tables.shape
    H = _np.ascontiguousarray(tables.reshape(n_tables * n_planes, dim).T)  # (dim, T*P)
    weights = (1 << _np.arange(n_planes, dtype=_np.int64))

    @pandas_udf("array<long>")
    def lsh_buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = _np.array(v.tolist(), dtype=_np.float64)  # (batch, dim)
        bits = (M @ H) >= 0.0  # (batch, T*P)
        buckets = (bits.reshape(len(M), n_tables, n_planes) * weights).sum(axis=2)
        return pd.Series(list(buckets))

    return lsh_buckets


def make_ivf_assign(centroids, n_probe=1):
    """IVF cell assignment in one numpy matmul per Arrow batch: dot against
    all (row-normalized) centroids → the top-``n_probe`` centroid ids,
    ordered by score desc (ties → lower id, matching SQL
    ``ORDER BY s DESC, cid``). n_probe=1 is the corpus-side assignment;
    queries probe several cells."""
    import numpy as _np

    C = _np.ascontiguousarray(centroids.T)  # (dim, n_centroids)

    @pandas_udf("array<long>")
    def ivf_assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = _np.array(v.tolist(), dtype=_np.float64)  # (batch, dim)
        S = M @ C  # (batch, n_centroids)
        # stable sort on -score: ties keep ascending centroid id, matching
        # the SQL oracle's ORDER BY s DESC, cid
        order = _np.argsort(-S, axis=1, kind="stable")
        top = order[:, :n_probe].astype(_np.int64)
        return pd.Series(list(top))

    return ivf_assign


def make_cosine_pair(compute_dtype: str = "float64"):
    """Exact cosine between two (fixed-dim) vector columns, one numpy pass
    per Arrow batch — the vectorized re-rank kernel for the ANN operators.
    The interpreted higher-order-function form (zip_with + aggregate) is
    memory-allocation-bound and stops scaling with cores once the candidate
    set reaches millions of pairs (measured: 1.8x speedup 2→8 cores vs 3.5x
    for pure CPU on the same host); einsum over the Arrow batch is one
    BLAS-class kernel with none of the per-element boxing.

    ``compute_dtype="float32"`` halves the bytes the einsum moves — the
    kernel is memory-bandwidth-bound, so this directly buys throughput and
    core-scaling headroom on wide candidate sets (VERDICT r4 #8). Rank
    perturbation is ~1e-7 relative, so float64 stays the default wherever
    results are oracle-compared; the bench/scale path opts in."""
    import numpy as _np

    dt = _np.dtype(compute_dtype)

    @pandas_udf("double")
    def cosine_pair(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype=float)
        A = _np.array(a.tolist(), dtype=dt)
        B = _np.array(b.tolist(), dtype=dt)
        num = _np.einsum("ij,ij->i", A, B)
        den = _np.linalg.norm(A, axis=1) * _np.linalg.norm(B, axis=1)
        with _np.errstate(divide="ignore", invalid="ignore"):
            res = (num / den).astype(_np.float64, copy=False)
        # Zero-norm vectors → NULL, not NaN: Spark orders NaN ABOVE every
        # number, so a NaN cos would pass `cos >= threshold` filters and rank
        # first in top-k desc windows. NULL (like the HOF cosine this kernel
        # replaced) is filtered by >= and sorts last.
        bad = ~_np.isfinite(res)
        if bad.any():
            out = res.astype(object)
            out[bad] = None
            return pd.Series(out)
        return pd.Series(res)

    return cosine_pair
