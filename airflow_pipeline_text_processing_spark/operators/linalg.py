"""Distributed exact linear algebra over embedding columns: integer
second-moment (Gram / covariance) accumulation and fixed-point power
iteration for the top principal component.

The 100 TB shape: the ONLY corpus-sized stage is the moment
accumulation -- one ``mapInPandas`` pass that turns each Arrow batch
into a single (n, sum-vector, Gram-matrix) row via an exact int64
numpy GEMM, so the driver collects #batches rows of dim^2 BIGINTs (a
few KB each), never data.  This is the classic one-pass distributed
covariance: ``Cov * n^2 = n * sum(q q^T) - (sum q)(sum q)^T`` needs
only additive moments, so partial aggregation is free and the
combination happens once, driver-side, in arbitrary-precision Python
ints (no overflow at any corpus size).  The power iteration then runs
on the dim x dim matrix -- driver-tiny, the same
aggregate-big/iterate-small split as PageRank and Lloyd k-means.

Exactness (engine-conventions memo): components quantize to BIGINT
milli-units (``floor(x * 1000)``, products bounded so per-batch int64
GEMMs cannot overflow); the centered moment matrix and every
iteration step are integer ops; the per-step renormalization is
``v_i = floor(w_i * 10^6 / max|w|)`` -- Python's ``//`` floors, and
the SQL oracle spells the identical floor via the non-negative-
remainder device.  No libm, no float accumulation, bit-identical on
any engine and any partition order.

Headroom: with |x| <= ~1.1 the quantized |q| <= ~1100; per-batch GEMM
entries <= 1.2e6 * batch_rows (int64-safe through ~7e12-row batches);
cross-batch sums are Python ints (unbounded); the SQL oracle carries
the centered matrix in HUGEINT.
"""

from __future__ import annotations

from typing import Iterator, List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

QSCALE = 1000  # embedding component -> milli-units
VSCALE = 1_000_000  # iteration vector renormalization scale


def quantized_milli(vec_col):
    """array<float> -> array<long> milli-units; the float->double
    widening is value-preserving and *1000/floor are deterministic
    IEEE ops, so Spark, numpy (via float64), and DuckDB agree."""
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * QSCALE).cast("long")
    )


def gram_moments(
    vecs: DataFrame, dim: int
) -> Tuple[int, List[int], List[List[int]]]:
    """One distributed pass -> exact integer moments: ``(n, s, G)``
    with ``s[i] = sum_v q_i`` and ``G[i][j] = sum_v q_i * q_j`` over
    the milli-quantized vectors.  Each Arrow batch contributes one
    row (its own int64 GEMM); the driver sums #batches rows with
    Python ints."""
    import numpy as np
    import pandas as pd

    def _moments(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if X.shape[1] != dim:
                # a mismatched dim would silently corrupt the flat
                # dim*dim accumulation below -- fail loudly instead
                raise ValueError(
                    f"gram_moments: vectors are {X.shape[1]}-dim, "
                    f"caller said dim={dim}"
                )
            Q = np.floor(X * QSCALE).astype(np.int64)
            yield pd.DataFrame(
                {
                    "n": [np.int64(len(Q))],
                    "s": [Q.sum(axis=0)],
                    "g": [(Q.T @ Q).ravel()],
                }
            )

    parts = vecs.select("embedding").mapInPandas(
        _moments, "n long, s array<long>, g array<long>"
    )
    n = 0
    s = [0] * dim
    g = [0] * (dim * dim)
    for row in parts.collect():
        n += int(row.n)
        for i, x in enumerate(row.s):
            s[i] += int(x)
        for i, x in enumerate(row.g):
            g[i] += int(x)
    G = [g[i * dim : (i + 1) * dim] for i in range(dim)]
    return n, s, G


def centered_moment_matrix(
    n: int, s: List[int], G: List[List[int]]
) -> List[List[int]]:
    """``M = n * G - s s^T`` -- the covariance matrix scaled by n^2
    (positive scaling leaves eigenvectors untouched), exact ints."""
    dim = len(s)
    return [
        [n * G[i][j] - s[i] * s[j] for j in range(dim)]
        for i in range(dim)
    ]


def power_iteration(
    M: List[List[int]], iters: int = 3
) -> List[int]:
    """``iters`` steps of ``v <- floor(M v * 10^6 / max|M v|)`` from
    the all-ones start, kept in exact integers so the SQL oracle
    replays it as unrolled CTEs.  Components end in [-10^6, 10^6]; an
    all-zero product (degenerate M) returns the zero vector.

    Convergence caveat (r11 ADVICE): the deterministic all-ones start
    and default 3 steps return the top eigenvector only when the
    eigen-gap is healthy and the start is not (near-)orthogonal to it;
    with close top-two eigenvalues or an adversarial spectrum, raise
    ``iters`` (cost is one extra dim x dim driver-side multiply per
    step -- the corpus is never re-touched) or seed from the
    largest-diagonal axis.  The deterministic start is what keeps the
    result oracle-replayable, so randomized restarts are deliberately
    out of scope."""
    dim = len(M)
    v = [1] * dim
    for _ in range(iters):
        w = [sum(M[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        mx = max(abs(x) for x in w)
        if mx == 0:
            return [0] * dim
        v = [(x * VSCALE) // mx for x in w]
    return v


def top_pc_projections(vecs: DataFrame, dim: int, iters: int = 3) -> DataFrame:
    """Top-principal-component scores: accumulate exact moments, run
    the fixed-point power iteration driver-side, then one broadcast-
    literal projection pass over the corpus.  Returns
    ``(vec_id, proj_fp)`` -- the signed fixed-point projection
    ``sum_i q_i * v_i`` (|proj| <= dim * 1100 * 10^6, int64-safe)."""
    n, s, G = gram_moments(vecs, dim)
    v = power_iteration(centered_moment_matrix(n, s, G), iters)
    vlit = F.array(*[F.lit(int(x)).cast("long") for x in v])
    q = quantized_milli(F.col("embedding"))
    proj = F.aggregate(
        F.zip_with(q, vlit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return vecs.select(F.col("vec_id"), proj.alias("proj_fp"))


def jl_project(
    vecs: DataFrame,
    in_dim: int = 64,
    out_dim: int = 16,
    salt: str = "jl",
) -> DataFrame:
    """Johnson-Lindenstrauss sign-random projection (r14): reduce
    ``in_dim``-dimensional embeddings to ``out_dim`` dimensions with a
    {+1, -1} projection matrix -- Achlioptas (2003) showed sign-random
    entries satisfy the JL distance-preservation lemma, and the matrix
    needs NO storage or broadcast here because entry ``s(i, j)`` is
    derived from the md5 parity of ``"{salt}|i|j"``, the engine's
    shared portable-hash device.  This is the dimension-reduction step
    an embedding pipeline runs BEFORE LSH bucketing / k-means /
    brute-force rerank at corpus scale: 4x fewer components = 4x less
    shuffle and state downstream, with pairwise distances preserved to
    the JL tolerance (pinned statistically in tests/test_linalg.py).

    Exact and engine-portable: components micro-quantize via
    ``floor(x * 1e6)`` (the clustering.py convention), the projection
    is integer multiply-adds, and the conventional ``1/sqrt(out_dim)``
    JL scale is a CONSTANT factor deliberately left to the consumer so
    everything stays in BIGINT.  Scale shape: the in_dim x out_dim sign
    matrix is derived ONCE on the driver (hashlib md5 -- the identical
    hex parity the SQL oracle regenerates with ``md5()``) and embedded
    as PLAN CONSTANTS, so executors run pure integer multiply-adds
    inside whole-stage codegen -- no runtime hashing (the first cut
    evaluated md5 inside the inner lambda: in_dim*out_dim hashes PER
    ROW, ~8x the wall at sf0.1), no UDF, no shuffle, no broadcast;
    output is ``(vec_id, proj array<long>)``."""
    import hashlib

    def _sign(i: int, j: int) -> int:
        h = hashlib.md5(f"{salt}|{i}|{j}".encode()).hexdigest()
        return 1 - 2 * (int(h[0], 16) % 2)

    signs = [[_sign(i, j) for i in range(in_dim)] for j in range(out_dim)]
    # coalesce(qv*s, 0): a vector shorter than in_dim contributes 0 for
    # its missing components and one longer is truncated by the sign
    # array's length -- the EXACT semantics of the oracle's SQL form,
    # whose SUM skips NULL embedding[i] addends (without this, one
    # short vector NULL-poisons its whole projection; r14 review).
    #
    # Two r15 restructurings, values unchanged (same per-element IEEE /
    # integer sequence, pinned against the independent reference in
    # tests/test_linalg.py and the DuckDB oracle):
    #
    # * the quantized vector binds ONCE as a lambda variable (the
    #   char_trigrams device) -- referenced directly, Catalyst inlines
    #   the quantize transform into every one of the out_dim folds, so
    #   each row was re-quantized 16x (HOFs are interpreted; no common
    #   subexpression elimination rescues them);
    # * the whole projection is ONE parsed SQL expression instead of
    #   ~out_dim*in_dim Column-API literal nodes -- building the Column
    #   tree cost 1,000+ py4j round trips PER QUERY CONSTRUCTION,
    #   measured 4-12 s of the 4.2 s embed_jl_project wall (execution
    #   itself was 0.5 s); one expr() string is one round trip.
    sign_arrays = [
        "array(" + ",".join(f"{s}L" for s in row_j) + ")" for row_j in signs
    ]
    folds = ",".join(
        f"aggregate(zip_with(qv, {arr}, (x, s) -> coalesce(x * s, 0L)),"
        " 0L, (acc, v) -> acc + v)"
        for arr in sign_arrays
    )
    q_sql = (
        "transform(`embedding`,"
        " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))"
    )
    proj = F.expr(f"transform(array({q_sql}), qv -> array({folds}))[0]")
    return vecs.select(F.col("vec_id"), proj.alias("proj"))
