"""Fixed-point Lloyd k-means and SemDeDup-style semantic dedup.

Clustering is the scale path for embedding-space curation: SemDeDup
(Abbas et al. 2023) clusters the corpus first so the expensive pairwise
cosine pass runs only WITHIN clusters -- k-means turns an O(n^2)
semantic-dedup problem into k small ones, the same cost shape as the
IVF index in similarity.py.

Everything here is integer fixed-point so a SQL oracle can replay it
bit for bit (the repo's engine-portability conventions):

* components quantize to BIGINT micro-units (``floor(x * 1e6)``);
* squared-L2 distances are exact BIGINT sums (|q| <= ~1.1e6, 64 dims
  -> max ~3e14, far inside int64);
* centroid updates use an explicit floored integer division
  ``(s - pmod(s, n)) / n`` -- Spark's ``div`` truncates toward zero
  while DuckDB's ``//`` floors, so the pmod form is spelled out to make
  both engines compute the identical floor;
* seeding is the k vectors with the smallest ``md5(vec_id)`` (the
  repo's one hash), a deterministic draw with no RNG;
* assignment ties break on the smaller centroid id.

Distributed shape (the 100 TB story): the centroid relation is k rows
and always broadcast; assignment is a narrow vecs x k computation (the
irreducible Lloyd cost); the update is one map-side-combinable
(cid, dim) aggregate.  Iteration count is a fixed small constant, and
each round's centroid relation is checkpointed so lineage stays flat.
"""

from __future__ import annotations

from typing import Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

QUANT = 1_000_000


def quantized(vec_col: Column) -> Column:
    """array<float> -> array<long> micro-units (exact on both engines:
    float->double widening is value-preserving, *1e6 and floor are
    deterministic IEEE ops)."""
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )


def unit_quantized(vec_col: Column) -> Column:
    """Normalize to the unit sphere BEFORE quantizing, so Euclidean
    k-means clusters by direction (cosine) and a scaled copy of a
    vector lands in the same cluster as the original.  The norm comes
    from the per-component-floored integer norm2 (order-independent),
    then one double divide per component -- identical everywhere."""
    n2 = F.aggregate(
        F.transform(
            vec_col,
            lambda x: F.floor(
                x.cast("double") * x.cast("double") * QUANT
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    # guard the zero integer norm (every component |x| < 1e-3 floors to
    # 0 -- e.g. a near-zero embedding from an empty document): dividing
    # by 0.0 would emit +/-Infinity components that floor to +/-2^63
    # and silently poison the centroid sums of whichever cluster the
    # vector lands in (r14 review).  Dividing by +inf instead maps the
    # whole vector to exact zeros -- "no usable direction".
    norm = F.when(n2 == 0, F.lit(float("inf"))).otherwise(
        F.sqrt(n2.cast("double") / F.lit(float(QUANT)))
    )
    return F.transform(
        vec_col,
        lambda x: F.floor(x.cast("double") / norm * QUANT).cast("long"),
    )


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def assign_to_centroids(qvecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of a ``(vec_id, q)`` relation against
    a ``(cid, c)`` centroid relation (ties to the smaller cid).  This is
    the INCREMENTAL path: once a corpus has settled centroids, a new
    ingest batch is assigned by broadcasting the k-row centroid relation
    against the batch alone -- the corpus is never rescanned, the same
    economics as the incremental LSH and span-dedup operators.

    Plan shape: the k-row centroid relation collects driver-side
    (bounded metadata) and rides into the Arrow workers as a closure
    literal; the argmin is one exact-int64 numpy block per batch
    (``_assign_np``) -- a narrow, shuffle-free map stage.  Earlier
    formulations ranked an exploded vecs x k relation with a window
    (k corpus-sized shuffles per call), then an ``array_min`` over
    per-centroid structs (shuffle-free but interpreted: higher-order
    lambdas never enter codegen -- it dominated every Lloyd
    iteration)."""
    cents_lit = sorted((r.cid, list(r.c)) for r in cents.collect())
    return _assign_np(qvecs.select("vec_id", "q"), cents_lit)


def _assign_np(qvecs: DataFrame, cents_lit) -> DataFrame:
    """Argmin assignment against DRIVER-HELD centroids, numpy-vectorized:
    the (n_batch x k x dim) squared-distance block is exact int64 array
    arithmetic instead of n x k interpreted 64-element fold lambdas (the
    ``array_min``/``aggregate`` form never enters codegen; it was the
    dominant term of every Lloyd iteration).  Ties to the smaller cid:
    the centroid matrix is cid-sorted and ``argmin`` takes the first
    minimum.  The centroids ride into the Arrow workers as a closure
    literal -- k x dim BIGINTs of metadata, the same driver-side state
    the iteration loop already holds; the stage stays shuffle-free."""
    import pandas as pd

    ordered = sorted(cents_lit)
    cids = [cid for cid, _ in ordered]
    cmat = [list(c) for _, c in ordered]

    def assign(batches):
        import numpy as np

        C = np.asarray(cmat, dtype=np.int64)  # (k, dim)
        cid_arr = np.asarray(cids, dtype=np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # (n, dim)
            # exact int64: |q|,|c| <= ~1e6 => diff^2 <= 4e12, x dim 64
            # => d2 <= 2.6e14, far inside int64
            d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            best = d2.argmin(axis=1)  # first min = smallest cid on ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "q": pdf["q"],
                    "cid": cid_arr[best],
                    "d2": d2[np.arange(len(best)), best],
                }
            )

    return qvecs.select("vec_id", "q").mapInPandas(
        assign, "vec_id long, q array<bigint>, cid int, d2 long"
    )


def kmeans_fixed_point(
    qvecs: DataFrame, k: int = 8, iters: int = 3, return_lit: bool = False
) -> Tuple[DataFrame, ...]:
    """Lloyd's algorithm over a ``(vec_id, q)`` relation (q already
    quantized).  Runs ``iters`` assign+update rounds, then one final
    assignment against the settled centroids.  Returns
    ``(assignment, centroids)`` where assignment is
    ``vec_id, q, cid, d2`` and centroids is ``cid, c``; with
    ``return_lit=True`` the settled driver-side literal
    ``[(cid, [dim values])]`` is appended (r16) so downstream
    assignment passes (:func:`assign_top_cells`) can skip re-collecting
    the k-row relation they are about to hold as a closure anyway --
    each skipped collect is one driver action.

    A cluster that loses all members simply drops out of the next
    round's centroid relation -- both engines compute the identical
    arithmetic, so the oracle drops it too; no RNG re-seeding.

    Per-iteration plan shape: the shuffle-free numpy argmin assignment
    (driver-held centroids as an Arrow-worker closure literal, see
    ``_assign_np``) feeds one map-side-combinable (cid, dim) aggregate
    whose k x dim result rows come back to the driver.  Earlier
    formulations, in order of retirement: a vecs x k exploded relation
    ranked with a ``row_number`` window (a full corpus-sized shuffle per
    iteration); wide plans (one SUM column per dimension; literal
    centroid arrays) that cost more in analysis/codegen than the
    exchanges they removed; and the broadcast-array ``array_min`` form,
    shuffle-free but interpreted (higher-order lambdas never enter
    codegen) -- it dominated each iteration's wall.
    """
    spark = qvecs.sparkSession
    base = qvecs.select("vec_id", "q").localCheckpoint(eager=False)
    seed_order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    # k-row relation: the global row_number window is seed-sized, never data
    seed = (
        base.orderBy(*seed_order)
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy(*seed_order)).alias("cid"),
            F.col("q").alias("c"),
        )
    )
    # The centroid state lives DRIVER-SIDE between iterations: k x dim
    # BIGINTs of metadata (k rows), the same bounded-collect device as
    # the BPE top-pair loop in text.py.  Each Lloyd round is then ONE
    # compact job -- shuffle-free argmin assignment against a one-row
    # LocalRelation centroid array (whose broadcast builds on the driver,
    # no extra stage), then a posexploded (cid, dim) aggregate collected
    # back.  No per-iteration checkpoint, lineage always one hop from
    # ``base``.
    cents_lit = sorted((r.cid, list(r.c)) for r in seed.collect())

    for _ in range(iters):
        assigned = _assign_np(base, cents_lit)
        # explicit floor division: Spark div truncates, DuckDB // floors;
        # (s - pmod(s,n)) is exactly divisible
        new = (
            assigned.select("cid", F.posexplode("q").alias("dim", "v"))
            .groupBy("cid", "dim")
            .agg(F.expr("(sum(v) - pmod(sum(v), count(*))) div count(*)").alias("cv"))
            .collect()
        )
        by_cid: dict = {}
        for r in new:
            by_cid.setdefault(r.cid, {})[r.dim] = r.cv
        cents_lit = sorted(
            (cid, [dims[i] for i in sorted(dims)]) for cid, dims in by_cid.items()
        )

    cents = spark.createDataFrame(
        [(cid, c) for cid, c in cents_lit], "cid int, c array<bigint>"
    )
    if return_lit:
        return _assign_np(base, cents_lit), cents, cents_lit
    return _assign_np(base, cents_lit), cents


def _cluster_pairwise_counts(pn: DataFrame) -> DataFrame:
    """Per-cluster pairwise-cosine duplicate counts over
    ``(vec_id, cid, q, n2q)``: for each vector, how many LOWER-id
    vectors in its cluster reach 950 000 cosine micro-units (0.95).
    Rows with zero matches are omitted (callers left-join + coalesce).

    One Arrow exchange on cid, then numpy inside ``applyInPandas``: the
    n_c x n_c dot-product block is one exact int64 GEMM instead of
    ~n_c^2 interpreted 64-element fold lambdas (higher-order-function
    expressions never enter codegen; measured ~3 s of the r7
    semantic-dedup wall on 1.6 M pairs).  Arithmetic parity with the
    SQL oracle is preserved operation-for-operation: int64 dots are
    exact (|q| <= 1e6, dim 64 => dot <= 6.4e13 < 2^53), and the cosine
    expression applies the identical IEEE sequence (divide by
    sqrt*sqrt, multiply by 1e6, floor).

    100 TB shape: the per-cluster quadratic is SemDeDup's algorithm,
    not an artifact -- k scales as n / target_cluster_size, so each
    task holds one bounded n_c x dim block; skewed clusters bound the
    task, exactly as they bound the equi-join formulation this
    replaces."""
    import pandas as pd

    def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        # float64 GEMM on purpose: numpy integer matmul has no BLAS path
        # (measured 4x wall at 6250-vector clusters), and the float64
        # result is still EXACT -- per-element products <= 1.21e12 and
        # running sums <= 7.8e13, both far inside 2^53, so every
        # intermediate is an exactly-representable integer
        M = np.stack(pdf["q"].to_numpy()[order]).astype(np.float64)
        n2 = pdf["n2q"].to_numpy()[order].astype(np.float64)
        dots = M @ M.T
        denom = np.sqrt(n2)[:, None] * np.sqrt(n2)[None, :]
        cos_fp = np.floor(dots / denom * 1_000_000.0)
        # n_sim[j] = |{i < j : cos >= tau}|: a strict-upper-triangle mask
        # summed per column (vectorized; the triu_indices + add.at scatter
        # this replaces was the remaining hot spot at 6k-vector clusters)
        hit = np.triu(cos_fp >= 950_000, k=1)
        counts = hit.sum(axis=0).astype(np.int64)
        keep = counts > 0
        return pd.DataFrame({"vec_id": ids[keep], "n_sim": counts[keep]})

    return pn.select("vec_id", "cid", "q", "n2q").groupBy("cid").applyInPandas(
        per_cluster, "vec_id long, n_sim long"
    )


def semantic_dedup(vecs: DataFrame, k: int = 8) -> DataFrame:
    """SemDeDup (the published form): cluster on the unit sphere, then
    run the pairwise-cosine pass WITHIN each cluster only; a vector is
    a duplicate iff some LOWER-id vector in its cluster reaches
    950 000 cosine micro-units, i.e. cosine 0.95 (keep-lowest-id, the repo's
    standard deterministic survivor rule).  Output:
    ``vec_id, cid, n_sim_earlier, is_dup``.

    Cost shape: the all-pairs join is confined to a cluster (an equi-
    join on cid, never cartesian over the corpus); with k scaled as
    n / target_cluster_size the per-cluster quadratic stays constant-
    sized -- exactly the economics the clustering exists to buy.
    Integer norms are projected per vector BEFORE the join, so each
    pair costs one dot product.  cos_fp floors to micro-units so the
    threshold compare is exact on every engine.
    """
    q = vecs.select(
        "vec_id",
        unit_quantized(F.col("embedding")).alias("q"),
    )
    assigned, _cents = kmeans_fixed_point(q, k=k)
    n2q = F.aggregate(
        F.transform("q", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pn = assigned.select("vec_id", "cid", "q", n2q.alias("n2q"))
    pn = pn.localCheckpoint(eager=False)  # reused below the pairwise pass
    sim = _cluster_pairwise_counts(pn)
    return pn.join(sim, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.coalesce(F.col("n_sim"), F.lit(0)).cast("long").alias("n_sim_earlier"),
        (F.coalesce(F.col("n_sim"), F.lit(0)) > 0).alias("is_dup"),
    )


def assign_top_cells(
    qvecs: DataFrame,
    cents: DataFrame,
    r: int,
    cents_lit=None,
) -> DataFrame:
    """Top-``r`` nearest-centroid memberships of a ``(vec_id, q)``
    relation: one output row per (vec_id, cid), nearest by (d2, cid).
    ``r=1`` is plain assignment; corpus-side ``r>1`` is the IVF *spill*
    (a vector posts into its ``r`` closest cells so a query probing any
    of them finds it); query-side ``r>1`` is multi-probe.

    Numpy-exact like ``_assign_np`` (int64 distances; STABLE argsort
    over the cid-sorted centroid matrix = ties to the smaller cid,
    matching the oracle's ORDER BY d2, cid); shuffle-free map stage with
    the k-row centroid relation as a closure literal.  Also emits the
    1-based ``rank`` of each membership so the PRIMARY cell (rank 1 --
    what residual PQ encodes against) comes from the SAME pass instead
    of a second full distance kernel over the corpus (r10 review
    finding: the pcell-only second pass doubled the assignment cost in
    ivfpq_topk / index build / index add).

    ``cents_lit`` (r16): callers that already hold the centroid literal
    driver-side (Lloyd training returns it; frozen indexes load it from
    the sidecar) pass it here and skip the ``cents.collect()`` -- one
    driver action saved per assignment pass, identical closure either
    way (the sort below canonicalizes both sources)."""
    import pandas as pd

    if cents_lit is None:
        cents_lit = ((row.cid, list(row.c)) for row in cents.collect())
    cents_lit = sorted((cid, list(c)) for cid, c in cents_lit)
    cids = [cid for cid, _ in cents_lit]
    cmat = [c for _, c in cents_lit]

    def top(batches):
        import numpy as np

        C = np.asarray(cmat, dtype=np.int64)
        cid_arr = np.asarray(cids, dtype=np.int32)
        rr = min(r, len(cid_arr))
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n = len(M)
            d2 = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            topidx = np.argsort(d2, axis=1, kind="stable")[:, :rr]
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), rr),
                "cid": cid_arr[topidx].ravel(),
                "rank": np.tile(np.arange(1, rr + 1, dtype=np.int32), n),
            })

    return qvecs.select("vec_id", "q").mapInPandas(
        top, "vec_id long, cid int, rank int"
    )


def pooled_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    prefilter: int = 50,
    nprobe: int = 4,
) -> DataFrame:
    """Cell-routed two-stage exact-integer nearest neighbors (an IVF
    with spill, every distance a BIGINT so results replay identically on
    any engine):

    1. ROUTE: fixed-point k-means builds 8 cell centroids over the
       corpus's 4-sum-pooled vectors; each corpus vector posts into its
       2 nearest cells (the spill that covers boundary vectors), each
       query probes its ``nprobe`` nearest.
    2. COARSE: probed-cell candidates only, ranked by squared-L2 on the
       finer 2-sum-pooled vectors; ``prefilter`` survive per
       query (ties on (cd2, cand_id)).
    3. EXACT: full-width rerank of the survivors, top ``k``.

    Scale shape: the corpus is touched by (a) the Lloyd passes, (b) one
    shuffle-free cell-membership map, and (c) an EQUI-JOIN on cid
    against the query probes -- there is no nested-loop join over the
    corpus anywhere (the flat queries x corpus coarse scan this replaced
    was the repo's one quadratic stage).  A query reads ~
    ``2 * nprobe / 8`` of the corpus at pooled width; at
    100 TB you grow the cell count to hold cell size constant and the probed
    fraction shrinks proportionally.  ``nprobe >= 8`` degrades
    gracefully to an exhaustive (but still equi-join-shaped) scan --
    the recall=1 configuration the equivalence test pins.

    Measured recall@5 vs the exhaustive path on the sf0.01 embeddings
    (20 queries, defaults): ~0.55 / 0.78 / 0.86 at prefilter 25/50/100
    -- floors asserted in tests -- vs 0.32/0.45/0.65 for the old flat
    block-4 scan at the same prefilters: routing + spill buys BOTH the
    join shape and a finer in-cell resolution for less total work.
    """
    def pooled(qcol: str, block: int):
        return F.expr(
            f"transform(sequence(0, CAST(size({qcol}) / {block} AS INT) - 1),"
            f" b -> aggregate(slice({qcol}, b * {block} + 1, {block}),"
            f" CAST(0 AS BIGINT), (acc, x) -> acc + x))"
        )

    def prep(df):
        return df.select(
            "vec_id",
            quantized(F.col("embedding")).alias("q"),
        ).select(
            "vec_id", "q",
            pooled("q", 2).alias("p_rank"),
            pooled("q", 4).alias("p_route"),
        )

    qs = prep(queries).localCheckpoint(eager=False)
    cs = prep(corpus).localCheckpoint(eager=False)

    _, cents, cents_lit = kmeans_fixed_point(
        cs.select("vec_id", F.col("p_route").alias("q")),
        k=8,
        iters=2,
        return_lit=True,
    )
    cand_cells = assign_top_cells(
        cs.select("vec_id", F.col("p_route").alias("q")), cents, 2,
        cents_lit=cents_lit,
    ).select(F.col("vec_id").alias("cand_id"), "cid")
    probe_cells = assign_top_cells(
        qs.select("vec_id", F.col("p_route").alias("q")), cents, nprobe,
        cents_lit=cents_lit,
    ).select(F.col("vec_id").alias("query_id"), "cid")

    pairs = (
        probe_cells.join(cand_cells, "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    coarse = (
        pairs.join(
            qs.select(F.col("vec_id").alias("query_id"),
                      F.col("p_rank").alias("_qp")),
            "query_id",
        )
        .join(
            cs.select(F.col("vec_id").alias("cand_id"),
                      F.col("p_rank").alias("_cp")),
            "cand_id",
        )
        .select(
            "query_id", "cand_id",
            _sqdist(F.col("_qp"), F.col("_cp")).alias("cd2"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy("cd2", "cand_id")
    survivors = (
        coarse.withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= prefilter)
        .select("query_id", "cand_id")
    )
    exact = (
        survivors.join(
            qs.select(F.col("vec_id").alias("query_id"), F.col("q").alias("_qq")),
            "query_id",
        )
        .join(
            cs.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("_cq")),
            "cand_id",
        )
        .select(
            "query_id", "cand_id",
            _sqdist(F.col("_qq"), F.col("_cq")).alias("d2"),
        )
    )
    we = Window.partitionBy("query_id").orderBy("d2", "cand_id")
    return (
        exact.withColumn("_rn", F.row_number().over(we))
        .filter(F.col("_rn") <= k)
        .select("query_id", F.col("cand_id").alias("neighbor_id"), "d2", F.col("_rn").alias("rk"))
    )
