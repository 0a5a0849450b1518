"""Similarity search over embedding columns (`array<float>`).

Two paths (SURVEY.md north-star extensions):

* **brute-force** cosine top-k -- the exact baseline; one shuffle-free
  map over candidates followed by a per-query top-k window.
* **LSH-bucketed** -- random-hyperplane signatures (deterministic
  md5-derived hyperplanes) bucket the space; top-k runs only within the
  query's bucket.  At 100 TB this is the scale path: the candidate join is
  bucket-equi, so the all-pairs product never materializes.

Numeric policy: every dot product canonicalizes per component to fixed
point (``floor(x*y*1e6)`` -> BIGINT) before summing.  IEEE multiplication
is deterministic per component in any engine, and integer sums are
order-independent -- so results hash-match the DuckDB oracle exactly,
which raw float sums (whose order differs engine to engine) would not.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

DOT_SCALE = 1_000_000.0

# Unroll the dot product into flat arithmetic only below this width.  A
# left-deep chain of 3*dim FLOOR/mul/cast nodes blows past janino's 64 KB
# method limit around dim~32: codegen fails, Spark logs the whole plan and
# falls back to interpreted evaluation of the monster expression -- measured
# 38s->126s per run at dim=64 vs ~3s for the higher-order form.  HOFs
# (zip_with/aggregate) are evaluated JVM-side per batch and stay fast at any
# width, so they are the default; unrolling only pays below this cutoff.
UNROLL_MAX_DIM = 16


def scaled_dot(a: Column, b: Column, dim: Optional[int] = None) -> Column:
    """Order-independent fixed-point dot product (BIGINT).

    When ``dim`` is known and small, the sum unrolls into plain arithmetic
    over ``element_at`` (whole-stage-codegen territory); wider vectors use
    the higher-order form (see ``UNROLL_MAX_DIM``).  Both forms compute
    floor(a_i*b_i*1e6) per component, so results are bit-identical."""
    if dim is not None and dim <= UNROLL_MAX_DIM:
        return reduce(
            Column.__add__,
            [
                F.floor(
                    F.element_at(a, i).cast("double")
                    * F.element_at(b, i).cast("double")
                    * F.lit(DOT_SCALE)
                ).cast("long")
                for i in range(1, dim + 1)
            ],
        )
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(DOT_SCALE)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def scaled_norm2(a: Column, dim: Optional[int] = None) -> Column:
    return scaled_dot(a, a, dim)


def cosine_from_norms(
    a: Column, b: Column, norm_a: Column, norm_b: Column, dim: Optional[int] = None
) -> Column:
    """Cosine with the two fixed-point norms precomputed per VECTOR rather
    than per pair: in any pairwise join the naive form evaluates three dot
    products per pair, two of which depend only on one side.  Projecting
    ``scaled_norm2`` onto each side before the join cuts per-pair work to
    one dot product; the arithmetic (and therefore the result) is identical."""
    return scaled_dot(a, b, dim).cast("double") / (
        F.sqrt(norm_a.cast("double")) * F.sqrt(norm_b.cast("double"))
    )


def infer_dim(vectors: DataFrame) -> Optional[int]:
    """Embedding width from the first row (one tiny driver action); None on
    an empty input, which safely selects the generic dot-product form."""
    row = vectors.select(F.size(F.col("embedding")).alias("d")).first()
    return int(row.d) if row is not None else None


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors per query (excluding self)."""
    dim = infer_dim(candidates)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        scaled_norm2(F.col("embedding"), dim).alias("qnorm"),
    )
    c = candidates.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        scaled_norm2(F.col("embedding"), dim).alias("cnorm"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def mmr_rerank(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam_num: int = 7,
    lam_den: int = 10,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98): greedily pick ``k`` results per query maximizing
    ``lam*rel(d) - (1-lam)*max_{s in selected} sim(d, s)`` -- relevance
    minus redundancy.  The retrieval-side answer to near-duplicate
    corpora: a pure top-k returns every copy of a duplicated document in
    adjacent ranks; MMR admits the first copy and demotes its twins, so
    downstream consumers (RAG context windows, few-shot example pickers,
    eval-set builders) get coverage instead of repetition.

    Exact integer arithmetic end to end: relevance and pairwise
    similarity are ``floor(1e6 * cosine)`` BIGINTs (the cosine itself is
    the deterministic fixed-point form -- see :func:`scaled_dot`), lambda
    is the rational ``lam_num/lam_den``, and the greedy objective is the
    integer ``lam_num*rel_ppm - (lam_den-lam_num)*penalty_ppm`` with
    ``(score DESC, cand_id ASC)`` tiebreaks, so every pick is
    bit-reproducible across engines.  Pool membership also ranks by the
    FLOORED ppm (not the raw double), keeping both engines' shortlists
    identical even when two cosines differ only past the 1e-6 digit.

    Scale shape: one scored pass bounds each query to its top-``pool``
    candidates; the pairwise-sim table is ``pool^2`` rows per query and
    every greedy step is an anti-join + equi-join + window over those
    bounded frames -- cost O(q * pool^2 * k) TOTAL past retrieval,
    independent of corpus size.  ``pool_df``/``psim`` feed every one of
    the k steps (different derivations each time), so both are
    lineage-cut once; at 1000-executor scale the retrieval stage is the
    only corpus-sized job, and it is the same plan as
    :func:`brute_force_topk` (swap in an ANN route for the scored pass
    when the corpus demands it)."""
    dim = infer_dim(candidates)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        scaled_norm2(F.col("embedding"), dim).alias("qnorm"),
    )
    c = candidates.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cvec"),
        scaled_norm2(F.col("embedding"), dim).alias("cnorm"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.floor(
                cosine_from_norms(
                    F.col("qvec"),
                    F.col("cvec"),
                    F.col("qnorm"),
                    F.col("cnorm"),
                    dim,
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("rel_ppm"),
        )
    )
    w_pool = Window.partitionBy("query_id").orderBy(
        F.col("rel_ppm").desc(), F.col("cand_id")
    )
    pool_df = (
        scored.withColumn("rn", F.row_number().over(w_pool))
        .filter(F.col("rn") <= pool)
        .localCheckpoint(eager=False)
    )
    # one more corpus scan TOTAL for the pairwise stage: the distinct pool
    # ids (<= q*pool rows, broadcastable) semi-join the candidate frame
    # once, and the bounded result is lineage-cut; both pairwise sides
    # then derive from it without touching the corpus again.
    pool_vecs = (
        pool_df.select("cand_id")
        .distinct()
        .join(c, "cand_id")
        .localCheckpoint(eager=False)
    )
    pa = pool_df.select("query_id", F.col("cand_id").alias("a")).join(
        pool_vecs.select(
            F.col("cand_id").alias("a"),
            F.col("cvec").alias("va"),
            F.col("cnorm").alias("na"),
        ),
        "a",
    )
    pb = pool_df.select("query_id", F.col("cand_id").alias("b")).join(
        pool_vecs.select(
            F.col("cand_id").alias("b"),
            F.col("cvec").alias("vb"),
            F.col("cnorm").alias("nb"),
        ),
        "b",
    )
    psim = (
        pa.join(pb, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id",
            "a",
            "b",
            F.floor(
                cosine_from_norms(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb"), dim
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("sim_ppm"),
        )
        .localCheckpoint(eager=False)
    )
    w_pick = Window.partitionBy("query_id").orderBy(
        (
            F.lit(lam_num) * F.col("rel_ppm")
            - F.lit(lam_den - lam_num) * F.col("penalty_ppm")
        ).desc(),
        F.col("cand_id"),
    )
    first = (
        pool_df.filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            "rel_ppm",
            F.lit(0).cast("long").alias("penalty_ppm"),
            F.lit(1).cast("long").alias("pick_order"),
        )
    )
    selected = first
    ps = psim.select(
        F.col("query_id").alias("pq"),
        F.col("a").alias("pa"),
        F.col("b").alias("pb"),
        "sim_ppm",
    )
    # INCREMENTAL penalty state (r16): the r15 loop re-derived every
    # candidate's penalty per step as max(sim) over the WHOLE growing
    # selected set (remaining x selected x psim join + groupBy, plans
    # growing with the step), and each step ran an EAGER checkpoint --
    # 4 sequential driver jobs inside fn() before any timed action.
    # max over a growing set folds: penalty_i(d) =
    # max(penalty_{i-1}(d), sim(d, pick_i)) -- so the state carries the
    # running penalty and each step joins the 1-pick-per-query relation
    # only.  Every cut is LAZY: nothing executes at build; the single
    # terminal action materializes the whole chain as one job DAG.  The
    # per-step state plan is shape-identical across steps (greatest()
    # over the previous cut), so codegen compiles once and the cache
    # serves the rest.  Values are unchanged: same max, same objective,
    # same (score DESC, cand_id ASC) tiebreak at every pick.
    def _sel(pick):
        return pick.select("query_id", F.col("cand_id").alias("sel_id"))

    def _advance(state_or_pool, pick, running):
        """Drop the picked row and fold its similarity into the penalty."""
        joined = (
            state_or_pool.join(_sel(pick), "query_id")
            .filter(F.col("cand_id") != F.col("sel_id"))
            .join(
                ps,
                (F.col("pq") == F.col("query_id"))
                & (F.col("pa") == F.col("cand_id"))
                & (F.col("pb") == F.col("sel_id")),
            )
        )
        pen = (
            F.greatest(F.col("penalty_ppm"), F.col("sim_ppm"))
            if running
            else F.col("sim_ppm")
        )
        # every state is cut: each state is referenced twice (its pick's
        # window + the next fold), so an uncut chain duplicates the join
        # subtree 2^(k-2) times and RE-EXECUTES the copies (no common-
        # subtree elimination) -- measured r16: no-cut solo 3.21 s vs
        # 2.43 s with the cuts, despite the per-site analysis+codegen
        # tax the cut pays at build.
        return joined.select(
            "query_id", "cand_id", "rel_ppm", pen.alias("penalty_ppm")
        ).localCheckpoint(eager=False)

    state = _advance(pool_df, first, running=False)
    for step in range(2, k + 1):
        pick = (
            state.withColumn("prn", F.row_number().over(w_pick))
            .filter(F.col("prn") == 1)
            .select(
                "query_id",
                "cand_id",
                "rel_ppm",
                "penalty_ppm",
                F.lit(step).cast("long").alias("pick_order"),
            )
        )
        selected = selected.unionAll(pick)
        if step < k:
            state = _advance(state, pick, running=True)
    return selected.select(
        "query_id",
        "cand_id",
        "pick_order",
        "rel_ppm",
        "penalty_ppm",
        (
            F.lit(lam_num) * F.col("rel_ppm")
            - F.lit(lam_den - lam_num) * F.col("penalty_ppm")
        ).alias("mmr_score"),
    ).orderBy("query_id", "pick_order")


def hyperplane_signatures(
    vectors: DataFrame,
    num_planes: int = 8,
) -> DataFrame:
    """Random-hyperplane LSH signature per vector.

    Hyperplane weights are pseudo-random but *engine-portable*: weight of
    plane p at dimension d is ``hexval(md5(p || '_' || d)[0]) - 7.5``
    (uniform in [-7.5, 7.5]).  The sign of the fixed-point projection gives
    bit p; the ``num_planes`` bits concatenate into the bucket key.
    """
    comp = vectors.select(
        F.col("vec_id").alias("vid"),
        F.posexplode(F.col("embedding")).alias("d", "x"),
    ).select(
        "vid",
        "d",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(num_planes - 1))).alias("plane"),
    )
    weight = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(
                    F.concat(
                        F.col("plane").cast("string"),
                        F.lit("_"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                1,
            ),
        ).cast("double")
        - 1
        - 7.5
    )
    proj = comp.select(
        "vid",
        "plane",
        F.floor(F.col("x").cast("double") * weight * F.lit(DOT_SCALE))
        .cast("long")
        .alias("contrib"),
    )
    bits = proj.groupBy("vid", "plane").agg(
        (F.sum("contrib") > 0).cast("int").alias("bit")
    )
    return bits.groupBy("vid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("plane", "bit"))),
                lambda c: c["bit"].cast("string"),
            ),
            "",
        ).alias("bucket")
    )


def hyperplane_signatures_multi(
    vectors: DataFrame,
    num_planes: int = 8,
    num_tables: int = 4,
) -> DataFrame:
    """``num_tables`` independent hyperplane signature families per vector:
    ``(vid, table, bucket)`` -- the OR-amplification side of LSH.

    A single signature table ANDs ``num_planes`` hyperplane bits, so pair
    recall is ``p^b`` (p = per-plane collision probability, ``1 - theta/pi``)
    -- measured on the near-uniform test embeddings this collapses from
    0.305 at b=2 to 0.0 at b=8.  L independent tables recover it:
    a true neighbor is found if ANY table collides, ``1 - (1 - p^b)^L``
    (Indyk & Motwani 1998; the e2LSH / FAISS multi-table construction).

    Table t's hyperplane family salts the weight hash with ``t{t}~`` (table
    0 uses the empty salt, so its buckets are bit-identical to
    ``hyperplane_signatures`` -- single-table callers and their oracles are
    unaffected).  All L signatures compute in ONE pass: the component
    explode adds a ``table`` axis (rows = dim x planes x tables per vector),
    one map-side-combinable groupBy forms the bits, one more packs buckets.
    """
    comp = vectors.select(
        F.col("vec_id").alias("vid"),
        F.posexplode(F.col("embedding")).alias("d", "x"),
    ).select(
        "vid",
        "d",
        "x",
        F.explode(F.sequence(F.lit(0), F.lit(num_planes - 1))).alias("plane"),
    ).select(
        "vid",
        "d",
        "x",
        "plane",
        F.explode(F.sequence(F.lit(0), F.lit(num_tables - 1))).alias("table"),
    )
    seed = F.when(F.col("table") == 0, F.lit("")).otherwise(
        F.concat(F.lit("t"), F.col("table").cast("string"), F.lit("~"))
    )
    weight = (
        F.instr(
            F.lit("0123456789abcdef"),
            F.substring(
                F.md5(
                    F.concat(
                        seed,
                        F.col("plane").cast("string"),
                        F.lit("_"),
                        F.col("d").cast("string"),
                    )
                ),
                1,
                1,
            ),
        ).cast("double")
        - 1
        - 7.5
    )
    proj = comp.select(
        "vid",
        "table",
        "plane",
        F.floor(F.col("x").cast("double") * weight * F.lit(DOT_SCALE))
        .cast("long")
        .alias("contrib"),
    )
    bits = proj.groupBy("vid", "table", "plane").agg(
        (F.sum("contrib") > 0).cast("int").alias("bit")
    )
    return bits.groupBy("vid", "table").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("plane", "bit"))),
                lambda c: c["bit"].cast("string"),
            ),
            "",
        ).alias("bucket")
    )


def ivf_centroids(
    candidates: DataFrame,
    num_centroids: int = 8,
) -> list:
    """Deterministic coarse centroids for IVF: the ``num_centroids`` vectors
    with the smallest ``md5(id)`` -- an engine-portable pseudo-random sample
    (same rule is expressible in the DuckDB oracle).  Returns a LOCAL list
    ``[(centroid_id, [float, ...]), ...]``: centroids embed into the plan as
    literals, so cell assignment below is completely shuffle-free.

    ``orderBy(...).limit(C)`` compiles to TakeOrderedAndProject -- a
    distributed top-C, not a global sort -- so selection scales to any
    candidate count."""
    rows = (
        candidates.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"))
        .orderBy(F.md5(F.col("vid").cast("string")), "vid")
        .limit(num_centroids)
        .collect()
    )
    return [(i + 1, [float(x) for x in r.vec]) for i, r in enumerate(rows)]


def _centroid_matrix(df: DataFrame, centroids: list) -> DataFrame:
    """The centroid matrix as ONE broadcast row with an
    ``array<array<double>>`` column (1-based position == centroid id).

    Round-1 lesson: embedding C x dim centroids as per-element ``F.lit``
    trees cost ~2 s of driver-side Column construction plus another ~2 s of
    Catalyst analysis over the 500+-node expression at C=8, dim=64 -- per
    query.  A single-row broadcast join carries the same constants to every
    executor with a tiny plan, stays a narrow op at any candidate count, and
    the per-row arithmetic (HOF fixed-point dots) is unchanged."""
    return F.broadcast(
        df.sparkSession.createDataFrame(
            [([list(cvec) for _cid, cvec in centroids],)],
            "_cents array<array<double>>",
        )
    )


def _cent_dots() -> Column:
    """Fixed-point dot of every centroid against the row's ``_vec``."""
    return F.transform(F.col("_cents"), lambda c: scaled_dot(c, F.col("_vec")))


def with_ivf_cell(df: DataFrame, vec_col: str, centroids: list) -> DataFrame:
    """Adds the 1-based nearest-centroid id (ties -> lowest id).  Narrow:
    the only "join" is the single-row centroid broadcast."""
    return (
        df.crossJoin(_centroid_matrix(df, centroids))
        .withColumn("_vec", F.col(vec_col))
        .withColumn("_dots", _cent_dots())
        .select(
            *df.columns,
            F.array_position(F.col("_dots"), F.array_max("_dots"))
            .cast("int")
            .alias("cell"),
        )
    )


def with_ivf_probes(
    df: DataFrame,
    vec_col: str,
    centroids: list,
    nprobe: int,
) -> DataFrame:
    """Adds the ``nprobe`` nearest centroid ids, best first (ties -> lowest
    id), via the same single-row centroid broadcast."""
    pairs = F.transform(
        F.col("_dots"),
        lambda d, i: F.struct((-d).alias("neg"), (i + 1).cast("int").alias("cid")),
    )
    return (
        df.crossJoin(_centroid_matrix(df, centroids))
        .withColumn("_vec", F.col(vec_col))
        .withColumn("_dots", _cent_dots())
        .select(
            *df.columns,
            F.transform(
                F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["cid"]
            ).alias("probe_cells"),
        )
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    num_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize candidates into cells, probe
    the query's ``nprobe`` nearest cells, exact cosine rerank inside them.

    ``nprobe == num_centroids`` degenerates to exact brute force (every cell
    probed), which is the correctness anchor in the tests.  At scale the
    candidate assignment is a narrow map (centroids are plan literals) and
    the probe is an equi-join on ``cell`` -- the all-pairs product never
    materializes."""
    cents = ivf_centroids(candidates, num_centroids)
    dim = len(cents[0][1]) if cents else None
    c = with_ivf_cell(
        candidates.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cvec"),
            scaled_norm2(F.col("embedding"), dim).alias("cnorm"),
        ),
        "cvec",
        cents,
    )
    q = (
        with_ivf_probes(
            queries.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qvec"),
                scaled_norm2(F.col("embedding"), dim).alias("qnorm"),
            ),
            "qvec",
            cents,
            nprobe,
        )
        .withColumn("cell", F.explode("probe_cells"))
        .drop("probe_cells")
    )
    scored = (
        F.broadcast(q)
        .join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    num_planes: int = 8,
    num_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: exact cosine ranking within the query's LSH
    bucket(s).

    Query and candidate signatures are computed independently from the same
    deterministic hyperplane family, so buckets are comparable and a query
    vector need NOT be present in the candidate set to be ranked (round-1
    ADVICE: the earlier formulation joined queries onto candidate signatures
    by id, silently dropping external queries).

    ``num_tables > 1`` switches on OR-amplification (see
    ``hyperplane_signatures_multi``): candidates are ranked if they share a
    bucket in ANY of the L tables, pair recall ``1 - (1 - p^b)^L``.
    Measured recall@10 vs brute force on the 500-vector near-uniform test
    embeddings at b=4 planes: L=1 -> 0.09, L=4 -> 0.39, L=8 -> 0.64,
    L=16 -> 0.87 (see ``tests/test_operators.py::test_lsh_recall``) --
    the recall/cost dial a real deployment turns, where single-table
    recall silently collapses as b grows (0.305 at b=2 -> 0.0 at b=8).
    Output schema swaps ``bucket`` for ``n_tables_hit`` (the collision
    count, a per-pair confidence signal).  Plan shape at scale: the
    (table, bucket) equi-join never materializes the all-pairs product,
    and each pair is deduplicated by a map-side-combinable count BEFORE
    the exact-cosine rerank, so a pair colliding in many tables is
    scored once."""
    if num_tables > 1:
        return _lsh_topk_multi(queries, candidates, k, num_planes, num_tables)
    dim = infer_dim(candidates)
    cand_sigs = hyperplane_signatures(candidates, num_planes)
    query_sigs = hyperplane_signatures(queries, num_planes)
    q = (
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"),
            scaled_norm2(F.col("embedding"), dim).alias("qnorm"),
        )
        .join(
            query_sigs.select(F.col("vid").alias("query_id"), "bucket"), "query_id"
        )
    )
    c = candidates.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        scaled_norm2(F.col("embedding"), dim).alias("cnorm"),
    ).join(cand_sigs.select(F.col("vid").alias("neighbor_id"), "bucket"), "neighbor_id")
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "bucket",
            "neighbor_id",
            cosine_from_norms(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def _lsh_topk_multi(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    num_planes: int,
    num_tables: int,
) -> DataFrame:
    """Multi-table body of ``lsh_topk`` (``num_tables > 1``): collect the
    distinct candidate set across L tables, then exact-rerank once."""
    dim = infer_dim(candidates)
    cand_sigs = hyperplane_signatures_multi(candidates, num_planes, num_tables)
    query_sigs = hyperplane_signatures_multi(queries, num_planes, num_tables)
    pairs = (
        query_sigs.select(
            F.col("vid").alias("query_id"), "table", "bucket"
        )
        .join(
            cand_sigs.select(
                F.col("vid").alias("neighbor_id"), "table", "bucket"
            ),
            ["table", "bucket"],
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count("*").alias("n_tables_hit"))
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        scaled_norm2(F.col("embedding"), dim).alias("qnorm"),
    )
    c = candidates.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        scaled_norm2(F.col("embedding"), dim).alias("cnorm"),
    )
    scored = (
        pairs.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "n_tables_hit",
            cosine_from_norms(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


# ------------------------------------------------------------ quantization


def _sq8_codes(v, vmin, vmax):
    """The SQ8 code expression -- ONE source for the quantization
    policy (``floor((x-min)/(max-min)*255)`` clamped, flat vector ->
    0): ``quantize_int8`` certifies these codes and ``sq8_topk``
    searches against them, so a drift between two inline copies would
    silently desynchronize search results from the certified hashes
    (r14 review)."""
    scale = vmax - vmin
    return F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0)).otherwise(
            F.least(
                F.floor((x.cast("double") - vmin) / scale * 255.0).cast(
                    "int"
                ),
                F.lit(255),
            )
        ),
    )


def _sq8_dequant(codes, vmin, vmax):
    """Inverse of ``_sq8_codes``: the reconstruction both the error
    certification and the asymmetric scorer read."""
    return F.transform(
        codes, lambda c: vmin + c.cast("double") / 255.0 * (vmax - vmin)
    )


def quantize_int8(vectors: DataFrame) -> DataFrame:
    """Per-vector scalar quantization of float embeddings to 8-bit codes --
    the 4x storage/bandwidth cut ANN serving systems apply before indexing
    (FAISS ``SQ8``-style: per-vector min/max affine scale).

    Codes are ``floor((x - min) / (max - min) * 255)`` clamped to [0, 255]
    -- floor, not round, because round-half-to-even on exact .5 boundaries
    is an engine-specific tie policy while floor is not.  Every step is an
    IEEE op on identical operands, so codes (and the reconstruction-error
    sum, canonicalized to fixed point) hash-match any engine.  All array
    HOFs: a narrow map over the corpus, no shuffle, no Python.
    """
    v = F.col("embedding")
    vmin = F.array_min(v).cast("double")
    vmax = F.array_max(v).cast("double")
    codes = _sq8_codes(v, vmin, vmax)
    dequant = _sq8_dequant(codes, vmin, vmax)
    err = F.aggregate(
        F.zip_with(
            v,
            dequant,
            lambda x, d: F.floor(F.abs(x.cast("double") - d) * 1e6).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    return vectors.select(
        F.col("vec_id"),
        vmin.alias("qmin"),
        vmax.alias("qmax"),
        F.md5(
            F.array_join(F.transform(codes, lambda q: q.cast("string")), ",")
        ).alias("codes_hash"),
        err.alias("abs_err_fp"),
    )


def sq8_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    shortlist: int = 20,
) -> DataFrame:
    """Asymmetric top-k search over SQ8-quantized candidates with exact
    rerank -- the scalar-quantization complement to the PQ/ADC path:
    the corpus is stored as per-vector int8 codes (:func:`quantize_int8`
    scheme: affine min/max scale, floor codes -- the FAISS SQ8 layout,
    a 4x byte cut), queries stay float, and the approximate score is
    the fixed-point dot of the query against the DEQUANTIZED candidate
    (``floor(q_j * (vmin + code_j/255*scale) * 1e6)``) -- asymmetric
    distance, the same trick ADC plays with PQ codebooks.  Per query:
    rank by approximate score, keep ``shortlist``, exact-rerank those
    by the full-precision fixed-point dot, emit ``k``.  Ties break on
    candidate id; every score is a BIGINT both engines reproduce.

    Output: ``query_id, neighbor_id, approx_fp, exact_fp, rank``.

    Scale shape: this registry form scans all codes per query (the
    certification baseline, like brute_force_topk); in deployment the
    SQ8 scorer drops in as the in-cell metric of the IVF path
    (ivf_topk / the persisted IVF-PQ index), where only probed cells
    are scored -- the byte cut then applies to exactly the data the
    search actually touches."""
    v = F.col("embedding")
    vmin = F.array_min(v).cast("double")
    vmax = F.array_max(v).cast("double")
    # store codes + scale params; dequantize lazily at scoring time.
    # Full-precision vectors are NOT carried on the scored pairs: the
    # N x M approximate pass and its per-query rank window move only
    # (ids, codes -> approx_fp), and the exact-rerank vectors join onto
    # the shortlist AFTERWARD (shortlist-sized broadcast probes) -- the
    # whole point of the 4x byte cut is that the dominant exchange
    # carries codes, not floats (r14 review).
    cand = candidates.select(
        F.col("vec_id").alias("neighbor_id"),
        vmin.alias("_qmin"),
        vmax.alias("_qmax"),
        _sq8_codes(v, vmin, vmax).alias("_codes"),
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), v.alias("_qvec")
    )
    dequant = _sq8_dequant(
        F.col("_codes"), F.col("_qmin"), F.col("_qmax")
    )
    scored = (
        q.crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            scaled_dot(F.col("_qvec"), dequant).alias("approx_fp"),
        )
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_fp").desc(), F.col("neighbor_id")
    )
    short = (
        scored.withColumn("_arank", F.row_number().over(wa))
        .filter(F.col("_arank") <= shortlist)
        .select("query_id", "neighbor_id", "approx_fp")
    )
    rerank = short.join(
        candidates.select(
            F.col("vec_id").alias("neighbor_id"), v.alias("_cvec")
        ),
        "neighbor_id",
    ).join(
        queries.select(F.col("vec_id").alias("query_id"), v.alias("_qvec")),
        "query_id",
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("exact_fp").desc(), F.col("neighbor_id")
    )
    return (
        rerank.select(
            "query_id",
            "neighbor_id",
            "approx_fp",
            scaled_dot(F.col("_qvec"), F.col("_cvec")).alias("exact_fp"),
        )
        .withColumn("rank", F.row_number().over(we).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def mine_triplets(
    queries: DataFrame,
    candidates: DataFrame,
    k_neg: int = 3,
) -> DataFrame:
    """Contrastive-training pair mining: per anchor, the top-1
    same-label neighbor (the positive) and the ``k_neg`` most-similar
    DIFFERENT-label neighbors (the hard negatives that actually teach a
    contrastive model, vs random negatives that are trivially far).
    Output: ``anchor_id, pair_id, pair_type, cosine, rank``.

    This exact form scores anchors against all candidates (fine for a
    bounded anchor set -- the usual mining loop scores a small anchor
    batch per step); at full-corpus scale the scored relation drops in
    via the IVF or multi-table LSH candidate generators above, with
    identical downstream typing/ranking.  Cosine is the repo's
    fixed-point deterministic form (``cosine_from_norms``), so ranks are
    engine-portable.
    """
    dim = infer_dim(candidates)
    q = queries.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("qvec"),
        scaled_norm2(F.col("embedding"), dim).alias("qnorm"),
    )
    c = candidates.select(
        F.col("vec_id").alias("pair_id"),
        F.col("label").alias("pair_label"),
        F.col("embedding").alias("cvec"),
        scaled_norm2(F.col("embedding"), dim).alias("cnorm"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("anchor_id") != F.col("pair_id"))
        .select(
            "anchor_id",
            F.when(
                F.col("anchor_label") == F.col("pair_label"), F.lit("pos")
            )
            .otherwise(F.lit("neg"))
            .alias("pair_type"),
            "pair_id",
            cosine_from_norms(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm"), dim
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id", "pair_type").orderBy(
        F.col("cosine").desc(), F.col("pair_id")
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    return (
        ranked.filter(
            ((F.col("pair_type") == "pos") & (F.col("rank") <= 1))
            | ((F.col("pair_type") == "neg") & (F.col("rank") <= k_neg))
        )
        .select("anchor_id", "pair_id", "pair_type", "cosine", "rank")
        .orderBy("anchor_id", "pair_type", "rank")
    )


# ------------------------------------------------------------ product
# quantization (PQ / ADC)


def _pq_sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pq_subsplit(q: Column, m: int, sub_dim: int):
    """array<long> of m*sub_dim -> exploded (sub, sq) subvector rows."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.slice(q, s * sub_dim + 1, sub_dim),
        )
    )


def _pq_codebooks_np(cents_lit, m: int):
    """Driver-held codebooks -> per-subspace cid-sorted (cids, matrix)
    pairs for the numpy kernels (clusters can die independently per
    subspace, so each subspace carries its own cid list)."""
    import numpy as np

    by_sub: dict = {}
    for (sub, cid), c in sorted(cents_lit.items()):
        by_sub.setdefault(sub, []).append((cid, list(c)))
    out = {}
    for sub in range(m):
        entries = by_sub.get(sub, [])
        out[sub] = (
            np.asarray([cid for cid, _ in entries], dtype=np.int32),
            np.asarray([c for _, c in entries], dtype=np.int64),
        )
    return out


def _pq_assign_codes(base: DataFrame, cents_lit, m: int, sub_dim: int) -> DataFrame:
    """Encode: nearest sub-centroid per (vec_id, subspace), numpy-exact
    (int64 distances, argmin-first = smallest cid on ties), emitted as
    ``(vec_id, sub, cid)`` code rows.  Shuffle-free map stage; the
    codebooks ride in as a closure literal (m*k*sub_dim BIGINTs of
    metadata, never data)."""
    import pandas as pd

    cb = {s: (cids.tolist(), cmat.tolist())
          for s, (cids, cmat) in _pq_codebooks_np(cents_lit, m).items()}

    def encode(batches):
        import numpy as np

        cbn = {s: (np.asarray(cids, dtype=np.int32),
                   np.asarray(cmat, dtype=np.int64))
               for s, (cids, cmat) in cb.items()}
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n = len(M)
            Ms = M.reshape(n, m, sub_dim)
            vec_ids = pdf["vec_id"].to_numpy()
            frames = []
            for s in range(m):
                cids, C = cbn[s]
                d2 = ((Ms[:, s, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                best = d2.argmin(axis=1)
                frames.append(pd.DataFrame({
                    "vec_id": vec_ids,
                    "sub": np.full(n, s, dtype=np.int32),
                    "cid": cids[best],
                }))
            yield pd.concat(frames, ignore_index=True)

    return base.mapInPandas(encode, "vec_id long, sub int, cid int")


def _pq_update_partials(base: DataFrame, cents_lit, m: int, sub_dim: int) -> DataFrame:
    """One Lloyd round's update inputs as PER-BATCH PARTIAL SUMS: each
    Arrow batch assigns its vectors and emits at most m*k*sub_dim rows
    ``(sub, cid, dim, s, n)`` -- integer partials, order-independent, so
    the downstream (sub, cid, dim) aggregate is metadata-sized instead
    of an exploded corpus x dims relation."""
    import pandas as pd

    cb = {s: (cids.tolist(), cmat.tolist())
          for s, (cids, cmat) in _pq_codebooks_np(cents_lit, m).items()}

    def partials(batches):
        import numpy as np

        cbn = {s: (np.asarray(cids, dtype=np.int32),
                   np.asarray(cmat, dtype=np.int64))
               for s, (cids, cmat) in cb.items()}
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            n = len(M)
            Ms = M.reshape(n, m, sub_dim)
            frames = []
            for s in range(m):
                cids, C = cbn[s]
                k_s = len(cids)
                d2 = ((Ms[:, s, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                best = d2.argmin(axis=1)
                sums = np.zeros((k_s, sub_dim), dtype=np.int64)
                np.add.at(sums, best, Ms[:, s, :])
                counts = np.bincount(best, minlength=k_s).astype(np.int64)
                live = counts > 0
                idx, dim_idx = np.nonzero(live[:, None] & np.ones(
                    (1, sub_dim), dtype=bool))
                frames.append(pd.DataFrame({
                    "sub": np.full(len(idx), s, dtype=np.int32),
                    "cid": cids[idx],
                    "dim": (dim_idx + 1).astype(np.int32),
                    "s": sums[idx, dim_idx],
                    "n": counts[idx],
                }))
            yield pd.concat(frames, ignore_index=True)

    return base.mapInPandas(partials, "sub int, cid int, dim int, s long, n long")


def pq_train_encode(
    qvecs: DataFrame, dim: int, m: int = 8, k: int = 16, iters: int = 2
):
    """Product quantization (Jegou et al., PAMI'11): split each vector
    into ``m`` subspaces, Lloyd-train a ``k``-entry codebook per subspace
    (fixed-point, md5-seeded, identical floor-division arithmetic to
    ``clustering.kmeans_fixed_point`` so a SQL oracle replays it), then
    encode the corpus as ``m`` one-byte-ish codes per vector -- the
    memory-bound representation that lets a 100 TB corpus' candidate scan
    run over ``m``-code rows instead of full vectors.

    ``qvecs`` is ``(vec_id, q array<long>)`` already quantized.  Returns
    ``(codes, cents)``: codes ``(vec_id, sub, cid)``, cents
    ``(sub, cid, c array<long>)``.

    Per-iteration plan shape: ONE compact job -- shuffle-free argmin
    against the broadcast codebook map (all m subspaces assigned in the
    same stage), then a map-side-combinable (sub, cid, dim) aggregate
    whose m*k*sub_dim rows come back to the driver.  All subspaces train
    simultaneously; iteration count never multiplies corpus shuffles.
    """
    spark = qvecs.sparkSession
    sub_dim = dim // m
    base = qvecs.select("vec_id", "q").localCheckpoint(eager=False)

    seed_order = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    seed_rows = (
        base.orderBy(*seed_order)
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy(*seed_order)).alias("cid"), "q"
        )
        .collect()
    )
    cents_lit = {}
    for r in seed_rows:
        for s in range(m):
            cents_lit[(s, r.cid)] = list(r.q[s * sub_dim : (s + 1) * sub_dim])

    for _ in range(iters):
        # per-batch integer partials -> metadata-sized final aggregate;
        # Python's // floors, matching the oracle's explicit floor form
        agg = (
            _pq_update_partials(base, cents_lit, m, sub_dim)
            .groupBy("sub", "cid", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        by_key: dict = {}
        for r in agg:
            by_key.setdefault((r.sub, r.cid), {})[r.dim] = int(r.s) // int(r.n)
        cents_lit = {
            key: [dims[i] for i in sorted(dims)] for key, dims in by_key.items()
        }

    codes = _pq_assign_codes(base, cents_lit, m, sub_dim)
    cents = spark.createDataFrame(
        [(s, c, v) for (s, c), v in sorted(cents_lit.items())],
        "sub int, cid int, c array<bigint>",
    )
    return codes, cents


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    cents: DataFrame,
    dim: int,
    m: int = 8,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    query builds its m*|codebook| distance TABLE against the codebooks
    (metadata-sized), and every corpus vector's approximate distance is
    the sum of m table lookups on its codes -- never a full-vector
    distance against the corpus.

    Plan shape: the per-query tables broadcast (Q * m * k_codebook rows
    of metadata); the ADC scan is one equi-join of the code relation on
    (sub, cid) followed by a map-side-combinable (query, vec) sum.  At
    100 TB the scan stays memory-bound over code rows; full vectors are
    touched only if a caller reranks survivors (compose with
    ``brute_force_topk`` on the top-k output).

    ``queries`` is ``(vec_id, q array<long>)``.  Output:
    ``(query_id, neighbor_id, d2, rk)``, ties on (d2, neighbor_id).
    """
    sub_dim = dim // m
    qsubs = queries.select(
        F.col("vec_id").alias("query_id"),
        _pq_subsplit(F.col("q"), m, sub_dim).alias("sub", "sq"),
    )
    tables = qsubs.join(cents, "sub").select(
        "query_id",
        "sub",
        "cid",
        _pq_sqdist(F.col("sq"), F.col("c")).alias("pd2"),
    )
    scored = (
        codes.join(F.broadcast(tables), ["sub", "cid"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd2").cast("long").alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def residual_vectors(
    vecs: DataFrame, pcells: DataFrame, cents: DataFrame
) -> DataFrame:
    """``(vec_id, q - centroid(pcell))`` -- the residuals PQ codebooks
    train on and codes encode (FAISS IndexIVFPQ's encoding).  One
    broadcast join on the cell id + a zip_with map; BIGINT-exact."""
    cent_cols = cents.select(
        F.col("cid").alias("pcell"), F.col("c").alias("_cent")
    )
    return (
        vecs.join(pcells, "vec_id")
        .join(F.broadcast(cent_cols), "pcell")
        .select(
            "vec_id",
            F.zip_with("q", "_cent", lambda a, b: a - b).alias("q"),
        )
    )


def residual_adc_tables(
    queries: DataFrame, cents: DataFrame, pq_cents: DataFrame, m: int, sub_dim: int
) -> DataFrame:
    """Per-(query, cell) ADC lookup tables for residual-encoded codes:
    ``pd2(query, pcell, sub, cid) = ||(q - cent(pcell))_sub -
    book_sub(cid)||^2``.  Q x cells x m x k_codebook rows -- broadcast
    metadata, never data."""
    qres = (
        queries.select(F.col("vec_id").alias("query_id"), "q")
        .crossJoin(
            F.broadcast(
                cents.select(F.col("cid").alias("pcell"), F.col("c").alias("_cent"))
            )
        )
        .select(
            "query_id",
            "pcell",
            F.zip_with("q", "_cent", lambda a, b: a - b).alias("rq"),
        )
    )
    qsubs = qres.select(
        "query_id", "pcell", _pq_subsplit(F.col("rq"), m, sub_dim).alias("sub", "sq")
    )
    return qsubs.join(pq_cents, "sub").select(
        "query_id", "pcell", "sub", "cid",
        _pq_sqdist(F.col("sq"), F.col("c")).alias("pd2"),
    )


def range_search(
    queries: DataFrame,
    corpus: DataFrame,
    r2: int,
    cells: int = 8,
) -> DataFrame:
    """EXACT-COMPLETE radius search: every corpus vector within squared
    quantized-L2 distance ``r2`` of each query -- the radius complement
    of the top-k family (near-duplicate sweeps, epsilon-neighborhood
    graph construction, recall-guaranteed candidate generation).

    Unlike the ANN paths this is not approximate: cells prune by the
    triangle inequality -- a cell can hold a neighbor only if
    ``dist(q, centroid) <= r + cell_radius`` -- and the survivors get
    the exact distance filter, so the result equals brute force (the
    oracle replays brute force).  Pruning SOUNDNESS needs only a
    conservative bound, so the square roots may run in double with a
    +1 slack on the integer sqrt scale; exactness of the OUTPUT never
    depends on them.

    Scale shape: one k-means pass + one bounded per-cell max for the
    radii; per query the probe list is a broadcast filter over the
    cells-sized relation; candidates come from an equi-join on cell id.
    Worst case (r spanning everything) degenerates to brute force --
    that is inherent to exact radius search, and the cell radii make
    the common tight-radius case touch only nearby cells.
    ``queries``/``corpus`` are ``(vec_id, q array<long>)``.  Output:
    ``(query_id, neighbor_id, d2)``, self excluded, ordered."""
    from .clustering import assign_top_cells, kmeans_fixed_point

    corpus = corpus.select("vec_id", "q").localCheckpoint(eager=False)
    queries = queries.select("vec_id", "q").localCheckpoint(eager=False)

    _, cents, cents_lit = kmeans_fixed_point(
        corpus, k=cells, iters=2, return_lit=True
    )
    cents = cents.localCheckpoint(eager=False)
    members = assign_top_cells(corpus, cents, 1, cents_lit=cents_lit)
    with_d2 = (
        members.join(corpus, "vec_id")
        .join(F.broadcast(cents), "cid")
        .select(
            "vec_id", "cid", _pq_sqdist(F.col("q"), F.col("c")).alias("_md2")
        )
    )
    radii = with_d2.groupBy("cid").agg(F.max("_md2").alias("rad2"))

    # conservative probe bound: sqrt(d2(q, cent)) <= r + sqrt(rad2) + 1
    probe = (
        queries.select(F.col("vec_id").alias("query_id"), "q")
        .crossJoin(F.broadcast(cents.join(radii, "cid")))
        .select(
            "query_id",
            "cid",
            _pq_sqdist(F.col("q"), F.col("c")).alias("_qd2"),
            "rad2",
        )
        .filter(
            F.sqrt(F.col("_qd2").cast("double"))
            <= F.lit(float(r2) ** 0.5) + F.sqrt(F.col("rad2").cast("double")) + 1.0
        )
        .select("query_id", "cid")
    )
    exact = (
        probe.join(members.select(F.col("vec_id").alias("neighbor_id"), "cid"), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(
            queries.select(F.col("vec_id").alias("query_id"), F.col("q").alias("_qq")),
            "query_id",
        )
        .join(
            corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("_cq")),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            _pq_sqdist(F.col("_qq"), F.col("_cq")).alias("d2"),
        )
        .filter(F.col("d2") <= r2)
    )
    return exact.orderBy("query_id", "d2", "neighbor_id")


def auto_rerank_depth(
    cell_counts: list[int], k: int, depth_cap: int | None = None
) -> int:
    """Occupancy-driven IVF-PQ rerank depth: ``max(4*k, 2 * p90)`` over
    the primary-cell member counts.

    PROFILE_r10 SS1 measured the failure mode this sizes against: ADC
    with an m=8 code cannot RANK near-identical vectors inside a cell,
    so recall@k is governed by whether the exact-rerank shortlist spans
    a whole cell's worth of candidates.  2x the p90 occupancy covers
    the dense cells with slack; the 4*k floor keeps tiny corpora from
    under-shortlisting.  Input is metadata-sized (one count per IVF
    cell), so callers can collect it from the membership pass or a
    persisted index's meta sidecar.

    ``depth_cap`` (r12, VERDICT r11 ask #5) bounds the skew blow-up:
    when one cell holds most of the corpus, p90 approaches n and the
    uncapped rule degenerates to exact search over the hot cell --
    perfect recall at brute-force cost.  The cap trades that recall for
    bounded rerank work (measured on a 90%-one-cluster corpus in
    tools/recall_bench.py: the capped run keeps the wall flat while
    recall drops only for queries landing IN the mega-cluster, whose
    true neighbors the m-code cannot rank).  The ``4*k`` floor always
    wins over the cap, so a tiny cap cannot under-shortlist below the
    sane minimum.
    """
    if not cell_counts:
        depth = max(4 * k, 25)
    else:
        counts = sorted(cell_counts)
        # integer ceil(0.9n): float-free so a SQL oracle replays the rank
        # identically (sim_ivfpq_auto_depth mirrors this in DuckDB)
        p90 = counts[(9 * len(counts) + 9) // 10 - 1]
        depth = max(4 * k, 2 * p90)
    if depth_cap is not None:
        depth = min(depth, max(4 * k, depth_cap))
    return depth


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    cells: int = 8,
    nprobe: int = 4,
    replicas: int = 2,
    prefilter: int | None = None,
    k: int = 5,
    auto_depth_cap: int | None = None,
) -> DataFrame:
    """IVF-PQ with exact rerank -- the canonical billion-scale ANN
    pipeline (FAISS's IndexIVFPQ shape), composed from the engine's own
    parts, every distance a BIGINT:

    1. ROUTE (IVF): fixed-point k-means builds ``cells`` centroids over
       the full-width vectors; each corpus vector posts into its
       ``replicas`` nearest cells, each query probes ``nprobe``.
    2. SHORTLIST (PQ/ADC): probed-cell candidates only, scored by
       asymmetric distance over the corpus's 8-code rows (per-query
       lookup tables); ``prefilter`` survive per query, ties on
       (ad2, cand_id).
    3. EXACT: full-width rerank of the survivors, top ``k`` by (d2, id).

    RESIDUAL encoding (FAISS IndexIVFPQ's layout): codes quantize
    ``q - centroid(primary cell)``, not ``q``, so the codebook spans
    the within-cell spread instead of the whole corpus spread.  The ADC
    lookup table becomes per-(query, cell): ``||q_sub - cent_sub(pcell)
    - book(cid)||^2`` -- still Q x cells x 8 x 16 rows of
    broadcast metadata.

    Measured on a 25-cluster corpus (tools/recall_bench.py): cell
    ROUTING recall is 1.0 and ADC separates clusters cleanly, but
    ranking WITHIN a 200-member cluster is below any 8-subspace code's
    resolution -- so recall@10 is governed by the rerank depth:
    prefilter 25 -> 0.12, 100 -> 0.53, 200 (the cluster size) -> 1.00
    (a 256- instead of 16-entry codebook at prefilter 25 only reaches 0.54).  At scale
    the rule is FAISS practice verbatim: set ``prefilter`` to a small
    multiple of the expected same-cell candidate density per query;
    rerank cost stays prefilter x dim per query.

    ``prefilter=None`` (the default since r11) applies that rule
    automatically: rerank depth = ``max(4*k, 2 * p90(primary-cell
    occupancy))``, computed from the SAME membership pass the routing
    already ran (one <=``cells``-row aggregate -- metadata-sized).  The
    r10 recall table above is exactly why: a fixed default of 25 read
    recall 0.12 on a 200-member-cluster corpus, while 2x the p90 cell
    size reads ~1.0 (tools/recall_bench.py, "auto" rows).  Pass an
    explicit int to pin the depth (the oracle-checked registry queries
    do, so their static SQL replays bit-exactly).

    Scale shape: the corpus is touched by the Lloyd passes, one
    shuffle-free membership map, the PQ encode, and an EQUI-join of its
    code rows against the query probes -- no nested-loop join anywhere.
    A query reads ~``replicas * nprobe / cells`` of the corpus at CODE
    width (8 BIGINTs/vector), full vectors only for ``prefilter`` rows.

    ``queries``/``corpus`` are ``(vec_id, q array<long>)`` already
    quantized.  Output: ``(query_id, neighbor_id, d2, rk)``.
    """
    from .clustering import assign_top_cells, kmeans_fixed_point

    corpus = corpus.select("vec_id", "q").localCheckpoint(eager=False)
    queries = queries.select("vec_id", "q").localCheckpoint(eager=False)

    _, cents, cents_lit = kmeans_fixed_point(
        corpus, k=cells, iters=2, return_lit=True
    )
    cents = cents.localCheckpoint(eager=False)
    # ONE assignment pass serves both the replica memberships and the
    # primary cell (rank 1) -- checkpointed because the two derivations
    # would otherwise re-run the distance kernel per consumer
    memberships = assign_top_cells(
        corpus, cents, replicas, cents_lit=cents_lit
    ).localCheckpoint(eager=False)
    cand_cells = memberships.select(F.col("vec_id").alias("cand_id"), "cid")
    probe_cells = assign_top_cells(
        queries, cents, nprobe, cents_lit=cents_lit
    ).select(F.col("vec_id").alias("query_id"), "cid")
    pairs = (
        probe_cells.join(cand_cells, "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()
    )

    sub_dim = dim // 8  # pq_train_encode's 8 subspaces
    pcells = memberships.filter(F.col("rank") == 1).select(
        "vec_id", F.col("cid").alias("pcell")
    )
    if prefilter is None:
        prefilter = auto_rerank_depth(
            [r["n"] for r in pcells.groupBy("pcell")
             .agg(F.count("*").alias("n")).collect()],
            k,
            depth_cap=auto_depth_cap,
        )
    rcorpus = residual_vectors(corpus, pcells, cents)
    codes, pq_cents = pq_train_encode(rcorpus, dim=dim)
    tables = residual_adc_tables(queries, cents, pq_cents, 8, sub_dim)
    adc = (
        pairs.join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(
            pcells.withColumnRenamed("vec_id", "cand_id"), "cand_id"
        )
        .join(F.broadcast(tables), ["query_id", "pcell", "sub", "cid"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("pd2").cast("long").alias("ad2"))
    )
    wa = Window.partitionBy("query_id").orderBy("ad2", "cand_id")
    shortlist = adc.withColumn("srk", F.row_number().over(wa)).filter(
        F.col("srk") <= prefilter
    )

    exact = (
        shortlist.join(
            queries.select(
                F.col("vec_id").alias("query_id"), F.col("q").alias("_qq")
            ),
            "query_id",
        )
        .join(
            corpus.select(
                F.col("vec_id").alias("cand_id"), F.col("q").alias("_cq")
            ),
            "cand_id",
        )
        .select(
            "query_id",
            F.col("cand_id").alias("neighbor_id"),
            _pq_sqdist(F.col("_qq"), F.col("_cq")).alias("d2"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .orderBy("query_id", "rk")
    )


def ndcg_at_k(
    system: DataFrame,
    relevance: DataFrame,
    k: int = 5,
) -> DataFrame:
    """NDCG@k of a retrieval ranking against graded relevance -- the
    standard ranking-quality metric (Jarvelin & Kekalainen 2002), as
    exact integers so the SQL oracle replays it bit-for-bit.

    ``system`` is ``(query_id, neighbor_id, rk)`` (1-based ranks, the
    shape every top-k operator here emits); ``relevance`` is
    ``(query_id, neighbor_id, rel)`` with integer grades >= 0 (absent
    pairs grade 0).  DCG = sum over served ranks of
    ``rel / log2(rk + 1)``; IDCG re-ranks each query's OWN relevance
    grades descending.  Fixed point: the k rank discounts
    ``log2(2..k+1)`` are Q8 literals from the SAME kernel the LM stack
    uses (``lm.fixed_log2_py``), each contribution is
    ``(rel * 1000 * 256) div lg_q8`` -- an exact BIGINT in any
    summation order -- and ``ndcg_ppm = dcg * 1e6 div idcg``
    (0 when a query has no relevant documents at all).

    Scale shape: one equi-join of the served lists against the
    relevance relation (both k-bounded per query after the rank
    filters), one per-query window over the relevance grades for the
    ideal ordering, two hash aggs.  Nothing corpus-pairwise.
    Output: ``(query_id, dcg_milli, idcg_milli, ndcg_ppm)``."""
    from .lm import fixed_log2_py

    # Q8 discount table for ranks 1..k: log2(rk + 1)
    lg = [fixed_log2_py(r + 1, 1) for r in range(1, k + 1)]
    lg_arr = F.array(*[F.lit(v).cast("long") for v in lg])

    served = (
        system.filter(F.col("rk") <= k)
        .join(relevance, ["query_id", "neighbor_id"], "left")
        .select(
            "query_id",
            F.coalesce("rel", F.lit(0)).cast("long").alias("rel"),
            F.element_at(lg_arr, F.col("rk").cast("int")).alias("lg"),
        )
    )
    dcg = served.groupBy("query_id").agg(
        F.sum(F.expr("(rel * 256000) div lg")).alias("dcg_milli")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), "neighbor_id"
    )
    ideal = (
        relevance.filter(F.col("rel") > 0)
        .withColumn("irk", F.row_number().over(w))
        .filter(F.col("irk") <= k)
        .select(
            "query_id",
            "rel",
            F.element_at(lg_arr, F.col("irk").cast("int")).alias("lg"),
        )
    )
    idcg = ideal.groupBy("query_id").agg(
        F.sum(F.expr("(rel * 256000) div lg")).alias("idcg_milli")
    )
    return (
        dcg.join(idcg, "query_id", "full_outer")
        .select(
            "query_id",
            F.coalesce("dcg_milli", F.lit(0)).cast("long").alias("dcg_milli"),
            F.coalesce("idcg_milli", F.lit(0)).cast("long").alias("idcg_milli"),
        )
        .select(
            "query_id",
            "dcg_milli",
            "idcg_milli",
            F.expr(
                "CASE WHEN idcg_milli = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (dcg_milli * 1000000) div idcg_milli END"
            ).alias("ndcg_ppm"),
        )
    )
