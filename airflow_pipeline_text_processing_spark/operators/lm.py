"""Statistical language-model scoring on-engine: unigram surprisal
(CCNet-style perplexity quality filter) and a multinomial Naive Bayes
classifier -- both built on an EXACT fixed-point log2 kernel so every
distributed aggregate is a BIGINT sum, bit-reproducible in any partition
order on any engine.

Why fixed point: ``libm`` ``log``/``ln`` round differently across
engines (the reason ``text.py::bm25_scores`` dropped the log wrap), and
float sums are order-dependent across partitions -- a silent
nondeterminism at 1000-executor scale.  The kernel below computes
``floor-approx(log2(num/den) * 256)`` with integer shifts, integer
division, and 8 mantissa-squaring rounds (the classic binary-logarithm
algorithm): max abs error vs true log2 is < 2^-8 + 2^-16 (~0.004 bits),
and the result is the SAME BIGINT in Spark and DuckDB because every step
is exact integer arithmetic.

Scale: the kernel is applied to the *model* relation (vocabulary-sized,
not corpus-sized); the corpus-side work is one explode + one
map-side-combined groupBy + one broadcast join -- no Python, no floats,
no all-pairs.  Overflow bound: ``num < 2^47`` (the ``num << 16`` step),
i.e. ~1.4e14 corpus tokens before the kernel needs DECIMAL -- documented
here rather than silently wrong.

Reference parity: the reference pipeline (dags/text_processing_dag.py)
has no statistical scoring at all; this module is part of the
LLM-training-data extension surface (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .text import tokens

FRAC_BITS = 8
_Q = 16  # mantissa fixed-point fractional bits


def fixed_log2_py(num: int, den: int) -> int:
    """Scalar reference of the kernel: the SAME Q8 result as
    :func:`fixed_log2` / :func:`fixed_log2_sql`, as one Python int.
    For inlining tiny literal tables (e.g. the k+1 rank discounts of
    ``similarity.ndcg_at_k``) identically into Spark exprs and SQL
    oracles, and as the independent check the reference tests use.
    Same precondition: ``num >= den >= 1``, ``num < 2^47``."""
    t = (num << _Q) // den
    e = t.bit_length() - (_Q + 1)
    m = t >> e
    frac = 0
    for _ in range(FRAC_BITS):
        m = (m * m) >> _Q
        bit = 1 if m >= (1 << (_Q + 1)) else 0
        frac = (frac << 1) | bit
        if bit:
            m >>= 1
    return e * (1 << FRAC_BITS) + frac


def fixed_log2(
    df: DataFrame, num_col: str, den_col: str, out_col: str
) -> DataFrame:
    """Append ``out_col = floor-approx(log2(num/den) * 256)`` as BIGINT.

    Requires ``num >= den >= 1`` (callers arrange ratios >= 1; for a
    probability p <= 1, score the surprisal ``log2(1/p)``) and
    ``num < 2^47``.  Algorithm: normalize ``t = (num << 16) div den`` to
    a mantissa ``m`` in ``[2^16, 2^17)`` with exponent ``e``; then 8
    rounds of mantissa squaring, emitting one fraction bit per round.
    Every step is BIGINT arithmetic -- identical in Spark and DuckDB
    (see ``fixed_log2_sql``, the same chain as SQL text).
    """
    # One selectExpr per derivation step (r15): the previous
    # withColumn-per-column form made ~40 py4j round trips per call
    # site (~170 ms of pure driver chatter; NB queries call this twice
    # per build, three builds per bench entry).  selectExpr takes every
    # expression string in ONE round trip; the projected columns --
    # and therefore the plan and every value -- are identical.
    # selectExpr('*', ...) APPENDS, unlike the old withColumn which
    # replaced -- drop pre-existing _fl_* temps / out_col first so a
    # caller frame that already carries them cannot make later
    # references ambiguous (r16 ADVICE).
    stale = [c for c in df.columns if c.startswith("_fl_") or c == out_col]
    if stale:
        df = df.drop(*stale)
    df = df.selectExpr(
        "*",
        f"shiftleft(CAST({num_col} AS BIGINT), {_Q})"
        f" div CAST({den_col} AS BIGINT) AS _fl_t",
    ).selectExpr(
        "*",
        f"CAST(length(bin(_fl_t)) - {_Q + 1} AS BIGINT) AS _fl_e",
    ).selectExpr(
        "*",
        "_fl_t div shiftleft(CAST(1 AS BIGINT), CAST(_fl_e AS INT))"
        " AS _fl_m0",
        "CAST(0 AS BIGINT) AS _fl_f0",
    )
    for i in range(1, FRAC_BITS + 1):
        p = i - 1
        sq = f"(_fl_m{p} * _fl_m{p}) div {1 << _Q}"
        hi = f"({sq}) >= {1 << (_Q + 1)}"
        df = df.selectExpr(
            "*",
            f"CASE WHEN {hi} THEN ({sq}) div 2 ELSE ({sq}) END AS _fl_m{i}",
            f"_fl_f{p} * 2 + CASE WHEN {hi} THEN 1 ELSE 0 END AS _fl_f{i}",
        )
    df = df.selectExpr(
        "*", f"_fl_e * {1 << FRAC_BITS} + _fl_f{FRAC_BITS} AS {out_col}"
    )
    drop = (
        ["_fl_t", "_fl_e"]
        + [f"_fl_m{i}" for i in range(FRAC_BITS + 1)]
        + [f"_fl_f{i}" for i in range(FRAC_BITS + 1)]
    )
    return df.drop(*drop)


def fixed_log2_sql(
    inner_sql: str, keep_cols: str, num_expr: str, den_expr: str, out_name: str
) -> str:
    """The DuckDB mirror of :func:`fixed_log2`: a generated subselect
    chain computing the identical BIGINT result.  ``inner_sql`` is any
    relation-producing SELECT; ``keep_cols`` the columns to carry
    through; ``num_expr``/``den_expr`` expressions over it."""
    sql = (
        f"SELECT {keep_cols}, CAST({num_expr} AS BIGINT) AS _fl_num,"
        f" CAST({den_expr} AS BIGINT) AS _fl_den FROM ({inner_sql})"
    )
    sql = (
        f"SELECT {keep_cols}, ((_fl_num << {_Q}) // _fl_den) AS _fl_t"
        f" FROM ({sql})"
    )
    sql = (
        f"SELECT {keep_cols}, _fl_t,"
        f" CAST(LENGTH(bin(_fl_t)) - {_Q + 1} AS BIGINT) AS _fl_e"
        f" FROM ({sql})"
    )
    sql = (
        f"SELECT {keep_cols}, _fl_e,"
        f" (_fl_t // (CAST(1 AS BIGINT) << CAST(_fl_e AS INT))) AS _fl_m0,"
        f" CAST(0 AS BIGINT) AS _fl_f0 FROM ({sql})"
    )
    for i in range(1, FRAC_BITS + 1):
        p = i - 1
        sq = f"((_fl_m{p} * _fl_m{p}) // {1 << _Q})"
        hi = f"{sq} >= {1 << (_Q + 1)}"
        sql = (
            f"SELECT {keep_cols}, _fl_e,"
            f" CASE WHEN {hi} THEN {sq} // 2 ELSE {sq} END AS _fl_m{i},"
            f" _fl_f{p} * 2 + CASE WHEN {hi} THEN 1 ELSE 0 END AS _fl_f{i}"
            f" FROM ({sql})"
        )
    return (
        f"SELECT {keep_cols},"
        f" (_fl_e * {1 << FRAC_BITS} + _fl_f{FRAC_BITS}) AS {out_name}"
        f" FROM ({sql})"
    )


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Per-document unigram cross-entropy (bits/token, milli-bit fixed
    point) under an add-one-smoothed unigram LM trained on the corpus
    itself -- the CCNet-style "LM perplexity" quality filter, exact.

    ``p(t) = (c_t + 1) / (N + V)``; per-token surprisal
    ``s_q8(t) = fixed_log2(N + V, c_t + 1)``; per-doc
    ``bpt_milli = (sum s_q8 * 1000) div (256 * n_tokens)`` -- all BIGINT,
    so the per-doc sum is order-independent across partitions.

    Scale shape: the corpus is scanned twice (once for the model
    groupBy, once for scoring) -- deliberately NOT materialized, because
    the exploded token relation is corpus-sized and recomputing a narrow
    explode is cheaper than caching it at 100 TB.  The model relation
    (vocabulary-sized) is broadcast back.  Zero-token documents drop out
    identically in both engines (inner join on exploded tokens).
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    model = toks.groupBy("token").agg(F.count("*").alias("c"))
    scal = model.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("v_size")
    )
    grid = model.crossJoin(F.broadcast(scal)).select(
        "token",
        (F.col("n_total") + F.col("v_size")).alias("_num"),
        (F.col("c") + F.lit(1)).alias("_den"),
    )
    vocab_scores = fixed_log2(grid, "_num", "_den", "s_q8").select(
        "token", "s_q8"
    )
    per_doc = (
        toks.join(F.broadcast(vocab_scores), "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("s_q8").alias("bits_q8"))
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "bits_q8",
        F.expr("(bits_q8 * 1000) div (256 * n_tokens)").alias("bpt_milli"),
    ).orderBy("doc_id")


def char_trigrams(col):
    """Character trigrams of whitespace-normalized lowercased text --
    the classic lang-id feature (Cavnar & Trenkle 1994): far more
    discriminative per unit of text than word markers, and
    vocabulary-bounded (<= charset^3) so the NB grid stays tiny.
    Engine-portable: both engines normalize with a global
    ``\\s+ -> ' '`` regexp_replace and slice with 1-based substring.

    One codegen'd regexp_extract_all replaces the r12 HOF pipeline
    (transform/filter/sequence/substring -- higher-order functions never
    enter whole-stage codegen, so every trigram paid an interpreted
    lambda evaluation; measured 1.90 s -> 0.38 s for the bare explode at
    sf0.1, r16).  The pattern ``(?s)(?=(...)).`` captures the 3 chars of
    lookahead at each position and then CONSUMES one char, so the match
    loop advances by full code points -- a bare zero-width ``(?=(...))``
    advances by UTF-16 code units and splits surrogate pairs (extra
    half-surrogate trigrams on supplementary-plane text; pinned in
    tests/test_r16_optim.py).  ``(?s)`` keeps ``.`` matching the line
    separators U+0085/U+2028/U+2029, which ``\\s+`` (ASCII-only in Java
    regex) does not normalize away.  Java regex and substring both index
    by code points, so the captured trigrams are byte-identical to the
    substring formulation; null text maps to the empty array exactly as
    the old filter chain did (coalesce)."""
    s = F.regexp_replace(F.lower(col), r"\s+", " ")
    return F.coalesce(
        F.regexp_extract_all(s, F.lit(r"(?s)(?=(...))."), 1),
        F.array().cast("array<string>"),
    )


def nb_classify(
    docs: DataFrame,
    label_col: str = "lang",
    feature_fn=None,
    top_k_features: int | None = None,
) -> DataFrame:
    """Multinomial Naive Bayes trained AND applied on-engine, exact:
    ``doc_id, label_actual, label_pred, correct, score_q8``.

    Train: per-(label, token) counts with add-one smoothing over the
    global vocabulary; class priors from document counts.  Score: for
    each document and each label, total surprisal
    ``prior_q8(l) + sum_t fixed_log2(N_l + V, c_{l,t} + 1)`` (BIGINT);
    predict the argmin with a deterministic ``(score, label)`` tiebreak.

    ``feature_fn`` maps the text Column to an array of feature strings
    (default: the shared word tokenizer).  Pass :func:`char_trigrams`
    for the Cavnar-Trenkle language-id formulation (r11) -- the plan
    is identical, only the exploded feature stream changes.

    ``top_k_features`` (r12, verdict ask #3) applies the actual
    Cavnar-Trenkle PROFILE cut: the model keeps only the union over
    classes of each class's ``k`` most frequent features (ties broken
    by token asc, deterministic), and scoring ignores out-of-profile
    features (inner join against the reduced grid).  Per-class totals
    and the smoothing vocabulary are recomputed over the kept grid, so
    the capped model is a well-formed multinomial NB on the reduced
    feature space.  The rank is a two-level exact top-k over the
    (vocab x L)-sized count relation (salted shard rank, then the
    exact rank over survivors -- see the in-line proof) -- grid work,
    never a corpus-sized sort.  Cuts the scored feature stream from
    corpus-sized to profile-hits-only (measured 7.4 s -> under 3 s on
    the trigram lang-id at sf0.1) at a small accuracy cost; documents
    with NO in-profile feature drop out of the output, identically on
    both engines.

    Scale shape: the (vocab x labels) conditional grid -- including
    zero-count pairs, which smoothing requires -- is built once
    (vocab-sized x small L) and broadcast into the corpus-side token
    stream; one groupBy(doc, label) sum; one per-doc window for the
    argmin.  The corpus never shuffles on anything wider than
    (doc_id, label).  For vocabularies too large to broadcast, the same
    plan works as a shuffle join on ``token`` -- the grid is still
    O(V x L), never corpus-sized.
    """
    feats = feature_fn if feature_fn is not None else tokens
    base = docs.select(
        "doc_id", F.col(label_col).alias("label_actual"), F.col("text")
    )
    # the exploded feature stream feeds TWO derivations -- the training
    # grid (class_tok) and the per-document scoring join -- so cut the
    # lineage once; with dense extractors (char_trigrams emits ~|text|
    # features per doc) the duplicate explode dominated the query wall
    # (measured 5.8 s -> 3.6 s at sf0.1, r11)
    toks = base.select(
        "doc_id",
        "label_actual",
        F.explode(feats(F.col("text"))).alias("token"),
    ).localCheckpoint(eager=False)
    cond_scores, prior_scores = nb_train_model(toks, base, top_k_features)
    return nb_score_with_model(toks, cond_scores, prior_scores)


def nb_train_model(
    toks: DataFrame, base: DataFrame, top_k_features: int | None = None
) -> tuple:
    """TRAIN the multinomial NB: per-(label, token) smoothed
    conditionals and class priors, both in exact Q8 fixed point, from
    an exploded ``(doc_id, label_actual, token)`` stream and its
    ``(doc_id, label_actual, ...)`` base relation.  Returns
    ``(cond_scores, prior_scores)`` -- the MODEL, (vocab x L)- and
    L-sized relations a serving pipeline persists once and scores
    against forever (text_langid_served); ``nb_classify`` composes this
    with :func:`nb_score_with_model` for the self-contained one-query
    form.  Training is deterministic (exact integer arithmetic,
    deterministic tie-breaks), so a saved model scores bit-identically
    to the train-in-query path."""
    class_tok = toks.groupBy(F.col("label_actual").alias("label"), "token").agg(
        F.count("*").alias("c_lt")
    )
    if top_k_features is not None:
        # the capped path reads class_tok THREE times (the profile rank,
        # the restricted-count join below, and class_tot/grid); without a
        # lineage cut each consumer re-aggregates the corpus-sized token
        # stream from the checkpoint.  class_tok is grid-sized (vocab x
        # L), so the cut is cheap; at sf0.1 it measures at parity (the
        # explode dominates), and it removes the 3x re-aggregation that
        # would otherwise grow with the corpus.
        class_tok = class_tok.localCheckpoint(eager=False)
        # two-level exact top-k (the x30 curve caught the one-level
        # form: a window partitioned only by label sorts the whole
        # vocabulary with L-way parallelism -- 4.3x at 10x->30x).
        # Level 1 ranks within (label, token-hash salt) -- 64-way
        # parallel, each shard vocab/64-sized -- and keeps k per shard,
        # which provably contains every global top-k member (rank <= k
        # in the full per-label order implies rank <= k in any subset).
        # Level 2 ranks the <= 64*k survivors per label exactly.
        _salt = F.pmod(F.xxhash64("token"), F.lit(64))
        w_shard = Window.partitionBy("label", _salt).orderBy(
            F.col("c_lt").desc(), F.col("token").asc()
        )
        w_prof = Window.partitionBy("label").orderBy(
            F.col("c_lt").desc(), F.col("token").asc()
        )
        profile_vocab = (
            class_tok.withColumn("_srk", F.row_number().over(w_shard))
            .filter(F.col("_srk") <= top_k_features)
            .withColumn("_prk", F.row_number().over(w_prof))
            .filter(F.col("_prk") <= top_k_features)
            .select("token")
            .distinct()
        )
        # counts for the kept tokens across ALL labels (a token in one
        # class's profile still needs its true count in every class)
        class_tok = class_tok.join(F.broadcast(profile_vocab), "token")
    class_tot = class_tok.groupBy("label").agg(F.sum("c_lt").alias("n_l"))
    vocab = class_tok.select("token").distinct()
    vsize = vocab.agg(F.count("*").alias("v_size"))
    grid = (
        vocab.crossJoin(F.broadcast(class_tot))
        .join(F.broadcast(class_tok), ["token", "label"], "left")
        .select(
            "token",
            "label",
            (F.col("n_l") + F.lit(0)).alias("n_l"),
            F.coalesce(F.col("c_lt"), F.lit(0)).alias("c"),
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            "token",
            "label",
            (F.col("n_l") + F.col("v_size")).alias("_num"),
            (F.col("c") + F.lit(1)).alias("_den"),
        )
    )
    cond_scores = fixed_log2(grid, "_num", "_den", "s_q8").select(
        "token", "label", "s_q8"
    )
    n_docs = base.agg(F.count("*").alias("n_docs"))
    priors = (
        base.groupBy(F.col("label_actual").alias("label"))
        .agg(F.count("*").alias("n_docs_l"))
        .crossJoin(F.broadcast(n_docs))
    )
    prior_scores = fixed_log2(priors, "n_docs", "n_docs_l", "prior_q8").select(
        "label", "prior_q8"
    )
    return cond_scores, prior_scores


def nb_score_with_model(
    toks: DataFrame, cond_scores: DataFrame, prior_scores: DataFrame
) -> DataFrame:
    """SCORE an exploded ``(doc_id, label_actual, token)`` stream
    against a trained NB model (``nb_train_model``'s output, fresh or
    read back from parquet): broadcast the (vocab x L) conditionals
    into the corpus-side stream, one groupBy(doc, label) sum, one
    per-doc argmin window -- the serving half of the pipeline, corpus
    never shuffling on anything wider than (doc_id, label).  Documents
    with no in-model feature drop out (the capped-profile contract)."""
    doc_label = (
        toks.join(F.broadcast(cond_scores), "token")
        .groupBy("doc_id", "label_actual", "label")
        .agg(F.sum("s_q8").alias("cond_q8"))
        .join(F.broadcast(prior_scores), "label")
        .select(
            "doc_id",
            "label_actual",
            "label",
            (F.col("cond_q8") + F.col("prior_q8")).alias("score_q8"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_q8").asc(), F.col("label").asc()
    )
    return (
        doc_label.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            "label_actual",
            F.col("label").alias("label_pred"),
            (F.col("label") == F.col("label_actual"))
            .cast("int")
            .alias("correct"),
            "score_q8",
        )
        .orderBy("doc_id")
    )


# log2(1/0.4) * 256 = 338.44... truncated: the Stupid Backoff penalty
# (Brants et al. 2007 use alpha = 0.4) as an exact Q8 constant, so the
# backoff branch stays in integer arithmetic like everything else.
BACKOFF_PENALTY_Q8 = 338


def bigram_surprisal_backoff(
    train: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """Stupid-Backoff bigram LM (the web-scale scheme of Brants et al.
    2007: score-based backoff instead of normalized interpolation --
    chosen here ALSO because interpolating probabilities before the log
    needs cross-products that overflow BIGINT at large N, while backoff
    stays inside the fixed_log2 num < 2^47 bound) trained on ``train``
    and scored over ``eval_docs``: ``doc_id, n_tokens, n_backoff,
    total_q8, bpt_milli``.

    Per position i >= 2: if the bigram was seen in training, surprisal
    is ``fixed_log2(ctx(prev), c(prev, cur))`` with ``ctx`` the
    context-occurrence total (so num >= den structurally); else
    ``BACKOFF_PENALTY_Q8 + smoothed unigram``.  First tokens and OOV
    always take the add-one unigram path.

    Scale shape: bigram pairs come from an array zip inside each
    document (no self-join on position); both model relations
    (bigram-vocabulary and eval-token-vocabulary) are model-sized and
    broadcast; the eval corpus shuffles only on doc_id for the final
    sum.  The token array is materialized behind a projection boundary
    before any lambda references it (the Catalyst re-inlining trap
    documented at dedup.py::positional_shingles).
    """
    pair_expr = (
        "CASE WHEN size(_tk) < 2 THEN array() ELSE"
        " transform(sequence(2, size(_tk)),"
        " i -> struct(element_at(_tk, i - 1) AS prev,"
        " element_at(_tk, i) AS cur)) END"
    )

    def _pairs(docs: DataFrame) -> DataFrame:
        base = docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
        return base.select(
            "doc_id", F.explode(F.expr(pair_expr)).alias("p")
        ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))

    def _firsts(docs: DataFrame) -> DataFrame:
        base = docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
        return base.filter(F.size("_tk") >= 1).select(
            "doc_id", F.expr("element_at(_tk, 1)").alias("cur")
        )

    train_toks = train.select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    uni = train_toks.groupBy("token").agg(F.count("*").alias("c"))
    scal = uni.agg(F.sum("c").alias("n_total"), F.count("*").alias("v_size"))

    bi = _pairs(train).groupBy("prev", "cur").agg(F.count("*").alias("c_bi"))
    ctx = bi.groupBy("prev").agg(F.sum("c_bi").alias("ctx_n"))
    bi_scores = fixed_log2(
        bi.join(ctx, "prev").select(
            "prev", "cur",
            F.col("ctx_n").alias("_num"), F.col("c_bi").alias("_den"),
        ),
        "_num", "_den", "s_bi_q8",
    ).select("prev", "cur", "s_bi_q8")

    eval_pairs = _pairs(eval_docs)
    eval_firsts = _firsts(eval_docs)
    eval_vocab = (
        eval_pairs.select(F.col("cur").alias("token"))
        .unionAll(eval_firsts.select(F.col("cur").alias("token")))
        .distinct()
    )
    uni_scores = fixed_log2(
        eval_vocab.join(uni, "token", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "token",
            (F.col("n_total") + F.col("v_size")).alias("_num"),
            (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)).alias("_den"),
        ),
        "_num", "_den", "s_uni_q8",
    ).select("token", "s_uni_q8")

    first_scored = eval_firsts.join(
        F.broadcast(uni_scores), eval_firsts.cur == uni_scores.token
    ).select(
        "doc_id",
        F.col("s_uni_q8").alias("s_q8"),
        F.lit(0).alias("is_backoff"),
    )
    pair_scored = (
        eval_pairs.join(F.broadcast(bi_scores), ["prev", "cur"], "left")
        .join(
            F.broadcast(uni_scores),
            eval_pairs.cur == uni_scores.token,
        )
        .select(
            "doc_id",
            F.coalesce(
                F.col("s_bi_q8"),
                F.lit(BACKOFF_PENALTY_Q8) + F.col("s_uni_q8"),
            ).alias("s_q8"),
            F.when(F.col("s_bi_q8").isNull(), 1).otherwise(0).alias(
                "is_backoff"
            ),
        )
    )
    return (
        first_scored.unionAll(pair_scored)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("is_backoff").alias("n_backoff"),
            F.sum("s_q8").alias("total_q8"),
        )
        .select(
            "doc_id", "n_tokens", "n_backoff", "total_q8",
            F.expr("(total_q8 * 1000) div (256 * n_tokens)").alias(
                "bpt_milli"
            ),
        )
        .orderBy("doc_id")
    )


def cooccurrence_pmi(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Top positively-associated token pairs by document-level pointwise
    mutual information: ``PMI(a,b) = log2(df_ab * N / (df_a * df_b))``
    over document frequencies, in the exact Q8 fixed-point bits of
    :func:`fixed_log2` (negatively- and un-associated pairs, ratio < 1,
    are filtered BEFORE the log -- the kernel's domain, and the pairs a
    collocation miner keeps anyway).

    Scale shape: the pair relation comes from a per-document self-join
    of the DISTINCT-token posting list -- quadratic only in unique
    tokens per document (bounded by document length), linear in corpus
    size; document frequencies are vocabulary-sized broadcasts.  All
    counts and the PMI are BIGINTs: deterministic in any order.
    """
    post = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"),
    )
    post = post.localCheckpoint(eager=False)  # both pair sides + df counts
    dfreq = post.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    a, b = post.alias("a"), post.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count("*").alias("df_ab"))
    )
    joined = (
        pairs.join(
            F.broadcast(dfreq.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))),
            "tok_a",
        )
        .join(
            F.broadcast(dfreq.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))),
            "tok_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df_ab") * F.col("n_docs") >= F.col("df_a") * F.col("df_b"))
        .select(
            "tok_a", "tok_b", "df_a", "df_b", "df_ab",
            (F.col("df_ab") * F.col("n_docs")).alias("_num"),
            (F.col("df_a") * F.col("df_b")).alias("_den"),
        )
    )
    scored = fixed_log2(joined, "_num", "_den", "pmi_fp").drop("_num", "_den")
    return scored.orderBy(
        F.col("pmi_fp").desc(),
        F.col("df_ab").desc(),
        "tok_a",
        "tok_b",
    ).limit(top_n)


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the document's OWN token
    distribution (milli-bits/token) -- the lexical-diversity quality
    signal: boilerplate and keyword-stuffed spam score low, natural
    prose scores near the corpus ceiling.  Complements the Gopher
    repetition signals (``text.py::repetition_signals``), which look at
    n-gram structure; entropy summarizes the whole histogram.

    Exact identity used: ``H = log2(n) - (1/n) * sum_t c_t*log2(c_t)``
    so the kernel is only ever applied to ratios >= 1.  Scale shape:
    the corpus-sized work is one explode + two map-side-combinable
    groupBys; :func:`fixed_log2` is applied ONLY to the two value-sized
    relations (distinct per-doc token counts ``c`` and distinct
    document lengths ``n`` -- both tiny), each broadcast back.  Every
    aggregate is a BIGINT; Spark ``div`` and DuckDB ``//`` both
    truncate toward zero, and the numerator is provably >= 0 (the
    kernel is monotone and c <= n), so plain integer division matches.
    Zero-token documents drop out identically in both engines.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    cnt = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    perdoc = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("distinct_tokens"),
    )
    cvals = cnt.select("c").distinct().withColumn("_one", F.lit(1))
    clog = fixed_log2(cvals, "c", "_one", "lc_q8").select("c", "lc_q8")
    sdoc = (
        cnt.join(F.broadcast(clog), "c")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("lc_q8")).alias("s_q8"))
    )
    nvals = (
        perdoc.select(F.col("n_tokens").alias("nv"))
        .distinct()
        .withColumn("_one", F.lit(1))
    )
    nlog = fixed_log2(nvals, "nv", "_one", "ln_q8").select(
        F.col("nv").alias("n_tokens"), "ln_q8"
    )
    out = perdoc.join(sdoc, "doc_id").join(F.broadcast(nlog), "n_tokens")
    return out.select(
        "doc_id",
        "n_tokens",
        "distinct_tokens",
        F.expr(
            "((n_tokens * ln_q8 - s_q8) * 1000) div (256 * n_tokens)"
        ).alias("entropy_milli"),
    ).orderBy("doc_id")


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much more likely its hashed-token profile is under
    a TARGET corpus than under the raw corpus, in exact Q8 fixed point:

        weight_q8(doc) = sum_b c_doc(b) * (s_raw(b) - s_target(b))
        s_X(b) = fixed_log2(N_X + n_buckets, c_X(b) + 1)

    where ``b`` is the md5-hex13 feature hash of a token, ``c_X(b)``
    the bucket count in corpus X, and ``s_X(b)`` the Q8 surprisal of
    the add-one-smoothed bucket probability -- so the weight is the
    hashed-n-gram log-likelihood ratio of the DSIR paper, replayable
    bit-for-bit by a SQL oracle (no libm).

    Scale shape: both bucket tables are O(n_buckets) and broadcast; the
    corpus is touched by tokenize + one map-side-combined (doc, bucket)
    aggregate + one broadcast join + one per-doc sum.  ``fixed_log2``'s
    ``num < 2^47`` bound holds through ~1.4e14 raw tokens; shard the
    distribution estimate beyond that.
    """
    from .text import tokens

    bucket = (
        F.conv(F.substring(F.md5(F.col("item")), 1, 13), 16, 10).cast("long")
        % n_buckets
    )

    def bucket_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(tokens(F.col("text"))).alias("item"))
            .select(bucket.alias("b"))
            .groupBy("b")
            .agg(F.count("*").alias("c"))
        )

    raw_b = bucket_counts(docs)
    tgt_b = bucket_counts(target)
    raw_tot = raw_b.agg(F.sum("c").alias("n_raw"))
    tgt_tot = tgt_b.agg(F.sum("c").alias("n_tgt"))
    grid = (
        raw_b.select("b", F.col("c").alias("c_raw"))
        .join(tgt_b.select("b", F.col("c").alias("c_tgt")), "b", "left")
        .select("b", "c_raw", F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"))
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            (F.col("n_raw") + F.lit(n_buckets)).alias("_nr"),
            (F.col("c_raw") + F.lit(1)).alias("_dr"),
            (F.col("n_tgt") + F.lit(n_buckets)).alias("_nt"),
            (F.col("c_tgt") + F.lit(1)).alias("_dt"),
        )
    )
    grid = fixed_log2(grid, "_nr", "_dr", "s_raw")
    grid = fixed_log2(grid, "_nt", "_dt", "s_tgt")
    scores = grid.select(
        "b", (F.col("s_raw") - F.col("s_tgt")).alias("w_b")
    )
    doc_b = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("item"))
        .select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("c"))
    )
    return (
        doc_b.join(F.broadcast(scores), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w_b")).cast("long").alias("weight_q8"))
    )


def zipf_loglog_slope(docs: DataFrame, topn: int = 100) -> DataFrame:
    """Zipf exponent of the corpus: the OLS slope of ``log2(freq)`` on
    ``log2(rank)`` over the top-``topn`` terms -- the classic
    power-law diagnostic (natural prose reads ~ -1; templated or
    synthetic corpora drift toward 0 or below -1.5), computed entirely
    on the exact fixed-point log2 kernel above so both engines agree
    bit-for-bit.

    ``x = fixed_log2(rank, 1)``, ``y = fixed_log2(cnt, 1)`` (Q8), then
    ``slope_ppm = floor((n*Sxy - Sx*Sy) * 10^6 / (n*Sxx - Sx^2))`` via
    the non-negative-remainder device (the slope is negative; both
    engines' integer division truncates toward zero).  Magnitude: with
    topn <= 10^4 and counts < 2^47, |x| <= 256*14, |y| <= 256*47, so
    the scaled numerator stays under ~10^18 -- int64-safe.

    Scale shape: one explode + token hash-agg (map-side combinable)
    over the corpus, a TakeOrderedAndProject for the top-``topn``
    relation, then a single aggregate over <= topn rows.  Returns one
    row: ``(n_terms, slope_ppm)``; fewer than 2 distinct terms yields
    ``slope_ppm = 0``."""
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    top = (
        tf.orderBy(F.desc("cnt"), "token")
        .limit(topn)
        .select(
            "cnt",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "token"))
            .cast("long")
            .alias("rank"),
            F.lit(1).cast("long").alias("one"),
        )
    )
    top = fixed_log2(top, "rank", "one", "x_q8")
    top = fixed_log2(top, "cnt", "one", "y_q8")
    moms = top.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("x_q8").cast("long").alias("sx"),
        F.sum("y_q8").cast("long").alias("sy"),
        F.sum(F.col("x_q8") * F.col("y_q8")).cast("long").alias("sxy"),
        F.sum(F.col("x_q8") * F.col("x_q8")).cast("long").alias("sxx"),
    )
    # the floor stays in BIGINT end-to-end: `(num - pmod) div den`, never
    # a float `/` (double is only exact below 2^53 and the two engines
    # round a double->BIGINT cast differently)
    fin = moms.select(
        "n_terms",
        (
            (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1000000)
        ).alias("_num"),
        (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "_den"
        ),
    )
    slope = F.when(F.col("n_terms") < 2, F.lit(0).cast("long")).otherwise(
        F.expr("(_num - pmod(_num, _den)) div _den").cast("long")
    )
    return fin.select("n_terms", slope.alias("slope_ppm"))
