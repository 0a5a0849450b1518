"""Text analysis operators: tokenization, quality scoring, language ID,
fingerprinting -- all pure built-in expressions (no Python in the hot path,
SURVEY.md Part B extensions).

Every function returns Column expressions or DataFrames built exclusively
from ``pyspark.sql.functions``, so the plans stay inside whole-stage
codegen and scale linearly with executors at 100 TB.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# deterministic marker vocabularies for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "es": ["el", "los", "las", "una", "es", "que"],
    "fr": ["le", "les", "des", "est", "dans", "pour"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]

PUNCT_CLASS = "[.,;:!?]"


def tokens(col: Column) -> Column:
    """Lowercased alphanumeric tokens (empty strings filtered).

    regexp_extract_all of the maximal ``[a-z0-9]+`` runs is
    value-identical to the previous split-on-complement + drop-empties
    form for every input (split emits '' only at run boundaries; the
    runs themselves are what extract_all returns; null -> null in
    both), and it stays inside whole-stage codegen -- the old
    ``F.filter`` lambda is a higher-order function evaluated on the
    interpreted path for every document (r16, guide §4.1)."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z0-9]+"), 0)


# BPE-ish pre-tokenization (GPT-2-family shape, simplified to the subset
# whose semantics agree between Java regex (Spark) and RE2 (DuckDB)):
# contraction suffixes | letter runs | digit runs | non-space symbol runs
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_tokens(col: Column) -> Column:
    """BPE-style pre-tokens (the unit a byte-pair tokenizer would merge
    over); the standard LLM-pipeline token-count proxy."""
    return F.regexp_extract_all(col, F.lit(BPE_PATTERN), 0)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counting (whitespace/punct tokenizer); a
    document with no token has a NULL ``avg_token_len``."""
    toks = tokens(F.col("text"))
    n_chars = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.try_divide(n_chars.cast("double"), F.size(toks)).alias("avg_token_len"),
    )


def quality_combine(stop_hits, n_unique, punct_count, n_tokens, n_chars):
    """THE quality formula (0.4 stopword ratio + 0.4 unique-token ratio
    - 0.2 punctuation density) as one column expression.  A zero token
    or character count gives NULL (``try_divide``), as ``/`` does with
    ANSI mode off and in DuckDB, instead of raising DIVIDE_BY_ZERO."""
    return (
        F.try_divide(stop_hits.cast("double"), n_tokens) * 0.4
        + F.try_divide(n_unique.cast("double"), n_tokens) * 0.4
        - F.try_divide(punct_count.cast("double"), n_chars) * 0.2
    )


def quality_inputs(text: Column) -> dict:
    """The five inputs of :func:`quality_combine` over a text column,
    named as :func:`quality_score` emits them: the one definition of
    document quality that every consumer selects."""
    toks = tokens(text)
    return {
        "n_chars_q": F.length(text),
        "n_tokens": F.size(toks),
        "stop_hits": F.size(F.filter(toks, lambda t: t.isin(STOPWORDS))),
        "punct_count": F.length(text)
        - F.length(F.regexp_replace(text, PUNCT_CLASS, "")),
        "n_unique_tokens": F.size(F.array_distinct(toks)),
    }


def quality_col(text: Column) -> Column:
    """Document quality of a text column (NULL when it has no token)."""
    q = quality_inputs(text)
    return quality_combine(
        q["stop_hits"], q["n_unique_tokens"], q["punct_count"],
        q["n_tokens"], q["n_chars_q"],
    )


def quality_ppm_col(text: Column) -> Column:
    """``floor(quality * 1e6)`` as a long: the ranking key of
    canonical_pick, domain_cap and token_budget_select, so every pick
    and tiebreak is bit-identical across engines."""
    return F.floor(quality_col(text) * F.lit(1_000_000.0)).cast("long")


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document quality: stopword ratio, punctuation density,
    unique-token ratio combined into one deterministic score
    (:func:`quality_inputs`, :func:`quality_col`)."""
    text = F.col("text")
    return docs.select(
        "doc_id",
        *[c.alias(name) for name, c in quality_inputs(text).items()],
        quality_col(text).alias("quality"),
    )


def quality_ppm(docs: DataFrame) -> DataFrame:
    """``(doc_id, quality_ppm)`` by :func:`quality_ppm_col`."""
    return docs.select(
        "doc_id", quality_ppm_col(F.col("text")).alias("quality_ppm")
    )


def predict_lang(docs: DataFrame, *cols) -> DataFrame:
    """``docs`` projected to ``cols`` plus one ``hits_<lang>`` marker-hit
    count per language over ``text`` and their argmax ``predicted_lang``
    -- the marker policy's single source (lang_id here, the curation
    pipeline's single-scan select).  Zero hits -> 'unknown', exact ties
    break on LANG_MARKERS order.

    The hits are staged in their own select and the argmax reads the
    staged columns (projection boundary): inline, each language's filter
    would run once in ``greatest`` and again in every ``when`` branch."""
    toks = tokens(F.col("text"))
    staged = docs.select(
        *cols,
        *[
            F.size(F.filter(toks, lambda t: t.isin(markers))).alias(f"hits_{lang}")
            for lang, markers in LANG_MARKERS.items()
        ],
    )
    hits = {lang: F.col(f"hits_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*hits.values())
    pred = F.when(best == 0, F.lit("unknown"))
    for lang in LANG_MARKERS:  # fixed order = deterministic tiebreak
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return staged.select("*", pred.alias("predicted_lang"))


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word language heuristic with deterministic argmax
    (:func:`predict_lang`)."""
    return predict_lang(docs, "doc_id", F.col("lang").alias("labeled_lang"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: minimum md5 over the character 8-grams of
    ``text`` (the min-hash member of a winnowing scheme; deterministic,
    portable)."""
    # dynamic-start substring needs the SQL expression form
    return docs.select(
        "doc_id",
        F.array_min(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 7, 1)),"
                " i -> md5(substring(text, i, 8)))"
            )
        ).alias("fingerprint"),
        F.greatest(F.length("text") - 7, F.lit(1)).alias("n_grams"),
    )


def top_terms(docs: DataFrame, k: int = 20) -> DataFrame:
    """Global top-k tokens by frequency (deterministic tiebreak on token)."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


# BM25's term-frequency saturation and document-length normalization.
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(docs: DataFrame, query_terms: Sequence[str]) -> DataFrame:
    """BM25 relevance (``BM25_K1``, ``BM25_B``) of every document against a
    bag of query terms: ``doc_id, n_terms_hit, bm25_micro``.

    Cross-engine-deterministic variant: the idf is the rational BM25 core
    ``(N - df + 0.5) / (df + 0.5)`` WITHOUT the log wrap (strictly monotone
    in it, so ranking is preserved; libm ``log`` rounds differently across
    engines -- same reasoning as ``tfidf_top_terms``), and each per-term
    score is floored to integer micro-units BEFORE the per-document sum,
    so the aggregate is an exact BIGINT in any summation order.

    Scale shape: the exploded token stream is filtered to the query
    vocabulary immediately (narrow, tiny); one map-side-combined
    (doc, term) count; term document-frequencies (<= |query| rows) and the
    corpus scalars (1 row: N, avgdl -- both exact-integer sums, so the
    quotient is bit-identical everywhere) broadcast back; one final
    per-doc aggregate.  No all-pairs, no driver-side state.
    """
    terms = sorted({t.lower() for t in query_terms})
    base = docs.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).select("doc_id", F.size("_toks").alias("dl"), "_toks")
    scalars = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = base.select(
        "doc_id", "dl", F.explode("_toks").alias("term")
    ).filter(F.col("term").isin(terms))
    tf = hits.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    # tf feeds both the df aggregation and the scoring join; without a
    # materialization Spark recomputes the scan+explode+agg subtree for
    # each consumer.  tf is tiny (docs x query terms) and its blocks are
    # GC-reclaimed (ContextCleaner), same pattern as plans/curation.py.
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(dfreq), "term").crossJoin(
        F.broadcast(scalars)
    )
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    sat = (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    per_term = scored.withColumn(
        "_micro", F.floor(idf * sat * 1_000_000.0).cast("long")
    )
    return per_term.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_hit"),
        F.sum("_micro").alias("bm25_micro"),
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k terms by a deterministic tf-idf variant.

    Score = tf * N / df computed as one IEEE division of exact integers
    (tf*N is an exact BIGINT product, df a BIGINT) -- a log-based idf would
    hash-differently across engines' libm, a rational one cannot.  Shuffle
    shape at scale: one (doc, token) count agg, one token-df agg (both
    map-side combined), df broadcast back, per-doc top-k window.
    """
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    # tf rows are already unique per (doc_id, token) -- a plain count IS the
    # document frequency; countDistinct here would add a pointless Expand
    df_counts = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(
        F.count("*").cast("long").alias("n_docs_total")
    )
    scored = (
        tf.join(F.broadcast(df_counts), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tf") * F.col("n_docs_total")).cast("double") / F.col("df"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
        .orderBy("doc_id", "term_rank")
    )


def token_window_chunks(
    docs: DataFrame,
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Overlapping token-window chunking -- the training-data prep step
    that splits long documents into model-context-sized pieces (size-token
    windows advancing by stride, so consecutive chunks overlap by
    size-stride tokens).  Pure array expressions (sequence/posexplode/
    slice): a narrow 1->N fan-out, no Python, no shuffle."""
    toks = tokens(F.col("text"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    return (
        docs.select("doc_id", toks.alias("_toks"), F.posexplode(starts))
        .select(
            "doc_id",
            F.col("pos").alias("chunk_idx"),
            F.size(F.slice("_toks", F.col("col"), size)).alias("n_chunk_tokens"),
            F.md5(F.array_join(F.slice("_toks", F.col("col"), size), " ")).alias(
                "chunk_hash"
            ),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# PII patterns restricted to the regex subset with identical semantics in
# Java regex (Spark) and RE2 (DuckDB): no backreferences, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses from a text column --
    the compliance pass every training-data pipeline runs before release.

    Pure ``regexp_count`` / ``regexp_replace`` column expressions: the scan
    stays inside whole-stage codegen, scrubbing is a narrow map (no
    shuffle), and counts come from the same single pass over each value.
    Order matters: IPv4 runs after email so a dotted quad inside a
    hostname-like mail domain is already masked.
    """
    col = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(col, F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(col, F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count(col, F.lit(PII_IPV4)).alias("n_ips"),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget training
    bins by concatenation order (the "concat then chunk into context
    windows" step of LLM pre-training dataloaders).

    Documents are packed contiguously in ``doc_id`` order: a document's bin
    is ``exclusive-prefix-token-sum div budget``, its offset the remainder
    -- i.e. exactly where its first token lands in the concatenated token
    stream.  The global prefix sum is the scale-sensitive part, computed
    with ``operators.windows.ordered_running_sum`` (range-partitioned
    two-level form), so no single-partition window forms at any corpus
    size.
    """
    from .windows import ordered_running_sum

    toks = docs.select(
        "doc_id", F.size(bpe_tokens(F.col("text"))).alias("n_bpe_tokens")
    )
    cum = ordered_running_sum(
        toks, [F.col("doc_id")], "n_bpe_tokens", out_col="_cum"
    )
    prefix = (F.col("_cum") - F.col("n_bpe_tokens")).cast("long")
    # integer `div`, not `/`: float division would round once prefix sums
    # pass 2^53 (a ~25T-token corpus is within sight of that)
    return (
        cum.select("doc_id", "n_bpe_tokens", prefix.alias("prefix_tokens"))
        .select(
            "*",
            F.expr(f"prefix_tokens div {int(budget)}").alias("bin_id"),
            (F.col("prefix_tokens") % budget).alias("offset_in_bin"),
        )
        .orderBy("doc_id")
    )


def pack_bins_bfd(
    docs: DataFrame,
    budget: int = 2048,
    num_shards: int = 8,
) -> DataFrame:
    """Best-fit-decreasing bin packing of documents into fixed-token-budget
    training bins -- the NO-STRADDLE packing family (each document lands
    whole inside one bin; compare ``pack_sequences``, the concat-then-chunk
    family where documents straddle window boundaries).  The quality
    question "how full are the bins?" only exists in this family, so the
    output carries it: per row, the document's ``(shard, bin_in_shard,
    offset_in_bin)`` plus the assigned bin's total ``bin_tokens`` and
    ``fill_pct`` (tokens/budget -- the packing-efficiency metric).

    Algorithm per shard: sort docs by token count DESC (ties: doc_id),
    place each into the FULLEST bin it still fits (ties: lowest bin id),
    else open a new bin; a doc longer than the budget always opens its own
    bin.  BFD guarantees <= 11/9 OPT + 6/9 bins (Johnson 1973) vs
    first-fit-in-arrival-order's 17/10 OPT.

    Scale shape: packing is inherently sequential (bin loads are shared
    state), so the distributed form is SHARD-LOCAL -- documents hash into
    ``num_shards`` independent shards (``doc_id % num_shards``,
    engine-portable), each packed sequentially by an Arrow-batched
    ``applyInPandas`` kernel whose state is its own shard's bin loads.
    One shuffle on the shard key, O(shard) memory per task, shard count
    scales with the cluster; this is how production packers run (each
    worker packs its partition).  The oracle replicates the exact
    algorithm as a lockstep recursive CTE, so determinism is load-bearing:
    the in-shard order, both tie rules, and the overflow rule are part of
    the operator contract, not incidental."""
    import pandas as pd

    toks = docs.select(
        "doc_id",
        F.size(bpe_tokens(F.col("text"))).cast("long").alias("n_bpe_tokens"),
        F.pmod(F.col("doc_id"), F.lit(num_shards)).cast("int").alias("shard"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_bpe_tokens", "doc_id"], ascending=[False, True]
        )
        loads: list[int] = []
        bin_idx, offsets = [], []
        for n in pdf["n_bpe_tokens"]:
            n = int(n)
            # fullest bin that still fits; ties -> lowest index (first max)
            best = -1
            for i, load in enumerate(loads):
                if load + n <= budget and load > best:
                    best = load
            if best < 0:
                loads.append(0)
                idx = len(loads) - 1
            else:
                idx = loads.index(best)
            bin_idx.append(idx)
            offsets.append(loads[idx])
            loads[idx] += n
        pdf = pdf.assign(bin_in_shard=bin_idx, offset_in_bin=offsets)
        return pdf[
            ["doc_id", "n_bpe_tokens", "shard", "bin_in_shard", "offset_in_bin"]
        ]

    packed = toks.groupBy("shard").applyInPandas(
        _pack,
        "doc_id long, n_bpe_tokens long, shard int, bin_in_shard int, "
        "offset_in_bin long",
    )
    w = Window.partitionBy("shard", "bin_in_shard")
    return packed.select(
        "*",
        F.sum("n_bpe_tokens").over(w).alias("bin_tokens"),
        (F.sum("n_bpe_tokens").over(w) / F.lit(float(budget))).alias(
            "fill_pct"
        ),
    )


def line_table(docs: DataFrame) -> DataFrame:
    """``(doc_id, line_no, line)`` for every non-blank line of ``text``:
    the line-granular inverted-index substrate (0-based ``line_no``
    preserves reassembly order)."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias(
            "line_no", "line"
        ),
    ).filter(F.length(F.trim(F.col("line"))) > 0)


def strip_boilerplate(docs: DataFrame, min_df: int = 3) -> DataFrame:
    """Corpus-wide boilerplate-line removal (the CCNet-style cleaning
    stage, Wenzek et al. 2020: lines repeated across many documents --
    navigation chrome, cookie banners, footers -- are template, not
    content): a line whose document frequency reaches ``min_df`` distinct
    documents is stripped from EVERY document; surviving lines reassemble
    in original order.

    Distinct from ``dedup.remove_repeated`` (within-doc excision of
    corpus-frequent token SPANS): this is line-granular, exact-string,
    and removes the line everywhere rather than keeping one occurrence.

    Per doc: ``n_lines`` / ``n_removed_lines`` (non-blank lines seen /
    stripped) and ``kept_text`` (empty string when everything was
    boilerplate).  Documents with no non-blank line at all still emit a
    row (0/0/'').

    Scale shape: one explode -> line-df hash agg (map-side combinable)
    -> broadcast-or-shuffle semi-flag join back -> one per-doc
    reassembly agg.  Same two-hash-agg class as the n-gram novelty
    operator; no all-pairs, no Python."""
    lines = line_table(docs)
    dfc = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    flagged = lines.join(dfc, "line").select(
        "doc_id",
        "line_no",
        "line",
        (F.col("line_df") >= F.lit(min_df)).alias("_bp"),
    )
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("_bp").cast("long")).alias("n_removed_lines"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("_bp"),
                            F.struct("line_no", "line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("kept_text"),
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_removed_lines", F.lit(0)).alias(
                "n_removed_lines"
            ),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
        .orderBy("doc_id")
    )


def repetition_signals(
    docs: DataFrame
) -> DataFrame:
    """Gopher-rule repetition filters (Rae et al. 2021 §A1.1): the
    quality signals real curation runs apply NEXT TO dedup -- a document
    can be globally unique yet internally degenerate (boilerplate lines,
    a looping phrase).

    Per document: ``n_lines`` / ``n_dup_lines`` (duplicate-line count over
    newline-split non-empty lines) and ``n_grams`` / ``top_gram_n`` (total
    and most-frequent word 2-gram occurrence count), plus the two
    Gopher pass flags evaluated on INTEGER cross-products (10*dup <=
    3*lines, 5*top <= grams, i.e. the published 0.30 duplicate-line and
    0.20 top-2-gram thresholds) so both engines compare exact BIGINTs,
    never a rounded ratio.

    Plan shape: line stats are pure narrow array expressions; the top-gram
    count is explode -> (doc, gram) count -> per-doc max, a map-side
    combinable two-level aggregation partitioned by doc -- no all-pairs,
    no Python, no per-doc state beyond its own grams.

    The token/line arrays are materialized behind explicit projection
    boundaries before any lambda references them: Catalyst inlines a
    referenced EXPRESSION into every transform() iteration (an O(tokens^2)
    retokenize per document -- measured 6x on this very operator), while a
    referenced ATTRIBUTE is computed once per row.
    """
    materialized = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("_toks"),
        F.filter(
            F.transform(
                F.split(F.col("text"), "\n"), lambda s: F.trim(s)
            ),
            lambda s: s != F.lit(""),
        ).alias("_lines"),
    )
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = materialized.select(
        "doc_id",
        F.size("_lines").cast("long").alias("n_lines"),
        (F.size("_lines") - F.size(F.array_distinct("_lines")))
        .cast("long")
        .alias("n_dup_lines"),
        F.explode_outer(grams).alias("gram"),
    )
    per_gram = base.groupBy(
        "doc_id", "n_lines", "n_dup_lines", "gram"
    ).agg(F.count("gram").alias("_gn"))
    agg = per_gram.groupBy("doc_id", "n_lines", "n_dup_lines").agg(
        F.sum("_gn").alias("n_grams"),
        F.max("_gn").alias("top_gram_n"),
    )
    return agg.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("top_gram_n", F.lit(0)).alias("top_gram_n"),
        (F.col("n_dup_lines") * 10 <= F.col("n_lines") * 3).alias(
            "pass_dup_lines"
        ),
        (
            F.coalesce("top_gram_n", F.lit(0)) * 5
            <= F.coalesce("n_grams", F.lit(0))
        ).alias("pass_top_gram"),
    )


GOPHER_REQ_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_rules(docs: DataFrame) -> DataFrame:
    """Gopher document-quality filter rules (Rae et al. 2021 §A1) --
    the published heuristic gate real curation runs apply before any
    model-based scoring; complements ``repetition_signals`` (§A1.1)
    which covers the repetition half of the same appendix.

    Per document, the seven §A1 rules, each as a BIGINT 0/1 flag decided
    on INTEGER cross-products (never a rounded ratio -- the same exact
    device as the §A1.1 flags):

    - ``r_word_count``:   ``50 <= n_words <= 100000``
    - ``r_mean_word_len``: mean word length in [3, 10] characters,
      i.e. ``3*n_words <= word_chars <= 10*n_words``
    - ``r_hash_ratio``: # of ``#`` chars to words < 0.1, i.e.
      ``10*n_hash < n_words``
    - ``r_ellipsis_ratio``: ``...``/unicode-ellipsis runs to words
      < 0.1, i.e. ``10*n_ellipsis < n_words`` -- Rae et al. SSA1
      applies the 0.1 symbol-to-word bound to ``#`` and ellipsis
      SEPARATELY (r11 ADVICE fix: the pre-r11 combined ``n_symbols``
      flag was stricter than the published rule)
    - ``r_bullet_lines``: <= 90% of non-empty lines start with a
      bullet (``-``/``*``/the unicode bullet)
    - ``r_ellipsis_lines``: <= 30% of non-empty lines end with an
      ellipsis
    - ``r_alpha_words``:  >= 80% of words contain an alphabetic char,
      i.e. ``5*n_alpha_words >= 4*n_words``
    - ``r_stopwords``:    >= 2 distinct words from Gopher's required
      stopword set {the, be, to, of, and, that, have, with}

    plus ``passes_gopher`` = the conjunction.  Empty-line documents
    pass the line-ratio rules vacuously (0 <= bound of 0).

    Plan shape: a single narrow projection -- tokenization and line
    splits are per-row array expressions, no explode, no shuffle, no
    Python; at 100 TB this is a map-only scan whose cost is the
    tokenizer regex.  The token and line arrays are materialized as
    attributes behind a projection boundary before any lambda
    references them (the CollapseProject O(n^2) retokenize trap
    documented on ``repetition_signals``)."""
    materialized = docs.select(
        "doc_id",
        F.col("text").alias("_txt"),
        tokens(F.col("text")).alias("_toks"),
        F.filter(
            F.transform(
                F.split(F.col("text"), "\n"), lambda s: F.trim(s)
            ),
            lambda s: s != F.lit(""),
        ).alias("_lines"),
    )
    toks = F.col("_toks")
    n_words = F.size(toks).cast("long")
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    n_hash = (
        F.length("_txt") - F.length(F.regexp_replace("_txt", "#", ""))
    ).cast("long")
    # non-overlapping '...' runs + unicode ellipsis chars
    n_ell = (
        (
            F.length("_txt")
            - F.length(F.regexp_replace("_txt", r"\.\.\.", ""))
        )
        / 3
        + F.length("_txt")
        - F.length(F.regexp_replace("_txt", "…", ""))
    ).cast("long")
    n_lines = F.size("_lines").cast("long")
    n_bullet = F.size(
        F.filter(F.col("_lines"), lambda s: s.rlike("^[-*•]"))
    ).cast("long")
    n_ell_lines = F.size(
        F.filter(
            F.col("_lines"), lambda s: s.rlike("(\\.\\.\\.|…)$")
        )
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[a-z]"))
    ).cast("long")
    n_stops = F.size(
        F.filter(
            F.array_distinct(toks), lambda t: t.isin(GOPHER_REQ_STOPS)
        )
    ).cast("long")
    counted = materialized.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_hash.alias("n_hash"),
        n_ell.alias("n_ellipsis"),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ell_lines.alias("n_ellipsis_lines"),
        n_alpha.alias("n_alpha_words"),
        n_stops.alias("n_req_stopwords"),
    )
    flags = {
        "r_word_count": (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100_000),
        "r_mean_word_len": (F.col("word_chars") >= 3 * F.col("n_words"))
        & (F.col("word_chars") <= 10 * F.col("n_words")),
        "r_hash_ratio": F.col("n_hash") * 10 < F.col("n_words"),
        "r_ellipsis_ratio": F.col("n_ellipsis") * 10 < F.col("n_words"),
        "r_bullet_lines": F.col("n_bullet_lines") * 10
        <= F.col("n_lines") * 9,
        "r_ellipsis_lines": F.col("n_ellipsis_lines") * 10
        <= F.col("n_lines") * 3,
        "r_alpha_words": F.col("n_alpha_words") * 5
        >= F.col("n_words") * 4,
        "r_stopwords": F.col("n_req_stopwords") >= 2,
    }
    out = counted.select(
        "*", *[c.cast("long").alias(n) for n, c in flags.items()]
    )
    passes = None
    for name in flags:
        cond = F.col(name) == 1
        passes = cond if passes is None else (passes & cond)
    return out.select("*", passes.cast("long").alias("passes_gopher"))


#: Default BPE training sample cap: binds only past a million documents,
#: so test-scale corpora train on everything (their oracles replay the
#: full corpus) while a 100 TB run trains on a bounded, deterministic
#: subset -- the standard practice (GPT-2/SentencePiece train tokenizers
#: on samples, not the full corpus).
DEFAULT_BPE_SAMPLE_DOCS = 1_000_000


def bpe_train_merges(
    docs: DataFrame,
    k: int = 4,
    sample_docs: int | None = DEFAULT_BPE_SAMPLE_DOCS,
) -> DataFrame:
    """Train the first ``k`` BPE merges on the corpus (Sennrich et al.
    2016): iteratively count adjacent symbol pairs over the
    frequency-weighted distinct-word relation, adopt the most frequent
    pair (ties: lexicographic), rewrite, repeat.  Output: one row per
    merge, ``(merge_rank, sym_left, sym_right, merged, n_occurrences)``.

    ``sample_docs`` caps the TRAINING INPUT (r11, VERDICT r10 ask #6):
    the k merge rounds iterate over the distinct-word relation, which at
    100 TB is itself huge and unbounded -- k jobs over it is the scale
    bug, and no production tokenizer trains on a full crawl anyway.
    The cap keeps the ``sample_docs`` documents with the LOWEST
    ``md5(text)`` (TakeOrderedAndProject -- per-partition top-N heaps
    merged in one single-partition reduce, never a full global sort
    shuffle; the sample is then repartitioned back to full
    parallelism): deterministic, engine-portable, independent of row
    order and of any id column, the same device as DSIR's hash-ordered
    target handling.  Pass
    ``None`` to train on everything.  Merge equivalence between
    half-corpus-capped and full training on the sf0.01 corpus is pinned
    by ``tests/test_operators.py`` -- frequent pairs dominate a
    proportionate sample, so it recovers the same top merges; like any
    tokenizer-on-a-sample, late LOW-frequency merges can flip on tiny
    corpora, which is the accepted trade for not scanning 100 TB k
    times.

    Distributed shape: the working set is the DISTINCT-WORD relation
    (orders of magnitude smaller than the corpus; built by one hash agg),
    so each round is a narrow pair-explode plus one map-side-combinable
    count, and the only driver traffic is k single-row top-pair collects
    -- the same justified pattern as the IVF centroid seed.  The word
    relation is materialized once behind a lazy localCheckpoint: without
    it every round's top-pair job re-executes the corpus scan + explode +
    word groupBy (k full corpus passes instead of one -- measured 2.0 s
    -> 0.8 s steady-state at sf0.1, and the delta grows linearly with
    corpus size; blocks release via ContextCleaner on GC, the same
    pattern as plans/curation.py).

    Engine portability: the per-round rewrite runs as TWO passes of
    literal space-delimited ``replace`` over the symbol string (scanning
    resumes after each replacement, so one pass misses boundary-sharing
    runs; two passes merge exactly the left-to-right non-overlapping
    occurrences, verified identical in Spark and DuckDB -- the oracle
    unrolls the same k rounds as CTEs).
    """
    spark = docs.sparkSession
    if sample_docs is not None:
        # TakeOrderedAndProject lands the sample in ONE partition; fan
        # it back out before the tokenize/explode stage or the corpus
        # scan that follows runs single-task (r11 review: the funnel
        # undercut the cap's own scale purpose exactly when it binds)
        docs = (
            docs.orderBy(F.md5(F.col("text")), "text")
            .limit(sample_docs)
            .repartition(spark.sparkContext.defaultParallelism)
        )
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wcnt"))
        .localCheckpoint(eager=False)
    )
    cur = words.select(
        F.array_join(F.split("word", ""), " ").alias("w"), "wcnt"
    )
    merges = []
    for rank in range(1, k + 1):
        # the symbol array is bound as a lambda VARIABLE so the split
        # runs once per word row -- referencing the F.split expression
        # inside the per-position lambda re-split the word once per
        # symbol pair (the char_trigrams/word_shingles inlining trap,
        # r12); identical output
        sym_pairs = F.transform(
            F.array(F.split("w", " ")),
            lambda s: F.when(
                F.size(s) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("l"),
                        F.element_at(s, i + 1).alias("r"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<l:string,r:string>>")
            ),
        )[0]
        pairs = (
            cur.select("wcnt", F.explode(sym_pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("wcnt").alias("cnt"))
        )
        top = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, cnt = top[0].l, top[0].r, int(top[0].cnt)
        merges.append((rank, l, r, l + r, cnt))
        pat, rep = F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
        wrapped = F.concat(F.lit(" "), F.col("w"), F.lit(" "))
        rewritten = F.replace(F.replace(wrapped, pat, rep), pat, rep)
        cur = cur.select(F.trim(rewritten).alias("w"), "wcnt")
    return spark.createDataFrame(
        merges,
        "merge_rank int, sym_left string, sym_right string, "
        "merged string, n_occurrences long",
    )


def bpe_segment_words(words: DataFrame, merges: Sequence[tuple]) -> DataFrame:
    """Apply an ordered BPE merge list to a ``word`` relation: returns
    ``(word, symbols, n_symbols)`` where ``symbols`` is the
    space-joined segmentation after every merge is applied in rank order.

    The merges are plan LITERALS (a trained tokenizer's vocab), so the
    whole application is a chain of 2k literal ``replace`` passes inside
    one narrow codegen stage -- encode-with-trained-vocab costs one
    projection over the distinct-word relation, then a broadcast join
    back onto the corpus.  Same two-pass-per-merge rewrite semantics as
    training (see ``bpe_train_merges``)."""
    w = F.concat(
        F.lit(" "), F.array_join(F.split(F.col("word"), ""), " "), F.lit(" ")
    )
    for l, r in merges:
        pat, rep = F.lit(f" {l} {r} "), F.lit(f" {l}{r} ")
        w = F.replace(F.replace(w, pat, rep), pat, rep)
    sym = F.trim(w)
    return words.select(
        "word",
        sym.alias("symbols"),
        F.size(F.split(sym, " ")).cast("long").alias("n_symbols"),
    )


def phrase_search(docs: DataFrame, phrase: Sequence[str]) -> DataFrame:
    """Exact-phrase search over a positional posting relation:
    ``doc_id, n_hits`` for every document containing the m-token phrase
    at least once (consecutive tokens, same tokenizer as everything
    else here).

    Plan shape -- the inverted-index formulation, NOT an m-way
    self-join: posexplode yields (doc, pos, token); postings are
    filtered to the phrase vocabulary immediately (selective, narrow);
    each surviving posting expands to its indices within the phrase and
    an ANCHOR ``pos - phrase_idx``; a phrase occurrence at an anchor
    exists iff all m phrase indices appear there, which one map-side-
    combinable (doc, anchor) aggregate decides.  One shuffle keyed by
    (doc, anchor), no join at all, repeated-token phrases handled (a
    posting maps to every index its token occupies).
    """
    terms = [t.lower() for t in phrase]
    m = len(terms)
    by_token: dict = {}
    for i, t in enumerate(terms):
        by_token.setdefault(t, []).append(i)

    postings = docs.select(
        "doc_id",
        F.posexplode(tokens(F.col("text"))).alias("pos", "token"),
    ).filter(F.col("token").isin(list(by_token)))
    idx_expr = None
    for t, idxs in sorted(by_token.items()):
        arr = F.array(*[F.lit(i) for i in idxs])
        idx_expr = (
            F.when(F.col("token") == t, arr)
            if idx_expr is None
            else idx_expr.when(F.col("token") == t, arr)
        )
    anchored = postings.select(
        "doc_id", "pos", F.explode(idx_expr).alias("pidx")
    ).select(
        "doc_id", "pidx", (F.col("pos") - F.col("pidx")).alias("anchor")
    ).filter(F.col("anchor") >= 0)
    occurrences = (
        anchored.groupBy("doc_id", "anchor")
        .agg(F.countDistinct("pidx").alias("k"))
        .filter(F.col("k") == m)
    )
    return occurrences.groupBy("doc_id").agg(
        F.count("*").alias("n_hits")
    )


def rake_keywords(
    docs: DataFrame,
    max_len: int = 4,
    topn: int = 25,
) -> DataFrame:
    """RAKE keyword extraction (Rose, Engel, Cramer & Cowley, "Automatic
    Keyword Extraction from Individual Documents", 2010): candidate
    phrases are maximal stopword-free token runs; each word scores
    ``degree/frequency`` where ``frequency`` counts the word's phrase
    occurrences and ``degree`` sums the lengths of the phrases it
    appears in (co-occurrence degree including self); a phrase scores
    the sum of its member-word scores.  Scores are integer ppm
    (``(degree * 10^6) div frequency``) so both engines agree
    bit-for-bit.

    Candidates are capped at ``max_len`` tokens -- bounds the phrase
    explode on pathological stopword-free documents (RAKE's usual
    practical cap).

    Scale shape: one per-doc window (stopword-prefix-sum segmenting,
    shuffle on doc_id only), one corpus hash-agg per word, one over
    distinct phrase texts; the final top-``topn`` is a
    TakeOrderedAndProject, never a global sort.  Output:
    ``(phrase, n_occur, score_ppm)``, ties (score desc, phrase).
    """
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    pos = toked.select(
        "doc_id", F.posexplode("_toks").alias("pos", "tok")
    )
    is_stop = F.col("tok").isin(STOPWORDS)
    w = Window.partitionBy("doc_id").orderBy("pos")
    seg = pos.select(
        "doc_id",
        "pos",
        "tok",
        F.sum(F.when(is_stop, 1).otherwise(0)).over(w).alias("seg"),
        is_stop.alias("_stop"),
    ).filter(~F.col("_stop"))
    phrases = (
        seg.groupBy("doc_id", "seg")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= max_len)
        # phrases feeds three consumers (word stats, phrase counts,
        # membership); cut the lineage so the per-doc segmenting window
        # runs once (triangle_counts' measured-2x waste class)
        .localCheckpoint(eager=False)
    )
    occ = phrases.select(
        "plen", F.explode(F.split("phrase", " ")).alias("word")
    )
    wscore = (
        occ.groupBy("word")
        .agg(
            F.sum("plen").alias("wdeg"),
            F.count("*").alias("wfreq"),
        )
        .select(
            "word",
            F.expr("(wdeg * 1000000) div wfreq").alias("wscore_ppm"),
        )
    )
    counts = phrases.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occur")
    )
    members = counts.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("word")
    )
    scored = (
        members.join(wscore, "word")
        .groupBy("phrase")
        .agg(F.sum("wscore_ppm").cast("long").alias("score_ppm"))
    )
    return (
        counts.join(scored, "phrase")
        .orderBy(F.desc("score_ppm"), "phrase")
        .limit(topn)
        .select("phrase", "n_occur", "score_ppm")
    )


def token_class_chi2(
    docs: DataFrame,
    class_expr: Column,
    min_df: int = 5,
    topn: int = 25,
) -> DataFrame:
    """Per-token chi-square association with a boolean document class --
    the exact feature-selection sweep (Manning/Schuetze-style chi2 term
    selection) a curation pipeline runs to find class-indicative
    vocabulary (domain terms, language markers, contamination tells).

    For each token with document frequency ``nt`` (presence, not counts)
    and ``a`` = class docs containing it, the 2x2 chi-square statistic
    ``N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d))`` is computed ENTIRELY in
    exact integers: the 2x2 determinant and the two denominator halves
    fit BIGINT (each <= N^2/4), and the numerator/denominator products
    are lifted to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) -- both
    128-bit exact -- before the two-stage floor division
    ``(num div den)*1000 + ((num mod den)*1000) div den`` =
    floor(1000*num/den) exactly, so both engines agree bit-for-bit.
    Headroom: numerator*1000 <= N^5/16 * 1e3 < 10^38 holds to
    N ~ 5e6 documents; beyond that, shard and merge (count-based, so a
    uniform sample preserves ranking).  The r10 scale bench drives the
    full pipeline at 50k docs -- past the old BIGINT ceiling that
    ANSI-overflowed there.

    Tokens with ``nt < min_df`` or ``nt > N - min_df`` are dropped
    (hapax noise / near-universal tokens -- the latter also guards the
    ``(N - nt)`` denominator factor).  Scale shape: one distinct
    (doc, token) explode, one token hash-agg joined with the broadcast
    1-row corpus totals, TakeOrderedAndProject top-``topn``.  Output:
    ``(token, n_docs, chi2_milli)``, ties (chi2 desc, token)."""
    pres = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    cls = docs.select(
        "doc_id", F.when(class_expr, 1).otherwise(0).cast("long").alias("y")
    )
    totals = cls.agg(
        F.count("*").cast("long").alias("n"), F.sum("y").cast("long").alias("cp")
    )
    tok = (
        pres.join(cls, "doc_id")
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("nt"),
            F.sum("y").cast("long").alias("a"),
        )
    )
    det = "(a * ((n - cp) - (nt - a)) - (nt - a) * (cp - a))"
    scored = (
        tok.crossJoin(F.broadcast(totals))
        # a degenerate class (cp = 0 or cp = N) zeroes the denominator --
        # no association is computable; emit no rows instead of NULL chi2
        .filter((F.col("cp") > 0) & (F.col("cp") < F.col("n")))
        .filter((F.col("nt") >= min_df) & (F.col("nt") <= F.col("n") - min_df))
        .select(
            "token",
            F.col("nt").alias("n_docs"),
            F.expr(
                f"CAST(n AS DECIMAL(38,0)) * CAST({det} AS DECIMAL(38,0))"
                f" * CAST({det} AS DECIMAL(38,0))"
            ).alias("num"),
            F.expr(
                "CAST(nt * (n - nt) AS DECIMAL(38,0))"
                " * CAST(cp * (n - cp) AS DECIMAL(38,0))"
            ).alias("denom"),
        )
        .select(
            "token",
            "n_docs",
            F.expr(
                "CAST((num div denom) * 1000 + ((num % denom) * 1000) div denom"
                " AS BIGINT)"
            ).alias("chi2_milli"),
        )
    )
    return scored.orderBy(F.desc("chi2_milli"), "token").limit(topn)


def rouge_n_overlap(pairs: DataFrame, n: int = 2) -> DataFrame:
    """ROUGE-N overlap (Lin 2004) between the ``cand_text``/``ref_text``
    pairs of ``pairs`` (keyed by ``pair_id``) with CLIPPED n-gram counts -- the standard summarization /
    training-data-eval metric: ``recall = sum_g min(c_cand(g),
    c_ref(g)) / sum_g c_ref(g)`` and the symmetric precision, both as
    exact ppm integers, plus ``f1_ppm = 2pr div (p + r)``.

    Clipping matters: an n-gram repeated 5x in the candidate but once
    in the reference contributes 1, not 5 -- the un-clipped form
    rewards degenerate repetition, exactly what a curation metric must
    not do.  Sides with fewer than ``n`` tokens have zero grams; their
    ppm scores are 0 (guarded division).

    Plan shape: each side explodes to (pair, gram) and hash-aggregates
    (two shuffles on the composite key, both map-side combinable); the
    clip is a full-outer join of the two count relations on (pair,
    gram) -- linear in distinct grams, never pairwise in the corpus.
    Output: ``(pair_id, n_cand_grams, n_ref_grams, n_clipped,
    precision_ppm, recall_ppm, f1_ppm)``, one row per input pair."""

    def grams(col):
        # token array bound as a lambda variable: the inline form
        # re-tokenized the text once per gram (r12 inlining trap)
        return F.transform(
            F.array(tokens(F.col(col))),
            lambda t: F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )[0]

    def side_counts(col, cname):
        return (
            pairs.select(F.col("pair_id"), F.explode(grams(col)).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count("*").alias(cname))
        )

    cc = side_counts("cand_text", "cc")
    rc = side_counts("ref_text", "rc")
    joined = cc.join(rc, ["pair_id", "g"], "full_outer").select(
        "pair_id",
        F.coalesce("cc", F.lit(0)).alias("cc"),
        F.coalesce("rc", F.lit(0)).alias("rc"),
    )
    per_pair = joined.groupBy("pair_id").agg(
        F.sum("cc").cast("long").alias("n_cand_grams"),
        F.sum("rc").cast("long").alias("n_ref_grams"),
        F.sum(F.least("cc", "rc")).cast("long").alias("n_clipped"),
    )
    base = pairs.select("pair_id").join(per_pair, "pair_id", "left").select(
        "pair_id",
        F.coalesce("n_cand_grams", F.lit(0)).cast("long").alias("n_cand_grams"),
        F.coalesce("n_ref_grams", F.lit(0)).cast("long").alias("n_ref_grams"),
        F.coalesce("n_clipped", F.lit(0)).cast("long").alias("n_clipped"),
    )
    p = (
        "CASE WHEN n_cand_grams = 0 THEN CAST(0 AS BIGINT)"
        " ELSE (n_clipped * 1000000) div n_cand_grams END"
    )
    r = (
        "CASE WHEN n_ref_grams = 0 THEN CAST(0 AS BIGINT)"
        " ELSE (n_clipped * 1000000) div n_ref_grams END"
    )
    return base.select(
        "pair_id",
        "n_cand_grams",
        "n_ref_grams",
        "n_clipped",
        F.expr(p).alias("precision_ppm"),
        F.expr(r).alias("recall_ppm"),
        F.expr(
            f"CASE WHEN ({p}) + ({r}) = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (2 * ({p}) * ({r})) div (({p}) + ({r})) END"
        ).alias("f1_ppm"),
    )


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical-diversity signals -- the vocabulary-richness
    axis the length/punctuation quality score and the repetition
    signals both miss: a doc can be long, clean, AND monotonous.
    Emits ``n_tokens`` (N), ``n_types`` (distinct tokens, V),
    ``n_hapax`` (tokens occurring once), ``ttr_ppm = V*1e6 div N``
    (type-token ratio), ``hapax_ppm = hapax*1e6 div N``, and
    ``herdan_milli = 1000 * log2(V) / log2(N)`` -- Herdan's C, the
    length-corrected TTR -- as a ratio of two Q8 logs from the shared
    exact kernel (lm.fixed_log2), so every engine lands on the same
    BIGINT.  Docs with N < 2 report 0 for all three ratios (log2(N)
    would be 0; a 0/1-token doc has no meaningful diversity).

    Scale shape: explode to (doc, token), hash-aggregate to per-doc
    term counts, aggregate again to per-doc moments -- two map-side-
    combinable shuffles on the doc key, linear in corpus tokens."""
    from .lm import fixed_log2

    tok = docs.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("t"))
    tc = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    per = tc.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hapax"),
    )
    base = docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
        F.coalesce("n_hapax", F.lit(0)).cast("long").alias("n_hapax"),
    )
    # kernel preconditions (num >= den >= 1): run it on clamped inputs,
    # then zero out the N < 2 rows where the ratio is undefined
    base = base.withColumn("_one", F.lit(1).cast("long"))
    base = fixed_log2(
        base.withColumn("_vnum", F.expr("greatest(n_types, CAST(1 AS BIGINT))")),
        "_vnum",
        "_one",
        "_v_q8",
    )
    base = fixed_log2(
        base.withColumn("_nnum", F.expr("greatest(n_tokens, CAST(1 AS BIGINT))")),
        "_nnum",
        "_one",
        "_n_q8",
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr(
            "CASE WHEN n_tokens < 2 THEN CAST(0 AS BIGINT)"
            " ELSE (n_types * 1000000) div n_tokens END"
        ).alias("ttr_ppm"),
        F.expr(
            "CASE WHEN n_tokens < 2 THEN CAST(0 AS BIGINT)"
            " ELSE (n_hapax * 1000000) div n_tokens END"
        ).alias("hapax_ppm"),
        F.expr(
            "CASE WHEN n_tokens < 2 THEN CAST(0 AS BIGINT)"
            " ELSE (_v_q8 * 1000) div _n_q8 END"
        ).alias("herdan_milli"),
    ).orderBy("doc_id")


# Q8 fixed-point log2(e): floor(256 / ln 2) = floor(369.33).  The ONE
# defined constant that moves BLEU's natural-exp brevity penalty into
# the repo's log2 Q8 space: -log2(BP) = ((r - c) * LOG2E_Q8) div c.
# Both engines use this literal, so the result is bit-identical.
LOG2E_Q8 = 369


def bleu_overlap(pairs: DataFrame) -> DataFrame:
    """Sentence-level BLEU-2 (Papineni 2002) with +1 smoothing (Lin &
    Och 2004) of each ``(pair_id, cand_text, ref_text)`` row, exact
    integer fixed point -- the precision-oriented
    complement to :func:`rouge_n_overlap`'s recall: ROUGE asks "did the
    candidate cover the reference", BLEU asks "is everything the
    candidate said actually in the reference", with the brevity penalty
    closing the say-one-safe-word loophole.

    Per pair: clipped unigram/bigram matches (``clip_n = sum_g
    min(c_cand(g), c_ref(g))``), smoothed precisions ``p_n = (clip_n +
    1) / (tot_n + 1)`` as ppm, and the score in the repo's Q8 log2
    space: ``neg_log2_bleu2_q8 = (nl1 + nl2) div 2 + bp_q8`` where
    ``nl_n = fixed_log2(tot_n + 1, clip_n + 1)`` (the shared exact
    kernel) and ``bp_q8 = ((r - c) * LOG2E_Q8) div c`` when the
    candidate is shorter than the reference, else 0 (``c``/``r`` =
    candidate/reference token counts; empty candidates clamp c to 1).
    Lower is better; 0 means a verbatim-or-longer exact cover.  BLEU
    itself is ``2^(-score/256)`` -- left to the caller because the
    whole pipeline stays in integers.

    Scale shape: ONE explode per side covers both orders (grams tagged
    ``'1:'``/``'2:'``), hash-aggregate to (pair, gram) counts, clip via
    a full-outer join on the composite key, per-pair rollup -- linear
    in distinct grams, never pairwise in the corpus."""
    from .lm import fixed_log2

    def tagged_grams(col):
        # token array bound as a lambda VARIABLE (the r12 inlining trap:
        # referencing the tokenizer expr inside the per-gram lambda
        # re-tokenizes once per gram)
        return F.transform(
            F.array(tokens(F.col(col))),
            lambda t: F.concat(
                F.transform(t, lambda w: F.concat(F.lit("1:"), w)),
                F.when(
                    F.size(t) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(t) - 1),
                        lambda i: F.concat(
                            F.lit("2:"), F.array_join(F.slice(t, i, 2), " ")
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>")),
            ),
        )[0]

    def side_counts(col, cname):
        return (
            pairs.select(F.col("pair_id"), F.explode(tagged_grams(col)).alias("g"))
            .groupBy("pair_id", "g")
            .agg(F.count("*").alias(cname))
        )

    cc = side_counts("cand_text", "cc")
    rc = side_counts("ref_text", "rc")
    joined = cc.join(rc, ["pair_id", "g"], "full_outer").select(
        "pair_id",
        "g",
        F.coalesce("cc", F.lit(0)).alias("cc"),
        F.coalesce("rc", F.lit(0)).alias("rc"),
    )
    is1 = F.col("g").startswith("1:")
    per_pair = joined.groupBy("pair_id").agg(
        F.sum(F.when(is1, F.col("cc")).otherwise(0)).cast("long").alias("tot1"),
        F.sum(F.when(is1, F.least("cc", "rc")).otherwise(0))
        .cast("long")
        .alias("clip1"),
        F.sum(F.when(~is1, F.col("cc")).otherwise(0)).cast("long").alias("tot2"),
        F.sum(F.when(~is1, F.least("cc", "rc")).otherwise(0))
        .cast("long")
        .alias("clip2"),
        F.sum(F.when(is1, F.col("rc")).otherwise(0))
        .cast("long")
        .alias("n_ref_tokens"),
    )
    base = pairs.select("pair_id").join(per_pair, "pair_id", "left").select(
        "pair_id",
        *[
            F.coalesce(c, F.lit(0)).cast("long").alias(c)
            for c in ("tot1", "clip1", "tot2", "clip2", "n_ref_tokens")
        ],
    )
    base = base.withColumn("_nl1_num", F.col("tot1") + 1).withColumn(
        "_nl1_den", F.col("clip1") + 1
    )
    base = fixed_log2(base, "_nl1_num", "_nl1_den", "_nl1_q8")
    base = base.withColumn("_nl2_num", F.col("tot2") + 1).withColumn(
        "_nl2_den", F.col("clip2") + 1
    )
    base = fixed_log2(base, "_nl2_num", "_nl2_den", "_nl2_q8")
    bp = (
        "CASE WHEN tot1 >= n_ref_tokens THEN CAST(0 AS BIGINT)"
        f" ELSE ((n_ref_tokens - tot1) * {LOG2E_Q8})"
        " div greatest(tot1, CAST(1 AS BIGINT)) END"
    )
    return base.select(
        "pair_id",
        F.col("tot1").alias("n_cand_tokens"),
        "n_ref_tokens",
        "clip1",
        "clip2",
        F.expr("((clip1 + 1) * 1000000) div (tot1 + 1)").alias("p1_ppm"),
        F.expr("((clip2 + 1) * 1000000) div (tot2 + 1)").alias("p2_ppm"),
        F.expr(bp).alias("bp_q8"),
        F.expr(f"(_nl1_q8 + _nl2_q8) div 2 + ({bp})").alias(
            "neg_log2_bleu2_q8"
        ),
    ).orderBy("pair_id")


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-Kincaid grade level and Flesch reading ease per document,
    exact integer fixed point -- the classic readability axis of a
    quality-filter stack (Gopher/C4 filter on length and repetition;
    readability catches prose that is well-formed but impenetrable, or
    suspiciously primer-flat).

    Counting rules (deterministic, engine-portable): words = the shared
    alphanumeric tokenizer; sentences = runs of ``[.!?]`` (min 1);
    syllables per word = runs of ``[aeiouy]`` (min 1 -- the standard
    vowel-group heuristic; both regex classes mean the same thing to
    Java regex and RE2).  The published formulas are applied in milli
    units with BIGINT floor divisions on the non-negative rational
    terms, so both engines land on identical integers:

        fk_grade_milli  = 390*W div S + 11800*Y div W - 15590
        flesch_ease_milli = 206835 - 1015*W div S - 84600*Y div W

    (W words, S sentences, Y syllables; docs with zero words report 0
    for every metric).  Scale shape: one narrow projection, all
    counting inside higher-order functions -- map-only, no shuffle, no
    Python."""
    toks = tokens(F.col("text"))
    syll = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
            F.lit(1),
        ).cast("long"),
    )
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.greatest(
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)
            ),
            F.lit(1),
        )
        .cast("long")
        .alias("n_sentences"),
        syll.alias("n_syllables"),
    )
    guard = "CASE WHEN n_words = 0 THEN CAST(0 AS BIGINT) ELSE {expr} END"
    wps = "(1000 * n_words) div n_sentences"
    spw = "(1000 * n_syllables) div n_words"
    fk = (
        "(390 * n_words) div n_sentences"
        " + (11800 * n_syllables) div n_words - 15590"
    )
    ease = (
        "206835 - (1015 * n_words) div n_sentences"
        " - (84600 * n_syllables) div n_words"
    )
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.expr(guard.format(expr=wps)).alias("wps_milli"),
        F.expr(guard.format(expr=spw)).alias("spw_milli"),
        F.expr(guard.format(expr=fk)).alias("fk_grade_milli"),
        F.expr(guard.format(expr=ease)).alias("flesch_ease_milli"),
    ).orderBy("doc_id")
