"""Training-data curation: the LLM-pipeline operators composed end-to-end.

One declarative job over a raw document corpus:

1. **exact dedup** -- one winner per content hash (min doc_id);
2. **per-document analytics in a single narrow pass** -- BPE-ish token
   count, quality score, language ID are all column expressions computed
   together (no joins between analytic stages, one scan);
3. **filter** by token floor / quality floor / language allowlist;
4. **token budget** -- keep the best documents (quality-descending) until
   the cumulative token count reaches the budget: the "fill the training
   mix" step.

Scale notes: stages 1-3 are hash-partition + narrow work.  The budget cut
(stage 4) is a global running sum expressed via
``operators.windows.ordered_running_sum``.  It checkpoints the filtered
5-column projection and reads it once: within the broadcast threshold
the rows come to the driver and the running sum is one window over their
``LocalRelation``, so ``curate_documents`` runs its analytics in the
size probe, in the partitions of its input.  Beyond the threshold it
range-partitions on the selection order, runs per-partition windows in
parallel and broadcasts prefix offsets, so no single-partition window
forms over data of that size.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..operators.dedup import keep_least
from ..operators.windows import ordered_running_sum
from ..operators.text import (
    LANG_MARKERS,
    bpe_tokens,
    predict_lang,
    quality_col,
    quality_ppm_col,
    tokens,
)

def curate_documents(
    docs: DataFrame,
    min_tokens: int = 20,
    min_quality: float = 0.15,
    langs: Optional[Sequence[str]] = None,
    token_budget: Optional[int] = None,
) -> DataFrame:
    """Curated training subset with per-doc analytics.

    Returns ``doc_id, predicted_lang, n_bpe_tokens, quality, cum_tokens``
    ordered by selection priority (quality desc).
    """
    # quality and the marker-argmax come from their single sources in
    # operators/text.py, composed into this one-scan select; a NULL
    # quality (no token) fails the quality floor
    base = predict_lang(
        docs,
        "doc_id",
        F.md5(F.col("text")).alias("content_hash"),
        F.size(bpe_tokens(F.col("text"))).alias("n_bpe_tokens"),
        quality_col(F.col("text")).alias("quality"),
    ).drop(*[f"hits_{lang}" for lang in LANG_MARKERS])
    deduped = keep_least(base, "content_hash", "doc_id").drop("content_hash")
    kept = deduped.filter(
        (F.col("n_bpe_tokens") >= min_tokens) & (F.col("quality") >= min_quality)
    )
    if langs is not None:
        kept = kept.filter(F.col("predicted_lang").isin(list(langs)))

    ranked = ordered_running_sum(
        kept,
        [F.col("quality").desc(), F.col("doc_id")],
        "n_bpe_tokens",
        out_col="cum_tokens",
    )
    if token_budget is not None:
        ranked = ranked.filter(F.col("cum_tokens") <= token_budget)
    return ranked.orderBy(F.col("quality").desc(), F.col("doc_id"))


def curate_and_pack(
    docs: DataFrame,
    eval_docs: DataFrame,
    min_tokens: int = 20,
    pack_budget: int = 2048,
) -> DataFrame:
    """The round-2 curation composition: exact dedup -> benchmark
    decontamination (3-gram overlap >= 2) -> token floor -> sequence
    packing.

    Every stage is one of the engine's scale-audited operators: hash-agg
    dedup, broadcast-eval contamination anti-join, a narrow token-count
    filter, and the range-partitioned prefix sum inside
    ``pack_sequences``.  Output: one row per surviving document with its
    training-bin assignment.
    """
    from ..operators.dedup import decontaminate, exact_dedup
    from ..operators.text import pack_sequences, bpe_tokens

    deduped = exact_dedup(docs.select("doc_id", "text"))
    clean = decontaminate(deduped, eval_docs, min_overlap=2)
    kept = clean.filter(F.size(bpe_tokens(F.col("text"))) >= min_tokens)
    return pack_sequences(kept, budget=pack_budget)


def curate_full(
    docs: DataFrame,
    eval_docs: DataFrame,
    span_n: int = 8,
    min_tokens: int = 20,
    pack_budget: int = 2048,
) -> DataFrame:
    """The round-4 curation composition -- every stage a real large-scale
    training-data step, in the order production pipelines run them:

    1. exact dedup (hash-agg, verbatim copies out)
    2. sub-document boilerplate excision: ``repeated_spans`` finds every
       maximal >= ``span_n``-token passage occurring twice anywhere in
       the deduped corpus, ``remove_spans`` excises it from ALL carriers
       (the remove-everywhere policy that kills corpus-wide boilerplate;
       keep-one-copy is the same machinery with a filtered span list)
    3. repetition gate: Gopher top-2-gram rule over the EXCISED text
       (5 * top_gram <= n_grams) -- internally-degenerate docs out
    4. benchmark decontamination (3-gram overlap >= 2 vs eval set)
    5. token floor + ``pack_sequences`` into training bins

    Each stage is individually oracle-verified by its own query; this
    composition is itself oracle-verified end-to-end
    (``curation_full_set``), so stage wiring -- not just stage logic --
    is under the gate.
    """
    from ..operators.dedup import (
        decontaminate,
        exact_dedup,
        remove_spans,
        repeated_spans,
    )
    from ..operators.text import bpe_tokens, pack_sequences, repetition_signals

    # Stage-boundary materialization: `deduped` is read twice (span
    # finding + excision join) and `excised` four times (repetition
    # signals, the keep-join, and decontamination's two passes).  Without
    # persistence the whole upstream subtree re-executes per consumer --
    # measured 2.3x on this composition at sf0.1.  At cluster scale the
    # same boundaries would be checkpoints/tables between pipeline stages.
    # Lazy localCheckpoint, not persist(): this function returns a lazy
    # DataFrame, so an explicit unpersist() has nowhere to live, and a
    # registry session running many queries would otherwise carry these
    # cached blocks for its lifetime.  localCheckpoint blocks are released
    # by the ContextCleaner when the DataFrame is garbage-collected (same
    # rationale as ordered_running_sum's input checkpoint in
    # operators/windows.py).
    deduped = exact_dedup(docs.select("doc_id", "text")).localCheckpoint(
        eager=False
    )
    spans = repeated_spans(deduped, n=span_n, min_count=2)
    excised = remove_spans(deduped, spans).localCheckpoint(eager=False)
    rep = repetition_signals(excised)
    keep_ids = rep.filter(
        F.col("top_gram_n") * 5 <= F.col("n_grams")
    ).select("doc_id")
    filtered = excised.join(keep_ids, "doc_id")
    clean = decontaminate(filtered, eval_docs, min_overlap=2)
    kept = clean.filter(F.size(bpe_tokens(F.col("text"))) >= min_tokens)
    return pack_sequences(kept, budget=pack_budget)


def curate_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    eval_docs: DataFrame,
    min_tokens: int = 20,
) -> DataFrame:
    """Incremental-ingest curation: every batch-vs-corpus operator
    composed in pipeline order -- how a GROWING corpus actually curates
    an arriving batch, never re-processing the established corpus:

    1. exact dedup: within-batch keep-one (min doc_id per content hash),
       then anti-join against the corpus content-hash relation (one
       column; materialized once in production)
    2. near-dup: ``incremental_minhash_dedup`` (Jaccard >= 0.5, 16
       permutations in bands of 4) -- the batch broadcast-probes the
       corpus LSH band table; flagged new docs drop
    3. sub-document excision: ``incremental_repeated_spans`` counts each
       batch 8-token shingle's occurrences across batch + corpus; spans
       repeated anywhere are excised FROM THE NEW DOCS ONLY
    4. benchmark decontamination (3-gram overlap >= 2 vs the eval set,
       broadcast eval index) over the EXCISED text
    5. token floor on BPE-ish tokens

    Output: one row per surviving new document ``(doc_id, n_bpe_tokens,
    content_md5)`` -- the md5 is over the post-excision text, so stage-3
    rewrites are value-checked, not just counted.  Per batch, the corpus
    contributes only its hash relation, band table, and shingle counts
    -- each a bounded derived relation a production pipeline keeps
    materialized between ingests; the corpus text itself is scanned to
    derive them (here inline, so the query is self-contained) but never
    shuffled by batch size.
    """
    from ..operators.dedup import (
        decontaminate,
        incremental_minhash_dedup,
        incremental_repeated_spans,
        remove_spans,
    )

    # Stage-boundary lineage cuts (r15): the arriving batch is itself a
    # many-branch derivation (the planted-defect union in the registry
    # query is six expression-heavy branches), and every downstream stage
    # consumes the previous stage's output SEVERAL times (the LSH stage
    # reads batch1 for band signatures AND the jaccard corpus union; the
    # span stage reads batch2 twice; decontamination reads excised twice).
    # Without cuts each consumer re-inlines -- and re-executes -- the
    # whole upstream subtree: the registry query's physical plan measured
    # 2,124 operators / 502 parquet scans / 838 exchanges, and the 7.3 s
    # wall was mostly driver-side planning plus repeated upstream
    # recomputation.  A lazy localCheckpoint at each batch-sized stage
    # boundary (batch rows only, never the corpus) truncates the plan the
    # same way curate_full's boundaries do; blocks are swept by the
    # registry's residue scope / ContextCleaner.
    hashed = new_docs.select(
        "doc_id", "text", F.md5(F.col("text")).alias("_h")
    )
    batch1 = (
        keep_least(hashed, "_h", "doc_id")
        .join(
            corpus_docs.select(F.md5(F.col("text")).alias("_h")).distinct(),
            "_h",
            "left_anti",
        )
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    flagged = incremental_minhash_dedup(
        batch1, corpus_docs.select("doc_id", "text"), threshold=0.5
    ).select(F.col("new_id").alias("doc_id")).distinct()
    batch2 = batch1.join(flagged, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    spans = incremental_repeated_spans(batch2, corpus_docs, n=8, min_count=2)
    excised = remove_spans(batch2, spans).localCheckpoint(eager=False)
    clean = decontaminate(excised, eval_docs, min_overlap=2)
    n_tokens = F.size(bpe_tokens(F.col("text"))).cast("long")
    return (
        clean.select(
            "doc_id",
            n_tokens.alias("n_bpe_tokens"),
            F.md5("text").alias("content_md5"),
        )
        .filter(F.col("n_bpe_tokens") >= min_tokens)
    )


def domain_cap(docs: DataFrame, per_source: int) -> DataFrame:
    """C4/RefinedWeb-style per-domain cap: keep at most ``per_source``
    documents per ``source``, chosen by quality -- the anti-
    concentration rule real web-corpus curation applies so no single
    domain (a crawler trap, a mirror farm, a boilerplate-heavy site)
    dominates the training mix regardless of its raw volume.

    Ranking is ``(quality_ppm DESC, doc_id ASC)`` with ``quality_ppm``
    the shared integer column operators/text.py::quality_ppm_col
    (the same tiebreak canonical_pick uses), so the kept set is
    deterministic and bit-identical across engines.  Output: kept rows
    ``(doc_id, source, quality_ppm, rk)``.

    Scale shape: one corpus-wide quality projection (narrow, no
    shuffle), one exchange on the domain key, one per-domain window.
    At 100 TB the window's per-key sort is bounded by the hottest
    domain's document count; for crawl-scale hot domains the same cut
    runs as a two-pass rank (per-partition top-``per_source`` partial,
    then the window over survivors <= partitions * per_source rows) --
    the partial top-N is admissible because rank <= per_source in the
    full order implies rank <= per_source within every subset.
    """
    w = Window.partitionBy("source").orderBy(
        F.col("quality_ppm").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "doc_id",
            "source",
            quality_ppm_col(F.col("text")).alias("quality_ppm"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= per_source)
        .select("doc_id", "source", "quality_ppm", "rk")
        .orderBy("doc_id")
    )


def leakage_safe_split(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Near-dup-leakage-safe holdout assignment: hash-split by duplicate
    CLUSTER, not by document.  Plain per-doc splits leak -- two near-
    duplicate documents can land in train and test, and the eval then
    scores memorization as generalization (the published failure mode
    exact/near dedup guards against).  Composing the engine's own
    pieces: ``pairs`` (any near-dup edge list) -> connected components
    -> every member of a cluster gets the SPLIT OF ITS CLUSTER ID via
    the same md5-threshold rule as operators/sampling.py::hash_split,
    so whole clusters move together and singletons reduce exactly to
    the per-doc split.

    Output: ``(doc_id, cluster_id, n_members, split)``.  By
    construction no cluster straddles splits -- the property is
    structural (split is a pure function of cluster_id), not sampled.
    Scale shape: CC (driver union-find or star-contraction rounds) + one
    cluster-partitioned window for sizes + a narrow md5 projection;
    nothing new shuffles."""
    from ..operators.dedup import cluster_membership
    from ..operators.sampling import hash_split

    return (
        hash_split(
            cluster_membership(docs.select("doc_id"), pairs), F.col("cluster_id")
        )
        .select("doc_id", "cluster_id", "n_members", "split")
        .orderBy("doc_id")
    )


def token_budget_select(docs: DataFrame, budget_per_source: int) -> DataFrame:
    """Greedy per-source token-budget fill: rank each source's documents
    by the shared quality projection and keep documents until the
    source's token budget is reached -- the data-mixing step that turns
    "give me N tokens per domain, best first" into a deterministic
    document set.  A document is kept iff the budget was not yet
    exhausted when its turn came (``cum_tokens - n_tokens <
    budget``), so the last kept document may overflow the budget --
    the standard greedy-fill convention, which keeps membership a pure
    function of the ranked prefix (dropping it instead would make the
    set depend on a tail document's size).

    Output: kept rows ``(doc_id, source, n_tokens, quality_ppm, rk,
    cum_tokens)``.  Scale shape: one narrow quality+token projection,
    one exchange on the source key, one per-source ordered window for
    rank and running sum.  Hot domains bound the window sort exactly as
    in :func:`domain_cap` (and the same two-pass partial-rank rewrite
    applies when a budget implies a rank bound)."""
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        quality_ppm_col(F.col("text")).alias("quality_ppm"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality_ppm").desc(), F.col("doc_id").asc()
    )
    ranked = base.select(
        "*",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_tokens"),
    )
    return (
        ranked.filter(
            F.col("cum_tokens") - F.col("n_tokens") < budget_per_source
        )
        .select(
            "doc_id", "source", "n_tokens", "quality_ppm", "rk",
            "cum_tokens",
        )
        .orderBy("doc_id")
    )
