"""Deduplication operators for large-scale training-data pipelines.

Five families, each pure built-in expressions (JVM-side, shuffle-aware):

* **exact** -- content-hash groupBy (generalizes the reference's tracking
  dedup, SURVEY.md op 13, to corpus dedup).
* **n-gram Jaccard** -- word-shingle inverted-index join; the exact
  verifier for near-dup candidates.
* **MinHash + LSH** -- k permutations via ``min(md5(perm || shingle))``,
  banded into LSH buckets; candidate pairs come from bucket joins, then
  exact-Jaccard verification.  This is the scale path: at 100 TB the
  pairwise join only materializes within-bucket pairs.
* **SimHash** -- per-bit majority vote over token hashes; near-dups are
  pairs with small Hamming distance.
* **embedding cosine** -- fixed-point canonicalized cosine >= threshold
  (see ``similarity.scaled_dot`` for why fixed-point).

Hash choice: md5 (not xxhash64) everywhere a DuckDB oracle must reproduce
the value -- md5 is the one hash both engines share bit-for-bit.
"""

from __future__ import annotations

import math
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..session import broadcast_sized
from .similarity import (
    cosine_from_norms,
    hyperplane_signatures,
    infer_dim,
    scaled_norm2,
)
from .text import tokens


# ------------------------------------------------------------------ exact


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Group documents by content hash; emit one row per distinct content
    with the canonical (minimum) doc_id and the duplicate count."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("keep_doc_id")
    )


def keep_least(df: DataFrame, key: str, order: str) -> DataFrame:
    """One row per ``key`` value: the one with the least ``order``.

    The keep rule of every exact dedup -- the deterministic stand-in for
    the row an ``INSERT ... ON CONFLICT DO NOTHING`` would keep.  A NULL
    ``order`` sorts last (``min_by``'s rule and DuckDB's default), and all
    NULL ``key`` rows are one group.  One window exchange on ``key``."""
    w = Window.partitionBy(key).orderBy(F.col(order).asc_nulls_last())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep exactly one row per distinct content (the min-doc_id winner)."""
    hashed = docs.select("*", F.md5(F.col("text")).alias("content_hash"))
    return keep_least(hashed, "content_hash", "doc_id").drop("content_hash")


# ------------------------------------------------------- shingles / jaccard


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column; NULL for a NULL text.

    A text of fewer than ``n`` tokens is the one shingle of all its tokens.
    A text with no token at all (empty, or only characters outside
    ``[a-z0-9]``, e.g. CJK) is the one shingle ``""``, so any two such
    texts are Jaccard-1.0 duplicates of each other; the DuckDB oracles and
    the benchmark's ``word_jaccard`` assume the same.  A NULL text has no
    shingles: it gets no signature, candidate or pair.

    The token array is bound as a lambda VARIABLE (transform over a
    one-element array) so it is computed once per row: referencing the
    ``tokens(...)`` EXPRESSION directly inside the per-shingle lambda
    made Catalyst re-tokenize the document once PER SHINGLE -- the same
    trap fixed in ``lm.char_trigrams`` (r12; see repetition_signals'
    docstring for the original 6x measurement of this inlining
    behavior).  Identical output."""
    return F.transform(
        F.array(tokens(text_col)),
        lambda toks: F.when(
            toks.isNotNull(),
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))
                    ),
                    lambda i: F.array_join(F.slice(toks, i, n), " "),
                )
            ),
        ),
    )[0]


def shingle_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) inverted-index rows: one per distinct word
    ``n``-gram shingle of a document's ``text``."""
    return docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), n)).alias("shingle")
    )


def _shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh_set): each document's distinct word 3-gram shingles of
    ``text`` as one array, on the document's own row.  NULL-text documents
    have no row."""
    # filter on the text, not on sh_set: a predicate on the alias is pushed
    # below the projection as a second copy of the whole shingle expression
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", word_shingles(F.col("text")).alias("sh_set")
    )


def _pairs_sharing(rows: DataFrame, *keys: str) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs: two documents pair when a row of
    each agrees on every one of ``keys`` -- a shared shingle (inverted
    index), prefix shingle or LSH band (the classic banding trick).
    ``rows`` carries ``doc_id`` and ``keys``.

    ``rows`` feeds both self-join sides, so it is cut first with a lazy
    ``localCheckpoint``: without the cut its whole upstream (shingle
    explode, df-count join, signature pipeline) executes once per side --
    Spark does not recognize the aliased subtrees as one exchange (r15)."""
    rows = rows.localCheckpoint(eager=False)
    a, b = rows.alias("a"), rows.alias("b")
    on = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    on.append(F.col("a.doc_id") < F.col("b.doc_id"))
    return (
        a.join(b, reduce(lambda x, y: x & y, on))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_candidate_pairs(
    docs: DataFrame, max_df: int | None = None
) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs sharing >= 1 shingle, generated from
    the inverted index, optionally with hot posting lists capped.

    The default is EXACT (no cap): approximation is opt-in, so callers that
    never read this docstring get the textbook semantics.  At corpus scale,
    pass ``max_df`` (the driver query uses 1000, and its oracle mirrors the
    cap so the shipped configuration is what the gate exercises).

    A shingle shared by k documents contributes k*(k-1)/2 join rows, so a
    single stop-phrase shingle ("of the and" at web scale) makes the
    self-join quadratic.  Shingles with document frequency > ``max_df`` are
    excluded from *candidate generation only* -- exact Jaccard is computed
    later over the full shingle sets -- which bounds the per-shingle join
    fan-out at max_df^2 (standard posting-list capping, cf. SuperMinHash /
    spark near-dup practice).  Recall caveat: a pair whose shared shingles
    are ALL above the cutoff is missed; at dedup thresholds (>= 0.5) such
    pairs would have to consist almost entirely of corpus-wide boilerplate.
    ``max_df=None`` disables the cap (exact candidate generation)."""
    sh = shingle_table(docs)
    if max_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = (
            sh.join(df_counts.filter(F.col("df") <= max_df), "shingle")
            .select("doc_id", "shingle")
        )
    return _pairs_sharing(sh, "shingle")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with word-shingle Jaccard >= threshold.

    Exact by default.  For corpus scale, opt into ``max_df`` for the
    two-phase plan: (1) candidate generation from the inverted index with
    hot posting lists capped at ``max_df`` (bounds the self-join's
    per-shingle fan-out -- the round-1 verdict's one latent scale-killer),
    then (2) exact Jaccard over the full shingle sets for candidates only
    (``jaccard_for_pairs`` -- cost O(|pairs| * shingles/doc), independent
    of posting-list skew).  Values are always exact; see
    ``jaccard_candidate_pairs`` for the recall caveat on the cap."""
    cands = jaccard_candidate_pairs(docs, max_df)
    return (
        jaccard_for_pairs(docs, cands)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# ----------------------------------------------------------- minhash + lsh


def _signature_sql(num_perm: int) -> str:
    """The MinHash signature of a ``sh_set`` row: an array whose element
    ``p`` is the lexicographic min of ``md5(p || '|' || shingle)`` over the
    document's distinct shingles -- a portable MinHash (md5 exists in every
    engine).

    One ``aggregate`` fold per permutation, on the document's own row: no
    shingle row and no shuffle exist.  An expression string, not a Column
    chain (r15): the per-perm Column construction cost ~100 py4j round
    trips per call."""
    mins = ", ".join(
        "aggregate(sh_set, CAST(NULL AS STRING), "
        f"(m, s) -> least(m, md5(concat('{p}|', s))))"
        for p in range(num_perm)
    )
    return f"array({mins})"


def _band_rows(sigs: DataFrame, band_size: int) -> DataFrame:
    """(doc_id, band, band_sig) from (doc_id, sig): band ``b`` joins the
    minima of perms ``[b * band_size, (b + 1) * band_size)`` in perm order
    with ``','``.  The last band is short when ``band_size`` does not
    divide the signature length."""
    return sigs.selectExpr(
        "doc_id",
        f"posexplode(transform(sequence(0, (size(sig) - 1) div {band_size}), "
        f"b -> array_join(slice(sig, b * {band_size} + 1, {band_size}), ','))) "
        "AS (band, band_sig)",
    )


def _minhash_bands(sets: DataFrame, num_perm: int, band_size: int) -> DataFrame:
    """(doc_id, band, band_sig) straight from ``_shingle_sets`` rows: the
    signature and its bands on each document's own row, no exchange."""
    return _band_rows(
        sets.selectExpr("doc_id", f"{_signature_sql(num_perm)} AS sig"), band_size
    )




def minhash_signatures(docs: DataFrame, num_perm: int = 16) -> DataFrame:
    """(doc_id, perm, minhash): the MinHash signatures in long format, one
    row per document and permutation (see ``_signature_sql``).

    Each signature is computed on its document's row and unpivoted by a
    narrow posexplode: the plan holds no exchange.  The near-dup pipelines
    use the per-row signatures directly; this long form is for callers that
    inspect or band the signature matrix themselves."""
    # the signature is the generator's own input, not a ``sig`` column: a
    # generator over a column gets an inferred ``size(sig) > 0`` filter,
    # which is pushed below the projection as 16 more signature folds
    return _shingle_sets(docs).selectExpr(
        "doc_id", f"posexplode({_signature_sql(num_perm)}) AS (perm, minhash)"
    )


def band_signatures(signatures: DataFrame, band_size: int = 4) -> DataFrame:
    """(doc_id, band, band_sig) from long-format ``(doc_id, perm, minhash)``
    rows with perms ``0..k-1`` per document, as ``minhash_signatures``
    emits them: each document's minima are gathered in perm order and cut
    by the same band expression the per-row pipelines use."""
    sigs = signatures.groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(perm, minhash))), "
            "c -> c.minhash) AS sig"
        )
    )
    return _band_rows(sigs, band_size)


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Candidate (doc_a < doc_b) pairs from long-format signatures: a pair
    is a candidate iff it collides in at least one band of
    ``band_signatures`` (bands of 4)."""
    return _pairs_sharing(band_signatures(signatures), "band", "band_sig")


def jaccard_for_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact word-shingle Jaccard computed ONLY for the given (doc_a, doc_b)
    pairs: join each side's distinct-shingle array onto the pair, intersect.
    Cost is O(|pairs| * shingles-per-doc) -- independent of how many
    unrelated documents share a hot shingle, unlike the full inverted-index
    self-join in ``jaccard_pairs``."""
    sets = _shingle_sets(docs)
    return _jaccard_from_sets(pairs, sets, sets)


def _jaccard_from_sets(
    pairs: DataFrame, sets_a: DataFrame, sets_b: DataFrame
) -> DataFrame:
    """``jaccard_for_pairs`` over ``_shingle_sets`` tables: ``doc_a`` is
    looked up in ``sets_a`` and ``doc_b`` in ``sets_b``."""
    a = sets_a.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sh_a"))
    b = sets_b.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sh_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
            F.size("sh_a").alias("size_a"),
            F.size("sh_b").alias("size_b"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
        )
    )


def prefix_filter_pairs(
    docs: DataFrame,
    t_num: int = 6,
    t_den: int = 10,
) -> DataFrame:
    """EXACT all-pairs Jaccard join by prefix filtering (Chaudhuri,
    Ganti & Kaushik, ICDE'06 SSJoin; Xiao et al., WWW'08 ppjoin):
    the lossless alternative to ``jaccard_pairs``' ``max_df`` posting
    cap.  Order every shingle by global rarity ``(df asc, shingle)``;
    if ``J(x, y) >= t`` then x and y must share a shingle inside each
    set's first ``|x| - ceil(t*|x|) + 1`` elements of that order
    (otherwise all common shingles sit in x's last ``ceil(t|x|) - 1``
    positions -- fewer than the ``>= t*|x|`` the threshold forces).
    Candidates therefore come from an inverted index over PREFIX
    entries only, and NO qualifying pair can be missed.

    Why this scales where the cap trades recall: a corpus-wide
    boilerplate shingle sits at the rarity order's TAIL, so it enters
    only the prefixes of documents that are almost entirely
    boilerplate -- exactly the ones that genuinely qualify.  The
    prefix self-join's fan-out is sum over shingles of (prefix-df)^2,
    driven by the threshold rather than a tuning knob; the higher the
    threshold, the shorter every prefix.

    Threshold is the exact rational ``t_num/t_den``; the final filter
    is the integer cross-product ``n_common * t_den >= t_num *
    (size_a + size_b - n_common)`` (never a float >= against a
    non-representable 0.6).  Returns the ``jaccard_pairs`` columns."""
    sh = shingle_table(docs)
    dfc = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ordered = sh.join(dfc, "shingle")
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pos = ordered.select(
        "doc_id",
        "shingle",
        F.row_number().over(wdoc).cast("long").alias("pos"),
        F.count("*")
        .over(Window.partitionBy("doc_id"))
        .cast("long")
        .alias("sz"),
    )
    plen = (
        F.col("sz")
        - F.expr(f"({t_num} * sz + {t_den} - 1) div {t_den}")
        + 1
    )
    cands = _pairs_sharing(
        pos.filter(F.col("pos") <= plen).select("doc_id", "shingle"), "shingle"
    )
    verified = jaccard_for_pairs(docs, cands)
    keep = F.col("n_common") * t_den >= t_num * (
        F.col("size_a") + F.col("size_b") - F.col("n_common")
    )
    return (
        verified.filter(keep)
        .select("doc_a", "doc_b", "n_common", "size_a", "size_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def containment_pairs(
    docs: DataFrame,
    threshold_ppm: int = 700_000,
    max_df: int | None = None,
) -> DataFrame:
    """Directed shingle CONTAINMENT (Broder 1997's c(A,B); the asymmetric
    companion to Jaccard): ``cont_a_in_b_ppm = floor(1e6 * |S(A) cap S(B)|
    / |S(A)|)``.  Jaccard misses subset relationships -- a short document
    quoted whole inside a much longer one scores low Jaccard (the union is
    dominated by the long side) but containment ~1.0 for the short side.
    That is the shape real corpus dedup hits constantly (quote expansion,
    boilerplate wrappers, truncated re-crawls), which is why production
    pipelines (e.g. RefinedWeb-style curation) filter on containment next
    to Jaccard.

    Emits every candidate pair (a < b) whose LARGER direction reaches
    ``threshold_ppm``, with both directions reported.  ppm values are
    exact nonnegative BIGINT floor-divisions -- no float crosses the
    engine boundary.

    Plan shape is identical to :func:`jaccard_pairs` and inherits its
    scale story verbatim: candidate generation from the shingle inverted
    index (optionally ``max_df``-capped posting lists -- same recall
    caveat), then exact intersection over full shingle sets for candidate
    pairs only.  No new shuffle class."""
    cands = jaccard_candidate_pairs(docs, max_df)
    ex = jaccard_for_pairs(docs, cands)
    # F.size() yields 32-bit ints: the multiply must widen FIRST or it
    # wraps at n_common >= 2148 (long-document near-dups, exactly this
    # operator's quarry) while DuckDB's BIGINT count does not
    cont_a = F.expr("(cast(n_common as bigint) * 1000000) div size_a")
    cont_b = F.expr("(cast(n_common as bigint) * 1000000) div size_b")
    return (
        ex.select(
            "doc_a",
            "doc_b",
            "n_common",
            "size_a",
            "size_b",
            cont_a.alias("cont_a_in_b_ppm"),
            cont_b.alias("cont_b_in_a_ppm"),
        )
        .filter(
            F.greatest(F.col("cont_a_in_b_ppm"), F.col("cont_b_in_a_ppm"))
            >= F.lit(threshold_ppm)
        )
        .orderBy("doc_a", "doc_b")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: per-row signatures -> LSH bands
    -> band self-join -> exact-Jaccard verification >= threshold.

    Every document's shingle array is built once (behind a lazy
    localCheckpoint) and feeds both its signature and the verification.
    Signature and bands are computed on the document's own row, so no
    exchange sits between the document scan and the band self-join.
    Verification runs only over the candidate pairs, never the full
    shingle self-join: at 100 TB the all-sharing-pairs product is exactly
    the blow-up LSH exists to avoid."""
    sets = _shingle_sets(docs).localCheckpoint(eager=False)
    candidates = _pairs_sharing(
        _minhash_bands(sets, num_perm, band_size), "band", "band_sig"
    )
    return (
        _jaccard_from_sets(candidates, sets, sets)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------- simhash


# Width of every simhash signature, in bits.
SIMHASH_BITS = 32


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash bitstring): per-bit majority vote over token md5s.

    Bit b of a token comes from hex digit b//4 of its md5 (portable across
    engines); the signature bit is 1 iff the +-1 vote sum over all token
    occurrences is positive.

    All ``SIMHASH_BITS`` vote sums are separate aggregates of ONE
    groupBy(doc_id) pass over the token table: the md5 is computed once per
    token row, each bit's +-1 vote is a cheap projection of it, and every
    sum is map-side combined -- vs the naive explode-per-bit form that
    shuffles ``SIMHASH_BITS`` x the token volume.  Both groupBys (votes,
    then signature assembly) collapse into one."""

    # expression strings, not Column chains (r15): the 32 per-bit vote
    # columns cost ~900 ms of py4j round trips per build (x3 builds per
    # bench entry); the parsed SQL is the identical expression.  The
    # 2.0D-style suffix keeps the divisor a DOUBLE literal (bare "2.0"
    # parses as DECIMAL and would change the division's type).
    def vote_sql(b: int) -> str:
        hexval = f"(instr('0123456789abcdef', substring(h, {b // 4 + 1}, 1)) - 1)"
        bit_set = f"(CAST(FLOOR({hexval} / {float(2 ** (b % 4))}D) AS INT) % 2)"
        return f"sum({bit_set} * 2 - 1) AS _v{b}"

    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).select("doc_id", F.md5("token").alias("h"))
    sums = [F.expr(vote_sql(b)) for b in range(SIMHASH_BITS)]
    cat = ",".join(
        f"CAST(CAST(_v{b} > 0 AS INT) AS STRING)" for b in range(SIMHASH_BITS)
    )
    return (
        tok.groupBy("doc_id")
        .agg(*sums)
        .selectExpr("doc_id", f"concat({cat}) AS simhash")
    )


def _hamming() -> Column:
    return F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda i: F.substring(F.col("a.simhash"), i, 1)
            != F.substring(F.col("b.simhash"), i, 1),
        )
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Pairs (a < b) whose simhash Hamming distance <= max_hamming.

    Candidate generation is bucket-local and LOSSLESS: split every
    signature into ``max_hamming + 1`` segments -- by pigeonhole, any pair
    within the Hamming budget matches at least one segment exactly -- and
    join on (segment index, segment value).  At 100 TB the |docs|^2 product
    never materializes; only same-segment collisions are verified.
    """
    # sigs feeds BOTH sides of the segment self-join; cut the lineage so
    # the tokenize + 32-vote signature pass runs once, not twice (r15 --
    # the plan showed the whole signature subtree duplicated under the
    # join: 8 parquet scans for a 2-scan corpus)
    sigs = simhash_signatures(docs).localCheckpoint(eager=False)
    nseg = max_hamming + 1
    base, extra = divmod(SIMHASH_BITS, nseg)
    bounds, start = [], 1
    for s in range(nseg):
        length = base + (1 if s < extra else 0)
        bounds.append((start, length))
        start += length
    seg = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.substring("simhash", st, ln) for st, ln in bounds])
        ).alias("seg_idx", "seg_val"),
    )
    a, b = seg.alias("a"), seg.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda i: F.substring(F.col("sim_a"), i, 1)
            != F.substring(F.col("sim_b"), i, 1),
        )
    )
    return (
        cands.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def simhash_pairs_allpairs(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Reference formulation: all-pairs theta join.  O(|docs|^2) -- kept as
    the correctness anchor for the banded version; do not use at scale."""
    sigs = simhash_signatures(docs)
    a, b = sigs.alias("a"), sigs.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _hamming().alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------------ connected components


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every node connects its LARGER neighbors to the minimum of
    its neighborhood (incl. itself).  Input/output: directed (u, v) pairs.
    """
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mnv"))
        .select("u", F.least("u", "mnv").alias("mn"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node connects its SMALLER neighbors (and
    itself) to the minimum among them.  Output edges all point
    large -> small, which makes round-over-round comparison canonical."""
    directed = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(mins.select(F.col("u"), F.col("mn").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


# One fused large-star + small-star alternation as a single SQL text.
# sym/mins/large mirror _large_star (large-star output feeds small-star
# WITHOUT its own trailing DISTINCT -- small-star's canonicalization
# dedups its input anyway, r12); directed/smins and the final
# UNION ALL + DISTINCT mirror _small_star line for line.
_STAR_ROUND_SQL = """
WITH sym AS (
  SELECT u, v FROM {E} UNION ALL SELECT v AS u, u AS v FROM {E}
),
mins AS (SELECT u, LEAST(u, MIN(v)) AS mn FROM sym GROUP BY u),
large AS (
  SELECT s.v AS u, m.mn AS v FROM sym s JOIN mins m ON s.u = m.u
  WHERE s.v > s.u AND s.v != m.mn
),
directed AS (
  SELECT DISTINCT GREATEST(u, v) AS u, LEAST(u, v) AS v FROM large
  WHERE u != v
),
smins AS (SELECT u, MIN(v) AS mn FROM directed GROUP BY u)
SELECT DISTINCT u, v FROM (
  SELECT d.v AS u, m.mn AS v FROM directed d JOIN smins m ON d.u = m.u
  UNION ALL
  SELECT u, mn AS v FROM smins
) WHERE u != v
"""


def _star_round(edges: DataFrame) -> DataFrame:
    """One fused large-star + small-star alternation (r12, verdict ask #2).

    Identical semantics to ``_small_star(_large_star(edges))`` but the
    large-star output feeds small-star WITHOUT its own trailing DISTINCT:
    small-star's canonicalization (greatest/least + distinct) dedups its
    input anyway, so the elided distinct was a pure extra shuffle.  The
    alternation costs three exchanges instead of four.

    r16: built as ONE parameterized ``spark.sql`` call instead of ~35
    DataFrame-API py4j round trips -- the logical plan is the same
    (``tests/test_r16_optim.py`` replays the DataFrame formulation), but
    construction drops ~0.3 s per star round, which the per-round lazy
    checkpoint in :func:`connected_components` pays at build time."""
    return edges.sparkSession.sql(_STAR_ROUND_SQL, E=edges)


# The star-forest test: every edge u -> v leaves a node with no other
# out-edge and lands on a node with no out-edge.  One GROUP BY over the
# u-rows and v-rows of the edge set lists the nodes that break it.
_STAR_FOREST_SQL = """
SELECT node FROM (
  SELECT u AS node, 1 AS o, 0 AS i FROM {E}
  UNION ALL
  SELECT v AS node, 0 AS o, 1 AS i FROM {E}
) GROUP BY node
HAVING sum(o) > 1 OR (sum(o) > 0 AND sum(i) > 0)
"""


def _is_star_forest(edges: DataFrame) -> bool:
    """True when no node of ``edges`` has out-degree above 1 and no node
    has both in- and out-edges: every component is one root with its
    members pointing straight at it.  One action."""
    return edges.sparkSession.sql(_STAR_FOREST_SQL, E=edges).isEmpty()


def _min_labels(edges) -> "pyarrow.Table":
    """``(doc_id, cluster_id)`` for every node of an Arrow edge table
    ``(u, v)`` with no NULL id and no self-loop: union-find over numpy
    index arrays, no Python object per edge.

    One sort of all edge ends numbers the nodes: a node's index is its
    rank among the distinct ids, so it orders like its id and the
    component minimum is its smallest index.  (A sort, not Arrow's hash
    kernels: at 4 M long-id edges a unique plus two index_in calls
    peaked at 1.2 GB RSS and 4.9 s on a 4-core VM, the sort at 0.6 GB
    and 2.5 s.)  Each pass hooks the larger root of every edge that still
    spans two roots onto the smaller one, then jumps pointers until every
    node points at a root.  A root only ever points lower, so no cycle
    forms, every pass merges roots, and the component minimum is the last
    root left.  A randomly numbered path of 2 M nodes closes in 13
    passes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    u, v = edges.column("u"), edges.column("v")
    ends = pa.chunked_array(u.chunks + v.chunks, type=u.type).combine_chunks()
    order = pc.array_sort_indices(ends).to_numpy()
    ends = ends.take(order)
    # first of its run in the sorted ends = a node
    first = np.ones(len(ends), dtype=bool)
    first[1:] = pc.not_equal(ends[1:], ends[:-1]).to_numpy(zero_copy_only=False)
    index = np.empty(len(ends), dtype=np.int64)
    index[order] = np.cumsum(first) - 1
    nodes = ends.filter(pa.array(first))
    a, b = index[: len(u)], index[len(u) :]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[a], root[b]
        if np.array_equal(ra, rb):
            break
        np.minimum.at(root, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(nxt := root[root], root):
            root = nxt
    return pa.table({"doc_id": nodes, "cluster_id": nodes.take(root)})


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Cluster near-dup ``(doc_a, doc_b)`` pairs into components:
    (doc_id, cluster_id) where ``cluster_id`` is the minimum id reachable
    through the pair graph.

    The step that turns pairwise dedup output into "keep one doc per
    duplicate CLUSTER" (A~B, B~C => drop two of {A,B,C} even though A~C was
    never emitted).  Self-loops and pairs with a NULL id are dropped first.
    Two paths give the same labels:

    * **Driver path**, for an edge list the planner would size within
      ``spark.sql.autoBroadcastJoinThreshold``
      (:func:`..session.broadcast_sized`: 16 bytes an edge of two longs,
      40 of two strings; a string id longer than 20 bytes makes the read
      larger than the threshold).  :func:`_min_labels` labels the edges
      on the driver and the result is built from Arrow, which starts no
      Python worker.  Over a materialized edge list the read is the
      call's one Spark job, however many rounds the graph would need.
      Over the cap, the read has cached the edge list for the star path,
      so the input is computed once either way.
    * **Star path**, for larger edge lists or a threshold of ``-1``:
      large-star and small-star rounds (Kiveris et al., SoCC 2014), which
      converge in O(log n) rounds *independent of graph diameter* -- a
      duplicate chain of length 10^6 still closes within ``max_iter=20``
      -- and, unlike plain min-label propagation, shrink hot components
      round over round instead of re-shuffling the full edge list every
      round.  Each round is one fused alternation (:func:`_star_round`);
      ``localCheckpoint`` truncates lineage between rounds.

    The star loop stops at the first round whose output is a star forest
    (:func:`_is_star_forest`), the shape the final ``members`` + ``roots``
    projection reads labels from.  The test is exact, not a heuristic:
    star rounds preserve connectivity and small-star edges all point
    large -> small, so each star's root is its component minimum, and a
    star forest is a fixed point of the alternation.  Stopping there
    gives the labels fixed-point detection gives, one round sooner (a
    12-node chain closes in 4 rounds, not 5).  ``max_iter`` counts star
    rounds and applies to the star path only; when they run out before a
    star forest forms, the clusters would be under-merged, so the call
    raises ``RuntimeError``.

    A two-alternations-per-checkpoint variant was measured and rejected:
    without a materialization barrier the second alternation re-derives
    the first's plan ~4x (edges is referenced four times per star round),
    1.6 s -> 4.4 s at sf0.1 (PROFILE_r12)."""
    spark = pairs.sparkSession
    # every checkpoint is LAZY, yet under AQE the call itself runs the
    # star round's shuffle stages while it plans its input (7 jobs per
    # round on two chains of 12 and 3 nodes); the star-forest test after it
    # reads the checkpoint in 2 more.
    # Duplicate pairs need no distinct(): a star round ends in DISTINCT.  The
    # filter also drops NULL ids.
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint(eager=False)
    )
    # the read materializes the checkpoint, so a star path after it
    # starts from the cached edges
    head = broadcast_sized(edges)
    if head is not None:
        return spark.createDataFrame(_min_labels(head))
    for _ in range(max_iter):
        edges = _star_round(edges).localCheckpoint(eager=False)
        if _is_star_forest(edges):
            break
    else:
        raise RuntimeError(
            f"connected_components: no star forest after {max_iter} "
            "large-star/small-star rounds; clusters would be under-merged"
        )
    # each member points at its root, and the roots label themselves; in a
    # star forest the two sets are disjoint and each is already distinct
    members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    return members.union(roots)


def ngram_novelty(docs: DataFrame, n: int = 8) -> DataFrame:
    """Per-document ``n``-gram novelty: the ppm fraction of a document's
    DISTINCT token ``n``-grams that appear in no other document -- the
    curation dial for memorization risk and cross-document boilerplate
    (the doc-level complement of span excision and winnowing overlap).
    Docs shorter than ``n`` tokens have no grams and emit no row.

    One gram explode + one corpus hash-agg on the gram (the
    document-frequency join is the only shuffle); the distinct gram
    table feeds both the df aggregate and the join back, so it is
    lineage-cut once."""
    grams = (
        positional_shingles(docs, n)
        .select("doc_id", "shingle")
        .distinct()
        .localCheckpoint(eager=False)
    )
    gdf = grams.groupBy("shingle").agg(F.count("*").alias("gdf"))
    return (
        grams.join(gdf, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0)).alias("_novel"),
        )
        .select(
            "doc_id",
            "n_distinct",
            F.expr("(_novel * 1000000) div n_distinct").alias("novel_ppm"),
        )
    )


def cluster_membership(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """``docs`` with its duplicate cluster added: ``cluster_id`` from
    :func:`connected_components` over ``pairs`` (a document in no pair is a
    singleton cluster of itself) and ``n_members``, the number of ``docs``
    rows in that cluster.  The size is a window count over the cluster
    partition, so a caller's own cluster-partitioned window shares its
    exchange."""
    return (
        docs.join(connected_components(pairs), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster_id"))
        )
    )


def canonical_pick(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The curation DECISION on top of near-dup clustering: one survivor
    per duplicate cluster, chosen by quality.  ``pairs`` is any near-dup
    edge list (Jaccard, MinHash, containment...); clusters come from
    :func:`connected_components`; documents in no pair are singleton
    clusters of themselves and always survive.

    Survivor = argmax over the cluster of ``(quality_ppm DESC, doc_id
    ASC)`` where ``quality_ppm = floor(1e6 * quality_score)`` -- the
    integer projection of the shared heuristic in
    ``operators/text.py::quality_ppm``, so the pick and its tiebreak are
    bit-identical across engines.  A document with no token has a NULL
    ``quality_ppm`` that ranks last, so among zero-token twins the min
    ``doc_id`` survives.  This is what pair/cluster output is
    FOR: ``dedup_clusters`` says who is whose duplicate; this operator
    says which copy the training set keeps (keep-best-quality is the
    standard choice over keep-first in corpus curation, since truncated or
    boilerplate-padded twins should lose to the clean original).

    Per-doc output: ``(doc_id, cluster_id, n_members, quality_ppm,
    is_kept)``, in ``doc_id`` order.  Scale shape: CC (a driver
    union-find for an edge list within the broadcast threshold, O(log n)
    star-contraction rounds beyond it) + one cluster-partitioned pass
    that computes the cluster size and the survivor side by side --
    nothing quadratic, no new shuffle class.  The call runs Spark jobs:
    CC's, and a lazily checkpointed pick that
    :func:`..session.broadcast_sized` reads.  A pick within the
    broadcast threshold comes back as a ``LocalRelation`` with exact
    statistics, so a join of the documents to its kept ids broadcasts
    the pick (the planner sizes the unread pick at the product of its
    join's inputs: 7.5 GB for 750 documents); a larger pick is the
    checkpoint, sorted."""
    from .text import quality_ppm

    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_ppm").desc(), F.col("doc_id")
    )
    picks = (
        cluster_membership(quality_ppm(docs), pairs)
        .withColumn(
            "is_kept",
            F.when(F.row_number().over(w) == 1, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .select(
            "doc_id", "cluster_id", "n_members", "quality_ppm", "is_kept"
        )
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )
    table = broadcast_sized(picks)
    if table is None:
        return picks
    return picks.sparkSession.createDataFrame(table)


# -------------------------------------------------- embedding near-dup


def embedding_dedup_pairs_lsh(
    vectors: DataFrame, threshold: float = 0.99
) -> DataFrame:
    """Scale path: hyperplane-LSH bucket the ``(vec_id, embedding)``
    vectors on 8 hyperplanes, verify exact cosine only within buckets.
    Near-identical vectors (cosine ~ 1) agree on
    (almost) every hyperplane sign, so recall at dedup thresholds is high
    while the |vectors|^2 product never materializes.  Approximate: a pair
    split by one hyperplane is missed -- use ``embedding_dedup_pairs`` when
    exactness matters more than scale."""
    dim = infer_dim(vectors)
    sigs = hyperplane_signatures(vectors)
    tagged = vectors.join(sigs, vectors["vec_id"] == sigs["vid"]).select(
        F.col("vec_id").alias("vid2"),
        F.col("embedding").alias("vec"),
        scaled_norm2(F.col("embedding"), dim).alias("norm"),
        "bucket",
    )
    a = tagged.select(
        F.col("vid2").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("norm").alias("norm_a"),
        "bucket",
    )
    b = tagged.select(
        F.col("vid2").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("norm").alias("norm_b"),
        "bucket",
    )
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_from_norms(
                F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b"), dim
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


# Number of leading components the lossless pair prefilter compares.
# Selectivity at threshold 0.99 on ~isotropic 64-dim data: the per-pair
# normalized-difference sum over 8 dims is ~(2/64)*chi^2_8 for unrelated
# pairs, so P(pass) ~ 6e-4 -- only near-parallel pairs reach the exact
# cosine.  Cost per pair: 8 flat double subs/mults + a few scalar ops.
_COS_PREFILTER_DIMS = 8


def _cosine_prefilter_side(
    vectors: DataFrame, dim: int, id_out: str, vec_out: str
) -> DataFrame:
    """One side of the lossless all-pairs cosine prefilter: per-row
    normalized leading components + the error-bound scalars the pair
    condition needs.  See ``embedding_dedup_pairs`` for the derivation."""
    sfx = id_out[-1]
    v = F.col("embedding")
    d = scaled_norm2(v, dim)
    dd = d.cast("double")
    g = float(dim + 1)
    # Escape hatch: rows the bound derivation does not cover are flagged
    # and always pass the prefilter (the exact check then decides, raising
    # or dropping exactly as the unfiltered plan would).  Covers: tiny or
    # zero fixed-point norms (floor slack no longer negligible; includes
    # the NaN>=T and 1/0 ANSI edge cases), ragged widths, NaN or huge
    # components (where per-term IEEE rounding exceeds the +-1 slack).
    small = (
        (d < F.lit(int(1000 * g)))
        | (F.size(v) != F.lit(dim))
        | F.exists(v, lambda x: x.isNaN() | (F.abs(x) > F.lit(100.0)))
    )
    # greatest() guards keep every division/sqrt exception-free for the
    # flagged rows (ANSI mode raises on double/0); inert when not flagged.
    nrm = F.sqrt(F.greatest(dd, F.lit(1e-12)) / F.lit(1e6))
    # try_element_at: a ragged row shorter than the prefilter depth yields
    # null components (ANSI element_at would abort the whole query with
    # INVALID_ARRAY_INDEX_IN_ELEMENT_AT); null ssq short-circuits nothing
    # because the size(v) != dim flag above already routes such rows to
    # the exact check, which drops them exactly as the unfiltered plan.
    comps = [
        (F.try_element_at(v, F.lit(i)).cast("double") / nrm).alias(f"_n{i}{sfx}")
        for i in range(1, min(_COS_PREFILTER_DIMS, dim) + 1)
    ]
    shrink = F.sqrt(dd / (dd + F.lit(g))).alias(f"_c{sfx}")
    widen = (
        F.lit(1.0)
        / F.sqrt(F.lit(1.0) - F.lit(g) / F.greatest(dd, F.lit(2.0 * g)))
        - F.lit(1.0)
    ).alias(f"_f{sfx}")
    return vectors.select(
        F.col("vec_id").alias(id_out),
        F.col("embedding").alias(vec_out),
        d.alias(f"norm_{sfx}"),
        small.alias(f"_small{sfx}"),
        shrink,
        widen,
        *comps,
    )


def embedding_dedup_pairs(
    vectors: DataFrame, threshold: float = 0.99
) -> DataFrame:
    """Pairs (a < b) of ``(vec_id, embedding)`` vectors with canonicalized
    cosine >= threshold (exact, all-pairs -- the correctness anchor; see
    the LSH variant for scale).

    The pair condition runs a LOSSLESS prefilter before the exact
    fixed-point cosine (r15): the naive plan evaluates the interpreted
    higher-order-function dot product (3*dim FLOOR/mul nodes plus a
    per-pair array allocation -- HOFs never enter codegen) for every one
    of the ~|V|^2/2 pairs, which dominated the query wall (measured
    7.99 s at sf0.1; 8,050 vectors = 32.4 M pair evaluations).  The
    prefilter compares the first ``_COS_PREFILTER_DIMS`` components of
    the NORMALIZED vectors as flat double arithmetic and only lets a
    pair through when the exact cosine could still reach ``threshold``:

      fixed_cos = N / (sqrt(Da)*sqrt(Db)) with N  <= 1e6*dot + 1 and
      1e6*|a|^2 - G <= Da <= 1e6*|a|^2 + 1  (G = dim+1 floor/rounding
      slack, valid once |a_i| <= 100), so fixed_cos >= T implies
      true_cos >= T*sqrt(Da/(Da+G))*sqrt(Db/(Db+G)) - 2e-5, hence
      sum_{i<=P} (a_i/|a| - b_i/|b|)^2 <= |a/|a| - b/|b||^2
                                       = 2 - 2*true_cos.
      The computed components use the fixed-point norm sqrt(D/1e6)
      (ratio to the true norm within [1, 1/sqrt(1-G/D)]), so the bound
      widens by sqrt(P)*(f_a + f_b) + 1e-6 IEEE slack.

    Rows outside the derivation's regime (D < 1000*G, ragged width, NaN
    or |x| > 100 components) are flagged and always pass, so they reach
    the exact expression and behave bit-identically to the unfiltered
    plan (including the ANSI divide-by-zero raise and the NaN >= T
    quirk).  No false negatives; false positives just pay one exact
    cosine.  Same join/operator class as before -- the prefilter only
    reorders per-pair work so the conjunction short-circuits on two
    flat doubles instead of a 3*dim-node lambda fold."""
    dim = infer_dim(vectors)
    if dim is None or dim < 2 or threshold <= 0.5:
        # empty input / degenerate width / loose threshold: the bound
        # buys nothing -- keep the plain exact plan
        a = vectors.select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("vec_a"),
            scaled_norm2(F.col("embedding"), dim).alias("norm_a"),
        )
        b = vectors.select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vec_b"),
            scaled_norm2(F.col("embedding"), dim).alias("norm_b"),
        )
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                cosine_from_norms(
                    F.col("vec_a"), F.col("vec_b"),
                    F.col("norm_a"), F.col("norm_b"), dim,
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .orderBy("id_a", "id_b")
        )
    p = min(_COS_PREFILTER_DIMS, dim)
    a = _cosine_prefilter_side(vectors, dim, "id_a", "vec_a")
    b = _cosine_prefilter_side(vectors, dim, "id_b", "vec_b")
    ssq = reduce(
        Column.__add__,
        [
            (F.col(f"_n{i}a") - F.col(f"_n{i}b"))
            * (F.col(f"_n{i}a") - F.col(f"_n{i}b"))
            for i in range(1, p + 1)
        ],
    )
    bound_root = (
        F.sqrt(
            F.greatest(
                F.lit(2.0)
                - F.lit(2.0 * threshold) * F.col("_ca") * F.col("_cb"),
                F.lit(0.0),
            )
            + F.lit(4e-5)
        )
        + F.lit(math.sqrt(p) + 1e-9) * (F.col("_fa") + F.col("_fb"))
        + F.lit(1e-6)
    )
    exact_cos = cosine_from_norms(
        F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b"), dim
    )
    cond = (
        (F.col("id_a") < F.col("id_b"))
        & (
            F.col("_smalla")
            | F.col("_smallb")
            | (ssq <= bound_root * bound_root)
        )
        & (exact_cos >= F.lit(threshold))
    )
    return (
        a.join(b, cond)
        .select("id_a", "id_b", exact_cos.alias("cosine"))
        .orderBy("id_a", "id_b")
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    band_size: int = 4,
) -> DataFrame:
    """Near-dup detection for an INCREMENTAL ingest batch: candidates form
    only across the new-vs-existing boundary, never within the (already
    deduplicated) corpus.

    This is how dedup actually runs at 100 TB: the corpus band table is
    computed once and kept materialized (here it is derived inline because
    the driver query is self-contained; a production pipeline reads it back
    from parquet).  Both band tables come from per-row signatures, as in
    ``minhash_dedup_pairs``, so neither side shuffles to build them; the
    batch's bands broadcast (batches are small relative to the corpus), so
    the candidate join is a broadcast probe and the corpus side never
    reshuffles at all.  Exact-Jaccard verification then touches candidate
    pairs only, looking each new id up in the batch and each existing id in
    the corpus.  Doc ids must be globally unique across both sides.
    """
    new_sets = _shingle_sets(new_docs)
    old_sets = _shingle_sets(existing_docs)
    nb = F.broadcast(
        _minhash_bands(new_sets, num_perm, band_size).select(
            F.col("doc_id").alias("new_id"), "band", "band_sig"
        )
    )
    eb = _minhash_bands(old_sets, num_perm, band_size)
    pairs = (
        nb.join(eb, ["band", "band_sig"])
        .select(F.col("new_id").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .distinct()
    )
    return (
        _jaccard_from_sets(pairs, new_sets, old_sets)
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("doc_a").alias("new_id"),
            F.col("doc_b").alias("existing_id"),
            "jaccard",
        )
        .orderBy("new_id", "existing_id")
    )


# ----------------------------------------------- benchmark decontamination


def contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Training-vs-benchmark n-gram overlap (the GPT-3/Pile-style
    decontamination check): for every (training doc, eval doc) pair sharing
    at least ``min_overlap`` distinct word ``n``-gram shingles, emit the
    pair with its shared-shingle count.

    Scale shape: the eval set (benchmarks are small -- thousands of docs,
    not billions) builds a broadcast inverted index, so the probe is a
    broadcast hash join against the streamed training corpus: no shuffle of
    the 100 TB side, no pairwise product.  Every eval shingle is kept,
    matching the exact oracle.
    """
    tr = shingle_table(train, n)
    ev = shingle_table(eval_docs, n).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    # shingle_table rows are distinct per doc, so COUNT(*) per pair IS the
    # number of distinct shared shingles
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= min_overlap)
        .orderBy("doc_id", "eval_id")
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    min_overlap: int = 2,
) -> DataFrame:
    """Training corpus with benchmark-contaminated documents removed: the
    anti-join of ``train`` against the contamination report's doc ids."""
    flagged = (
        contamination_report(train, eval_docs, min_overlap=min_overlap)
        .select("doc_id")
        .distinct()
    )
    return train.join(flagged, "doc_id", "left_anti")


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """CDC-style corpus diff: classify every ``doc_id`` across two
    snapshots as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by
    the md5 of its ``text``.

    Incremental curation at 100 TB starts here: re-running the full
    pipeline per snapshot is O(corpus), while diffing lets every
    downstream stage (dedup, decontamination, packing) touch only
    added+changed rows.  The comparison is ONE full-outer equi-join on the
    key over md5 content fingerprints -- the fingerprint is computed in a
    narrow pass, so the join shuffles two key+hash projections, never the
    text itself.  Output: ``doc_id, status, old_hash, new_hash``.
    """
    # Presence is carried as explicit flags, NOT inferred from hash
    # nullness: a row present with NULL text must still read as present
    # (md5(NULL) is NULL), matching the oracle's doc_id-IS-NULL keying.
    o = old.select(
        F.col("doc_id"),
        F.md5(F.col("text")).alias("old_hash"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col("doc_id"),
        F.md5(F.col("text")).alias("new_hash"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, "doc_id", "full_outer")
    # NULL<=>NULL hashes on a both-sides row compare as unchanged
    status = (
        F.when(~F.coalesce(F.col("_in_old"), F.lit(False)), F.lit("added"))
        .when(~F.coalesce(F.col("_in_new"), F.lit(False)), F.lit("removed"))
        .when(F.col("old_hash").eqNullSafe(F.col("new_hash")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select("doc_id", status.alias("status"), "old_hash", "new_hash")


# ------------------------------------------------- sub-document span dedup


def positional_shingles(docs: DataFrame, n: int = 8) -> DataFrame:
    """EVERY n-token shingle occurrence with its 1-based token position:
    ``(doc_id, pos, shingle)``.

    Unlike ``shingle_table`` (distinct shingles per doc, the whole-document
    dedup unit), this keeps duplicates and positions -- the inverted index
    for SUB-document dedup, where the question is *where* inside each
    document a repeated passage lives.  Narrow 1->N generation per row, no
    shuffle.

    The token array is materialized behind a projection boundary BEFORE
    any lambda references it: Catalyst inlines a referenced expression
    into every higher-order-function iteration, so referencing
    ``tokens(text)`` directly inside the per-shingle ``F.slice`` would
    retokenize the document once per shingle -- O(tokens^2) per doc (the
    trap measured at 6x on ``repetition_signals``; same fix as
    ``text.py`` ``_toks`` pattern)."""
    materialized = docs.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    )
    toks = F.col("_toks")
    empty = F.array().cast("array<struct<pos:int,shingle:string>>")
    pos_sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.array_join(F.slice(toks, i, n), " ").alias("shingle"),
            ),
        ),
    ).otherwise(empty)
    return materialized.select(
        "doc_id", F.explode(pos_sh).alias("_ps")
    ).select(
        "doc_id",
        F.col("_ps.pos").cast("long").alias("pos"),
        F.col("_ps.shingle").alias("shingle"),
    )


def repeated_spans(
    docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Sub-document repeated-passage finder (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" -- the suffix-array
    ExactSubstr dedup, re-expressed relationally): maximal token spans
    whose every n-token shingle occurs >= ``min_count`` times in the
    corpus (across documents OR repeated inside one), emitted as removal
    lists ``(doc_id, span_start, span_tokens, n_hits)``.

    Plan shape, which is what makes it a 100 TB operator: one groupBy over
    the positional shingle relation finds repeated shingles (map-side
    combinable count), one equi-join marks the hit positions (no pair
    explosion -- positions join to a per-shingle count, never shingle x
    shingle), and span assembly is a per-document gaps-and-islands window
    (lag + running flag-sum partitioned by doc_id), so no stage ever holds
    more than a document's positions in one task.  Overlapping or
    adjacent hits (gap <= n tokens) merge into one maximal span.

    Shuffle-byte note: both wide stages key on a 64-bit md5 prefix of the
    shingle, not the raw n-word string -- ~3x fewer shuffle bytes at
    n=8, more at larger n.  Both engines compute the same hash, so the
    oracle matches exactly even in the (2^-52-scale) collision case; a
    collision could at worst merge two spans, never drop one.
    """
    ps = positional_shingles(docs, n).select(
        "doc_id", "pos", F.substring(F.md5("shingle"), 1, 16).alias("sh_h")
    )
    rep = (
        ps.groupBy("sh_h")
        .agg(F.count("*").alias("_n_occ"))
        .filter(F.col("_n_occ") >= min_count)
        .select("sh_h")
    )
    hits = ps.join(rep, "sh_h").select("doc_id", "pos")
    return _spans_from_hits(hits, n)


def _spans_from_hits(hits: DataFrame, n: int) -> DataFrame:
    """Assemble ``(doc_id, pos)`` hit positions into maximal spans: the
    per-document gaps-and-islands window shared by the batch and
    incremental span finders (lag + running flag-sum partitioned by
    doc_id; overlapping or adjacent hits -- gap <= n tokens -- merge)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    new_span = F.when(
        prev.isNull() | ((F.col("pos") - prev) > n), F.lit(1)
    ).otherwise(F.lit(0))
    islands = hits.withColumn("_grp", F.sum(new_span).over(w))
    return (
        islands.groupBy("doc_id", "_grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + n).alias("span_tokens"),
            F.count("*").alias("n_hits"),
        )
        .drop("_grp")
    )


def incremental_repeated_spans(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Sub-document span dedup for an INCREMENTAL ingest batch: removal
    lists ``(doc_id, span_start, span_tokens, n_hits)`` for NEW documents
    only -- a span is flagged when each of its n-token shingles occurs
    >= ``min_count`` times across the batch's own occurrences PLUS the
    established corpus's (so a passage that appears once in the batch but
    already lives anywhere in the corpus is excised from the new doc, and
    a passage repeated twice within the batch is caught batch-internally).

    Result-equivalence invariant (asserted in tests): identical to
    ``repeated_spans(new ++ corpus)`` restricted to new doc_ids, because
    per-shingle batch+corpus counts sum to the union's counts.  What the
    incremental form buys at 100 TB is the plan: the corpus contributes
    ONLY its per-shingle-hash count relation -- computed once when the
    corpus is established and, in production, read back from parquet
    (derived inline here so the driver query is self-contained, same
    convention as ``incremental_minhash_dedup``) -- and the batch's
    per-shingle count relation broadcasts onto it, so the corpus side is a
    broadcast-probed scan: never re-shuffled, never re-shingled per batch
    beyond that one count relation.  Only the (small) batch shuffles per
    ingest.  Doc ids must be globally unique across both sides.

    A LEFT-OUTER batch-to-corpus join cannot BUILD its left side
    (unmatched probe rows could never be emitted from the streamed side),
    so Spark drops a broadcast hint placed there and sort-merges the
    corpus-sized count relation every batch.  The broadcast-able
    equivalent used here: stream the corpus against the broadcast batch
    with an INNER join (shingles present in both), and union the
    batch-only passers (no corpus rows, so they pass iff ``_n_new`` alone
    clears the bar); distinct collapses shingles that qualify through both
    branches."""
    ps_new = positional_shingles(new_docs, n).select(
        "doc_id", "pos", F.substring(F.md5("shingle"), 1, 16).alias("sh_h")
    )
    new_counts = ps_new.groupBy("sh_h").agg(F.count("*").alias("_n_new"))
    corpus_counts = (
        positional_shingles(corpus_docs, n)
        .select(F.substring(F.md5("shingle"), 1, 16).alias("sh_h"))
        .groupBy("sh_h")
        .agg(F.count("*").alias("_n_corpus"))
    )
    matched = (
        corpus_counts.join(F.broadcast(new_counts), "sh_h", "inner")
        .filter(F.col("_n_new") + F.col("_n_corpus") >= min_count)
        .select("sh_h")
    )
    solo = new_counts.filter(F.col("_n_new") >= min_count).select("sh_h")
    rep = matched.unionByName(solo).distinct()
    hits = ps_new.join(rep, "sh_h").select("doc_id", "pos")
    return _spans_from_hits(hits, n)


def remove_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply a ``(doc_id, span_start, span_tokens)`` removal list (the
    output shape of ``repeated_spans``): rebuild each document's text from
    the tokens OUTSIDE the listed spans.

    Policy-free by design: the caller chooses WHICH occurrences to list
    (e.g. keep the span in its lowest-doc_id carrier and list every other
    carrier), this operator just excises.  Docs with no listed span pass
    through with their text byte-identical; flagged docs are rebuilt
    token-joined (whitespace/punctuation-normalized -- the standard
    artifact of token-level excision).

    Plan shape: the spans aggregate to one array per doc (map-side
    combinable), left-join onto the docs (spans relation is tiny relative
    to the corpus -- it only has rows for flagged docs), and the excision
    is a narrow per-row expression over the token array: keep token at
    position p iff no span covers p.  O(tokens x spans-per-doc) per row,
    no extra shuffle beyond the one equi-join.

    The token array is materialized as a real column before the lambdas
    reference it (projection boundary): otherwise Catalyst inlines the
    ``tokens(text)`` expression into every ``F.try_element_at``/``F.size``
    call inside the per-position lambda and retokenizes the document per
    token -- O(tokens^2) per doc (same ``_toks`` fix as
    ``repetition_signals``)."""
    span_arrays = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_tokens")).alias("e"),
            )
        ).alias("_spans")
    )
    toks = F.col("_toks")
    joined = docs.withColumn("_toks", tokens(F.col("text"))).join(
        span_arrays, "doc_id", "left"
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            # try_element_at: the p=1 probe on a zero-token document must
            # yield NULL (filtered next), not an ANSI out-of-bounds error
            lambda p: F.struct(
                p.alias("p"), F.try_element_at(toks, p).alias("t")
            ),
        ),
        lambda st: (st["p"] <= F.size(toks))
        & ~F.exists(
            F.coalesce(
                F.col("_spans"),
                F.array().cast("array<struct<s:long,e:long>>"),
            ),
            lambda sp: (st["p"] >= sp["s"]) & (st["p"] < sp["e"]),
        ),
    )
    rebuilt = F.array_join(F.transform(kept, lambda st: st["t"]), " ")
    return joined.select(
        *[c for c in docs.columns if c != "text"],
        F.when(F.col("_spans").isNull(), F.col("text"))
        .otherwise(rebuilt)
        .alias("text"),
    )


# ---------------------------------------------------------------------
# Content-defined chunking (FastCDC/rsync-family): chunk boundaries are
# decided by the CONTENT of a sliding window, not by fixed offsets, so
# an insertion near the start of a document shifts only the chunks it
# touches -- every downstream chunk re-aligns and still deduplicates.
# This is the storage-layer dedup primitive (backup systems, artifact
# stores, CAS) and the byte-level complement of the token-level span
# dedup above.
# ---------------------------------------------------------------------

CDC_WINDOW = 8       # chars hashed per boundary decision
CDC_THRESHOLD = "08" + "0" * 30  # md5-hex < this ~= 1/32 boundary rate


def cdc_chunks(docs: DataFrame) -> DataFrame:
    """Split each document's ``text`` at content-defined boundaries: a
    boundary falls after position ``i`` iff the md5 of the ``CDC_WINDOW``
    chars ending at ``i`` compares below ``CDC_THRESHOLD`` (hex strings compare
    lexicographically == numerically, the same device as
    sampling.rate_threshold).  Output: one row per (doc, chunk) with
    ``chunk_idx, chunk, chunk_hash, chunk_len``.

    Purely per-row array expressions (boundary set -> start/end zips ->
    substrings): narrow, codegen-resident, no Python, no shuffle -- at
    100 TB this runs entirely inside the scan stage.  Documents shorter
    than the window become one whole-document chunk.

    The boundary array is materialized behind a projection boundary
    (``_bnd``) before the zip_with references it twice: inlined, the
    per-position window hash would run twice per document (the
    CollapseProject trap documented at ``repeated_spans``; the oracle's
    ``bnd`` CTE computes it once too).
    """
    bounds = (
        f"CASE WHEN length(text) < {CDC_WINDOW} THEN array() "
        f"ELSE filter(sequence({CDC_WINDOW}, length(text)), "
        f"i -> md5(substring(text, i - {CDC_WINDOW - 1}, {CDC_WINDOW})) "
        f"< '{CDC_THRESHOLD}') END"
    )
    with_bnd = docs.select(docs["*"], F.expr(bounds).alias("_bnd"))
    return _chunks_from_bounds(with_bnd, docs.columns)


def _chunks_from_bounds(with_bnd: DataFrame, doc_cols) -> DataFrame:
    """Shared CDC tail: turn a per-document boundary-position array
    (``_bnd``, char positions after which a chunk ends) into one row per
    (doc, chunk) with ``chunk_idx, chunk, chunk_hash, chunk_len``.
    ``_bnd`` is referenced twice in the zip (starts and ends), which is
    what keeps the boundary computation materialized."""
    expr = (
        "filter(zip_with("
        "  concat(array(0L), _bnd),"
        "  concat(_bnd, array(CAST(length(text) AS LONG))),"
        "  (s, e) -> struct(s AS s, substring(text, CAST(s + 1 AS INT),"
        "                   CAST(e - s AS INT)) AS chunk)"
        "), st -> length(st.chunk) > 0)"
    )
    exploded = with_bnd.select(
        "doc_id", F.posexplode(F.expr(expr)).alias("chunk_idx", "_st"),
        *[c for c in doc_cols if c not in ("doc_id", "text")],
    )
    return exploded.select(
        "doc_id", "chunk_idx",
        F.col("_st.chunk").alias("chunk"),
        F.md5("_st.chunk").alias("chunk_hash"),
        F.length("_st.chunk").cast("long").alias("chunk_len"),
        *[c for c in doc_cols if c not in ("doc_id", "text")],
    )


CDC_ROLL_BASE = 37    # polynomial base: small enough that an 8-char
                      # window's Horner value stays far inside int64
                      # (max codepoint 0x10FFFF * 37^7 * 37/36 ~ 1.1e17)
CDC_ROLL_MOD = 997    # prime modulus for the boundary draw
CDC_ROLL_KEEP = 31    # boundary iff h % 997 < 31 (~1/32.2, matching the
                      # md5 rule's 1/32 expected chunk size)


def cdc_chunks_rolling(docs: DataFrame) -> DataFrame:
    """Content-defined chunking with a POLYNOMIAL rolling-window hash in
    place of ``cdc_chunks``'s per-position md5: a boundary falls after
    position ``i`` iff the base-37 Horner value of the ``CDC_WINDOW`` chars
    ending at ``i`` lands in the low ``CDC_ROLL_KEEP`` residues mod 997.
    Same output contract and the same insert-shift realignment property
    as the md5 rule (both are pure functions of the window's content) --
    the md5 variant stays as the labeled cross-engine anchor; this one
    is the cheap path: ~``CDC_WINDOW`` integer multiply-adds per boundary
    decision instead of a full md5 over a fresh ``CDC_WINDOW``-char string
    (measured >=2x cheaper end-to-end on the dedup-stats query, and the
    gap is pure scan-stage CPU at 100 TB).

    Everything is exact BIGINT: codepoints (<= 0x10FFFF) through 8
    Horner steps peak at ~1.1e17, far inside int64, so Spark and the
    DuckDB oracle (which evaluates the identical polynomial as a
    power-weighted sum) agree bit for bit with no modular reduction
    until the final residue test.

    The codepoint array ``_cod`` and the boundary array ``_bnd`` are
    each referenced twice in their consuming projections -- the
    used-once CollapseProject inlining trap would otherwise re-split
    the document once per character position."""
    codes = "transform(split(text, ''), ch -> CAST(ascii(ch) AS BIGINT))"
    # the window polynomial is unrolled to direct element_at terms
    # (weight 37^(window-1-j)) rather than slice()+aggregate(): the
    # higher-order-function fold runs interpreted and allocates a
    # window-sized array PER POSITION -- measured ~2x slower end-to-end
    # on the dedup-stats query than this flat arithmetic expression
    poly = " + ".join(
        f"element_at(_cod, i - {CDC_WINDOW - 1 - j}) * "
        f"{CDC_ROLL_BASE ** (CDC_WINDOW - 1 - j)}L"
        for j in range(CDC_WINDOW)
    )
    bounds = (
        f"CASE WHEN size(_cod) < {CDC_WINDOW} THEN array() "
        f"ELSE filter(sequence({CDC_WINDOW}, size(_cod)), "
        f"i -> ({poly}) % {CDC_ROLL_MOD} < {CDC_ROLL_KEEP}) END"
    )
    with_cod = docs.select(docs["*"], F.expr(codes).alias("_cod"))
    with_bnd = with_cod.select(
        docs["*"], F.expr(bounds).alias("_bnd")
    )
    return _chunks_from_bounds(with_bnd, docs.columns)


def cdc_dedup_stats(docs: DataFrame, chunker=None) -> DataFrame:
    """Storage-dedup accounting over content-defined chunks, per ``source``:
    ``n_chunks, n_distinct_chunks, total_chars, dup_chars`` where
    ``dup_chars`` is what a content-addressed store would NOT have to
    keep (every copy after the first of each distinct chunk; chars ==
    bytes on this ASCII corpus, and substring/length are char-based).

    One map-side-combinable groupBy on the 128-bit chunk hash, then a
    group-sized rollup -- the corpus shuffles once, keyed by hash.
    ``chunker`` selects the boundary rule (md5 anchor or rolling hash).
    """
    if chunker is None:
        chunker = cdc_chunks
    chunks = chunker(docs.select("doc_id", "text", "source"))
    per_hash = chunks.groupBy("source", "chunk_hash").agg(
        F.count("*").alias("cnt"), F.max("chunk_len").alias("clen")
    )
    return per_hash.groupBy("source").agg(
        F.sum("cnt").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).alias("total_chars"),
        F.sum((F.col("cnt") - 1) * F.col("clen")).alias("dup_chars"),
    )


# ---------------------------------------------------------------- sorted
# neighborhood


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez-Stolfo): order the corpus
    by its simhash key and compare each record ONLY to its ``window``
    predecessors in that order -- near-duplicates hash to nearby keys, so
    a fixed-width pass over the sorted corpus surfaces them with
    ``window * N`` comparisons instead of ``N^2``.  The complement to the
    pigeonhole-segment join in ``simhash_pairs``: no candidate explosion
    on skewed segments, at the cost of missing pairs whose keys sort far
    apart.

    Scale shape: the global order comes from the two-level
    ``ordered_running_sum`` rank (range-partitioned local ranks + an
    O(parallelism) offsets window -- never a single-partition window over
    data), and neighbor pairing is an EQUI-join on rank after exploding
    the ``window`` offsets on one side.  Both stages shuffle on scalar
    keys; nothing is quadratic in the corpus.

    Output: ``(doc_a, doc_b, gap, hamming)`` where ``doc_a`` precedes
    ``doc_b`` in simhash order and ``gap = rank(b) - rank(a)``.
    """
    from .windows import ordered_running_sum

    sigs = simhash_signatures(docs)
    # ranked feeds BOTH join sides; cut the lineage so the signature
    # pass + two-level global rank run once (triangle_counts' measured
    # waste class)
    ranked = ordered_running_sum(
        sigs.withColumn("_one", F.lit(1).cast("long")),
        [F.col("simhash"), F.col("doc_id")],
        "_one",
        "rk",
    ).drop("_one").localCheckpoint(eager=False)
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("_sim_a"),
        F.col("rk").alias("_rk_a"),
    )
    right = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("_sim_b"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("_gap"),
        F.col("rk").alias("_rk_b"),
    ).withColumn("_rk_a", F.col("_rk_b") - F.col("_gap"))
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda i: F.substring(F.col("_sim_a"), i, 1)
            != F.substring(F.col("_sim_b"), i, 1),
        )
    )
    return (
        left.join(right, "_rk_a")
        .select(
            "doc_a",
            "doc_b",
            F.col("_gap").cast("long").alias("gap"),
            hamming.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


# ----------------------------------------------------- winnowing (MOSS)


def winnow_fingerprints(docs: DataFrame, pos_cap: int = 65535) -> DataFrame:
    """Robust-winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 -- the MOSS algorithm): hash every 4-token gram of ``text``,
    then from each window of 4 consecutive gram hashes keep the minimum,
    ties broken by the RIGHTMOST position.  Guarantees every shared
    token run of length >= 7 yields at least one shared
    fingerprint, while storing only ~2/5 of the gram hashes -- the
    storage/recall dial for corpus-scale plagiarism and near-dup
    detection.

    Emits distinct ``(doc_id, fp)`` with ``fp`` the selected 40-bit gram
    hash.  All work is per-document: a narrow gram explosion plus a
    doc-partitioned window min -- no corpus-wide shuffle beyond the
    final distinct.

    Cross-engine determinism: gram hash = first 10 md5 hex digits
    (40 bits); the rightmost-min tie rule is encoded arithmetically as
    ``min(h * 65536 + (65536 - pos))`` so a single integer MIN resolves
    both orderings identically in Spark and DuckDB (positions are
    capped at ``pos_cap`` <= 65535 tokens -- longer documents should be
    chunked upstream, see ``text.chunk_windows``; the gram count used
    by the trailing-window rule is capped IDENTICALLY on both engines,
    ``least(total_grams, pos_cap)``, because Spark computes it post-cap
    as max(pos) -- ADVICE r8 regression)."""
    assert pos_cap <= 65535, "enc radix is 65536; positions must fit"
    grams = positional_shingles(docs, n=4).filter(F.col("pos") <= pos_cap)
    h = F.conv(F.substring(F.md5("shingle"), 1, 10), 16, 10).cast("long")
    grams = grams.select(
        "doc_id",
        "pos",
        (h * 65536 + (F.lit(65536) - F.col("pos"))).alias("enc"),
        F.max("pos").over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    selected = (
        grams.select(
            "doc_id",
            "pos",
            "n_grams",
            F.min("enc").over(win).alias("min_enc"),
        )
        .filter(F.col("pos") <= F.col("n_grams") - 3)
        .select("doc_id", F.expr("min_enc div 65536").alias("fp"))
        .distinct()
    )
    return selected


def winnow_overlap_pairs(
    docs: DataFrame,
    min_shared: int = 5,
    df_cap: int = 50,
) -> DataFrame:
    """Document pairs ranked by shared winnowing fingerprints: the
    MOSS-style overlap report.  Pair generation is an equi-join on the
    fingerprint inverted index -- only docs sharing a fingerprint ever
    meet, never all pairs -- and fingerprints appearing in more than
    ``df_cap`` documents (boilerplate) are dropped before the join,
    bounding any single join key's fan-out (same guard as the LSH
    band-bucket cap).

    ``overlap_ppm`` = shared / min(|A|, |B|) in parts-per-million
    (integer floor -- containment-style normalization, so a short doc
    fully covered by a long one still scores ~1e6)."""
    # one materialization of the window-heavy fingerprint pipeline: fps
    # feeds the rarity agg and then (joined) three more consumers --
    # without the cut the per-doc window recomputes per consumer (same
    # class of waste as triangle_counts' measured 2x)
    fps = winnow_fingerprints(docs).localCheckpoint(eager=False)
    rare = (
        fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= df_cap)
        .select("fp")
    )
    fps = fps.join(rare, "fp").localCheckpoint(eager=False)
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "(n_shared * 1000000L) div least(n_fp_a, n_fp_b)"
            ).alias("overlap_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )
