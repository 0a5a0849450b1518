"""Data-quality operators: table profiling and expectation validation.

A training-data pipeline gates every ingest on two questions -- "what does
this data look like?" (profiling) and "does it satisfy the contract?"
(expectations).  Both operators answer them in ONE aggregation pass over
the table (a single shuffle-free partial+final agg), emitting a long-format
result that is stable to compare across snapshots and engines.

Scale notes: ``profile_table`` defaults to the HLL++ sketch for distinct
counts (bounded state; ``exact=True`` switches to ``count_distinct``, which
compiles to an Expand of |columns| copies through one shuffle -- the
verifier path, not the 100 TB path).  ``validate_expectations`` evaluates
every rule as a codegen-resident conditional sum, so adding rules adds
columns to one aggregate, never extra scans.
"""

from __future__ import annotations

from typing import Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _check_names(kind: str, names: Sequence[str]) -> None:
    """Both operators unpivot through a ``selectExpr(stack(...))`` string;
    an empty list builds malformed ``stack(0, )`` SQL and a quote/backtick
    in a name breaks out of its literal.  Fail fast with a real message
    instead of an opaque parse error."""
    if not names:
        raise ValueError(f"at least one {kind} is required")
    for name in names:
        if "'" in name or "`" in name:
            raise ValueError(
                f"{kind} name {name!r} must not contain quotes or backticks"
            )


def profile_table(df: DataFrame, exact: bool = False) -> DataFrame:
    """Profile of every column: ``column_name, n_rows, n_nonnull, n_nulls,
    n_distinct, min_value, max_value`` (min/max rendered as strings so one
    schema fits every column type).

    One aggregation over the table computes all columns' statistics; the
    wide single-row result is then unpivoted driver-free via ``stack``.
    """
    cols = df.columns
    _check_names("column", cols)
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        distinct = (
            F.count_distinct(F.col(c)) if exact else F.approx_count_distinct(c)
        )
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nonnull"),
            distinct.alias(f"{c}__distinct"),
            # min/max in the column's NATIVE order, rendered to string
            # afterwards (casting first would compare lexicographically)
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nonnull`, `{c}__distinct`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    return (
        row.selectExpr(
            "__n AS n_rows",
            f"stack({len(cols)}, {stack_args}) AS "
            "(column_name, n_nonnull, n_distinct, min_value, max_value)",
        )
        .select(
            "column_name",
            "n_rows",
            "n_nonnull",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_nulls"),
            "n_distinct",
            "min_value",
            "max_value",
        )
        .orderBy("column_name")
    )


def validate_expectations(
    df: DataFrame,
    rules: Sequence[Tuple[str, Column]],
) -> DataFrame:
    """Row-level contract checks: for each ``(rule_name, predicate)`` emit
    ``rule_name, n_rows, n_violations, passed``.

    A NULL predicate result counts as a violation (the conservative
    reading: an unevaluable contract is a broken contract).  All rules run
    in one aggregation pass.
    """
    _check_names("rule", [name for name, _ in rules])
    aggs = [F.count("*").alias("__n")] + [
        F.sum(
            F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)
        ).alias(f"{name}__v")
        for name, cond in rules
    ]
    row = df.agg(*aggs)
    stack_args = ", ".join(f"'{name}', `{name}__v`" for name, _ in rules)
    return (
        row.selectExpr(
            "__n AS n_rows",
            f"stack({len(rules)}, {stack_args}) AS (rule_name, n_violations)",
        )
        .select(
            "rule_name",
            "n_rows",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )
        .orderBy("rule_name")
    )


def cohen_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa between two label columns, exact integer fixed
    point -- the standard chance-corrected agreement metric for grading
    a weak labeler (a heuristic classifier, a second annotator, a
    distilled model) against reference labels before its output is
    trusted to filter a training corpus.

    kappa = (N * n_agree - S) / (N^2 - S) with
    ``S = sum_k row_marginal(k) * col_marginal(k)`` -- the integer form
    of (p_o - p_e) / (1 - p_e), so no intermediate float division.
    Output is ONE row: ``(n_rows, n_agree, po_ppm, pe_ppm, kappa_ppm)``
    with each ppm a BIGINT floor division, bit-identical on any engine.
    Degenerate chance-agreement (N^2 == S, every pair in one class)
    reports kappa_ppm = 0 on both engines rather than dividing by zero.

    Exact-integer headroom (same convention as krippendorff_alpha's
    documented bound): ``S <= N^2`` and the widest product is
    ``S * 1_000_000``, so BIGINT holds exactly up to ``N ~ 3.0e6``
    graded rows.  Corpus-scale panels should grade a sampled or
    stratified slice (the graded queries do); past that bound the ppm
    terms need DECIMAL(38) -- widen rather than let the multiply wrap.

    Scale shape: one hash aggregate to the (|A| x |B|)-sized confusion
    relation (map-side combinable), then marginal products over that
    grid -- the corpus shuffles only into label-pair cells, never
    row-wise.
    """
    cm = (
        df.groupBy(
            F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
        )
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    totals = cm.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    row_m = cm.groupBy("_a").agg(F.sum("c").alias("rm"))
    col_m = cm.groupBy("_b").agg(F.sum("c").alias("colm"))
    s = (
        row_m.join(col_m, row_m["_a"] == col_m["_b"])
        .agg(
            F.coalesce(F.sum(F.col("rm") * F.col("colm")), F.lit(0))
            .cast("long")
            .alias("s")
        )
    )
    return (
        totals.crossJoin(F.broadcast(s))
        .select(
            "n_rows",
            "n_agree",
            F.expr("(n_agree * 1000000) div n_rows").alias("po_ppm"),
            F.expr("(s * 1000000) div (n_rows * n_rows)").alias("pe_ppm"),
            # kappa can be NEGATIVE (worse-than-chance agreement), so the
            # quotient uses the repo's exact FLOOR device (pmod + div --
            # test_exact_division.py) to match DuckDB's flooring `//`;
            # po/pe are non-negative, where plain div IS floor
            F.expr(
                "CASE WHEN n_rows * n_rows = s THEN CAST(0 AS BIGINT) "
                "ELSE (((n_rows * n_agree - s) * 1000000) "
                "  - pmod((n_rows * n_agree - s) * 1000000, "
                "         n_rows * n_rows - s)) "
                "div (n_rows * n_rows - s) END"
            ).alias("kappa_ppm"),
        )
    )


def classification_report(
    df: DataFrame, actual_col: str, pred_col: str
) -> DataFrame:
    """Per-class precision/recall/F1 plus a macro-average row, exact
    integer fixed point -- the metric table every labeler evaluation
    prints.  Where :func:`cohen_kappa` answers "is the agreement better
    than chance overall", this answers "WHICH classes does the weak
    labeler get wrong" -- the per-class view that catches a classifier
    that aces the majority class and garbles the tail.

    Per label ``l`` over the union of labels seen in either column:
    ``tp = |actual=l & pred=l|``, ``precision = tp / n_pred(l)``,
    ``recall = tp / n_actual(l)``, ``f1 = 2pr/(p+r)`` -- every ratio a
    BIGINT ppm floor division (all quantities non-negative, so plain
    ``div`` IS floor on both engines), 0 where the denominator is 0
    (a label never predicted has precision 0, never seen has recall 0).
    The final row ``label='__macro__'`` carries the unweighted mean of
    the per-class ppm values (``sum div n_labels`` -- exact), the
    headline number macro-F1 reports.

    Scale shape: one hash aggregate to the (|A| x |B|) confusion grid
    (map-side combinable -- the corpus never shuffles row-wise), then
    marginals and the label-union outer join over that grid.  Output:
    ``(label, n_actual, n_pred, tp, precision_ppm, recall_ppm,
    f1_ppm)``, one row per label plus the macro row, ordered by label
    (``'_'`` < ``'a'`` in ASCII, so the macro row sorts first on both
    engines)."""
    cm = (
        df.groupBy(F.col(actual_col).alias("_a"), F.col(pred_col).alias("_b"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    actual_m = cm.groupBy(F.col("_a").alias("label")).agg(
        F.sum("c").cast("long").alias("n_actual")
    )
    pred_m = cm.groupBy(F.col("_b").alias("label")).agg(
        F.sum("c").cast("long").alias("n_pred")
    )
    tp = (
        cm.filter(F.col("_a") == F.col("_b"))
        .select(F.col("_a").alias("label"), F.col("c").alias("tp"))
    )
    p = "CASE WHEN n_pred = 0 THEN CAST(0 AS BIGINT) ELSE (tp * 1000000) div n_pred END"
    r = (
        "CASE WHEN n_actual = 0 THEN CAST(0 AS BIGINT)"
        " ELSE (tp * 1000000) div n_actual END"
    )
    per_class = (
        actual_m.join(pred_m, "label", "full_outer")
        .join(tp, "label", "left")
        .select(
            "label",
            F.coalesce("n_actual", F.lit(0)).cast("long").alias("n_actual"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
        .select(
            "label",
            "n_actual",
            "n_pred",
            "tp",
            F.expr(p).alias("precision_ppm"),
            F.expr(r).alias("recall_ppm"),
            F.expr(
                f"CASE WHEN ({p}) + ({r}) = 0 THEN CAST(0 AS BIGINT)"
                f" ELSE (2 * ({p}) * ({r})) div (({p}) + ({r})) END"
            ).alias("f1_ppm"),
        )
        .localCheckpoint(eager=False)
    )
    macro = per_class.agg(
        F.lit("__macro__").alias("label"),
        F.sum("n_actual").cast("long").alias("n_actual"),
        F.sum("n_pred").cast("long").alias("n_pred"),
        F.sum("tp").cast("long").alias("tp"),
        F.expr("sum(precision_ppm) div count(*)").alias("precision_ppm"),
        F.expr("sum(recall_ppm) div count(*)").alias("recall_ppm"),
        F.expr("sum(f1_ppm) div count(*)").alias("f1_ppm"),
    )
    return per_class.unionByName(macro).orderBy("label")


def fleiss_kappa(
    ratings: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
    n_raters: int = 3,
) -> DataFrame:
    """Fleiss' kappa over a long-format ratings relation (one row per
    (item, rater assignment)) -- the MULTI-rater generalization of
    :func:`cohen_kappa`: where Cohen grades one labeler against one
    reference, Fleiss asks whether a PANEL of n labelers agrees beyond
    chance, the question a curation pipeline faces when it ensembles
    several weak labelers before trusting their majority vote.

    Exact integer closed form.  With ``n_ic`` = raters assigning item i
    to category c, ``S = sum_ic n_ic*(n_ic - 1)``, ``T_c = sum_i n_ic``:

        P_bar  = S / (N*n*(n-1))          (observed agreement)
        P_e    = sum_c T_c^2 / (N*n)^2    (chance agreement)
        kappa  = (S*N*n - (n-1)*sum T^2)
                 / ((n-1) * (N^2*n^2 - sum T^2))

    all BIGINT, ppm floor divisions; kappa can be negative, so the
    quotient uses the pmod floor device.  Degenerate unanimity (every
    rating one category: the denominator vanishes) reports 0.  Items
    rated by fewer than ``n_raters`` (a labeler abstained -- e.g. the
    profile-capped NB drops featureless docs) are EXCLUDED: Fleiss'
    formula assumes a fixed panel size, and both engines drop the same
    items.

    Scale shape: one hash aggregate to (item, category) cells, one to
    per-item totals, then category-count-sized marginals -- the ratings
    relation shuffles only on its natural keys.  Output is ONE row:
    ``(n_items, n_raters, s_pairs, sum_t2, pbar_ppm, pe_ppm,
    kappa_ppm)``.

    Exact-integer headroom (krippendorff_alpha convention): the widest
    term is ``(n-1) * sum_t2 * 1_000_000`` with ``sum_t2 <= (N*n)^2``,
    so BIGINT holds exactly up to ``N ~ 1e6`` items on a 3-rater panel.
    Grade a sampled slice past that (the graded queries do); widen to
    DECIMAL(38) rather than let the multiply wrap."""
    # Per-item totals come from ONE window over the (item, category)
    # cells instead of a groupBy + self-join (r15): the join form
    # consumed `counts` twice (forcing a checkpoint on it) and paid an
    # extra exchange; the window keeps a single linear chain, so a
    # single lazy checkpoint on `kept` serves both downstream aggregates
    # -- one fewer per-build toRdd/codegen pass and one fewer shuffle,
    # identical rows (the isNotNull filter preserves the old join's
    # null-key drop).
    w_item = Window.partitionBy("_i")
    kept = (
        ratings.groupBy(
            F.col(item_col).alias("_i"), F.col(label_col).alias("_c")
        )
        .agg(F.count("*").cast("long").alias("nic"))
        .filter(F.col("_i").isNotNull())
        .withColumn("_nr", F.sum("nic").over(w_item))
        .filter(F.col("_nr") == n_raters)
        .select("_i", "_c", "nic")
        .localCheckpoint(eager=False)
    )
    s_n = kept.agg(
        F.coalesce(F.sum(F.col("nic") * (F.col("nic") - 1)), F.lit(0))
        .cast("long")
        .alias("s_pairs"),
        (F.count_distinct("_i")).cast("long").alias("n_items"),
    )
    t2 = kept.groupBy("_c").agg(F.sum("nic").alias("t")).agg(
        F.coalesce(F.sum(F.col("t") * F.col("t")), F.lit(0))
        .cast("long")
        .alias("sum_t2")
    )
    n = n_raters
    num = f"(s_pairs * n_items * {n} - {n - 1} * sum_t2) * 1000000"
    den = f"({n - 1} * (n_items * n_items * {n * n} - sum_t2))"
    return s_n.crossJoin(F.broadcast(t2)).select(
        "n_items",
        F.lit(n).cast("long").alias("n_raters"),
        "s_pairs",
        "sum_t2",
        F.expr(
            "CASE WHEN n_items = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (s_pairs * 1000000) div (n_items * {n * (n - 1)}) END"
        ).alias("pbar_ppm"),
        F.expr(
            "CASE WHEN n_items = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (sum_t2 * 1000000) div (n_items * n_items * {n * n}) END"
        ).alias("pe_ppm"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (({num}) - pmod({num}, {den})) div ({den}) END"
        ).alias("kappa_ppm"),
    )


def krippendorff_alpha(
    ratings: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
    n_raters: int = 3,
) -> DataFrame:
    """Krippendorff's alpha (nominal) over a long-format ratings
    relation -- the MISSING-DATA generalization of :func:`fleiss_kappa`:
    where Fleiss assumes a fixed panel and must DROP every item a rater
    abstained on (the profile-capped NB abstains on featureless docs),
    alpha keeps every unit with >= 2 ratings, weighting each unit's
    pairwise disagreement by 1/(m_u - 1).  That is exactly the panel a
    weak-labeler ensemble produces in practice, so alpha is the
    agreement number a curation pipeline can read WITHOUT discarding
    the partially-rated tail.

    Exact integer closed form (Krippendorff 2011, the computational
    formula behind the coincidence matrix).  With ``n_uc`` = ratings of
    unit u in category c, ``m_u = sum_c n_uc`` (kept iff >= 2),
    ``n = sum_u m_u``, ``n_c = sum_u n_uc``:

        D_o ~ S_o = sum_u [ sum_c n_uc*(m_u - n_uc) ] / (m_u - 1)
        D_e ~ S_e = sum_c n_c*(n - n_c)
        alpha = 1 - (n - 1) * S_o / S_e

    The per-unit 1/(m_u - 1) is the one rational term; it is made
    exact by scaling with ``K = lcm(1, .., n_raters - 1)`` (panel-size
    bounded: K = 2 for a 3-rater panel), since (m_u - 1) | K for every
    kept unit; a unit carrying MORE ratings than ``n_raters`` (a
    malformed panel) raises at execution time rather than silently
    zeroing its term.  All BIGINT; alpha can be negative, so the quotient uses
    the same pmod floor device as the kappas.  BIGINT headroom: the
    alpha numerator is <= ~2 * K * n^3 * 1e6, exact through n ~ 1.5M
    ratings -- corpus-sized panels beyond that need the ppm scaling
    moved inside the ratio (documented, not silent).

    Scale shape: identical to fleiss_kappa -- one hash aggregate to
    (unit, category) cells, one to per-unit totals, category-sized
    marginals; output is ONE row ``(n_units, n_ratings, s_o_scaled,
    s_e, do_ppm, de_ppm, alpha_ppm)``."""
    import math

    k_lcm = math.lcm(*range(1, max(n_raters, 2)))
    # Same single-chain window rewrite as fleiss_kappa (r15): per-unit
    # totals from one window over the cells, no groupBy + self-join, one
    # checkpoint instead of two; identical rows (isNotNull preserves the
    # join's null-key drop).
    w_unit = Window.partitionBy("_i")
    kept = (
        ratings.groupBy(
            F.col(item_col).alias("_i"), F.col(label_col).alias("_c")
        )
        .agg(F.count("*").cast("long").alias("nic"))
        .filter(F.col("_i").isNotNull())
        .withColumn("m", F.sum("nic").over(w_unit).cast("long"))
        .filter(F.col("m") >= 2)
        .localCheckpoint(eager=False)
    )
    # (m - 1) | K holds ONLY while m <= n_raters; a unit carrying MORE
    # ratings than the declared panel (duplicate rater rows, or a
    # caller under-stating n_raters) would silently zero its
    # disagreement term ("K div (m-1)" = 0) while still inflating the
    # marginals -- overstating alpha with no error (r14 self-review).
    # Fail loudly instead: assert_true throws at execution time, and
    # its NULL-when-passing result folds to a 0 addend.
    guard = F.coalesce(
        F.expr(
            f"assert_true(m <= {n_raters}, 'krippendorff_alpha: a unit "
            f"has more ratings than n_raters={n_raters}')"
        ).cast("long"),
        F.lit(0),
    )
    so_n = kept.agg(
        F.coalesce(
            F.sum(
                # integer div is exact: (m - 1) | K for every kept unit
                # (guarded above)
                F.expr(f"{k_lcm} div (m - 1)")
                * F.col("nic")
                * (F.col("m") - F.col("nic"))
                + guard
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("s_o_scaled"),
        F.count_distinct("_i").cast("long").alias("n_units"),
        # total ratings: sum of cells' counts over kept units
        F.coalesce(F.sum("nic"), F.lit(0)).cast("long").alias("n_ratings"),
    )
    # S_e = sum_c n_c*(n - n_c) = n^2 - sum_c n_c^2 with n = sum_c n_c:
    # deriving n INSIDE the marginal aggregate (r15) removes the second
    # consumption of so_n -- previously a 1-row relation that still paid
    # a full per-build lazy-checkpoint (toRdd + codegen) just to be read
    # twice.  Exact-integer identity, same BIGINT headroom (n^2 <=
    # ~2.25e12 at the documented n ~ 1.5M bound).
    se = (
        kept.groupBy("_c")
        .agg(F.sum("nic").cast("long").alias("nc"))
        .agg(
            (
                F.coalesce(F.sum("nc"), F.lit(0))
                * F.coalesce(F.sum("nc"), F.lit(0))
                - F.coalesce(F.sum(F.col("nc") * F.col("nc")), F.lit(0))
            )
            .cast("long")
            .alias("s_e")
        )
    )
    num = f"({k_lcm} * s_e - (n_ratings - 1) * s_o_scaled) * 1000000"
    den = f"({k_lcm} * s_e)"
    return so_n.crossJoin(F.broadcast(se)).select(
        "n_units",
        "n_ratings",
        "s_o_scaled",
        "s_e",
        F.expr(
            "CASE WHEN n_ratings = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (s_o_scaled * 1000000) div ({k_lcm} * n_ratings) END"
        ).alias("do_ppm"),
        F.expr(
            "CASE WHEN n_ratings <= 1 THEN CAST(0 AS BIGINT)"
            " ELSE (s_e * 1000000) div (n_ratings * (n_ratings - 1)) END"
        ).alias("de_ppm"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (({num}) - pmod({num}, {den})) div ({den}) END"
        ).alias("alpha_ppm"),
    )


def specific_agreement(
    ratings: DataFrame,
    item_col: str = "item_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-category POSITIVE SPECIFIC AGREEMENT over a long-format
    multi-rater panel -- the diagnostic a pipeline reads after a low
    kappa/alpha to find WHICH categories the raters disagree on (the
    chance-corrected scalars say "the panel disagrees"; this says
    "specifically on category c").  Uspensky/Fleiss's
    proportion-of-specific-agreement generalized to variable panel
    sizes: of all rating pairs in which at least one member assigns
    category c, the fraction where BOTH do,

        SA_c = sum_u n_uc*(n_uc - 1) / sum_u n_uc*(m_u - 1)

    (numerator: ordered same-category pairs; denominator: ordered pairs
    involving a c-rating).  Units with m_u < 2 carry no pairs and drop
    out naturally -- NO fixed-panel assumption and NO lcm scaling: both
    sums are plain integers, so the ppm ratio is exact for any panel
    shape.  Output: one row per category, ``(label, n_items_rated,
    pairs_same, pairs_total, sa_ppm)``, ordered by label.

    Scale shape: the same (item, category) hash aggregate as the
    kappas, then a category-sized marginal -- nothing wider than the
    natural keys ever shuffles."""
    # Single-chain window rewrite (r15, same as the kappas): the old
    # groupBy + self-join consumed the UNCHECKPOINTED cells twice, so
    # the whole ratings subtree (the served NB panel) executed twice per
    # run; the window keeps one pass and drops the join exchange.
    kept = (
        ratings.groupBy(
            F.col(item_col).alias("_i"), F.col(label_col).alias("_c")
        )
        .agg(F.count("*").cast("long").alias("nic"))
        .filter(F.col("_i").isNotNull())
        .withColumn(
            "m", F.sum("nic").over(Window.partitionBy("_i")).cast("long")
        )
        .filter(F.col("m") >= 2)
    )
    return (
        kept.groupBy(F.col("_c").alias("label"))
        .agg(
            F.count_distinct("_i").cast("long").alias("n_items_rated"),
            F.sum(F.col("nic") * (F.col("nic") - 1))
            .cast("long")
            .alias("pairs_same"),
            F.sum(F.col("nic") * (F.col("m") - 1))
            .cast("long")
            .alias("pairs_total"),
        )
        .withColumn(
            "sa_ppm",
            F.expr(
                "CASE WHEN pairs_total = 0 THEN CAST(0 AS BIGINT)"
                " ELSE (pairs_same * 1000000) div pairs_total END"
            ),
        )
        .orderBy("label")
    )
