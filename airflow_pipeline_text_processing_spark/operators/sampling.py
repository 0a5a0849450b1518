"""Deterministic, engine-portable sampling.

``df.sample``/``sampleBy`` draw from Spark's per-partition RNG: the result
depends on partitioning and seed plumbing, is not reproducible across
engines, and cannot be oracle-checked.  The operators here hash a stable
key instead -- a row is kept iff ``md5(key)`` falls below a per-stratum
threshold -- which is the standard trick for reproducible holdout/mixture
sampling in training-data pipelines:

* the same row always samples the same way (reruns, backfills, other
  engines agree);
* rates are exact in expectation and independent of partitioning;
* the filter is a pure narrow predicate -- at 100 TB it pushes into the
  scan stage, no shuffle, no state.

Threshold comparison happens lexicographically on the hex digest (hex
chars are ASCII-ordered, so string order == numeric order) -- no 128-bit
arithmetic needed, and DuckDB/Trino/Spark all agree byte for byte.
"""

from __future__ import annotations

from typing import Dict, Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def rate_threshold(rate: float) -> str:
    """32-hex-char threshold t such that P[md5(key) < t] == rate (for
    uniformly distributed digests).  rate >= 1.0 keeps everything."""
    if rate >= 1.0:
        return "g" * 32  # greater than every hex digest
    if rate <= 0.0:
        return "0" * 32
    scaled = int(rate * (1 << 64))  # 16 hex chars of precision
    return format(scaled, "016x") + "0" * 16


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: Mapping[str, float],
    key: Column,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum s keeps ~rates[s] of its
    rows.  Strata missing from ``rates`` keep ``default_rate``."""
    thresh: Column = F.lit(rate_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thresh = F.when(
            F.col(stratum_col) == stratum, F.lit(rate_threshold(rate))
        ).otherwise(thresh)
    return df.filter(F.md5(key.cast("string")) < thresh)


def temperature_targets(
    df,
    domain_col: str,
    total_budget_expr: str = "n_total div 2",
    alpha_sqrt: bool = True,
):
    """Per-domain target sizes under temperature resampling
    (``target_d`` proportional to ``count_d^0.5``) -- the standard
    up-weighting of low-resource domains in multilingual / multi-source
    LLM training mixes: ``domain, c_d, w_fp, target_n``.

    Exactness: ``sqrt`` is IEEE-754 correctly rounded (unlike libm
    ``log``/``pow``), so ``w_fp = floor(sqrt(c_d) * 2^20)`` is the same
    BIGINT on every engine; all downstream arithmetic -- the weight sum,
    the budget split ``(budget * w_fp) div w_sum``, the ``c_d`` cap --
    is integer, so targets are bit-reproducible in any aggregation
    order.  The relation is domain-sized (tiny); the corpus never
    shuffles here.
    """
    import pyspark.sql.functions as F

    counts = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count("*").alias("c_d")
    )
    w = counts.withColumn(
        "w_fp",
        F.expr("CAST(floor(sqrt(CAST(c_d AS DOUBLE)) * 1048576) AS BIGINT)"),
    )
    tot = w.agg(
        F.sum("c_d").alias("n_total"), F.sum("w_fp").alias("w_sum")
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "domain",
        "c_d",
        "w_fp",
        F.expr(
            f"least((({total_budget_expr}) * w_fp) div w_sum, c_d)"
        ).alias("target_n"),
    )


def temperature_resample(df, domain_col: str, id_col: str):
    """Apply :func:`temperature_targets`: keep, per domain, the
    ``target_n`` rows with the smallest md5-of-id rank -- a
    deterministic, engine-portable uniform draw (same md5-order device
    as ``stratified_sample``, but quota-exact per domain rather than
    rate-based).  Output: ``domain, id, rk, c_d, target_n``.

    Scale note: the per-domain ranking is a window sort; for domains far
    larger than their quota, a production variant would pre-filter with
    an md5-threshold band (rate ~= target/c_d plus slack) before
    ranking, turning the sort into a top-n over a sliver.  The quota
    semantics are identical.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    targets = temperature_targets(df, domain_col)
    w = Window.partitionBy("domain").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id")
    )
    ranked = df.select(
        F.col(domain_col).alias("domain"), F.col(id_col).alias("id")
    ).withColumn("rk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(targets), "domain")
        .filter(F.col("rk") <= F.col("target_n"))
        .select("domain", "id", "rk", "c_d", "target_n")
        .orderBy("domain", "id")
    )


def hash_split(
    df: DataFrame,
    key: Column,
    fractions: Mapping[str, float] = None,
) -> DataFrame:
    """Deterministic train/val/test assignment: the md5 digest of the row
    key is compared against cumulative hex thresholds, so every row lands
    in exactly one named split, the same one on every rerun, backfill, or
    engine.  This is how holdout sets stay stable while a 100 TB corpus
    is re-curated: membership depends only on the key, never on
    partitioning, row order, or a seed.

    ``fractions`` maps split name -> fraction (must sum to <= 1; any
    remainder falls into the last split listed).  The assignment is a
    pure narrow projection -- no shuffle, scan-stage cost only.
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    names = list(fractions)
    digest = F.md5(key.cast("string"))
    expr = None
    cum = 0.0
    for name in names[:-1]:
        cum += fractions[name]
        cond = digest < F.lit(rate_threshold(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", split)


def weighted_bottom_k(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "wbk",
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows per group -- the
    integer form of priority sampling (Duffield, Lund & Thorup 2007):
    every row gets priority ``h div w`` where ``h`` is the first 13 hex
    digits of ``md5(salt || '|' || key)`` (52 uniform bits, exact
    BIGINT) and ``w`` its positive integer weight; the ``k`` SMALLEST
    priorities per group win, ties broken on the key.  Heavier rows
    draw proportionally smaller priorities, so inclusion probability
    rises with weight, yet membership is a pure function of the key --
    reruns, backfills, and other engines agree row for row (the same
    property the threshold samplers above have, extended to weights).

    Scale shape: one narrow projection computes priorities in the scan
    stage; the per-group top-k is a partitioned window (never global).
    Rows with non-positive weight are excluded.
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + "|"),
                           F.col(key_col).cast("string"))),
            1, 13,
        ),
        16, 10,
    ).cast("long")
    w = Window.partitionBy(group_col).orderBy("_pr", key_col)
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_h", h)
        # INTEGER division (not `/`, which is double division and can
        # round a 52-bit numerator); both operands positive
        .withColumn("_pr", F.expr(f"_h div {weight_col}"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("_h", "_pr")
    )
