"""Explicit skew-mitigation operators: salted aggregation and salted join.

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on in
`session.get_spark`) handles sort-merge join skew at runtime, but two
shapes still need explicit salting at 100 TB:

* **hot-key aggregation** -- a groupBy where one key holds a large share
  of all rows sends that share through a single reducer.  Salting splits
  the key across ``num_salts`` reducers for a partial aggregate, then
  combines the (tiny) partials.  Spark's map-side partial aggregation
  already does this per input partition; explicit salting matters for
  high-cardinality-payload aggs (e.g. collect_list / distinct-style) where
  map-side combine can't shrink the hot key's stream.
* **hot-key equi-join** -- one hot key makes one shuffle task giant.
  Salting the fact side and replicating the (small) build side across the
  salt space turns the hot key into ``num_salts`` evenly-sized tasks.

Both are pure plan rewrites: results are proven equal to the unsalted
forms in tests/test_skew.py.
"""

from __future__ import annotations

from typing import Dict, Sequence, Tuple

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# combinable (algebraic) aggregates: how partials merge in the final phase
_COMBINE = {
    "sum": F.sum,
    "count": F.sum,  # counts combine by summing partial counts
    "min": F.min,
    "max": F.max,
}


def _salt(df: DataFrame, keys: Sequence[str], num_salts: int) -> Column:
    """Salt in ``[0, num_salts)``: a deterministic hash of every non-key
    column, so one key's rows spread evenly over the salt space."""
    non_keys = [c for c in df.columns if c not in keys]
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in non_keys] or [F.lit(0)]), F.lit(num_salts)
    )


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    specs: Dict[str, Tuple[str, str]],
    num_salts: int = 32,
) -> DataFrame:
    """Two-phase (salted) aggregation: ``specs`` maps output column ->
    (input column, agg) with agg in {sum, count, min, max} -- the
    algebraic aggregates whose partials combine losslessly.

    A deterministic hash of every non-key column spreads each key's rows
    across ``num_salts`` partial groups; the final
    combine touches ``num_salts`` rows per key regardless of how hot the
    key is.  avg is deliberately absent: express it as sum/count and
    divide after the final phase.
    """
    keys = list(keys)
    for agg in (a for _c, a in specs.values()):
        if agg not in _COMBINE:
            raise ValueError(f"non-combinable aggregate: {agg}")
    salted = df.withColumn("_salt", _salt(df, keys, num_salts))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            (F.count(col) if agg == "count" else getattr(F, agg)(col)).alias(out)
            for out, (col, agg) in specs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _COMBINE[agg](out).alias(out)
            for out, (_col, agg) in specs.items()
        ]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    num_salts: int = 32,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (large, possibly skewed) ``fact`` side
    deterministically and replicate the (small) ``dim`` side across all
    ``num_salts`` salt values, so a hot key spreads over ``num_salts``
    shuffle tasks instead of one.

    Exact for ``inner`` and ``left`` joins: every fact row carries exactly
    one salt and meets the full dim content for its key.  ``dim`` grows
    ``num_salts``-fold -- keep it the smaller side (if it also fits a
    broadcast, prefer ``F.broadcast``; salting is for the in-between case
    where dim is too big to broadcast but far smaller than fact).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got: {how}")
    keys = list(keys)
    f = fact.withColumn("_salt", _salt(fact, keys, num_salts))
    d = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<long>")),
    )
    return f.join(d, keys + ["_salt"], how).drop("_salt")
