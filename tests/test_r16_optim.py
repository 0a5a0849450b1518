"""Round-16 optimization pins.

Each test guards an operator rewrite that changed internals while
keeping results bit-identical:

* ``lm.char_trigrams`` -- one codegen'd ``regexp_extract_all`` replaced
  the interpreted HOF pipeline (r12 form).  The pin replays the OLD
  formulation (transform/filter/sequence/substring) next to the new one
  over adversarial inputs: supplementary-plane characters (the bare
  zero-width lookahead splits surrogate pairs -- the consuming-dot
  pattern must not), Unicode line separators (``(?s)`` required), null
  text (must stay the empty array, not null), and short strings.
* ``text.tokens`` -- ``regexp_extract_all('[a-z0-9]+')`` replaced
  split-on-complement + drop-empties; the pin replays the old split
  form on the same adversarial set.
* ``dedup._star_round`` -- one parameterized ``spark.sql`` text
  replaced the ~35-py4j-call DataFrame chain; the pin replays the old
  DataFrame formulation (and the unfused ``_small_star(_large_star())``
  reference) over adversarial graphs, and checks the loop end to end via
  ``connected_components``: it stops at the first round whose output is
  a star forest, and its labels match a pure-Python union-find.
* ``dedup.connected_components``'s driver path -- an edge list within the
  broadcast threshold is labeled by a union-find on the driver in one
  Spark job; the pins check the job count, the path boundary (sized by
  the id types), a single read of an over-cap input, edge cases against
  the star path, and union-find agreement on both paths.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from airflow_pipeline_text_processing_spark.operators.lm import char_trigrams
from airflow_pipeline_text_processing_spark.operators.text import tokens


def _old_char_trigrams(col):
    """The r12 HOF formulation, verbatim (the semantics being pinned)."""
    s = F.regexp_replace(F.lower(col), r"\s+", " ")
    return F.transform(
        F.array(s),
        lambda sv: F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(sv) - 2, F.lit(1))),
                lambda i: F.substring(sv, i, 3),
            ),
            lambda g: F.length(g) == 3,
        ),
    )[0]


def _old_tokens(col):
    """The pre-r16 split + filter formulation, verbatim."""
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


ADVERSARIAL = [
    None,
    "",
    " ",
    "ab",
    "abc",
    "abcd",
    "a  b\t\nc d",
    "tab\tand\x0bvt\x0cff\rcr mix",
    "héllo wörld straße",
    "ÉΣΩ aBc MiXeD",
    " nbsp padded ",
    "line sep andnel",  # line separators: (?s) territory
    "emoji \U0001F600\U0001F601 pair",  # surrogate pairs in UTF-16
    "\U0001F600\U0001F601\U0001F602",  # supplementary-only text
    "a\U0001F600b\U0001F601c",  # BMP/astral interleave
    "ligature ﬁle İstanbul ı",
    "digits 12345 mixed a1b2c3",
    "  leading and trailing  ",
    "!!!only---separators???",
]


@pytest.mark.parametrize("fn_new,fn_old", [
    (char_trigrams, _old_char_trigrams),
    (tokens, _old_tokens),
], ids=["char_trigrams", "tokens"])
def test_regexp_rewrites_match_old_formulations(spark, fn_new, fn_old):
    df = spark.createDataFrame([(s,) for s in ADVERSARIAL], "text string")
    rows = df.select(
        "text", fn_old(F.col("text")).alias("a"), fn_new(F.col("text")).alias("b")
    ).collect()
    for r in rows:
        assert r.a == r.b, (
            f"rewrite diverges on {r.text!r}: old={r.a!r} new={r.b!r}"
        )
    # the fixture exercises the regimes the rewrite could break:
    # non-empty output exists, and the null row yields [] for trigrams
    by_text = {r.text: r for r in rows}
    assert by_text[None].b is not None or fn_new is tokens  # trigrams: []
    assert any(r.b for r in rows)


def _old_star_round(edges):
    """The pre-r16 DataFrame-API star round, verbatim."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        _small_star,
    )

    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mnv"))
        .select("u", F.least("u", "mnv").alias("mn"))
    )
    large = (
        sym.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    return _small_star(large)


# graphs that exercise every star-round regime: chains (diameter),
# stars already converged, two components, self-contained triangles,
# duplicate/reversed edges, a long path, and a hub
_GRAPHS = [
    [],
    [(1, 2)],
    [(2, 1)],
    [(1, 2), (2, 3)],
    [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7)],
    [(10, 20), (30, 40)],
    [(1, 2), (2, 3), (1, 3)],
    [(5, 1), (5, 2), (5, 3), (5, 4)],
    [(1, 2), (2, 1), (1, 2)],
    [(7, 3), (3, 9), (9, 2), (2, 8), (100, 50), (50, 60)],
]


def test_star_round_sql_matches_dataframe_formulation(spark):
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        _large_star,
        _small_star,
        _star_round,
    )

    for g in _GRAPHS:
        edges = spark.createDataFrame(
            g or [(0, 0)], "u long, v long"
        ).filter(F.lit(bool(g)))
        new = sorted(map(tuple, _star_round(edges).collect()))
        old = sorted(map(tuple, _old_star_round(edges).collect()))
        ref = sorted(map(tuple, _small_star(_large_star(edges)).collect()))
        assert new == old == ref, f"star round diverges on {g}: {new} vs {old}"


def _count_star_rounds(monkeypatch):
    from airflow_pipeline_text_processing_spark.operators import dedup

    rounds = []
    star_round = dedup._star_round
    monkeypatch.setattr(
        dedup, "_star_round", lambda e: rounds.append(1) or star_round(e)
    )
    return rounds


def _labels(df):
    return sorted((r.doc_id, r.cluster_id) for r in df.collect())


def test_connected_components_folded_fingerprint_loop(
    spark, monkeypatch, broadcast_threshold
):
    from airflow_pipeline_text_processing_spark.operators import dedup

    # broadcast off: every graph below takes the star rounds being counted
    broadcast_threshold(-1)
    rounds = _count_star_rounds(monkeypatch)

    # chain: one component rooted at the minimum
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}

    # a 12-node chain closes in 4 star rounds: the loop stops at the
    # first star forest instead of re-deriving it in a 5th round
    rounds.clear()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(chain).collect()
    assert {r.cluster_id for r in got} == {1} and len(got) == 12
    assert len(rounds) == 4

    # already-converged star input: the first round's output is already
    # a star forest, so one round ends the loop
    rounds.clear()
    star = spark.createDataFrame([(2, 1), (3, 1)], "doc_a long, doc_b long")
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup.connected_components(star).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1)}
    assert len(rounds) == 1

    # empty edge set: an empty round output is a (trivial) star forest
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.connected_components(empty).count() == 0


def _union_find_labels(edges):
    """Minimum node id per component, for every node on a non-loop edge."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


@pytest.mark.parametrize("seed", range(1, 6))
def test_connected_components_matches_union_find(spark, seed, broadcast_threshold):
    import random

    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    # 300 nodes, 250 edges: 230 random, 10 self-loops, 10 reversed copies
    rng = random.Random(seed)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(230)]
    edges += [(a, a) for a in rng.sample(range(300), 10)]
    edges += [(b, a) for a, b in rng.sample(edges[:230], 10)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = sorted(_union_find_labels(edges).items())
    # the session's threshold (driver path), then broadcast off (star path)
    for threshold in (None, -1):
        if threshold is not None:
            broadcast_threshold(threshold)
        got = [
            (r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()
        ]
        assert sorted(got) == want, threshold


def test_connected_components_driver_path_runs_one_spark_job(spark, monkeypatch):
    """An edge list under the broadcast threshold is read to the driver by
    one job and labeled there: no star round, and the Arrow-built result
    is a LocalRelation whose collect runs no further job."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    rounds = _count_star_rounds(monkeypatch)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(20, 21)], "doc_a long, doc_b long"
    )
    sc = spark.sparkContext
    group = f"cc-driver-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        got = _labels(connected_components(pairs))
    finally:
        sc.setJobGroup("", "")
    assert got == [(i, 1) for i in range(1, 13)] + [(20, 20), (21, 20)]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert rounds == []


def test_connected_components_path_boundary(spark, monkeypatch, broadcast_threshold):
    """A threshold of 80 bytes makes the driver cap 80 // 16 = 5 edges of
    long ids: a 5-edge graph takes the driver path, the same graph plus a
    reversed duplicate edge (6 edges) the star rounds, and both label
    alike.  A string id pair is sized at the planner's 2 x 20 bytes, so
    the cap is 80 // 40 = 2 string edges: 3 string edges, within the long
    cap, take the star rounds."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    rounds = _count_star_rounds(monkeypatch)
    broadcast_threshold(80)
    five = [(1, 2), (2, 3), (3, 4), (7, 8), (9, 8)]
    want = [(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7), (9, 7)]
    schema = "doc_a long, doc_b long"
    assert _labels(connected_components(spark.createDataFrame(five, schema))) == want
    assert rounds == []
    six = five + [(2, 1)]
    assert _labels(connected_components(spark.createDataFrame(six, schema))) == want
    assert len(rounds) >= 1

    rounds.clear()
    strings = [("b", "a"), ("c", "b")]
    schema = "doc_a string, doc_b string"
    want = [("a", "a"), ("b", "a"), ("c", "a")]
    assert _labels(connected_components(spark.createDataFrame(strings, schema))) == want
    assert rounds == []
    strings += [("x", "y")]
    want += [("x", "x"), ("y", "x")]
    assert _labels(connected_components(spark.createDataFrame(strings, schema))) == want
    assert len(rounds) >= 1


def test_connected_components_over_cap_reads_input_once(
    spark, monkeypatch, broadcast_threshold
):
    """An edge list over the cap is read once: the driver-path read
    materializes the edge checkpoint, and the star rounds start from it
    instead of computing the input again.  An accumulator counts the rows
    the input produces."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    rounds = _count_star_rounds(monkeypatch)
    broadcast_threshold(80)  # cap: 5 edges of long ids
    edges = [(1, 2), (2, 3), (3, 4), (7, 8), (9, 8), (2, 1)]
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def count(row):
        reads.add(1)
        return row

    pairs = spark.createDataFrame(
        sc.parallelize(edges, 2).map(count), "doc_a long, doc_b long"
    )
    got = _labels(connected_components(pairs))
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7), (9, 7)]
    assert len(rounds) >= 1
    assert reads.value == len(edges)


@pytest.mark.parametrize(
    "edges, schema, want",
    [
        # NULL ids: a pair with a NULL end is no edge
        (
            [(1, None), (None, 2), (None, None), (3, 4), (4, 5)],
            "doc_a long, doc_b long",
            [(3, 3), (4, 3), (5, 3)],
        ),
        # string ids: the label is the smallest id in Spark's string order
        (
            [("b", "a"), ("c", "b"), ("é", "z"), ("Z", "z")],
            "doc_a string, doc_b string",
            [("Z", "Z"), ("a", "a"), ("b", "a"), ("c", "a"), ("z", "Z"), ("é", "Z")],
        ),
        # self-loops: a node on a self-loop alone is in no component
        (
            [(1, 1), (2, 2), (2, 3), (3, 3)],
            "doc_a long, doc_b long",
            [(2, 2), (3, 2)],
        ),
        # reversed duplicate edges label each node once
        (
            [(5, 6), (6, 5), (5, 6), (7, 6), (6, 7)],
            "doc_a int, doc_b int",
            [(5, 5), (6, 5), (7, 5)],
        ),
        # empty edge set
        ([], "doc_a long, doc_b long", []),
    ],
    ids=["null_ids", "string_ids", "self_loops", "reversed_duplicates", "empty"],
)
def test_connected_components_driver_path_cases(
    spark, monkeypatch, broadcast_threshold, edges, schema, want
):
    """Driver-path edge cases, each checked against the star path too."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    rounds = _count_star_rounds(monkeypatch)
    pairs = spark.createDataFrame(edges, schema)
    driver = connected_components(pairs)
    assert rounds == []
    assert driver.schema == spark.createDataFrame([], schema).toDF(
        "doc_id", "cluster_id"
    ).schema
    assert _labels(driver) == want
    broadcast_threshold(-1)
    assert _labels(connected_components(pairs)) == want
    assert rounds


def test_assign_top_cells_literal_path_matches_collect_path(spark):
    """r16: callers thread the driver-held centroid literal into
    assign_top_cells (skipping one collect action per assignment pass);
    the literal path must produce the identical memberships, including
    ties (stable argsort -> smaller cid) and r > k clamping."""
    from airflow_pipeline_text_processing_spark.operators.clustering import (
        assign_top_cells,
        kmeans_fixed_point,
    )

    vecs = spark.createDataFrame(
        [(i, [(i * 7) % 13, (i * 3) % 5, i % 2, 10 - (i % 11)])
         for i in range(40)],
        "vec_id long, q array<bigint>",
    )
    _, cents, lit = kmeans_fixed_point(vecs, k=4, iters=2, return_lit=True)
    for r in (1, 2, 99):  # plain, spill, r > k clamp
        via_collect = sorted(
            map(tuple, assign_top_cells(vecs, cents, r).collect())
        )
        via_lit = sorted(
            map(tuple, assign_top_cells(vecs, None, r, cents_lit=lit).collect())
        )
        assert via_collect == via_lit
    # two-tuple call form unchanged for existing callers
    assigned, cents2 = kmeans_fixed_point(vecs, k=4, iters=2)
    assert sorted(map(tuple, cents2.collect())) == sorted(
        map(tuple, cents.collect())
    )


def test_kth_smallest_multi_matches_single_rank_walks(spark):
    """r16: _kth_smallest_multi shares one histogram action per round
    across ranks; each rank's narrowing walk must be identical to the
    single-rank reference on tie-heavy, skewed, and narrow-range data."""
    from airflow_pipeline_text_processing_spark.plans.queries_scale import (
        _kth_smallest,
        _kth_smallest_multi,
    )

    datasets = [
        # heavy ties: one value owns most of the mass
        [5] * 9000 + list(range(100000, 101000)),
        # uniform wide range (forces several narrowing rounds)
        [i * 104729 % 100000007 for i in range(20000)],
        # narrow range below the cap (no histogram rounds at all)
        [i % 37 for i in range(5000)],
        # two far-apart clumps (empty middle buckets)
        [7] * 4000 + [10**9 + i for i in range(4000)],
    ]
    for data in datasets:
        df = spark.createDataFrame([(v,) for v in data], "v long")
        cents = df.localCheckpoint()
        n, lo, hi = len(data), min(data), max(data)
        ks = [(q, (n * q + 99) // 100) for q in (25, 50, 75)]
        multi = _kth_smallest_multi(cents, ks, lo, hi)
        data_sorted = sorted(data)
        for q, k in ks:
            single = _kth_smallest(cents, k, lo, hi)
            assert multi[q] == single == data_sorted[k - 1], (
                f"q={q} k={k}: multi={multi[q]} single={single} "
                f"true={data_sorted[k - 1]}"
            )
