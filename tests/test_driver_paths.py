"""The driver path of ``canonical_pick``, ``ordered_running_sum`` and
``curate_documents``: a result the planner would size within
``spark.sql.autoBroadcastJoinThreshold`` is read once to the driver
(``session.broadcast_sized``) and returned as a ``LocalRelation``.  Each
check runs at the session's threshold and with broadcast off (``-1``,
the distributed path), and both must give the same rows; an input over
the cap is computed once."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
from pyspark.sql import Window

from airflow_pipeline_text_processing_spark.operators.dedup import canonical_pick
from airflow_pipeline_text_processing_spark.operators.windows import (
    ordered_running_sum,
)
from airflow_pipeline_text_processing_spark.plans.curation import curate_documents
from airflow_pipeline_text_processing_spark.session import broadcast_sized

# the session's threshold (driver path), then broadcast off
THRESHOLDS = (None, -1)


def _on_both_paths(broadcast_threshold, build):
    """``build()``'s collected rows at each of ``THRESHOLDS``."""
    out = []
    for threshold in THRESHOLDS:
        if threshold is not None:
            broadcast_threshold(threshold)
        out.append([tuple(r) for r in build().collect()])
    return out


def _counted(spark, rows, schema):
    """``rows`` as a DataFrame whose every computation adds each row it
    produces to the returned accumulator."""
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def count(row):
        reads.add(1)
        return row

    return spark.createDataFrame(sc.parallelize(rows, 2).map(count), schema), reads


def test_broadcast_sized_cap_boundary(spark, broadcast_threshold):
    """80 bytes over a row of two longs (16 bytes) is a cap of 5 rows: 5
    rows come back as a table in the frame's order, 6 do not, and a
    threshold of -1 reads nothing."""
    schema = "a long, b long"
    five = spark.createDataFrame([(i, -i) for i in range(5)], schema)
    six = spark.createDataFrame([(i, -i) for i in range(6)], schema)
    broadcast_threshold(80)
    table = broadcast_sized(five.orderBy(F.col("a").desc()))
    assert table.column("a").to_pylist() == [4, 3, 2, 1, 0]
    assert broadcast_sized(six) is None
    broadcast_threshold(-1)
    assert broadcast_sized(five) is None


def test_ordered_running_sum_both_paths_match_naive_window(
    spark, broadcast_threshold
):
    """Random inputs, NULL values included, long and double values: the
    driver path and the two-level path both equal the naive
    single-partition window.  The doubles are eighths, so every partial
    sum is exact whatever the association."""
    for seed in range(3):
        rng = random.Random(300 + seed)
        rows = [
            (
                i,
                rng.choice([None, rng.randint(-50, 100)]),
                rng.randint(-800, 800) / 8,
                rng.randint(0, 4),
            )
            for i in range(rng.randint(1, 400))
        ]
        df = spark.createDataFrame(rows, "id long, v long, x double, k int")
        for value, order in (
            ("v", [F.col("k"), F.col("id").desc()]),
            ("x", [F.col("x").desc(), F.col("id")]),
        ):
            want = sorted(
                tuple(r)
                for r in df.withColumn(
                    "cum", F.sum(value).over(Window.orderBy(*order))
                ).collect()
            )
            for got in _on_both_paths(
                broadcast_threshold,
                lambda: ordered_running_sum(df, order, value, out_col="cum"),
            ):
                assert sorted(got) == want, (seed, value)


CURATE_TEXTS = [
    "the cat and the dog sat on the mat for a while in the sun",
    "der Hund und die Katze sind im Garten und der Baum ist gross",
    "le chat et le chien sont dans la maison avec les enfants",
    "中文文本",
    "",
    None,
    "of to is for the and of the thing that is to be done, done!",
]


def test_curate_documents_same_rows_on_both_paths(spark, broadcast_threshold):
    """With and without a token budget and a language allowlist, over
    exact copies, NULL, empty and CJK-only texts: the same rows in the
    same order on both paths."""
    rng = random.Random(5)
    sentences = [t for t in CURATE_TEXTS if t and t.isascii()]
    texts = [
        " ".join(rng.choice(sentences).split()[: rng.randint(3, 14)])
        for _ in range(40)
    ] + CURATE_TEXTS * 2
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for kwargs in (
        {},
        {"token_budget": 60},
        {"langs": ["en"]},
        {"langs": ["en", "de"], "token_budget": 40},
    ):
        driver, spread = _on_both_paths(
            broadcast_threshold,
            lambda: curate_documents(docs, min_tokens=3, min_quality=0.1, **kwargs),
        )
        assert driver == spread, kwargs
        assert driver, kwargs


def test_canonical_pick_over_cap_reads_input_once(spark, broadcast_threshold):
    """A pick result over the cap is computed once: the size probe
    materializes its checkpoint and the returned sort reads that.  80
    bytes over a pick row of five longs is a cap of 2 rows; the pair list
    (2 edges of 16 bytes) still takes the connected-components driver
    path."""
    rows = [
        (1, "the cat and the dog"),
        (2, "the cat and the dog again"),
        (3, "der Hund und die Katze"),
        (4, None),
        (5, "中文文本"),
        (6, "the cat and a dog"),
    ]
    schema = "doc_id long, text string"
    pairs = spark.createDataFrame([(1, 2), (2, 6)], "doc_a long, doc_b long")
    want = [
        tuple(r)
        for r in canonical_pick(spark.createDataFrame(rows, schema), pairs).collect()
    ]
    broadcast_threshold(80)
    docs, reads = _counted(spark, rows, schema)
    assert [tuple(r) for r in canonical_pick(docs, pairs).collect()] == want
    assert reads.value == len(rows)


def test_ordered_running_sum_over_cap_reads_input_once(spark, broadcast_threshold):
    """An input over the cap is computed once: the probe materializes the
    input checkpoint, and the range split and both branches read it."""
    rows = [(i, (i * 7) % 5) for i in range(8)]
    broadcast_threshold(80)  # cap: 5 rows of two longs
    df, reads = _counted(spark, rows, "id long, v long")
    got = sorted(
        (r.id, r.cum)
        for r in ordered_running_sum(df, [F.col("id")], "v", out_col="cum").collect()
    )
    run, want = 0, []
    for i, v in rows:
        run += v
        want.append((i, run))
    assert got == want
    assert reads.value == len(rows)
