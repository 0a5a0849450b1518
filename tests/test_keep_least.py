"""One survivor rule for every exact dedup: ``keep_least`` keeps the row
with the least order value per key, NULL order values last, and all NULL
keys as one group.  ``exact_dedup``, ``curate_documents``,
``curate_incremental``'s batch dedup and ``TrackingTable.append_new`` keep
the same survivor."""

from __future__ import annotations

import datetime as dt

from airflow_pipeline_text_processing_spark.operators.dedup import (
    exact_dedup,
    keep_least,
)
from airflow_pipeline_text_processing_spark.plans.curation import (
    curate_documents,
    curate_incremental,
)
from airflow_pipeline_text_processing_spark.sources.tracking import (
    TrackingTable,
)

# exact twins listed in scrambled doc_id order, plus three NULL texts
TWINS = [
    (9, "the river runs past the old mill"),
    (4, "a quiet morning in the hills"),
    (7, "the river runs past the old mill"),
    (12, None),
    (2, "the river runs past the old mill"),
    (11, "a quiet morning in the hills"),
    (5, None),
    (8, "one more lonely line of text"),
    (6, None),
]


def _min_doc_per_text(rows):
    """The expected survivors: min doc_id per text, NULL texts one group."""
    best: dict = {}
    for doc_id, text in rows:
        best[text] = min(doc_id, best.get(text, doc_id))
    return best


def test_dedup_call_sites_keep_the_same_survivor(spark):
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(TWINS, schema).repartition(3)
    want = _min_doc_per_text(TWINS)
    assert want == {
        "the river runs past the old mill": 2,
        "a quiet morning in the hills": 4,
        None: 5,
        "one more lonely line of text": 8,
    }

    got = {r.text: r.doc_id for r in exact_dedup(docs).collect()}
    assert got == want
    non_null = sorted(d for t, d in want.items() if t is not None)

    # a NULL text has no token, so a NULL quality: it fails every floor
    curated = curate_documents(docs, min_tokens=0, min_quality=-1.0)
    assert sorted(r.doc_id for r in curated.collect()) == non_null

    corpus = spark.createDataFrame(
        [(100, "zebras graze on the far savanna plain")], schema
    )
    evals = spark.createDataFrame(
        [(200, "quantum chromodynamics lecture notes")], schema
    )
    batch = curate_incremental(docs, corpus, evals, min_tokens=0)
    assert sorted(r.doc_id for r in batch.collect()) == non_null


def test_keep_least_sorts_null_order_last(spark):
    rows = spark.createDataFrame(
        [("k", None, 1), ("k", 3, 2), ("k", 2, 3), (None, 5, 4), (None, 4, 5),
         ("n", None, 6)],
        "key string, o long, tag long",
    )
    got = {r.key: r.tag for r in keep_least(rows, "key", "o").collect()}
    assert got == {"k": 3, None: 5, "n": 6}


def test_append_new_keeps_min_path_per_hash(spark, tmp_path):
    now = dt.datetime(2024, 1, 1)
    rows = [
        ("h1", "/in/c.txt", 1, now, "completed", None, None, now),
        ("h1", "/in/a.txt", 1, now, "completed", None, None, now),
        ("h2", None, 2, now, "completed", None, None, now),
        ("h1", "/in/b.txt", 1, now, "completed", None, None, now),
        ("h2", "/in/z.txt", 2, now, "completed", None, None, now),
    ]
    records = spark.createDataFrame(
        rows,
        "file_hash string, file_path string, file_size long, "
        "processed_at timestamp, status string, output_file string, "
        "error_message string, created_at timestamp",
    ).repartition(3)
    table = TrackingTable(spark, str(tmp_path / "tracking"))
    table.append_new(records)
    got = {r.file_hash: r.file_path for r in table.current().collect()}
    assert got == {"h1": "/in/a.txt", "h2": "/in/z.txt"}
    assert table.count() == 2
