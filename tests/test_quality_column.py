"""Document quality as one column expression: documents with no token
get a NULL quality instead of a DIVIDE_BY_ZERO under ANSI mode, and the
curation operators select quality in the projection they already run
rather than joining a quality table back onto their own documents."""

from __future__ import annotations

import os

from airflow_pipeline_text_processing_spark.operators.dedup import (
    canonical_pick,
    minhash_dedup_pairs,
)
from airflow_pipeline_text_processing_spark.operators.text import (
    quality_score,
    token_stats,
)
from airflow_pipeline_text_processing_spark.plans.curation import (
    curate_documents,
    domain_cap,
    token_budget_select,
)

ZERO_TOKEN_DOCS = [
    (1, "the cat and the dog is for the win " * 5),
    (2, "中文文本"),
    (3, ""),
    (4, "中文文本 "),
]


def test_zero_token_docs_have_null_quality_and_do_not_raise(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = spark.createDataFrame(ZERO_TOKEN_DOCS, "doc_id long, text string")

    quality = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    assert quality[1] is not None
    assert [quality[d] for d in (2, 3, 4)] == [None, None, None]
    avg_len = {r.doc_id: r.avg_token_len for r in token_stats(docs).collect()}
    assert [avg_len[d] for d in (2, 3, 4)] == [None, None, None]

    # the zero-token docs share the shingle "" and pair at Jaccard 1.0;
    # their NULL quality ranks last, so the min doc_id survives
    picked = [
        tuple(r)
        for r in canonical_pick(docs, minhash_dedup_pairs(docs)).collect()
    ]
    assert picked == [
        (1, 1, 1, 328888, 1),
        (2, 2, 3, None, 1),
        (3, 2, 3, None, 0),
        (4, 2, 3, None, 0),
    ]

    # a NULL quality fails every quality floor
    kept = curate_documents(docs, min_tokens=0, min_quality=-1.0).collect()
    assert [r.doc_id for r in kept] == [1]


def _final_plan(df) -> str:
    """The adaptive plan that ran, without its initial-plan section."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_domain_cap_and_token_budget_scan_documents_once(spark, sf_dir):
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    docs = spark.read.parquet(os.path.join(sf001, "documents.parquet"))
    for out in (
        domain_cap(docs, per_source=3),
        token_budget_select(docs, budget_per_source=500),
    ):
        plan = _final_plan(out)
        assert plan.count("FileScan") == 1, plan
        assert "Join" not in plan, plan
