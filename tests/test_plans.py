"""Physical-plan audits: the scale properties SURVEY.md §4 promises.

Correctness tests prove the answers right; these prove the PLANS right --
predicate pushdown reaches the parquet scan, small dimensions broadcast,
the codec hot path never shuffles, and hot expressions stay inside
whole-stage codegen.  A regression here is a 100 TB performance bug even
when every value still matches the oracle.
"""

from __future__ import annotations

import contextlib
import io
import os

import pyspark.sql.functions as F

from airflow_pipeline_text_processing_spark.plans.pipeline import encode_documents
from airflow_pipeline_text_processing_spark.plans.queries import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_nation_volume,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(q1_pricing_summary(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruning: untouched columns never leave the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1].splitlines()[0]
    # scan+filter+partial-agg fuse into whole-stage codegen
    assert "WholeStageCodegen" in plan_of(
        q1_pricing_summary(spark, SF_DIR), mode="codegen"
    )


def test_q3_broadcasts_the_dimension(spark):
    plan = plan_of(q3_shipping_priority(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the filtered customer dimension is the build side
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_q5_broadcasts_every_dimension(spark):
    plan = plan_of(q5_nation_volume(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region


def test_encode_pipeline_is_shuffle_free(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        F.col("text"),
        F.md5(F.encode("text", "UTF-8")).alias("file_hash"),
    )
    plan = plan_of(encode_documents(docs), mode="simple")
    assert "Exchange" not in plan, (
        "the chunk/encode/validate/reassemble hot path must stay narrow"
    )


def test_window_topk_single_shuffle(spark):
    from airflow_pipeline_text_processing_spark.plans.queries import (
        window_top_orders_per_customer,
    )

    plan = plan_of(window_top_orders_per_customer(spark, SF_DIR), mode="simple")
    # one hash-partitioned exchange for the window; the final orderBy may
    # add a range exchange -- anything more means a redundant reshuffle
    assert plan.count("hashpartitioning") <= 1


def test_asof_join_is_single_shuffle(spark):
    """The merge-scan as-of join must cost exactly one hash exchange (the
    per-key window); no joins, no nested loops, at any input size."""
    from airflow_pipeline_text_processing_spark.operators.joins import asof_join

    from airflow_pipeline_text_processing_spark.plans.queries import _t

    ev = _t(spark, SF_DIR, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        left, right, ["user_id"], "ts", "ts", payload=["event_id"], prefix="m_"
    )
    plan = plan_of(out, mode="simple")
    assert "Join" not in plan  # no pairwise join at all
    assert plan.count("Exchange hashpartitioning") == 1


def test_pivot_broadcasts_dim_and_single_agg_shuffle(spark):
    """Pivot with explicit values: dimension broadcast, one hash exchange
    for the pivoted aggregation (no extra distinct-discovery scan)."""
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        pivot_segment_year,
    )

    plan = plan_of(pivot_segment_year(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in plan
    # two-level pivot agg: (year, segment) pre-agg then pivotfirst per year
    # -- both exchanges fed by partial aggregates (map-side combined)
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_pivotfirst" in plan and "partial_count" in plan


def test_correlated_subquery_decorrelates_to_joins(spark):
    """Catalyst must rewrite the correlated scalar subquery + EXISTS into
    aggregate+join form -- a per-row subquery execution would be a
    nested-loop at 100 TB."""
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        sql_correlated_above_avg,
    )

    plan = plan_of(sql_correlated_above_avg(spark, SF_DIR), mode="simple")
    assert "Join" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_candidate_assignment_is_narrow(spark):
    """IVF cell assignment must not shuffle the candidate set: centroids
    ride a single-row broadcast; the only exchanges allowed are for the
    final per-query top-k window and the probe join."""
    from airflow_pipeline_text_processing_spark.operators.similarity import (
        ivf_topk,
        with_ivf_cell,
        ivf_centroids,
    )

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = ivf_centroids(vecs, 4)
    assigned = with_ivf_cell(
        vecs.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("cvec")),
        "cvec",
        cents,
    )
    plan = plan_of(assigned, mode="simple")
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_sessionize_single_shuffle(spark):
    """Sessionization (lag -> running sum -> per-session counts -> per-user
    rollup) must reuse ONE user_id exchange across all window stages --
    subset partitioning satisfies ClusteredDistribution, so the
    (user, session) window and the per-user maxima only add sorts."""
    from airflow_pipeline_text_processing_spark.plans.queries import (
        events_sessionize,
    )

    plan = plan_of(events_sessionize(spark, SF_DIR), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_signatures_single_shuffle(spark):
    """The 16 permutation minima of a document are folds over its own
    shingle array, on its own row: the signature plan holds no exchange at
    all -- neither the 16x shuffle of the perm-exploded form nor the 1x
    shuffle of a groupBy over exploded shingles -- never explodes the
    document into per-shingle rows, and tokenizes each document once."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    sigs = minhash_signatures(docs, num_perm=16)
    plan = plan_of(sigs, mode="simple")
    assert "Exchange" not in plan
    # the one generator is the (doc, perm, minhash) unpivot of the
    # signature array: no row per shingle exists
    assert plan.count("Generate ") == 1
    assert "Generate posexplode(array(aggregate(" in plan
    # word_shingles' inlining trap: the tokenizer must run once per
    # document, not once per shingle, permutation or pushed-down filter
    optimized = sigs._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("regexp_extract_all") == 1


# Spark jobs of one minhash_dedup_pairs(...).localCheckpoint() on a small
# corpus: the band self-join's two scan stages, its distinct, the two
# verification joins and the orderBy's sample, shuffle and checkpoint write
MINHASH_PAIRS_JOBS = 8


def test_minhash_dedup_pairs_spark_job_count(spark):
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    texts = [base, base + " again", "entirely other words in one more line",
             base.replace("lazy", "sleepy"), "", None, "one"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sc = spark.sparkContext
    group = f"minhash-shape-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        pairs = minhash_dedup_pairs(docs).localCheckpoint()
    finally:
        sc.setJobGroup("", "")
    assert [(r.doc_a, r.doc_b) for r in pairs.collect()] == [(0, 1), (0, 3)]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= MINHASH_PAIRS_JOBS, len(jobs)


# Spark jobs of one connected_components(...).collect() on a small graph
# with duplicate, reversed and self-loop pairs: the edge list fits the
# session's broadcast threshold, so one job reads it to the driver, and
# collecting the Arrow-built labels (a LocalRelation) runs none
CC_JOBS = 2


def test_connected_components_spark_job_count(spark):
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 1), (1, 2), (3, 3), (5, 6), (6, 7), (7, 8), (10, 11)],
        "doc_a long, doc_b long",
    )
    sc = spark.sparkContext
    group = f"cc-shape-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        rows = connected_components(pairs).collect()
    finally:
        sc.setJobGroup("", "")
    assert sorted((r.doc_id, r.cluster_id) for r in rows) == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5), (8, 5), (10, 10), (11, 10)
    ]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= CC_JOBS, len(jobs)


# the same graph and call with broadcast off, so it takes the star rounds
# and their star-forest tests, with no shuffle of its own to dedup the
# input (the first star round ends in DISTINCT)
CC_STAR_JOBS = 20


def test_connected_components_star_path_spark_job_count(spark, broadcast_threshold):
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        connected_components,
    )

    broadcast_threshold(-1)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 1), (1, 2), (3, 3), (5, 6), (6, 7), (7, 8), (10, 11)],
        "doc_a long, doc_b long",
    )
    sc = spark.sparkContext
    group = f"cc-star-shape-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        rows = connected_components(pairs).collect()
    finally:
        sc.setJobGroup("", "")
    assert sorted((r.doc_id, r.cluster_id) for r in rows) == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 5), (8, 5), (10, 10), (11, 10)
    ]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= CC_STAR_JOBS, len(jobs)


def test_curate_documents_runs_each_marker_filter_once(
    spark, monkeypatch, broadcast_threshold
):
    """The language-marker hits are staged in their own columns before the
    argmax, so each marker list's filter is in the optimized plan once --
    not once in ``greatest`` and again in every ``when`` branch.  The
    lineage cut is patched out and broadcast is off, so the running sum
    takes its distributed path and the plan shows the analytics select
    (within the threshold they run in the size probe, and the plan reads
    a ``LocalRelation``)."""
    from airflow_pipeline_text_processing_spark.operators.text import LANG_MARKERS
    from airflow_pipeline_text_processing_spark.plans.curation import (
        curate_documents,
    )

    docs = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der Hund und die Katze")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(
        type(docs), "localCheckpoint", lambda self, eager=True: self
    )
    broadcast_threshold(-1)
    plan = curate_documents(docs)._jdf.queryExecution().optimizedPlan().toString()
    for lang, markers in LANG_MARKERS.items():
        assert plan.count(f"IN ({','.join(markers)})") == 1, lang


def test_kept_docs_join_broadcasts_the_pick(spark, tmp_path):
    """Within the broadcast threshold ``canonical_pick`` returns a
    ``LocalRelation`` with exact statistics, so joining the documents to
    its kept ids broadcasts the pick and streams the documents in their
    own partitions (a join's product-sized estimate would otherwise
    broadcast the documents and run the curation on one task)."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        canonical_pick,
    )

    texts = [f"document {i} " + "lorem ipsum dolor sit amet " * 40 for i in range(40)]
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "doc_a long, doc_b long")
    pick = canonical_pick(docs, pairs)
    kept = docs.join(pick.filter("is_kept = 1").select("doc_id"), "doc_id")
    plan = plan_of(kept, mode="simple")
    joins = [line for line in plan.splitlines() if "BroadcastHashJoin" in line]
    assert len(joins) == 1 and "BuildRight" in joins[0], plan
    assert kept.count() == 37


# Spark jobs of the curate flow on a small corpus: minhash_dedup_pairs
# (checkpointed), canonical_pick, and curate_documents over the kept
# documents, collected.  The pick and the ranked rows are read to the
# driver within the broadcast threshold; it was 25 jobs while the pick
# was planned at the product of its join's inputs and every running sum
# took the two-level path
CURATE_FLOW_JOBS = 16


def test_curate_flow_spark_job_count(spark):
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        canonical_pick,
        minhash_dedup_pairs,
    )
    from airflow_pipeline_text_processing_spark.plans.curation import (
        curate_documents,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    texts = [base, base + " again", "entirely other words in one more line",
             base.replace("lazy", "sleepy"), "", None, "one"] * 3
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    sc = spark.sparkContext
    group = f"curate-flow-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        pairs = minhash_dedup_pairs(docs).localCheckpoint()
        pick = canonical_pick(docs, pairs)
        kept = docs.join(pick.filter("is_kept = 1").select("doc_id"), "doc_id")
        rows = curate_documents(kept, min_tokens=1, min_quality=0.0).collect()
    finally:
        sc.setJobGroup("", "")
    assert [r.doc_id for r in rows] == [2, 0, 6]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= CURATE_FLOW_JOBS, len(jobs)


def test_range_join_is_equi_not_cartesian(spark):
    """The bucketed range join must compile to an equi-join on
    (key, bucket) -- never a nested-loop/cartesian theta join."""
    from airflow_pipeline_text_processing_spark.operators.joins import (
        range_join_bucketed,
    )

    from airflow_pipeline_text_processing_spark.plans.queries import _t

    ev = _t(spark, SF_DIR, "events")
    left = ev.select("event_id", "ts", "user_id")
    right = ev.select(
        "user_id", F.col("ts").alias("o_ts"), F.col("event_id").alias("o_id")
    )
    plan = plan_of(
        range_join_bucketed(left, right, ["user_id"], "ts", "o_ts", 0, 600),
        mode="simple",
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_curate_and_pack_removes_copies_and_contamination(spark, sf_dir):
    import pyspark.sql.functions as FF

    from airflow_pipeline_text_processing_spark.plans.curation import (
        curate_and_pack,
    )
    from airflow_pipeline_text_processing_spark.plans.queries import _t

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.filter((FF.col("doc_id") >= 100) & (FF.col("doc_id") < 120))
    train = (
        docs.filter(FF.col("doc_id") < 100)
        # verbatim copies -> must die in exact dedup
        .unionAll(
            docs.filter(FF.col("doc_id") < 10).select(
                (FF.col("doc_id") + 200000).alias("doc_id"), "text"
            )
        )
        # eval twins -> must die in decontamination
        .unionAll(
            eval_docs.select((FF.col("doc_id") + 100000).alias("doc_id"), "text")
        )
    )
    out = curate_and_pack(train, eval_docs, min_tokens=1, pack_budget=100)
    ids = [r.doc_id for r in out.collect()]
    assert ids == sorted(ids)
    assert not any(i >= 100000 for i in ids)  # no copy, no twin survives
    assert len(ids) > 50  # the base corpus itself survives


def test_quantize_is_narrow(spark):
    """int8 quantization is a pure per-row map: no shuffle at any scale."""
    from airflow_pipeline_text_processing_spark.operators.similarity import (
        quantize_int8,
    )

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = plan_of(quantize_int8(vecs), mode="simple")
    assert "Exchange" not in plan


def test_pii_scrub_is_narrow(spark):
    from airflow_pipeline_text_processing_spark.operators.text import pii_scrub

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(pii_scrub(docs), mode="simple")
    assert "Exchange" not in plan


def test_kmv_bounded_shuffles(spark):
    """KMV: hashing + per-partition k-minima are narrow (mapInPandas, no
    exchange below it); only the bounded merge relation shuffles -- the
    (g,h) dedup and the group re-key, two hash exchanges, no global sort."""
    from airflow_pipeline_text_processing_spark.operators.sketches import (
        kmv_distinct,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = plan_of(kmv_distinct(ev, "event_type", "user_id", k=32), mode="simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in plan


def test_kmv_partial_state_is_bounded(spark):
    """The 100 TB property (r2 verdict item 2): what reaches the KMV merge
    shuffle is at most partitions x groups x k rows, independent of the
    distinct-value count -- here 100k distinct values collapse to <= 8*2*16
    pre-shuffle rows, and the sketch still equals the one computed from the
    unbounded formulation."""
    import pyspark.sql.functions as FF
    from airflow_pipeline_text_processing_spark.operators.sketches import (
        _partition_kmv_minima,
        kmv_distinct,
    )

    n, k, parts = 100_000, 16, 8
    df = (
        spark.range(n)
        .repartition(parts)
        .select(
            (FF.col("id") % 2).cast("string").alias("grp"),
            FF.col("id").alias("v"),
        )
    )
    partial = _partition_kmv_minima(df, "grp", "v", k)
    assert partial.count() <= parts * 2 * k
    # global k-minima of per-partition k-minima == global k-minima
    got = {r.grp: r for r in kmv_distinct(df, "grp", "v", k=k).collect()}
    import hashlib

    for g in ("0", "1"):
        hashes = sorted(
            hashlib.md5(str(v).encode()).hexdigest()
            for v in range(n)
            if v % 2 == int(g)
        )[:k]
        assert got[g].kth_hash == hashes[-1][:13]
        assert got[g].n_in_sketch == k


def test_pack_sequences_reads_one_range_split(spark, broadcast_threshold):
    """The two-level prefix sum must scan/shuffle the corpus once: the
    per-partition branch and the totals branch both read one materialized
    range split (two range exchanges sample apart and can cut the order
    at different rows), and no single-partition window forms.  Broadcast
    is off, so the prefix sum takes its distributed path."""
    import re

    from airflow_pipeline_text_processing_spark.operators.text import (
        pack_sequences,
    )

    broadcast_threshold(-1)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = pack_sequences(docs, budget=500)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # both branches scan the checkpointed split, partition ids included
    assert len(re.findall(r"Scan ExistingRDD\[[^\]]*_pid#", final)) == 2
    # the one range exchange left sorts the output by doc_id
    assert final.count("Exchange rangepartitioning") == 1
    # the totals branch shuffles one row per partition; the only
    # single-partition exchange is that O(parallelism) offsets table
    assert final.count("Exchange SinglePartition") == 1


def test_range_aggregate_is_single_shuffle(spark):
    """The aggregate-only range-frame path must cost exactly one hash
    exchange (the per-key window) -- no interval explode, no join, no
    re-aggregate -- in contrast to the pair-producing bucketed range join."""
    from airflow_pipeline_text_processing_spark.operators.joins import (
        range_aggregate,
    )
    from airflow_pipeline_text_processing_spark.plans.queries import _t

    ev = _t(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    out = range_aggregate(
        ev, ["user_id"], "ts", [(F.count("event_id"), "n_follow")], 0, 600
    )
    plan = plan_of(out, mode="simple")
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode
    assert plan.count("Exchange hashpartitioning") == 1


def test_aqe_coalesces_small_shuffles(spark):
    """The session's AQE config must actually re-plan at runtime: a small
    aggregation's final plan shows the shuffle read coalesced below the
    static partition count (the mechanism that right-sizes reducers at
    every scale)."""
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 10).alias("k"))
        .count()
    )
    df.collect()  # AQE finalizes the plan only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan


def test_batch_interval_join_is_equi_not_cartesian(spark):
    """The batch twin of the stream-stream interval join must plan as an
    equi-join on the key with the time bounds as join-level filters --
    never a cartesian/broadcast-nested-loop over the time predicate."""
    from airflow_pipeline_text_processing_spark.streaming.windows import (
        interval_join_streams,
    )
    from airflow_pipeline_text_processing_spark.plans.queries import _t

    ev = _t(spark, SF_DIR, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    out = interval_join_streams(
        views, clicks, "user_id", "view_ts", "click_ts", max_delay="4 hours"
    )
    plan = plan_of(out, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "user_id" in plan  # key participates in the equi-join


def test_repeated_spans_single_window_no_pair_join(spark):
    """Sub-document span dedup plan shape: the repeated-shingle detection
    is a groupBy (map-side combinable), hit marking is ONE equi-join of
    positions against shingle groups (never shingle x shingle pair
    expansion), and span assembly is a per-doc window -- no cartesian, no
    self-join of the positional relation against itself on doc pairs."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        repeated_spans,
    )
    from airflow_pipeline_text_processing_spark.plans.queries import _t

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "text")
    out = repeated_spans(docs, n=8, min_count=2)
    plan = plan_of(out, mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one join: positions -> repeated-shingle keys
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    ) == 1
    # span assembly is the lag/sum window partitioned by doc
    assert "Window" in plan


def test_resample_spine_is_generated_not_shuffled(spark):
    """The daily spine must come from a generated sequence over a
    broadcast one-row bounds relation -- never a shuffle of event data --
    and the daily aggregates must broadcast onto it."""
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        events_resample_daily,
    )

    plan = plan_of(events_resample_daily(spark, SF_DIR), mode="simple")
    # the only joins: bounds constant-carrier + broadcast of the daily agg
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    assert "Window" in plan  # the per-type carry-forward


def test_stats_trend_is_two_level_aggregation(spark):
    """Exact-moment regression: one partial+final agg to daily totals,
    one to the moments -- no window, no join, no driver loop."""
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        stats_linear_trend,
    )

    plan = plan_of(stats_linear_trend(spark, SF_DIR), mode="simple")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_cms_sketch_broadcasts_onto_probes(spark):
    """The CMS probe path must broadcast the bounded sketch relation --
    the probe join never shuffles at sketch size, which is what makes
    point queries cheap against a sketch built over any corpus size."""
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        sketch_cms_heavy_hitters,
    )

    plan = plan_of(sketch_cms_heavy_hitters(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_layout_prunes_two_predicate_scans(spark, tmp_path):
    """Z-order IO audit: write orders once sorted by o_custkey alone and
    once Z-ordered over (o_custkey, price_cents), then — from parquet
    footer min/max statistics alone, the same metadata the scan's
    row-group pruning reads — count which row groups a two-predicate
    range scan must touch.  The Z-ordered layout must touch strictly
    fewer groups than the single-column sort (whose stats are useless on
    the second column), while returning identical rows."""
    import pyarrow.parquet as pq
    import glob

    import pyspark.sql.functions as F
    from airflow_pipeline_text_processing_spark.sources.tabular import (
        write_zordered,
    )

    # sf0.1 (150k rows) with 64 KiB row groups -> ~57 groups across 4
    # files: enough stat granularity that layout actually decides pruning
    orders = (
        spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("price_cents"),
        )
    )
    lin, zed = str(tmp_path / "linear"), str(tmp_path / "zorder")
    (
        orders.repartitionByRange(4, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(lin)
    )
    write_zordered(
        orders, zed, "o_custkey", "price_cents", bits=12, num_files=4,
        **{"parquet.block.size": str(64 * 1024)},
    )

    lo_c, hi_c = orders.agg(
        F.min("o_custkey"), F.max("o_custkey")
    ).first()
    lo_p, hi_p = orders.agg(
        F.min("price_cents"), F.max("price_cents")
    ).first()
    # a selective-but-nonempty square in the middle of both domains
    c_lo, c_hi = lo_c + (hi_c - lo_c) // 3, lo_c + (hi_c - lo_c) // 2
    p_lo, p_hi = lo_p + (hi_p - lo_p) // 3, lo_p + (hi_p - lo_p) // 2

    def surviving_row_groups(path):
        total = survive = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }
            for g in range(md.num_row_groups):
                total += 1
                sc = md.row_group(g).column(idx["o_custkey"]).statistics
                sp = md.row_group(g).column(idx["price_cents"]).statistics
                if (
                    sc.min <= c_hi and sc.max >= c_lo
                    and sp.min <= p_hi and sp.max >= p_lo
                ):
                    survive += 1
        return survive, total

    z_surv, z_total = surviving_row_groups(zed)
    l_surv, l_total = surviving_row_groups(lin)
    assert z_total >= 20 and l_total >= 20  # enough granularity to prune
    assert z_surv < l_surv, (z_surv, z_total, l_surv, l_total)

    # identical query results regardless of layout
    pred = (
        (F.col("o_custkey").between(c_lo, c_hi))
        & (F.col("price_cents").between(p_lo, p_hi))
    )
    a = sorted(
        r.o_orderkey
        for r in spark.read.parquet(zed).filter(pred).collect()
    )
    b = sorted(
        r.o_orderkey
        for r in spark.read.parquet(lin).filter(pred).collect()
    )
    assert a == b and len(a) > 0


def test_incremental_spans_plan_broadcasts_batch_probe(spark):
    """Incremental span dedup: the batch's distinct-shingle relation must
    broadcast onto the corpus count relation (the corpus side is never
    re-shuffled per ingest), and no stage forms a cartesian product or a
    data-sized single-partition window."""
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        dedup_incremental_spans,
    )

    plan = plan_of(dedup_incremental_spans(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_curate_incremental_plan_shape(spark):
    """Composed incremental curation: no cartesian product anywhere, the
    decontamination stage's eval index broadcasts, and the exact-dedup
    anti-join is a real anti join."""
    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        curation_incremental_set,
    )

    plan = plan_of(curation_incremental_set(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_lsh_multitable_no_allpairs(spark):
    """Multi-table LSH: candidates come from the (table, bucket)
    equi-join; the all-pairs product never materializes and the per-pair
    dedup is an aggregation, not a distinct over exploded pairs."""
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        sim_lsh_multitable,
    )

    plan = plan_of(sim_lsh_multitable(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Spark injects a runtime bloom filter built from a selective
    creation side into the probe-side scan of a shuffle join (the
    row-level complement of partition pruning).  The default thresholds
    (10 GB probe scan) are sized for cluster scale, so at test scale we
    lower them to demonstrate the mechanism -- at 100 TB the defaults
    themselves admit exactly this shape -- and assert the filtered plan
    still returns the identical result."""
    import pyspark.sql.functions as F

    def q():
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        o = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet"
        ).filter(F.col("o_orderpriority") == "1-URGENT")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )

    baseline = {(r.o_orderpriority, r.n) for r in q().collect()}
    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {}
    for k, v in overrides.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        df = q()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan  # bloom probe reached the scan side
        assert {(r.o_orderpriority, r.n) for r in df.collect()} == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_phrase_search_plan_has_no_join(spark):
    """phrase_search is the anchor-aggregation formulation: the plan
    must contain NO join of any kind (the naive m-way positional
    self-join would) -- just the posting filter and two hash
    aggregates."""
    from airflow_pipeline_text_processing_spark.operators.text import (
        phrase_search,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = phrase_search(docs, ["table", "scan", "fast"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2  # (doc,anchor) then doc


def test_cdc_dedup_stats_single_hash_shuffle(spark):
    """cdc_dedup_stats: chunking is narrow (inside the scan stage); the
    only wide operation is the (group, chunk_hash) aggregate -- one
    Exchange before the hash rollup, no join, no cartesian."""
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        cdc_dedup_stats,
    )

    from airflow_pipeline_text_processing_spark.operators.dedup import (
        CDC_THRESHOLD,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = cdc_dedup_stats(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    # two shuffles total: chunk-hash agg, then the per-group rollup
    assert plan.count("Exchange") <= 2
    # the per-position boundary hash is materialized ONCE behind a
    # projection boundary -- inlined into the zip_with it would run
    # twice per document (the CollapseProject trap)
    assert plan.count(CDC_THRESHOLD) == 1


def test_shuffle_shards_no_global_window_and_balanced(spark, broadcast_threshold):
    """curation_shuffle_shards: the global rank must come from the
    range-partitioned two-level prefix sum -- the executed plan may not
    contain a single-partition Exchange feeding a Window over the data
    (the ntile shape).  Shards must be balanced to within one document
    and positions dense from 0 within each shard.  The plan is read with
    broadcast off: within the threshold the rank is a window over rows
    read to the driver."""
    import re

    from airflow_pipeline_text_processing_spark.plans.queries_ext import (
        curation_shuffle_shards,
    )

    default = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    broadcast_threshold(-1)
    plan = curation_shuffle_shards(
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    # both prefix-sum branches read the range split on the shuffle key,
    # materialized once with its partition ids; the SinglePartition
    # exchanges are the O(parallelism) offsets relation (feeds a Window
    # over _pid rows, not data rows) and the one-row document count
    assert len(re.findall(r"Scan ExistingRDD\[[^\]]*skey#[^\]]*_pid#", plan)) == 2
    assert plan.count("Exchange SinglePartition") == 2
    for threshold in (-1, default):
        broadcast_threshold(threshold)
        rows = curation_shuffle_shards(spark, SF_DIR).collect()
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r.shard, []).append(r.pos)
        sizes = {s: len(p) for s, p in by_shard.items()}
        assert max(sizes.values()) - min(sizes.values()) <= 1
        for s, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss))), s


def test_join_strategy_hints_are_honored(spark):
    """The engine exposes explicit join-strategy control: a
    shuffle_hash hint must produce ShuffledHashJoin, a broadcast hint
    BroadcastHashJoin, and (AQE aside) the unhinted default for two
    large-ish sides is sort-merge -- with identical results from all
    three."""
    import pyspark.sql.functions as F

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

    def agg(j):
        return j.groupBy("o_orderpriority").agg(F.count("*").alias("n"))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    sh = agg(li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey))
    bc = agg(li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey))
    assert "ShuffledHashJoin" in plan(sh)
    assert "BroadcastHashJoin" in plan(bc)
    rows = {(r.o_orderpriority, r.n) for r in sh.collect()}
    assert {(r.o_orderpriority, r.n) for r in bc.collect()} == rows


def test_dhash_query_payload_built_once(spark):
    """mm_image_dhash_dedup: the payload-synthesis expression must
    appear exactly ONCE per join side in the executed plan -- the
    used-once-alias lambda-inlining trap would re-execute the padded
    document expression per sequence element (288x/row, measured ~10x
    wall), and a missing materialization barrier would decode every
    image once per join side."""
    from airflow_pipeline_text_processing_spark.plans.queries_llm import (
        mm_image_dhash_dedup,
    )

    df = mm_image_dhash_dedup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the repeat(text, ...) padding expression is the payload builder's
    # fingerprint; localCheckpoint barriers it out of the join subtree
    # entirely, so it may appear at most once (zero once materialized)
    assert plan.count("repeat(text") <= 1
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan


def test_single_file_scan_spreads_to_core_count(spark):
    """The testdata tables are each ONE single-row-group parquet file,
    which the parquet reader cannot split: without the _tspread gate
    every map-side stage over documents/embeddings (tokenize, explode,
    Arrow UDF, lambda eval) serializes onto one core.  The gate must
    repartition such scans up to core count -- and must be a NO-OP when
    the scan already has enough input files (the real-scale case)."""
    import tempfile

    from airflow_pipeline_text_processing_spark.plans.queries import (
        _spread,
        _t,
        _tspread,
    )

    target = spark.sparkContext.defaultParallelism
    raw = _t(spark, "/root/testdata/sf0.001", "documents")
    assert raw.rdd.getNumPartitions() == 1  # the hazard being mitigated
    spread = _tspread(spark, "/root/testdata/sf0.001", "documents")
    # bytes-proportional target: >1 always (the point), never past cores
    assert 1 < spread.rdd.getNumPartitions() <= target
    # same rows, just redistributed
    assert spread.count() == raw.count()
    # a caller-declared tiny input caps below the size-derived target
    capped = _tspread(spark, "/root/testdata/sf0.001", "documents", cap=2)
    assert capped.rdd.getNumPartitions() == 2

    # no-op case: a many-file scan must NOT pick up an extra exchange
    d = tempfile.mkdtemp(prefix="spread_noop_")
    spark.range(1000).repartition(target).write.mode("overwrite").parquet(d)
    reread = spark.read.parquet(d)
    assert len(reread.inputFiles()) >= target
    plan = _spread(spark, reread)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle added at real scale
