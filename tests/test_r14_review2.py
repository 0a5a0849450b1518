"""Regression tests for the r14 second review pass (infrastructure
modules): bloom-index conservatism after post-build commits, streaming
ingest replay idempotence + within-batch content dedup, deterministic
CDC tie-breaks, and self-healing of a crashed ANN rebuild swap.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F


def test_read_by_value_keeps_post_build_files(spark, tmp_path):
    # a live file the bloom index has never SEEN (committed after
    # build_bloom_index ran) must be read conservatively -- pruning it
    # would be a silent false negative
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        build_bloom_index,
        merge_upsert,
        read_by_value,
        write_manifest_table,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"tag{i % 5}") for i in range(100)], "k long, tag string"
    )
    write_manifest_table(base, path, "k", n_files=4)
    build_bloom_index(spark, path, "tag")

    # post-build merge introduces a brand-new value in rewritten files
    upd = spark.createDataFrame([(500, "needle-after-build")], "k long, tag string")
    merge_upsert(spark, path, upd, "k")

    hit, files_read, _total = read_by_value(
        spark, path, "tag", "needle-after-build"
    )
    rows = hit.collect()
    assert len(rows) == 1 and rows[0]["k"] == 500
    assert files_read >= 1
    # pruning still works for never-present values: only the unseen
    # post-merge files may be read, every indexed file is pruned
    miss, miss_read, total = read_by_value(spark, path, "tag", "absent")
    assert miss.count() == 0
    assert miss_read < total


def test_ingest_batch_replay_is_idempotent(spark, tmp_path):
    # an at-least-once replay of the SAME micro-batch (crash between
    # the chunk write and the checkpoint commit) must not duplicate
    # chunk rows
    from airflow_pipeline_text_processing_spark.plans.pipeline import (
        PipelineConfig,
    )
    from airflow_pipeline_text_processing_spark.streaming.ingest import (
        process_batch,
    )

    cfg = PipelineConfig(
        input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"),
        tracking_path=str(tmp_path / "tracking"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    batch = spark.createDataFrame(
        [(f"file:///in/a{i}.txt", f"document body {i}") for i in range(3)],
        "path string, text string",
    )
    process_batch(spark, cfg, batch, batch_id=7)
    first = (
        spark.read.parquet(f"{cfg.output_dir}/chunks")
        .drop("batch")
        .collect()
    )
    assert first
    process_batch(spark, cfg, batch, batch_id=7)  # replay
    second = (
        spark.read.parquet(f"{cfg.output_dir}/chunks")
        .drop("batch")
        .collect()
    )
    assert sorted(map(str, second)) == sorted(map(str, first))


def test_ingest_within_batch_content_dedup(spark, tmp_path):
    # two same-content files in ONE batch: neither hash is tracked yet,
    # so both are processed (the reference's per-file loop) and tracking
    # keeps the hash once, from the lexicographic-min path
    from airflow_pipeline_text_processing_spark.plans.pipeline import (
        PipelineConfig,
    )
    from airflow_pipeline_text_processing_spark.streaming.ingest import (
        process_batch,
    )

    cfg = PipelineConfig(
        input_dir=str(tmp_path / "in"),
        output_dir=str(tmp_path / "out"),
        tracking_path=str(tmp_path / "tracking"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    batch = spark.createDataFrame(
        [
            ("file:///in/twin_b.txt", "identical content"),
            ("file:///in/twin_a.txt", "identical content"),
            ("file:///in/other.txt", "different content"),
        ],
        "path string, text string",
    )
    process_batch(spark, cfg, batch, batch_id=0)
    chunks = spark.read.parquet(f"{cfg.output_dir}/chunks")
    hashes = [r["file_hash"] for r in chunks.select("file_hash").distinct().collect()]
    assert len(hashes) == 2  # one per distinct CONTENT, not per file
    # the lexicographic-min path wins deterministically
    tracked = spark.read.parquet(str(tmp_path / "tracking")).collect()
    paths = {r["file_path"] for r in tracked}
    assert "file:///in/twin_a.txt" in paths
    assert "file:///in/twin_b.txt" not in paths


def test_cdc_latest_per_key_breaks_seq_ties_deterministically(spark):
    from airflow_pipeline_text_processing_spark.streaming.cdc import (
        latest_per_key,
    )

    rows = [(1, 10, "payload-a"), (1, 10, "payload-b"), (2, 5, "only")]
    a = spark.createDataFrame(rows, "k int, seq int, v string")
    b = spark.createDataFrame(list(reversed(rows)), "k int, seq int, v string")
    ra = {r["k"]: r["v"] for r in latest_per_key(a, "k", "seq").collect()}
    rb = {r["k"]: r["v"] for r in latest_per_key(b, "k", "seq").collect()}
    # the winner is a function of row CONTENT: input order must not
    # matter, and repeat runs agree
    assert ra == rb
    assert ra[2] == "only"
    assert ra[1] in ("payload-a", "payload-b")
    rc = {r["k"]: r["v"] for r in latest_per_key(a, "k", "seq").collect()}
    assert rc == ra


def test_crashed_rebuild_swap_self_heals(spark, sf_dir, tmp_path):
    # simulate a crash BETWEEN the rename and the repoint commit: the
    # index dir exists but its committed manifest still points at the
    # vanished .rebuild staging prefix; the next consumer must complete
    # the swap and serve correctly
    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        build_ivfpq_index,
        ivfpq_index_search,
        ivfpq_index_staleness,
    )
    from airflow_pipeline_text_processing_spark.operators.clustering import (
        quantized,
    )

    qvecs = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", quantized(F.col("embedding")).alias("q"))
        .filter(F.col("vec_id") < 400)
        .localCheckpoint(eager=True)
    )
    path = str(tmp_path / "idx")
    staging = path + ".rebuild"
    # building AT the staging path commits a manifest whose absolute
    # file paths carry the .rebuild prefix...
    build_ivfpq_index(qvecs, staging, dim=64)
    # ...and the crash left the rename done but the repoint un-run:
    os.rename(staging, path)
    os.makedirs(path + ".old")  # the swap's leftover marker

    st = ivfpq_index_staleness(spark, path)  # first consumer heals
    assert st["live_n"] == qvecs.count()
    assert not os.path.exists(path + ".old")
    queries = qvecs.filter(F.col("vec_id") < 3)
    got = ivfpq_index_search(spark, path, queries, qvecs, k=3)
    rows = sorted(map(tuple, got.collect()))
    assert rows
    # the healed index serves EXACTLY what a cleanly-built index serves
    # (deterministic training makes the two bit-identical)
    clean = str(tmp_path / "idx_clean")
    build_ivfpq_index(qvecs, clean, dim=64)
    want = sorted(
        map(tuple, ivfpq_index_search(spark, clean, queries, qvecs, k=3).collect())
    )
    assert rows == want


def test_unit_quantized_zero_norm_vector_maps_to_zeros(spark):
    # a vector whose every component floors to integer-zero norm must
    # quantize to exact zeros, not +/-2^63 poison from a 0.0 divide
    from airflow_pipeline_text_processing_spark.operators.clustering import (
        unit_quantized,
    )

    df = spark.createDataFrame(
        [(1, [0.0005, -0.0004, 0.0]), (2, [3.0, 4.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["q"]
        for r in df.select(
            "vec_id", unit_quantized(F.col("embedding")).alias("q")
        ).collect()
    }
    assert rows[1] == [0, 0, 0]
    # a normal vector still unit-normalizes: 3-4-5 -> 0.6, 0.8
    assert rows[2][0] == 600000 and rows[2][1] == 800000


def test_kmv_distinct_keeps_null_group(spark):
    from airflow_pipeline_text_processing_spark.operators.sketches import (
        kmv_distinct,
    )

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 3), (None, 4), (None, 3), ("b", None)],
        "src string, uid int",
    )
    rows = {r["src"]: r for r in kmv_distinct(df, "src", "uid").collect()}
    # the NULL group must survive with its exact distinct count; the
    # group whose only value is NULL vanishes (no values to sketch)
    assert rows["a"]["kmv_estimate"] == 2.0
    assert rows[None]["kmv_estimate"] == 2.0
    assert "b" not in rows
