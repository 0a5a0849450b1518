"""Manifest-backed parquet tables (sources/manifest.py): file-level
min/max pruning, copy-on-write MERGE with tombstones, snapshot reads
(time travel), and vacuum.

The properties under test are file-level, which no SQL oracle can see:
a selective read must OPEN fewer files than the table has; a MERGE must
rewrite only the files its keys touch, leaving every other data file
byte-identical on disk; tombstoned files keep old epochs readable until
vacuum physically reclaims them; and the manifest must stay consistent
through merges (pruned reads still correct after).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from airflow_pipeline_text_processing_spark.sources.manifest import (
    current_epoch,
    merge_upsert,
    read_live,
    read_manifest,
    read_pruned,
    read_snapshot,
    vacuum,
    write_manifest_table,
)


def _table(spark, tmp_path, n=800, files=8):
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    path = str(tmp_path / "tbl")
    write_manifest_table(df, path, "k", files)
    return path


def test_pruned_read_opens_fewer_files(spark, tmp_path):
    path = _table(spark, tmp_path)
    man = read_manifest(spark, path)
    assert man.count() == 8
    df, files_read, files_total = read_pruned(spark, path, "k", 100, 150)
    assert files_total == 8
    assert files_read <= 2  # range-partitioned: a 51-key slice spans <= 2 files
    got = sorted(r.k for r in df.collect())
    assert got == list(range(100, 151))
    # out-of-range predicate opens nothing
    _, zero, _ = read_pruned(spark, path, "k", 10_000, 20_000)
    assert zero == 0


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    path = _table(spark, tmp_path)
    data_dir = os.path.join(path, "data")
    before = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }
    # updates confined to keys [0, 50) plus two brand-new keys
    updates = spark.range(50).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    ).unionByName(
        spark.createDataFrame([(10_000, -2), (10_001, -2)], "k long, v long")
    )
    rewritten, live_before = merge_upsert(spark, path, updates, "k")
    assert live_before == 8
    assert rewritten == 1  # keys [0,50) live in exactly one range file

    # every ORIGINAL file still on disk (tombstone, not delete), and
    # none of them was modified in place
    after = {
        f: os.path.getmtime(os.path.join(data_dir, f))
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }
    assert set(before) <= set(after)
    for f in before:
        assert before[f] == after[f]

    full = read_live(spark, path)
    assert full.count() == 800 + 2  # 50 replaced in place, 2 appended
    assert full.filter(F.col("v") == -1).count() == 50
    assert full.filter(F.col("k") >= 10_000).count() == 2
    # no duplicate keys in the live view despite the old file on disk
    assert full.select("k").distinct().count() == 802


def test_snapshot_reads_and_vacuum(spark, tmp_path):
    path = _table(spark, tmp_path)
    updates = spark.createDataFrame([(700, -5), (10_000, -6)], "k long, v long")
    merge_upsert(spark, path, updates, "k")
    assert current_epoch(spark, path) == 1

    # time travel: epoch 0 is the pre-merge table, bit for bit
    snap0 = read_snapshot(spark, path, 0)
    assert snap0.count() == 800
    assert snap0.filter(F.col("k") == 700).collect()[0].v == 700 * 7 % 1000
    snap1 = read_snapshot(spark, path, 1)
    assert snap1.count() == 801
    assert snap1.filter(F.col("k") == 700).collect()[0].v == -5

    # pruned read over the merged region sees the new values
    df, files_read, files_total = read_pruned(spark, path, "k", 699, 701)
    assert {r.v for r in df.filter(F.col("k") == 700).collect()} == {-5}
    assert files_read < files_total
    # pruned SNAPSHOT read sees the old value
    df0, _, _ = read_pruned(spark, path, "k", 699, 701, epoch=0)
    assert {r.v for r in df0.filter(F.col("k") == 700).collect()} == {
        700 * 7 % 1000
    }

    # vacuum reclaims the tombstoned file; live view unaffected,
    # epoch-0 snapshot now smaller (its rewritten slice is gone)
    n_deleted = vacuum(spark, path, before_epoch=2)
    assert n_deleted == 1
    assert read_live(spark, path).count() == 801
    assert read_snapshot(spark, path, 0).count() < 800

    # second merge with the same batch is idempotent on live contents
    merge_upsert(spark, path, updates, "k")
    full = read_live(spark, path)
    assert full.count() == 801
    assert full.filter(F.col("k") == 700).collect()[0].v == -5


def test_streaming_cdc_apply_upserts_batches(spark, tmp_path):
    """CDC feed -> manifest table: two micro-batches (maxFilesPerTrigger=1)
    each merge into the table; within-batch duplicate keys collapse
    last-write-wins by the sequence column; final contents reflect the
    highest sequence per key across the whole feed."""
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        current_epoch,
    )
    from airflow_pipeline_text_processing_spark.streaming.cdc import (
        apply_changes_to_table,
    )

    path = _table(spark, tmp_path, n=100, files=4)
    src = tmp_path / "changes"
    ckpt = tmp_path / "ckpt"
    # batch 1: key 5 appears TWICE (seq 1 then seq 2 -> v=-20 must win),
    # key 200 is brand new
    spark.createDataFrame(
        [(5, -10, 1), (5, -20, 2), (200, -30, 1)], "k long, v long, seq long"
    ).coalesce(1).write.parquet(str(src / "b1"))
    # batch 2: key 5 updated again, key 7 updated
    spark.createDataFrame(
        [(5, -40, 3), (7, -50, 3)], "k long, v long, seq long"
    ).coalesce(1).write.parquet(str(src / "b2"))

    schema = "k long, v long, seq long"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = apply_changes_to_table(stream, path, "k", "seq", str(ckpt))
    q.awaitTermination(120)

    full = read_live(spark, path)
    rows = {r.k: r.v for r in full.collect()}
    assert full.columns == ["k", "v"]  # the sequence column is not upserted
    assert full.count() == 101  # 100 original + 1 new key
    assert rows[5] == -40       # last write across batches
    assert rows[7] == -50
    assert rows[200] == -30
    assert rows[6] == 6 * 7 % 1000  # untouched key unchanged
    assert current_epoch(spark, path) >= 2  # one merge epoch per batch


def test_bloom_index_point_lookup_prunes_files(spark, tmp_path):
    """A rare value localized to one file must prune the lookup to (at
    most a couple of bloom-false-positive) files with NO false
    negatives; a value present everywhere honestly hits all files."""
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        build_bloom_index,
        read_by_value,
        write_manifest_table,
    )

    # tag is 'common' everywhere except k=777 -> 'needle' (one file)
    df = spark.range(800).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 777, "needle").otherwise("common").alias("tag"),
    )
    path = str(tmp_path / "btbl")
    write_manifest_table(df, path, "k", 8)
    build_bloom_index(spark, path, "tag")

    hit, files_read, files_total = read_by_value(spark, path, "tag", "needle")
    rows = hit.collect()
    assert [r.k for r in rows] == [777]          # no false negatives
    assert files_total == 8
    assert files_read <= 2                        # bloom prunes the rest

    allhit, all_read, _ = read_by_value(spark, path, "tag", "common")
    assert all_read == 8                          # honest: present everywhere
    assert allhit.count() == 799

    miss, miss_read, _ = read_by_value(spark, path, "tag", "absent-value")
    assert miss.count() == 0
    assert miss_read <= 2                         # at most false positives


def test_optimize_compact_binpacks_small_files(spark, tmp_path):
    """OPTIMIZE must reduce the live file count without changing the
    table's contents, keep min/max pruning working on the compacted
    layout, and leave the pre-compaction snapshot readable (tombstone,
    not delete) until vacuum."""
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        optimize_compact,
    )

    # 16 files of ~50 rows each: far below a 400-row target
    df = spark.range(800).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    path = str(tmp_path / "ctbl")
    write_manifest_table(df, path, "k", 16)
    before = read_live(spark, path)
    before_rows = sorted((r.k, r.v) for r in before.collect())

    compacted, written = optimize_compact(spark, path, "k", target_rows=400)
    assert compacted == 16
    assert written == 2  # ceil(800 / 400)

    man = read_manifest(spark, path)
    live_files = man.filter(F.col("removed_epoch") == -1).count()
    assert live_files == 2
    # contents identical, no duplication from the tombstoned originals
    after_rows = sorted((r.k, r.v) for r in read_live(spark, path).collect())
    assert after_rows == before_rows

    # pruning still selective on the new range-partitioned layout
    _, files_read, files_total = read_pruned(spark, path, "k", 100, 150)
    assert files_total == 2 and files_read == 1

    # pre-compaction snapshot intact; vacuum reclaims the 16 originals
    assert read_snapshot(spark, path, 0).count() == 800
    assert vacuum(spark, path, before_epoch=2) == 16
    assert read_live(spark, path).count() == 800

    # already-compacted table: a second OPTIMIZE is a no-op
    assert optimize_compact(spark, path, "k", target_rows=400) == (0, 0)


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """An update batch may carry a column the table has never seen:
    after the merge the live view surfaces it (NULL for untouched
    rows), pre-evolution snapshots keep the old schema, and pruning
    still works across mixed-schema files."""
    path = _table(spark, tmp_path)
    updates = spark.createDataFrame(
        [(5, -1, "new"), (10_000, -2, "new")], "k long, v long, tag string"
    )
    merge_upsert(spark, path, updates, "k")

    full = read_live(spark, path)
    assert "tag" in full.columns
    assert full.count() == 801
    tags = {r.k: r.tag for r in full.filter(F.col("k").isin(5, 6, 10_000)).collect()}
    assert tags == {5: "new", 10_000: "new", 6: None}

    # pre-evolution snapshot: original schema, original values
    snap0 = read_snapshot(spark, path, 0)
    assert "tag" not in snap0.columns
    assert snap0.count() == 800

    # pruned read spanning evolved + original files
    df, files_read, files_total = read_pruned(spark, path, "k", 0, 20)
    assert files_read < files_total
    got = {r.k: r.tag for r in df.collect()}
    assert got[5] == "new" and got[6] is None and len(got) == 21


def test_optimize_zorder_prunes_two_predicate_scans(spark, tmp_path):
    """OPTIMIZE ZORDER: the initial range-partitioned layout is perfect
    on the key and useless on a second column -- a two-predicate scan
    must open every key-overlapping file.  After the Z-ordered rewrite
    (with both columns' min/max recorded in the manifest) the same scan
    opens strictly fewer files, contents are unchanged, and the
    pre-optimization snapshot remains readable."""
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        optimize_zorder,
        read_pruned2,
    )

    # b is decorrelated from k, so every range-partitioned file spans
    # (almost) the full b range
    df = spark.range(4096).select(
        F.col("id").alias("k"),
        (F.col("id") * 2654435761 % 4096).alias("b"),
    )
    path = str(tmp_path / "ztbl")
    write_manifest_table(df, path, "k", 8)

    # whole key range, narrow b range: key pruning keeps everything
    pre, pre_read, pre_total = read_pruned2(
        spark, path, "k", 0, 4095, "b", 0, 511
    )
    assert (pre_read, pre_total) == (8, 8)
    expect = sorted((r.k, r.b) for r in pre.collect())
    assert len(expect) == 512

    rewritten, written = optimize_zorder(spark, path, "k", "b", n_files=8)
    assert rewritten == 8 and written == 8

    post, post_read, post_total = read_pruned2(
        spark, path, "k", 0, 4095, "b", 0, 511
    )
    assert post_total == 8
    assert post_read <= 4  # Morton layout: files are tight in BOTH dims
    assert sorted((r.k, r.b) for r in post.collect()) == expect

    # a scan narrow in both dimensions prunes harder still
    _, both_read, _ = read_pruned2(spark, path, "k", 0, 1023, "b", 0, 511)
    assert both_read <= 2

    # table contents unchanged; pre-optimize snapshot still readable
    assert read_live(spark, path).count() == 4096
    assert read_snapshot(spark, path, 0).count() == 4096

    # single-predicate pruning still works through the old reader
    _, files_read, files_total = read_pruned(spark, path, "k", 100, 150)
    assert files_read < files_total


def test_optimize_zorder_all_null_secondary_column_errors(spark, tmp_path):
    """An all-NULL secondary column has no min/max: optimize_zorder must
    raise a clear ValueError naming the column, not a TypeError from
    int(None) mid-rewrite (and must leave the table untouched)."""
    import pytest

    from airflow_pipeline_text_processing_spark.sources.manifest import (
        optimize_zorder,
    )

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(None).cast("long").alias("b"),
    )
    path = str(tmp_path / "nulltbl")
    write_manifest_table(df, path, "k", 4)

    with pytest.raises(ValueError, match="b"):
        optimize_zorder(spark, path, "k", "b", n_files=4)
    # table untouched: same epoch, same contents
    assert current_epoch(spark, path) == 0
    assert read_live(spark, path).count() == 100


def test_optimize_zorder_anticorrelated_layout(spark, tmp_path):
    """Adversarial layout: b is perfectly ANTI-correlated with k
    (b = 4095 - k), so the initial range-partitioned files are tight on
    both dims already -- but along the anti-diagonal.  A box predicate
    (mid-range k AND mid-range b) intersects that diagonal in exactly
    one file-range, while the Z-ordered rewrite keeps pruning
    competitive: the pruned-file count after ZORDER must still beat the
    linear (single-dim) layout for an off-diagonal box that the
    diagonal layout cannot prune at all."""
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        optimize_zorder,
        read_pruned2,
    )

    df = spark.range(4096).select(
        F.col("id").alias("k"),
        (4095 - F.col("id")).alias("b"),
    )
    path = str(tmp_path / "antitbl")
    write_manifest_table(df, path, "k", 8)

    # pre-rewrite the manifest carries NO secondary stats, so a scan that
    # spans the full k range cannot prune a single file on b
    pre, pre_read, pre_total = read_pruned2(
        spark, path, "k", 0, 4095, "b", 1024, 1535
    )
    assert pre_total == 8
    assert pre_read == 8  # linear layout: useless for the b predicate

    rewritten, written = optimize_zorder(spark, path, "k", "b", n_files=8)
    assert rewritten == 8 and written >= 1

    # after ZORDER every file records BOTH mins/maxes; even on this
    # adversarial anti-correlated layout the same scan must strictly beat
    # the linear layout, and contents must be identical
    post, post_read, post_total = read_pruned2(
        spark, path, "k", 0, 4095, "b", 1024, 1535
    )
    assert post_read < pre_read
    assert post_read <= post_total // 2
    assert sorted((r.k, r.b) for r in post.collect()) == sorted(
        (r.k, r.b) for r in pre.collect()
    )

    # a box narrow in k as well prunes at least as hard as either alone
    _, both_read, _ = read_pruned2(spark, path, "k", 2048, 3071, "b", 1024, 1535)
    assert both_read <= post_read
