"""Round-15 ADVICE closures (ADVICE file at r14->r15 handoff):

1. low -- _meta_mutate's lock steal is keyed to the lock FILE's mtime
   (provably-crashed holder), not the caller's own wait, and the local
   deadline re-arms after each steal check: starved contenders can no
   longer delete a live holder's freshly-created lock.
2. low -- the batch pipeline's chunk sink writes the same
   ``batch=<key>``-partitioned layout as the streaming ingest sink (both
   run one tick, keyed by its fresh set), so a shared output_dir keeps
   a single discoverable partitioned table instead of a mixed
   flat/partitioned layout that fails partition discovery.
3. low -- ivfpq_index_rebuild_if_stale tolerates a concurrent healer
   winning the promotion race between its two swap renames: the
   completed swap is success, not an uncaught FileNotFoundError.
4. low -- stream_langid_served's process slot is additionally keyed by
   thread ident, so concurrent threads of one process cannot rmtree
   each other's active streaming source/checkpoint/sink.
"""

from __future__ import annotations

import os
import threading
import time

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------- #1
def _make_meta_dir(tmp_path) -> str:
    import json

    path = str(tmp_path / "idx")
    fz = os.path.join(path, "_frozen")
    os.makedirs(fz)
    with open(os.path.join(fz, "meta.json"), "w") as fh:
        json.dump({"n": 0}, fh)
    return path


def test_meta_lock_steals_only_stale_files(tmp_path, monkeypatch):
    """A lock whose FILE is older than the steal window is crashed-holder
    residue: the mutator steals it and proceeds promptly."""
    from airflow_pipeline_text_processing_spark.operators import ann_index

    monkeypatch.setattr(ann_index, "_STEAL_AFTER", 0.3)
    path = _make_meta_dir(tmp_path)
    lock = os.path.join(path, "_frozen", ".meta.lock")
    open(lock, "w").close()
    old = time.time() - 10.0
    os.utime(lock, (old, old))  # crashed holder: file is 10s old

    t0 = time.monotonic()
    got = ann_index._meta_mutate(path, lambda m: ({**m, "n": 7}, True))
    assert got is True
    assert time.monotonic() - t0 < 5.0  # stole, did not hang


def test_meta_lock_never_steals_a_live_holders_lock(tmp_path, monkeypatch):
    """The ADVICE r15 regression: a contender past its own wait deadline
    must NOT delete a lock whose file is young (a live holder keeps
    refreshing it).  With the wait-keyed steal this completed at ~0.3s
    by deleting the live lock; mtime-keyed, it waits the holder out."""
    from airflow_pipeline_text_processing_spark.operators import ann_index

    monkeypatch.setattr(ann_index, "_STEAL_AFTER", 0.3)
    path = _make_meta_dir(tmp_path)
    lock = os.path.join(path, "_frozen", ".meta.lock")
    open(lock, "w").close()

    hold_for = 1.5
    stolen = {"early": False}

    def _holder():
        # a live holder: keeps the lock file fresh, releases at the end
        t_end = time.monotonic() + hold_for
        while time.monotonic() < t_end:
            if not os.path.exists(lock):
                stolen["early"] = True  # someone deleted a LIVE lock
                return
            now = time.time()
            os.utime(lock, (now, now))
            time.sleep(0.05)
        os.unlink(lock)

    th = threading.Thread(target=_holder)
    th.start()
    t0 = time.monotonic()
    got = ann_index._meta_mutate(path, lambda m: ({**m, "n": 1}, True))
    waited = time.monotonic() - t0
    th.join()
    assert got is True
    assert not stolen["early"], "a live holder's lock was stolen"
    assert waited >= hold_for - 0.2  # entered only after the release


# ---------------------------------------------------------------- #2
def test_batch_and_streaming_chunk_sinks_share_one_layout(spark, tmp_path):
    from airflow_pipeline_text_processing_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from airflow_pipeline_text_processing_spark.streaming.ingest import (
        streaming_ingest,
    )

    inp = tmp_path / "in"
    inp.mkdir()
    (inp / "a.txt").write_text("batch path document", encoding="utf-8")
    cfg = PipelineConfig(
        input_dir=str(inp),
        output_dir=str(tmp_path / "out"),
        tracking_path=str(tmp_path / "tracking"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    assert run_pipeline(spark, cfg)["processed"] == 1

    # now the STREAMING pipeline writes into the SAME output_dir
    (inp / "b.txt").write_text("streaming path document", encoding="utf-8")
    q = streaming_ingest(spark, cfg, str(tmp_path / "ckpt"))
    q.awaitTermination()

    # one discoverable partitioned table: the batch run's rows and the
    # stream's rows each under their own tick's batch partition
    chunks = spark.read.parquet(f"{cfg.output_dir}/chunks")
    assert "batch" in chunks.columns
    files = chunks.groupBy("batch").agg(
        F.collect_set(F.element_at(F.split("file_path", "/"), -1)).alias("f")
    )
    assert sorted(r["f"] for r in files.collect()) == [["a.txt"], ["b.txt"]]


# ---------------------------------------------------------------- #3
def test_rebuild_tolerates_healer_winning_promotion(
    spark, tmp_path, monkeypatch
):
    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        build_ivfpq_index,
        ivfpq_index_add,
        ivfpq_index_rebuild_if_stale,
        ivfpq_index_search,
        ivfpq_index_staleness,
    )
    from airflow_pipeline_text_processing_spark.operators.clustering import (
        quantized,
    )

    qvecs = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", quantized(F.col("embedding")).alias("q"))
        .localCheckpoint(eager=True)
    )
    path = str(tmp_path / "idx")
    build_ivfpq_index(qvecs.filter(F.col("vec_id") % 5 > 1), path, dim=64)
    ivfpq_index_add(spark, path, qvecs.filter(F.col("vec_id") % 5 <= 1))

    real_rename = os.rename
    tmp_prefix = path.rstrip("/") + ".rebuild"
    state = {"raced": False}

    def racy_rename(src, dst):
        # emulate a concurrent consumer's _heal_crashed_rebuild winning
        # the window between rename(path, old) and rename(tmp, path):
        # the healer promotes tmp first, so the rebuilder's own call
        # hits ENOENT -- which must be treated as a completed swap
        if (
            not state["raced"]
            and str(src).rstrip("/") == tmp_prefix
            and str(dst).rstrip("/") == path.rstrip("/")
        ):
            state["raced"] = True
            real_rename(src, dst)  # the healer's promotion
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", racy_rename)
    assert ivfpq_index_rebuild_if_stale(
        spark, path, qvecs, threshold_ppm=200_000
    )
    monkeypatch.setattr(os, "rename", real_rename)
    assert state["raced"], "race injection did not trigger"
    assert ivfpq_index_staleness(spark, path)["added_frac_ppm"] == 0
    # the healed/swapped index still serves
    queries = qvecs.filter(F.col("vec_id").isin(3, 10))
    assert ivfpq_index_search(spark, path, queries, qvecs).count() > 0


# ---------------------------------------------------------------- #4
def test_stream_langid_slot_is_thread_scoped():
    """Two LIVE threads derive distinct slots for the same sf_dir (a
    concurrent call can no longer rmtree its sibling's active stream);
    one thread re-deriving its slot gets the same path (the
    one-slot-per-process reuse that keeps disk bounded)."""
    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        process_index_slot,
    )

    def _slot() -> str:
        return process_index_slot(
            f"langid_stream:/root/testdata/sf0.001:t{threading.get_ident()}"
        )

    mine = _slot()
    assert _slot() == mine  # stable within a thread

    other: list[str] = []
    th = threading.Thread(target=lambda: other.append(_slot()))
    th.start()
    th.join()
    assert other and other[0] != mine
