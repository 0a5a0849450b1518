"""CROSS-PROCESS manifest commit contention (VERDICT r12 ask #5).

test_manifest_log.py exercises the commit race with threads; the
Delta-primitive claim is cross-process — ``O_EXCL``/``link(2)``
put-if-absent is a kernel-level primitive whose guarantee threads
cannot fully witness (they share the CPython process and the GIL).
Here N OS processes append data files to ONE table concurrently, each
through the real commit path (``_read_state`` reads the latest log →
derive → ``_write_manifest`` → retry on :class:`ManifestConflict`).

The commit layer is deliberately Spark-free (json + pyarrow,
manifest.py's documented design), so worker processes need no JVM:
they use the spawn start method (no forked-JVM hazards) and exercise
exactly the code a concurrent Spark driver on another node would run
against shared storage.

Properties checked: every writer's every commit lands (all marker rows
present), one winner per log slot with a contiguous slot sequence,
every log entry parses (atomic publish — no torn payloads ever
observable), and disk == accounting (no leaked or missing data files).
"""

from __future__ import annotations

import json
import multiprocessing
import os

import pyspark.sql.functions as F

from airflow_pipeline_text_processing_spark.sources.manifest import (
    _latest_log,
    read_live,
    read_manifest,
    write_manifest_table,
)

N_PROCS = 6
COMMITS_PER_PROC = 4


def _mp_append_worker(args):
    """One writer process: COMMITS_PER_PROC manifest-append commits of a
    2-row parquet file each, with the merge_upsert retry discipline."""
    path, proc_id = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_pipeline_text_processing_spark.sources import manifest as m

    for i in range(COMMITS_PER_PROC):
        k0 = 100_000 + proc_id * 1_000 + i * 10
        fname = os.path.join(
            path, "data", f"mp-{proc_id:02d}-{i:02d}.parquet"
        )
        pq.write_table(
            pa.table({"k": [k0, k0 + 1], "v": [proc_id, proc_id]}), fname
        )
        attempts = 0
        while True:
            attempts += 1
            if attempts > 200:
                return (proc_id, "gave up")
            seq, log_file = m._latest_log(path)
            with open(log_file) as fh:
                rows = json.load(fh)["rows"]
            epoch = 1 + max(r["added_epoch"] for r in rows)
            rows.append(
                {
                    "file": fname,
                    "n_rows": 2,
                    "k_min": k0,
                    "k_max": k0 + 1,
                    "added_epoch": epoch,
                    "removed_epoch": -1,
                    "cols": "k,v",
                }
            )
            try:
                # the commit layer never touches the SparkSession
                m._write_manifest(None, path, rows, commit_seq=seq + 1)
                break
            except m.ManifestConflict:
                continue
    return (proc_id, "ok")


def test_n_process_writers_one_table(spark, tmp_path):
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    path = str(tmp_path / "tbl")
    write_manifest_table(df, path, "k", 4)

    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(N_PROCS) as pool:
        results = pool.map(
            _mp_append_worker, [(path, p) for p in range(N_PROCS)]
        )
    assert all(status == "ok" for _pid, status in results), results

    # one winner per slot, contiguous sequence, every entry parses
    log_dir = os.path.join(path, "_log")
    names = sorted(n for n in os.listdir(log_dir) if n.endswith(".json"))
    seqs = [int(n[: -len(".json")]) for n in names]
    assert seqs == list(range(N_PROCS * COMMITS_PER_PROC + 1)), seqs
    for n in names:
        loaded = json.load(open(os.path.join(log_dir, n)))
        assert loaded["rows"], n

    # every writer's every commit landed exactly once
    assert _latest_log(path)[0] == N_PROCS * COMMITS_PER_PROC
    live = read_live(spark, path)
    assert live.count() == 400 + 2 * N_PROCS * COMMITS_PER_PROC
    marks = (
        live.filter(F.col("k") >= 100_000)
        .groupBy("v")
        .count()
        .collect()
    )
    assert sorted((r.v, r["count"]) for r in marks) == [
        (p, 2 * COMMITS_PER_PROC) for p in range(N_PROCS)
    ]

    # disk == accounting: no leaked or missing data files
    man_files = {
        os.path.basename(r.file)
        for r in read_manifest(spark, path).collect()
    }
    disk = {
        f
        for f in os.listdir(os.path.join(path, "data"))
        if f.endswith(".parquet")
    }
    assert disk == man_files
