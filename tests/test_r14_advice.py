"""Round-14 ADVICE closures (VERDICT r13 / ADVICE file):

1. medium -- parse_mp4 wraps ALL malformed-input failures in ValueError
   (empty/short mdhd inside valid box framing previously leaked
   IndexError / struct.error through sample_frames' fallback and failed
   the whole Arrow stage).
2. low -- persisted-slot GC probes pid liveness portably with
   os.kill(pid, 0) instead of /proc/<pid>.
3. low -- reading the table state (``_read_state``) raises when EVERY
   log entry is unparsable (a stale state must not be handed out
   silently) and warns when it skips a dead slot.
4. low -- the checkpoint-residue sweep is an engine API
   (session.sweep_persistent_rdds), not a bench-harness private.
"""

from __future__ import annotations

import json
import os
import struct
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

from airflow_pipeline_text_processing_spark.codec.mp4 import build_mp4, parse_mp4


def _box(t: bytes, p: bytes) -> bytes:
    return struct.pack(">I", 8 + len(p)) + t + p


def _corrupt_moov_variants() -> list[bytes]:
    """moov trees with VALID box framing whose mdhd payload is too
    short for the fields parse_mp4 reads -- the exact shapes ADVICE r13
    probed as leaking IndexError (empty) and struct.error (short)."""
    return [
        _box(b"moov", _box(b"trak", _box(b"mdia", _box(b"mdhd", b"")))),
        _box(b"moov", _box(b"trak", _box(b"mdia", _box(b"mdhd", b"\x00" * 3)))),
        _box(b"moov", _box(b"trak", _box(b"mdia", _box(b"mdhd", b"\x00" * 8)))),
    ]


def test_malformed_mdhd_raises_valueerror_not_index_or_struct_error():
    for moov in _corrupt_moov_variants():
        with pytest.raises(ValueError):
            parse_mp4(moov)


def test_short_stsz_inside_valid_framing_raises_valueerror():
    # take a valid file and truncate the stsz table while keeping the
    # box framing consistent: rewrite stsz's count to claim more
    # samples than the table carries
    mp4 = bytearray(build_mp4([b"aaaa", b"bbbb"], [1, 1]))
    i = bytes(mp4).index(b"stsz")
    # stsz payload: version/flags(4) sample_size(4) count(4)
    mp4[i + 4 + 8 : i + 4 + 12] = struct.pack(">I", 99)
    with pytest.raises(ValueError):
        parse_mp4(bytes(mp4))


def test_sample_frames_survives_corrupt_ftyp_with_empty_mdhd(spark):
    # the ADVICE medium verbatim: a false-positive 'ftyp' payload whose
    # moov parses as boxes but whose mdhd is empty must fall back to
    # the stride-slice stub, never fail the Arrow stage
    from airflow_pipeline_text_processing_spark.operators.multimodal import (
        sample_frames,
    )

    for moov in _corrupt_moov_variants():
        payload = _box(b"ftyp", b"isom") + moov
        df = spark.createDataFrame(
            [(7, bytearray(payload))], "doc_id long, payload binary"
        )
        rows = sorted(
            sample_frames(df, num_frames=2, frame_size=4).collect(),
            key=lambda r: r.frame_idx,
        )
        assert len(rows) == 2  # stub strides, no exception
        stride = max(len(payload) // 2, 1)
        assert [r.frame_offset for r in rows] == [0, stride]


def test_pid_alive_probe_is_portable():
    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        _pid_alive,
    )

    assert _pid_alive(os.getpid()) is True
    # a reaped child's pid is definitively dead (no /proc dependence)
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    assert _pid_alive(child.pid) is False


def test_dead_slot_gc_collects_only_dead_pids(tmp_path, monkeypatch):
    import tempfile

    from airflow_pipeline_text_processing_spark.operators.ann_index import (
        process_index_slot,
    )

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    live = process_index_slot("r14-gc-key")
    os.makedirs(live, exist_ok=True)
    slot_prefix = os.path.basename(live).rsplit("_", 1)[0]
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead = str(tmp_path / f"{slot_prefix}_{child.pid}")
    os.makedirs(dead, exist_ok=True)
    again = process_index_slot("r14-gc-key")
    assert again == live
    assert os.path.isdir(live)  # own (live) slot untouched
    assert not os.path.exists(dead)  # dead pid's slot collected


def test_all_dead_log_slots_raise_instead_of_silent_stale_cache(
    spark, tmp_path
):
    from airflow_pipeline_text_processing_spark.sources.manifest import (
        _latest_log,
        read_live,
        write_manifest_table,
    )

    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    path = str(tmp_path / "tbl")
    write_manifest_table(df, path, "k", 2)
    log_dir = os.path.join(path, "_log")
    for name in os.listdir(log_dir):  # every claimed entry dies
        open(os.path.join(log_dir, name), "w").close()
    with pytest.raises(ValueError, match="unparsable"):
        read_live(spark, path).count()
    assert _latest_log(path)[1] is not None  # the claims still exist


def test_healing_past_a_dead_slot_warns(spark, tmp_path, caplog):
    import logging

    from airflow_pipeline_text_processing_spark.sources.manifest import (
        _latest_log,
        read_live,
        write_manifest_table,
    )

    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    path = str(tmp_path / "tbl")
    write_manifest_table(df, path, "k", 2)
    seq, _ = _latest_log(path)
    dead = os.path.join(path, "_log", f"{seq + 1:020d}.json")
    open(dead, "w").close()  # claimed, contentless (pre-r13 shape)
    with caplog.at_level(
        logging.WARNING,
        logger="airflow_pipeline_text_processing_spark.sources.manifest",
    ):
        assert read_live(spark, path).count() == 20
    assert any("unparsable" in r.message for r in caplog.records)


def test_sweep_persistent_rdds_drops_checkpoint_residue(spark):
    from airflow_pipeline_text_processing_spark.session import (
        sweep_persistent_rdds,
    )

    sweep_persistent_rdds(spark)  # start clean
    df = spark.range(1000).localCheckpoint(eager=False)
    assert df.count() == 1000  # materializes the checkpoint blocks
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    swept = sweep_persistent_rdds(spark)
    assert swept >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
