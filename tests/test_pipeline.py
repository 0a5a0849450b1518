"""End-to-end pipeline tests: encode/validate/reassemble, tracking
idempotency, DLQ routing -- the reference's runtime self-verification
(SURVEY.md §5) as a test suite."""

import base64
import hashlib
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameWriter

from airflow_pipeline_text_processing_spark.plans.pipeline import (
    NOT_UTF8,
    PipelineConfig,
    chunk_table,
    encode_documents,
    reassemble_from_chunk_table,
    run_pipeline,
    validate_chunk_table,
)
from airflow_pipeline_text_processing_spark.sources.text_dir import (
    text_files,
    with_descriptor,
)
from airflow_pipeline_text_processing_spark.sources.tracking import TrackingTable
from airflow_pipeline_text_processing_spark.streaming.ingest import process_batch

TEXTS = [
    "hello world",
    "Test encodage.",
    "éàçùñ déjà vu " * 120,          # multi-chunk, multibyte
    "",                                # empty document
    "x" * 999 + "é" + "y" * 50,       # code point straddling the boundary
]


def _docs(spark, texts=TEXTS):
    df = spark.createDataFrame(
        [(f"file:///in/doc_{i}.txt", t) for i, t in enumerate(texts)],
        "path string, text string",
    )
    return with_descriptor(df)


def test_encode_roundtrip_and_status(spark):
    encoded = encode_documents(_docs(spark))
    rows = encoded.select("text", "reconstructed_text", "status").collect()
    assert len(rows) == len(TEXTS)
    for r in rows:
        assert r.reconstructed_text == r.text
        assert r.status == "completed"


def test_chunk_table_and_declarative_reassembly(spark):
    encoded = encode_documents(_docs(spark))
    chunks = chunk_table(encoded)
    validated = validate_chunk_table(chunks)
    assert validated.filter(~F.col("valid")).count() == 0
    # homopolymer-free invariant, in pure SQL (SURVEY.md op 40)
    assert chunks.filter(F.regexp_like("dna_sequence", F.lit(r"(.)\1"))).count() == 0
    # dense indices
    bad_idx = (
        chunks.groupBy("file_hash")
        .agg(F.count("*").alias("n"), F.max("index").alias("mx"))
        .filter(F.col("mx") != F.col("n") - 1)
    )
    assert bad_idx.count() == 0
    # shuffle-safe ordered reassembly equals the original text
    rebuilt = reassemble_from_chunk_table(chunks)
    joined = rebuilt.join(_docs(spark), "file_hash").filter(F.col("text") != "")
    assert joined.filter(F.col("reconstructed_text") != F.col("text")).count() == 0


# appending a base multiplies the decoded bignum by 3 -- a real value
# corruption (prepending T's would only add leading zeros)
CORRUPT_SUFFIX = "A"

MULTIBYTE = ["a数据b", "plain ascii text", "éàçùñ déjà vu 数据 🙂 " * 3, "x🙂"]


@pytest.mark.parametrize("chunk_size", [1, 2, 3, 1000])
def test_chunk_table_reassembly_splits_code_points(spark, chunk_size):
    """The chunk-table regroup joins each document's chunk bytes before it
    decodes UTF-8, so chunks that cut a code point (every multibyte
    character at sizes 1-3) rebuild the original text; one altered chunk
    nulls its own document and no other."""
    chunks = chunk_table(encode_documents(_docs(spark, MULTIBYTE), chunk_size=chunk_size))
    want = {hashlib.md5(t.encode()).hexdigest(): t for t in MULTIBYTE}
    rebuilt = reassemble_from_chunk_table(chunks).collect()
    assert {r.file_hash: r.reconstructed_text for r in rebuilt} == want

    victim = hashlib.md5(MULTIBYTE[0].encode()).hexdigest()
    hit = (F.col("file_hash") == victim) & (F.col("index") == 0)
    altered = chunks.withColumn("dna_sequence", F.when(
        hit, F.concat("dna_sequence", F.lit(CORRUPT_SUFFIX))
    ).otherwise(F.col("dna_sequence")))
    rebuilt = reassemble_from_chunk_table(altered).collect()
    assert {r.file_hash: r.reconstructed_text for r in rebuilt} == dict(want, **{victim: None})


def test_corrupted_chunk_fails_document(spark):
    encoded = encode_documents(_docs(spark, ["good text here"]))
    corrupted = encoded.withColumn(
        "chunks",
        F.transform(
            "chunks",
            lambda c: c.withField(
                "dna_sequence", F.concat(c["dna_sequence"], F.lit(CORRUPT_SUFFIX))
            ),
        ),
    ).drop("reconstructed_text", "reconstructed_checksum", "status")
    from airflow_pipeline_text_processing_spark.functions.codec_udfs import decode_chunks

    res = corrupted.withColumn("rebuilt", decode_chunks("chunks")).collect()
    assert res[0].rebuilt is None


def test_rebuild_text_rejects_altered_chunk():
    """The rebuild shared by ``decode_chunks`` and the fused encode UDF
    returns None for a chunk whose DNA was altered (same mutation as
    above), and the original text for the untouched chunks."""
    from airflow_pipeline_text_processing_spark.codec.chunker import build_chunks
    from airflow_pipeline_text_processing_spark.functions.codec_udfs import (
        rebuild_text,
    )

    chunks = build_chunks("good text here")
    assert rebuild_text(chunks) == "good text here"
    altered = [dict(c, dna_sequence=c["dna_sequence"] + CORRUPT_SUFFIX) for c in chunks]
    assert rebuild_text(altered) is None


def test_fused_encode_matches_encode_then_decode(spark):
    """``encode_documents``' single fused pass gives chunks bit-identical to
    the stand-alone encode UDF and the text ``decode_chunks`` rebuilds."""
    from airflow_pipeline_text_processing_spark.functions.codec_udfs import (
        decode_chunks,
        encode_chunks,
    )

    fused = encode_documents(_docs(spark)).select("path", "chunks", "reconstructed_text")
    chained = (
        _docs(spark)
        .select("path", encode_chunks(F.col("text")).alias("chunks"))
        .withColumn("decoded", decode_chunks("chunks"))
    )
    got = {r.path: r for r in fused.collect()}
    want = {r.path: r for r in chained.collect()}
    assert got.keys() == want.keys() and len(got) == len(TEXTS)
    for path, r in want.items():
        assert got[path].chunks == r.chunks
        assert got[path].reconstructed_text == r.decoded


def test_tracking_columns_record_failed_document(spark):
    """One projection builds the tracking rows of every tick: a failed
    document carries ``encode_documents``' reason (here a round trip that
    does not reproduce the recorded hash: the checksum mismatch), and
    ``output_file`` is whatever the caller passes (a NULL stays NULL; the
    tick passes the processed-sink path, on the batch run and the stream
    alike)."""
    from airflow_pipeline_text_processing_spark.plans.pipeline import (
        CHECKSUM_MISMATCH,
        tracking_columns,
    )

    h_ok = hashlib.md5(b"ok body").hexdigest()
    encoded = encode_documents(spark.createDataFrame(
        [("h_bad", "file:///in/bad.txt", 7, "bad body"),
         (h_ok, "file:///in/ok.txt", 5, "ok body")],
        "file_hash string, path string, file_size long, text string",
    ))
    stream_rows = {
        r.file_hash: r
        for r in encoded.select(*tracking_columns(F.lit(None))).collect()
    }
    assert stream_rows["h_bad"].error_message == CHECKSUM_MISMATCH
    assert stream_rows["h_bad"].status == "failed"
    assert stream_rows["h_bad"].file_path == "file:///in/bad.txt"
    assert stream_rows["h_bad"].output_file is None
    assert stream_rows[h_ok].status == "completed"
    assert stream_rows[h_ok].error_message is None
    batch = encoded.select(*tracking_columns(F.concat(F.lit("/out/"), F.col("path"))))
    assert batch.columns == [
        "file_hash", "file_path", "file_size", "processed_at", "status",
        "output_file", "error_message", "created_at",
    ]
    bad = batch.filter(F.col("file_hash") == "h_bad").first()
    assert bad.output_file == "/out/file:///in/bad.txt"
    assert bad.error_message == CHECKSUM_MISMATCH


def test_repair_recovers_corrupted_chunks(spark):
    """Opt-in RS repair (op 42): corrupt <= nsym/2 bytes of a chunk's
    payload, re-encode to DNA so the stored checksum/parity no longer match
    the raw decode, then verify validate_chunk_table(repair=True) corrects
    the payload back to the original bytes."""
    from airflow_pipeline_text_processing_spark.codec import goldman
    from airflow_pipeline_text_processing_spark.codec.chunker import DEFAULT_RS_NSYM

    texts = ["the quick brown fox jumps over the lazy dog", "second doc body"]
    chunks = chunk_table(encode_documents(_docs(spark, texts))).collect()

    corrupted_rows = []
    for r in chunks:
        raw = goldman.dna_to_bytes(r.dna_sequence, r.original_length_bytes)
        bad = bytearray(raw)
        for pos in (1, 5, 9)[: max(1, DEFAULT_RS_NSYM // 2 - 2)]:
            bad[pos % len(bad)] ^= 0xFF
        d = r.asDict()
        d["dna_sequence"] = goldman.bytes_to_dna(bytes(bad))
        corrupted_rows.append(d)
    corrupted = spark.createDataFrame(corrupted_rows, chunk_table(
        encode_documents(_docs(spark, texts))).schema)

    plain = validate_chunk_table(corrupted)
    assert plain.filter(F.col("valid")).count() == 0  # corruption detected

    fixed = validate_chunk_table(corrupted, repair=True)
    rows = fixed.collect()
    assert all(r.valid and r.repaired_ok for r in rows)
    # repaired payloads reassemble to the original documents byte-exact
    rebuilt = {
        r.file_hash: hashlib.md5(r.data_bytes).hexdigest() for r in rows
    }
    for r in rows:
        assert rebuilt[r.file_hash] == r.checksum

    # beyond-capacity corruption stays invalid (no false repair)
    hopeless_rows = []
    for r in chunks:
        raw = goldman.dna_to_bytes(r.dna_sequence, r.original_length_bytes)
        bad = bytearray(raw)
        for pos in range(min(len(bad), DEFAULT_RS_NSYM)):  # > nsym/2 errors
            bad[pos] ^= 0xA5
        d = r.asDict()
        d["dna_sequence"] = goldman.bytes_to_dna(bytes(bad))
        hopeless_rows.append(d)
    hopeless = spark.createDataFrame(hopeless_rows, corrupted.schema)
    assert (
        validate_chunk_table(hopeless, repair=True).filter(F.col("valid")).count()
        == 0
    )

    # the stored code is parity only for a payload of one RS block: one
    # flipped byte in a full 1000-byte chunk is detected, not repaired,
    # and never falsely repaired
    big = chunk_table(encode_documents(_docs(spark, ["abcdefghij" * 100]))).collect()
    assert [r.original_length_bytes for r in big] == [1000]
    bad = bytearray(goldman.dna_to_bytes(big[0].dna_sequence, 1000))
    bad[500] ^= 0xFF
    d = big[0].asDict()
    d["dna_sequence"] = goldman.bytes_to_dna(bytes(bad))
    flipped = spark.createDataFrame([d], corrupted.schema)
    assert [
        (r.valid, r.repaired_ok)
        for r in validate_chunk_table(flipped, repair=True).collect()
    ] == [(False, False)]


def test_run_pipeline_idempotent(spark, tmp_path):
    in_dir = tmp_path / "input"
    in_dir.mkdir()
    for i, t in enumerate(["alpha bravo", "charlie delta", "écho foxtrot"]):
        (in_dir / f"f{i}.txt").write_text(t, encoding="utf-8")
    (in_dir / "ignored.csv").write_text("not,text")

    cfg = PipelineConfig(
        input_dir=str(in_dir),
        output_dir=str(tmp_path / "out"),
        tracking_path=str(tmp_path / "tracking"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    r1 = run_pipeline(spark, cfg)
    assert r1 == {"processed": 3, "failed": 0, "skipped": 0, "status": "success"}

    tracking = TrackingTable(spark, cfg.tracking_path)
    assert tracking.count() == 3

    # second run: all content already processed -> no new work, table stable
    r2 = run_pipeline(spark, cfg)
    assert r2["processed"] == 0 and r2["failed"] == 0 and r2["skipped"] == 3
    assert tracking.count() == 3

    # same content at a NEW path is still skipped (content-hash semantics,
    # SURVEY.md §4 -- stronger than path-based checkpointing)
    (in_dir / "copy_of_f0.txt").write_text("alpha bravo", encoding="utf-8")
    r3 = run_pipeline(spark, cfg)
    assert r3["processed"] == 0 and tracking.count() == 3

    # genuinely new content is processed
    (in_dir / "new.txt").write_text("golf hotel", encoding="utf-8")
    r4 = run_pipeline(spark, cfg)
    assert r4["processed"] == 1 and tracking.count() == 4

    # outputs exist and round-trip
    out = spark.read.json(str(tmp_path / "out" / "processed"))
    assert out.count() == 4
    reports = spark.read.json(str(tmp_path / "out" / "reports"))
    assert reports.filter(F.col("status") != "completed").count() == 0
    chunks = spark.read.parquet(str(tmp_path / "out" / "chunks"))
    assert chunks.count() >= 4


def _tick_cfg(tmp_path, files: dict) -> PipelineConfig:
    in_dir = tmp_path / "input"
    in_dir.mkdir(exist_ok=True)
    for name, text in files.items():
        (in_dir / name).write_text(text, encoding="utf-8")
    return PipelineConfig(
        input_dir=str(in_dir),
        output_dir=str(tmp_path / "out"),
        tracking_path=str(tmp_path / "tracking"),
        dlq_dir=str(tmp_path / "dlq"),
    )


def test_within_tick_duplicates_processed_twice_tracked_once(spark, tmp_path):
    """Two files with the same new content in one tick are both processed
    (as the reference's per-file loop does), and tracking keeps the hash
    once (its INSERT ... ON CONFLICT DO NOTHING), with the lexicographic-min
    path: ``append_new`` keeps it through ``keep_least``."""
    cfg = _tick_cfg(tmp_path, {"a.txt": "same words", "b.txt": "same words",
                               "c.txt": "other words"})
    res = run_pipeline(spark, cfg)
    assert res == {"processed": 3, "failed": 0, "skipped": 0, "status": "success"}
    raw = spark.read.parquet(cfg.tracking_path).select("file_hash").collect()
    dup = hashlib.md5(b"same words").hexdigest()
    assert sorted(r.file_hash for r in raw) == sorted(
        {dup, hashlib.md5(b"other words").hexdigest()}
    )
    assert TrackingTable(spark, cfg.tracking_path).current().filter(
        F.col("file_hash") == dup).first().file_path.endswith("/a.txt")
    out = spark.read.json(f"{cfg.output_dir}/processed")
    assert out.filter(F.col("text") == "same words").count() == 2


# Spark jobs of one tick that lands new files beside tracked ones: 1
# tracking broadcast, 1 rebalance exchange, 3 for the tally (cache stage,
# partial and final aggregate), 3 sink writes, 3 for the tracking append.
TICK_JOBS = 11


def test_tick_spark_job_count(spark, tmp_path):
    cfg = _tick_cfg(tmp_path, {f"old{i}.txt": f"old document {i} " * 50 for i in range(6)})
    run_pipeline(spark, cfg)
    for i in range(3):
        (tmp_path / "input" / f"new{i}.txt").write_text(f"new document {i} é " * 60)
    sc = spark.sparkContext
    group = f"tick-shape-{os.getpid()}"
    sc.setJobGroup(group, group)
    try:
        res = run_pipeline(spark, cfg)
    finally:
        sc.setJobGroup("", "")
    assert res == {"processed": 3, "failed": 0, "skipped": 6, "status": "success"}
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= TICK_JOBS, len(jobs)


class InjectedCrash(RuntimeError):
    pass


def _crash_writes(monkeypatch, target: str, before: bool) -> None:
    """Make the DataFrame write to ``target`` (or a partition under it)
    raise: before it runs (``before``), or after it has landed."""
    for name in ("save", "json", "parquet"):
        real = getattr(DataFrameWriter, name)

        def write(self, path=None, *args, _real=real, **kwargs):
            hit = path == target or str(path).startswith(target + "/")
            if before and hit:
                raise InjectedCrash(path)
            _real(self, path, *args, **kwargs)
            if hit:
                raise InjectedCrash(path)

        monkeypatch.setattr(DataFrameWriter, name, write)


@pytest.mark.parametrize("crash_at", ["processed", "chunks", "reports", "tracking"])
def test_crash_then_rerun_writes_each_file_once(spark, tmp_path, monkeypatch, crash_at):
    """A tick that dies after one of its sink writes, or inside
    ``append_new`` before the tracking write lands, is repaired by running
    it again: every sink then holds each ``(file_hash, file)`` exactly once
    and tracking holds each hash once."""
    texts = {f"f{i}.txt": f"crash test body {i}" for i in range(4)}  # 1 chunk each
    cfg = _tick_cfg(tmp_path, texts)
    tracking_write = crash_at == "tracking"
    target = cfg.tracking_path if tracking_write else f"{cfg.output_dir}/{crash_at}"
    _crash_writes(monkeypatch, target, before=tracking_write)
    with pytest.raises(InjectedCrash):
        run_pipeline(spark, cfg)
    monkeypatch.undo()

    assert run_pipeline(spark, cfg)["processed"] == 4
    want = sorted((hashlib.md5(t.encode()).hexdigest(), n) for n, t in texts.items())

    def base(c):
        return F.element_at(F.split(c, "/"), -1)

    sinks = {
        "processed": spark.read.json(f"{cfg.output_dir}/processed").select(
            F.md5(F.encode("text", "UTF-8")), base("path")),
        "reports": spark.read.json(f"{cfg.output_dir}/reports").select(
            "original_checksum", base("file_path")),
        "chunks": spark.read.parquet(f"{cfg.output_dir}/chunks").select(
            "file_hash", base("file_path")),
    }
    for sink, df in sinks.items():
        assert sorted(tuple(r) for r in df.collect()) == want, sink
    tracked = spark.read.parquet(cfg.tracking_path).select("file_hash").collect()
    assert sorted(r.file_hash for r in tracked) == sorted(h for h, _ in want)


def test_stream_batch_writes_every_sink(spark, tmp_path):
    """A micro-batch runs the batch run's tick: the processed and report
    sinks hold its documents and tracking points at the processed sink."""
    cfg = _tick_cfg(tmp_path, {})
    paths = ["file:///in/s0.txt", "file:///in/s1.txt"]
    batch = spark.createDataFrame(
        [(p, f"stream body {i}") for i, p in enumerate(paths)], "path string, text string"
    )
    process_batch(spark, cfg, batch, batch_id=3)
    processed = spark.read.json(f"{cfg.output_dir}/processed").collect()
    assert sorted(r.path for r in processed) == paths
    reports = spark.read.json(f"{cfg.output_dir}/reports").collect()
    assert sorted(r.file_path for r in reports) == paths
    tracked = spark.read.parquet(cfg.tracking_path).collect()
    assert len(tracked) == 2 and all(r.output_file for r in tracked)


def _rows(spark, path: str) -> int:
    return spark.read.json(path).count() if os.path.isdir(path) else 0


def test_rerun_of_tracked_files_writes_nothing(spark, tmp_path):
    cfg = _tick_cfg(tmp_path, {f"f{i}.txt": f"body {i}" for i in range(4)})
    assert run_pipeline(spark, cfg)["processed"] == 4
    before = [_rows(spark, f"{cfg.output_dir}/{s}") for s in ("processed", "reports")]
    tracked = spark.read.parquet(cfg.tracking_path).count()

    res = run_pipeline(spark, cfg)
    assert res == {"processed": 0, "failed": 0, "skipped": 4, "status": "success"}
    after = [_rows(spark, f"{cfg.output_dir}/{s}") for s in ("processed", "reports")]
    assert after == before == [4, 4]
    assert not os.path.exists(cfg.dlq_dir)
    assert spark.read.parquet(cfg.tracking_path).count() == tracked


def test_empty_file_counts_as_skipped(spark, tmp_path):
    """An empty ``.txt`` is listed (``inputFiles()``) but the wholetext
    reader gives it no row, so nothing encodes or tracks it: it lands in
    ``skipped``, the counter for every listed file that was neither
    processed nor failed."""
    cfg = _tick_cfg(tmp_path, {"a.txt": "alpha", "b.txt": "bravo", "empty.txt": ""})
    res = run_pipeline(spark, cfg)
    assert res == {"processed": 2, "failed": 0, "skipped": 1, "status": "success"}
    assert spark.read.parquet(cfg.tracking_path).count() == 2


RAW_FILES = {
    "good.txt": b"good document",
    "bom.txt": b"\xef\xbb\xbfhello bom",
    "bad.txt": b"hello \xff\xfe world",
    "empty.txt": b"",
}


def test_undecodable_file_fails_alone_in_batch_and_stream(spark, tmp_path):
    """A file that is not UTF-8 fails alone: tracking records it as failed
    under the md5 of its raw bytes with the decode reason, it is the DLQ's
    one row, and the tick completes for every other file.  The stream's
    micro-batch over the same files gives the same tracking rows."""
    cfg = _tick_cfg(tmp_path, {})
    for name, raw in RAW_FILES.items():
        (tmp_path / "input" / name).write_bytes(raw)
    res = run_pipeline(spark, cfg)
    assert res == {"processed": 2, "failed": 1, "skipped": 1, "status": "success"}

    def tracked(c):
        return sorted(
            (r.file_hash, os.path.basename(r.file_path), r.file_size, r.status,
             r.error_message)
            for r in spark.read.parquet(c.tracking_path).collect()
        )

    want = sorted(
        (hashlib.md5(raw).hexdigest(), name, len(raw),
         "failed" if name == "bad.txt" else "completed",
         NOT_UTF8 if name == "bad.txt" else None)
        for name, raw in RAW_FILES.items() if raw
    )
    assert tracked(cfg) == want
    dlq = spark.read.json(cfg.dlq_dir).collect()
    assert [(os.path.basename(r.original_file), r.error_message) for r in dlq] == [
        ("bad.txt", NOT_UTF8)
    ]
    # the DLQ keeps the file's bytes (base64 in JSON), so the payload is
    # recoverable and still hashes to its tracked file_hash
    content = base64.b64decode(dlq[0].content)
    assert content == RAW_FILES["bad.txt"]
    bad_hash = [h for h, name, *_ in tracked(cfg) if name == "bad.txt"]
    assert [hashlib.md5(content).hexdigest()] == bad_hash

    stream_cfg = PipelineConfig(
        input_dir=cfg.input_dir,
        output_dir=str(tmp_path / "stream_out"),
        tracking_path=str(tmp_path / "stream_tracking"),
        dlq_dir=str(tmp_path / "stream_dlq"),
    )
    process_batch(spark, stream_cfg, text_files(spark.read, cfg.input_dir), batch_id=0)
    assert tracked(stream_cfg) == want


def test_unreachable_tracking_path_fails_before_any_sink(spark, tmp_path):
    """A tracking path whose filesystem cannot be used is an error, not an
    empty table: the tick fails before it encodes or writes any sink."""
    cfg = _tick_cfg(tmp_path, {"a.txt": "alpha", "b.txt": "bravo"})
    cfg.tracking_path = "nosuchfs://bucket/tracking"
    with pytest.raises(Exception, match="nosuchfs"):
        run_pipeline(spark, cfg)
    out = tmp_path / "out"
    assert not out.exists() or not any(out.iterdir())
    assert not (tmp_path / "dlq").exists()


def test_tracking_dir_without_parquet_reads_empty(spark, tmp_path):
    """A tracking directory that holds no parquet file, only the
    ``_SUCCESS`` marker and an empty ``_temporary/`` an interrupted write
    leaves, is an empty table: the tick processes every file and tracking
    holds each hash once."""
    cfg = _tick_cfg(tmp_path, {"a.txt": "alpha", "b.txt": "bravo", "c.txt": "alpha"})
    os.makedirs(os.path.join(cfg.tracking_path, "_temporary"))
    open(os.path.join(cfg.tracking_path, "_SUCCESS"), "w").close()
    res = run_pipeline(spark, cfg)
    assert res == {"processed": 3, "failed": 0, "skipped": 0, "status": "success"}
    raw = spark.read.parquet(cfg.tracking_path).select("file_hash").collect()
    assert sorted(r.file_hash for r in raw) == sorted(
        hashlib.md5(t).hexdigest() for t in (b"alpha", b"bravo")
    )


def test_bootstrap_sample_only_when_empty(tmp_path):
    from airflow_pipeline_text_processing_spark.sources.text_dir import (
        bootstrap_sample,
    )

    made = bootstrap_sample(str(tmp_path / "inp"))
    assert made is not None and made.endswith("sample_input.txt")
    assert bootstrap_sample(str(tmp_path / "inp")) is None  # idempotent


def test_tracking_status_update(spark, tmp_path):
    t = TrackingTable(spark, str(tmp_path / "track"))
    recs = spark.createDataFrame(
        [("h1", "/a", 10), ("h2", "/b", 20)], "file_hash string, file_path string, file_size long"
    ).select(
        "*",
        F.current_timestamp().alias("processed_at"),
        F.lit("processing").alias("status"),
        F.lit(None).cast("string").alias("output_file"),
        F.lit(None).cast("string").alias("error_message"),
        F.current_timestamp().alias("created_at"),
    )
    t.append_new(recs)
    # conflicting re-insert is a no-op (ON CONFLICT DO NOTHING)
    t.append_new(recs.withColumn("status", F.lit("pending")))
    assert t.count() == 2
    assert t.current().filter(F.col("status") == "processing").count() == 2

    t.update_status(spark.createDataFrame([("h1",)], "file_hash string"), "completed")
    cur = {r.file_hash: r.status for r in t.current().collect()}
    assert cur == {"h1": "completed", "h2": "processing"}

    with pytest.raises(ValueError):
        t.update_status(spark.createDataFrame([("h1",)], "file_hash string"), "bogus")

    t.compact()
    assert t.count() == 2
    assert {r.file_hash: r.status for r in t.current().collect()} == cur


def test_jdbc_tracking_roundtrip(spark, tmp_path):
    """Op-4 JDBC parity path (ref init-scripts.sql:5-14, dags/dag.py:446):
    real spark.read/write.jdbc round trip against embedded Derby (the JDBC
    engine Spark ships), including ON-CONFLICT-DO-NOTHING idempotency and
    the min-path pick among same-hash twins, as in ``append_new``."""
    url = f"jdbc:derby:{tmp_path}/trackdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    tt = TrackingTable(spark, str(tmp_path / "unused_parquet"))

    recs = spark.createDataFrame(
        [
            ("h1", "/in/b.txt", 11, "completed", "/out/b.txt"),  # twin of a.txt
            ("h1", "/in/a.txt", 11, "completed", "/out/a.txt"),
            ("h2", "/in/b.txt", 22, "completed", "/out/b.txt"),
        ],
        "file_hash string, file_path string, file_size long, "
        "status string, output_file string",
    ).select(
        "*",
        F.current_timestamp().alias("processed_at"),
        F.lit(None).cast("string").alias("error_message"),
        F.current_timestamp().alias("created_at"),
    )
    tt.write_jdbc(recs, url, properties=props)
    back = tt.read_jdbc(url, properties=props)
    assert back.count() == 2
    assert set(r.FILE_HASH if hasattr(r, "FILE_HASH") else r.file_hash
               for r in back.select("file_hash").collect()) == {"h1", "h2"}
    assert {r.file_hash: r.file_path
            for r in back.select("file_hash", "file_path").collect()} == {
        "h1": "/in/a.txt", "h2": "/in/b.txt"}

    # idempotent append: re-writing the same keys inserts nothing
    tt.write_jdbc(recs, url, properties=props)
    assert tt.read_jdbc(url, properties=props).count() == 2

    # partitioned parallel read over a numeric column
    ranged = tt.read_jdbc(
        url, properties=props, partition_column="file_size", num_partitions=2
    )
    assert ranged.count() == 2
    assert ranged.rdd.getNumPartitions() == 2


def test_golden_reference_corpus(spark, tmp_path):
    cfg = PipelineConfig(
        input_dir="/root/reference/data/input",
        output_dir=str(tmp_path / "out"),
        tracking_path=str(tmp_path / "tracking"),
        dlq_dir=str(tmp_path / "dlq"),
    )
    res = run_pipeline(spark, cfg)
    assert res["processed"] == 4 and res["failed"] == 0
    out = spark.read.json(str(tmp_path / "out" / "processed")).collect()
    for row in out:
        golden = os.path.join("/root/reference/data/input", row.filename)
        with open(golden, encoding="utf-8") as f:
            assert row.text == f.read()


def test_sql_registered_udf_surface(spark):
    """register_all makes the whole codec surface SQL-callable (SURVEY §2
    UDF/UDAF/UDTF row): scalar UDFs compose in SQL, and the chunker runs as
    a real LATERAL UDTF with correct byte budgets and reassembly."""
    from airflow_pipeline_text_processing_spark.functions.codec_udfs import (
        register_all,
    )

    register_all(spark)
    spark.createDataFrame(
        [(1, "héllo wörld, " * 7), (2, "plain ascii text")],
        "doc_id long, text string",
    ).createOrReplaceTempView("sql_docs")

    # scalar UDFs compose: encode -> decode round trip in pure SQL
    rt = spark.sql(
        """
        SELECT doc_id,
               decode(dna_decode(dna_encode(encode(text, 'utf-8')),
                                 octet_length(text)), 'utf-8') AS back,
               text
        FROM sql_docs
        """
    ).collect()
    assert all(r.back == r.text for r in rt)

    # UDTF: LATERAL 1->N chunking, UTF-8-safe at a tiny byte budget
    rows = spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.index, c.chunk_text, c.n_bytes
        FROM sql_docs d, LATERAL chunk_text(d.text, 20) c
        """
    ).collect()
    assert all(r.n_bytes <= 20 for r in rows)
    assert all(len(r.chunk_text.encode()) == r.n_bytes for r in rows)
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r["index"])):
        by_doc.setdefault(r.doc_id, []).append(r.chunk_text)
    originals = {r.doc_id: r.text for r in spark.table("sql_docs").collect()}
    assert {d: "".join(ps) for d, ps in by_doc.items()} == originals

    # a budget narrower than a character cuts it into bytes that are not
    # UTF-8 alone: each such piece has a NULL text and keeps its id, index
    # and size; a budget of one character's width keeps every character
    spark.createDataFrame(
        [(1, "数据")], "doc_id long, text string"
    ).createOrReplaceTempView("sql_cjk")

    def pieces(width):
        return [tuple(r) for r in spark.sql(
            f"SELECT c.* FROM sql_cjk d, LATERAL chunk_text(d.text, {width}) c"
        ).collect()]

    assert sorted(pieces(1), key=lambda p: p[1]) == [
        (f"dna_chunk_{i:03d}", i, None, 1) for i in range(6)
    ]
    assert sorted(pieces(3), key=lambda p: p[1]) == [
        ("dna_chunk_000", 0, "数", 3), ("dna_chunk_001", 1, "据", 3)
    ]
