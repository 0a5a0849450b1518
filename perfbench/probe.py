"""Layer probe of the traced run.

After a workload's traced loop, each layer's public functions are called once
on that workload's own inputs and state, each inside a span that also covers
the action materializing its result (Spark plans are lazy, so a span around
the call alone would time plan construction only).  Every traced run thus
reports every layer; the README says which layers a workload's flow actually
loads and which metric each should move.
"""

from __future__ import annotations

import os
import time

_CODEC_SAMPLE_BYTES = 300_000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _codec_kernels(texts: list[str]) -> dict:
    """Single-core driver-side throughput of each codec kernel, MB/s over a
    sample of the workload's documents."""
    from airflow_pipeline_text_processing_spark.codec import (
        build_chunks,
        bytes_to_dna,
        chunk_utf8_bytes,
        dna_to_bytes,
        rs_parity_tail,
    )

    sample, size = [], 0
    for t in texts:
        if size >= _CODEC_SAMPLE_BYTES:
            break
        sample.append(t)
        size += len(t.encode("utf-8"))
    mb = size / 1e6

    def rate(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return mb / (time.perf_counter() - t0)

    pieces = [p for t in sample for p in chunk_utf8_bytes(t)]
    dna = [bytes_to_dna(p) for p in pieces]
    return {
        "codec.build_chunks_mb_per_s": rate(lambda: [build_chunks(t) for t in sample]),
        "codec.goldman_encode_mb_per_s": rate(lambda: [bytes_to_dna(p) for p in pieces]),
        "codec.goldman_decode_mb_per_s": rate(
            lambda: [dna_to_bytes(d, len(p)) for d, p in zip(dna, pieces)]),
        "codec.rs_parity_mb_per_s": rate(lambda: [rs_parity_tail(p, 10) for p in pieces]),
        "codec.sample_mb": mb,
    }


def layer_probe(spark, wl, tracer, cores: int) -> dict:
    import pyspark.sql.functions as F

    from airflow_pipeline_text_processing_spark.functions.codec_udfs import (
        decode_chunks,
        encode_chunks,
    )
    from airflow_pipeline_text_processing_spark.operators.dedup import (
        canonical_pick,
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signatures,
    )
    from airflow_pipeline_text_processing_spark.plans.curation import curate_documents
    from airflow_pipeline_text_processing_spark.plans.pipeline import (
        chunk_table,
        document_report,
        encode_documents,
        run_pipeline,
    )
    from airflow_pipeline_text_processing_spark.sources.text_dir import read_text_dir
    from airflow_pipeline_text_processing_spark.sources.tracking import TrackingTable
    from workloads import pipeline_config, read_dedup_docs

    m: dict = {}
    out = os.path.join(wl.work, "probe")

    def timed(name: str, fn):
        with tracer.span(name, "probe") as rec:
            result = fn()
        m[name + "_s"] = rec["end"] - rec["start"]
        return result

    with tracer.span("probe", "probe"):
        if wl.tracking_path is None:
            # the flow keeps no tracking table: build one the pipeline's way
            cfg = pipeline_config(wl.input_dir, out, "probe")
            with tracer.job_group("probe.pipeline"):
                with tracer.span("pipeline.run", "probe.pipeline"):
                    wl.pipeline_results.append(run_pipeline(spark, cfg))
            wl.tracking_path = cfg.tracking_path

        docs = read_text_dir(spark, wl.input_dir)
        listed = timed("text_dir.read", lambda: docs.select("file_hash", "file_size").collect())
        input_mb = sum(r["file_size"] for r in listed) / 1e6

        hashes = timed("tracking.lookup", lambda: TrackingTable(
            spark, wl.tracking_path).processed_hashes().collect())
        m["tracking.rows"] = len(hashes)
        m["tracking.files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(wl.tracking_path) for f in fs)

        m.update(_codec_kernels(wl.sample_texts()))

        enc = timed("codec_udfs.encode", lambda: docs.select(
            "file_hash", encode_chunks(F.col("text")).alias("chunks")).localCheckpoint())
        timed("codec_udfs.decode", lambda: _noop(enc.select(decode_chunks("chunks"))))
        # share of the UDF's core-seconds that the bare kernel would need
        # (base: input MB at the single-core build_chunks rate)
        m["codec_udfs.kernel_share"] = (input_mb / m["codec.build_chunks_mb_per_s"]) / (
            cores * m["codec_udfs.encode_s"])

        encoded = timed("pipeline.encode_documents",
                        lambda: encode_documents(docs).localCheckpoint())
        ok = encoded.filter(F.col("status") == "completed")
        sink_cfg = pipeline_config(wl.input_dir, out, "probe-sinks")

        def sinks() -> None:
            ok.select("path", "filename", F.col("reconstructed_text").alias("text")).write.mode(
                "overwrite").json(os.path.join(out, "sinks", "processed"))
            chunk_table(ok).write.mode("overwrite").parquet(os.path.join(out, "sinks", "chunks"))
            document_report(encoded, sink_cfg).write.mode("overwrite").json(
                os.path.join(out, "sinks", "reports"))

        timed("pipeline.sinks", sinks)

        ids = docs.select(F.abs(F.xxhash64("path")).alias("doc_id"), "text")
        if wl.name == "curate":
            ids = read_dedup_docs(spark, wl.input_dir)
        timed("dedup.signatures", lambda: minhash_signatures(ids).localCheckpoint())
        m["dedup.candidates"] = lsh_candidate_pairs(minhash_signatures(ids)).count()
        with tracer.job_group("probe.dedup"):
            pairs = timed("dedup.minhash_pairs",
                          lambda: minhash_dedup_pairs(ids).localCheckpoint())
            pick = timed("dedup.canonical_pick",
                         lambda: canonical_pick(ids, pairs).localCheckpoint())
            kept = ids.join(pick.filter("is_kept = 1").select("doc_id"), "doc_id")
            m["curation.kept_docs"] = len(timed(
                "curation.curate_documents", lambda: curate_documents(kept).collect()))
        m["dedup.pairs"] = pairs.count()
    m["dedup.candidate_precision"] = m["dedup.pairs"] / max(1, m["dedup.candidates"])
    jobs = tracer.jobs("probe.dedup")
    m["dedup.spark_jobs"], m["dedup.spark_stages"] = jobs["spark_jobs"], jobs["spark_stages"]
    return m
