"""The three workloads: ``backfill``, ``tick`` and ``curate``.

Each workload drives a user-facing flow through the package's public entry
points.  The runner calls, in order: ``prepare()`` a few times (the last
preparation is the one used), ``warm()`` once, then ``before_op(i)``
(untimed), ``op(i)`` (timed, returns the input bytes it consumed) and
``after_op(i)`` (untimed) in a closed loop with one client, and finally
``check()`` outside the timed region.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
import shutil
from dataclasses import dataclass

import pyspark.sql.functions as F

import gen
from airflow_pipeline_text_processing_spark.codec.goldman import dna_to_bytes
from airflow_pipeline_text_processing_spark.operators.dedup import (
    canonical_pick,
    minhash_dedup_pairs,
)
from airflow_pipeline_text_processing_spark.plans.curation import curate_documents
from airflow_pipeline_text_processing_spark.plans.pipeline import PipelineConfig, run_pipeline
from airflow_pipeline_text_processing_spark.session import sweep_persistent_rdds
from airflow_pipeline_text_processing_spark.sources.text_dir import read_text_dir
from tracing import NullTracer


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


class Workload:
    name = ""
    #: directory of ``.txt`` inputs the timed ops read
    input_dir: str = ""
    #: tracking table of record, probed in the traced run (None: none yet)
    tracking_path: str | None = None
    #: untimed ops before the timed loop
    WARM_OPS = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.docs_attempted = 0
        self.docs_failed = 0
        #: ``run_pipeline`` return values, one per op that called it
        self.pipeline_results: list[dict] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def sample_texts(self) -> list[str]:
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed ops on the prepared inputs: the first starts the Python
        workers and pays the JVM's first-use compilation, the next lets the
        JIT settle, so the timed ops sit past the steepest speed-up."""
        for i in range(-self.WARM_OPS, 0):
            self.before_op(i)
            self.op(i)
            self.after_op(i)

    def before_op(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass


# ---------------------------------------------------------------- pipeline


def pipeline_config(input_dir: str, root: str, run_id: str):
    return PipelineConfig(
        input_dir=input_dir,
        output_dir=os.path.join(root, "output"),
        tracking_path=os.path.join(root, "tracking"),
        dlq_dir=os.path.join(root, "dead_letter"),
        run_id=run_id,
    )


def _tracking_rows(spark, path: str) -> list:
    """Every row of the tracking table as written, not ``current()``'s one row
    per hash, so a hash appended twice shows up as a duplicate."""
    return spark.read.parquet(path).select("file_hash", "file_path").collect()


class Backfill(Workload):
    """One ``run_pipeline`` per op over a directory of fresh files with an
    empty tracking table (each op gets its own output and tracking paths)."""

    name = "backfill"
    N_FILES = 64
    TOTAL_BYTES = 800_000
    MULTIBYTE_SHARE = 0.3
    N_SAME_CONTENT = 4

    def prepare(self, rep: int) -> None:
        rng = random.Random(self.seed)
        self.corpus = gen.document_corpus(
            rng, "doc", self.N_FILES, self.TOTAL_BYTES, self.MULTIBYTE_SHARE,
            self.N_SAME_CONTENT,
        )
        self.input_dir = self.path(f"backfill{rep}", "input")
        self.corpus.write(self.input_dir)
        self.input_bytes = self.corpus.n_bytes

    def sample_texts(self) -> list[str]:
        return list(self.corpus.texts.values())

    def _op_root(self, i: int) -> str:
        return self.path("runs", f"op{i}")

    def before_op(self, i: int) -> None:
        # keep only the latest op's outputs on disk; the checks read those
        shutil.rmtree(self._op_root(i - 1), ignore_errors=True)

    def op(self, i: int, tracer=None) -> int:
        cfg = pipeline_config(self.input_dir, self._op_root(i), f"backfill-{i}")
        self.pipeline_results.append(run_pipeline(self.spark, cfg))
        self.last_cfg = cfg
        self.tracking_path = cfg.tracking_path
        return self.input_bytes

    def check(self) -> list[Check]:
        n = len(self.corpus.texts)
        checks = []
        for i, res in enumerate(self.pipeline_results):
            self.docs_attempted += n
            self.docs_failed += n - res["processed"]
            checks.append(Check(
                f"op{i} processed every file",
                res["processed"] == n and res["failed"] == 0 and res["skipped"] == 0,
                str(res),
            ))
        checks += self._check_chunks()
        want = {gen.md5_hex(t) for t in self.corpus.texts.values()}
        rows = _tracking_rows(self.spark, self.last_cfg.tracking_path)
        got = [r["file_hash"] for r in rows]
        checks.append(Check(
            "tracking holds each distinct content once",
            sorted(got) == sorted(want), f"{len(got)} rows, {len(want)} distinct",
        ))
        return checks

    def _check_chunks(self) -> list[Check]:
        """Decode the last op's chunk table with ``codec.goldman.dna_to_bytes``
        and compare every file to its source bytes."""
        rows = (
            self.spark.read.parquet(os.path.join(self.last_cfg.output_dir, "chunks"))
            .select("file_path", "index", "dna_sequence", "original_length_bytes",
                    "checksum", "chunk_size")
            .collect()
        )
        pieces: dict[str, list] = {}
        for r in rows:
            pieces.setdefault(r["file_path"].rsplit("/", 1)[-1], []).append(r)
        bad_files, bad_chunks = [], 0
        for name, text in self.corpus.texts.items():
            parts = []
            for r in sorted(pieces.get(name, []), key=lambda r: r["index"]):
                raw = dna_to_bytes(r["dna_sequence"], r["original_length_bytes"])
                try:
                    raw.decode("utf-8")  # the chunker never splits a code point
                except UnicodeDecodeError:
                    bad_chunks += 1
                if hashlib.md5(raw).hexdigest() != r["checksum"] or len(raw) > 1000:
                    bad_chunks += 1
                parts.append(raw)
            if b"".join(parts) != text.encode("utf-8"):
                bad_files.append(name)
        self.docs_attempted += len(self.corpus.texts)
        self.docs_failed += len(bad_files)
        return [
            Check("chunk table decodes to the source bytes", not bad_files,
                  f"{len(bad_files)} of {len(self.corpus.texts)} files differ"),
            Check("every chunk is valid UTF-8 within its checksum and size",
                  bad_chunks == 0, f"{bad_chunks} bad of {len(rows)} chunks"),
        ]


class Tick(Workload):
    """Cron ticks against a directory and tracking table that already hold
    state: each op lands new files (some renamed copies of processed content)
    and calls ``run_pipeline`` over the whole directory.  Every tick starts
    from a fresh copy of the same state, so each timed tick lists, hashes and
    looks up the same number of files and tracking rows however many ticks a
    run fits in."""

    name = "tick"
    M_FILES = 240
    M_BYTES = 960_000
    NEW_PER_TICK = 32
    COPIES_PER_TICK = 8
    BYTES_PER_NEW_FILE = 4_000
    MULTIBYTE_SHARE = 0.3

    def prepare(self, rep: int) -> None:
        rng = random.Random(self.seed)
        self.state = gen.document_corpus(
            rng, "base", self.M_FILES, self.M_BYTES, self.MULTIBYTE_SHARE
        )
        self.state_root = self.path(f"tick{rep}", "state")
        self.state.write(os.path.join(self.state_root, "input"))
        self.ticks: list[tuple[int, gen.Corpus]] = []  # (op index, its batch)
        self.tick_rng = random.Random(self.seed * 7919 + 1)

    def warm(self) -> None:
        # the state build is the process's first pipeline run, so it pays the
        # cold start; the warm-up ticks after it settle the tick's plan shapes
        cfg = pipeline_config(os.path.join(self.state_root, "input"), self.state_root,
                              "tick-state")
        self.state_result = run_pipeline(self.spark, cfg)
        super().warm()

    def sample_texts(self) -> list[str]:
        return list(self.state.texts.values())

    def _op_cfg(self, i: int):
        root = self.path("ticks", f"op{i}")
        return pipeline_config(os.path.join(root, "input"), root, f"tick-{i}")

    def before_op(self, i: int) -> None:
        cfg = self._op_cfg(i)
        shutil.copytree(self.state_root, os.path.dirname(cfg.input_dir))
        batch = gen.tick_batch(
            self.tick_rng, len(self.ticks), self.NEW_PER_TICK, self.COPIES_PER_TICK,
            self.state.texts, self.BYTES_PER_NEW_FILE, self.MULTIBYTE_SHARE,
        )
        self.ticks.append((i, batch))
        batch.write(cfg.input_dir)  # the files have landed: the tick starts
        self.input_dir, self.tracking_path = cfg.input_dir, cfg.tracking_path
        # input of the tick: the new content the codec must process
        self.batch_bytes = sum(len(t.encode("utf-8")) for n, t in batch.texts.items()
                               if n not in batch.copies)

    def op(self, i: int, tracer=None) -> int:
        self.pipeline_results.append(run_pipeline(self.spark, self._op_cfg(i)))
        return self.batch_bytes

    def check(self) -> list[Check]:
        checks = [Check("state build processed every file",
                        self.state_result["processed"] == self.M_FILES
                        and self.state_result["failed"] == 0, str(self.state_result))]
        state_hashes = {gen.md5_hex(t) for t in self.state.texts.values()}
        for (i, batch), res in zip(self.ticks, self.pipeline_results):
            n_new = len(batch.texts) - len(batch.copies)
            self.docs_attempted += len(batch.texts)
            self.docs_failed += max(0, n_new - res["processed"])
            ok = (res["processed"] == n_new and res["failed"] == 0
                  and res["skipped"] == self.M_FILES + len(batch.copies))
            rows = _tracking_rows(self.spark, self._op_cfg(i).tracking_path)
            got = [r["file_hash"] for r in rows]
            want = state_hashes | {gen.md5_hex(t) for n, t in batch.texts.items()
                                   if n not in batch.copies}
            leaked = {r["file_path"].rsplit("/", 1)[-1] for r in rows} & set(batch.copies)
            checks += [
                Check(f"op{i} processed {n_new} new files, skipped the rest", ok, str(res)),
                Check(f"op{i} tracking holds each landed hash exactly once",
                      len(got) == len(set(got)) and set(got) == want,
                      f"{len(got)} rows, {len(want)} unique landed"),
                Check(f"op{i} renamed copies were skipped", not leaked,
                      f"{len(leaked)} of {len(batch.copies)} copies tracked"),
            ]
        return checks


# ----------------------------------------------------------------- curate


def read_dedup_docs(spark, input_dir: str):
    """The corpus directory as ``(doc_id, text)``; the id is the file name."""
    return read_text_dir(spark, input_dir).select(
        F.regexp_extract("filename", r"^(\d+)", 1).cast("long").alias("doc_id"), "text"
    )


def word_jaccard(a: str, b: str, n: int = 3) -> float:
    """Pure-Python word 3-shingle Jaccard with the engine's tokenizer
    (lowercased ``[a-z0-9]+`` runs; a short document is one shingle)."""

    def shingles(text: str) -> set[str]:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - (n - 1), 1))}

    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class Curate(Workload):
    """Near-duplicate dedup and curation over a corpus with planted clusters:
    ``minhash_dedup_pairs`` -> ``canonical_pick`` -> keep ``is_kept`` ->
    ``curate_documents``."""

    name = "curate"
    N_DOCS = 750
    N_CLUSTERS = 90
    WORDS_PER_DOC = (200, 380)  # about 1.5 KB a document
    #: documents of the warm-up corpus
    WARM_DOCS = 150
    WARM_OPS = 1
    THRESHOLD = 0.5
    #: planted pairs that MinHash-LSH (16 permutations, bands of 4) must find;
    #: every planted pair has Jaccard >= ~0.8, found with probability >= 0.9
    RECALL_FLOOR = 0.8

    def prepare(self, rep: int) -> None:
        self.corpus = gen.dedup_corpus(random.Random(self.seed), self.N_DOCS, self.N_CLUSTERS,
                                       self.WORDS_PER_DOC)
        self.input_dir = self.path(f"curate{rep}", "input")
        self.corpus.write(self.input_dir)
        self.input_bytes = sum(len(t.encode("utf-8")) for t in self.corpus.texts.values())
        self.warm_dir = self.path(f"curate{rep}", "warm")
        gen.dedup_corpus(random.Random(self.seed + 1), self.WARM_DOCS, self.N_CLUSTERS // 5,
                         self.WORDS_PER_DOC).write(self.warm_dir)
        self.results = []

    def warm(self) -> None:
        # the first op pays the JVM's first-use compilation and the Python
        # workers' start whatever the corpus size, so it runs on a small
        # corpus (its results are not checked).  Ops on the full corpus keep
        # speeding up for a few more (10.5, 9.5, 9.2, 8.9, 8.7 s on a 4-core
        # VM); warming past that would make a run too long to repeat often
        full, self.input_dir = self.input_dir, self.warm_dir
        for i in range(-self.WARM_OPS, 0):
            self.before_op(i)
            self.op(i)
        self.input_dir = full

    def sample_texts(self) -> list[str]:
        return list(self.corpus.texts.values())

    def before_op(self, i: int) -> None:
        sweep_persistent_rdds(self.spark)  # drop the previous op's checkpoints

    def op(self, i: int, tracer=None) -> int:
        tracer = tracer or NullTracer()
        docs = read_dedup_docs(self.spark, self.input_dir)
        with tracer.span("dedup.minhash_pairs"):
            pairs = minhash_dedup_pairs(docs, threshold=self.THRESHOLD).localCheckpoint()
        with tracer.span("dedup.canonical_pick"):
            pick = canonical_pick(docs, pairs).localCheckpoint()
        with tracer.span("curation.curate_documents"):
            kept = docs.join(pick.filter("is_kept = 1").select("doc_id"), "doc_id")
            curated = curate_documents(kept).collect()
        self._last = (pairs, pick, curated)
        return self.input_bytes

    def after_op(self, i: int) -> None:
        pairs, pick, curated = self._last
        self.results.append((pairs.collect(), pick.collect(), curated))

    def check(self) -> list[Check]:
        texts = self.corpus.texts
        planted = self.corpus.planted_pairs()
        checks = []
        for i, (pairs, pick, curated) in enumerate(self.results):
            self.docs_attempted += len(texts)
            picked = {r["doc_id"] for r in pick}
            self.docs_failed += len(set(texts) - picked)
            low = [(r["doc_a"], r["doc_b"]) for r in pairs
                   if word_jaccard(texts[r["doc_a"]], texts[r["doc_b"]]) < self.THRESHOLD]
            checks.append(Check(f"op{i} pairs meet the Jaccard threshold", not low,
                                f"{len(low)} of {len(pairs)} below {self.THRESHOLD}"))
            kept_per_cluster: dict[int, int] = {}
            for r in pick:
                kept_per_cluster[r["cluster_id"]] = kept_per_cluster.get(r["cluster_id"], 0) + r["is_kept"]
            bad = [c for c, k in kept_per_cluster.items() if k != 1]
            checks.append(Check(
                f"op{i} every cluster keeps one document",
                not bad and len(pick) == len(texts) == len(picked),
                f"{len(bad)} clusters of {len(kept_per_cluster)} keep != 1",
            ))
            found = {(r["doc_a"], r["doc_b"]) for r in pairs}
            recall = len(planted & found) / len(planted)
            checks.append(Check(f"op{i} planted-pair recall >= {self.RECALL_FLOOR}",
                                recall >= self.RECALL_FLOOR,
                                f"recall {recall:.3f} over {len(planted)} planted pairs"))
            kept = {r["doc_id"] for r in pick if r["is_kept"] == 1}
            cur_ids = [r["doc_id"] for r in curated]
            checks.append(Check(
                f"op{i} curation selects only kept documents, once each",
                bool(cur_ids) and set(cur_ids) <= kept and len(cur_ids) == len(set(cur_ids)),
                f"{len(cur_ids)} curated of {len(kept)} kept",
            ))
        return checks


WORKLOADS = {w.name: w for w in (Backfill, Tick, Curate)}
