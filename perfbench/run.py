"""End-to-end benchmark of the text-processing pipeline.

    python3 perfbench/run.py --workload tick --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --seed 1          # every workload, one after another

Run from the repository root.  One run: start a local Spark session
(``local[<cores>]``), prepare the workload's inputs three times, warm the
session with the workload's untimed warm-up (``setup_s`` = start + warm-up +
median preparation), run the workload's op in a closed loop with one client
for ``--seconds``, check the outputs, and print one JSON line
``{"correct", "attempted", "failed", "metrics"}`` last.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` is the traced run and reports the
per-layer metrics.  Every reading also lands, with its environment record and
(traced) spans, in ``.perfbench_out/``.  Scratch files live in
``.perfbench_work/`` and are removed at exit.  The exit code is 0 only when
every output check passes; 2 when the package or Spark is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_pipeline_text_processing_spark"
WORKLOAD_NAMES = ("backfill", "tick", "curate")
SETUP_REPS = 3
#: four ops at least, so that the second-slowest (the tail) is not the median
MIN_OPS = 4
DRIVER_MEM = "1g"
#: time allowed beyond ``--seconds`` for start, warm-up, checks and the probe
WATCHDOG_SLACK_S = 150

E2E_UNITS = {
    "setup_s": "s",
    "input_mb_per_s": "MB/s",
    "tick_p50_s": "s",
    "tick_tail_s": "s",
    "peak_rss_mb": "MB",
}


def tail(values: list[float]) -> tuple[float, str]:
    """The highest of p99.9, p99, p95 and p90 that has at least ten samples
    beyond it, with its label.  When none has (fewer than 100 samples, which
    is every run that fits the benchmark's time budget), the second-slowest
    sample: the maximum of a handful of ticks is whichever one a burst of
    host load hit, and moves by a quarter between runs of the same code."""
    v = sorted(values)
    n = len(v)
    for pct in (99.9, 99.0, 95.0, 90.0):
        k = int(n * pct / 100.0)  # v[k:] lies beyond the percentile
        if n - k >= 10:
            return v[k], f"p{pct:g} of {n}"
    return v[-2], f"2nd slowest of {n}"


def _configure_environment(work: str, cores: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + " -Dspark.ui.showConsoleProgress=false"
    ).strip()
    tempfile.tempdir = tmp


def _kill_descendants() -> None:
    from tracing import descendants

    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM to exit
    (it leaves when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _trace_append(tracer) -> None:
    """In the traced run, time ``TrackingTable.append_new`` (an eager write)
    where the pipeline calls it, without editing the package."""
    from airflow_pipeline_text_processing_spark.sources.tracking import TrackingTable

    inner = TrackingTable.append_new

    def append_new(self, records):
        with tracer.span("tracking.append"):
            return inner(self, records)

    TrackingTable.append_new = append_new


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str,
                 cores: int) -> dict:
    from airflow_pipeline_text_processing_spark.session import get_spark

    from probe import layer_probe
    from tracing import NullTracer, RssSampler, Tracer, environment
    from workloads import WORKLOADS

    tracer = Tracer() if trace else NullTracer()
    rec: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
                 "env_start": environment(ROOT, cores)}
    spark = None
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                spark = get_spark("perfbench")
                spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t0
            if trace:
                tracer.bind(spark.sparkContext)
                _trace_append(tracer)
            wl = WORKLOADS[name](spark, work, seed)
            prep_s = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                with tracer.span("setup.prepare"):
                    wl.prepare(rep)
                prep_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            with tracer.span("session.warm"):
                wl.warm()
            warm_s = time.perf_counter() - t0

            walls, nbytes, traced_ops = [], [], []
            loop_start = time.perf_counter()
            i = 0
            while i < MIN_OPS or time.perf_counter() - loop_start < seconds:
                op_id = f"op{i}"
                traced = trace and i % 2 == 1  # alternate to measure tracing cost
                wl.before_op(i)
                t0 = time.perf_counter()
                if traced:
                    with tracer.job_group(op_id), tracer.span(f"{name}.op", op_id):
                        n = wl.op(i, tracer)
                else:
                    n = wl.op(i)
                walls.append(time.perf_counter() - t0)
                nbytes.append(n)
                traced_ops.append(traced)
                wl.after_op(i)
                i += 1
            rec.update(setup={"session_start_s": start_s, "warm_s": warm_s, "prepare_s": prep_s},
                       op_walls_s=walls, op_input_bytes=nbytes, op_traced=traced_ops)

            checks = wl.check()
            rec["checks"] = [vars(c) for c in checks]
            if trace:
                layer = _loop_layer_metrics(name, tracer, walls, traced_ops)
                layer.update({"session.start_s": start_s, "session.warm_s": warm_s})
                probed = layer_probe(spark, wl, tracer, cores)
                for k, v in {**probed, **_pipeline_layer_metrics(wl, tracer)}.items():
                    layer.setdefault(k, v)
                rec["layer"] = layer
                rec["spans"] = tracer.spans
        finally:
            if spark is not None:
                _stop_spark(spark)
    rec["peak_rss_mb"] = rss.peak_mb
    rec["peak_rss_parts"] = rss.peak_parts
    rec["docs"] = {"attempted": wl.docs_attempted, "failed": wl.docs_failed}
    rec["env_end"] = environment(ROOT, cores)
    return rec


def _loop_layer_metrics(name, tracer, walls, traced_ops) -> dict:
    """Per-layer figures the traced ops of the loop recorded themselves."""
    med = statistics.median
    traced_ids = [f"op{i}" for i, t in enumerate(traced_ops) if t]
    m = {"trace.overhead_s": med([w for w, t in zip(walls, traced_ops) if t])
         - med([w for w, t in zip(walls, traced_ops) if not t])}
    appends = [s["end"] - s["start"] for s in tracer.spans
               if s["name"] == "tracking.append" and s["op"] in traced_ids]
    if appends:
        m["tracking.append_s"] = med(appends)
    if name == "curate":
        for span in ("dedup.minhash_pairs", "dedup.canonical_pick", "curation.curate_documents"):
            m[span + "_s"] = med([s["end"] - s["start"] for s in tracer.spans
                                  if s["name"] == span and s["op"] in traced_ids])
        for k in ("spark_jobs", "spark_stages"):
            m["dedup." + k] = med([tracer.jobs(o)[k] for o in traced_ids])
    else:
        m["pipeline.run_s"] = med([w for w, t in zip(walls, traced_ops) if t])
        for k in ("spark_jobs", "spark_stages", "spark_tasks", "failed_tasks"):
            m["pipeline." + k] = med([tracer.jobs(o)[k] for o in traced_ids])
    return m


def _pipeline_layer_metrics(wl, tracer) -> dict:
    """Pipeline-wide figures from every ``run_pipeline`` result of the run
    (curate: the probe's single call)."""
    res = wl.pipeline_results
    listed = [r["processed"] + r["skipped"] + r["failed"] for r in res]
    m = {
        "text_dir.files_listed": statistics.median(listed),
        "text_dir.new_file_ratio": statistics.median(
            [r["processed"] / n for r, n in zip(res, listed)]),
        "pipeline.completed_ratio": sum(r["processed"] for r in res)
        / sum(r["processed"] + r["failed"] for r in res),
    }
    jobs = tracer.jobs("probe.pipeline")
    if jobs:
        m.update({"pipeline." + k: v for k, v in jobs.items()})
        m["pipeline.run_s"] = tracer.durations("pipeline.run")[-1]
        m["tracking.append_s"] = tracer.durations("tracking.append")[-1]
    return m


PER_LAYER_UNITS = {
    "text_dir.read_s": "s", "text_dir.files_listed": "count", "text_dir.new_file_ratio": "ratio",
    "tracking.lookup_s": "s", "tracking.append_s": "s", "tracking.rows": "count",
    "tracking.files": "count",
    "codec.build_chunks_mb_per_s": "MB/s", "codec.goldman_encode_mb_per_s": "MB/s",
    "codec.goldman_decode_mb_per_s": "MB/s", "codec.rs_parity_mb_per_s": "MB/s",
    "codec_udfs.encode_s": "s", "codec_udfs.decode_s": "s", "codec_udfs.kernel_share": "ratio",
    "pipeline.run_s": "s", "pipeline.encode_documents_s": "s", "pipeline.sinks_s": "s",
    "pipeline.spark_jobs": "count", "pipeline.spark_stages": "count",
    "pipeline.spark_tasks": "count", "pipeline.failed_tasks": "count",
    "pipeline.completed_ratio": "ratio",
    "dedup.signatures_s": "s", "dedup.minhash_pairs_s": "s", "dedup.candidates": "count",
    "dedup.pairs": "count", "dedup.candidate_precision": "ratio", "dedup.canonical_pick_s": "s",
    "dedup.spark_jobs": "count", "dedup.spark_stages": "count",
    "curation.curate_documents_s": "s", "curation.kept_docs": "count",
    "session.start_s": "s", "session.warm_s": "s",
    "trace.overhead_s": "s",
}


def report(rec: dict) -> tuple[dict, list[str]]:
    """The result object and the human-readable lines printed before it."""
    checks = rec["checks"]
    n_ops = len(rec["op_walls_s"])
    walls = rec["op_walls_s"]
    # an op that raises aborts the run with a traceback, so ops never fail here
    attempted = rec["docs"]["attempted"] + n_ops + len(checks)
    failed = rec["docs"]["failed"] + sum(not c["ok"] for c in checks)
    setup = rec["setup"]
    lines = [f"workload={rec['workload']} seed={rec['seed']} trace={rec['trace']} "
             f"ops={n_ops} env={json.dumps(rec['env_start'])}"]
    if rec["trace"]:
        metrics = {k: {"value": float(rec["layer"][k]), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        tail_v, tail_label = tail(walls)
        values = {
            "setup_s": setup["session_start_s"] + setup["warm_s"]
            + statistics.median(setup["prepare_s"]),
            "input_mb_per_s": statistics.median(
                [b / 1e6 / w for b, w in zip(rec["op_input_bytes"], walls)]),
            "tick_p50_s": statistics.median(walls),
            "tick_tail_s": tail_v,
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        lines.append(f"  tick_tail_s is the {tail_label} ops; setup_s = start "
                     f"{setup['session_start_s']:.2f} + warm {setup['warm_s']:.2f} + median of "
                     + ", ".join(f"{p:.2f}" for p in setup["prepare_s"]))
    for k, v in metrics.items():
        lines.append(f"  {k:32s} {v['value']:12.4f} {v['unit']}")
    lines.append(f"  fail_ratio {failed}/{attempted} "
                 "(documents, ops and output checks)")
    for c in checks:
        lines.append(f"  [{'ok' if c['ok'] else 'FAIL'}] {c['name']}: {c['detail']}")
    result = {"correct": all(c["ok"] for c in checks) and failed == 0,
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, lines


def _run_all(args) -> int:
    """Each workload in its own process (its own JVM), one after another."""
    code, combined = 0, {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed",
             str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        print(proc.stdout, end="", flush=True)
        code = code or proc.returncode
        try:
            res = json.loads(proc.stdout.strip().splitlines()[-1])
        except (IndexError, json.JSONDecodeError):
            combined["correct"] = False
            continue
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        combined["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(combined))
    return code


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES,
                    help="one workload; all of them, in turn, when omitted")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: pyspark unavailable: {exc}", file=sys.stderr)
        return 2
    if args.workload is None:
        return _run_all(args)

    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_environment(work, cores)

    watchdog_s = int(args.seconds) + WATCHDOG_SLACK_S

    def on_timeout(signum, frame):
        print(f"perfbench: no result within {watchdog_s} s", file=sys.stderr)
        _kill_descendants()
        os._exit(3)

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(watchdog_s)
    try:
        rec = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    result, lines = report(rec)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump({**rec, "result": result}, f, indent=1, default=str)
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
