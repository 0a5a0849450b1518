#!/usr/bin/env python3
"""Paired A/B runs of the benchmark: a base revision against this checkout.

For each seed, runs the benchmark command of ``BENCHMARK.json``
(``perfbench/run.py --workload W --seed N --seconds <run_seconds>
--trace 0``) once in a temporary copy of ``BASE``'s committed files and
once in this working tree, alternating which side runs first.  Prints
every run's end-to-end metrics, then one row per end-to-end metric:
the medians of parent and change, the change in percent, the pairs the
change wins (ties count for neither side) and the interquartile range
of the parent's runs.  With ``--trace``, each seed also runs one traced
pair (``--trace 1``, same alternation), and a second table gives the
same columns for the per-layer metrics of ``BENCHMARK.json``: the layer
that moved is read from the same tool as the end-to-end gain.  The copy
of ``BASE`` is a ``git archive`` extract (nothing is registered in this
repository's ``.git``) and is removed at exit.  The tool only runs the
benchmark; it changes none of its files.

Usage:
    python tools/ab_pairs.py BASE --workload curate --seeds 1-10 [--trace]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def checkout(base: str, dest: str) -> None:
    """``base``'s committed files extracted into ``dest``."""
    archive = subprocess.run(
        ["git", "archive", "--format=tar", base],
        cwd=REPO, check=True, capture_output=True,
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(root: str, command: list, workload: str, seed: int,
             seconds: int, trace: int) -> dict | None:
    """The benchmark's result object for one run in ``root``, or None
    when the run fails or prints no result."""
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True,
    )
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return None


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def print_table(pairs: list, metrics: dict) -> None:
    """One row per metric over the complete pairs; a metric a run does not
    report, or reports as NaN, is left out of that pair."""
    print("| metric | parent | change | Δ | change wins | parent IQR |")
    print("|---|---:|---:|---:|---:|---:|")
    for m, better in metrics.items():
        vals = [(p["metrics"][m]["value"], c["metrics"][m]["value"])
                for p, c in pairs if m in p["metrics"] and m in c["metrics"]]
        vals = [(p, c) for p, c in vals if not (math.isnan(p) or math.isnan(c))]
        if not vals:
            continue
        par, chg = [p for p, _ in vals], [c for _, c in vals]
        sign = -1 if better == "lower" else 1
        wins = sum(sign * (c - p) > 0 for p, c in vals)
        mp, mc = statistics.median(par), statistics.median(chg)
        delta = (mc - mp) / mp * 100 if mp else float("nan")
        print(f"| {m} | {mp:.4g} | {mc:.4g} | {delta:+.1f} % "
              f"| {wins}/{len(vals)} | {iqr(par):.3g} |")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--trace", action="store_true",
                    help="also run a traced pair per seed and tabulate "
                         "the per-layer metrics")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m["better"] for m in bench["end_to_end"]}
    layer_metrics = {m["name"]: m["better"] for m in bench["per_layer"]}
    seeds = parse_seeds(args.seeds)
    traces = (0, 1) if args.trace else (0,)

    base_root = tempfile.mkdtemp(prefix="ab_pairs-")
    runs = {t: {"parent": [], "change": []} for t in traces}
    try:
        checkout(args.base, base_root)
        roots = {"parent": base_root, "change": REPO}
        for k, seed in enumerate(seeds):
            order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
            for trace in traces:
                for side in order:
                    res = run_once(roots[side], bench["command"], args.workload,
                                   seed, bench["run_seconds"], trace)
                    runs[trace][side].append(res)
                    if not res:
                        figures = "no result"
                    elif trace:
                        figures = f"{len(res['metrics'])} per-layer metrics"
                    else:
                        figures = " ".join(
                            f"{m}={res['metrics'][m]['value']:.4g}" for m in metrics)
                    ok = res and res["correct"] and res["failed"] == 0
                    print(f"seed {seed} {side:6s} {'traced ' if trace else ''}"
                          f"{'ok ' if ok else 'BAD'} {figures}", flush=True)
    finally:
        shutil.rmtree(base_root, ignore_errors=True)

    complete = True
    for trace in traces:
        pairs = [(p, c) for p, c in zip(runs[trace]["parent"], runs[trace]["change"])
                 if p and c]
        kind = "traced" if trace else "end-to-end"
        print(f"\n{args.workload} {kind}: {len(pairs)} complete pairs of {len(seeds)}\n")
        if pairs:
            print_table(pairs, layer_metrics if trace else metrics)
        complete &= len(pairs) == len(seeds)
    return 0 if complete else 1


if __name__ == "__main__":
    sys.exit(main())
