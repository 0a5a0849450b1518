"""Spans, Spark job counts, peak RSS and the environment record.

Spans are recorded only in the traced run and stay in memory until the run
writes them out.  The untraced run uses :class:`NullTracer`, whose span is a
bare context manager, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import subprocess
import threading
import time


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        yield


class Tracer(NullTracer):
    """Spans ``{name, start, end, parent, op}`` with times in seconds since
    the tracer was made; a span's parent is the span open around it.  Spark
    jobs started inside :meth:`job_group` are tagged with the op id and
    counted from the public ``SparkContext.statusTracker()``."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._jobs: dict[str, dict] = {}

    def bind(self, sc) -> None:
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter() - self.t0, "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()

    @contextlib.contextmanager
    def job_group(self, op: str):
        self._sc.setJobGroup(op, op)
        try:
            yield
        finally:
            self._sc.setJobGroup("", "")
            self._jobs[op] = self._count_jobs(op)

    def _count_jobs(self, op: str) -> dict:
        st = self._sc.statusTracker()
        job_ids = st.getJobIdsForGroup(op)
        stages: set[int] = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:  # None: stage skipped, its output reused
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"spark_jobs": len(job_ids), "spark_stages": len(stages),
                "spark_tasks": tasks, "failed_tasks": failed}

    def jobs(self, op: str) -> dict:
        return self._jobs.get(op, {})

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while the table was read
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled from ``/proc`` every ``period`` s."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_kb = 0
        #: command name -> [processes, RSS KB] at the peak sample
        self.peak_parts: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        seen: set[int] = set()
        while True:
            # count a process from its second sample on: a child the JVM has
            # just forked to exec a helper shares the JVM's pages and would
            # count them twice for the few milliseconds it lives
            pids = set(descendants(me))
            sample = {p: _rss_kb(p) for p in pids & seen | {me}}
            seen = pids
            total = sum(sample.values())
            if total > self.peak_kb:
                self.peak_kb = total
                parts: dict[str, list[int]] = {}
                for pid, kb in sample.items():
                    part = parts.setdefault(_comm(pid), [0, 0])
                    part[0] += 1
                    part[1] += kb
                self.peak_parts = parts
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _java_processes() -> int:
    """Java processes on the machine (ours included); -1 when unreadable."""
    n = 0
    try:
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                n += _comm(int(entry)) == "java"
    except OSError:
        return -1
    return n


def _source_identity(root: str) -> dict:
    """The git commit when the checkout is a repository, and always a digest
    of the package's Python sources, so a reading names the code it ran."""
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            commit = out.stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    digest = hashlib.sha1()
    pkg = os.path.join(root, "airflow_pipeline_text_processing_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    digest.update(f.read())
    return {"commit": commit, "source_sha1": digest.hexdigest()}


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot from ``/proc/stat``: time the
    hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def environment(root: str, cores: int) -> dict:
    """What a reading needs beside it to be judged: cores, load, other JVMs
    on the machine, CPU steal so far, and the code that ran."""
    steal, total = cpu_steal_jiffies()
    return {
        "nproc": cores,
        "loadavg_1m": os.getloadavg()[0],
        "cpu_steal_jiffies": steal,
        "cpu_total_jiffies": total,
        "java_processes": _java_processes(),
        **_source_identity(root),
    }
