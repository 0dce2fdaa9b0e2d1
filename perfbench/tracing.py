"""Measurement helpers: in-memory spans, a process-tree RSS/CPU sampler, a CPU
probe, and a reader for Spark's in-process status store.

Nothing here reaches into the program under test: spans wrap the
benchmark's own calls into the package, and the Spark numbers come from the
status store the SparkContext keeps anyway (``spark.ui.enabled=false`` still
keeps it).
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Spans:
    """Spans (name, start, end, parent, run id) kept in memory, written once."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.t0 = time.perf_counter()
        self.records: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter() - self.t0, **attrs}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            self.records.append(rec)

    def write(self, path: str, **context) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "context": context, "spans": self.records},
                      fh, indent=1, default=str)


def _tree_usage(root_pid: int) -> tuple[int, float]:
    """(summed RSS bytes, summed CPU seconds) of root_pid and all its
    descendants: the driver Python, the JVM it launched, and the JVM's
    Python workers.  CPU counts user + system time, including that of
    descendants already reaped (cutime/cstime), so exited workers count."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        usage[pid] = (int(fields[21]), sum(int(x) for x in fields[11:15]))
    pages = ticks = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        rss, cpu = usage.get(pid, (0, 0))
        pages += rss
        ticks += cpu
        todo.extend(children.get(pid, ()))
    return pages * os.sysconf("SC_PAGE_SIZE"), ticks / os.sysconf("SC_CLK_TCK")


class TreeSampler:
    """Peak summed RSS of this process tree, sampled every ``period`` s,
    and the CPU seconds the tree used between enter and exit."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_usage(pid)[0])
            self._stop.wait(self.period)

    def __enter__(self):
        self.cpu_s = -_tree_usage(os.getpid())[1]
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        rss, cpu = _tree_usage(os.getpid())
        self.peak = max(self.peak, rss)
        self.cpu_s += cpu


def cpu_probe_ms() -> float:
    """A fixed single-thread workload (pure-Python loop plus sha256 over
    4 MB); median of three timings.  Recorded as run context, never used to
    rescale a metric."""
    buf = b"x" * (4 << 20)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        hashlib.sha256(buf).digest()
        times.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(times)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


class StatusReader:
    """Jobs and stages from ``SparkContext.statusStore()``, grouped by the
    job group the benchmark set around each phase."""

    def __init__(self, spark):
        self.cores = spark.sparkContext.defaultParallelism
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.jobs = []
        for j in _seq(self.store.jobsList(None)):
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            self.jobs.append({
                "id": j.jobId(), "group": group, "name": j.name(),
                "start_ms": _opt_ms(j.submissionTime()), "end_ms": _opt_ms(j.completionTime()),
                "stage_ids": list(_seq(j.stageIds())),
            })
        self._stages: dict[int, dict] = {}

    def stage(self, sid: int) -> dict | None:
        if sid not in self._stages:
            s = self.store.lastStageAttempt(sid)
            status = s.status().toString()
            self._stages[sid] = None if status != "COMPLETE" else {
                "id": sid, "attempt": s.attemptId(), "tasks": s.numTasks(),
                "run_ms": s.executorRunTime(), "cpu_ms": s.executorCpuTime() / 1e6,
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "start_ms": _opt_ms(s.submissionTime()), "end_ms": _opt_ms(s.completionTime()),
            }
        return self._stages[sid]

    def task_durations_ms(self, stage: dict) -> list[int]:
        tasks = _seq(self.store.taskList(stage["id"], stage["attempt"], 1 << 30))
        return [t.duration().get() for t in tasks if t.duration().isDefined()]

    def select(self, prefix: str) -> list[dict]:
        """Jobs whose group equals ``prefix`` or starts with ``prefix + '.'``."""
        return [j for j in self.jobs if j["group"] and
                (j["group"] == prefix or j["group"].startswith(prefix + "."))]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        out = {}
        for j in jobs:
            for sid in j["stage_ids"]:
                s = self.stage(sid)
                if s is not None:
                    out[sid] = s
        return list(out.values())

    def summary(self, jobs: list[dict]) -> dict:
        stages = self.stages_of(jobs)
        mb = 1 / (1 << 20)
        return {
            "jobs": len(jobs), "stages": len(stages),
            "shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in stages) * mb,
            "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) * mb,
        }

    def job_span_s(self, jobs: list[dict]) -> float:
        """Wall time covered by the union of the jobs' intervals."""
        spans = sorted((j["start_ms"], j["end_ms"]) for j in jobs
                       if j["start_ms"] is not None and j["end_ms"] is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered / 1000.0

    def kernel_stage(self, jobs: list[dict]) -> dict:
        """The extraction-kernel stage among ``jobs``: the one with the most
        executor run time.  Returns its run/CPU time, task skew and idle
        core time (stage span x cores - summed task time)."""
        stages = self.stages_of(jobs)
        if not stages:
            return {"run_s": 0.0, "cpu_s": 0.0, "tasks": 0, "task_max_over_p50": 0.0,
                    "idle_core_s": 0.0, "rows": 0}
        s = max(stages, key=lambda x: x["run_ms"])
        durs = self.task_durations_ms(s)
        span_s = (s["end_ms"] - s["start_ms"]) / 1000.0
        p50 = statistics.median(durs) if durs else 0
        return {
            "run_s": s["run_ms"] / 1000.0, "cpu_s": s["cpu_ms"] / 1000.0, "tasks": s["tasks"],
            "task_max_over_p50": (max(durs) / p50) if p50 else 0.0,
            "idle_core_s": max(0.0, span_s * self.cores - sum(durs) / 1000.0),
            "rows": s["shuffle_read_records"],
        }


def catalyst_ms(dfs) -> dict:
    """Summed Catalyst phase times recorded by each DataFrame's own
    QueryExecution tracker (analysis at build; optimization and planning
    when that DataFrame was executed)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for df in dfs:
        phases = df._jdf.queryExecution().tracker().phases()
        for name in out:
            opt = phases.get(name)
            if opt.isDefined():
                out[name] += opt.get().durationMs()
    return out
