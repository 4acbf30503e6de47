"""Spans, Spark status-store collection and memory sampling.

The end-to-end runs use a disabled ``Tracer`` (its spans cost nothing)
and never read the status store. A traced run enables the tracer: every
call a workload makes into the engine is a span with a name, start, end,
parent and run id, kept in memory. Entering a span sets a Spark job group
named after it, so jobs submitted from the calling thread carry the span
that caused them; jobs submitted from other threads (streaming
micro-batches, concurrent sink writes) are attributed to the innermost
span whose interval holds their submission time. ``collect_status`` reads
jobs, stages and storage from the application's REST API on localhost,
after the timed region.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time
import urllib.request


class Tracer:
    """In-memory spans; a no-op when ``enabled`` is false."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group(self, sid: int) -> str:
        return f"{self.run_id}:{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(sid), name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(self.group(parent), self.spans[parent]["name"])

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"]) - union_length(kids.get(s["id"], []))
            for s in self.spans
        }

def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _epoch(stamp: str | None) -> float | None:
    if not stamp:
        return None
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _get(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as resp:
        return json.load(resp)


def collect_status(sc) -> dict:
    """Jobs (with their stages' executor and shuffle totals) and storage."""
    stages = {}
    for s in _get(sc, "stages?status=complete"):
        if s["status"] != "COMPLETE":
            continue
        prev = stages.get(s["stageId"])
        if prev is None or s["attemptId"] > prev["attemptId"]:
            stages[s["stageId"]] = s
    jobs = []
    for j in _get(sc, "jobs"):
        own = [stages[i] for i in j["stageIds"] if i in stages]
        jobs.append({
            "id": j["jobId"],
            "group": j.get("jobGroup"),
            "submitted": _epoch(j.get("submissionTime")),
            "completed": _epoch(j.get("completionTime")),
            "stages": len(own),
            "tasks": sum(s["numTasks"] for s in own),
            "executor_run_ms": sum(s["executorRunTime"] for s in own),
            "executor_cpu_ms": sum(s["executorCpuTime"] for s in own) / 1e6,
            "jvm_gc_ms": sum(s["jvmGcTime"] for s in own),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in own),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in own),
        })
    storage = _get(sc, "storage/rdd")
    return {
        "jobs": sorted(jobs, key=lambda j: j["id"]),
        "persisted_frames": len(storage),
        "storage_mb": sum(r["memoryUsed"] + r["diskUsed"] for r in storage) / 2**20,
    }


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> dict[int, list[dict]]:
    """Span id -> jobs it caused, directly (descendants not included)."""
    by_group = {tracer.group(s["id"]): s["id"] for s in tracer.spans}
    out: dict[int, list[dict]] = {}
    for j in jobs:
        sid = by_group.get(j["group"])
        if sid is None and j["submitted"] is not None:
            # innermost span holding the submission time (the status
            # store keeps millisecond stamps, so allow 1 ms of slack)
            best = None
            for s in tracer.spans:
                if s["start"] - 0.001 <= j["submitted"] <= s["end"] + 0.001:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            sid = best["id"] if best else None
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out


def subtree_jobs(tracer: Tracer, direct: dict[int, list[dict]], sid: int) -> list[dict]:
    kids: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [sid]
    while todo:
        k = todo.pop()
        out.extend(direct.get(k, []))
        todo.extend(kids.get(k, []))
    return out


def _tree_pids(roots: list[int]) -> list[int]:
    """``roots`` and all their descendants, each once."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out: set[int] = set()
    todo = list(roots)
    while todo:
        p = todo.pop()
        if p not in out:
            out.add(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
    return sorted(out)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of the driver Python process, the
    driver JVM and the PySpark worker processes below them, sampled at
    20 Hz."""

    def __init__(self, roots: list[int], period_s: float = 0.05):
        self.roots = roots
        self.period_s = period_s
        self.peak_kib = 0
        #: "pid:command" -> MiB at the peak sample
        self.peak_by_pid: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        # a child the JVM forks to exec a helper (Hadoop's local file
        # system runs chmod this way) shares its pages until the exec
        # and would count the JVM twice: only Python workers are added
        pids = [p for p in _tree_pids(self.roots)
                if p in self.roots or _comm(p).startswith("python")]
        per = {p: _rss_kib(p) for p in pids}
        total = sum(per.values())
        if total > self.peak_kib:
            self.peak_kib = total
            self.peak_by_pid = {f"{p}:{_comm(p)}": kib // 1024 for p, kib in per.items()}

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024
