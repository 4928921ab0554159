"""Measurement from outside the engine: in-memory spans, Spark job-group
counters and Python-worker memory.

Nothing here imports flowforge; every number is taken around a call into
it, from Spark's status tracker, or from ``/proc``.
"""

from __future__ import annotations

import json
import os
import signal
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out once, at the end of a run.

    A span records its name, start, end, parent span and operation id, plus
    free-form counters (``attrs``) set by the caller inside the span. With
    ``enabled=False`` nothing is recorded, but the caller still gets a
    throwaway dict, so one code path serves both run modes.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield dict(attrs)
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent["op"] if parent else None),
               "attrs": dict(attrs), "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def find(self, name: str, **match) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None
                and all(s["attrs"].get(k) == v for k, v in match.items())]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=(s["end"] or s["start"]) - t0,
                      self=selfs.get(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump(dict(extra, spans=spans), f, default=str)


def dur(span: dict) -> float:
    return span["end"] - span["start"]


class JobGroups:
    """One Spark job group per operation; counts read back from
    ``sparkContext.statusTracker()``."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.n = 0

    def start(self, label: str) -> str:
        gid = f"perfbench-{self.n}-{label}"
        self.n += 1
        self.sc.setJobGroup(gid, label)
        return gid

    def counts(self, gid: str, settle_s: float = 2.0) -> dict:
        """Jobs, tasks run, failed tasks, and the task count of the group's
        first (leaf) stage. The status store is fed by an asynchronous
        listener, so wait briefly for the group's stages to go idle."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = [self.tracker.getJobInfo(j) for j in self.tracker.getJobIdsForGroup(gid)]
            jobs = [j for j in jobs if j is not None]
            stages = [self.tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
            stages = [s for s in stages if s is not None]
            busy = (any(j.status not in ("SUCCEEDED", "FAILED") for j in jobs)
                    or any(s.numActiveTasks for s in stages))
            if not busy or time.monotonic() > deadline:
                break
            time.sleep(0.02)
        leaf = min(stages, key=lambda s: s.stageId, default=None)
        return {"jobs": len(jobs),
                "tasks": sum(s.numCompletedTasks + s.numFailedTasks for s in stages),
                "failed_tasks": sum(s.numFailedTasks for s in stages),
                "leaf_tasks": leaf.numCompletedTasks + leaf.numFailedTasks if leaf else 0}


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name in field 2 may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def worker_peak_rss_mb(jvm_pid: int) -> float:
    """Largest VmHWM (peak resident set) over the live Python processes
    the JVM started: the daemon and its forked task workers."""
    peak_kb = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"python" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    for all of them to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 15
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
