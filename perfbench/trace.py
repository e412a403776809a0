"""In-memory spans, the Spark event-log join, and the RSS sampler.

A span is (id, name, parent, run id, start, end, attrs). Spans live in
memory and are written out once, when the run ends. After the session
stops, its event log is read back and every Spark job is attributed to
the innermost span whose interval holds the job's submission time; the
job's tasks give the span's task time, GC, shuffle, spill and input
bytes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans of one run. Once ``bind`` gives it the SparkContext, entering a
    span also sets the span as the thread's Spark job group, so the event
    log shows which jobs a group-based attribution would miss."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc if self.enabled else None
        if self._sc is not None and self._stack:
            self._set_group(self._stack[-1])

    def _set_group(self, sid: int) -> None:
        self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1] if self._stack else None,
              "run": self.run_id, "start": time.time(), "end": None,
              "attrs": attrs}
        if not self.enabled:
            yield sp
            return
        self.spans.append(sp)
        self._stack.append(sp["id"])
        if self._sc is not None:
            self._set_group(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.time()
            if self._sc is not None and self._stack:
                self._set_group(self._stack[-1])

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


def _proc_table() -> tuple[dict[int, int], dict[int, int]]:
    """pid -> parent pid and pid -> resident kB for every visible process."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        parent[int(d)] = int(fields.get("PPid", "0"))
        rss[int(d)] = int(fields.get("VmRSS", "0 kB").split()[0])
    return parent, rss


def _descendants_of_self(parent: dict[int, int]) -> list[int]:
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid, 0)
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            out.append(pid)
    return out


def descendant_pids() -> list[int]:
    return _descendants_of_self(_proc_table()[0])


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    Python, the JVM, Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss_kb(self) -> int:
        parent, rss = _proc_table()
        return rss.get(os.getpid(), 0) + sum(
            rss[p] for p in _descendants_of_self(parent))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())


# -------------------------------------------------------------- event log --
def read_event_log(log_dir: str) -> dict:
    """Jobs (id, group, submit, end, stages) and per-stage task records."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {paths}")
    jobs: dict[int, dict] = {}
    tasks: dict[int, list] = defaultdict(list)
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"], "submit": ev["Submission Time"] / 1000.0,
                    "end": None, "stages": list(ev.get("Stage IDs", [])),
                    "group": props.get("spark.jobGroup.id"),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                tasks[ev["Stage ID"]].append({
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_bytes": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0) + sw.get("Shuffle Bytes Written", 0),
                    "spill_bytes": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                })
    # a job also lists the shuffle stages it reuses from earlier jobs; the
    # first job to list a stage is the one that ran its tasks
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for s in jobs[jid]["stages"]:
            owner.setdefault(s, jid)
    for jid, job in jobs.items():
        job["stages"] = [s for s in job["stages"] if owner[s] == jid]
    return {"jobs": jobs, "tasks": tasks}


def attribute_jobs(spans: list[dict], log: dict) -> dict[int, list[dict]]:
    """span id -> jobs submitted while it was the innermost open span.
    Jobs whose submission falls in no span land under key -1."""
    by_span: dict[int, list[dict]] = defaultdict(list)
    for job in log["jobs"].values():
        best = None
        for sp in spans:
            if sp["start"] <= job["submit"] <= sp["end"]:
                if best is None or sp["start"] >= best["start"]:
                    best = sp
        by_span[best["id"] if best else -1].append(job)
    return by_span


def descendants(spans: list[dict], root: int) -> set[int]:
    kids = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append(sp["id"])
    out, todo = set(), [root]
    while todo:
        s = todo.pop()
        out.add(s)
        todo.extend(kids[s])
    return out


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            kids[sp["parent"]].append((sp["start"], sp["end"]))
    return {sp["id"]: (sp["end"] - sp["start"]) - _union_len(kids[sp["id"]])
            for sp in spans}


def spark_stats(jobs: list[dict], log: dict, window: tuple[float, float],
                cores: int) -> dict:
    """Aggregate Spark work of ``jobs`` over the wall-clock ``window``."""
    tasks = [t for j in jobs for s in j["stages"] for t in log["tasks"].get(s, [])]
    wall = window[1] - window[0]
    busy = _union_len([(max(j["submit"], window[0]), min(j["end"] or window[1], window[1]))
                       for j in jobs])
    widest = max((log["tasks"].get(s, []) for j in jobs for s in j["stages"]),
                 key=len, default=[])
    durations = [t["wall_s"] for t in widest]
    med = statistics.median(durations) if durations else 0.0
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_s": sum(t["run_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
        "driver_gap_s": max(0.0, wall - busy),
        "exec_busy_share": sum(t["run_s"] for t in tasks) / (wall * cores) if wall else 0.0,
        "task_skew": max(durations) / med if med > 0 else 1.0,
    }
