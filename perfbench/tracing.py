"""Measurement plumbing: in-memory spans, a process-tree RSS sampler and the
Spark event-log reader that turns one pass's jobs into engine counters.

Spans are recorded by the harness around its own calls into the engine;
nothing inside the package is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    pass_id: str
    parent: int | None
    start: float  # epoch seconds, comparable with event-log millis
    end: float = 0.0
    sid: int = 0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans of a run, kept in memory and written out once at the end.
    A disabled tracer records nothing and costs one attribute test."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    pass_id: str = ""

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self, pass_id: str) -> dict[str, float]:
        """name -> summed self time (duration minus covered child time)."""
        mine = [s for s in self.spans if s.pass_id == pass_id]
        child_cover: dict[int, float] = {}
        for s in mine:
            if s.parent is not None:
                child_cover[s.parent] = child_cover.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in mine:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child_cover.get(s.sid, 0.0)
        return out

    def durations(self, pass_id: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s.pass_id == pass_id:
                out[s.name] = out.get(s.name, 0.0) + s.dur
        return out

    def window(self, pass_id: str, name: str) -> tuple[float, float] | None:
        for s in self.spans:
            if s.pass_id == pass_id and s.name == name:
                return s.start, s.end
        return None

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name, self.s = tracer, name, None

    def __enter__(self):
        t = self.t
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.s = Span(self.name, t.pass_id, parent, time.time(), sid=len(t.spans))
            t.spans.append(self.s)
            t._stack.append(self.s.sid)
        return self

    def __exit__(self, *exc) -> None:
        if self.s is not None:
            self.s.end = time.time()
            self.t._stack.pop()


# ---------------------------------------------------------------------------
# resident memory of this process and every descendant (JVM, Python workers)
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, tuple[int, str]]]:
    """(ppid -> child pids, pid -> (rss bytes, comm)) of every process."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(d))
        info[int(d)] = (int(fields[21]) * _PAGE, st[st.index("(") + 1 : st.rindex(")")])
    return children, info


def descendants(root: int) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _tree_rss_bytes(root: int) -> tuple[int, int]:
    """(Python, JVM) summed RSS of `root` and all its descendants. Other
    processes are skipped: a child the JVM spawns (Hadoop's chmod on local
    writes) briefly reports the whole JVM's resident set as its own."""
    children, info = _proc_table()
    py = jvm = 0
    todo = [root]
    while todo:
        p = todo.pop()
        b, comm = info.get(p, (0, ""))
        if comm == "java":
            jvm += b
        elif comm.startswith("python"):
            py += b
        todo.extend(children.get(p, ()))
    return py, jvm


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a daemon thread,
    kept apart for the Python processes (driver and workers) and the JVM."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak_py = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            py, jvm = _tree_rss_bytes(me)
            self.peak_py, self.peak_jvm = max(self.peak_py, py), max(self.peak_jvm, jvm)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log (uncompressed, non-rolling) -> per-window engine counters
# ---------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

# SQL metric display names of the Python nodes (MapInPandas, ArrowEvalPython)
_PY_METRICS = {
    "time to start Python workers": "boot_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "total_ms",
    "data sent to Python workers": "sent_b",
    "data returned from Python workers": "recv_b",
}


# EventLog.counters keys and their units
COUNTER_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "python_boot_init_s": "s",
    "python_total_s": "s",
    "python_data_sent_mb": "MB",
    "python_data_received_mb": "MB",
    "task_skew": "ratio",
}


class EventLog:
    def __init__(self, path: str) -> None:
        self.jobs: list[dict] = []  # {t: submitted (epoch s), stages: ids}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task records
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs.append(
                        {"t": ev["Submission Time"] / 1000.0, "stages": ev["Stage IDs"]}
                    )
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    self.tasks.setdefault(ev["Stage ID"], []).append(_task_record(ev))

    def counters(self, start: float, end: float) -> dict[str, float]:
        """Counters of every job submitted within [start, end] (epoch s)."""
        jobs = [j for j in self.jobs if start <= j["t"] <= end]
        # a job can list a stage that ran in an earlier window (skipped,
        # reused shuffle); only tasks launched inside the window count
        per_stage = {
            s: [t for t in self.tasks.get(s, ()) if start <= t["launch"] <= end]
            for j in jobs
            for s in j["stages"]
        }
        per_stage = {s: ts for s, ts in per_stage.items() if ts}
        stage_ids = sorted(per_stage)
        tasks = [t for s in stage_ids for t in per_stage[s]]
        out = {
            "jobs": float(len(jobs)),
            "stages": float(len(stage_ids)),
            "tasks": float(len(tasks)),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_mb": sum(t["shuffle_b"] for t in tasks) / 2**20,
            "python_boot_init_s": sum(t["boot_ms"] + t["init_ms"] for t in tasks) / 1e3,
            "python_total_s": sum(t["total_ms"] for t in tasks) / 1e3,
            "python_data_sent_mb": sum(t["sent_b"] for t in tasks) / 2**20,
            "python_data_received_mb": sum(t["recv_b"] for t in tasks) / 2**20,
            "task_skew": 0.0,
        }
        if stage_ids:
            longest = max(stage_ids, key=lambda s: sum(t["dur_ms"] for t in per_stage[s]))
            durs = [t["dur_ms"] for t in per_stage[longest]]
            med = statistics.median(durs)
            out["task_skew"] = max(durs) / med if med > 0 else 1.0
        return out


def _task_record(ev: dict) -> dict:
    m, info = ev["Task Metrics"], ev["Task Info"]
    rec = {
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_b": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "dur_ms": info["Finish Time"] - info["Launch Time"],
        "launch": info["Launch Time"] / 1000.0,
    }
    rec.update(dict.fromkeys(_PY_METRICS.values(), 0))
    for acc in info.get("Accumulables", ()):
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            rec[key] += int(acc.get("Update") or 0)
    return rec
