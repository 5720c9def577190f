"""Tracing for the benchmark's traced run, kept entirely outside the engine.

* ``Tracer`` records spans (name, start, end, parent) around calls into
  the engine's public functions by wrapping them in place from here. Spans
  live in memory and are written out once, at the end of the run.
* ``EventLog`` parses the Spark event log of the traced run offline for
  job, stage and task counts, executor run time, shuffle, spill and GC,
  and attributes jobs to a unit of work by job group or by time window.

Nothing here runs in an untraced run: the wrappers are installed only
when the benchmark is started with ``--trace 1``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open span
    on the same thread; a span opened on a thread with no open span (the
    engine's own submitter threads, which inherit nothing from the caller)
    is attributed to the most recently opened span still open on any other
    thread, i.e. to the batch whose window it falls in."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: dict[int, dict] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.enabled = True
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def begin(self, name: str) -> dict | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            self._next += 1
            if stack:
                parent = stack[-1]["id"]
            elif self._open:
                parent = max(self._open.values(), key=lambda s: s["start"])["id"]
            else:
                parent = None
            sp = {"id": self._next, "name": name, "parent": parent,
                  "thread": threading.get_ident(), "start": time.time(), "end": None}
            self._open[sp["id"]] = sp
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def end(self, sp: dict | None) -> None:
        if sp is None:
            return
        sp["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        with self._lock:
            self._open.pop(sp["id"], None)

    def wrap(self, owner, attr: str, name=None, before=None, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``name``
        is a string or a function of (args, kwargs); ``before`` and
        ``after`` (optional) are called with the call's arguments just
        before the span opens and with (span, args, kwargs) once it
        closes, to attach counters measured at the same boundary."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            label = name(args, kwargs) if callable(name) else (name or attr)
            sp = self.begin(label)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)
                if after is not None and sp is not None:
                    after(sp, args, kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # --- analysis ---------------------------------------------------------

    def closed(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None
                and (name is None or s["name"] == name)]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed(name)]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of its
        interval that its children cover (children may overlap each
        other — the submitter threads run concurrently — so the covered
        part is the union of their intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.closed():
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.closed():
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.closed(), "self_time_s": self.self_times()}, f)


def p50(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class EventLog:
    """Offline parse of the Spark event logs in one directory (JSON lines,
    one file per application: a run that restarts its session writes
    several, and job and stage ids restart in each)."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []
        for app in sorted(glob.glob(os.path.join(log_dir, "*"))):
            # an application's log is one file, or (Spark 4's v2 format) a
            # directory of rolled ``events_<n>_*`` files plus a status marker
            if os.path.isdir(app):
                parts = sorted(glob.glob(os.path.join(app, "events_*")),
                               key=lambda p: int(os.path.basename(p).split("_")[1]))
            else:
                parts = [app]
            jobs: dict[int, dict] = {}
            stage_job: dict[int, int] = {}
            for path in parts:
                with open(path) as f:
                    for line in f:
                        self._event(json.loads(line), jobs, stage_job)
            self.jobs.extend(jobs.values())

    @staticmethod
    def _event(e: dict, jobs: dict, stage_job: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            jobs[jid] = {"submit": e["Submission Time"] / 1000.0,
                         "group": props.get("spark.jobGroup.id"),
                         "tasks": 0, "stages_run": 0, "run_ms": 0, "gc_ms": 0,
                         "shuffle_write": 0, "spill": 0}
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(e["Stage Info"]["Stage ID"]))
            if job is not None:
                job["stages_run"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            m = e.get("Task Metrics")
            if job is None or not m:
                return
            job["tasks"] += 1
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def select(self, group: str | None = None, window: tuple[float, float] | None = None) -> list[dict]:
        """Jobs of one job group, or jobs submitted inside a time window."""
        return [j for j in self.jobs
                if (group is None or j["group"] == group)
                and (window is None or window[0] <= j["submit"] <= window[1])]

    @staticmethod
    def totals(jobs: list[dict]) -> dict[str, float]:
        return {
            "jobs": len(jobs),
            "stages": sum(j["stages_run"] for j in jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "executor_run_s": sum(j["run_ms"] for j in jobs) / 1000.0,
            "gc_s": sum(j["gc_ms"] for j in jobs) / 1000.0,
            "shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs),
            "spill_bytes": sum(j["spill"] for j in jobs),
        }
