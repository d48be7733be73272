"""Per-layer tracing for the benchmark (used only with ``--trace 1``).

Three sources, joined on wall-clock time (every request is one closed-loop
call, so a timestamp names its request without ambiguity):

* ``Tracer`` wraps the engine layers' public functions where they are
  looked up — the module attribute and every package module that imported
  the same function object — plus ``DataFrame.localCheckpoint``.  It
  records spans (name, start, end, parent, request id) and self time.
  ``install``/``uninstall`` swap the originals back, so untraced passes in
  the same process run the engine unmodified.
* ``read_event_log`` parses the Spark event log (jobs, stages, task
  metrics) written by the traced session.
* ``StreamProgress`` is a ``StreamingQueryListener`` collecting each
  micro-batch's phase durations and state-row counts.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "graphdb_for_drones_spark"

# (module, attribute, span name); "Class.method" attributes patch the class
TARGETS = [
    *(
        ("graphdb_for_drones_spark.traversal", f, f"traversal.{f}")
        for f in (
            "expand",
            "reachable",
            "reachable_counts",
            "reachable_count",
            "path_count_to",
            "path_count_to_mitm",
            "reachable_via_labels",
        )
    ),
    *(
        ("graphdb_for_drones_spark.operators.graph_algorithms", f, f"graph_algorithms.{f}")
        # the kernel the graph_traversal entry runs
        for f in ("k_core",)
    ),
    ("graphdb_for_drones_spark.operators._pin", "pin", "pin"),
    ("graphdb_for_drones_spark.mutation", "redelegate", "mutation.redelegate"),
    ("graphdb_for_drones_spark.snapshots", "SnapshotStore.commit", "snapshot.commit"),
    *(
        ("graphdb_for_drones_spark.streaming.cdc", f, f"cdc.{f}")
        for f in ("encode_envelope", "parse_envelope", "apply_cdc_batch", "poll_changes")
    ),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "localCheckpoint"),
]

KERNELS = [n.split(".", 1)[1] for _m, _a, n in TARGETS if n.startswith("graph_algorithms.")]


@dataclass
class Span:
    name: str
    start: float
    request: int | None
    parent: "Span | None"
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def inside(self, prefix: str) -> bool:
        """True when an enclosing span's name starts with ``prefix``."""
        p = self.parent
        while p is not None:
            if p.name.startswith(prefix):
                return True
            p = p.parent
        return False


@dataclass
class Tracer:
    request: int | None = None
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _sites: list = field(default_factory=list)

    def _wrap(self, name, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = Span(name, time.time(), tracer.request, stack[-1] if stack else None)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                span.end = time.time()
                if span.parent is not None:
                    span.parent.child_s += span.dur
                tracer.spans.append(span)

        return wrapper

    def install(self) -> None:
        """Patch every binding of every target; idempotent per install."""
        if self._sites:
            return
        for mod_name, attr, span_name in TARGETS:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=["_"])
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                self._sites.append((owner, meth, orig))
                setattr(owner, meth, self._wrap(span_name, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(span_name, orig)
            for other in list(sys.modules.values()):
                if not getattr(other, "__name__", "").startswith(PACKAGE):
                    continue
                for key, val in list(vars(other).items()):
                    if val is orig:
                        self._sites.append((other, key, orig))
                        setattr(other, key, wrapped)

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._sites):
            setattr(owner, key, orig)
        self._sites.clear()


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time (ms) per span name: duration minus child spans."""
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + s.self_s * 1e3
    return out


def layer_totals(spans: list[Span]) -> dict[str, float]:
    """Per-layer sums over the given spans (times in ms)."""
    out: dict[str, float] = {}

    def add(key, v):
        out[key] = out.get(key, 0.0) + v

    for s in spans:
        layer = s.name.split(".", 1)[0]
        if s.name.startswith("graph_algorithms."):
            kernel = s.name.split(".", 1)[1]
            if not s.inside(s.name):
                add(f"graph_algorithms.{kernel}_ms", s.dur * 1e3)
                add(f"graph_algorithms.{kernel}_calls", 1)
        elif layer == "traversal":
            if not s.inside("traversal."):
                add("traversal.ms", s.dur * 1e3)
                add("traversal.calls", 1)
        elif s.name == "pin":
            add("pin.calls", 1)
            add("pin.ms", s.dur * 1e3)
        elif s.name == "localCheckpoint":
            add("pin.local_checkpoints" if s.inside("pin") else "pin.bypass", 1)
        elif s.name == "snapshot.commit":
            add("snapshot.commit_ms", s.dur * 1e3)
        elif s.name == "mutation.redelegate":
            add("mutation.redelegate_calls", 1)
        elif s.name.startswith("cdc."):
            short = {
                "encode_envelope": "encode",
                "parse_envelope": "parse",
                "apply_cdc_batch": "apply",
                "poll_changes": "poll",
            }[s.name.split(".", 1)[1]]
            add(f"cdc.{short}_ms", s.dur * 1e3)
            if short == "poll":
                add("cdc.batches", 1)
    return out


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    submitted: float
    stages: list[int]


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, dict]]:
    """(jobs, per-stage task totals) from every event log under log_dir."""
    jobs: list[Job] = []
    stages: dict[int, dict] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(Job(ev["Submission Time"] / 1e3, list(ev["Stage IDs"])))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(
                        ev["Stage ID"],
                        dict(tasks=0, failed=0, run_ms=0, cpu_ms=0.0, gc_ms=0, read_b=0, write_b=0),
                    )
                    st["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        st["failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    rd = m.get("Shuffle Read Metrics") or {}
                    st["read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                    st["write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return jobs, stages


def spark_totals(jobs: list[Job], stages: dict[int, dict], windows, cores: int) -> dict:
    """Spark work inside ``windows`` = [(start, build_end, end)] (epoch s).

    A job belongs to the window holding its submission time; it counts as
    built-time work when submitted before the window's build_end."""
    out = dict.fromkeys(
        [
            "spark.jobs",
            "spark.jobs_in_build",
            "spark.stages",
            "spark.tasks",
            "spark.failed_tasks",
            "spark.executor_run_ms",
            "spark.executor_cpu_ms",
            "spark.gc_ms",
            "spark.shuffle_read_mb",
            "spark.shuffle_write_mb",
        ],
        0.0,
    )
    seen: set[int] = set()
    for job in jobs:
        win = next((w for w in windows if w[0] <= job.submitted <= w[2]), None)
        if win is None:
            continue
        out["spark.jobs"] += 1
        if win[1] is not None and job.submitted <= win[1]:
            out["spark.jobs_in_build"] += 1
        for sid in job.stages:
            st = stages.get(sid)
            if st is None or sid in seen:  # skipped (reused) or shared stage
                continue
            seen.add(sid)
            out["spark.stages"] += 1
            out["spark.tasks"] += st["tasks"]
            out["spark.failed_tasks"] += st["failed"]
            out["spark.executor_run_ms"] += st["run_ms"]
            out["spark.executor_cpu_ms"] += st["cpu_ms"]
            out["spark.gc_ms"] += st["gc_ms"]
            out["spark.shuffle_read_mb"] += st["read_b"] / 2**20
            out["spark.shuffle_write_mb"] += st["write_b"] / 2**20
    wall = sum(w[2] - w[0] for w in windows)
    out["spark.core_util"] = out["spark.executor_cpu_ms"] / (wall * 1e3 * cores) if wall else 0.0
    return out


# ---------------------------------------------------------- streaming phases

PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")


def make_stream_listener():
    """A StreamingQueryListener keeping, per micro-batch, its trigger start
    (epoch s), phase durations (ms) and state rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, dict, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            state_rows = sum(op.numRowsTotal for op in p.stateOperators)
            self.batches.append((start, dict(p.durationMs), state_rows))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamProgress()


def stream_totals(batches, windows) -> dict:
    """Micro-batch phases inside the given request windows (ms)."""
    out = {f"streaming.{p}_ms": 0.0 for p in PHASES}
    out.update({"streaming.batches": 0.0, "streaming.state_rows": 0.0, "streaming.startup_ms": 0.0})
    for start, _build_end, end in windows:
        in_win = [b for b in batches if start <= b[0] <= end]
        for _t, dur, rows in in_win:
            for p in PHASES:
                out[f"streaming.{p}_ms"] += dur.get(p, 0)
            out["streaming.batches"] += 1
            out["streaming.state_rows"] += rows
        if in_win:
            busy = sum(d.get("triggerExecution", 0) for _t, d, _r in in_win)
            out["streaming.startup_ms"] += (end - start) * 1e3 - busy
    return out
