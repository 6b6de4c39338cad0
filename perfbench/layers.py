"""Outside-in layer trace: spans around the engine's public functions,
plus Spark's own counters from the event log and streaming progress.

Nothing in the engine changes. ``Tracer.instrument`` rebinds each
public function of the traced packages to a thin wrapper, in every
loaded engine module that refers to it (``from x import f`` copies the
binding), so calls from any layer are seen. The wrapper keeps the
original's ``__module__``/``__qualname__``: a function shipped to a
Python worker pickles by reference and resolves there to the original,
untraced function.

Spans are kept in memory (name, start, end, parent, query id) and
written out when the run ends. A layer's self time is its span time
minus its child spans. Spark jobs are attributed to the innermost
``build`` or ``action`` window by submission time: streaming
micro-batch jobs run on the stream's own thread and carry no job group
of the caller, but they do run inside the query's build window.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import pkgutil
import statistics
import sys
import threading
import time
import types
from collections import defaultdict

TRACED_PACKAGES = ("operators", "sources", "streaming")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.query: str | None = None
        self._main = threading.main_thread()
        self._stacks = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._stacks, "s", None)
        if st is None:
            st = self._stacks.s = []
        return st

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        # A span opened on another thread (a foreachBatch callback on the
        # stream thread) hangs under whatever the main thread has open.
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "start": time.time(), "end": None,
                "parent": parent, "query": self.query,
            })
        st.append(sid)
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        self.spans[sid]["end"] = time.time()
        st = self._stack()
        if st and st[-1] == sid:
            st.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sid)

        traced.__perfbench_traced__ = True
        return traced

    # -- instrumentation ---------------------------------------------------
    def instrument(self, root: str = "project_map_reduce_spark") -> list[str]:
        """Wrap ``tables.load`` and every public function defined in the
        traced packages; rebind all engine-module references to them.
        Returns the wrapped names (``<layer>.<fn>``).

        Query bodies import some operator and sink modules lazily, so
        every module of the traced packages is imported first; the
        ``pbshim`` directory is an interpreter start-up shim, not code
        the engine calls."""
        for pkg in TRACED_PACKAGES:
            try:
                mod = importlib.import_module(f"{root}.{pkg}")
            except ImportError:
                continue
            for info in pkgutil.walk_packages(getattr(mod, "__path__", []), f"{root}.{pkg}."):
                if ".pbshim" not in info.name:
                    importlib.import_module(info.name)
        targets: dict[int, tuple[object, str]] = {}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(root + "."):
                continue
            layer = modname.split(".")[1]
            for attr, obj in list(vars(mod).items()):
                if not isinstance(obj, types.FunctionType) or attr.startswith("_"):
                    continue
                if obj.__module__ != modname or getattr(obj, "__perfbench_traced__", False):
                    continue
                if layer in TRACED_PACKAGES:
                    targets[id(obj)] = (obj, f"{layer}.{attr}")
                elif modname == f"{root}.tables" and attr == "load":
                    targets[id(obj)] = (obj, "tables.load")
        wrappers = {k: self.wrap(fn, name) for k, (fn, name) in targets.items()}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == root or modname.startswith(root + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None and obj is targets[id(obj)][0]:
                    setattr(mod, attr, w)
        return sorted(name for _, name in targets.values())

    # -- reduction ---------------------------------------------------------
    def closed_spans(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]


def self_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: ``calls``, total seconds ``s`` and ``self_s`` (span
    minus its children, floored at 0 where threads overlap)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
    for s in spans:
        d = s["end"] - s["start"]
        r = out[s["name"]]
        r["calls"] += 1
        r["s"] += d
        r["self_s"] += max(0.0, d - child[s["id"]])
    return dict(out)


# -- Spark event log ---------------------------------------------------------


def parse_event_log(lines) -> dict:
    """Jobs, stages and per-stage task totals from event-log JSON lines.

    Times are epoch seconds. Returns ``{"jobs": {id: {submit, end,
    stages}}, "stages": {id: {tasks, submit, end, run_s, cpu_s, gc_s,
    shuffle_read, shuffle_write, spill, input_bytes, input_records,
    output_records, failed}}}``. Streaming progress comes from the
    benchmark's ``StreamingQueryListener`` instead.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "submit": None, "end": None, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        "input_bytes": 0, "input_records": 0, "output_records": 0, "failed": 0,
    })
    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except ValueError:
            continue  # a torn last line of an in-progress log
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {
                "submit": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages[info["Stage ID"]]
            if info.get("Submission Time") is not None:
                st["submit"] = info["Submission Time"] / 1000.0
            if info.get("Completion Time") is not None:
                st["end"] = info["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stages[ev["Stage ID"]]
            st["tasks"] += 1
            info = ev.get("Task Info", {})
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
                st["failed"] += 1
            m = ev.get("Task Metrics") or {}
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            im = m.get("Input Metrics") or {}
            st["input_bytes"] += im.get("Bytes Read", 0)
            st["input_records"] += im.get("Records Read", 0)
            st["output_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    return {"jobs": jobs, "stages": dict(stages)}


SPARK_KEYS = (
    "jobs", "stages", "tasks", "single_task_stages", "executor_run_s",
    "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "gc_s", "failed_tasks", "scan_tasks", "scan_stage_s",
    "input_bytes", "input_records", "output_records",
)


def spark_counters(log: dict, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum job/stage/task counters over jobs submitted inside any of the
    ``(start, end)`` windows. A scan stage is one that read input."""
    out = dict.fromkeys(SPARK_KEYS, 0.0)
    seen: set[int] = set()
    for job in log["jobs"].values():
        if not any(a <= job["submit"] <= b for a, b in windows):
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or st["tasks"] == 0 or sid in seen:
                continue  # skipped (reused shuffle) or already counted
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["single_task_stages"] += st["tasks"] == 1
            out["executor_run_s"] += st["run_s"]
            out["executor_cpu_s"] += st["cpu_s"]
            out["shuffle_read_bytes"] += st["shuffle_read"]
            out["shuffle_write_bytes"] += st["shuffle_write"]
            out["spill_bytes"] += st["spill"]
            out["gc_s"] += st["gc_s"]
            out["failed_tasks"] += st["failed"]
            out["output_records"] += st["output_records"]
            if st["input_bytes"] > 0:
                out["scan_tasks"] += st["tasks"]
                out["input_bytes"] += st["input_bytes"]
                out["input_records"] += st["input_records"]
                if st["submit"] is not None and st["end"] is not None:
                    out["scan_stage_s"] += st["end"] - st["submit"]
    return out


# -- streaming progress ------------------------------------------------------


STREAM_KEYS = (
    "batches", "trigger_s", "add_batch_s", "commit_s", "planning_s",
    "state_rows", "state_bytes",
)


def stream_counters(progress: list[dict]) -> dict[str, float]:
    """Totals over ``StreamingQueryProgress`` dicts. Batches that found no
    new data (``numInputRows`` 0 and no ``addBatch``) still count: their
    trigger time is part of the lifecycle. State rows and bytes are the
    final value per query run (the last progress of each run id)."""
    out = dict.fromkeys(STREAM_KEYS, 0.0)
    last_state: dict[str, tuple[float, float]] = {}
    for p in progress:
        d = p.get("durationMs") or {}
        out["batches"] += 1
        out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
        out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
        out["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
        out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
        ops = p.get("stateOperators") or []
        if ops:
            last_state[p.get("runId", "")] = (
                float(sum(o.get("numRowsTotal", 0) for o in ops)),
                float(sum(o.get("memoryUsedBytes", 0) for o in ops)),
            )
    out["state_rows"] = sum(r for r, _ in last_state.values())
    out["state_bytes"] = sum(b for _, b in last_state.values())
    return out


def read_event_logs(directory: str) -> dict:
    """Parse every event log in ``directory`` (one per SparkContext) into
    one ``parse_event_log`` result; job and stage ids are made unique per
    application."""
    merged = {"jobs": {}, "stages": {}}
    for i, name in enumerate(sorted(os.listdir(directory))):
        with open(os.path.join(directory, name)) as f:
            one = parse_event_log(f)
        for jid, job in one["jobs"].items():
            job["stages"] = [(i, s) for s in job["stages"]]
            merged["jobs"][(i, jid)] = job
        for sid, st in one["stages"].items():
            merged["stages"][(i, sid)] = st
    return merged


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _inside(t: float, windows) -> bool:
    return any(a <= t <= b for a, b in windows)


def summarize(spans, log, progress, setups, traced, plain, wrapped, cores) -> dict[str, float]:
    """Flat per-layer metrics. Span, Spark and streaming figures are per
    traced pass; set-up figures are medians over the run's set-ups."""
    n = max(1, len(traced))
    out: dict[str, float] = {
        "session.start_s": _median([s["session_start_s"] for s in setups]),
        "registry.import_s": _median([s["registry_import_s"] for s in setups]),
        "warmup_s": _median([s["warmup_s"] for s in setups]),
        "setup.cold_s": setups[0]["setup_s"],
        "session.cold_start_s": setups[0]["session_start_s"],
        "setup.cold_pass_s": setups[0]["warmup_s"],
        "setup.cold_pass_cpu_s": setups[0]["warmup_cpu_s"],
        "host.steal_s": _median([p["steal_s"] for p in traced + plain]),
    }
    traced_wall = _median([p["wall_s"] for p in traced])
    plain_wall = _median([p["wall_s"] for p in plain])
    out["trace.traced_wall_s"] = traced_wall
    out["trace.untraced_wall_s"] = plain_wall
    out["trace.overhead_s"] = traced_wall - plain_wall

    by_name = self_times(spans)
    build = [s for s in spans if s["name"].startswith("plans.")]
    action = [s for s in spans if s["name"] == "action"]
    build_w = [(s["start"], s["end"]) for s in build]
    action_w = [(s["start"], s["end"]) for s in action]
    build_s = sum(b - a for a, b in build_w)
    action_s = sum(b - a for a, b in action_w)
    out["plans.build_s"] = build_s / n
    out["plans.action_s"] = action_s / n
    out["plans.build_share"] = build_s / (build_s + action_s) if build_s + action_s else 0.0
    out["plans.self_s"] = sum(by_name[s]["self_s"] for s in by_name if s.startswith("plans.")) / n

    # Span totals per wrapped public function (zero when a workload does
    # not call it) and per layer.
    zero = {"calls": 0, "s": 0.0, "self_s": 0.0}
    out["tables.load_calls"] = by_name.get("tables.load", zero)["calls"] / n
    out["tables.load_s"] = by_name.get("tables.load", zero)["s"] / n
    for layer in TRACED_PACKAGES:
        fns = [w for w in wrapped if w.startswith(layer + ".")]
        for key in ("calls", "s", "self_s"):
            out[f"{layer}.{key}"] = sum(by_name.get(w, zero)[key] for w in fns) / n
        for w in fns:
            out[f"{w}.calls"] = by_name.get(w, zero)["calls"] / n
            out[f"{w}.s"] = by_name.get(w, zero)["s"] / n

    allw = build_w + action_w
    sp = spark_counters(log, allw)
    for k in ("jobs", "stages", "tasks", "single_task_stages", "executor_run_s",
              "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "failed_tasks"):
        out[f"spark.{k}"] = sp[k] / n
    out["spark.cpu_busy_frac"] = (
        out["spark.executor_cpu_s"] / (traced_wall * cores) if traced_wall else 0.0
    )
    sb, sa = spark_counters(log, build_w), spark_counters(log, action_w)
    out["plans.build_jobs"] = sb["jobs"] / n
    out["plans.action_jobs"] = sa["jobs"] / n
    out["spark.build_cpu_s"] = sb["executor_cpu_s"] / n
    out["spark.action_cpu_s"] = sa["executor_cpu_s"] / n
    out["tables.input_bytes"] = sp["input_bytes"] / n
    out["tables.input_records"] = sp["input_records"] / n
    out["tables.scan_tasks"] = sp["scan_tasks"] / n
    out["tables.scan_stage_s"] = sp["scan_stage_s"] / n
    out["sources.rows_written"] = sb["output_records"] / n

    # Streaming progress arrives on the listener thread; a progress event
    # belongs to the build window it arrived in.
    stream_runs = [s for s in build if any(s["start"] <= t <= s["end"] for t, _ in progress)]
    events = [p for t, p in progress if _inside(t, build_w)]
    st = stream_counters(events)
    for k, v in st.items():
        out[f"streaming.{k}"] = v / n
    lifecycle = sum(s["end"] - s["start"] for s in stream_runs) - st["trigger_s"]
    out["streaming.lifecycle_s"] = lifecycle / n
    return out
