"""Per-layer tracing for the benchmark, installed from outside the engine.

Three sources, none of which needs a change under ``datapipe_spark/``:

- ``Wrappers`` rebinds public source/store functions to timing
  wrappers, in the defining module and in every module that imported
  the name (``from x import f``), so call counts and inclusive seconds
  land per layer;
- ``StreamListener`` collects every micro-batch progress report;
- ``fold_event_log`` reads the Spark event log written during the run
  and attributes jobs, stages, tasks and SQL executions to operations
  by time window. Operations run one at a time, so a window holds
  exactly the jobs its operation submitted, including micro-batch jobs
  under a stream's own job group and jobs of pooled writer threads.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import sys
import threading
import time
from datetime import datetime

# metric prefix -> public functions whose calls it times
WRAPPED = {
    "sources.load_table": [("datapipe_spark.sources.tables", "load_table")],
    "sources.event_drops": [("datapipe_spark.streaming.source", "prepare_event_drops")],
    "sources.changelog": [("datapipe_spark.sources.cdc", "synth_changelog")],
    "stores.snapshot_commit": [
        ("datapipe_spark.operators.snapshots", "commit_snapshot"),
        ("datapipe_spark.operators.snapshots", "commit_snapshot_batch"),
        ("datapipe_spark.operators.snapshots", "merge_snapshot"),
        ("datapipe_spark.operators.snapshots", "delete_rows"),
        ("datapipe_spark.operators.snapshots", "overwrite_partitions"),
    ],
    "stores.lease_acquire": [("datapipe_spark.operators.lease", "acquire")],
}


class Wrappers:
    """Timing wrappers around the functions in ``WRAPPED``.

    Only the outermost call per layer and thread is timed, so a wrapped
    function calling another of the same layer is not counted twice.
    ``enabled`` switches recording off without unbinding, which lets a
    run time passes with and without the wrappers."""

    def __init__(self) -> None:
        self.enabled = True
        self.calls = dict.fromkeys(WRAPPED, 0)
        self.seconds = dict.fromkeys(WRAPPED, 0.0)
        self._mu = threading.Lock()
        self._depth = threading.local()

    def install(self) -> None:
        for layer, targets in WRAPPED.items():
            for mod_name, fn_name in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, fn_name)
                wrapped = self._wrap(layer, orig)
                # rebind every alias, including ``from mod import fn``
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("datapipe_spark"):
                        for attr, val in list(vars(m).items()):
                            if val is orig:
                                setattr(m, attr, wrapped)

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = getattr(self._depth, layer, 0)
            if depth or not self.enabled:
                return fn(*args, **kwargs)
            setattr(self._depth, layer, 1)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                setattr(self._depth, layer, 0)
                with self._mu:
                    self.calls[layer] += 1
                    self.seconds[layer] += dt

        return timed


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps every progress report
    (as parsed JSON) and the ids of started and terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.started: set[str] = set()
            self.terminated: set[str] = set()
            self._mu = threading.Lock()

        def onQueryStarted(self, event) -> None:
            with self._mu:
                self.started.add(str(event.id))

        def onQueryProgress(self, event) -> None:
            rec = json.loads(event.progress.json)
            with self._mu:
                self.progress.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._mu:
                self.terminated.add(str(event.id))

        def drain(self, timeout: float = 10.0) -> None:
            """Wait until every started query has reported termination:
            listener events arrive asynchronously, and a query's
            progress reports precede its termination event."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._mu:
                    if self.started <= self.terminated:
                        return
                time.sleep(0.02)
            raise RuntimeError("streaming listener did not see every query terminate")

    return StreamListener()


def progress_epoch(rec: dict) -> float:
    """Trigger start of one progress report, in epoch seconds."""
    return datetime.fromisoformat(rec["timestamp"].replace("Z", "+00:00")).timestamp()


def store_files(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(path: str, windows: list[tuple[float, float]]) -> dict:
    """Fold the Spark event log at ``path`` into per-run totals.

    ``windows`` are the (start, end) epoch seconds of the traced
    operations. A job belongs to the window holding its submission
    time; stages, tasks and task metrics follow their job. Jobs
    submitted between the first window's start and the last window's
    end that fall in no window are counted in ``unattributed``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict, dict]] = []
    stages_done: list[int] = []
    sql_times: list[float] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append((ev["Stage ID"], ev.get("Task Info", {}), ev.get("Task Metrics") or {}))
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                sql_times.append(ev["time"] / 1000.0)

    lo = windows[0][0] if windows else 0.0
    hi = windows[-1][1] if windows else 0.0

    def window_of(t: float) -> int | None:
        for i, (a, b) in enumerate(windows):
            if a <= t <= b:
                return i
        return None

    job_window = {}
    unattributed = 0
    in_range = 0
    for jid, j in jobs.items():
        if not lo <= j["start"] <= hi:
            continue
        in_range += 1
        w = window_of(j["start"])
        if w is None:
            unattributed += 1
        else:
            job_window[jid] = w

    spans: dict[int, list[tuple[float, float]]] = {}
    for jid, w in job_window.items():
        j = jobs[jid]
        spans.setdefault(w, []).append((j["start"], j["end"] or windows[w][1]))
    job_span = {w: _union_s(s) for w, s in spans.items()}

    tot = dict.fromkeys(
        (
            "executor_run_ms",
            "executor_cpu_ms",
            "gc_ms",
            "fetch_wait_ms",
            "input_bytes",
            "shuffle_read_bytes",
            "shuffle_write_bytes",
            "spill_bytes",
            "output_bytes",
        ),
        0.0,
    )
    task_ms = []
    run_ms_by_window: dict[int, float] = {}
    for sid, info, m in tasks:
        jid = stage_job.get(sid)
        if jid not in job_window:
            continue
        sr = m.get("Shuffle Read Metrics", {})
        sw = m.get("Shuffle Write Metrics", {})
        run_ms = m.get("Executor Run Time", 0)
        tot["executor_run_ms"] += run_ms
        tot["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
        tot["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tot["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        if info.get("Finish Time") and info.get("Launch Time"):
            task_ms.append(info["Finish Time"] - info["Launch Time"])
        w = job_window[jid]
        run_ms_by_window[w] = run_ms_by_window.get(w, 0.0) + run_ms

    return {
        "jobs_in_log": in_range,
        "jobs": len(job_window),
        "unattributed": unattributed,
        "stages": sum(1 for s in stages_done if stage_job.get(s) in job_window),
        "tasks": len(task_ms),
        "sql_executions": sum(1 for t in sql_times if window_of(t) is not None),
        "job_span_by_window": job_span,
        "task_max_ms": max(task_ms, default=0.0),
        "task_p50_ms": statistics.median(task_ms) if task_ms else 0.0,
        **tot,
    }
