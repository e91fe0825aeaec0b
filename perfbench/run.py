"""Benchmark of the datapipe_spark engine, end to end and layer by layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_analytics --seed 1 --seconds 10 --trace 0

One process runs one workload (``workloads.py``) on ``local[nproc/2]``
over the sf0.1 tables committed under ``perfbench/testdata``:

1. set-up: start the session, call every entry once and check its
   result (``gate.py``), then run one untimed warm-up pass. Fixture
   builds, worker start and most JIT land here; without the warm-up
   pass the first timed pass reads about 25% slow, and whether a run
   fits one or two more passes would decide its figures;
2. timed passes, for ``--seconds``: every entry once per pass, in an
   order the seed permutes, each forced with ``.count()`` and its row
   count checked against the set-up call.

The end-to-end figures are ``setup_s`` (wall) and ``pass_cpu_s``: the
CPU seconds of this process and its descendants (the JVM and its
Python workers), less the JIT compiler threads, over one pass, each
entry at its median. On a 4-vCPU share of a busy host (up to 21% of
CPU time stolen) the wall time of a pass spread 0.17-0.42
(interquartile range over median, three sets of ten seeds) and its
CPU time 0.08 on stream_ingest and 0.16 on batch_analytics, so the
wall time of a pass is a per-layer figure.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, a streaming listener and wrappers around the public
source and store functions (``tracing.py``) and prints the per-layer
metrics; it alternates passes with the wrappers recording and not, and
reports the ratio of their medians as the tracing overhead.

All engine state (store roots, Spark local dirs, temp files, the event
log, the working directory) lives in a fresh directory under
``.perfbench_run/`` in the checkout, removed at exit. The last line of
stdout is the JSON result; the line before it has the run's details.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "testdata", "sf0.1")
STORE_ENV = ("STREAM", "SCD2", "INDEX", "SNAPSHOT", "QUANTIZER", "IVF", "MODEL")
DRIVER_MEM = "2g"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 chars


def _args() -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _checkout_problem() -> str | None:
    if not os.path.isfile(os.path.join(ROOT, "datapipe_spark", "__init__.py")):
        return f"no datapipe_spark package under {ROOT}"
    from datapipe_spark import TABLES

    missing = [t for t in TABLES if not os.path.isfile(os.path.join(DATA, f"{t}.parquet"))]
    return f"testdata tables missing: {missing}" if missing else None


def _isolate(state: str, trace: bool) -> str:
    """Point every engine state root, temp dir and the cwd into
    ``state``; return the event-log directory."""
    for name in STORE_ENV:
        os.environ[f"SPARK_GRAFT_{name}_DIR"] = os.path.join(state, name.lower())
    tmp = os.path.join(state, "tmp")
    local = os.path.join(state, "spark-local")
    events = os.path.join(state, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_spark_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # a fixed set of JIT threads: one that exited would take its
        # CPU time out of the subtraction in _engine_cpu_s
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    confs = {"spark.driver.extraJavaOptions": java_opts}
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([*args, "pyspark-shell"])
    os.chdir(state)
    return events


def _spark_cores() -> int:
    """Half the CPUs: the other half runs the driver, JIT and GC
    threads, so a pass measures the engine rather than the scheduler."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _thread_ticks(stat: str) -> int:
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])


def _engine_cpu_s() -> float:
    """User + system CPU seconds of this process and all its
    descendants (the JVM and its Python workers), including children
    they have reaped, less the JVM's JIT compiler threads. Compiling
    is warm-up that goes on for minutes: it took about 40% of the
    JVM's CPU in the timed passes, and how much of it lands in a pass
    differs from one process to the next."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(rest[1])
        ticks[int(d)] = sum(int(x) for x in rest[11:15])
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    total = sum(ticks[p] for p in mine)
    for pid in mine:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1 :].startswith(JIT_THREADS):
                total -= _thread_ticks(stat)
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Run:
    def __init__(self, args: argparse.Namespace, state: str) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.w = WORKLOADS[args.workload]
        self.state = state
        self.trace = bool(args.trace)
        self.attempted = 0
        self.problems: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.ops: list[dict] = []  # one per timed call
        self.passes: list[dict] = []
        self.detail: dict = {}

    def fail(self, key: str, why: str) -> None:
        self.problems[key] = why[:500]

    def _call(self, spark, qs, name: str, key: str) -> dict | None:
        """Call one entry and count its result; None if the call failed."""
        self.attempted += 1
        start = time.time()
        c0 = _engine_cpu_s()
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, DATA)
            t1 = time.perf_counter()
            n = df.count()
        except Exception as exc:  # noqa: BLE001 — a failed entry is a result
            self.fail(f"{key}:{name}", repr(exc))
            return None
        t2 = time.perf_counter()
        cpu = _engine_cpu_s() - c0
        if n != self.rows[name]:
            self.fail(f"{key}:{name}", f"rows {n} != {self.rows[name]}")
        return {"name": name, "build": t1 - t0, "action": t2 - t1, "wall": t2 - t0,
                "cpu": cpu, "start": start, "end": time.time()}

    def execute(self) -> dict:
        events_dir = _isolate(self.state, self.trace)
        from pyspark import SparkContext

        t = time.perf_counter()
        from datapipe_spark import get_spark
        from datapipe_spark.plans import registry

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        gateway = SparkContext._gateway
        try:
            metrics = self._measure(spark, registry, session_s)
        finally:
            spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        if self.trace:
            metrics.update(self._fold(events_dir))
        return metrics

    def _measure(self, spark, registry, session_s: float) -> dict:
        from gate import Gate

        qs = registry.queries()
        oracles = registry.oracle_sql()
        wrappers = listener = None
        if self.trace:
            import tracing

            wrappers = tracing.Wrappers()
            wrappers.install()
            wrappers.enabled = False
            listener = tracing.make_stream_listener()
            spark.streams.addListener(listener)

        gate = Gate(DATA)
        gate_s = self.detail["gate_s"] = {}
        try:
            for name in self.w.entries:
                self.attempted += 1
                t = time.perf_counter()
                try:
                    rows, problem = gate.check(spark, name, qs[name], oracles.get(name))
                except Exception as exc:  # noqa: BLE001 — a failed entry is a result
                    rows, problem = -1, repr(exc)
                self.rows[name] = rows
                gate_s[name] = round(time.perf_counter() - t, 3)
                if problem:
                    self.fail(f"gate:{name}", problem)
        finally:
            gate.close()
        for name in self.w.entries:
            self._call(spark, qs, name, "warmup")
        setup_s = time.perf_counter() - T_START

        jiffies = _cpu_jiffies()
        rng = random.Random(self.args.seed)
        deadline = time.perf_counter() + self.args.seconds
        store_roots = [os.environ[f"SPARK_GRAFT_{n}_DIR"] for n in STORE_ENV]
        while time.perf_counter() < deadline or len(self.passes) < (2 if self.trace else 1):
            order = list(self.w.entries)
            rng.shuffle(order)
            wrapped = self.trace and len(self.passes) % 2 == 0
            if wrappers:
                wrappers.enabled = wrapped
            written = [0, 0]
            walls = []
            for name in order:
                if self.trace:
                    files_before = tracing.store_files(store_roots)
                op = self._call(spark, qs, name, f"pass{len(self.passes)}")
                if op is None:
                    continue
                walls.append(op["wall"])
                self.ops.append(op)
                if self.trace:
                    listener.drain()
                    after = tracing.store_files(store_roots)
                    new = [p for p, v in after.items() if files_before.get(p) != v]
                    written[0] += len(new)
                    written[1] += sum(after[p][0] for p in new)
            self.passes.append({"wall": sum(walls), "wrapped": wrapped, "written": written})

        steal, total = (b - a for a, b in zip(jiffies, _cpu_jiffies()))
        self.detail["cpu_steal_share"] = round(steal / max(1, total), 4)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        self.detail["versions"] = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        by_name: dict[str, list[float]] = {}
        cpu_by_name: dict[str, list[float]] = {}
        for op in self.ops:
            by_name.setdefault(op["name"], []).append(op["wall"])
            cpu_by_name.setdefault(op["name"], []).append(op["cpu"])
        self.by_name = by_name
        self.detail["op_wall_s"] = {k: [round(x, 4) for x in v] for k, v in by_name.items()}
        self.detail["op_cpu_s"] = {k: [round(x, 3) for x in v] for k, v in cpu_by_name.items()}
        self.wrappers, self.listener = wrappers, listener
        self.session_s = session_s
        self.peak_rss_mb = peak_rss_mb
        if self.trace:
            return {}
        return {
            "setup_s": (setup_s, "s"),
            # a typical pass: each entry at its median CPU time
            "pass_cpu_s": (sum(_median(v) for v in cpu_by_name.values()), "s"),
        }

    def _fold(self, events_dir: str) -> dict:
        import tracing
        from tracing import WRAPPED
        from workloads import WORKLOADS

        logs = glob.glob(os.path.join(events_dir, "*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        windows = [(op["start"], op["end"]) for op in self.ops]
        ev = tracing.fold_event_log(logs[0], windows)
        if ev["unattributed"] or ev["jobs"] != ev["jobs_in_log"]:
            self.fail(
                "attribution",
                f"{ev['jobs']} jobs attributed to operations, {ev['jobs_in_log']} in the log",
            )
        n = len(self.passes)
        n_wrapped = sum(p["wrapped"] for p in self.passes)
        wr = self.wrappers
        for layer in sorted(self.w.exercises):
            if not wr.calls[layer]:
                self.fail(f"wrapper:{layer}", "no call recorded")

        ops = self.ops
        wall_ms = sum(op["wall"] for op in ops) * 1000.0
        cores = _spark_cores()
        gap = sum(
            op["wall"] - ev["job_span_by_window"].get(i, 0.0) for i, op in enumerate(ops)
        )

        # micro-batches, attributed to operations by trigger time
        batches = []
        stream_wall = 0.0
        for op in ops:
            mine = [
                r for r in self.listener.progress
                if op["start"] <= tracing.progress_epoch(r) <= op["end"]
            ]
            if mine:
                stream_wall += op["wall"]
                batches.extend(mine)

        def phase(key: str) -> float:
            return _median([b["durationMs"].get(key, 0) for b in batches])

        def state(key: str) -> list[float]:
            # over the stateful batches only
            return [
                sum(s.get(key, 0) for s in b["stateOperators"])
                for b in batches
                if b.get("stateOperators")
            ]

        input_rows = sum(b.get("numInputRows", 0) for b in batches)
        trigger = [b["durationMs"].get("triggerExecution", 0) for b in batches]

        by_name = self.by_name
        wrapped_walls = [p["wall"] for p in self.passes if p["wrapped"]]
        bare_walls = [p["wall"] for p in self.passes if not p["wrapped"]]
        failed = len(self.problems)

        m = {
            "session.start_s": (self.session_s, "s"),
            # a typical pass: each entry at its median latency
            "pass_s": (sum(_median(v) for v in by_name.values()), "s"),
            # JVM and driver Python high-water marks; heap growth follows
            # GC timing, which spreads it too much for an end-to-end bound
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "op_p50_s": (_median([op["wall"] for op in ops]), "s"),
            "op_p90_s": (_pct([op["wall"] for op in ops], 0.9), "s"),
            "fail_ratio": (failed / max(1, self.attempted), "ratio"),
            "trace.overhead_ratio": (_median(wrapped_walls) / _median(bare_walls), "ratio"),
            "plans.build_s": (sum(op["build"] for op in ops) / n, "s"),
            "plans.action_s": (sum(op["action"] for op in ops) / n, "s"),
            "spark.jobs": (ev["jobs"] / n, "count"),
            "spark.stages": (ev["stages"] / n, "count"),
            "spark.tasks": (ev["tasks"] / n, "count"),
            "spark.sql_executions": (ev["sql_executions"] / n, "count"),
            "spark.job_span_s": (sum(ev["job_span_by_window"].values()) / n, "s"),
            "spark.driver_gap_s": (gap / n, "s"),
            "spark.executor_run_ms": (ev["executor_run_ms"] / n, "ms"),
            "spark.executor_cpu_ms": (ev["executor_cpu_ms"] / n, "ms"),
            "spark.gc_ms": (ev["gc_ms"] / n, "ms"),
            "spark.fetch_wait_ms": (ev["fetch_wait_ms"] / n, "ms"),
            "spark.task_max_ms": (ev["task_max_ms"], "ms"),
            "spark.task_p50_ms": (ev["task_p50_ms"], "ms"),
            "spark.input_bytes": (ev["input_bytes"] / n, "bytes"),
            "spark.shuffle_read_bytes": (ev["shuffle_read_bytes"] / n, "bytes"),
            "spark.shuffle_write_bytes": (ev["shuffle_write_bytes"] / n, "bytes"),
            "spark.spill_bytes": (ev["spill_bytes"] / n, "bytes"),
            "spark.output_bytes": (ev["output_bytes"] / n, "bytes"),
            "events_per_s": (input_rows / stream_wall if stream_wall else 0.0, "ev/s"),
            "microbatch_p50_ms": (_median(trigger), "ms"),
            "microbatch_p90_ms": (_pct(trigger, 0.9), "ms"),
            "streaming.batches": (len(batches) / n, "count"),
            "streaming.input_rows": (input_rows / n, "count"),
            "streaming.trigger_ms": (phase("triggerExecution"), "ms"),
            "streaming.add_batch_ms": (phase("addBatch"), "ms"),
            "streaming.query_planning_ms": (phase("queryPlanning"), "ms"),
            "streaming.wal_commit_ms": (phase("walCommit"), "ms"),
            "streaming.commit_offsets_ms": (phase("commitOffsets"), "ms"),
            "streaming.latest_offset_ms": (phase("latestOffset"), "ms"),
            "streaming.state_rows": (_median(state("numRowsTotal")), "count"),
            "streaming.state_memory_bytes": (max(state("memoryUsedBytes"), default=0), "bytes"),
            "streaming.state_commit_ms": (_median(state("commitTimeMs")), "ms"),
            "stores.files_written": (sum(p["written"][0] for p in self.passes) / n, "count"),
            "stores.bytes_written": (sum(p["written"][1] for p in self.passes) / n, "bytes"),
            "operators.executor_share": (ev["executor_run_ms"] / (wall_ms * cores), "ratio"),
        }
        for layer in WRAPPED:
            m[f"{layer}_s"] = (wr.seconds[layer] / n_wrapped, "s")
        m["sources.load_table_calls"] = (wr.calls["sources.load_table"] / n_wrapped, "count")
        for w in WORKLOADS.values():
            for name in w.entries:
                m[f"operators.{name}.wall_s"] = (_median(by_name.get(name, [])), "s")
        self.detail["samples"] = {"ops": len(ops), "microbatches": len(batches)}
        self.detail["jobs"] = {k: ev[k] for k in ("jobs", "jobs_in_log", "unattributed")}
        self.detail["wrapper_calls"] = wr.calls
        return m


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    problem = _checkout_problem()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    state = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(state, ignore_errors=True)
    os.makedirs(state)
    run = Run(args, state)
    try:
        metrics = run.execute()
    finally:
        os.chdir(ROOT)
        shutil.rmtree(state, ignore_errors=True)
    failed = len(run.problems)
    run.detail.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "testdata": {
                os.path.basename(p): [os.path.getsize(p), os.path.getmtime(p)]
                for p in sorted(glob.glob(os.path.join(DATA, "*.parquet")))
            },
            "passes": [round(p["wall"], 4) for p in run.passes],
            "problems": run.problems,
        }
    )
    print(json.dumps(run.detail))
    result = {
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
