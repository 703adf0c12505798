"""Measurement from outside the program: spans, FileIO counts, the
Spark event log, and process-tree memory.

Spans wrap public functions of the package's layers. A span records
its inclusive time (counted once when spans of the same layer nest),
its self time (inclusive minus child spans) and tags the Spark jobs it
starts with a job group named after the span path, so the event log
can be grouped per span afterwards.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

PKG = "biglake_iceberg_pipeline_spark"

#: (module, attribute or Class.method, span layer). A module entry
#: with attribute "*" wraps every public DataFrame-level function the
#: module defines.
SPANS = [
    ("sources.readers", "read_auto", "sources.read"),
    ("operators.cleaning", "*", "operators.cleaning"),
    ("operators.coercion", "*", "operators.cleaning"),
    ("operators.medallion", "*", "operators.cleaning"),
    ("operators.dedup", "*", "operators.dedup"),
    ("operators.semdedup", "*", "operators.dedup"),
    ("operators.graph", "*", "operators.graph"),
    ("operators.text", "*", "operators.text"),
    ("plans.medallion_flow", "run_medallion_flow", "plans.medallion_flow"),
    ("plans.pipeline", "curate_documents", "plans.curate"),
    ("sinks.matview", "MaterializedView.refresh", "matview.refresh"),
    ("sinks.lakehouse", "LakehouseTable.read", "lakehouse.read_build"),
    ("sinks.lakehouse", "LakehouseTable.maintain", "lakehouse.maintain"),
] + [
    ("sinks.lakehouse", f"LakehouseTable.{m}", "lakehouse.commit")
    for m in (
        "append",
        "add_files",
        "overwrite",
        "overwrite_where",
        "merge",
        "delete_where",
        "delete_where_mor",
        "update_where",
        "write_audit_publish",
    )
]

FILEIO_PRIMITIVES = ("read_bytes", "write_atomic", "put_if_absent", "exists", "list", "delete")


def _dataframe_level(fn) -> bool:
    """Driver-side functions over DataFrames/Columns only: functions
    that run inside executors (pandas batches, row UDF bodies) must not
    be wrapped, since the wrapper would have to be shipped with them."""
    if hasattr(fn, "evalType"):
        return False
    ann = " ".join(str(a) for a in getattr(fn, "__annotations__", {}).values())
    return ("DataFrame" in ann or "Column" in ann) and "pd." not in ann and "Iterator" not in ann


class Tracer:
    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self.inclusive: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        #: span path -> inclusive seconds (outermost per layer)
        self.by_path: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []
        self.sources_files = 0
        self.sources_bytes = 0
        self.maintain_bytes = 0

    def reset(self) -> None:
        """Forget what set-up recorded; the timed window starts."""
        for d in (self.inclusive, self.self_s, self.calls, self.by_path):
            d.clear()
        self.sources_files = self.sources_bytes = self.maintain_bytes = 0

    # ---------------------------------------------------------- spans

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, layer: str, name: str | None = None):
        return _Span(self, layer, name or layer)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if layer == "sources.read" and len(args) > 1:
                with tracer._lock:
                    tracer.sources_files += 1
                    try:
                        tracer.sources_bytes += os.path.getsize(args[1])
                    except (OSError, TypeError):
                        pass
            with _Span(tracer, layer, f"{layer}.{fn.__name__}"):
                if layer != "lakehouse.maintain":
                    return fn(*args, **kwargs)
                before = _files(args[0].path)
                out = fn(*args, **kwargs)
                grown = sum(n for p, n in _files(args[0].path).items() if p not in before)
                with tracer._lock:
                    tracer.maintain_bytes += grown
                return out

        return wrapper

    def install(self) -> None:
        """Wrap every listed function, in its own module and wherever a
        package module imported it by name."""
        import importlib

        for mod_name, attr, layer in SPANS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patched.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, layer))
                continue
            names = (
                [
                    n
                    for n, f in vars(mod).items()
                    if not n.startswith("_")
                    and inspect.isfunction(f)
                    and f.__module__ == mod.__name__
                    and _dataframe_level(f)
                ]
                if attr == "*"
                else [attr]
            )
            for n in names:
                orig = getattr(mod, n)
                wrapped = self._wrap(orig, layer)
                for other in list(sys.modules.values()):
                    if getattr(other, "__name__", "").startswith(PKG):
                        for k, v in list(vars(other).items()):
                            if v is orig:
                                self._patched.append((other, k, orig))
                                setattr(other, k, wrapped)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class _Span:
    def __init__(self, tracer: Tracer, layer: str, name: str):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        stack = self.tracer._stack()
        parent_path = stack[-1][1] if stack else ""
        self.path = f"{parent_path}/{self.name}" if parent_path else self.name
        self.nested = any(s[0] == self.layer for s in stack)
        self.children = 0.0
        stack.append((self.layer, self.path, self))
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", self.path)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        dt = time.perf_counter() - self.t0
        stack = self.tracer._stack()
        stack.pop()
        parent = stack[-1][2] if stack else None
        if parent is not None:
            parent.children += dt
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", parent.path if parent else None)
        t = self.tracer
        with t._lock:
            t.self_s[self.layer] += dt - self.children
            if not self.nested:
                t.inclusive[self.layer] += dt
                t.calls[self.layer] += 1
                t.by_path[self.path] += dt
        return False


# ---------------------------------------------------------------- FileIO


class CountingFileIO:
    """Delegates to the local backend, counting calls, bytes and time
    per primitive. Registered for the benchmark's lake root only."""

    def __init__(self, inner):
        self._inner = inner
        self._lock = threading.Lock()
        self.calls: dict[str, int] = defaultdict(int)
        self.bytes_read = 0
        self.bytes_written = 0
        self.seconds = 0.0

    def reset(self) -> None:
        self.calls.clear()
        self.bytes_read = self.bytes_written = 0
        self.seconds = 0.0

    def __getattr__(self, name):
        fn = getattr(self._inner, name)
        if not callable(fn):
            return fn

        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            with self._lock:
                self.calls[name] += 1
                self.seconds += dt
                if name == "read_bytes":
                    self.bytes_read += len(out)
                elif name in ("write_atomic", "put_if_absent"):
                    data = args[1] if len(args) > 1 else kwargs.get("data", b"")
                    self.bytes_written += len(data or b"")
            return out

        return counted

    def metrics(self) -> dict[str, float]:
        out = {f"fileio.{p}.calls": self.calls.get(p, 0) for p in FILEIO_PRIMITIVES}
        out["fileio.bytes_read"] = self.bytes_read
        out["fileio.bytes_written"] = self.bytes_written
        out["fileio.s"] = self.seconds
        return out


# ------------------------------------------------------------- event log


def event_log_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that switch on an uncompressed,
    single-file event log in ``log_dir``."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{log_dir} "
        "--conf spark.eventLog.compress=false "
        "--conf spark.eventLog.rolling.enabled=false "
        "pyspark-shell"
    )


_ACC_PY_SENT = "data sent to Python workers"
_ACC_PY_RET = "data returned from Python workers"
_ACC_ROWS = "number of output rows"


def _acc_value(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_event_log(lines, window: tuple[float, float] | None = None) -> dict:
    """Per job group: jobs, stages, tasks and task metrics from Spark
    event-log JSON lines. ``window`` (epoch seconds) keeps only jobs
    submitted inside it."""
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    job_tasks: dict[int, int] = defaultdict(int)
    stage_job: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            ts = ev.get("Submission Time", 0) / 1000.0
            if window and not (window[0] <= ts <= window[1]):
                continue
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or "(none)"
            jid = ev["Job ID"]
            job_group[jid] = g
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None or "Completion Time" not in info:
                continue  # skipped stage, or a job outside the window
            acc = groups[g]
            acc["stages"] += 1
            stage_rows = 0.0
            for a in info.get("Accumulables", []):
                name, val = a.get("Name"), _acc_value(a.get("Value"))
                if name == _ACC_PY_SENT:
                    acc["py_sent"] += val
                elif name == _ACC_PY_RET:
                    acc["py_returned"] += val
                elif name == _ACC_ROWS:
                    stage_rows = max(stage_rows, val)
            # the widest operator of the stage: for a scan-filter
            # stage, the rows the scan shipped before the filter
            acc["stage_rows"] += stage_rows
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            g = stage_group.get(sid)
            if g is None:
                continue
            job_tasks[stage_job[sid]] += 1
            acc = groups[g]
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            acc["tasks"] += 1
            acc["task_run_s"] += run_ms / 1000.0
            acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            overhead = (
                run_ms
                + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            acc["scheduler_delay_s"] += max(0, duration - overhead) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for jid, g in job_group.items():
        if job_tasks.get(jid, 0) <= 2:
            groups[g]["small_jobs"] += 1
    return {g: dict(v) for g, v in groups.items()}


def read_event_log(log_dir: str) -> list[str]:
    lines: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            lines.extend(fh)
    return lines


def spark_totals(groups: dict, window_s: float, slots: int) -> dict[str, float]:
    keys = (
        "jobs", "stages", "tasks", "small_jobs", "task_run_s", "task_cpu_s", "gc_s",
        "scheduler_delay_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    )
    tot = {k: sum(g.get(k, 0.0) for g in groups.values()) for k in keys}
    out = {f"spark.{k}": tot[k] for k in keys}
    out["spark.slot_busy_ratio"] = tot["task_run_s"] / max(window_s * slots, 1e-9)
    out["pyworker.bytes_sent"] = sum(g.get("py_sent", 0.0) for g in groups.values())
    out["pyworker.bytes_returned"] = sum(g.get("py_returned", 0.0) for g in groups.values())
    return out


# ---------------------------------------------------------- process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, the JVM, Python workers), sampled every 0.2 s."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024.0
