"""Tracing for the per-layer run: spans, Spark event-log counters,
streaming progress and the noise stamps every run record carries.

Spans are recorded by the benchmark around its own calls into each
layer and kept in memory until the run ends. A span's layer is the
part of its name before the first dot.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import statistics
import subprocess
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """In-memory span recorder; a no-op unless ``enabled``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def wrapped(self, module, names: dict[str, str]):
        """Temporarily replace ``module.<attr>`` with a span-recording
        wrapper, for each ``attr -> span name`` in ``names``."""
        saved = {attr: getattr(module, attr) for attr in names}

        def make(fn, span_name):
            def wrapper(*args, **kwargs):
                with self.span(span_name):
                    return fn(*args, **kwargs)

            return wrapper

        if self.enabled:
            for attr, span_name in names.items():
                setattr(module, attr, make(saved[attr], span_name))
        try:
            yield
        finally:
            for attr, fn in saved.items():
                setattr(module, attr, fn)

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]


def duration_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def self_ms_by_layer(spans: list[dict]) -> dict[str, float]:
    """Self time (span minus its children) summed per layer."""
    child_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + duration_ms(s)
    out: dict[str, float] = {}
    for s in spans:
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + duration_ms(s) - child_ms.get(s["id"], 0.0)
    return out


def spans_ms(spans: list[dict], name: str) -> float:
    return sum(duration_ms(s) for s in spans if s["name"] == name)


# --- Spark event log -------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from the one application log under ``log_dir``.

    A job carries its description, submission time and stage ids; a
    task carries its stage, run interval (epoch ms) and metrics.
    """
    jobs, tasks = [], []
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    # rolled files are events_<index>_<app id>
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "desc": props.get("spark.job.description"),
                            "submit": ev.get("Submission Time", 0),
                            "stages": ev.get("Stage IDs", []),
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    return jobs, tasks


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
    accum = {}
    for a in info.get("Accumulables") or []:
        name = a.get("Name")
        if name in (PY_SENT, PY_RECEIVED):
            accum[name] = accum.get(name, 0) + int(a.get("Update") or 0)
    return {
        "stage": ev["Stage ID"],
        "launch": info["Launch Time"],
        "finish": info["Finish Time"],
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "py_sent": accum.get(PY_SENT, 0),
        "py_received": accum.get(PY_RECEIVED, 0),
        "python": PY_SENT in accum or PY_RECEIVED in accum,
    }


def exec_counters(
    jobs: list[dict], tasks: list[dict], interval_ms: tuple[float, float]
) -> dict[str, float]:
    """Execution and Python-worker counters of ``jobs``, plus the time
    inside ``interval_ms`` during which none of their tasks ran."""
    stage_ids = {s for j in jobs for s in j["stages"]}
    mine = [t for t in tasks if t["stage"] in stage_ids]
    py = [t for t in mine if t["python"]]
    lo, hi = interval_ms
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(t["launch"], lo), min(t["finish"], hi)) for t in mine):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            busy += 0.0 if cur_hi is None else cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len({t["stage"] for t in mine}),
        "exec.tasks": len(mine),
        "exec.task_run_ms": sum(t["run_ms"] for t in mine),
        "exec.task_cpu_ms": sum(t["cpu_ms"] for t in mine),
        "exec.gc_ms": sum(t["gc_ms"] for t in mine),
        "exec.outside_tasks_ms": max(hi - lo - busy, 0.0),
        "exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in mine),
        "exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in mine),
        "exec.spill_bytes": sum(t["spill"] for t in mine),
        "exec.input_records": sum(t["input_records"] for t in mine),
        "pyworker.tasks": len(py),
        "pyworker.task_run_ms": sum(t["run_ms"] for t in py),
        "pyworker.bytes_to_python": sum(t["py_sent"] for t in py),
        "pyworker.bytes_from_python": sum(t["py_received"] for t in py),
    }


# --- Structured Streaming progress -----------------------------------


def progress_listener():
    """A ``StreamingQueryListener`` that keeps every progress event as
    a dict (``events``); built lazily so importing this module does not
    import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def progress_epoch(event: dict) -> float:
    """Trigger start of a progress event, as epoch seconds."""
    stamp = event["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(stamp).timestamp()


def stream_counters(batches: list[dict]) -> dict[str, float]:
    """Per-op streaming counters from the op's progress events."""

    def total(key: str, only=lambda b: True) -> float:
        return float(sum(b["durationMs"].get(key, 0) for b in batches if only(b)))

    state = (batches[-1].get("stateOperators") or [{}]) if batches else [{}]
    return {
        "streaming.trigger_ms": total("triggerExecution"),
        "streaming.add_batch_ms": total("addBatch"),
        "streaming.get_batch_ms": total("getBatch"),
        "streaming.latest_offset_ms": total("latestOffset"),
        "streaming.planning_ms": total("queryPlanning"),
        "streaming.wal_commit_ms": total("walCommit"),
        "streaming.batches_per_op": len(batches),
        "streaming.no_data_batch_ms": total(
            "triggerExecution", lambda b: b.get("numInputRows", 0) == 0
        ),
        "streaming.state_rows": float(sum(s.get("numRowsTotal", 0) for s in state)),
        "streaming.state_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in state)),
    }


# --- run record ------------------------------------------------------


def process_age_s() -> float:
    """Seconds since this process was created (``/proc``), so set-up
    time includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def git_head(root: str) -> str:
    if not os.path.exists(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def noise_stamp(root: str) -> dict:
    """Host state at the start of a run; :func:`close_stamp` adds the
    end-of-run half."""
    return {
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "steal_ticks_start": steal_ticks(),
        "git_head": git_head(root),
        "python": platform.python_version(),
    }


def close_stamp(stamp: dict, spark_version: str) -> dict:
    stamp["loadavg_end"] = os.getloadavg()
    stamp["steal_ticks_delta"] = steal_ticks() - stamp.pop("steal_ticks_start")
    stamp["spark"] = spark_version
    return stamp


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def mean_by_key(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.fmean(r.get(k, 0.0) for r in rows) for k in sorted(keys)}
