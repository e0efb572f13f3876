"""Measurement plumbing: spans, job tags, host ticks, RSS, and the
event-log fold that turns a traced run into per-(sample, phase) layers.

Everything here observes the engine from the outside. Nothing in
``xgboost_ray_spark/`` is changed: jobs are tagged around the benchmark's
own calls, and the event log is Spark's standard JSON listener log.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from datetime import datetime

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Spans:
    """In-memory span list: (name, start, end, parent, op id).

    ``start``/``end`` are epoch seconds, so spans line up with the event
    log's millisecond timestamps. Durations use ``perf_counter``.
    """

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        rec = {
            "name": name,
            "op_id": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.items.append(rec)
        self._stack.append(len(self.items) - 1)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            self._stack.pop()

    def export(self) -> list[dict]:
        """Spans with ``self_s`` = wall minus the part children cover."""
        child = [0.0] * len(self.items)
        for rec in self.items:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec.get("wall_s", 0.0)
        return [
            {**rec, "self_s": max(0.0, rec.get("wall_s", 0.0) - child[i])}
            for i, rec in enumerate(self.items)
        ]


@contextmanager
def job_tag(spark, tag: str | None):
    """Tag every Spark job this thread submits inside the block."""
    if tag is None:
        yield
        return
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


# ---------------------------------------------------------------------------
# Host noise and memory
# ---------------------------------------------------------------------------


def cpu_ticks() -> list[int]:
    """Aggregate ``/proc/stat`` cpu line: user nice system idle iowait irq
    softirq steal. Empty off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def host_noise(before: list[int], after: list[int]) -> dict:
    """Steal, sys and user shares (%) of the ticks between two readings."""
    if len(before) < 8 or len(after) < 8:
        return {"steal_pct": None, "sys_pct": None, "user_pct": None}
    d = [b - a for a, b in zip(before, after)]
    total = max(1, sum(d))
    return {
        "steal_pct": 100.0 * d[7] / total,
        "sys_pct": 100.0 * (d[2] + d[5] + d[6]) / total,
        "user_pct": 100.0 * (d[0] + d[1]) / total,
    }


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and all its descendants: the Python driver, the JVM and its
    Python workers.

    Each live process counts its own time plus that of its reaped children,
    so a worker that exits moves its time into its parent's total and no
    second is counted twice. Unlike wall time, this does not grow when the
    hypervisor steals CPU from the host. 0.0 off Linux.
    """
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc") if os.path.isdir("/proc") else ():
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # After "(comm)": state ppid ...; [11:15] = utime stime cutime cstime.
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended while we were reading
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        used[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak RSS of this process plus the JVM child, in MB."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------


def stream_listener(sink: list):
    """A StreamingQueryListener that appends one record per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            sink.append({
                "at": datetime.fromisoformat(p.timestamp).timestamp(),
                "batch": p.batchId,
                "trigger_ms": float(d.get("triggerExecution", 0)),
                "add_batch_ms": float(d.get("addBatch", 0)),
                "rows": int(p.numInputRows or 0),
                "state_rows": sum(int(s.numRowsTotal) for s in ops),
                "state_commit_ms": sum(float(s.commitTimeMs) for s in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ---------------------------------------------------------------------------
# Event log fold
# ---------------------------------------------------------------------------

# Task metrics folded per (sample, phase); times are seconds, sizes bytes.
TASK_FIELDS = (
    "run_s", "cpu_s", "gc_s", "deser_s", "tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_s", "spill_disk_bytes", "input_bytes",
    "input_rows",
)

# PythonSQLMetrics accumulables (task updates) -> layer metric. Data sizes
# arrive in bytes. Timing updates arrive in milliseconds: the worker reports
# its boot/init/finish instants as epoch ms (pyspark.worker.report_times)
# and the runner adds their differences unscaled.
PYTHON_ACCUMULABLES = {
    "data sent to Python workers": ("py_data_sent_bytes", 1.0),
    "data returned from Python workers": ("py_data_received_bytes", 1.0),
    "time to start Python workers": ("py_boot_s", 1e-3),
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
}


def event_log_file(log_dir: str, app_id: str) -> str | None:
    """The uncompressed, non-rolling log Spark wrote for ``app_id``."""
    hits = sorted(glob.glob(os.path.join(log_dir, f"{app_id}*")))
    return hits[0] if hits else None


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


_STAGE_FIELDS = TASK_FIELDS + tuple(k for k, _ in PYTHON_ACCUMULABLES.values())


def read_event_log(path: str) -> dict:
    """Parse a Spark JSON event log into jobs (with their tags), per-stage
    sums of task metrics and Python accumulables, and SQL execution
    start times."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    sql_starts: list[float] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = [t for t in (props.get("spark.job.tags") or "").split(",") if t]
                jid = ev["Job ID"]
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "tags": tags,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                m = ev.get("Task Metrics") or {}
                s = stages.setdefault(sid, dict.fromkeys(_STAGE_FIELDS, 0.0))
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                im = m.get("Input Metrics") or {}
                s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                s["deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
                s["tasks"] += 1
                s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                s["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                s["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                s["spill_disk_bytes"] += m.get("Disk Bytes Spilled", 0)
                s["input_bytes"] += im.get("Bytes Read", 0)
                s["input_rows"] += im.get("Records Read", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    hit = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                    if hit:
                        key, scale = hit
                        s[key] += _num(acc.get("Update")) * scale
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql_starts.append(ev["time"] / 1000.0)
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages, "sql_starts": sql_starts}


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, covered_to = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > covered_to:
            total += end - max(start, covered_to)
            covered_to = end
    return total


def fold(log: dict, windows: list[dict]) -> dict[tuple[str, str], dict]:
    """Fold jobs, task metrics and SQL executions onto phase windows.

    ``windows`` are phase spans carrying ``tag``, ``op_id``, ``phase``,
    ``start`` and ``end``. A job belongs to the window whose tag it
    carries; untagged jobs (submitted from threads the tag does not
    reach) fall back to the window their submission time lies in, which
    is exact here because the benchmark runs one operation at a time.
    Returns ``{(op_id, phase): layer dict}``.
    """
    by_tag = {w["tag"]: w for w in windows}
    ordered = sorted(windows, key=lambda w: w["start"])

    def window_at(t: float):
        for w in ordered:
            if w["start"] - 0.002 <= t <= w["end"] + 0.002:
                return w
        return None

    out: dict[tuple[str, str], dict] = {}

    def slot(w) -> dict:
        key = (w["op_id"], w["phase"])
        if key not in out:
            out[key] = {
                **dict.fromkeys(_STAGE_FIELDS, 0.0),
                "jobs": 0,
                "stages": 0,
                "sql_executions": 0,
                "job_intervals": [],
            }
        return out[key]

    job_window = {}
    for jid, job in log["jobs"].items():
        w = next((by_tag[t] for t in job["tags"] if t in by_tag), None)
        w = w or window_at(job["start"])
        if w is None:
            continue
        job_window[jid] = w
        s = slot(w)
        s["jobs"] += 1
        s["job_intervals"].append((job["start"], job["end"] or job["start"]))
    for sid, metrics in log["stages"].items():
        w = job_window.get(log["stage_job"].get(sid))
        if w is None:
            continue
        s = slot(w)
        s["stages"] += 1
        for k, v in metrics.items():
            s[k] += v
    for start in log["sql_starts"]:
        w = window_at(start)
        if w is not None:
            slot(w)["sql_executions"] += 1
    for s in out.values():
        s["jobs_s"] = _union_s(s.pop("job_intervals"))
    return out
