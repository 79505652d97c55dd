"""Span recording, Spark event-log attribution and process sampling.

Spans are recorded by the benchmark around each public engine call it makes
(name, pass id, round id, start and end in epoch milliseconds) and kept in
memory. After the session stops, ``attribute`` reads the uncompressed Spark
event log and assigns every job to the span whose interval contains the
job's submission time. Submission time, not job group, because
``state.materialize_many`` submits jobs from pool threads that do not carry
the caller's job group. Task metrics and the Python-worker accumulables of
each job's tasks are summed per span. Only the standard library is used.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

MB = 1024 * 1024

# SQL metric names the Python evaluation nodes report as task accumulables
PY_RUN = "time to run Python workers"  # milliseconds
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


class Spans:
    """In-memory span list; a disabled recorder only times the call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.records: list[dict] = []

    def call(self, name: str, pass_id: int, round_id: int, fn, *args):
        """Run ``fn(*args)``; return (result, wall seconds)."""
        t0 = time.time()
        out = fn(*args)
        t1 = time.time()
        if self.enabled:
            self.records.append(
                {
                    "name": name,
                    "pass": pass_id,
                    "round": round_id,
                    "start_ms": t0 * 1000.0,
                    "end_ms": t1 * 1000.0,
                }
            )
        return out, t1 - t0


def _acc_value(update) -> float:
    try:
        return float(update)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: str) -> tuple[dict, dict, dict]:
    """Jobs (id → submission ms), stage → job, and per-stage task rows."""
    jobs: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = float(ev["Submission Time"])
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                accs = {
                    a.get("Name"): _acc_value(a.get("Update"))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                }
                tasks[ev["Stage ID"]].append(
                    {
                        "run_ms": float(m.get("Executor Run Time", 0)),
                        "shuffle_read": float(
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ),
                        "shuffle_write": float(sw.get("Shuffle Bytes Written", 0)),
                        "spill": float(
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        ),
                        "output": float(out.get("Bytes Written", 0)),
                        "py_run_ms": accs.get(PY_RUN, 0.0),
                        "py_sent": accs.get(PY_SENT, 0.0),
                        "py_recv": accs.get(PY_RECV, 0.0),
                        "failed": (ev.get("Task End Reason") or {}).get("Reason")
                        != "Success",
                    }
                )
    return jobs, stage_job, tasks


SPAN_METRICS = (
    "wall_s", "jobs", "tasks", "busy_frac", "task_run_s", "python_run_s",
    "python_sent_mb", "python_recv_mb", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "output_mb", "task_skew", "failed_tasks",
)


def _summarise(wall_s: float, n_jobs: int, stage_tasks: list[list[dict]], cores: int) -> dict:
    rows = [t for ts in stage_tasks for t in ts]
    run_s = sum(t["run_ms"] for t in rows) / 1000.0
    skew = 0.0
    for ts in stage_tasks:
        if len(ts) >= 2:
            med = statistics.median(t["run_ms"] for t in ts)
            if med > 0:
                skew = max(skew, max(t["run_ms"] for t in ts) / med)
    return {
        "wall_s": wall_s,
        "jobs": n_jobs,
        "tasks": len(rows),
        "busy_frac": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "task_run_s": run_s,
        "python_run_s": sum(t["py_run_ms"] for t in rows) / 1000.0,
        "python_sent_mb": sum(t["py_sent"] for t in rows) / MB,
        "python_recv_mb": sum(t["py_recv"] for t in rows) / MB,
        "shuffle_write_mb": sum(t["shuffle_write"] for t in rows) / MB,
        "shuffle_read_mb": sum(t["shuffle_read"] for t in rows) / MB,
        "spill_mb": sum(t["spill"] for t in rows) / MB,
        "output_mb": sum(t["output"] for t in rows) / MB,
        "task_skew": skew,
        "failed_tasks": sum(1 for t in rows if t["failed"]),
    }


def attribute(spans: list[dict], event_log: str, cores: int) -> tuple[list[dict], dict]:
    """Per-span metrics, and the same metrics over all spans together (the
    traced pass without the benchmark's own count jobs between spans)."""
    jobs, stage_job, tasks = read_event_log(event_log)
    job_stages: dict[int, list[int]] = defaultdict(list)
    for sid, jid in stage_job.items():
        if tasks.get(sid):
            job_stages[jid].append(sid)

    def window(lo: float, hi: float) -> list[int]:
        return [j for j, t in jobs.items() if lo <= t <= hi]

    out = []
    all_jobs, all_stage_tasks, total_wall = 0, [], 0.0
    for s in spans:
        js = window(s["start_ms"], s["end_ms"])
        stage_tasks = [tasks[sid] for j in js for sid in job_stages[j]]
        wall = (s["end_ms"] - s["start_ms"]) / 1000.0
        out.append({**s, **_summarise(wall, len(js), stage_tasks, cores)})
        all_jobs += len(js)
        all_stage_tasks += stage_tasks
        total_wall += wall
    return out, _summarise(total_wall, all_jobs, all_stage_tasks, cores)


def per_name(span_rows: list[dict], cores: int) -> dict:
    """``<span>.<metric>`` summed over every call of each span name; the
    ratios are recomputed over the summed walls (busy_frac) or are the
    worst call's (task_skew)."""
    out: dict[str, float] = {}
    for name in dict.fromkeys(s["name"] for s in span_rows):
        rows = [s for s in span_rows if s["name"] == name]
        for k in SPAN_METRICS:
            out[f"{name}.{k}"] = sum(s[k] for s in rows)
        wall = out[f"{name}.wall_s"]
        out[f"{name}.busy_frac"] = out[f"{name}.task_run_s"] / (wall * cores) if wall > 0 else 0.0
        out[f"{name}.task_skew"] = max(s["task_skew"] for s in rows)
    return out


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# ---------------------------------------------------------------------------
# process sampling from /proc
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of a process tree: pages shared between the
    forked Python workers are split between them, not counted per worker."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of the resident memory (PSS) of a process tree:
    the driver JVM and the Python workers it forks. ``peak_mb`` is the
    largest sum seen while sampling was on."""

    def __init__(self, pid: int, interval_s: float = 0.1):
        self.pid = pid
        self.interval_s = interval_s
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.is_set():
            if self._on.wait(0.2) and not self._stop.is_set():
                self.peak = max(self.peak, tree_pss_bytes(self.pid))
                time.sleep(self.interval_s)

    def sampling(self, on: bool):
        (self._on.set if on else self._on.clear)()

    def close(self):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / MB


def host_snapshot() -> dict:
    """nproc, load average and cumulative steal ticks, so noisy runs show."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "steal_ticks": steal,
    }
