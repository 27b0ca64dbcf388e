"""Measurements taken from outside the program: process-tree CPU and the
driver's peak RSS from /proc, host steal from /proc/stat, and per-layer
executor figures from the Spark event log.

Nothing here imports the package under test; every figure is read from the
operating system or from files Spark writes.
"""

from __future__ import annotations

import json
import os
import statistics

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    return ppid, cpu


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_split(root_pid: int | None = None) -> dict[str, float]:
    """CPU seconds consumed so far by the process tree under ``root_pid``,
    split into the driver Python, the JVM, and the Python workers below the
    JVM (the pyspark daemon and its forks). Children a process has reaped
    are in its cutime/cstime, so a worker that exited still counts; the
    difference of two snapshots is the tree's CPU over the interval."""
    root = root_pid or os.getpid()
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)

    def subtree(pid: int) -> float:
        total, stack = 0.0, [pid]
        while stack:
            p = stack.pop()
            total += procs.get(p, (0, 0.0))[1]
            stack.extend(children.get(p, []))
        return total

    out = {"driver": procs.get(root, (0, 0.0))[1], "jvm": 0.0, "py_worker": 0.0}
    for child in children.get(root, []):
        if "java" in _cmdline(child).split(" ")[0]:
            out["jvm"] += procs[child][1]
            out["py_worker"] += sum(subtree(g) for g in children.get(child, []))
        else:
            out["driver"] += subtree(child)
    return out


def steal_seconds() -> float:
    """Host-wide steal time so far, summed over CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def reset_peak_rss() -> None:
    """Reset this process's VmHWM so the next read covers only what follows."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(events_dir: str) -> list[dict]:
    """All events of the one application logged under ``events_dir``."""
    names = [n for n in os.listdir(events_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {names}")
    with open(os.path.join(events_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_stats(events: list[dict], group: str) -> dict[str, float]:
    """Executor-side figures of every job whose job group is ``group``:
    job and task counts, summed executor run/CPU/GC time, shuffle bytes,
    task skew (max over median task run time) and the wall time covered by
    the union of the jobs' intervals (seconds)."""
    job_group: dict[int, str | None] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_span[jid] = [ev["Submission Time"] / 1000.0, ev["Submission Time"] / 1000.0]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
    jobs = [j for j, g in job_group.items() if g == group]
    run_ms = []
    cpu_ns = gc_ms = read_b = write_b = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        if job_group.get(stage_job.get(ev["Stage ID"])) != group:
            continue
        m = ev.get("Task Metrics") or {}
        run_ms.append(m.get("Executor Run Time", 0))
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        write_b += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    med = statistics.median(run_ms) if run_ms else 0
    return {
        "jobs": float(len(jobs)),
        "tasks": float(len(run_ms)),
        "exec_run_s": sum(run_ms) / 1000.0,
        "exec_cpu_s": cpu_ns / 1e9,
        "gc_s": gc_ms / 1000.0,
        "shuffle_read_mb": read_b / 2**20,
        "shuffle_write_mb": write_b / 2**20,
        "task_skew": (max(run_ms) / med) if med else 0.0,
        "job_wall_s": _union_seconds([tuple(job_span[j]) for j in jobs]),
    }
