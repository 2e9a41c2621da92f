"""Pure measurement arithmetic: no Spark, no side effects beyond reading
``/proc``.  Unit-tested in ``test_perfbench.py``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
from collections import defaultdict
from collections.abc import Iterable


# -- summary statistics ---------------------------------------------------
def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def geomean(values: Iterable[float]) -> float:
    vals = list(values)
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def tail(values: Iterable[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``: the order statistic that has
    exactly ``beyond`` larger samples, the share of samples at or below
    it (in percent), and the sample count.  With ``beyond`` samples or
    fewer no such percentile exists; the minimum is returned and the
    percentile says how little it means."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail() of no samples")
    k = max(0, n - beyond - 1)
    return vals[k], 100.0 * (k + 1) / n, n


def interval_union_ms(
    intervals: Iterable[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Overlapping intervals count once, so concurrent jobs never add up
    to more than the window."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- host -----------------------------------------------------------------
_CPU_FIELDS = ["user", "nice", "sys", "idle", "iowait", "irq", "softirq", "steal"]


def cpu_row(path: str = "/proc/stat") -> list[int]:
    with open(path) as f:
        for line in f:
            if line.startswith("cpu "):
                return [int(x) for x in line.split()[1:]]
    return []


def host_canary(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal, iowait and busy share of the host's CPU time between two
    ``/proc/stat`` samples, in percent."""
    if not before or not after:
        return {}
    d = [y - x for x, y in zip(before, after)]
    tot = sum(d) or 1
    pct = {n: 100.0 * v / tot for n, v in zip(_CPU_FIELDS, d)}
    return {
        "steal_pct": pct.get("steal", 0.0),
        "iowait_pct": pct.get("iowait", 0.0),
        "busy_pct": 100.0 - pct.get("idle", 0.0),
    }


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a live process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by ``pid`` and every
    process below it, including children already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(pid: int | None) -> float:
    """CPU seconds used so far by the JIT compiler threads of JVM ``pid``.
    Only live threads are seen, so the JVM must keep its compiler
    threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    if pid is None:
        return 0.0
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, rest = stat.rsplit(")", 1)
        if head[head.index("(") + 1 :].startswith(JIT_THREADS):
            total += sum(int(x) for x in rest.split()[11:13])  # utime stime
    return total / tick


def work_cpu_s(root: int, jvm: int | None) -> float:
    """CPU seconds used so far by ``root``'s process tree, less the JIT
    compiler threads of its JVM ``jvm``: the CPU the program's own code
    takes, whether or not the JVM is still compiling it."""
    return tree_cpu_s(root) - jit_cpu_s(jvm)


def process_name(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


# -- Spark event log ------------------------------------------------------
def read_event_log(path: str) -> list[dict]:
    """Events of an uncompressed, non-rolling Spark event log."""
    events = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


_TASK_SUMS = {
    "task.run_ms": lambda m: m.get("Executor Run Time", 0),
    "task.cpu_ms": lambda m: m.get("Executor CPU Time", 0) / 1e6,
    "task.deser_ms": lambda m: m.get("Executor Deserialize Time", 0),
    "task.gc_ms": lambda m: m.get("JVM GC Time", 0),
    "shuffle.read_bytes": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ),
    "shuffle.write_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    ),
    "input.bytes": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
    "output.bytes": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0),
    "spill.bytes": lambda m: m.get("Memory Bytes Spilled", 0)
    + m.get("Disk Bytes Spilled", 0),
}
SCHEDULER_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.job_union_ms",
    "spark.outside_jobs_ms",
    "spark.late_jobs",
    *_TASK_SUMS,
)


def scheduler_ledger(
    events: list[dict], windows: list[tuple[float, float]]
) -> dict[str, float]:
    """Jobs, stages, tasks and task metrics of the jobs submitted inside
    ``windows`` (epoch ms).  ``spark.job_union_ms`` is the union of
    those jobs' intervals clipped to their window; the rest of each
    window's wall time is ``spark.outside_jobs_ms`` (driver, py4j and
    scheduler time).  ``spark.late_jobs`` counts the jobs that end after
    their window, the only way their union can exceed the window."""
    job_start, job_end, job_stages = {}, {}, {}
    stage_done, task_metrics = set(), defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job_start[e["Job ID"]] = e["Submission Time"]
            job_stages[e["Job ID"]] = [s["Stage ID"] for s in e.get("Stage Infos", [])]
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            stage_done.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            task_metrics[e["Stage ID"]].append(e.get("Task Metrics") or {})
    out = dict.fromkeys(SCHEDULER_METRICS, 0.0)
    for lo, hi in windows:
        jobs = [j for j, t in job_start.items() if lo <= t <= hi]
        spans = [(job_start[j], job_end.get(j, math.inf)) for j in jobs]
        union = interval_union_ms(spans, lo, hi)
        out["spark.jobs"] += len(jobs)
        out["spark.late_jobs"] += sum(1 for _, end in spans if end > hi)
        out["spark.job_union_ms"] += union
        out["spark.outside_jobs_ms"] += (hi - lo) - union
        stages = {s for j in jobs for s in job_stages[j] if s in stage_done}
        out["spark.stages"] += len(stages)
        for s in stages:
            out["spark.tasks"] += len(task_metrics[s])
            for name, get in _TASK_SUMS.items():
                out[name] += sum(get(m) for m in task_metrics[s])
    return out


# -- streaming progress ---------------------------------------------------
STREAM_PHASES = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "latestOffset",
)


def progress_ledger(progress: list[dict]) -> dict[str, float]:
    """Aggregate StreamingQueryProgress dicts (as the listener saw them):
    phase totals over every batch, state-store totals from each query's
    last batch, commit time over every batch."""
    out = {"stream.queries": 0.0, "stream.batches": 0.0}
    for ph in STREAM_PHASES:
        out[f"stream.{'trigger' if ph == 'triggerExecution' else ph}_ms"] = 0.0
    out.update(
        {
            "state.rows_total": 0.0,
            "state.memory_bytes": 0.0,
            "state.commit_ms": 0.0,
            "state.instances": 0.0,
        }
    )
    last = {}
    for p in progress:
        out["stream.batches"] += 1
        for ph in STREAM_PHASES:
            key = f"stream.{'trigger' if ph == 'triggerExecution' else ph}_ms"
            out[key] += (p.get("durationMs") or {}).get(ph, 0) or 0
        for op in p.get("stateOperators") or []:
            out["state.commit_ms"] += op.get("commitTimeMs", 0) or 0
        last[p["id"]] = p
    out["stream.queries"] = float(len(last))
    for p in last.values():
        for op in p.get("stateOperators") or []:
            out["state.rows_total"] += op.get("numRowsTotal", 0) or 0
            out["state.memory_bytes"] += op.get("memoryUsedBytes", 0) or 0
            out["state.instances"] += op.get("numStateStoreInstances", 0) or 0
    return out
