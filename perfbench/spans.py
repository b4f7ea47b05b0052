"""Spans around calls into the program, and the offline event-log parse.

A span is one timed call into a layer's public function with its
output forced. Each span runs under its own Spark job group, so after
the call ``statusTracker`` gives its job count, and after the
session stops the event log (enabled for traced runs only) gives its
executor CPU, GC, shuffle bytes, records written and scan output rows.
With tracing off ``span`` is a no-op.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    jobs: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing.
    Spans do not nest."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, f"perfbench-{len(self.spans)}", time.perf_counter())
        self.spans.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(sp.group))


@dataclass
class RunResult:
    """Operations attempted and failed (raised or failed their check) and
    the end-to-end metrics, name -> (value, unit)."""

    attempted: int
    failed: int
    end_to_end: dict


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# --- event log -------------------------------------------------------------

@dataclass
class GroupStats:
    input_tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    records_written: int = 0
    scan_rows: int = 0


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: tasks that read input, executor CPU,
    GC, shuffle bytes read + written, output records written, and rows
    produced by parquet/text scan nodes (the SQL metric "number of output
    rows" of every ``Scan`` node in the plans of that group's queries).
    Read after the session has stopped, when the log is complete."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    stage_group: dict[int, str] = {}
    scan_accums: set[int] = set()
    out: dict[str, GroupStats] = {}

    def collect_scans(plan: dict) -> None:
        if plan.get("nodeName", "").startswith("Scan"):
            scan_accums.update(m["accumulatorId"] for m in plan.get("metrics", [])
                               if m.get("name") == "number of output rows")
        for child in plan.get("children", []):
            collect_scans(child)

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                collect_scans(ev.get("sparkPlanInfo", {}))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                g = out.setdefault(group, GroupStats())
                m = ev.get("Task Metrics") or {}
                if (m.get("Input Metrics") or {}).get("Bytes Read", 0) > 0:
                    g.input_tasks += 1
                g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_bytes += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                    + sw.get("Shuffle Bytes Written", 0))
                g.records_written += (m.get("Output Metrics") or {}).get("Records Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("ID") in scan_accums:
                        g.scan_rows += int(acc.get("Update") or 0)
    return out


def sum_stats(stats: dict[str, GroupStats], groups) -> GroupStats:
    tot = GroupStats()
    for gid in groups:
        g = stats.get(gid)
        if g is None:
            continue
        for f in ("input_tasks", "cpu_s", "gc_s", "shuffle_bytes", "records_written",
                  "scan_rows"):
            setattr(tot, f, getattr(tot, f) + getattr(g, f))
    return tot


# --- host and memory ---------------------------------------------------------

def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of this machine since boot, from
    ``/proc/stat``: steal is time the hypervisor gave the CPUs to
    someone else."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) == 8 else 0), sum(fields)


def python_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_peak_rss_mb(pid: int | None) -> float:
    """VmHWM of the driver JVM (local mode: driver and executors)."""
    if pid is None:
        return 0.0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
