"""Measurement plumbing for the benchmark: spans, Spark event-log costs
and /proc process accounting.

Nothing here imports the engine; run.py and workloads.py call into it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: local property that tags every Spark stage with the span that ran it
SPAN_PROPERTY = "perfbench.span"


# -- /proc accounting ------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields start after the closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s(pid: int, with_children: bool) -> float:
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat;
    # fields[] starts at field 3
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _CLK_TCK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over the host's CPUs, from /proc/stat.
    Steal is time the hypervisor gave this VM's vCPUs to someone else."""
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal (guest time is
        # already inside user)
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


class ProcSampler:
    """Peak RSS (VmHWM) and CPU of the Spark JVM and its Python workers.

    Workers come and go, so every sample keeps each pid's highest VmHWM;
    the peak is the sum over all pids ever seen."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.hwm_kb: dict[int, int] = {}
        self.python_pids: set[int] = set()

    def sample(self) -> None:
        for pid in [self.jvm_pid] + descendants(self.jvm_pid):
            kb = _hwm_kb(pid)
            if kb:
                self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
            if pid != self.jvm_pid:
                self.python_pids.add(pid)

    def jvm_hwm_mb(self) -> float:
        return self.hwm_kb.get(self.jvm_pid, 0) / 1024

    def python_hwm_mb(self) -> float:
        return sum(v for p, v in self.hwm_kb.items() if p != self.jvm_pid) / 1024

    def peak_rss_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024

    def cpu(self) -> tuple[float, float]:
        """(JVM cpu s, Python-worker cpu s). The worker daemon's reaped
        children count through its cutime/cstime."""
        return (_cpu_s(self.jvm_pid, False),
                sum(_cpu_s(p, True) for p in descendants(self.jvm_pid)))


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) plus the Spark
    job range each span covered. Written out once, at the end of a run."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _next_job(self) -> int:
        nj = self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
        return nj if isinstance(nj, int) else nj.get()

    def span(self, name: str, **counts):
        return _Span(self, name, counts)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_ms(self, span: dict) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, lo, hi = 0.0, None, None
        for s, e in kids:
            if hi is None or s > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = s, e
            else:
                hi = max(hi, e)
        if hi is not None:
            covered += hi - lo
        return (span["end"] - span["start"] - covered) * 1000


class _Span:
    def __init__(self, tracer: Tracer, name: str, counts: dict):
        self.t = tracer
        self.rec = {
            "id": len(tracer.spans), "name": name, "run_id": tracer.run_id,
            "parent": tracer._stack[-1] if tracer._stack else None,
            "counts": dict(counts),
        }

    def __enter__(self) -> dict:
        sc = self.t.spark.sparkContext
        self.prev_prop = sc.getLocalProperty(SPAN_PROPERTY)
        sc.setLocalProperty(SPAN_PROPERTY, str(self.rec["id"]))
        self.t.spans.append(self.rec)
        self.t._stack.append(self.rec["id"])
        self.rec["job_lo"] = self.t._next_job()
        self.rec["start"] = time.monotonic()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.monotonic()
        self.rec["job_hi"] = self.t._next_job()
        self.rec["spark_jobs"] = self.rec["job_hi"] - self.rec["job_lo"]
        self.rec["wall_ms"] = (self.rec["end"] - self.rec["start"]) * 1000
        self.t._stack.pop()
        self.t.spark.sparkContext.setLocalProperty(SPAN_PROPERTY, self.prev_prop)


def event_log_costs(log_dir: str) -> dict[int, dict]:
    """Per-span task time, shuffle bytes, spill and task skew, parsed from
    the Spark event log. Stages are attributed to the innermost span that
    submitted them through the ``SPAN_PROPERTY`` local property."""
    stage_span: dict[tuple[int, int], int] = {}
    tasks: dict[int, list[dict]] = {}
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    info = ev["Stage Info"]
                    if span not in (None, "None"):
                        key = (info["Stage ID"], info["Stage Attempt ID"])
                        stage_span[key] = int(span)
                elif kind == "SparkListenerTaskEnd":
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    if key not in stage_span:
                        continue
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics") or {}
                    wr = tm.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(stage_span[key], []).append({
                        "s": (ti["Finish Time"] - ti["Launch Time"]) / 1000,
                        "shuffle": rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0),
                    })
    out = {}
    for span, ts in tasks.items():
        secs = [t["s"] for t in ts]
        med = statistics.median(secs)
        out[span] = {
            "tasks": len(ts),
            "task_s": sum(secs),
            "shuffle_mb": sum(t["shuffle"] for t in ts) / 2**20,
            "spill_mb": sum(t["spill"] for t in ts) / 2**20,
            "task_skew": max(secs) / med if med > 0 else 1.0,
        }
    return out
