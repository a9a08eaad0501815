"""Measurement plumbing for the benchmark: process-tree sampling from
/proc, per-layer spans with Spark job groups, and the event-log reader.

Spans live in memory and are written out once, at the end of a traced run.
Each span sets a Spark job group, so every job, stage and task the layer
starts can be attributed from the event log afterwards.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------ /proc


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """`root` and all its descendants (the driver JVM and its Python
    workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * _PAGE / 2**20


def python_cpu_s(root: int) -> float:
    """CPU seconds of the Python processes under the JVM, including
    reaped workers (counted in their parent's cutime/cstime).  Spark's
    executor CPU metric covers only JVM task threads, so this is the
    Python side of a layer's task CPU."""
    total = 0
    for pid in process_tree(root)[1:]:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(v) for v in st[11:15])
    return total / _CLK


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time stolen by the hypervisor between two
    `cpu_times()` readings: other guests' load, which slows every timing."""
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


class RssSampler:
    """Peak RSS of a process tree, sampled on a background thread."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period, self.peak = root, period, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb(self.root))


# ------------------------------------------------------------------ spans


class Tracer:
    """Sequential spans, one Spark job group each.  `counts` holds the
    numbers a layer reports at its boundary (rows out and the like)."""

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "group": f"perfbench:{name}", **attrs}
        self.sc.setJobGroup(rec["group"], name)
        cpu0 = python_cpu_s(self.jvm_pid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py_cpu_s"] = python_cpu_s(self.jvm_pid) - cpu0
            self.sc.setJobGroup("perfbench:none", "outside any span")
            self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


# ------------------------------------------------------------- event log


def _union_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_event_log(path: str) -> dict[str, dict]:
    """Task metrics from one Spark event log, grouped by job group:
    {group: {jobs, task_cpu_s, shuffle_write_mb, shuffle_read_mb, spill_mb,
    gc_s, tasks: [(launch_ms, finish_ms)]}}."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "task_cpu_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0, "tasks": [],
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, grp)
            elif kind == "SparkListenerStageSubmitted":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if grp is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = grp
            elif kind == "SparkListenerTaskEnd":
                acc = g(stage_group.get(ev["Stage ID"], ""))
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                acc["tasks"].append((info["Launch Time"], info["Finish Time"]))
                acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                rd = m.get("Shuffle Read Metrics") or {}
                acc["shuffle_read_mb"] += (
                    rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                ) / 2**20
                wr = m.get("Shuffle Write Metrics") or {}
                acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / 2**20
    return groups


def span_metrics(span: dict, groups: dict[str, dict]) -> dict[str, float]:
    """The nine per-layer counters of one span."""
    acc = groups.get(span["group"], {})
    lo, hi = span["start"] * 1e3, span["end"] * 1e3
    busy_ms = _union_ms(acc.get("tasks", []), lo, hi)
    return {
        "wall_s": (hi - lo) / 1e3,
        "task_cpu_s": acc.get("task_cpu_s", 0.0) + span["py_cpu_s"],
        "idle_s": (hi - lo - busy_ms) / 1e3,
        "shuffle_write_mb": acc.get("shuffle_write_mb", 0.0),
        "shuffle_read_mb": acc.get("shuffle_read_mb", 0.0),
        "spill_mb": acc.get("spill_mb", 0.0),
        "gc_s": acc.get("gc_s", 0.0),
        "jobs": acc.get("jobs", 0),
        "rows_out": span.get("rows_out", 0),
    }


def find_event_log(log_dir: str) -> str:
    logs = [
        os.path.join(log_dir, n) for n in os.listdir(log_dir)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {logs}")
    return logs[0]
