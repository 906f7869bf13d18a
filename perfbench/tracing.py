"""Measurement helpers for the benchmark's Spark-driver processes.

Everything here observes the engine from outside: spans around the
calls the benchmark makes (and around public package functions it
wraps in a traced run), Spark job groups per operation and phase, the
Spark event log parsed after the session stops, the resident memory of
the process tree, and host noise from /proc.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


# -- spans -------------------------------------------------------------------

class Tracer:
    """In-memory spans. Disabled, `span` costs one branch and records
    nothing, so the untraced run times the engine alone."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.op = None
        self._stack: list[dict] = []
        self._deferred: list[tuple] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": next(self._ids), "op": self.op, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), **attrs}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def job_group(self, group: str) -> None:
        """Tag every Spark job started from here on with `group`."""
        if self.enabled:
            self.sc.setJobGroup(group, group)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace `owner.attr` with a version that runs inside a span.
        `after(rec, self_obj, result, args, kwargs)` may add counts to
        the span; it is queued, and runs at the next `settle()`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                result = orig(*args, **kwargs)
            if after is not None and rec is not None:
                tracer._deferred.append(
                    (after, rec, args[0] if args else None, result, args, kwargs))
            return result

        setattr(owner, attr, traced)

    def settle(self, group: str) -> None:
        """Run the queued `after` callbacks untraced, their Spark jobs
        tagged `group`: called between operations, outside their timed
        regions."""
        if not self._deferred:
            return
        self.job_group(group)
        self.enabled = False
        try:
            while self._deferred:
                after, *rest = self._deferred.pop(0)
                after(*rest)
        finally:
            self.enabled = True

    def write(self, path: str) -> None:
        """Dump spans with duration and self time (duration minus the
        part of it covered by child spans)."""
        children = defaultdict(list)
        for s in self.spans:
            children[s["parent"]].append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s["id"]):
            dur = s["end"] - s["start"]
            covered = _union([(c["start"], c["end"]) for c in children[s["id"]]])
            out.append({**s, "dur_s": dur, "self_s": dur - covered})
        with open(path, "w") as f:
            json.dump(out, f)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def outermost_seconds(spans: list[dict], name: str, ops: set) -> float:
    """Inclusive seconds of `name` spans of operations in `ops`, not
    counting a span nested inside another span of the same name."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] != name or s["op"] not in ops:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["name"] != name:
            p = by_id[p]["parent"]
        if p is None:
            total += s["end"] - s["start"]
    return total


# -- Spark event log ---------------------------------------------------------

def eventlog_submit_args(log_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS that turn on an uncompressed event log."""
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            f"--conf spark.eventLog.compress=false "
            f"--conf spark.eventLog.rolling.enabled=false pyspark-shell")


def _zero() -> dict:
    return defaultdict(float)


def parse_eventlog(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks and task metric sums."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(_zero)
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "untagged"
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "untagged")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    _add_task(out[stage_group.get(ev["Stage ID"], "untagged")], ev)
    return out


def _add_task(acc: dict, ev: dict) -> None:
    acc["tasks"] += 1
    m = ev.get("Task Metrics") or {}
    acc["task.run_s"] += m.get("Executor Run Time", 0) / 1e3
    acc["task.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["jvm.gc_s"] += m.get("JVM GC Time", 0) / 1e3
    acc["spill.bytes"] += (m.get("Memory Bytes Spilled", 0)
                           + m.get("Disk Bytes Spilled", 0))
    acc["scan.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["exchange.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
    acc["exchange.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    acc["exchange.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    # Python-runner SQL metrics ride on the task's accumulable updates
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = a.get("Name", ""), a.get("Update")
        if "Python" not in name or not isinstance(upd, (int, float, str)):
            continue
        try:
            v = float(upd)
        except ValueError:
            continue
        if name == "data sent to Python workers":
            acc["python.bytes_to_worker"] += v
        elif name == "data returned from Python workers":
            acc["python.bytes_from_worker"] += v
        elif name == "time to run Python workers":
            acc["python.run_s"] += v / 1e3
        elif name in ("time to start Python workers",
                      "time to initialize Python workers"):
            acc["python.start_s"] += v / 1e3


# -- process tree memory and host noise ---------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, utime+stime+cutime+cstime ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def tree_pids(root: int, table: dict | None = None) -> list[int]:
    """`root` and all its descendants."""
    table = table if table is not None else _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def _tree_ticks() -> int:
    table = _proc_table()
    return sum(table[p][1] for p in tree_pids(os.getpid(), table) if p in table)


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and its descendants. Time the host steals from the VM, or
    spends waiting to run, is not in it."""
    return _tree_ticks() / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree_pids(me)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """CPU steal and other processes' load over a window, from
    /proc/stat, the process tree's CPU ticks and the load average."""

    def __enter__(self):
        self._cpu0 = _cpu_line()
        self._own0 = _tree_ticks()
        self.load_start = os.getloadavg()[0]
        return self

    def __exit__(self, *exc):
        cpu1, own1 = _cpu_line(), _tree_ticks()
        d = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = max(sum(d[:8]), 1)  # guest time is already in user
        busy = total - d[3] - d[4] - d[7]  # not idle, iowait or stolen
        own = max(own1 - self._own0, 0)
        self.result = {
            "steal_frac": d[7] / total,
            "busy_frac": busy / total,
            "other_busy_frac": max(busy - own, 0) / total,
            "loadavg_start": self.load_start,
            "loadavg_end": os.getloadavg()[0],
        }
