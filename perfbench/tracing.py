"""Tracing from outside the engine: spans, /proc readers, event-log parser.

Spans are kept in memory and written as JSONL when a run ends.  Spark's
per-job cost comes from its own event log (uncompressed, not rolling):
each top-level span sets a job group, so every job, stage and task in
the log can be attributed to the span that caused it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# -- /proc ----------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    head, _, tail = raw.rpartition(")")
    return [head.split("(", 1)[1]] + tail.split()


def process_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, comm, stat fields after comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = (int(st[2]), st[0], st[1:])
    return out


def descendants(root: int, table=None) -> list[int]:
    table = table if table is not None else process_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_ticks(fields: list[str]) -> int:
    """utime + stime + cutime + cstime: own CPU plus reaped children's."""
    return int(fields[11]) + int(fields[12]) + int(fields[13]) + int(fields[14])


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) of ``root``
    and all its descendants."""
    table = process_table()
    return sum(_cpu_ticks(table[p][2]) for p in [root] + descendants(root, table)
               if p in table) / _CLK_TCK


def tree_rss_split(root: int) -> dict:
    """Resident bytes of ``root``'s tree by role: the JVM, the Python
    workers under it, and everything else (the driver)."""
    table = process_table()
    out = {"jvm": 0, "workers": 0, "driver": 0, "n_workers": 0}
    jvms = {p for p in descendants(root, table) if table[p][1] == "java"}
    under_jvm = {c for j in jvms for c in descendants(j, table)}
    for pid in [root] + descendants(root, table):
        if pid not in table:
            continue
        rss = int(table[pid][2][21]) * _PAGE
        if pid in jvms:
            out["jvm"] += rss
        elif pid in under_jvm:
            out["workers"] += rss
            out["n_workers"] += 1
        else:
            out["driver"] += rss
    return out


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK_TCK


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of the Python worker processes under the JVM that
    ``root`` started, including workers that have exited and been
    reaped by the worker daemon."""
    table = process_table()
    jvms = [p for p in descendants(root, table) if table[p][1] == "java"]
    return sum(_cpu_ticks(table[p][2]) for j in jvms for p in descendants(j, table)
               if table[p][1].startswith("python")) / _CLK_TCK


def host_info() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_bytes": mem["MemTotal"],
        "mem_available_bytes": mem.get("MemAvailable"),
        "loadavg": load,
    }


def gather_bandwidth_probe(n_bytes: int = 1_400_000_000, n_gather: int = 1 << 22, seed: int = 0) -> dict:
    """Spark-free random-gather bandwidth over an array several times the
    last-level cache: the host's memory floor for the packed gathers."""
    import numpy as np

    rng = np.random.default_rng(seed)
    arr = np.ones(n_bytes // 8)
    idx = rng.integers(0, len(arr), n_gather)
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        arr[idx].sum()
        best = min(best, time.perf_counter() - t)
    return {"array_bytes": int(arr.nbytes), "gathers": n_gather,
            "gather_bytes_per_s": n_gather * 8 / best}


# -- spans ----------------------------------------------------------------

class Tracer:
    """In-memory span recorder.  ``enabled=False`` records only the
    timings the untraced run reports, with no job groups and no /proc
    reads."""

    def __init__(self, spark_context=None, enabled: bool = False):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job_group: str | None = None):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled and job_group is not None and self.sc is not None:
            self.sc.setJobGroup(job_group, job_group)
            rec["job_group"] = job_group
        if self.enabled:
            rec["py_cpu0"] = python_worker_cpu_s(os.getpid())
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.enabled:
                rec["python_cpu_s"] = python_worker_cpu_s(os.getpid()) - rec.pop("py_cpu0")
                if job_group is not None and self.sc is not None:
                    self.sc.setJobGroup("harness", "harness")
            self._stack.pop()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def check_span_tree(spans: list[dict], tol_s: float = 1e-3) -> list[str]:
    """Every timed span's children lie inside it, do not overlap, and with
    the span's self time add up to its wall.  Returns the violations."""
    bad = []
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None and "start" in s:
            by_parent.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = sorted(by_parent.get(s["id"], []), key=lambda k: k["start"])
        if not kids or "start" not in s:
            continue
        self_s = s["wall_s"] - sum(k["wall_s"] for k in kids)
        if self_s < -tol_s:
            bad.append(f"{s['name']}: children exceed wall by {-self_s:.4f}s")
        if kids[0]["start"] < s["start"] - tol_s or kids[-1]["end"] > s["end"] + tol_s:
            bad.append(f"{s['name']}: a child lies outside the span")
        for a, b in zip(kids, kids[1:]):
            if b["start"] < a["end"] - tol_s:
                bad.append(f"{s['name']}: children {a['name']} and {b['name']} overlap")
    return bad


# -- Spark event log --------------------------------------------------------

SPARK_METRICS = (
    "jobs", "stages", "tasks", "driver_gap_s", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
    "python_cpu_s",
)


def _union_s(intervals: list[tuple[float, float]]) -> float:
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


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: job/stage/task counts, job intervals (epoch s) and
    summed task metrics."""
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": set(), "tasks": 0, "intervals": [], "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "jvm_gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "shuffle_fetch_wait_s": 0.0, "spill_bytes": 0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                jid = ev["Job ID"]
                job_group[jid] = grp
                job_start[jid] = ev["Submission Time"] / 1000.0
                g(grp)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, grp)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    g(job_group[jid])["intervals"].append((job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                grp = stage_group.get(ev["Stage ID"], "none")
                rec = g(grp)
                rec["tasks"] += 1
                rec["stages"].add(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                rec["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                rec["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                rec["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for rec in groups.values():
        rec["stages"] = len(rec["stages"])
    return groups


def spark_span_metrics(group: dict | None, span: dict) -> dict:
    """The SPARK_METRICS of one span from its job group's record."""
    group = group or {"jobs": 0, "stages": 0, "tasks": 0, "intervals": []}
    busy = _union_s([(max(s, span["start"]), min(e, span["end"]))
                     for s, e in group["intervals"] if e > span["start"] and s < span["end"]])
    out = {k: group.get(k, 0) for k in SPARK_METRICS if k not in ("driver_gap_s", "python_cpu_s")}
    out["driver_gap_s"] = span["wall_s"] - busy
    out["python_cpu_s"] = span.get("python_cpu_s", 0.0)
    return out
