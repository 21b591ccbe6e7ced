"""Outside-in probes: everything here observes the engine from the
benchmark's side of its public API, without touching the package.

* :class:`ProcSampler` — CPU and RSS of the driver Python process, the
  Spark JVM and the pyspark Python workers, read from ``/proc``.
* :class:`Py4jCounter` — py4j round-trips, counted on the gateway client.
* :func:`parse_event_log` / :class:`EventLogStats` — Spark's event log,
  keyed on job group (``<workload>:<op>:<phase>``) and streaming ``runId``.
* :func:`stream_progress` — a finished streaming query's progress reports.
* :func:`walk` / :func:`written` — the storage directory walker.
* :class:`Tracer` — in-memory spans around the benchmark's calls into the
  engine's layers, with self time per span name.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Iterator

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# /proc sampler
# ---------------------------------------------------------------------------


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime=14, stime=15, cutime=16,
    # cstime=17, rss=24 in proc(5)'s 1-based numbering
    cpu = sum(int(fields[i]) for i in (11, 12, 13, 14)) / _CLK
    return int(fields[1]), cpu, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children[st[0]].append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class ProcSampler:
    """Samples driver, JVM and pyspark-worker RSS every ``interval``
    seconds on a background thread and keeps the peaks; :meth:`cpu` reads
    cumulative CPU on demand. Worker CPU includes reaped workers through
    the pyspark daemon's child-CPU counters."""

    GROUPS = ("driver", "jvm", "python")

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.driver_pid = os.getpid()
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = {g: 0 for g in (*self.GROUPS, "total")}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)

    def _workers(self) -> list[int]:
        return [p for p in descendants(self.jvm_pid) if "pyspark" in _cmdline(p)]

    def read(self) -> dict[str, tuple[float, int]]:
        """group -> (cpu seconds, rss bytes) right now."""
        out = {}
        for group, pids in (("driver", [self.driver_pid]), ("jvm", [self.jvm_pid]),
                            ("python", self._workers())):
            cpu, rss = 0.0, 0
            for pid in pids:
                st = _stat(pid)
                if st is not None:
                    cpu += st[1]
                    rss += st[2]
            out[group] = (cpu, rss)
        return out

    def cpu(self) -> dict[str, float]:
        return {g: v[0] for g, v in self.read().items()}

    def sample(self) -> None:
        now = self.read()
        for g, (_, rss) in now.items():
            self.peak[g] = max(self.peak[g], rss)
        self.peak["total"] = max(self.peak["total"], sum(v[1] for v in now.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> ProcSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self, group: str = "total") -> float:
        return self.peak[group] / 2**20


# ---------------------------------------------------------------------------
# py4j round-trip counter
# ---------------------------------------------------------------------------


class Py4jCounter:
    """Counts commands sent over the py4j gateway client. Installed as an
    instance attribute that shadows ``send_command``; :meth:`close`
    removes it again."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        inner = type(self.client).send_command.__get__(self.client)

        def send_command(*args, **kwargs):
            self.calls += 1
            return inner(*args, **kwargs)

        self.client.send_command = send_command

    def close(self) -> None:
        self.client.__dict__.pop("send_command", None)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EXEC_FIELDS = ("jobs", "stages", "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
               "scheduler_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
               "spill_bytes", "input_bytes", "input_rows")


class EventLogStats:
    """Per-key totals of one event log. A key is a job group; jobs of a
    streaming query carry its ``runId`` as their group."""

    def __init__(self) -> None:
        self.by_group: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_FIELDS, 0))

    def total(self, groups) -> dict[str, float]:
        out = dict.fromkeys(EXEC_FIELDS, 0)
        for g in groups:
            for k, v in self.by_group.get(g, {}).items():
                out[k] += v
        return out


def parse_event_log(path: str) -> EventLogStats:
    """Read an uncompressed Spark event log (a file or a directory holding
    one) and total job, stage and task metrics per job group."""
    files = [path]
    if os.path.isdir(path):  # a log dir, or a rolling log's events_<n>_* files
        files = sorted(
            (os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
             if not f.startswith((".", "appstatus"))),
            key=_roll_index,
        )
    stats = EventLogStats()
    stage_group: dict[int, str] = {}
    for fp in files:
        with open(fp) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    stats.by_group[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stats.by_group[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stats.by_group[stage_group.get(ev["Stage ID"], "")], ev)
    return stats


def _roll_index(path: str) -> tuple[str, int]:
    name = os.path.basename(path)
    part = name.split("_")[1] if name.startswith("events_") else ""
    return os.path.dirname(path), int(part) if part.isdigit() else 0


def _add_task(acc: dict[str, float], ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
        acc["failed_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    acc["run_s"] += run_ms / 1e3
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (run_ms + m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0) + info.get("Getting Result Time", 0))
    acc["scheduler_delay_s"] += max(0, duration - overhead) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    acc["input_bytes"] += inp.get("Bytes Read", 0)
    acc["input_rows"] += inp.get("Records Read", 0)


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

PROGRESS_FIELDS = ("addBatch", "latestOffset", "queryPlanning", "walCommit",
                   "commitOffsets", "triggerExecution")


def stream_progress(query) -> dict[str, float]:
    """Sum of ``durationMs`` (as seconds) and ``numInputRows`` over every
    progress report of a finished query."""
    out = dict.fromkeys(PROGRESS_FIELDS, 0.0)
    out["numInputRows"] = 0
    for p in query.recentProgress:
        for k in PROGRESS_FIELDS:
            out[k] += p.get("durationMs", {}).get(k, 0) / 1e3
        out["numInputRows"] += p.get("numInputRows", 0)
    return out


# ---------------------------------------------------------------------------
# storage walker
# ---------------------------------------------------------------------------


def walk(roots) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for name in files:
                p = os.path.join(dirpath, name)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) that are new or rewritten between two walks."""
    new = [v for p, v in after.items() if before.get(p) != v]
    return sum(v[0] for v in new), len(new)


def live(snapshot: dict) -> tuple[int, int]:
    return sum(v[0] for v in snapshot.values()), len(snapshot)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent index, op id, workload).
    A disabled tracer records nothing."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str = "") -> Iterator[dict | None]:
        """Record one span; yields its record (None when disabled) so the
        caller can fill in an op id known only at the end."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": op, "workload": self.workload}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, dict[str, float]]:
        """name -> {count, total_s, self_s}: a span's self time is its
        duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += d
            agg["self_s"] += d - child[i]
        return out
