"""Spans, Spark job groups, event-log task metrics and process memory.

A span records (name, start, end, parent, op_id) around a call into one
of the program's layers, made from the benchmark's own files. Spans stay
in memory until the run ends. Entering a span also sets the Spark job
group to the span's name, so the task metrics of every job the call runs
can be attributed to it from Spark's event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    phase = "op"

    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        yield


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.phase = "op"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id=None):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op_id": op_id, "parent": parent, "phase": self.phase}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(f"{self.phase}/{name}", name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(f"{self.phase}/-", "-")
            else:
                self.sc.setJobGroup(
                    f"{self.phase}/{self.spans[parent]['name']}", "-"
                )

    def durations(self, name: str, phase: str | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (phase is None or s["phase"] == phase)
        ]


class MemoCounter:
    """Counts hits and misses of ``functions.caching.memo`` by wrapping it
    (the program's operators look the function up on the module at call
    time). A call whose builder does not run is a hit."""

    def __init__(self) -> None:
        from mapreduceindex_spark.functions import caching

        self.caching = caching
        self.original = caching.memo
        self.hits = defaultdict(int)
        self.misses = defaultdict(int)

        def memo(key, fingerprint, builder):
            built = []

            def counted():
                built.append(True)
                return builder()

            frames = self.original(key, fingerprint, counted)
            (self.misses if built else self.hits)[key] += 1
            return frames

        caching.memo = memo

    def live_frames(self) -> int:
        return sum(len(v) for v in self.caching._LIVE.values())

    def close(self) -> None:
        self.caching.memo = self.original


#: keeps the JVM from writing its performance-counter file under /tmp
NO_PERF_DATA = "-XX:-UsePerfData"


def spark_conf_lines(work: str, cores: int, trace: bool) -> list[str]:
    """spark-defaults.conf for the run: everything Spark writes stays in
    the run's work directory; the traced run also writes an event log.
    The serial collector sizes the heap from the live data after each
    collection; G1 grows it on pause- and GC-time targets, so with G1 the
    peak resident set of one input read 1.2-1.5 GB from run to run on a
    shared host."""
    java = f"-Djava.io.tmpdir={work}/tmp {NO_PERF_DATA} -XX:+UseSerialGC"
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.local.dir {work}/spark-local",
        f"spark.sql.warehouse.dir {work}/warehouse",
        f"spark.driver.extraJavaOptions {java}",
        f"spark.default.parallelism {cores}",
    ]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{work}/events",
            "spark.eventLog.compress false",
        ]
    return lines


class TaskMetrics:
    """Per job group sums of Spark task metrics, read from the event log
    after the SparkContext stopped (the log is complete then)."""

    def __init__(self, events_dir: str):
        self.jobs = defaultdict(int)
        self.tasks = defaultdict(int)
        self.run_ms = defaultdict(float)
        self.cpu_ns = defaultdict(float)
        self.gc_ms = defaultdict(float)
        self.spill = defaultdict(float)
        self.shuffle_write = defaultdict(float)
        #: executor run time of tasks in stages that read a shuffle
        self.reduce_run_ms = defaultdict(float)
        #: group -> [task count of each stage that ran, by stage id]
        self.stage_tasks: dict[str, dict[int, int]] = defaultdict(dict)
        stage_group: dict[int, str] = {}
        post_shuffle: set[int] = set()
        files = sorted(
            p for p in glob.glob(os.path.join(events_dir, "**"), recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith(".")
        )
        if not files:
            raise RuntimeError(f"no Spark event log under {events_dir}")
        for path in files:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        group = props.get("spark.jobGroup.id") or "-"
                        self.jobs[group] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                        for info in ev.get("Stage Infos", []):
                            if info.get("Parent IDs"):
                                post_shuffle.add(info["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        sid = ev["Stage ID"]
                        group = stage_group.get(sid, "-")
                        m = ev.get("Task Metrics") or {}
                        self.tasks[group] += 1
                        st = self.stage_tasks[group]
                        st[sid] = st.get(sid, 0) + 1
                        self.run_ms[group] += m.get("Executor Run Time", 0)
                        if sid in post_shuffle:
                            self.reduce_run_ms[group] += m.get("Executor Run Time", 0)
                        self.cpu_ns[group] += m.get("Executor CPU Time", 0)
                        self.gc_ms[group] += m.get("JVM GC Time", 0)
                        self.spill[group] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        sw = m.get("Shuffle Write Metrics") or {}
                        self.shuffle_write[group] += sw.get("Shuffle Bytes Written", 0)

    def total(self, field: str, prefix: str) -> float:
        table = getattr(self, field)
        return float(sum(v for g, v in table.items() if g.startswith(prefix)))

    def first_stage_tasks(self, group: str) -> int:
        """Tasks of the lowest-numbered stage that ran in ``group``."""
        st = self.stage_tasks.get(group)
        return st[min(st)] if st else 0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
