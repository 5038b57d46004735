"""Measurement plumbing: percentiles, process-tree memory, layer spans
and the Spark event-log reader."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n in each. Summing PSS over forked Python workers
    does not count their shared interpreter pages once per worker, as
    summing RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and all
    its descendants (the JVM and Spark's Python workers) from /proc every
    ``period`` seconds; ``peak_mb`` is the largest sum seen."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> dict[str, int]:
        """PSS in kB of this process, of its children (the JVM) and of
        deeper descendants (Python workers)."""
        kids = _children()
        me = os.getpid()
        parts = {"driver": _pss_kb(me), "jvm": 0, "workers": 0}
        todo = [(pid, "jvm") for pid in kids.get(me, ())]
        while todo:
            pid, part = todo.pop()
            parts[part] += _pss_kb(pid)
            todo.extend((kid, "workers") for kid in kids.get(pid, ()))
        return parts

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = self._sample()
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    job_group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory layer spans. Each span tags the Spark jobs it runs with a
    unique job description, so event-log stage counters can be attached
    to it afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        tag = f"perfbench:{idx}:{name}"
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, job_group=tag)
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobDescription(tag)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(
                self.spans[self._stack[-1]].job_group if self._stack else None
            )

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time covered
        by direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.dur - child[i]
        return out

    def groups_under(self, name: str) -> set[str]:
        """Job descriptions of every span called ``name`` and of all
        spans nested inside one."""
        keep: set[int] = set()
        for i, s in enumerate(self.spans):
            if s.name == name or (s.parent is not None and s.parent in keep):
                keep.add(i)
        return {self.spans[i].job_group for i in keep}

    def root_time(self) -> float:
        return sum(s.dur for s in self.spans if s.parent is None)

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


# ---------------------------------------------------------- event log


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0


class EventLog:
    """Per-job-description stage counters read from a finished Spark
    event log (``spark.eventLog.enabled``)."""

    def __init__(self, log_dir: str):
        logs = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
        if not logs:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        newest = logs[-1]
        # a rolling (v2) event log is a directory of events_<n>_* files
        files = [newest] if os.path.isfile(newest) else sorted(
            glob.glob(os.path.join(newest, "events_*")),
            key=lambda f: int(os.path.basename(f).split("_")[1]),
        )
        self.job_desc: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.stages: dict[int, StageStats] = {}
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            self.job_desc[ev["Job ID"]] = desc or ""
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)

    def _task(self, ev: dict) -> None:
        m = ev.get("Task Metrics") or {}
        st = self.stages.setdefault(ev["Stage ID"], StageStats())
        st.tasks += 1
        st.run_ms.append(m.get("Executor Run Time", 0))
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def stages_for(self, pred) -> list[StageStats]:
        return [
            st for sid, st in self.stages.items()
            if pred(self.job_desc.get(self.stage_job.get(sid, -1), ""))
        ]


def spark_counters(stages: list[StageStats], wall_s: float, cores: int) -> dict:
    """The engine-wide ``spark.*`` per-layer metrics over a set of stages."""
    skews = [
        max(st.run_ms) / max(1.0, statistics.median(st.run_ms))
        for st in stages if st.tasks >= 2
    ]
    cpu_s = sum(st.cpu_ns for st in stages) / 1e9
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(st.tasks for st in stages),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.shuffle_write_bytes": sum(st.shuffle_write for st in stages),
        "spark.shuffle_read_bytes": sum(st.shuffle_read for st in stages),
        "spark.spill_bytes": sum(st.spill for st in stages),
        "spark.gc_s": sum(st.gc_ms for st in stages) / 1e3,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_util": cpu_s / max(1e-9, wall_s * cores),
    }
