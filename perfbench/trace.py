"""Spans, Spark job-group attribution and resource sampling, all taken
from outside the engine.

* ``Recorder.span(name, layer)`` times a call into a layer and, when
  tracing, makes ``layer`` the Spark job group of every job the call
  submits (restoring the enclosing group on exit).
* ``TracingStageStore`` is the ``StageStore`` the traced build passes
  to ``run_kg_pipeline``: each stage materialization is a span of the
  layer that computes it; a resumed stage (pure snapshot read) is a
  ``stage_store`` span.
* ``read_event_log`` parses the Spark event log: TaskEnd metrics summed
  per job group, and the critical-path CPU of a time window.
* ``RssSampler`` polls /proc for the driver JVM and its Python workers.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import subprocess
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from sifr_project_java_ontology_processing_spark.sources.stage_store import StageStore

# module-named layers, in report order
LAYERS = (
    "session", "extraction", "mentions", "cascade", "canonicalize",
    "kg_pipeline", "stage_store", "graph_sink", "inference", "bgp",
)
CHECK_GROUP = "check"  # correctness checks (never timed)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # HotSpot names, cut to 15 chars
STAGE_LAYER = {
    "extracted": "extraction",
    "mentions": "mentions",
    "cascade": "cascade",
    "canonical": "canonicalize",
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    depth: int = 0
    child_s: float = 0.0  # wall time covered by directly nested spans

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - self.child_s


class Recorder:
    """In-memory span list. With ``sc`` set (traced run) a span also
    makes its layer the Spark job group (or ``group``, when set: the
    set-up pass files all its jobs under ``session``); untraced runs
    pass ``sc=None`` and only time."""

    def __init__(self, sc=None, group: str | None = None) -> None:
        self.sc = sc
        self.group = group
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sp = Span(name, layer, time.perf_counter(), depth=len(self._open))
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(self.group or layer, name)
        self._open.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            if self._open:
                self._open[-1].child_s += sp.wall
            self.spans.append(sp)
            if self.sc is not None:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev)

    def self_time(self) -> dict[str, float]:
        """Layer → summed self time (span wall minus nested spans)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += s.self_s
        return out

    def covered(self) -> float:
        """Wall time inside any top-level span."""
        return sum(s.wall for s in self.spans if s.depth == 0)


class TracingStageStore(StageStore):
    def __init__(self, spark, root: str, run_id: str, recorder: Recorder) -> None:
        super().__init__(spark, root, run_id)
        self.recorder = recorder

    def materialize(self, stage, df_or_thunk, partition_by=None):
        if self.exists(stage):
            with self.recorder.span(stage, "stage_store"):
                return super().materialize(stage, df_or_thunk, partition_by)
        with self.recorder.span(stage, STAGE_LAYER.get(stage, "kg_pipeline")):
            return super().materialize(stage, df_or_thunk, partition_by)


def read_event_log(log_dir: str) -> "EventLog":
    """Jobs (id, group, submission time, stages) and TaskEnd metrics of
    every event log under ``log_dir``."""
    log = EventLog()
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    log.group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    log.submitted[jid] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", ()):
                        log.stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerTaskEnd":
                    log.tasks.append(ev)
    return log


@dataclass
class EventLog:
    group: dict = field(default_factory=dict)  # job id -> job group (or None)
    submitted: dict = field(default_factory=dict)  # job id -> epoch ms
    stage_job: dict = field(default_factory=dict)  # stage id -> first job
    tasks: list = field(default_factory=list)  # SparkListenerTaskEnd events

    def jobs(self) -> list[tuple[int, str | None]]:
        return sorted(self.group.items())

    def by_group(self) -> dict[str, dict[str, float]]:
        """Per job group: jobs, tasks, cpu_s, gc_s, shuffle_mb (bytes
        written), shuffle_records, spill_mb and input_records (scanned
        plus shuffle-read)."""
        agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for group in self.group.values():
            agg[str(group)]["jobs"] += 1
        for ev in self.tasks:
            group = str(self.group.get(self.stage_job.get(ev["Stage ID"])))
            m = ev.get("Task Metrics") or {}
            a = agg[group]
            a["tasks"] += 1
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            a["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            a["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["input_records"] += sr.get("Total Records Read", 0)
        return agg

    def critical_cpu_s(self, window: tuple[float, float]) -> float:
        """Sum, over the stages of every job submitted in ``window``
        (epoch ms), of the largest executor CPU time of one of the
        stage's tasks. A stage ends with its slowest task and the stages
        of a job mostly wait on one another, so this approximates the
        CPU on the operation's critical path: a straggler task (a skewed
        key, lost parallelism) adds to it even when the total CPU stays
        the same. Python-worker CPU is not in it (it is not executor
        CPU)."""
        lo, hi = window
        jobs = {j for j, t in self.submitted.items() if lo <= t <= hi}
        longest: dict[tuple[int, int], int] = defaultdict(int)
        for ev in self.tasks:
            if self.stage_job.get(ev["Stage ID"]) in jobs:
                key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                cpu = (ev.get("Task Metrics") or {}).get("Executor CPU Time", 0)
                longest[key] = max(longest[key], cpu)
        return sum(longest.values()) / 1e9


def _children(pid: int) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except (OSError, IndexError, ValueError):
        return 0.0


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(pid), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _cpu_ticks(stat_path: str) -> tuple[str, list[int]]:
    """(command name, [utime, stime, cutime, cstime]) of a /proc stat
    file."""
    with open(stat_path, encoding="ascii", errors="replace") as fh:
        raw = fh.read()
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], [int(x) for x in tail.split()[11:15]]


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and every descendant, reaped
    ones included (they are in their parent's cutime/cstime), less the
    JVMs' JIT compiler threads. Stolen time is not in it, so it holds
    steady when other tenants of the host take CPU from this one. JIT
    compilation is left out because it was more than half of a cold
    build's CPU and most of its run-to-run spread; the JVM is started with a fixed set
    of compiler threads so that none exits with its CPU uncounted."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            total += sum(_cpu_ticks(f"/proc/{p}/stat")[1])
            threads = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in threads:
            try:
                name, (ut, st, _cu, _cs) = _cpu_ticks(f"/proc/{p}/task/{t}/stat")
            except OSError:  # the thread ended
                continue
            if name.startswith(JIT_THREADS):
                total -= ut + st
    return total / tick


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM (it exits when its stdin closes)
    and wait until it and the Python workers it forked are gone."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    kids = descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            with contextlib.suppress(OSError):
                os.kill(pid, 9)


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled every ``interval`` seconds."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> float:
        kids = _children(self.root_pid)
        todo, total = [self.root_pid], 0.0
        while todo:
            pid = todo.pop()
            total += _rss_mb(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, self._sample())


def host_fingerprint(spark) -> dict:
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal"))
    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "master": spark.sparkContext.master,
        "driver_heap": conf.get("spark.driver.memory", "?"),
    }
