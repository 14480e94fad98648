"""Process and per-layer measurement.

``ProcTree`` reads ``/proc`` for this Python process, the JVM it launched
and the JVM's Python workers: resident memory and CPU seconds. ``RssSampler``
keeps the high-water total of that tree; it is cheap enough to run in
every run. ``Tracer`` is the traced run's instrumentation: a job group
per op, JMX JIT/GC deltas over py4j, ``/proc`` CPU deltas, and a
``StreamingQueryListener`` for micro-batch phase durations.
``read_event_log`` turns Spark's JSON event log into per-op job, stage
and task metrics.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat, None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read().decode("ascii", "replace")
    except OSError:
        return None
    head, rest = data.rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class ProcTree:
    """This process and every descendant, classified as the JVM
    (``java``) or Python workers (anything the JVM forked)."""

    def __init__(self):
        self.root = os.getpid()

    def _procs(self) -> dict[int, tuple[str, list[str]]]:
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    procs[int(d)] = st
        return procs

    def members(self) -> dict[str, list[tuple[int, list[str]]]]:
        procs = self._procs()
        children: dict[int, list[int]] = {}
        for pid, (_comm, f) in procs.items():
            children.setdefault(int(f[1]), []).append(pid)
        out: dict[str, list] = {"driver": [], "jvm": [], "python": []}
        stack = [(self.root, "driver")]
        while stack:
            pid, kind = stack.pop()
            if pid not in procs:
                continue
            comm, f = procs[pid]
            if kind == "driver" and pid != self.root:
                kind = "jvm" if comm == "java" else "driver"
            out[kind].append((pid, f))
            # whatever the JVM forks (pyspark daemon and its workers) is Python
            child_kind = "python" if kind in ("jvm", "python") else "driver"
            stack.extend((c, child_kind) for c in children.get(pid, ()))
        return out

    def rss_bytes(self) -> int:
        return sum(
            int(f[21]) * _PAGE for group in self.members().values() for _pid, f in group
        )

    def cpu_s(self) -> dict[str, float]:
        """CPU seconds per group; children's reaped time (cutime/cstime)
        is included, so a worker that exits keeps counting."""
        members = self.members()
        out = {
            kind: sum(sum(int(x) for x in f[11:15]) for _pid, f in members[kind]) / _TICK
            for kind in ("jvm", "python")
        }
        t = os.times()
        out["driver"] = t.user + t.system
        return out


class RssSampler(threading.Thread):
    """High-water resident memory of the process tree, sampled."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.tree, self.period_s = tree, period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.tree.rss_bytes())
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_bytes())
        return self.peak


# ------------------------------------------------------------ traced run


def _jmx(spark) -> dict[str, float]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, "gc_s": gc_ms / 1e3}


def _make_listener(sink: list, started: set, ended: set, current: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "op": current[0],
                    "query": str(p.id),
                    "batch": p.batchId,
                    "rows_in": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            ended.add(str(event.id))

    return _Listener()


class Tracer:
    """Per-op instrumentation for the traced run. ``begin``/``end`` wrap
    each op call; the op's own wall is timed by the caller."""

    def __init__(self, spark, tree: ProcTree):
        self.spark, self.tree = spark, tree
        self.progress: list[dict] = []
        self._started: set = set()
        self._ended: set = set()
        self._current = [None]
        spark.streams.addListener(
            _make_listener(self.progress, self._started, self._ended, self._current)
        )
        self._snap = None

    def begin(self, tag: str) -> None:
        self._current[0] = tag
        self.spark.sparkContext.setJobGroup(tag, tag)
        self._snap = (time.time(), _jmx(self.spark), self.tree.cpu_s())

    def end(self, tag: str) -> dict:
        t_end = time.time()
        jmx, cpu = _jmx(self.spark), self.tree.cpu_s()
        t0, jmx0, cpu0 = self._snap
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        # progress events arrive on the listener bus after the query
        # returns; wait (untimed) until every stream this op started ended
        deadline = time.time() + 10
        while self._started - self._ended and time.time() < deadline:
            time.sleep(0.02)
        self._current[0] = None
        return {
            "tag": tag,
            "start_ms": t0 * 1e3,
            "end_ms": t_end * 1e3,
            "jvm.jit_s": jmx["jit_s"] - jmx0["jit_s"],
            "jvm.gc_s": jmx["gc_s"] - jmx0["gc_s"],
            "jvm.cpu_s": cpu["jvm"] - cpu0["jvm"],
            "python.worker_cpu_s": cpu["python"] - cpu0["python"],
            "driver.cpu_s": cpu["driver"] - cpu0["driver"],
        }


_TASK_FIELDS = {
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "shuffle_read_mb": lambda m: (
        m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
        + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
    ) / 1e6,
    "shuffle_write_mb": lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6,
    "spill_mb": lambda m: (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6,
    "input_mb": lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0) / 1e6,
}


def read_event_log(log_dir: str, spans: list[dict]) -> dict[str, dict]:
    """Per-span job/stage/task counts and task metrics from the JSON event
    log. A job belongs to the span whose tag is its job group; a job with
    no group (one submitted from a streaming thread) belongs to the span
    whose interval holds its submission time."""
    by_tag = {s["tag"]: s for s in spans}
    zero = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, **dict.fromkeys(_TASK_FIELDS, 0.0)}
    out = {s["tag"]: dict(zero) for s in spans}

    def owner(props: dict, submit_ms: float) -> str | None:
        tag = (props or {}).get("spark.jobGroup.id")
        if tag in by_tag:
            return tag
        for s in spans:
            if s["start_ms"] <= submit_ms <= s["end_ms"]:
                return s["tag"]
        return None

    stage_owner: dict[int, str] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = owner(ev.get("Properties"), ev.get("Submission Time", 0))
                    if tag is None:
                        continue
                    out[tag]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_owner.setdefault(sid, tag)
                elif kind == "SparkListenerStageCompleted":
                    tag = stage_owner.get(ev["Stage Info"]["Stage ID"])
                    if tag is not None:
                        out[tag]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_owner.get(ev.get("Stage ID"))
                    if tag is None:
                        continue
                    out[tag]["tasks"] += 1
                    if ev.get("Task End Reason", {}).get("Reason") != "Success":
                        out[tag]["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    for k, fn in _TASK_FIELDS.items():
                        out[tag][k] += fn(m)
    return out
