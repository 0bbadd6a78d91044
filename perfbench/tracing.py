"""Per-layer attribution for the benchmark's traced runs.

Three sources, all outside the engine's code:

- Spans. ``Tracer.wrap`` swaps a public function (or a class method) of
  an engine module for a wrapper that records a span — name, start, end,
  parent — around each call. Engine modules call each other through
  module attributes, so a wrapped function is seen from every caller.
  Each span sets the Spark job group to its own id, so every job is
  attributed to the innermost span that launched it.
- The Spark event log. ``read_event_log`` parses JobStart, StageCompleted
  and TaskEnd events plus the SQL plan of every execution, and sums task
  counts, CPU, GC, shuffle, spill and result bytes per job group. Rows
  through Python-worker plan nodes (ArrowEvalPython, MapInPandas, ...)
  come from those nodes' SQL metrics.
- ``/proc``: peak resident memory (VmHWM) of the driver and the JVM, and
  CPU time of the driver's process tree.

Spans are kept in memory and reduced when the run ends.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "ArrowEvalPythonUDTF",
)
CALIBRATION_GROUP = "bench.calibrate"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)  # counts recorded at the boundary

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and swaps engine functions for span-recording
    wrappers; ``restore`` puts every original back."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.sc = None  # SparkContext whose job group follows the span stack
        self.counters: dict[str, int] = defaultdict(int)

    # -- spans
    def begin(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def finish(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self._stack[-1] if self._stack else None)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.begin(name)
                return self.s

            def __exit__(self, *exc):
                tracer.finish(self.s)
                return False

        return _Ctx()

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(str(span.sid), span.name)

    # -- wrappers
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (module function or class method) by a
        wrapper recording span ``name``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            s = tracer.begin(name)
            try:
                return original(*args, **kwargs)
            finally:
                tracer.finish(s)

        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` until ``restore``."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_module(self, module_name: str, span_name: str) -> None:
        """Wrap every public function defined in a module."""
        mod = importlib.import_module(module_name)
        for attr, value in list(vars(mod).items()):
            if (
                callable(value)
                and not attr.startswith("_")
                and getattr(value, "__module__", None) == module_name
                and not isinstance(value, type)
            ):
                self.wrap(mod, attr, span_name)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reduction
    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.parent].append(s)
        return out

    def self_times(self) -> dict[str, float]:
        """Span name → summed self time (duration minus the part of it
        covered by child spans)."""
        kids = self.children()
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += s.dur - sum(c.dur for c in kids.get(s.sid, ()))
        return dict(out)

    def totals(self) -> dict[str, float]:
        """Span name → summed inclusive time, nested calls of the same
        name counted once."""
        by_id = {s.sid: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            p, nested = s.parent, False
            while p is not None:
                if by_id[p].name == s.name:
                    nested = True
                    break
                p = by_id[p].parent
            if not nested:
                out[s.name] += s.dur
        return dict(out)

    def counts(self) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s.name] += 1
        return dict(out)

    def ancestors(self, sid: int) -> list[int]:
        """``sid`` followed by its ancestors' ids, innermost first."""
        by_id = {s.sid: s for s in self.spans}
        out = []
        cur: int | None = sid
        while cur is not None:
            out.append(cur)
            cur = by_id[cur].parent
        return out


# ------------------------------------------------------------ event log

@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    python_rows: dict = field(default_factory=lambda: defaultdict(int))

    def add(self, o: "SparkWork") -> None:
        for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "result_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        for k, v in o.python_rows.items():
            self.python_rows[k] += v


def _python_metric_ids(plan: dict, out: dict) -> None:
    if plan.get("nodeName") in PYTHON_NODES:
        for m in plan.get("metrics", ()):
            if m.get("name") == "number of output rows":
                out[m["accumulatorId"]] = plan["nodeName"]
    for child in plan.get("children", ()):
        _python_metric_ids(child, out)


def read_event_log(log_dir: str) -> dict[str, SparkWork]:
    """Job group → Spark work done by jobs of that group, over every
    application log in ``log_dir``. Jobs without a group are keyed ``""``."""
    work: dict[str, SparkWork] = defaultdict(SparkWork)
    files = sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
    if not files:
        raise RuntimeError(f"no event log in {log_dir}")
    for path in files:
        _read_one_log(path, work)
    return dict(work)


def _read_one_log(path: str, work: dict) -> None:
    stage_group: dict[int, str] = {}
    py_acc: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                work[group].jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" not in info:
                    work[stage_group.get(info["Stage ID"], "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                w = work[stage_group.get(ev["Stage ID"], "")]
                w.tasks += 1
                m = ev.get("Task Metrics") or {}
                w.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                w.gc_s += m.get("JVM GC Time", 0) / 1e3
                w.result_bytes += m.get("Result Size", 0)
                w.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                w.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                w.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    node = py_acc.get(acc.get("ID"))
                    if node is not None:
                        w.python_rows[node] += int(acc.get("Update") or 0)
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                _python_metric_ids(ev.get("sparkPlanInfo") or {}, py_acc)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


# ---------------------------------------------------------------- probes

def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, in MB (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and all its descendants: the JVM, its Python daemon
    and workers. Unlike wall time it leaves out time the host stole from
    the machine."""
    stats: dict[int, list[str]] = {}
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we listed
            continue
        stats[int(d)] = fields
        kids[int(fields[1])].append(int(d))
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += sum(int(x) for x in stats[pid][11:15]) if pid in stats else 0
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def job_floor_ms(spark, n: int = 15) -> float:
    """Median wall time of a trivial one-task JVM job, in ms: the per-job
    scheduling floor of this session (no Python worker, no planning)."""
    import statistics

    sc = spark.sparkContext
    sc.setJobGroup(CALIBRATION_GROUP, "job-floor calibration")
    try:
        rdd = sc._jsc.parallelize(sc._jvm.java.util.Collections.singletonList(0), 1)
        rdd.count()
        times = []
        for _ in range(n):
            t = time.perf_counter()
            rdd.count()
            times.append(time.perf_counter() - t)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return statistics.median(times) * 1000.0


def cache_entries(spark) -> tuple[int, int]:
    """(cached tables still registered, RDDs still persisted).

    Cached tables are the SQL cache manager's entries: what ``persist``,
    ``cache``, ``cacheTable`` or ``io.pin_stats`` registered and nothing
    unpersisted. Persisted RDDs include local checkpoints and the column
    buffers of each materialized cached table; unreferenced ones are
    collected first (Python and JVM garbage collection, then a short wait
    for Spark's context cleaner)."""
    import gc

    cached = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(2):
        jvm.System.gc()
        time.sleep(0.3)
    return cached, spark.sparkContext._jsc.getPersistentRDDs().size()
