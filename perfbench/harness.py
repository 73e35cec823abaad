"""Measurement plumbing shared by the workloads.

- ``ProcTree``: CPU seconds and resident memory of the driver process tree
  (this Python process, the JVM it launched, and the JVM's Python
  workers), read from ``/proc``.
- ``stage_metrics`` / ``plan_counts`` / ``python_io_bytes``: Spark's own
  status stores, read for the jobs of one job group right after the op
  that ran them.
- ``ThreadClock``: CPU seconds of the client thread, Python and JVM side.
- ``Tracer``: in-memory spans (name, start, end, parent, op id) and
  counters, with self times; ``NullTracer`` is the untraced stand-in.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100) of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------- /proc

@dataclass
class _Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float      # own + reaped children, user + system
    rss_bytes: int


def _read_proc(pid: int) -> _Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm is parenthesized and may contain spaces
    lp, rp = raw.index("("), raw.rindex(")")
    rest = raw[rp + 2:].split()
    ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))  # utime stime cutime cstime
    return _Proc(pid, int(rest[1]), raw[lp + 1:rp], ticks / _TICK,
                 int(rest[21]) * _PAGE)


class ProcTree:
    """The process tree rooted at this interpreter."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def snapshot(self) -> list[_Proc]:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                p = _read_proc(int(name))
                if p is not None:
                    procs[p.pid] = p
        kids: dict[int, list[int]] = {}
        for p in procs.values():
            kids.setdefault(p.ppid, []).append(p.pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in procs:
                out.append(procs[pid])
            todo.extend(kids.get(pid, ()))
        return out

    def usage(self) -> dict[str, float]:
        """``cpu_s`` of the whole tree, ``worker_cpu_s`` of its Python
        processes other than the driver, and ``rss_mb`` of the tree."""
        snap = self.snapshot()
        return {
            "cpu_s": sum(p.cpu_s for p in snap),
            "worker_cpu_s": sum(p.cpu_s for p in snap
                                if p.pid != self.root
                                and p.comm.startswith("python")),
            "rss_mb": sum(p.rss_bytes for p in snap) / 2**20,
        }


class ThreadClock:
    """CPU seconds of the client's thread: this Python thread plus the JVM
    thread that serves its py4j calls (PySpark pins one JVM thread to each
    Python thread). Time spent waiting for a CPU does not count, so load
    on a shared host moves it far less than wall time."""

    def __init__(self, spark) -> None:
        jvm = spark.sparkContext._jvm
        self._mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()

    def __call__(self) -> float:
        return time.thread_time() + self._mx.getCurrentThreadCpuTime() * 1e-9


# ---------------------------------------------------------- Spark stores

_STAGE_FIELDS = {
    "execution.executor_run_s": ("executorRunTime", 1e-3),
    "execution.executor_cpu_s": ("executorCpuTime", 1e-9),
    "execution.gc_s": ("jvmGcTime", 1e-3),
    "execution.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "execution.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "execution.shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
}


def drain_listener(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status stores hold the finished op's metrics."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Executor-side totals of every stage run by the jobs of ``group``.

    Reads the job ids of the group, then each job's stages from the core
    status store (``stageData`` takes all five Java arguments over py4j).
    Skipped stages never ran and hold no metrics."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    no_status = jvm.java.util.ArrayList()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {k: 0.0 for k in _STAGE_FIELDS}
    out.update({"execution.jobs": float(len(jobs)), "execution.stages": 0.0,
                "execution.tasks": 0.0, "execution.spill_bytes": 0.0})
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, no_status, False,
                                       no_quantiles)
        except Exception:  # noqa: BLE001 - stage never submitted
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if str(st.status()) != "COMPLETE":
                continue
            out["execution.stages"] += 1
            out["execution.tasks"] += st.numCompleteTasks()
            out["execution.spill_bytes"] += (st.memoryBytesSpilled()
                                             + st.diskBytesSpilled())
            for key, (getter, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)() * scale
    return out


_EXCHANGE = re.compile(r"(?<![\w])(Broadcast)?Exchange (\w+)")
_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
    r"PythonMapInArrow|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|"
    r"FlatMapGroupsInArrow|AggregateInPandas|WindowInPandas|"
    r"ArrowEvalPythonUDTF|BatchEvalPythonUDTF)")


def plan_counts(df) -> dict[str, float]:
    """Exchange, single-partition exchange and Python-node counts of the
    executed plan (the AQE final plan when the query was adaptive)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    text = text.split("== Initial Plan ==")[0]
    exchanges = _EXCHANGE.findall(text)
    return {
        "planner.exchanges": float(len(exchanges)),
        "planner.single_partition_exchanges": float(
            sum(1 for _, kind in exchanges if kind == "SinglePartition")),
        "planner.python_nodes": float(len(_PYTHON_NODE.findall(text))),
    }


_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_total(text: str) -> float:
    m = _SIZE.search(text)  # the first figure of a size metric is its total
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def python_io_bytes(spark, job_ids: set[int]) -> dict[str, float]:
    """Bytes sent to and returned from Python workers, summed over the
    Python plan nodes of the SQL executions that ran ``job_ids`` (SQL
    status store: ``executionsList``, ``planGraph``,
    ``executionMetrics``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = {"functions.python_bytes_sent": 0.0,
           "functions.python_bytes_received": 0.0}
    if not job_ids:
        return out
    execs = store.executionsList()
    n = execs.size()
    # the executions of one op are the most recent ones; walk back until
    # one predates the op's first job
    first = min(job_ids)
    for i in range(n - 1, -1, -1):
        ex = execs.apply(i)
        jobs = set(_scala_keys(ex.jobs()))
        if jobs and max(jobs) < first:
            break
        if not jobs & job_ids:
            continue
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if not _PYTHON_NODE.match(node.name()):
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                name = metric.name()
                if "Python" not in name:
                    continue
                key = ("functions.python_bytes_sent" if "sent" in name
                       else "functions.python_bytes_received"
                       if "returned" in name else None)
                if key is None:
                    continue
                val = values.get(metric.accumulatorId())
                if val.isDefined():
                    out[key] += _size_total(val.get())
    return out


def _scala_keys(scala_map) -> list[int]:
    keys, it = [], scala_map.keys().iterator()
    while it.hasNext():
        keys.append(int(it.next()))
    return keys


# ---------------------------------------------------------------- tracer

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    child_s: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class NullTracer:
    """Tracing off: spans and counters cost one call each."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        yield

    def op(self, name: str, **attrs: Any):
        return self.span(name)

    def count(self, name: str, value: float = 1.0) -> None:
        pass

    def note(self, **attrs: Any) -> None:
        pass


class Tracer(NullTracer):
    """Spans kept in memory; ``op`` starts a root span with a fresh op id
    that every nested span shares."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._op: int | None = None
        self._ops = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None,
                  op=self._op, attrs=attrs)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sp.parent is not None:
                self.spans[sp.parent].child_s += sp.dur

    @contextlib.contextmanager
    def op(self, name: str, **attrs: Any) -> Iterator[None]:
        self._ops += 1
        self._op = self._ops
        try:
            with self.span(name, **attrs):
                yield
        finally:
            self._op = None

    def count(self, name: str, value: float = 1.0) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def note(self, **attrs: Any) -> None:
        """Attach attributes to the innermost open span."""
        if self._stack:
            self.spans[self._stack[-1]].attrs.update(attrs)

    def total(self, name: str, under: str | None = None) -> tuple[float, int]:
        """Summed duration and count of spans called ``name``, optionally
        only those inside an op whose root span is called ``under``."""
        roots = {sp.op: sp.name for sp in self.spans if sp.parent is None}
        hits = [sp for sp in self.spans if sp.name == name
                and (under is None or roots.get(sp.op) == under)]
        return sum(sp.dur for sp in hits), len(hits)

    def coverage(self) -> float:
        """Share of op wall time that the ops' child spans account for
        (1 − root self time / root duration, summed over ops)."""
        roots = [sp for sp in self.spans if sp.parent is None]
        wall = sum(sp.dur for sp in roots)
        return 1.0 - sum(sp.self_s for sp in roots) / wall if wall else 0.0

    def summary(self) -> dict[str, float]:
        """Op count, spans per op and coverage."""
        roots = [sp for sp in self.spans if sp.parent is None]
        if not roots:
            return {}
        return {
            "trace.ops": float(len(roots)),
            "trace.spans_per_op": len(self.spans) / len(roots),
            "trace.coverage_frac": self.coverage(),
        }

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"counters": self.counters, "spans": [
                {"id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                 "parent": sp.parent, "op": sp.op, "self_s": sp.self_s,
                 **({"attrs": sp.attrs} if sp.attrs else {})}
                for i, sp in enumerate(self.spans)]}, fh, default=str)


def wrap_attr(tracer: Tracer, owners: list[Any], attr: str, span_name: str,
              after: Callable[[Any], None] | None = None) -> Callable[[], None]:
    """Replace ``owner.attr`` on every owner that holds the same function
    as the first owner with a spanned wrapper; returns an undo function.
    Callers that resolve the name at call time (module globals) pick the
    wrapper up; ``after`` sees each result."""
    original = getattr(owners[0], attr)

    def wrapper(*args: Any, **kwargs: Any) -> Any:
        with tracer.span(span_name):
            result = original(*args, **kwargs)
            if after is not None:
                after(result)
            return result

    patched = [o for o in owners if getattr(o, attr, None) is original]
    for o in patched:
        setattr(o, attr, wrapper)

    def undo() -> None:
        for o in patched:
            setattr(o, attr, original)
    return undo
