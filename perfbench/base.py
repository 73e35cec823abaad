"""Run skeleton shared by the workloads: inputs, set-up, warm-up, the
timed closed loop, and the result line.

A workload subclass supplies ``setup_once`` (work done once per run after
the session exists), ``warmup`` (one untimed pass that also records the
reference answers the timed ops are checked against), ``timed_op`` (one
op of the closed loop, which records its own samples) and
``layer_metrics`` (the per-layer figures of a traced run), and may supply
``finish`` (work after the timed loop).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import datagen
from harness import NullTracer, ProcTree, ThreadClock, median, percentile

HERE = os.path.dirname(os.path.abspath(__file__))

#: the generated star schema: TPC-H-style scale factor and data seed
SF = 0.01
DATA_SEED = 42
#: cold session starts per run, each in its own process (the run's own
#: start is one of them); ``setup_s`` takes their median
COLD_STARTS = 2

E2E_UNITS = {
    "setup_s": "s",
    "query_s_p50": "s",
    "query_s_p90": "s",
    "queries_per_s": "1/s",
    "cpu_s_per_query": "s",
    "select_cpu_ms_p50": "ms",
    "select_cpu_ms_p90": "ms",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "session.cached_bytes": "bytes",
    "session.cached_rdds": "count",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "planner.plan_s": "s",
    "planner.exchanges": "count",
    "planner.single_partition_exchanges": "count",
    "planner.python_nodes": "count",
    "execution.exec_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.executor_run_s": "s",
    "execution.executor_cpu_s": "s",
    "execution.gc_s": "s",
    "execution.shuffle_read_bytes": "bytes",
    "execution.shuffle_write_bytes": "bytes",
    "execution.shuffle_fetch_wait_s": "s",
    "execution.spill_bytes": "bytes",
    "execution.busy_frac": "frac",
    "execution.result_rows": "count",
    "functions.python_worker_cpu_s": "s",
    "functions.python_bytes_sent": "bytes",
    "functions.python_bytes_received": "bytes",
    "stats.harvest_s": "s",
    "workload.generate_s": "s",
    "explore.enumerate_s": "s",
    "explore.forms": "count",
    "explore.candidates": "count",
    "explore.distinct_frac": "frac",
    "explore.label_s": "s",
    "explore.label_timeouts": "count",
    "explore.hint_realized_frac": "frac",
    "featurize.capture_s": "s",
    "featurize.capture_calls": "count",
    "featurize.plan_nodes": "count",
    "model.score_s": "s",
    "model.plans_scored": "count",
    "model.plans_per_s": "1/s",
    "model.train_s": "s",
    "model.train_pairs": "count",
    "model.pairs_epochs_per_s": "1/s",
    "model.embed_s": "s",
    "model.top1_frac": "frac",
    "model.regret_s": "s",
    "select.coreset_s": "s",
    "select.pool": "count",
    "select.picked": "count",
    "lero.refresh_s": "s",
    "lero.refresh_cpu_s": "s",
    "trace.ops": "count",
    "trace.spans_per_op": "count",
    "trace.coverage_frac": "frac",
    "trace.overhead_frac": "frac",
}


@dataclass
class Context:
    work: str
    seed: int
    seconds: float
    tracer: NullTracer
    cores: int


@dataclass
class Samples:
    """What the timed loop measured. ``add`` records one served query
    under its name; ``end_pass`` closes a pass over the workload's
    queries. Latency percentiles are taken over each query's median, and
    throughput and CPU per query are medians over passes, so a host stall
    costs one sample rather than the run."""
    query_s: dict[str, list[float]] = field(default_factory=dict)
    select_s: dict[str, list[float]] = field(default_factory=dict)
    pass_qps: list[float] = field(default_factory=list)
    pass_cpu: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    _n: int = 0
    _wall: float = 0.0
    _cpu: float = 0.0

    def add(self, name: str, query_s: float, select_s: float,
            cpu_s: float) -> None:
        self.query_s.setdefault(name, []).append(query_s)
        self.select_s.setdefault(name, []).append(select_s)
        self._n += 1
        self._wall += query_s
        self._cpu += cpu_s

    def end_pass(self) -> None:
        if self._n:
            self.pass_qps.append(self._n / self._wall)
            self.pass_cpu.append(self._cpu / self._n)
        self._n, self._wall, self._cpu = 0, 0.0, 0.0

    def e2e(self) -> dict[str, float]:
        query = [median(v) for v in self.query_s.values()]
        select = [median(v) for v in self.select_s.values()]
        if not self.pass_qps:  # no pass completed: take the partial one
            self.end_pass()
        return {
            "query_s_p50": median(query),
            "query_s_p90": percentile(query, 90),
            "queries_per_s": median(self.pass_qps),
            "cpu_s_per_query": median(self.pass_cpu),
            "select_cpu_ms_p50": 1e3 * median(select),
            "select_cpu_ms_p90": 1e3 * percentile(select, 90),
        }


class Workload:
    def __init__(self, name: str, ctx: Context) -> None:
        self.name = name
        self.ctx = ctx
        # spans are recorded in the timed loop only
        self.tracer = NullTracer()
        self.proc = ProcTree()
        self.spark = None
        self.samples = Samples()
        self.peak_rss_mb = 0.0
        self.layer: dict[str, float] = {}
        # per-query times of a traced run, by whether tracing was on
        self.op_s: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}
        self._restore = None
        self.sf_dir = datagen.write(
            os.path.join(ctx.work, f"data-sf{SF}-seed{DATA_SEED}"),
            SF, DATA_SEED)

    # ---- hooks
    def setup_once(self) -> None:
        pass

    def warmup(self) -> None:
        raise NotImplementedError

    def timed_op(self, index: int) -> None:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def finish(self) -> None:
        """Work after the timed loop, outside its timing."""

    # ---- shared pieces
    def fail(self, what: str, why: str) -> None:
        self.samples.failed += 1
        print(f"perfbench: FAIL {what}: {why}", file=sys.stderr)

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, self.proc.usage()["rss_mb"])

    def record(self, name: str, query_s: float, select_cpu_s: float,
               cpu_s: float) -> None:
        """One served query of the timed loop; in a traced run its time
        is also kept by whether tracing was on, for the overhead."""
        self.samples.add(name, query_s, select_cpu_s, cpu_s)
        if self.ctx.tracer.enabled:
            self.op_s[self.tracer.enabled].setdefault(name, []).append(query_s)

    def trace_pass(self, on: bool) -> None:
        """In a traced run, switch tracing on or off before a pass. The
        untraced passes serve the same queries as the traced ones, so the
        difference of their times is the tracing overhead."""
        if not self.ctx.tracer.enabled or on == self.tracer.enabled:
            return
        if on:
            import instrument

            self.tracer = self.ctx.tracer
            self._restore = instrument.install(self.tracer)
        else:
            self._restore()
            self.tracer = NullTracer()

    def cold_starts(self) -> list[float]:
        """Seconds of ``COLD_STARTS - 1`` session starts, each in a fresh
        process that launches its own JVM, then the run's own start."""
        out = []
        for _ in range(COLD_STARTS - 1):
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "coldstart.py"),
                 self.sf_dir], stdout=subprocess.PIPE, check=True,
                timeout=120)
            out.append(float(res.stdout.decode().split()[-1]))
        self.spark, own = start_session(f"perfbench-{self.name}", self.sf_dir)
        self.clock = ThreadClock(self.spark)
        return out + [own]

    def run(self) -> dict:
        starts = self.cold_starts()
        self.layer["session.start_s"] = median(starts)
        t0 = time.perf_counter()
        self.setup_once()
        t1 = time.perf_counter()
        self.warmup()
        t2 = time.perf_counter()
        setup_s = median(starts) + t2 - t0
        print(f"perfbench: set-up cold starts {[round(c, 2) for c in starts]} "
              f"once {t1 - t0:.2f}s warm-up {t2 - t1:.2f}s", file=sys.stderr)
        self.sample_rss()

        s = self.samples
        i, t_end = 0, time.perf_counter() + self.ctx.seconds
        try:
            while time.perf_counter() < t_end:
                self.timed_op(i)
                self.sample_rss()
                i += 1
            self.finish()
        finally:
            self.trace_pass(False)
        n = sum(len(v) for v in s.query_s.values())
        e2e = {"setup_s": setup_s, **s.e2e(), "peak_rss_mb": self.peak_rss_mb}
        print(f"perfbench: {self.name} ops={i} queries={n} "
              + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()),
              file=sys.stderr)
        if self.ctx.tracer.enabled:
            values = {k: 0.0 for k in LAYER_UNITS}
            values.update(self.layer)
            values.update(self.layer_metrics())
            values["trace.overhead_frac"] = self.overhead_frac()
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()}
        return {"correct": s.failed == 0, "attempted": s.attempted,
                "failed": s.failed, "metrics": metrics}

    def overhead_frac(self) -> float:
        """Tracing overhead: summed per-query median time of the traced
        passes over that of the untraced passes, minus one, over the
        queries served both ways."""
        on, off = self.op_s[True], self.op_s[False]
        both = [q for q in on if q in off]
        base = sum(median(off[q]) for q in both)
        return (sum(median(on[q]) for q in both) / base - 1.0) if base else 0.0

    def close(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


def start_session(name: str, sf_dir: str):
    """Start the session and register the views: (session, seconds)."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(name)
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, sf_dir)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its stdin
    closes), and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
