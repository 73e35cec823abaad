"""The ``engine`` workload: registered queries of Layer A.

It takes the headline queries of ``bench.HEADLINE`` in two groups by the
module their builder lives in, and every 12th / 6th query of each group
in headline order (the full lists do not fit the run's time budget; see
README.md):

- JVM-only queries (``relational``, ``decision``, ``analytics``, ...):
  per-query fixed cost (catalog loads, DataFrame build) and planning are a
  large share and no Python worker runs;
- data-pipeline queries (``dedup``, ``similarity``, ``embedvec``, ...):
  Arrow pandas-UDF kernels, Python workers and persisted frames.

One op is one query: build the DataFrame (``operators.QUERIES[name]``),
force planning, then fetch every result row with ``toPandas``. The timed
loop serves the queries in passes, each in a seeded order. Outputs are checked
after each query, outside its timing: against the DuckDB oracle where the
query has one, else against the first warm-up pass's answer.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

import checks
from base import Workload
from harness import drain_listener, plan_counts, python_io_bytes, stage_metrics

#: operator modules of each query group, and the (start, stride) taken
#: from its headline list; the data-pipeline sample starts at 3 so that it
#: holds a dedup kernel query (``dedup_simhash``) and the k-means family
GROUPS = (
    (("relational", "decision", "analytics", "statsops", "cdcops",
      "lakeops", "streamops", "pipelineops"), 0, 12),
    (("dedup", "similarity", "embedvec", "text", "quality", "curation"), 3, 6),
)

#: untimed passes before the timed loop. After one, each of the next two
#: passes still ran 10-30% faster than the one before it (JIT and Python
#: worker warm-up), so a run's medians depended on how many passes fit
WARMUP_PASSES = 2


def workload_queries() -> list[str]:
    import bench
    from active_query_optimizer_spark.operators import QUERIES

    out: list[str] = []
    for modules, start, stride in GROUPS:
        names = [n for n in bench.HEADLINE if n in QUERIES
                 and QUERIES[n].__module__.rsplit(".", 1)[1] in modules]
        out += names[start::stride]
    return out


class EngineWorkload(Workload):
    def __init__(self, name, ctx) -> None:
        super().__init__(name, ctx)
        self.queries = workload_queries()
        # reference answers: oracles are inputs, made before set-up starts
        self.expected = self._oracles()
        self.records: list[dict[str, float]] = []

    # ---- inputs
    def _oracles(self) -> dict[str, tuple[str, int]]:
        """DuckDB answers (digest, row count), cached beside the data and
        keyed by the oracle SQL, so they are computed once per checkout."""
        from active_query_optimizer_spark.operators import ORACLES

        sqls = {n: ORACLES[n] for n in self.queries if n in ORACLES}
        key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()
        path = os.path.join(self.sf_dir, f"_oracles-{key[:16]}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return {n: tuple(v) for n, v in json.load(fh).items()}
        answers = {n: (checks.digest(c), len(c[2])) for n, c in
                   checks.oracle_results(self.sf_dir, sqls).items()}
        with open(path + ".tmp", "w") as fh:
            json.dump(answers, fh)
        os.replace(path + ".tmp", path)
        return answers

    # ---- one query
    def _run_query(self, name: str, group: str) -> tuple[object, dict]:
        from active_query_optimizer_spark.operators import QUERIES

        spark, tr = self.spark, self.tracer
        spark.sparkContext.setJobGroup(group, name)
        rec: dict[str, float] = {}
        use0 = self.proc.usage()
        t0 = time.perf_counter()
        with tr.op("query", query=name):
            with tr.span("operators.build"):
                df = QUERIES[name](spark, self.sf_dir)
            t1 = time.perf_counter()
            if tr.enabled:
                rec["operators.build_jobs"] = float(len(
                    spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
            c2 = self.clock()
            t2 = time.perf_counter()
            with tr.span("planner.plan"):
                df._jdf.queryExecution().executedPlan()
            t3 = time.perf_counter()
            c3 = self.clock()
            t3b = time.perf_counter()
            with tr.span("execution.exec"):
                pdf = df.toPandas()
            t4 = time.perf_counter()
        use1 = self.proc.usage()
        # query time leaves out the reads made between its steps
        rec.update({"query_s": t4 - t0 - (t2 - t1) - (t3b - t3),
                    "build_s": t1 - t0, "plan_s": t3 - t2, "plan_cpu_s": c3 - c2,
                    "exec_s": t4 - t3b,
                    "cpu_s": use1["cpu_s"] - use0["cpu_s"],
                    "worker_cpu_s": use1["worker_cpu_s"] - use0["worker_cpu_s"],
                    "rows": float(len(pdf))})
        if tr.enabled:
            rec.update(self._attribute(df, group))
        return pdf, rec

    def _attribute(self, df, group: str) -> dict[str, float]:
        """Spark's view of one op, read right after it (traced run)."""
        spark = self.spark
        drain_listener(spark)
        out = stage_metrics(spark, group)
        out.update(plan_counts(df))
        jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        out.update(python_io_bytes(spark, jobs))
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["session.cached_rdds"] = float(len(infos))
        out["session.cached_bytes"] = float(sum(
            r.memSize() + r.diskSize() for r in infos))
        return out

    def _check(self, name: str, pdf) -> None:
        self.samples.attempted += 1
        canon = checks.canonical(pdf)
        got = (checks.digest(canon), len(canon[2]))
        want = self.expected.setdefault(name, got)  # no oracle: warm-up answer
        if got != want:
            self.fail(name, f"answer (digest, rows) {got} != {want}")

    def _op(self, name: str, tag: str) -> dict[str, float] | None:
        try:
            pdf, rec = self._run_query(name, f"perfbench-{tag}-{name}")
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            self.samples.attempted += 1
            self.fail(name, f"{type(e).__name__}: {str(e)[:300]}")
            return None
        self._check(name, pdf)
        self.sample_rss()
        return rec

    # ---- hooks
    def warmup(self) -> None:
        for k in range(WARMUP_PASSES):
            for name in self.queries:
                self._op(name, f"warmup{k}")

    def timed_op(self, index: int) -> None:
        """One query. Queries are served in passes, each over every query
        in a seeded order; a traced run traces every other pass."""
        pass_no, pos = divmod(index, len(self.queries))
        order = list(self.queries)
        random.Random(self.ctx.seed * 1_000_003 + pass_no).shuffle(order)
        self.trace_pass(pass_no % 2 == 0)
        name = order[pos]
        rec = self._op(name, f"p{pass_no}")
        if rec is not None:
            self.record(name, rec["query_s"], rec["plan_cpu_s"], rec["cpu_s"])
            if self.tracer.enabled:
                self.records.append(rec)
        if pos == len(self.queries) - 1:
            self.samples.end_pass()

    def layer_metrics(self) -> dict[str, float]:
        recs, tr = self.records, self.ctx.tracer
        n = len(recs)
        if not n:
            return {}

        def mean(key: str) -> float:
            return sum(r.get(key, 0.0) for r in recs) / n

        out = {k: mean(k) for k in (
            "operators.build_jobs", "planner.exchanges",
            "planner.single_partition_exchanges", "planner.python_nodes",
            "execution.jobs", "execution.stages", "execution.tasks",
            "execution.executor_run_s", "execution.executor_cpu_s",
            "execution.gc_s", "execution.shuffle_read_bytes",
            "execution.shuffle_write_bytes", "execution.shuffle_fetch_wait_s",
            "execution.spill_bytes", "functions.python_bytes_sent",
            "functions.python_bytes_received", "session.cached_bytes",
            "session.cached_rdds")}
        exec_s = sum(r["exec_s"] for r in recs)
        load_s, loads = tr.total("catalog.load_table", under="query")
        out.update({
            "operators.build_s": mean("build_s"),
            "planner.plan_s": mean("plan_s"),
            "execution.exec_s": mean("exec_s"),
            "execution.result_rows": mean("rows"),
            "execution.busy_frac": (sum(r["execution.executor_run_s"]
                                        for r in recs)
                                    / (exec_s * self.ctx.cores)
                                    if exec_s else 0.0),
            "functions.python_worker_cpu_s": mean("worker_cpu_s"),
            "catalog.load_calls": loads / n,
            "catalog.load_s": load_s / n,
        })
        out.update(tr.summary())
        return out

