"""Candidate physical-plan exploration via join-strategy hints.

The Lero component the reference *depends on but does not ship* (its plan
bundles are pre-baked, ``.MISSING_LARGE_BLOBS:1-13``): given a query,
produce k alternative physical plans, execute each, and record
(plan tree, wall time) — the labeled training data for the pairwise ranker.

PostgreSQL-Lero steers its optimizer with cardinality-scaling knobs; the
idiomatic Spark lever is **join-strategy hints** (``BROADCAST`` / ``MERGE``
/ ``SHUFFLE_HASH`` / ``SHUFFLE_REPLICATE_NL``) plus the no-hint Catalyst
default (SURVEY.md §4.1). Catalyst may override a hint, so variants are
deduplicated by structural plan fingerprint before execution
(SURVEY.md §7.3c).

Labeling executes candidates one at a time and wall-clocks them — the same
process shape as the reference's PG labeling runs; this is the *training*
loop, not a query path, and its cost is the whole point (active learning
exists to minimize how often we pay it).
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..workload.extract import extract_aliases
from .featurize import PlanNode, capture_plan, plan_fingerprint, to_pg_json

HINT_STRATEGIES = ("BROADCAST", "MERGE", "SHUFFLE_HASH", "SHUFFLE_REPLICATE_NL")

#: Conf-knob exploration dimensions — the closest Spark analog of Lero's
#: PG cardinality-scaling knobs (the Lero paper steers the native optimizer
#: through its tuning GUCs; Spark's equivalent here is the join-threshold
#: switch plus the runtime-filter switch). Each yields a candidate planned
#: under a temporarily overridden session conf; the override is re-applied
#: when the candidate is executed/labeled. Adaptive execution is not a
#: dimension: candidates are compared on ``sparkPlan``, which is built
#: before ``InsertAdaptiveSparkPlan``, so an AQE-off form plans like the
#: default and deduplicates away (no cached label bundle holds one).
CONF_VARIANTS: tuple[tuple[str, dict[str, str]], ...] = (
    ("nobroadcast", {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
    # runtime bloom-filter join pushdown off: Spark injects a bloom
    # filter from the build side into the probe scan when stats look
    # favorable (a probe-side scan of at least 10 GB by default) —
    # whether that wins is data-dependent, i.e. exactly the kind of knob
    # a learned ranker should see both settings of. A query where the
    # toggle doesn't change the plan dedups away, costing nothing.
    ("nobloom", {"spark.sql.optimizer.runtime.bloomFilter.enabled":
                 "false"}),
)

#: executed-plan join node names (raw Spark vocabulary, pre-PG-mapping)
_JOIN_NODE_NAMES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct")

#: hint variant → Spark join nodes that prove the hint materialized
_HINT_REALIZATION = {
    "broadcast": {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
    "merge": {"SortMergeJoin"},
    "shuffle_hash": {"ShuffledHashJoin"},
    "shuffle_replicate_nl": {"CartesianProduct", "BroadcastNestedLoopJoin"},
}


@contextmanager
def _conf_overrides(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Temporarily override session confs (saved/restored around planning
    and labeling so candidate plans don't leak their knobs)."""
    saved: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def realized_join_strategies(df: DataFrame) -> tuple[str, ...]:
    """Preorder join-node names of the *executed* (AQE-final) plan — the
    ground truth of which strategy Catalyst actually ran (SURVEY §7.3c:
    hints are requests, not commands; AQE can re-plan mid-query)."""
    out: list[str] = []

    def walk(jnode: Any) -> None:
        name = jnode.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(jnode.executedPlan())
            return
        if "QueryStage" in name:
            walk(jnode.plan())
            return
        for jn in _JOIN_NODE_NAMES:
            if name.startswith(jn):
                out.append(jn)
                break
        for i in range(jnode.children().size()):
            walk(jnode.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return tuple(out)


def with_hint(sql: str, strategy: str, aliases: list[str]) -> str:
    """Inject ``/*+ STRATEGY(a1, a2, …) */`` after the first SELECT."""
    if not aliases:
        return sql
    hint = f"/*+ {strategy}({', '.join(aliases)}) */"
    idx = sql.upper().find("SELECT")
    if idx < 0:
        return sql
    end = idx + len("SELECT")
    return f"{sql[:end]} {hint}{sql[end:]}"


@dataclass
class Candidate:
    variant: str
    sql: str
    fingerprint: str
    plan: PlanNode
    exec_time_ms: float | None = None
    #: session-conf overrides this candidate was planned under (must be
    #: re-applied to reproduce the plan at execution time)
    conf: dict[str, str] = field(default_factory=dict)
    #: executed-plan join node names (filled by ``label_query``)
    realized_joins: tuple[str, ...] = ()
    #: whether the requested hint materialized in the executed plan
    #: (None for non-hint variants: default / rotations / conf knobs)
    hint_realized: bool | None = None
    #: whether this label is the timeout penalty rather than a real
    #: measurement (round-12 advice: a variant finishing inside the
    #: cancellation-escalation window can legitimately MEASURE above the
    #: penalty threshold, so magnitude inference misclassifies it; None
    #: on bundles cached before the flag existed)
    timed_out: bool | None = None

    def to_bundle_json(self) -> str:
        return to_pg_json(self.plan, self.exec_time_ms)


def reorder_from_clause(sql: str, rotation: int) -> str:
    """Rotate the comma-FROM table list by ``rotation`` positions — the
    cheap join-ORDER exploration lever (Lero's PG explorer perturbs join
    order via cardinality scaling; Catalyst plans comma-joins largely in
    FROM order below the CBO threshold, so rotating the list yields
    genuinely different join trees). WHERE text is untouched — aliases
    keep their meaning."""
    import re as _re

    m = _re.search(r"\bFROM\s+(.*?)(\s+WHERE\b)", sql,
                   _re.IGNORECASE | _re.DOTALL)
    if not m:
        return sql
    parts = [p.strip() for p in m.group(1).split(",") if p.strip()]
    if len(parts) < 2:
        return sql
    r = rotation % len(parts)
    rotated = parts[r:] + parts[:r]
    return sql[:m.start(1)] + ", ".join(rotated) + sql[m.end(1):]


def plan_variants(spark: SparkSession, sql: str,
                  strategies: tuple[str, ...] = HINT_STRATEGIES,
                  join_order_rotations: int = 2,
                  conf_variants: tuple[tuple[str, dict[str, str]], ...]
                  = CONF_VARIANTS) -> list[Candidate]:
    """Distinct physical-plan candidates for one query: Catalyst default +
    one variant per hint strategy applied to every relation + FROM-order
    rotations (join-order exploration) + session-conf knob variants,
    deduplicated by pre-execution plan fingerprint.

    Duplicate forms repeat no parsing and no py4j walk: a form with the
    text and confs of an earlier one is skipped, each distinct SQL text is
    parsed and analyzed once (conf-knob forms re-plan the default form's
    analyzed plan under their confs), and a form whose ``sparkPlan`` has
    the same result as an earlier form's is dropped before its plan is
    walked. Equal canonical plans have the same node classes, shape,
    output widths and scans, and never-run plans read ``numOutputRows``
    0, so such a form could only repeat an earlier fingerprint."""
    aliases = sorted(extract_aliases(sql))
    seen: set[str] = set()
    out: list[Candidate] = []
    forms: list[tuple[str, str, dict[str, str]]] = (
        [("default", sql, {})] +
        [(s.lower(), with_hint(sql, s, aliases), {}) for s in strategies] +
        [(f"rot{r}", reorder_from_clause(sql, r), {})
         for r in range(1, join_order_rotations + 1)] +
        [(name, sql, conf) for name, conf in conf_variants])
    #: (SQL text, confs) of the forms met so far: a repeat (e.g. a rotation
    #: by the table count) plans exactly as its first occurrence did
    met: set[tuple[str, tuple[tuple[str, str], ...]]] = set()
    #: SQL text -> its analyzed plan
    analyzed: dict[str, Any] = {}
    #: semanticHash -> sparkPlans of the forms walked so far
    walked: dict[int, list[Any]] = {}
    for name, text, conf in forms:
        form = (text, tuple(sorted(conf.items())))
        if form in met:
            continue
        met.add(form)
        try:
            with _conf_overrides(spark, conf):
                df = _planned_frame(spark, text, analyzed)
                jplan = df._jdf.queryExecution().sparkPlan()
                key = jplan.semanticHash()
                if any(jplan.sameResult(p) for p in walked.get(key, ())):
                    continue
                tree = capture_plan(df, executed=False)
        except Exception:
            continue  # hint form Catalyst refuses outright
        walked.setdefault(key, []).append(jplan)
        fp = plan_fingerprint(tree)
        if fp in seen:
            continue
        seen.add(fp)
        out.append(Candidate(variant=name, sql=text, fingerprint=fp,
                             plan=tree, conf=conf))
    return out


def _planned_frame(spark: SparkSession, text: str,
                   analyzed: dict[str, Any]) -> DataFrame:
    """A frame of ``text`` that plans under the session's current confs:
    parsed and analyzed on first sight, afterwards a fresh
    ``QueryExecution`` over the cached analyzed plan (the conf knobs act
    in optimization and physical planning, not in analysis)."""
    plan = analyzed.get(text)
    if plan is None:
        df = spark.sql(text)
        analyzed[text] = df._jdf.queryExecution().analyzed()
        return df
    return DataFrame(spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, plan), spark)


#: a timed-out candidate is labeled at ``penalty * timeout`` ms — the
#: Lero-style treatment (PG labeling runs under ``statement_timeout``):
#: the ranker still learns "this plan is bad", and the labeling loop is
#: never hostage to one pathological variant (a SHUFFLE_REPLICATE_NL
#: hint can turn an equi-join into a near-cartesian plan whose runtime
#: is unbounded relative to its siblings)
LABEL_TIMEOUT_PENALTY = 2.0


class ZombieExecutionError(RuntimeError):
    """A labeled action survived repeated job-group cancellation AND
    ``cancelAllJobs`` — the backing computation no longer responds to
    Spark's task-interrupt machinery (observed in the wild: one round-6
    labeling variant pinned a 3-task stage for 18+ minutes straight
    through its 30 s watchdog). The only reliable recovery is tearing the
    session down; the caller owns that decision."""


#: extra time the watchdog grants the cancellation machinery before
#: declaring the action a zombie: 3 group-cancels 5 s apart (AQE submits
#: follow-on jobs under the same group — a single cancel only kills jobs
#: already running) + one cancelAllJobs with a 30 s drain
_CANCEL_RETRIES = 3
_CANCEL_RETRY_WAIT_S = 5.0
_CANCEL_ALL_WAIT_S = 30.0


def _time_execution(df: DataFrame,
                    timeout_s: float | None = None) -> float | None:
    """Wall-clock ``collect()`` in ms; with ``timeout_s`` set, the action
    runs in a worker thread under its own job group and the caller
    cancels the group at the deadline (``interruptOnCancel`` so running
    tasks die too) — returns ``None`` on timeout. Cancellation escalates
    (re-cancel for AQE follow-on jobs, then ``cancelAllJobs``); an action
    that survives the full escalation raises ``ZombieExecutionError``
    instead of holding the labeling loop hostage."""
    if timeout_s is None:
        t0 = time.perf_counter()
        df.collect()
        return (time.perf_counter() - t0) * 1000.0
    sc = df.sparkSession.sparkContext
    group = f"aqo-label-{time.monotonic_ns()}"
    result: dict[str, object] = {}

    def run() -> None:
        # job groups are thread-local: set it in the submitting thread
        sc.setJobGroup(group, "candidate labeling", interruptOnCancel=True)
        t0 = time.perf_counter()
        try:
            df.collect()
            result["ms"] = (time.perf_counter() - t0) * 1000.0
        except Exception as e:  # noqa: BLE001 - classified by the caller
            result["err"] = e
            result["elapsed_s"] = time.perf_counter() - t0

    worker = threading.Thread(target=run, daemon=True,
                              name=f"label-exec-{group}")
    worker.start()
    worker.join(timeout_s)
    if worker.is_alive():
        for _ in range(_CANCEL_RETRIES):
            sc.cancelJobGroup(group)
            worker.join(_CANCEL_RETRY_WAIT_S)
            if not worker.is_alive():
                break
        if worker.is_alive():
            sc.cancelAllJobs()
            worker.join(_CANCEL_ALL_WAIT_S)
        if worker.is_alive():
            raise ZombieExecutionError(
                f"labeled action ignored {_CANCEL_RETRIES} group cancels "
                f"and cancelAllJobs (>{timeout_s}s + escalation)")
        if "ms" in result:  # finished in the cancel window — a real label
            return float(result["ms"])  # type: ignore[arg-type]
        return None  # cancelled at the deadline — the penalty path
    if "err" in result:
        if float(result.get("elapsed_s", 0.0)) < timeout_s:  # type: ignore[arg-type]
            raise result["err"]  # type: ignore[misc] # real execution error
        return None
    return float(result["ms"])  # type: ignore[arg-type]


def probe_default(spark: SparkSession, sql: str,
                  probe_s: float) -> float | None:
    """Time the DEFAULT (hint-free) plan of ``sql`` under a ``probe_s``
    deadline — ``None`` on timeout. The cheap admission test for
    deadline-scaled labeling (round-10 verdict #2): a query whose default
    saturates a fraction of the labeling deadline will saturate EVERY
    candidate at the full deadline with high probability, producing an
    all-penalty bundle that carries zero ranking signal; probing costs
    one bounded execution instead of ``variants × timeout``. Shares
    ``_time_execution``'s cancellation escalation, so a pathological
    default raises ``ZombieExecutionError`` like any labeled variant."""
    return _time_execution(spark.sql(sql), probe_s)


def label_query(spark: SparkSession, sql: str,
                strategies: tuple[str, ...] = HINT_STRATEGIES,
                timeout_s: float | None = None) -> list[Candidate]:
    """Execute every distinct variant of ``sql``; attach wall time and the
    AQE-final executed plan (with actual ``numOutputRows``) to each
    candidate — one labeled bundle, the reference's
    ``qid#####planJSON…`` line content.

    With ``timeout_s`` set, each candidate's execution is cancelled at
    the deadline and labeled ``LABEL_TIMEOUT_PENALTY * timeout_s`` ms
    (see the penalty note above) with its *pre-execution* plan — the
    labeling loop's wall clock is bounded by
    ``variants x timeout`` no matter how pathological a variant plans.

    Post-execution discipline (SURVEY §7.3c): hints are requests — the
    *realized* strategy is read back from the executed plan
    (``realized_joins`` / ``hint_realized``), and variants whose executed
    plan collapsed into an already-labeled one are dropped, so a bundle
    never contains two labels for the same physical plan."""
    labeled: list[Candidate] = []
    seen_realized: set[str] = set()
    for cand in plan_variants(spark, sql, strategies):
        with _conf_overrides(spark, cand.conf):
            df = spark.sql(cand.sql)
            ms = _time_execution(df, timeout_s)
            if ms is None:  # timed out — penalty label, pre-exec plan
                labeled.append(Candidate(
                    variant=cand.variant, sql=cand.sql,
                    fingerprint=cand.fingerprint, plan=cand.plan,
                    exec_time_ms=LABEL_TIMEOUT_PENALTY * timeout_s * 1000.0,
                    conf=cand.conf, timed_out=True))
                continue
            executed = capture_plan(df, executed=True)
            realized = realized_join_strategies(df)
        fp = plan_fingerprint(executed)
        if fp in seen_realized:
            continue  # hint requested, Catalyst/AQE ran the same plan anyway
        seen_realized.add(fp)
        expect = _HINT_REALIZATION.get(cand.variant)
        labeled.append(Candidate(
            variant=cand.variant, sql=cand.sql,
            fingerprint=fp, plan=executed, exec_time_ms=ms, conf=cand.conf,
            realized_joins=realized,
            hint_realized=(None if expect is None
                           else bool(expect.intersection(realized))),
            timed_out=False))
    return labeled


def label_workload(spark: SparkSession, queries: list[tuple[str, str]],
                   strategies: tuple[str, ...] = HINT_STRATEGIES,
                   timeout_s: float | None = None,
                   ) -> list[tuple[str, list[Candidate]]]:
    """Label a list of ``(qid, sql)`` — returns bundles in workload order.
    Sequential by design: each candidate must own the cluster while timed,
    concurrent labeling would corrupt the labels."""
    return [(qid, label_query(spark, sql, strategies, timeout_s))
            for qid, sql in queries]


def bundles_to_lines(bundles: list[tuple[str, list["Candidate"]]]) -> list[str]:
    """Reference bundle-file lines: ``qid#####plan1#####plan2…``
    (``Lero/create_training_file.py:4-15``)."""
    sep = "#####"
    return [sep.join([qid] + [c.to_bundle_json() for c in cands])
            for qid, cands in bundles if cands]
