"""The ``lero`` workload: the paper's learned-optimizer loop.

Set-up registers the views, harvests column statistics
(``stats.harvester``) and generates a fixed pool of ``SELECT COUNT(*)``
join queries (``workload.generate``). The untimed warm-up runs the
serve set with Catalyst's default plans (no model exists yet), which
records each query's reference answer, labels ``SEED_LABELS`` pool
queries, trains the first model and serves the serve set
``WARMUP_PASSES`` times with it.

Each timed op is one serving pass over the serve set, in a seeded order.
Select is the program's serving path, ``pipelines.optimize.choose_plan``:
plan enumeration (``plans.explore.plan_variants``), featurization
(``FeatureGenerator.transform_tree``), scoring with the current model
(``LeroModel.predict``) and argmin. The chosen candidate then runs under
its session confs (``plans.explore._conf_overrides``, as labeling runs
it) and its rows are fetched. ``run_optimized`` is not used: it leaves the
conf context before the caller executes the returned frame, so a
conf-variant pick would run under the default confs.

The traced run ends with one refresh, the loop's other half: embed the
pool's default plans (``model.infer.plan_embeddings``), pick the next
unlabeled query by coreset (``select.coreset``), label it under a
per-candidate deadline (``plans.explore.label_query``) and retrain from
every bundle labeled so far (``model.lero.train_pairwise_from_bundles``).
The untraced run leaves it out: no end-to-end metric covers it, and which
query the coreset picks depends on measured labels, so a refresh inside
the timed loop would change the served model, and with it the timed
plans, from run to run. Refresh cost is ``lero.refresh_s`` and the layer
metrics under it; the warm-up's labeling and training count in
``setup_s``.

The serve set recurs from pass to pass, as a production workload's
queries do. ``--seed`` sets the serving order only: the pool, the first
labeled queries, and the coreset and model seeds are fixed, so every run
serves the same queries and its medians compare across seeds.
"""

from __future__ import annotations

import random
import time

import numpy as np

from active_query_optimizer_spark.pipelines.optimize import choose_plan
from active_query_optimizer_spark.plans.explore import (
    _conf_overrides, label_query, plan_variants)
from base import Workload
from harness import drain_listener, plan_counts, stage_metrics

#: pool generator seed and size; the serve set is the pool's first queries
POOL_SEED = 7
#: seed of the first labels' order, the coreset and the model
LOOP_SEED = 0
POOL_SIZE = 8
SERVE = POOL_SIZE
#: untimed serving passes in the warm-up. With none, the timed passes ran
#: up to a half faster from the first to the fifth (JIT warm-up)
WARMUP_PASSES = 2
#: labeled in the warm-up, and per refresh
SEED_LABELS = 2
PICK = 1
#: per-candidate labeling deadline; a timed-out candidate is labeled with
#: the explorer's penalty and counted in ``explore.label_timeouts``
LABEL_DEADLINE_S = 1.0
EPOCHS = 4
#: join hints explored when serving and labeling. SHUFFLE_REPLICATE_NL is
#: left out: it turns an equi-join into a cross product, and a model
#: trained on a few labels picked it for a lineitem join whose served
#: plan then ran for over ten minutes (serving has no deadline)
STRATEGIES = ("BROADCAST", "MERGE", "SHUFFLE_HASH")
#: the tables the generator's seed workload joins
GEN_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem")


class LeroWorkload(Workload):
    def __init__(self, name, ctx) -> None:
        super().__init__(name, ctx)
        self.pool: list[tuple[str, str]] = []
        self.default_plans: dict[str, str] = {}
        self.answers: dict[str, list] = {}
        self.bundles: dict[str, list] = {}
        self.model = None
        # label and training records of the refresh (not the warm-up)
        self.refreshing = False
        self.label_log: list[dict] = []
        self.train_log: list[tuple[float, int]] = []   # (seconds, pairs)
        self.serve_log: list[dict] = []
        self.refresh_log: list[dict] = []

    # ---- set-up
    def setup_once(self) -> None:
        from active_query_optimizer_spark.plans.featurize import to_pg_json
        from active_query_optimizer_spark.stats.harvester import harvest_range_dict
        from active_query_optimizer_spark.workload.extract import mine_conditions
        from active_query_optimizer_spark.workload.generate import (
            SEED_WORKLOAD, generate_workload)

        # harvest only the columns the seed workload filters on, as the
        # reference's ``get_filter_columns_range`` does
        filters: dict[str, set[str]] = {}
        for sql in SEED_WORKLOAD:
            for table, col in mine_conditions(sql)[1]:
                filters.setdefault(table, set()).add(col)
        t0 = time.perf_counter()
        ranges = harvest_range_dict(self.spark, self.sf_dir, GEN_TABLES,
                                    filter_columns=filters)
        t1 = time.perf_counter()
        rows = generate_workload(self.spark, ranges, num_sql=POOL_SIZE,
                                 seed=POOL_SEED).collect()
        t2 = time.perf_counter()
        self.layer["stats.harvest_s"] = t1 - t0
        self.layer["workload.generate_s"] = t2 - t1
        self.pool = [(f"q{r['id']}", r["sql"]) for r in
                     sorted(rows, key=lambda r: r["id"])]
        for qid, sql in self.pool:
            cands = plan_variants(self.spark, sql, strategies=(),
                                  join_order_rotations=0, conf_variants=())
            self.default_plans[qid] = to_pg_json(cands[0].plan)

    def warmup(self) -> None:
        for qid, sql in self.pool[:SERVE]:
            self.samples.attempted += 1
            try:
                self.answers[qid] = self.spark.sql(sql).collect()
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                self.fail(qid, f"{type(e).__name__}: {str(e)[:300]}")
        first = [q for q, _ in self.pool]
        random.Random(LOOP_SEED).shuffle(first)
        self._label(first[:SEED_LABELS])
        self._train()
        for _ in range(WARMUP_PASSES):  # serve untimed with the first model
            for _, sql in self.pool[:SERVE]:
                chosen, _ = choose_plan(self.spark, sql, self.model, STRATEGIES)
                with _conf_overrides(self.spark, chosen.conf):
                    self.spark.sql(chosen.sql).collect()

    # ---- the loop's pieces
    def _label(self, qids: list[str]) -> None:
        sql = dict(self.pool)
        for qid in qids:
            t0 = time.perf_counter()
            with self.tracer.span("explore.label_query", qid=qid):
                cands = label_query(self.spark, sql[qid], STRATEGIES,
                                    timeout_s=LABEL_DEADLINE_S)
            self.bundles[qid] = cands
            if self.refreshing:
                self.label_log.append({
                    "label_s": time.perf_counter() - t0,
                    "timeouts": sum(bool(c.timed_out) for c in cands),
                    "realized": [c.hint_realized for c in cands
                                 if c.hint_realized is not None]})

    def _train(self) -> None:
        from active_query_optimizer_spark.model.lero import (
            all_pairs, train_pairwise_from_bundles)

        bundles = [(qid, [(c.plan, c.exec_time_ms) for c in cands])
                   for qid, cands in sorted(self.bundles.items())
                   if len(cands) >= 2]
        pairs = sum(len(all_pairs(cands)) for _, cands in bundles)
        t0 = time.perf_counter()
        with self.tracer.span("model.train", pairs=pairs):
            self.model = train_pairwise_from_bundles(
                bundles, epochs=EPOCHS, seed=LOOP_SEED)
        if self.refreshing:
            self.train_log.append((time.perf_counter() - t0, pairs))

    def _serve(self, qid: str, sql: str, group: str) -> None:
        spark, tr = self.spark, self.tracer
        spark.sparkContext.setJobGroup(group, qid)
        use0 = self.proc.usage()
        c0 = tr.counters.get("featurize.capture_calls", 0.0) if tr.enabled else 0.0
        cpu0 = self.clock()
        t0 = time.perf_counter()
        with tr.op("serve", qid=qid):
            with tr.span("pipelines.choose_plan"):
                chosen, scored = choose_plan(spark, sql, self.model, STRATEGIES)
            t_sel = time.perf_counter()
            cpu1 = self.clock()
            t_exec = time.perf_counter()
            with tr.span("execution.exec"), _conf_overrides(spark, chosen.conf):
                df = spark.sql(chosen.sql)
                rows = df.collect()
            t1 = time.perf_counter()
            scores = sorted(score for _, score in scored)
            rec = {"qid": qid, "variant": chosen.variant,
                   "margin": scores[1] - scores[0] if len(scores) > 1 else 0.0,
                   "candidates": len(scored), "select_cpu_s": cpu1 - cpu0,
                   "exec_s": t1 - t_exec, "rows": len(rows),
                   "traced": tr.enabled}
            rec.update(self._regret(qid, chosen.variant))
            tr.note(**{k: rec[k] for k in ("variant", "margin")},
                    label_ms=rec.get("label_ms"), regret_s=rec.get("regret_s"))
        use1 = self.proc.usage()
        # query time leaves out the clock read between select and execution
        self.record(qid, t1 - t0 - (t_exec - t_sel), rec["select_cpu_s"],
                    use1["cpu_s"] - use0["cpu_s"])
        if tr.enabled:
            rec["forms"] = tr.counters.get("featurize.capture_calls", 0.0) - c0
            drain_listener(spark)
            rec.update(stage_metrics(spark, group))
            rec.update(plan_counts(df))
        self.serve_log.append(rec)
        self.samples.attempted += 1
        if rows != self.answers.get(qid):
            self.fail(qid, f"{chosen.variant} returned {rows[:3]} "
                      f"!= default {self.answers.get(qid, [])[:3]}")

    def _regret(self, qid: str, variant: str) -> dict:
        """The chosen candidate's label and its regret against the best
        label, when the query has been labeled and kept that variant."""
        labels = {c.variant: c.exec_time_ms for c in self.bundles.get(qid, ())}
        if variant not in labels:
            return {}
        best = min(labels.values())
        return {"label_ms": labels[variant],
                "regret_s": (labels[variant] - best) / 1e3,
                "top1": labels[variant] == best}

    def _refresh(self) -> None:
        from active_query_optimizer_spark.model.infer import plan_embeddings
        from active_query_optimizer_spark.select.coreset import coreset_select

        spark, tr = self.spark, self.tracer
        unlabeled = [q for q, _ in self.pool if q not in self.bundles]
        use0 = self.proc.usage()
        t0 = time.perf_counter()
        with tr.op("refresh"):
            picked: list[str] = []
            rec = {"pool": len(unlabeled), "embed_s": 0.0, "coreset_s": 0.0}
            if unlabeled:
                with tr.span("model.plan_embeddings"):
                    df = spark.createDataFrame(
                        [(q, self.default_plans[q]) for q, _ in self.pool],
                        "qid string, plan_json string")
                    emb = {r["qid"]: np.asarray(r["embedding"]) for r in
                           plan_embeddings(df, self.model).collect()}
                t1 = time.perf_counter()
                labeled = np.stack([emb[q] for q in self.bundles]) \
                    if self.bundles else None
                if labeled is not None:
                    norms = np.linalg.norm(labeled, axis=1, keepdims=True)
                    labeled = labeled / np.where(norms == 0, 1.0, norms)
                with tr.span("select.coreset_select"):
                    cand = spark.createDataFrame(
                        [(q, emb[q].tolist()) for q in unlabeled],
                        "qid string, embedding array<double>")
                    picked = [r["qid"] for r in coreset_select(
                        cand, k_per_bucket=PICK, labeled=labeled,
                        id_col="qid", vec_col="embedding", num_groups=1,
                        seed=LOOP_SEED).collect()][:PICK]
                t2 = time.perf_counter()
                rec.update(embed_s=t1 - t0, coreset_s=t2 - t1)
                self._label(picked)
                self._train()
        t3 = time.perf_counter()
        use1 = self.proc.usage()
        rec.update(picked=len(picked), refresh_s=t3 - t0,
                   refresh_cpu_s=use1["cpu_s"] - use0["cpu_s"])
        self.refresh_log.append(rec)

    # ---- hooks
    def timed_op(self, index: int) -> None:
        """One serving pass over the serve set in a seeded order; a traced
        run traces every other pass."""
        serve = list(self.pool[:SERVE])
        random.Random(self.ctx.seed * 1_000_003 + index).shuffle(serve)
        self.trace_pass(index % 2 == 0)
        for qid, sql in serve:
            try:
                self._serve(qid, sql, f"perfbench-p{index}-{qid}")
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                self.samples.attempted += 1
                self.fail(qid, f"{type(e).__name__}: {str(e)[:300]}")
        self.samples.end_pass()

    def finish(self) -> None:
        """A traced run ends with one traced refresh."""
        if not self.ctx.tracer.enabled:
            return
        self.trace_pass(True)
        self.refreshing = True
        self.samples.attempted += 1
        try:
            self._refresh()
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            self.fail("refresh", f"{type(e).__name__}: {str(e)[:300]}")

    def layer_metrics(self) -> dict[str, float]:
        tr = self.ctx.tracer
        serves = [r for r in self.serve_log if r["traced"]]
        n = len(serves)
        if not n:
            return {}
        refreshes, labels = self.refresh_log, self.label_log
        nr = max(len(refreshes), 1)

        def mean(rows, key):
            vals = [r[key] for r in rows if key in r]
            return sum(vals) / len(vals) if vals else 0.0

        enum_s, _ = tr.total("explore.plan_variants", under="serve")
        cap_s, cap_n = tr.total("featurize.capture_plan", under="serve")
        score_s, _ = tr.total("model.predict", under="serve")
        train_s = sum(t for t, _ in self.train_log)
        train_pairs = sum(p for _, p in self.train_log)
        scored = sum(r["candidates"] for r in serves)
        forms = sum(r.get("forms", 0.0) for r in serves)
        realized = [x for r in labels for x in r["realized"]]
        judged = [r for r in serves if "top1" in r]
        exec_s = sum(r["exec_s"] for r in serves)
        out = {
            "explore.enumerate_s": enum_s / n,
            "explore.forms": forms / n,
            "explore.candidates": scored / n,
            "explore.distinct_frac": scored / forms if forms else 0.0,
            "explore.label_s": mean(labels, "label_s"),
            "explore.label_timeouts": float(sum(r["timeouts"] for r in labels)),
            "explore.hint_realized_frac": (sum(realized) / len(realized)
                                           if realized else 0.0),
            "featurize.capture_s": cap_s / n,
            "featurize.capture_calls": cap_n / n,
            "featurize.plan_nodes": (tr.counters.get("featurize.plan_nodes", 0.0)
                                     / max(tr.counters.get(
                                         "featurize.capture_calls", 0.0), 1.0)),
            "model.score_s": score_s / n,
            "model.plans_scored": scored / n,
            "model.plans_per_s": scored / score_s if score_s else 0.0,
            "model.train_s": train_s / nr,
            "model.train_pairs": train_pairs / nr,
            "model.pairs_epochs_per_s": (train_pairs * EPOCHS / train_s
                                         if train_s else 0.0),
            "model.embed_s": mean(refreshes, "embed_s"),
            "model.top1_frac": (sum(r["top1"] for r in judged) / len(judged)
                                if judged else 0.0),
            "model.regret_s": mean(judged, "regret_s"),
            "select.coreset_s": mean(refreshes, "coreset_s"),
            "select.pool": mean(refreshes, "pool"),
            "select.picked": mean(refreshes, "picked"),
            "lero.refresh_s": mean(refreshes, "refresh_s"),
            "lero.refresh_cpu_s": mean(refreshes, "refresh_cpu_s"),
            "execution.exec_s": exec_s / n,
            "execution.result_rows": mean(serves, "rows"),
            "execution.busy_frac": (sum(r.get("execution.executor_run_s", 0.0)
                                        for r in serves)
                                    / (exec_s * self.ctx.cores)
                                    if exec_s else 0.0),
        }
        for k in ("execution.jobs", "execution.stages", "execution.tasks",
                  "execution.executor_run_s", "execution.executor_cpu_s",
                  "execution.gc_s", "execution.shuffle_read_bytes",
                  "execution.shuffle_write_bytes",
                  "execution.shuffle_fetch_wait_s", "execution.spill_bytes",
                  "planner.exchanges", "planner.single_partition_exchanges",
                  "planner.python_nodes"):
            out[k] = mean(serves, k)
        loads = tr.counters.get("catalog.load_calls", 0.0)
        out["catalog.load_calls"] = loads / n
        out.update(tr.summary())
        return out
