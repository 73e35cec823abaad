"""Learned plan choice at query time — the system's user-facing payoff.

The reference's test path scores each query's candidate plans and executes
the argmin (``Lero/lero_test.py:82-112``); this module is that loop as an
API: given SQL and a trained ranker, enumerate Spark hint variants
(``plans/explore``), featurize each *un-executed* physical plan (operator
types, relations and output widths; nothing has run, so every node's
``numOutputRows`` reads 0), score with the tree-conv net, and
return/execute the winner.

Train/serve skew, left open: labels carry the executed plan's actual row
counts (``plans.explore.label_query``) while served plans carry
``rows = 0``, so the row feature the ranker learned from is constant at
serve time. Closing it (estimated rows at serve time, or rows dropped from
training) changes which plans are picked, so it needs its own A/B.

Cost of choosing, as measured by the benchmark's ``lero`` workload
(``perfbench/``: sf0.01, an 8-query generated pool, three join hints,
4-core host): a median of about 110 ms of client CPU per query (the
Python thread plus the JVM thread serving its py4j calls), almost all of
it plan enumeration — parsing and analyzing each distinct SQL text,
optimizing and planning each form, and walking each distinct plan over
py4j; featurization and the net forward take about 6 ms. Unlike the labeling path,
nothing here executes more than the chosen plan.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Row, SparkSession

from ..model.lero import LeroModel
from ..plans.explore import (HINT_STRATEGIES, Candidate, _conf_overrides,
                             plan_variants)


def choose_plan(spark: SparkSession, sql: str, model: LeroModel,
                strategies: tuple[str, ...] = HINT_STRATEGIES
                ) -> tuple[Candidate, list[tuple[Candidate, float]]]:
    """Score every distinct variant of ``sql``; return the predicted
    cheapest (deterministic tie-break on variant order) plus all scored
    candidates.

    The candidate space is hints + rotations + conf knobs — and, when the
    compiled Catalyst extension is loaded in this session, the injected
    rule's whole-plan modes AND its per-join-index strategy deviations
    (``plans/extension.py``, the reference's per-join-operator
    granularity), deduplicated against the hint variants by plan
    fingerprint: one ranker, every steering mechanism."""
    cands = plan_variants(spark, sql, strategies)
    from ..plans import extension as _ext
    if _ext.is_extension_loaded(spark):
        seen = {c.fingerprint for c in cands}
        for c in (_ext.plan_mode_candidates(spark, sql)
                  + _ext.per_join_candidates(spark, sql, seen=set(seen))):
            if c.fingerprint not in seen:
                seen.add(c.fingerprint)
                cands.append(c)
    if not cands:
        raise ValueError("query produced no plannable variants")
    assert model.fg is not None
    trees = [model.fg.transform_tree(c.plan) for c in cands]
    scores = model.predict(trees)
    order = int(np.argmin(scores))
    return cands[order], list(zip(cands, [float(s) for s in scores]))


def run_optimized(spark: SparkSession, sql: str, model: LeroModel,
                  strategies: tuple[str, ...] = HINT_STRATEGIES) -> list[Row]:
    """Execute ``sql`` under the learned-best join-strategy hints (and the
    candidate's session-conf knobs, when the winner is a conf variant) and
    return its rows. The rows are collected inside the conf context:
    planning is lazy, so a frame returned from it would plan and run under
    the session's default confs instead of the winner's."""
    best, _ = choose_plan(spark, sql, model, strategies)
    with _conf_overrides(spark, best.conf):
        return spark.sql(best.sql).collect()
