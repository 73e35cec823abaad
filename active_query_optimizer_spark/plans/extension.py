"""Learned plan choice through an injected Catalyst extension.

The reference's baseline description names "Catalyst optimizer extensions"
as the Spark-native steering mechanism; hint rewriting (``plans/explore``)
is the portable fallback. This module is the extension path: a compiled
``SparkSessionExtensionsProvider`` (``jvmext/src/org/aqo/spark/
LearnedJoinExtensions.java``) injects a config-gated optimizer rule, and
the Python side steers it per-query through ``spark.learned.join.mode``:

- ``off``            — Catalyst untouched;
- ``strip-hints``    — user join hints cleared (the learned optimizer owns
  strategy choice);
- ``force-broadcast`` / ``force-merge`` / ``force-shuffle-hash`` — the
  named strategy requested for the build side of hint-less joins (the
  learned decision applied without touching SQL, same strategy space as
  the hint explorer).

The extension must be loaded at session creation
(``spark.sql.extensions=org.aqo.spark.LearnedJoinExtensions`` with the jar
on the driver classpath — ``configure_builder`` does both); mode flips are
then per-query conf changes, no session restart. This is the same
decision→knob flow as Lero steering PostgreSQL through its GUCs.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import Row, SparkSession

from ..model.lero import LeroModel
from .explore import Candidate, _conf_overrides
from .featurize import capture_plan, plan_fingerprint

EXTENSION_CLASS = "org.aqo.spark.LearnedJoinExtensions"
MODE_KEY = "spark.learned.join.mode"
MODES = ("off", "strip-hints", "force-broadcast", "force-merge",
         "force-shuffle-hash")
#: per-join steering conf (takes precedence over MODE_KEY in the rule):
#: "idx:strategy,..." — indices number Join nodes bottom-up (transformUp
#: order), matching the reference's per-join-operator candidate granularity
#: (Lero/feature.py:12 encodes Hash/Merge/Nested-Loop per node).
MODES_KEY = "spark.learned.join.modes"
PER_JOIN_STRATEGIES = ("broadcast", "merge", "shuffle-hash")


def extension_jar() -> str | None:
    """Path of the compiled extension jar, or None if not built."""
    jar = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))),
        "jvmext", "aqo-spark-extension.jar")
    return jar if os.path.exists(jar) else None


def configure_builder(builder: SparkSession.Builder,
                      jar: str | None = None) -> SparkSession.Builder:
    """Add the extension class + jar to a SparkSession builder (must run
    before ``getOrCreate`` — extensions only load at session creation)."""
    jar = jar or extension_jar()
    if jar is None:
        raise FileNotFoundError(
            "extension jar not built — run jvmext/build.sh")
    return (builder
            .config("spark.sql.extensions", EXTENSION_CLASS)
            .config("spark.jars", jar)
            .config("spark.driver.extraClassPath", jar))


def is_extension_loaded(spark: SparkSession) -> bool:
    """True when the injected rule is active in this session."""
    try:
        return EXTENSION_CLASS in (
            spark.conf.get("spark.sql.extensions", "") or "")
    except Exception:
        return False


def plan_mode_candidates(spark: SparkSession, sql: str,
                         modes: tuple[str, ...] = MODES) -> list[Candidate]:
    """One candidate per extension mode (planned, not executed),
    deduplicated by plan fingerprint — the extension-path analog of
    ``plans.explore.plan_variants``."""
    seen: set[str] = set()
    out: list[Candidate] = []
    for mode in modes:
        conf = {MODE_KEY: mode}
        with _conf_overrides(spark, conf):
            df = spark.sql(sql)
            tree = capture_plan(df, executed=False)
        fp = plan_fingerprint(tree)
        if fp in seen:
            continue
        seen.add(fp)
        out.append(Candidate(variant=f"ext:{mode}", sql=sql,
                             fingerprint=fp, plan=tree, conf=conf))
    return out


def count_joins(spark: SparkSession, sql: str) -> int:
    """Number of Join nodes in the optimized logical plan — the index
    space ``spark.learned.join.modes`` steers over."""
    jplan = spark.sql(sql)._jdf.queryExecution().optimizedPlan()

    def walk(n) -> int:
        hits = 1 if n.nodeName() == "Join" else 0
        for i in range(n.children().size()):
            hits += walk(n.children().apply(i))
        return hits

    return walk(jplan)


def per_join_candidates(spark: SparkSession, sql: str,
                        strategies: tuple[str, ...] = PER_JOIN_STRATEGIES,
                        seen: set[str] | None = None) -> list[Candidate]:
    """One candidate per (join index, strategy) single deviation — the
    per-join analog of ``plan_mode_candidates``, matching the granularity
    of the reference's candidate bundles (strategy chosen per join
    operator). Single deviations keep the space linear (n_joins × 3) while
    still letting the ranker pick e.g. broadcast for join 0 and merge for
    join 1 across *separate* candidates; the realized-plan fingerprint
    dedups assignments Catalyst maps to the same physical plan."""
    seen = set() if seen is None else seen
    out: list[Candidate] = []
    n = count_joins(spark, sql)
    for i in range(n):
        for s in strategies:
            spec = f"{i}:{s}"
            conf = {MODES_KEY: spec}
            with _conf_overrides(spark, conf):
                df = spark.sql(sql)
                tree = capture_plan(df, executed=False)
            fp = plan_fingerprint(tree)
            if fp in seen:
                continue
            seen.add(fp)
            out.append(Candidate(variant=f"ext-join:{spec}", sql=sql,
                                 fingerprint=fp, plan=tree, conf=conf))
    return out


def choose_mode(spark: SparkSession, sql: str, model: LeroModel,
                modes: tuple[str, ...] = MODES,
                per_join: bool = True,
                ) -> tuple[Candidate, list[tuple[Candidate, float]]]:
    """Score each extension mode's plan with the tree-conv ranker; return
    the predicted-cheapest candidate plus all scored ones. With
    ``per_join`` (default) the mode space is enlarged from the coarse
    whole-plan modes to per-join-index strategy deviations."""
    cands = plan_mode_candidates(spark, sql, modes)
    if per_join:
        have = {c.fingerprint for c in cands}
        cands.extend(per_join_candidates(spark, sql, seen=have))
    if not cands:
        raise ValueError("query produced no plannable extension candidates")
    assert model.fg is not None
    trees = [model.fg.transform_tree(c.plan) for c in cands]
    scores = model.predict(trees)
    best = int(np.argmin(scores))
    return cands[best], list(zip(cands, [float(s) for s in scores]))


def run_optimized(spark: SparkSession, sql: str,
                  model: LeroModel) -> list[Row]:
    """Execute ``sql`` under the learned-best extension mode and return its
    rows, collected inside the mode's conf context (a lazy frame returned
    from it would run under the session's mode instead)."""
    best, _ = choose_mode(spark, sql, model)
    with _conf_overrides(spark, best.conf):
        return spark.sql(best.sql).collect()
