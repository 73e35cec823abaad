"""Equality of ``plans.explore.plan_variants`` with the straightforward
enumeration it replaced.

``_reference_plan_variants`` below is that earlier form, kept here as the
test oracle only: every form runs ``spark.sql`` under its confs and has
its ``sparkPlan`` walked over py4j, then duplicates are dropped by
fingerprint. It still explores the AQE-off conf knob that the explorer no
longer lists, so the comparison also shows that knob never yields a
candidate. The product enumeration shares parsing/analysis between forms
and skips the walk for forms whose plan has the same result as an earlier
one; its candidate lists must be identical, field for field.
"""

from __future__ import annotations

from active_query_optimizer_spark.plans import explore as EX
from active_query_optimizer_spark.plans.featurize import (
    capture_plan, plan_fingerprint, to_pg_json)
from active_query_optimizer_spark.workload.extract import extract_aliases
from tests.conftest import SF_SMALL

_REFERENCE_CONF_VARIANTS = (
    ("nobroadcast", {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
    ("noaqe", {"spark.sql.adaptive.enabled": "false"}),
    ("nobloom", {"spark.sql.optimizer.runtime.bloomFilter.enabled":
                 "false"}),
)

#: the SF_SMALL queries of tests/test_plans_model.py
_SMALL_QUERIES = (
    "SELECT COUNT(*) FROM orders o, customer c "
    "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 1000",
    "SELECT COUNT(*) FROM customer c, nation n "
    "WHERE c.c_nationkey = n.n_nationkey",
    "SELECT COUNT(*) FROM lineitem l, orders o, customer c "
    "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
    "AND l.l_quantity > 10",
    "SELECT COUNT(*) FROM lineitem a, lineitem b, lineitem c "
    "WHERE a.l_quantity + b.l_quantity + c.l_quantity > 90",
)


def _reference_plan_variants(spark, sql, strategies=EX.HINT_STRATEGIES,
                             join_order_rotations=2,
                             conf_variants=_REFERENCE_CONF_VARIANTS):
    aliases = sorted(extract_aliases(sql))
    seen: set[str] = set()
    out: list[EX.Candidate] = []
    forms = (
        [("default", sql, {})] +
        [(s.lower(), EX.with_hint(sql, s, aliases), {}) for s in strategies] +
        [(f"rot{r}", EX.reorder_from_clause(sql, r), {})
         for r in range(1, join_order_rotations + 1)] +
        [(name, sql, conf) for name, conf in conf_variants])
    for name, text, conf in forms:
        try:
            with EX._conf_overrides(spark, conf):
                df = spark.sql(text)
                tree = capture_plan(df, executed=False)
        except Exception:
            continue
        fp = plan_fingerprint(tree)
        if fp in seen:
            continue
        seen.add(fp)
        out.append(EX.Candidate(variant=name, sql=text, fingerprint=fp,
                                plan=tree, conf=conf))
    return out


def _rows(cands):
    return [(c.variant, c.sql, c.fingerprint, to_pg_json(c.plan), c.conf)
            for c in cands]


def _assert_same(spark, queries, **kw):
    for sql in queries:
        got = _rows(EX.plan_variants(spark, sql, **kw))
        want = _rows(_reference_plan_variants(spark, sql, **kw))
        assert got == want, sql


def test_enumeration_matches_reference_on_small_queries(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    _assert_same(spark, _SMALL_QUERIES)
    _assert_same(spark, _SMALL_QUERIES[:2], strategies=(),
                 join_order_rotations=0)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    # the comparison covers a query whose nobroadcast plan stays distinct
    variants = [c.variant for c in EX.plan_variants(
        spark, _SMALL_QUERIES[1], strategies=(), join_order_rotations=0)]
    assert "nobroadcast" in variants, variants
    assert "noaqe" not in {c.variant for sql in _SMALL_QUERIES for c in
                           _reference_plan_variants(spark, sql)}


def test_enumeration_matches_reference_on_generated_pool(spark):
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.stats.harvester import harvest_range_dict
    from active_query_optimizer_spark.workload.generate import generate_workload

    register_views(spark, SF_SMALL)
    ranges = harvest_range_dict(
        spark, SF_SMALL, ("region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem"))
    pool = [r["sql"] for r in
            generate_workload(spark, ranges, num_sql=8, seed=7).collect()]
    assert len(pool) == 8
    _assert_same(spark, pool)
    _assert_same(spark, pool, strategies=("BROADCAST", "MERGE", "SHUFFLE_HASH"))
