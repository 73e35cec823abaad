"""Tests for plan capture/featurization (SURVEY §2.D) and the numpy
tree-conv ranker (§2.D model rows). The gradient checks are the safety net
for the hand-written backprop."""

from __future__ import annotations

import json

import numpy as np
import pytest

from tests.conftest import SF_SMALL

from active_query_optimizer_spark.plans import featurize as FZ
from active_query_optimizer_spark.plans import explore as EX
from active_query_optimizer_spark.model import tcnn
from active_query_optimizer_spark.model import lero as L


def _pg_plan(op="Seq Scan", rows=100, rel="t1", children=()):
    d = {"Node Type": op, "Plan Rows": rows, "Plan Width": 8}
    if rel:
        d["Relation Name"] = rel
    if children:
        d["Plans"] = list(children)
    return d


# ----------------------------------------------------------- featurizer

def test_pg_json_roundtrip_and_binarize():
    plan = {"Plan": _pg_plan("Aggregate", 1, None, [
        _pg_plan("Hash Join", 50, None, [
            _pg_plan("Seq Scan", 100, "t1"),
            _pg_plan("Hash", 40, None, [_pg_plan("Seq Scan", 40, "t2")]),
        ])]), "Execution Time": 123.4}
    tree, ms = FZ.from_pg_json(json.dumps(plan))
    assert ms == 123.4
    assert tree.preorder_ops() == [
        "Aggregate", "Hash Join", "Seq Scan", "Hash", "Seq Scan"]
    # round-trip through the bundle serialization
    tree2, ms2 = FZ.from_pg_json(FZ.to_pg_json(tree, ms))
    assert FZ.plan_fingerprint(tree2) == FZ.plan_fingerprint(tree)
    assert ms2 == ms

    fg = FZ.FeatureGenerator().fit([tree], [ms])
    # 15 ops + 2 relations + 1 unknown + width + rows
    assert fg.input_feature_dim == 15 + 2 + 1 + 2
    vt = fg.transform_tree(tree)
    # unary Aggregate got a phantom right child (zero vector)
    assert len(vt.children) == 2
    assert not vt.children[1].vec.any()
    # root relation multiset counts both scans
    rel_slice = vt.vec[15:18]
    assert rel_slice.tolist() == [1.0, 1.0, 0.0]


def test_unknown_ops_and_relations_map_to_unknown_slots():
    tree, _ = FZ.from_pg_json(json.dumps(
        {"Plan": _pg_plan("Gather", 10, "never_seen")}))
    assert tree.op == "Unknown"
    fg = FZ.FeatureGenerator().fit(
        [FZ.from_pg_json(json.dumps({"Plan": _pg_plan()}))[0]], [1.0])
    vt = fg.transform_tree(tree)
    assert vt.vec[FZ.OP_TYPES.index("Unknown")] == 1.0
    assert vt.vec[15 + 1] == 1.0  # unknown-relation slot


def test_prepare_trees_shapes_and_indexes():
    plan = {"Plan": _pg_plan("Hash Join", 5, None, [
        _pg_plan("Seq Scan", 3, "a"), _pg_plan("Seq Scan", 2, "b")])}
    tree, _ = FZ.from_pg_json(json.dumps(plan))
    fg = FZ.FeatureGenerator().fit([tree], [1.0])
    trees, labels = fg.transform([tree, tree], [1.0, None])
    feats, idx, n_nodes = FZ.prepare_trees(trees)
    assert feats.shape == (2, fg.input_feature_dim, 4)  # 3 nodes + zero row
    assert idx.shape == (2, 9)
    assert n_nodes.tolist() == [3, 3]
    # root triple references children; zero row is all zeros
    assert idx[0, :3].tolist() == [1, 2, 3]
    assert not feats[0, :, 0].any()


def test_normalizer_inverse():
    n = FZ.Normalizer(0.0, 5.0)
    for v in [0.0, 1.0, 100.0]:
        assert n.inverse_norm(n.norm(v)) == pytest.approx(v, rel=1e-9)


# ------------------------------------------------------ numpy gradients

def _num_grad(f, x, eps=1e-6):
    g = np.zeros_like(x)
    it = np.nditer(x, flags=["multi_index"])
    while not it.finished:
        i = it.multi_index
        old = x[i]
        x[i] = old + eps
        fp = f()
        x[i] = old - eps
        fm = f()
        x[i] = old
        g[i] = (fp - fm) / (2 * eps)
        it.iternext()
    return g


def test_treeconv_gradcheck():
    rng = np.random.default_rng(0)
    B, C, M = 2, 3, 4
    x = rng.normal(size=(B, C, M + 1))
    x[:, :, 0] = 0.0
    idx = rng.integers(0, M + 1, size=(B, 3 * M))
    mask = tcnn.make_mask(B, M, np.array([M, M - 1]))  # one padded sample
    conv = tcnn.BinaryTreeConv(C, 5, rng)

    def loss():
        return float(conv.forward(x, idx, mask).sum())

    conv.forward(x, idx, mask)
    dx = conv.backward(np.ones((B, 5, M + 1)))
    assert np.allclose(dx, _num_grad(loss, x), atol=1e-5)
    conv.dW[...] = 0
    conv.forward(x, idx, mask)
    conv.backward(np.ones((B, 5, M + 1)))
    assert np.allclose(conv.dW, _num_grad(loss, conv.W), atol=1e-5)


def test_layernorm_gradcheck():
    rng = np.random.default_rng(1)
    B, C, M = 2, 3, 3
    x = rng.normal(size=(B, C, M + 1))
    mask = tcnn.make_mask(B, M, np.array([M, M - 1]))
    ln = tcnn.TreeLayerNorm()
    w = rng.normal(size=(B, C, M + 1))  # project so grad isn't trivially zero

    def loss():
        return float((ln.forward(x, None, mask) * w).sum())

    ln.forward(x, None, mask)
    dx = ln.backward(w)
    num = _num_grad(loss, x)
    # gradient w.r.t. masked-out positions is 0 analytically and numerically
    assert np.allclose(dx, num, atol=1e-4)


def test_full_net_gradcheck_small():
    rng = np.random.default_rng(2)
    B, C, M = 2, 4, 3
    feats = rng.normal(size=(B, C, M + 1))
    feats[:, :, 0] = 0
    idx = np.tile(np.array([[1, 2, 3, 2, 0, 0, 3, 0, 0]]), (B, 1))
    n_nodes = np.array([M, M])
    net = tcnn.LeroNet(C, seed=3, hidden=(6, 5, 4))

    def loss():
        s, _ = net.forward(feats, idx, n_nodes)
        return float(s.sum())

    net.zero_grad()
    net.forward(feats, idx, n_nodes)
    net.backward(np.ones(B))
    p, g = net.params()[0]  # first conv W
    assert np.allclose(g, _num_grad(loss, p), atol=1e-4)


def test_scores_are_batch_invariant():
    """Padding must not leak: a tree scores identically alone and batched
    with a much larger tree (the distributed-scoring invariant)."""
    small = FZ.PlanNode("Seq Scan", relation="a", rows=10, width=2)
    big = small
    for _ in range(6):
        big = FZ.PlanNode("Hash Join", rows=50, width=4,
                          children=[big, FZ.PlanNode("Seq Scan", relation="b",
                                                     rows=5, width=2)])
    fg = FZ.FeatureGenerator().fit([small, big], [1.0, 2.0])
    net = tcnn.LeroNet(fg.input_feature_dim, seed=7, hidden=(8, 6, 4))
    ts, tb = fg.transform_tree(small), fg.transform_tree(big)

    f1, i1, n1 = FZ.prepare_trees([ts])
    solo, _ = net.forward(f1, i1, n1)
    f2, i2, n2 = FZ.prepare_trees([ts, tb])
    batched, _ = net.forward(f2, i2, n2)
    assert batched[0] == pytest.approx(solo[0], rel=1e-12)


# ------------------------------------------------------------ training

def _synthetic_bundles(n_queries=30, seed=4):
    """Bundles where deeper join trees are slower — a learnable signal."""
    rng = np.random.default_rng(seed)
    bundles = []
    for q in range(n_queries):
        cands = []
        for depth in (1, 3):
            node = FZ.PlanNode("Seq Scan", relation="t1",
                               rows=float(rng.integers(10, 1000)), width=4)
            for _ in range(depth):
                right = FZ.PlanNode("Seq Scan", relation="t2",
                                    rows=float(rng.integers(10, 1000)), width=4)
                node = FZ.PlanNode("Hash Join", rows=node.rows + right.rows,
                                   width=8, children=[node, right])
            t = 10.0 * depth + float(rng.normal(0, 0.5))
            cands.append((node, t))
        bundles.append((f"q{q}", cands))
    return bundles


def test_pairwise_learns_to_rank(tmp_path):
    bundles = _synthetic_bundles()
    model = L.train_pairwise_from_bundles(bundles, epochs=30, seed=5)
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        truth = np.argmin([t for _, t in cands])
        correct += int(np.argmin(scores) == truth)
    assert correct >= 0.9 * len(bundles)
    # embeddings exist and are 64-d
    emb = model.embeddings([model.fg.transform_tree(bundles[0][1][0][0])])
    assert emb.shape == (1, 64)
    # save/load round trip preserves scores
    model.save(str(tmp_path / "m"))
    back = L.LeroModelPairWise.load(str(tmp_path / "m"))
    t0 = [model.fg.transform_tree(bundles[0][1][0][0])]
    assert np.allclose(back.predict(t0), model.predict(t0))


def test_rank_scores():
    assert L.compute_rank_scores([5.0, 1.0, 3.0]) == [3.0, 1.0, 2.0]
    assert L.compute_rank_scores([5.0, 1.0], "rank2") == [4.0, 1.0]
    assert L.all_pairs([1, 2, 3]) == [(1, 2), (1, 3), (2, 3)]


# --------------------------------------------------- live plan capture

def test_capture_plan_real_join(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    df = spark.sql(
        "SELECT COUNT(*) FROM orders o, customer c "
        "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 1000")
    df.collect()
    tree = FZ.capture_plan(df, executed=True)
    ops = tree.preorder_ops()
    assert "Hash Join" in ops
    assert ops.count("Seq Scan") == 2
    scans = [n for n in _walk(tree) if n.op == "Seq Scan"]
    assert {s.relation for s in scans} == {"orders", "customer"}
    assert all(s.rows > 0 for s in scans)  # numOutputRows captured


def _walk(n):
    yield n
    for c in n.children:
        yield from _walk(c)


def test_plan_variants_and_labeling(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    cands = EX.plan_variants(spark, sql)
    assert len(cands) >= 2  # default collapses into one of the hinted forms
    assert len({c.fingerprint for c in cands}) == len(cands)
    joins = {op for c in cands for op in c.plan.preorder_ops()
             if "Join" in op or op == "Nested Loop"}
    assert len(joins) >= 2  # genuinely different strategies realized

    labeled = EX.label_query(spark, sql)
    assert all(c.exec_time_ms and c.exec_time_ms > 0 for c in labeled)
    lines = EX.bundles_to_lines([("q0", labeled)])
    assert lines[0].startswith("q0#####")
    # bundle line parses back into the reference's corpus format
    first = lines[0].split("#####")[1]
    tree, ms = FZ.from_pg_json(first)
    assert ms > 0 and tree.preorder_ops()


def test_join_order_rotation_variants(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, customer c "
           "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
           "AND l.l_quantity > 10")
    rot1 = EX.reorder_from_clause(sql, 1)
    assert rot1 != sql and "FROM orders o, customer c, lineitem l" in rot1
    # rotated SQL is still the same query
    assert spark.sql(rot1).collect() == spark.sql(sql).collect()
    # rotations widen the distinct-candidate set beyond hints alone
    only_hints = EX.plan_variants(spark, sql, join_order_rotations=0)
    with_rots = EX.plan_variants(spark, sql, join_order_rotations=2)
    assert len(with_rots) >= len(only_hints)
    assert any(c.variant.startswith("rot") for c in with_rots)


def test_conf_knob_variants_widen_candidates(spark):
    """SURVEY §7.3c / Lero knob analog: session-conf dimensions
    (autoBroadcastJoinThreshold, runtime bloom filters) add genuinely
    distinct plans and the overrides never leak out of planning."""
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    no_knobs = EX.plan_variants(spark, sql, strategies=(),
                                join_order_rotations=0, conf_variants=())
    with_knobs = EX.plan_variants(spark, sql, strategies=(),
                                  join_order_rotations=0)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    assert len(with_knobs) > len(no_knobs)  # -1 threshold forces a non-
    assert any(c.variant == "nobroadcast" and c.conf for c in with_knobs)
    # broadcast join plan distinct from the default broadcast one
    fps = {c.fingerprint for c in with_knobs}
    assert len(fps) == len(with_knobs)


class _MergeJoinRanker:
    """Stub ranker: scores a plan 0 when it sort-merge joins, else 1."""

    class fg:
        @staticmethod
        def transform_tree(plan):
            return plan

    @staticmethod
    def predict(trees):
        return np.array([0.0 if "Merge Join" in t.preorder_ops() else 1.0
                         for t in trees])


def test_run_optimized_executes_conf_pick_under_its_confs(spark, monkeypatch):
    """A conf-variant pick runs under its confs: with the ranker stubbed so
    ``nobroadcast`` wins, the executed plan has no broadcast join although
    the query's default plan broadcasts."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.pipelines.optimize import (
        choose_plan, run_optimized)

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    default = spark.sql(sql)
    expect = default.collect()
    assert "BroadcastHashJoin" in EX.realized_join_strategies(default)
    model = _MergeJoinRanker()
    best, _ = choose_plan(spark, sql, model, strategies=())
    assert best.variant == "nobroadcast"

    frames = []  # every frame made through spark.sql; the last one runs
    real_sql = spark.sql
    monkeypatch.setattr(spark, "sql",
                        lambda text: frames.append(real_sql(text)) or frames[-1])
    rows = run_optimized(spark, sql, model, strategies=())
    monkeypatch.undo()
    realized = EX.realized_join_strategies(frames[-1])
    assert realized and "BroadcastHashJoin" not in realized, realized
    assert rows == expect


def test_label_query_realized_strategies(spark):
    """The executed plan, not the hint, is the label: candidates record
    realized join nodes, hint_realized is checked against them, and
    realized-duplicate plans are dropped from the bundle."""
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    labeled = EX.label_query(spark, sql)
    assert labeled, "no labeled candidates"
    # every labeled candidate ran at least one join and recorded it
    assert all(c.realized_joins for c in labeled)
    # bundles contain no realized-duplicate plans
    fps = [c.fingerprint for c in labeled]
    assert len(fps) == len(set(fps))
    # >=2 realized-distinct join strategies for the flagship-style query
    strategies = {c.realized_joins for c in labeled}
    assert len(strategies) >= 2, strategies
    # hinted variants are verified against the executed plan
    for c in labeled:
        if c.variant in EX._HINT_REALIZATION:
            assert c.hint_realized is True, (c.variant, c.realized_joins)
        else:
            assert c.hint_realized is None
    # real measurements carry the explicit not-timed-out flag
    assert all(c.timed_out is False for c in labeled)


def test_label_query_timeout_penalty(spark):
    """A candidate that blows the labeling deadline is cancelled and
    penalty-labeled (LABEL_TIMEOUT_PENALTY x timeout) instead of hanging
    the loop — the explorer's wall clock must stay bounded even when a
    hint degenerates a join into a near-cartesian plan."""
    import time as _t

    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    # no equi-condition -> a genuine THREE-way cartesian on lineitem
    # (~1e11 tuples at sf0.001): hours unthrottled, so completing fast
    # proves the cancel works
    sql = ("SELECT COUNT(*) FROM lineitem a, lineitem b, lineitem c "
           "WHERE a.l_quantity + b.l_quantity + c.l_quantity > 90")
    t0 = _t.perf_counter()
    labeled = EX.label_query(spark, sql, strategies=(), timeout_s=3.0)
    wall = _t.perf_counter() - t0
    assert labeled
    penalty_ms = EX.LABEL_TIMEOUT_PENALTY * 3.0 * 1000.0
    assert all(c.exec_time_ms == penalty_ms for c in labeled), (
        [(c.variant, c.exec_time_ms) for c in labeled])
    # the explicit flag distinguishes a penalty label from a real
    # measurement that happens to exceed the threshold (round-12 advice)
    assert all(c.timed_out is True for c in labeled)
    # bounded: variants x timeout plus planning slack
    assert wall < 3.0 * len(labeled) + 60, wall
    # and the session is still healthy for normal queries afterwards
    assert spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] >= 0


def test_pretrained_pairwise_learns_to_rank():
    """Pointwise pretrain (round-9 verdict item #6) must compose with the
    pairwise fine-tune: same ranking quality bar as the cold-start path,
    and the rank-score label modes must be accepted."""
    bundles = _synthetic_bundles()
    for mode in ("latency", "rank2"):
        model = L.train_pairwise_from_bundles(
            bundles, epochs=30, seed=5, pretrain_epochs=10,
            pretrain_mode=mode)
        correct = 0
        for _, cands in bundles:
            trees = [model.fg.transform_tree(p) for p, _ in cands]
            scores = model.predict(trees)
            truth = np.argmin([t for _, t in cands])
            correct += int(np.argmin(scores) == truth)
        assert correct >= 0.9 * len(bundles), mode


def test_pretrain_bad_mode_rejected():
    with pytest.raises(ValueError):
        L.train_pairwise_from_bundles(
            _synthetic_bundles(), epochs=1, pretrain_epochs=1,
            pretrain_mode="nope")


def test_pretrain_censor_excludes_penalty_labels():
    """Timeout-penalty labels are censored observations: with
    pretrain_censor_ms set, they must not enter the pointwise pretrain
    set (on the sf1 rehearsal an uncensored latency pretrain pushed
    fold regret from 0.06s to 275s by fitting magnitudes to the penalty
    constant), while the pairwise pass still ranks them."""
    bundles = _synthetic_bundles()
    # poison every bundle with one penalty-labeled candidate
    pen = 60000.0
    poisoned = [(q, cands + [(cands[0][0], pen)]) for q, cands in bundles]
    model = L.train_pairwise_from_bundles(
        poisoned, epochs=30, seed=5, pretrain_epochs=10,
        pretrain_mode="latency", pretrain_censor_ms=pen)
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        truth = np.argmin([t for _, t in cands])
        correct += int(np.argmin(scores) == truth)
    assert correct >= 0.9 * len(bundles)
    # degenerate: censor below every label -> pretrain set empty, still fits
    model2 = L.train_pairwise_from_bundles(
        bundles, epochs=5, seed=5, pretrain_epochs=5,
        pretrain_mode="latency", pretrain_censor_ms=0.0)
    assert model2.net is not None


def test_pair_weighting_latency_delta_learns_and_validates():
    """Consequence-weighted pairwise objective (round-11 q64-class
    experiment): 'latency_delta' weights each pair by the absolute delta
    of its normalized latency labels. The weighted objective must still
    learn the depth->latency signal, and an unknown mode must fail loudly."""
    import pytest

    bundles = _synthetic_bundles(n_queries=20, seed=9)
    model = L.train_pairwise_from_bundles(bundles, epochs=30, seed=5,
                                          pair_weighting="latency_delta")
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        correct += int(np.argmin(scores) == np.argmin([t for _, t in cands]))
    assert correct >= 0.9 * len(bundles)
    with pytest.raises(ValueError, match="pair_weighting"):
        L.train_pairwise_from_bundles(bundles, epochs=1, seed=5,
                                      pair_weighting="bogus")
    # all-tied labels degrade to equal weights, not a zeroed gradient
    tied = [("q0", [(bundles[0][1][0][0], 5.0), (bundles[0][1][1][0], 5.0)])]
    L.train_pairwise_from_bundles(tied, epochs=1, seed=5,
                                  pair_weighting="latency_delta")
