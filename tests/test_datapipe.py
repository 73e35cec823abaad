"""Data-pipeline operator tests: oracle parity for the SQL-expressible ones
(covered by test_relational's registry sweep), plus the approximate-operator
guarantees that SQL can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from active_query_optimizer_spark.operators import QUERIES

from .conftest import SF_SMALL


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_minhash_lsh_recall_matches_exact(spark):
    """LSH candidates must catch every true pair ≥ threshold — this is what
    makes the exact-Jaccard oracle valid for dedup_minhash_lsh."""
    from active_query_optimizer_spark.operators.dedup import (
        JACCARD_THRESHOLD, MINHASH_SHINGLE_N, dedup_minhash_lsh)
    from active_query_optimizer_spark.functions import texttools as tt
    from active_query_optimizer_spark.catalog import load_table

    got = _pairs(dedup_minhash_lsh(spark, SF_SMALL))

    # brute-force exact pairs over the full (small) corpus
    d = load_table(spark, SF_SMALL, "documents")
    sh = d.select("doc_id", tt.shingle_hashes(
        F.col("text"), n=MINHASH_SHINGLE_N).alias("s"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = common.cast("double") / (F.size("sa") + F.size("sb") - common)
    exact = _pairs(
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("j"))
        .filter(F.col("j") >= JACCARD_THRESHOLD))
    assert got == exact


def test_minhash_mega_bucket_collapse_bounds_banding(spark):
    """Planted mega-bucket fixture (round-8 verdict item #7): N identical
    documents must contribute exactly ONE row per band bucket to the LSH
    self-join (the collapse that makes degenerate corpora non-quadratic),
    while the emitted output is still the true answer — all N(N-1)/2
    within-group pairs at Jaccard 1.0. This test FAILS on the pre-round-8
    implementation (no collapse: banding input was N rows per bucket)."""
    from active_query_optimizer_spark.operators.dedup import (
        _minhash_pairs_from_docs, _shingle_collapse)

    n_dup, boiler = 40, "the same boilerplate footer text repeated verbatim"
    rows = [(i, boiler) for i in range(n_dup)]
    rows += [(1000 + i, " ".join(f"w{i}x{j * (i + 3)}" for j in range(12)))
             for i in range(5)]  # pairwise-disjoint shingle vocabularies
    d = spark.createDataFrame(rows, "doc_id long, text string")

    memb, reps = _shingle_collapse(d)
    # banding input is bounded by DISTINCT shingle sets: the 40 identical
    # docs collapse to one representative row (6 rows total, not 45)
    assert reps.count() == 6
    grp = {r["doc_id"]: (r["rep"], r["grp_n"]) for r in memb.collect()}
    assert len(grp) == 45
    assert all(grp[i] == (0, n_dup) for i in range(n_dup))
    assert all(grp[1000 + i] == (1000 + i, 1) for i in range(5))

    out = _minhash_pairs_from_docs(d).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    expect = {(a, b): 1.0 for a in range(n_dup) for b in range(a + 1, n_dup)}
    assert got == expect  # exactly N(N-1)/2 pairs, all at Jaccard 1.0


def test_simhash_pairs_hamming_sound(spark):
    """Banding must find exactly the pairs with Hamming ≤ 3 (pigeonhole on
    4 byte-chunks guarantees recall; the filter guarantees precision)."""
    from active_query_optimizer_spark.operators.dedup import (
        dedup_simhash, dedup_simhash_pairs)

    sims = {r["doc_id"]: r["simhash"] for r in dedup_simhash(spark, SF_SMALL).collect()}
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in dedup_simhash_pairs(spark, SF_SMALL).collect()}
    ids = sorted(sims)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sims[a] ^ sims[b]).count("1")
            if h <= 3:
                expect[(a, b)] = h
    assert got == expect


def test_ann_lsh_recall(spark):
    """Bucketed ANN must recover a reasonable fraction of the exact top-k
    (approximate by design — assert recall, not equality)."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in QUERIES["ann_cosine_topk"](spark, SF_SMALL).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in QUERIES["ann_lsh_bucketed"](spark, SF_SMALL).collect()}
    assert exact, "exact top-k came back empty"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_multimodal_pipeline_matches_column_twin(spark):
    """mapInPandas fake-decode output must agree with the pure-Column twin
    on the shared features."""
    pipe = QUERIES["multimodal_feature_extract"](spark, SF_SMALL)
    twin = QUERIES["multimodal_bytes_features"](spark, SF_SMALL)
    p = {r["doc_id"]: (r["n_bytes"], r["first_byte"], r["last_byte"])
         for r in pipe.collect()}
    t = {r["doc_id"]: (r["n_bytes"], r["first_byte"], r["last_byte"])
         for r in twin.collect()}
    assert p == t and len(p) > 0


def test_multimodal_real_decoder_is_gated():
    from active_query_optimizer_spark.operators.multimodal import decode_payload
    import pytest

    with pytest.raises(NotImplementedError):
        decode_payload(b"\x00", kind="real")


def test_multimodal_resize_grid_shape_and_determinism(spark):
    from active_query_optimizer_spark.operators.multimodal import (
        binary_table, resize_images)
    import numpy as np
    import pytest as _pt

    b = binary_table(spark, SF_SMALL).limit(20)
    out = {r["doc_id"]: r for r in resize_images(b, 8, 8).collect()}
    assert all(len(r["pixels"]) == 64 for r in out.values())
    assert all(0.0 <= v <= 1.0 for r in out.values() for v in r["pixels"])
    # deterministic across runs
    again = {r["doc_id"]: r["pixels"]
             for r in resize_images(b, 8, 8).collect()}
    some = next(iter(out))
    assert np.allclose(out[some]["pixels"], again[some])
    with _pt.raises(NotImplementedError):
        resize_images(b, kind="real")


def test_multimodal_frame_sample_expansion(spark):
    from pyspark.sql import functions as SF
    from active_query_optimizer_spark.operators.multimodal import (
        binary_table, sample_frames)

    b = binary_table(spark, SF_SMALL).limit(20)
    frames = sample_frames(b, every_ms=500, max_frames=3)
    agg = (frames.groupBy("doc_id")
           .agg(SF.count(SF.lit(1)).alias("n"),
                SF.max("frame_ts_ms").alias("last_ts")).collect())
    payload_len = {r["doc_id"]: r["n_bytes"] for r in
                   b.select("doc_id", SF.col("meta.n_bytes").alias("n_bytes"))
                   .collect()}
    for r in agg:
        expect = min(3, max(1, payload_len[r["doc_id"]] // 64))
        assert r["n"] == expect
        assert r["last_ts"] == (expect - 1) * 500


def test_ann_ivf_recall(spark):
    """IVF coarse-quantized ANN: recall vs exact top-k (the synthetic
    embeddings are near-uniform on the sphere — IVF's worst case — so the
    bar is moderate; nprobe/IVF_K bounds the scanned fraction at ~31%)."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in QUERIES["ann_cosine_topk"](spark, SF_SMALL).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in QUERIES["ann_ivf_topk"](spark, SF_SMALL).collect()}
    assert exact
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_learned_plan_choice_runs_best_variant(spark):
    """pipelines.optimize: train on labeled bundles, then choose_plan picks
    a variant whose measured latency is never the worst, and run_optimized
    returns correct results."""
    from active_query_optimizer_spark.catalog import register_views
    from active_query_optimizer_spark.pipelines.optimize import (
        choose_plan, run_optimized)
    from active_query_optimizer_spark.pipelines.stable import run_stable

    register_views(spark, SF_SMALL)
    queries = [
        ("t0", "SELECT COUNT(*) FROM orders o, customer c "
               "WHERE o.o_custkey = c.c_custkey"),
        ("t1", "SELECT COUNT(*) FROM customer c, nation n "
               "WHERE c.c_nationkey = n.n_nationkey"),
        ("t2", "SELECT COUNT(*) FROM lineitem l, orders o "
               "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 10"),
    ]
    model = run_stable(spark, queries, epochs=10)["model"]
    sql = ("SELECT COUNT(*) FROM supplier s, nation n "
           "WHERE s.s_nationkey = n.n_nationkey")
    best, scored = choose_plan(spark, sql, model)
    assert len(scored) >= 2
    assert best.fingerprint in {c.fingerprint for c, _ in scored}
    got = run_optimized(spark, sql, model)[0][0]
    expect = spark.sql(sql).collect()[0][0]
    assert got == expect


def test_connected_components_deep_chain_converges_logarithmically(spark):
    """Pointer jumping must make rounds O(log diameter): a 200-node chain
    (diameter 199) has to converge in far fewer than 199 rounds, with every
    node labeled 0. Plain min-propagation would need ~199 rounds — this
    pins the round-2 scale watch item (deep near-dup chains)."""
    import math

    from active_query_optimizer_spark.operators.dedup import (
        connected_components)

    n = 200
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    stats: dict = {}
    # local_max_edges=0 forces the distributed loop (a 200-edge graph
    # would otherwise take the driver-side union-find fast path)
    comp = connected_components(edges, nodes, stats=stats,
                                local_max_edges=0)
    rows = comp.collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == 0 for r in rows)
    assert stats["mode"] == "loop"
    # path halving: reach doubles per round; generous 3×log2(n)+3 bound
    # still far below the diameter bound of n-1
    assert stats["iterations"] <= 3 * math.ceil(math.log2(n)) + 3, (
        f"chain took {stats['iterations']} rounds — pointer jump regressed")


def test_connected_components_releases_caches(spark):
    """The eager localCheckpoint must let every internal persist be
    released: after the call, no RDD from the propagation loop may remain
    cached (round-2 advice: repeated invocations accumulated blocks)."""
    from active_query_optimizer_spark.operators.dedup import (
        connected_components)

    before = {i for i, _ in spark.sparkContext._jsc.getPersistentRDDs().items()}
    edges = spark.range(20).select(
        (F.col("id") % 10).alias("src"), (F.col("id") % 10 + 10).alias("dst"))
    nodes = spark.range(20).select(F.col("id").alias("doc_id"))
    comp = connected_components(edges, nodes)
    comp.count()
    after = {i for i, _ in spark.sparkContext._jsc.getPersistentRDDs().items()}
    leaked = after - before
    # the final localCheckpoint RDD (and at most one interval checkpoint,
    # freed later by the context cleaner) may remain; explicit persists from
    # the propagation loop must all be gone
    assert len(leaked) <= 2, f"cached RDDs leaked from the loop: {leaked}"


def test_fingerprint_lanes_identical_survivors(spark):
    """The production 128-bit content lane (xxhash64 twin-seed) and the
    oracle-replayable arithmetic lane must pick the same survivors with the
    same copy counts on the corpus — fp values differ, groups may not."""
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.operators.dedup import (
        fingerprint_survivors)

    d = load_table(spark, SF_SMALL, "documents")
    content = sorted((r["doc_id"], r["n_copies"])
                     for r in fingerprint_survivors(d, "content").collect())
    arith = sorted((r["doc_id"], r["n_copies"])
                   for r in fingerprint_survivors(d, "arith").collect())
    assert content == arith and len(content) > 0
    # twin seeds must actually give two independent lanes
    one = fingerprint_survivors(d, "content").limit(5).collect()
    assert any(r["fp_a"] != r["fp_b"] for r in one)


def test_pca_project_matches_numpy_replica(spark):
    """The distributed PCA (quantized-moments fit + Arrow-batch transform)
    must agree with a single-machine numpy PCA run on the same quantized
    covariance — same components, same projected coordinates — and the
    components must satisfy the PCA invariants (orthonormal axes,
    descending captured variance)."""
    import numpy as np

    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.operators.embedvec import (
        DIM_Q, DIM_Q3, PCA_K, PCA_OUT_Q, pca_components)

    mean, comp = pca_components(spark, SF_SMALL)
    # invariants: orthonormal rows, descending variance along components
    assert comp.shape[0] == PCA_K
    assert np.allclose(comp @ comp.T, np.eye(PCA_K), atol=1e-9)

    v = np.stack(load_table(spark, SF_SMALL, "embeddings")
                 .orderBy("vec_id").toPandas()["embedding"].to_numpy()
                 ).astype(np.float64)
    proj_var = ((v - mean) @ comp.T).var(axis=0)
    assert all(proj_var[i] >= proj_var[i + 1] - 1e-12
               for i in range(PCA_K - 1))

    # replica fit: same quantization, plain numpy covariance + eigh
    vq6 = np.floor(v * DIM_Q) / DIM_Q
    vq3 = np.floor(v * DIM_Q3) / DIM_Q3
    n = len(v)
    mean_r = vq6.mean(axis=0)
    cov_r = (vq3.T @ vq3) / n - np.outer(mean_r, mean_r)
    vals, vecs = np.linalg.eigh(cov_r)
    comp_r = vecs[:, ::-1][:, :PCA_K].T
    for row in comp_r:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    assert np.allclose(mean, mean_r, atol=1e-12)
    assert np.allclose(comp, comp_r, atol=1e-9)

    # distributed transform == local transform, after output quantization
    got = {r["vec_id"]: tuple(r[f"pc{c}_q"] for c in range(PCA_K))
           for r in QUERIES["embedding_pca_project"](spark, SF_SMALL)
           .collect()}
    ids = load_table(spark, SF_SMALL, "embeddings").orderBy("vec_id") \
        .toPandas()["vec_id"].to_numpy()
    local = np.floor(((v - mean) @ comp.T) * PCA_OUT_Q).astype(np.int64)
    for i, vid in enumerate(ids):
        assert got[int(vid)] == tuple(local[i]), f"vec {vid} diverges"


def test_ann_ivf_pq_recall_and_determinism(spark):
    """IVF-PQ: 4-bit product-quantized residual codes + ADC shortlist +
    exact re-rank. Recall vs exact top-k must hold at-or-near the plain
    IVF bar (PQ only reorders *within* the probed cells, and the exact
    re-rank of PQ_RERANK candidates absorbs quantization noise), and the
    whole pipeline must be deterministic run-to-run (seeded k-means,
    RNG-free codebook training, sorted collects)."""
    exact = {(r["query_id"], r["neighbor_id"])
             for r in QUERIES["ann_cosine_topk"](spark, SF_SMALL).collect()}
    run1 = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in QUERIES["ann_ivf_pq_topk"](spark, SF_SMALL).collect()}
    approx = {(q, n) for q, n, _ in run1}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF-PQ recall collapsed: {recall}"

    run2 = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in QUERIES["ann_ivf_pq_topk"](spark, SF_SMALL).collect()}
    assert run1 == run2, "IVF-PQ is not deterministic across runs"


def test_dedup_incremental_matches_batch_rerun(spark):
    """Incremental ingest dedup must converge to the same survivor
    content set as a from-scratch batch dedup over the union: feeding a
    corpus in two batches (with overlap) yields stores and survivors
    identical to one-shot dedup of everything."""
    from active_query_optimizer_spark.catalog import load_table
    from active_query_optimizer_spark.functions import texttools as tt
    from active_query_optimizer_spark.operators.dedup import (
        dedup_incremental, fingerprint_survivors)

    docs = load_table(spark, SF_SMALL, "documents")
    b1 = docs.filter(F.col("doc_id") % 3 != 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 0)      # overlaps b1

    empty_store = (fingerprint_survivors(docs.limit(0))
                   .select("fp_a", "fp_b"))
    fresh1, store1 = dedup_incremental(b1, empty_store)
    fresh2, store2 = dedup_incremental(b2, store1)

    # the two-step store equals the one-shot fingerprint set of b1 ∪ b2
    batch = fingerprint_survivors(b1.unionByName(b2))
    got = {(r["fp_a"], r["fp_b"]) for r in store2.collect()}
    want = {(r["fp_a"], r["fp_b"]) for r in batch.collect()}
    assert got == want
    # batch-2 freshness: no batch-2 survivor's content exists in batch 1
    fp = [tt.content_fingerprint_hi(F.col("text")).alias("a"),
          tt.content_fingerprint_lo(F.col("text")).alias("b")]
    b1_fps = {(r["a"], r["b"]) for r in b1.select(*fp).collect()}
    f2_fps = {(r["a"], r["b"]) for r in fresh2.select(*fp).collect()}
    assert not (f2_fps & b1_fps)
    assert fresh1.count() > 0 and fresh2.count() >= 0


def test_connected_components_local_fastpath_equals_loop(spark):
    """The driver-side union-find fast path must produce EXACTLY the
    distributed loop's labeling (min reachable id per node), including
    isolated nodes, on an irregular multi-component graph."""
    from active_query_optimizer_spark.operators.dedup import (
        connected_components)

    # chains, a star, a cycle, self-contained pairs + isolated nodes
    raw = ([(i, i + 1) for i in range(0, 30)]            # chain 0..30
           + [(100, j) for j in range(101, 110)]         # star at 100
           + [(200, 201), (201, 202), (202, 200)]        # cycle
           + [(300, 301), (302, 303)])                   # pairs
    edges = spark.createDataFrame(raw, "src bigint, dst bigint")
    nodes = spark.createDataFrame(
        [(i,) for i in sorted({u for e in raw for u in e} | {400, 401})],
        "doc_id bigint")
    stats_a: dict = {}
    stats_b: dict = {}
    fast = {(r["doc_id"], r["cluster_id"]) for r in connected_components(
        edges, nodes, stats=stats_a).collect()}
    loop = {(r["doc_id"], r["cluster_id"]) for r in connected_components(
        edges, nodes, stats=stats_b, local_max_edges=0).collect()}
    assert stats_a["mode"] == "local" and stats_b["mode"] == "loop"
    assert fast == loop
    # spot semantics: isolated nodes label themselves; the star collapses
    assert (400, 400) in fast and (101, 100) in fast


def test_pagerank_local_replica_equals_loop(spark):
    """Integer PageRank's driver-side fast path must be BIT-identical to
    the distributed loop (every update is integer div arithmetic — no
    float drift to hide behind)."""
    from active_query_optimizer_spark.operators.dedup import (
        docrank_neardup_pagerank)

    fast = {(r["doc_id"], r["rank_q"]) for r in
            docrank_neardup_pagerank(spark, SF_SMALL).collect()}
    loop = {(r["doc_id"], r["rank_q"]) for r in
            docrank_neardup_pagerank(spark, SF_SMALL,
                                     local_max_edges=0).collect()}
    assert fast == loop and fast


def test_triangle_count_degree_orientation_invariance(spark):
    """The degree-ordered production path must count exactly the same
    triangles as the textbook id-ordered formulation — on a synthetic
    graph with a hub (the skew case the orientation exists for) and on
    the real near-dup graph the registry entry runs over."""
    from pyspark.sql import functions as F

    from active_query_optimizer_spark.operators.dedup import (
        _oriented_triangle_count, dedup_minhash_lsh)

    # hub node 0 with satellites; triangles {0,1,2} and {2,3,4} only
    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (2, 4),
             (0, 5), (0, 6), (0, 7), (0, 8)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    stats: dict = {}
    got = _oriented_triangle_count(
        pairs, stats=stats).collect()[0]["n_triangles"]
    assert got == 2 and stats["mode"] == "local"
    stats = {}
    dist = _oriented_triangle_count(
        pairs, local_max_edges=0, stats=stats).collect()[0]["n_triangles"]
    assert dist == 2 and stats["mode"] == "distributed"

    def id_ordered(p):
        e1 = p.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = p.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = p.select(F.col("a").alias("x"), F.col("b").alias("z"))
        return (e1.join(e2, "y").join(e3, ["x", "z"])
                .agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"])

    assert id_ordered(pairs) == 2

    real = (dedup_minhash_lsh(spark, SF_SMALL)
            .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
            .persist())
    try:
        want = id_ordered(real)
        assert (_oriented_triangle_count(real)
                .collect()[0]["n_triangles"] == want)
        assert (_oriented_triangle_count(real, local_max_edges=0)
                .collect()[0]["n_triangles"] == want)
    finally:
        real.unpersist()


def test_neardup_pairs_one_cache_serves_graph_family(spark):
    """Round-4 verdict item #6: the graph family shares ONE persisted LSH
    pair frame. Running any member registers the plan-keyed cache entry;
    every other member (and repeat invocations) addresses the same entry;
    release_neardup_pairs drops it."""
    from active_query_optimizer_spark.operators import dedup
    from active_query_optimizer_spark.operators import QUERIES

    dedup.release_neardup_pairs(spark, SF_SMALL)
    probe = dedup.dedup_minhash_lsh(spark, SF_SMALL).select("doc_a", "doc_b")
    lvl = probe.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "stale cache entry"
    try:
        QUERIES["graph_triangle_count"](spark, SF_SMALL).collect()
        lvl = probe.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "family member did not register the shared pair cache")
        # a second member resolves to the SAME entry — neardup_pairs sees
        # the cached level and does not stack another persist
        again = dedup.neardup_pairs(spark, SF_SMALL)
        lvl = again.storageLevel
        assert lvl.useMemory or lvl.useDisk
        # and actually produces the pair rows from the cache
        assert QUERIES["graph_bfs_hops"](spark, SF_SMALL).count() >= 1
    finally:
        dedup.release_neardup_pairs(spark, SF_SMALL)
    lvl = probe.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "release did not drop entry"


def test_setsim_records_release_drops_cache_entry(spark):
    """Round-10 advice: the setsim ordered-record persist needs a release
    path mirroring release_neardup_pairs — running the operator registers
    the plan-keyed entry; release_setsim_records drops it."""
    from active_query_optimizer_spark.operators import dedup

    dedup.release_setsim_records(spark, SF_SMALL)
    probe = dedup._setsim_records(spark, SF_SMALL)
    lvl = probe.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "stale cache entry"
    try:
        dedup.setsim_join_prefix(spark, SF_SMALL).count()
        lvl = probe.storageLevel
        assert lvl.useMemory or lvl.useDisk, (
            "setsim_join_prefix did not register the record cache")
    finally:
        dedup.release_setsim_records(spark, SF_SMALL)
    lvl = probe.storageLevel
    assert not (lvl.useMemory or lvl.useDisk), "release did not drop entry"


def test_setsim_prefix_filter_prunes_and_loses_nothing(spark):
    """Round-4 verdict item #7 — pruning effectiveness + completeness:

    - the prefix-filter candidate set is a small fraction of all pairs
      (the point of the algorithm — measured 17% at sf0.01);
    - no true match is lost: the pruned join's pair set equals the
      brute-force shared-token join's matches (computed here in Spark,
      independently of the DuckDB oracle).
    """
    from active_query_optimizer_spark.operators.dedup import (
        SETSIM_DEN, SETSIM_NUM, _setsim_records)

    rec = _setsim_records(spark, SF_SMALL)
    n_docs = rec.count()
    all_pairs = n_docs * (n_docs - 1) // 2

    # rebuild the candidate stage exactly as the operator does
    plen = (F.col("n")
            - F.expr(f"({SETSIM_NUM}*n + {SETSIM_NUM}) div {SETSIM_DEN}")
            + 1)
    prefix = rec.select("doc_id", "n",
                        F.explode(F.slice("toks", F.lit(1), plen)).alias("t"))
    a = prefix.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"), "t")
    b = prefix.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"), "t")
    n_cand = (a.join(b, "t")
              .filter((F.col("doc_a") < F.col("doc_b"))
                      & (SETSIM_DEN * F.least("na", "nb")
                         >= SETSIM_NUM * F.greatest("na", "nb")))
              .select("doc_a", "doc_b").distinct().count())
    assert n_cand < 0.25 * all_pairs, (n_cand, all_pairs)

    # brute force in Spark: intersection counts via the full token
    # postings join (no prefix/length pruning)
    tok = rec.select("doc_id", F.explode("toks").alias("t"))
    lens = rec.select("doc_id", "n")
    xa, xb = tok.alias("xa"), tok.alias("xb")
    inter = (xa.join(xb, (F.col("xa.t") == F.col("xb.t"))
                     & (F.col("xa.doc_id") < F.col("xb.doc_id")))
             .groupBy(F.col("xa.doc_id").alias("doc_a"),
                      F.col("xb.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("com")))
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    brute = (inter.join(la, "doc_a").join(lb, "doc_b")
             .filter(SETSIM_DEN * F.col("com")
                     >= SETSIM_NUM * (F.col("na") + F.col("nb")
                                      - F.col("com"))))
    want = {(r.doc_a, r.doc_b) for r in brute.collect()}
    got = {(r.doc_a, r.doc_b) for r in
           QUERIES["setsim_join_prefix"](spark, SF_SMALL).collect()}
    assert got == want
    assert len(got) > 0, "threshold yields no matches — test proves nothing"
