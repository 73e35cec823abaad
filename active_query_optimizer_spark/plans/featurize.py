"""Plan-tree featurization for the learned plan ranker.

Rebuilds ``Lero/feature.py:10-255`` + ``Lero/TreeConvolution/util.py:19-157``
(numpy only — no torch in this environment):

- the 15-slot operator vocabulary (``feature.py:10-15``) with the
  SparkPlan→PG-vocabulary mapping from SURVEY.md §7.1;
- plan capture from two sources: the reference's PostgreSQL
  ``EXPLAIN (ANALYZE, FORMAT JSON)`` trees (so its surviving corpus shape is
  ingestible) and live Spark executed plans walked over py4j with
  ``numOutputRows`` metrics as the cardinality signal;
- ``FeatureGenerator`` (``feature.py:33-158``): corpus-fit log-min-max
  ``Normalizer`` (``feature.py:161-179``), relation vocabulary, per-node
  vector = one_hot(15 ops) ⊕ relation-count multiset (n_rel+1, unknown
  slot) ⊕ [width, normalized rows] — input dim 15+n+1+2 (26 for an
  8-table corpus, matching the reference's pickled ``input_feature_dim``);
- **binarization**: every unary node gets a zero-vector ``Unknown`` right
  child so stride-3 1-D convolution over (self,left,right) gathers is a
  tree convolution (``feature.py:203,211-212``; ``util.py:64-111``);
- ``prepare_trees``: preorder-flatten with a zero row at index 0, build
  (self,left,right) index triples, pad the batch (``util.py:113-157``).

Scale note: featurization is embarrassingly parallel over plans (trees are
≤ ~50 nodes); the distributed path wraps ``FeatureGenerator.transform`` in a
pandas UDF with broadcast fit-state (``model/infer.py``). Fitting needs only
corpus-global min/max + a relation set — one tiny aggregate, never the trees
themselves on the driver.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass, field
from typing import Any

import numpy as np

from pyspark.sql import DataFrame

# ``Lero/feature.py:10-15`` — exact vocabulary and order.
OP_TYPES = [
    "Unknown", "Hash", "Materialize", "Sort", "Aggregate",
    "Incremental Sort", "Limit",
    "Seq Scan", "Index Scan", "Index Only Scan", "Bitmap Heap Scan",
    "Nested Loop", "Hash Join", "Merge Join",
    "Bitmap Index Scan",
]
_OP_INDEX = {t: i for i, t in enumerate(OP_TYPES)}

# SparkPlan nodeName → PG vocabulary (SURVEY.md §7.1).
_SPARK_OP_MAP = {
    "BroadcastHashJoin": "Hash Join",
    "ShuffledHashJoin": "Hash Join",
    "SortMergeJoin": "Merge Join",
    "BroadcastNestedLoopJoin": "Nested Loop",
    "CartesianProduct": "Nested Loop",
    "HashAggregate": "Aggregate",
    "SortAggregate": "Aggregate",
    "ObjectHashAggregate": "Aggregate",
    "Sort": "Sort",
    "TakeOrderedAndProject": "Limit",
    "CollectLimit": "Limit",
    "GlobalLimit": "Limit",
    "LocalLimit": "Limit",
    "InMemoryTableScan": "Materialize",
    "ReusedExchange": "Materialize",
}
# transparent wrappers collapsed out of the tree (PG folds filters/projections
# into the scan node; Spark's ColumnarToRow/Exchange reuse markers are
# execution plumbing with no PG analog)
_TRANSPARENT = {"Project", "Filter", "ColumnarToRow", "InputAdapter",
                "WholeStageCodegen", "Subquery", "ReusedSubquery",
                "AQEShuffleRead", "Coalesce", "Union"}


@dataclass
class PlanNode:
    """Engine-neutral physical-plan node (the reference's ``SampleEntity``
    precursor, ``Lero/feature.py:104-158``). ``total_cost`` carries the
    optimizer's cost estimate when the source plan has one — the label for
    the reference's pretrain-on-cost mode (``lero_train.py:49-52,91-94``);
    it is NOT part of the node feature vector (the reference computes then
    discards per-node costs, ``feature.py:217-218``)."""
    op: str
    relation: str | None = None
    rows: float = 0.0
    width: float = 0.0
    children: list["PlanNode"] = field(default_factory=list)
    total_cost: float | None = None

    def preorder_ops(self) -> list[str]:
        out = [self.op]
        for c in self.children:
            out.extend(c.preorder_ops())
        return out


# --------------------------------------------------------------- PG JSON

def from_pg_json(plan: str | dict) -> tuple[PlanNode, float | None]:
    """Parse a PostgreSQL ``EXPLAIN (ANALYZE, FORMAT JSON)`` tree (the
    reference's corpus format, ``feature.py:18-24,196-234``). Returns
    (tree, execution_time_ms or None)."""
    if isinstance(plan, str):
        plan = json.loads(plan)
    if isinstance(plan, list):
        plan = plan[0]
    exec_time = plan.get("Execution Time")
    root = plan["Plan"] if "Plan" in plan else plan

    def build(node: dict) -> PlanNode:
        children = [build(c) for c in node.get("Plans", [])]
        assert len(children) <= 2, "plan node with >2 children"  # feature.py:203
        op = node.get("Node Type", "Unknown")
        if op not in _OP_INDEX:
            op = "Unknown"
        cost = node.get("Total Cost")
        return PlanNode(
            op=op,
            relation=node.get("Relation Name"),
            rows=float(node.get("Plan Rows", 0) or 0),
            width=float(node.get("Plan Width", 0) or 0),
            children=children,
            total_cost=float(cost) if cost is not None else None,
        )

    return build(root), exec_time


# ------------------------------------------------------------ Spark plan

_PATH_TABLE_RE = re.compile(r"([A-Za-z_]\w*)\.parquet")


def _scan_relation(jnode: Any) -> str | None:
    """Relation name of a scan node: catalog table identifier when present,
    else the parquet file/dir name from the scan metadata."""
    try:
        ti = jnode.tableIdentifier()
        if ti.isDefined():
            return ti.get().table()
    except Exception:
        pass
    try:
        md = jnode.metadata()
        if md.contains("Location"):
            m = _PATH_TABLE_RE.search(md.apply("Location"))
            if m:
                return m.group(1)
    except Exception:
        pass
    return None


def capture_plan(df: DataFrame, executed: bool = True) -> PlanNode:
    """Walk a DataFrame's physical plan (post-action, AQE-final when
    ``executed``) into a ``PlanNode`` tree. ``numOutputRows`` metrics give
    actual cardinalities — the Spark analog of EXPLAIN ANALYZE's
    ``Actual Rows``; ``width`` = number of output attributes.

    py4j round-trips are per-plan-node (≤ ~50) — driver-side by design;
    the *distributed* featurization path consumes already-captured JSON.
    """
    qe = df._jdf.queryExecution()
    jroot = qe.executedPlan() if executed else qe.sparkPlan()

    def rows_of(jnode: Any) -> float:
        m = jnode.metrics()
        if m.contains("numOutputRows"):
            try:
                return float(m.apply("numOutputRows").value())
            except Exception:
                return 0.0
        return 0.0

    def build_children(jnode: Any) -> list[PlanNode]:
        jkids = jnode.children()  # one round trip for the Seq, not per child
        out: list[PlanNode] = []
        for i in range(jkids.size()):
            out.extend(build(jkids.apply(i)))
        return out

    def build(jnode: Any) -> list[PlanNode]:
        name = jnode.nodeName()
        if name == "AdaptiveSparkPlan":
            return build(jnode.executedPlan() if executed else jnode.initialPlan())
        if "QueryStage" in name:
            return build(jnode.plan())
        if name.startswith("WholeStageCodegen") or name in _TRANSPARENT:
            return build_children(jnode)

        children = build_children(jnode)

        if name.startswith("Scan"):
            op, relation = "Seq Scan", _scan_relation(jnode)
        elif name in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
            # PG has no shuffle — keep the node, Unknown slot (SURVEY §7.1)
            op, relation = "Unknown", None
        else:
            op, relation = _SPARK_OP_MAP.get(name, "Unknown"), None

        if len(children) > 2:  # n-ary unions etc. — left-deep binarize
            node = children[0]
            for c in children[1:]:
                node = PlanNode(op="Unknown", children=[node, c])
            children = [node]
        return [PlanNode(op=op, relation=relation, rows=rows_of(jnode),
                         width=float(jnode.output().size()),
                         children=children)]

    roots = build(jroot)
    if len(roots) == 1:
        return roots[0]
    node = roots[0]
    for c in roots[1:]:
        node = PlanNode(op="Unknown", children=[node, c])
    return node


def to_pg_json(tree: PlanNode, exec_time_ms: float | None = None) -> str:
    """Serialize a ``PlanNode`` tree in the reference's EXPLAIN-JSON shape
    (``Node Type``/``Plans``/``Plan Rows``/``Plan Width``/``Relation Name``)
    so Spark-captured plans round-trip through the same bundle files the
    reference consumes (``Lero/lero_test.py:15-23``)."""
    def enc(n: PlanNode) -> dict:
        d: dict[str, Any] = {
            "Node Type": n.op,
            "Plan Rows": n.rows,
            "Plan Width": n.width,
        }
        if n.relation:
            d["Relation Name"] = n.relation
        if n.children:
            d["Plans"] = [enc(c) for c in n.children]
        return d

    out: dict[str, Any] = {"Plan": enc(tree)}
    if exec_time_ms is not None:
        out["Execution Time"] = exec_time_ms
    return json.dumps(out)


def plan_fingerprint(tree: PlanNode) -> str:
    """Structural fingerprint (op + relation preorder) — used to drop
    hint variants Catalyst collapsed into the same physical plan
    (SURVEY.md §7.3c)."""
    def walk(n: PlanNode) -> str:
        inner = ",".join(walk(c) for c in n.children)
        return f"{n.op}[{n.relation or ''}]({inner})"
    return walk(tree)


# ---------------------------------------------------------- featurization

class Normalizer:
    """``(log(x+1) − min) / (max − min)`` with inverse
    (``Lero/feature.py:161-179``)."""

    def __init__(self, mins: float, maxs: float) -> None:
        self.mins, self.maxs = float(mins), float(maxs)

    def norm(self, x: float) -> float:
        span = self.maxs - self.mins
        if span <= 0:
            return 0.0
        return (math.log(x + 1) - self.mins) / span

    def inverse_norm(self, y: float) -> float:
        return math.exp(y * (self.maxs - self.mins) + self.mins) - 1


class FeatureGenerator:
    """Corpus-fit featurizer (``Lero/feature.py:27-158``): fit collects the
    log-row range + relation vocabulary; transform emits binarized vector
    trees and normalized latency labels."""

    def __init__(self) -> None:
        self.row_norm: Normalizer | None = None
        self.label_norm: Normalizer | None = None
        self.relations: list[str] = []
        self._rel_index: dict[str, int] = {}

    @property
    def input_feature_dim(self) -> int:
        return len(OP_TYPES) + len(self.relations) + 1 + 2

    def fit(self, trees: list[PlanNode],
            exec_times: list[float | None] | None = None) -> "FeatureGenerator":
        rows: list[float] = []
        rels: set[str] = set()

        def walk(n: PlanNode) -> None:
            rows.append(n.rows)
            if n.relation:
                rels.add(n.relation)
            for c in n.children:
                walk(c)

        for t in trees:
            walk(t)
        logs = [math.log(r + 1) for r in rows] or [0.0]
        self.row_norm = Normalizer(min(logs), max(logs))
        times = [t for t in (exec_times or []) if t is not None]
        tl = [math.log(t + 1) for t in times] or [0.0]
        self.label_norm = Normalizer(min(tl), max(tl))
        self.relations = sorted(rels)
        self._rel_index = {r: i for i, r in enumerate(self.relations)}
        return self

    def _node_vec(self, n: PlanNode, rel_counts: np.ndarray) -> np.ndarray:
        one_hot = np.zeros(len(OP_TYPES))
        one_hot[_OP_INDEX.get(n.op, 0)] = 1.0
        assert self.row_norm is not None
        return np.concatenate(
            [one_hot, rel_counts, [n.width, self.row_norm.norm(n.rows)]])

    def transform_tree(self, tree: PlanNode) -> "VecNode":
        """Vector tree with bottom-up relation multisets
        (``feature.py:196-246``) and phantom Unknown right children for
        unary nodes (``feature.py:211-212``)."""
        n_rel = len(self.relations) + 1  # +1 unknown slot

        def walk(n: PlanNode) -> tuple[VecNode, np.ndarray]:
            rel_counts = np.zeros(n_rel)
            if n.relation:
                rel_counts[self._rel_index.get(n.relation, n_rel - 1)] += 1
            kids: list[VecNode] = []
            for c in n.children:
                v, rc = walk(c)
                kids.append(v)
                rel_counts += rc
            if len(kids) == 1:  # binarize: phantom zero-feature right child
                kids.append(VecNode(np.zeros(self.input_feature_dim), []))
            return VecNode(self._node_vec(n, rel_counts), kids), rel_counts

        return walk(tree)[0]

    def transform(self, plans: list[PlanNode],
                  exec_times: list[float | None] | None = None
                  ) -> tuple[list["VecNode"], list[float]]:
        trees = [self.transform_tree(p) for p in plans]
        assert self.label_norm is not None
        labels = [self.label_norm.norm(t) if t is not None else 0.0
                  for t in (exec_times or [None] * len(plans))]
        return trees, labels

    # ---- persistence (reference joblib-pickles the generator;
    #      we keep a json-friendly state dict)
    def state_dict(self) -> dict:
        assert self.row_norm and self.label_norm
        return {
            "row_norm": [self.row_norm.mins, self.row_norm.maxs],
            "label_norm": [self.label_norm.mins, self.label_norm.maxs],
            "relations": self.relations,
        }

    @classmethod
    def from_state(cls, state: dict) -> "FeatureGenerator":
        fg = cls()
        fg.row_norm = Normalizer(*state["row_norm"])
        fg.label_norm = Normalizer(*state["label_norm"])
        fg.relations = list(state["relations"])
        fg._rel_index = {r: i for i, r in enumerate(fg.relations)}
        return fg


@dataclass
class VecNode:
    vec: np.ndarray
    children: list["VecNode"]


# ------------------------------------------------- tree → padded tensors

def _flatten_preorder(tree: VecNode) -> tuple[list[np.ndarray], list[tuple[int, int, int]]]:
    """Preorder flatten + (self,left,right) index triples, 1-based with a
    zero row at index 0 for missing children (``util.py:19-111``)."""
    vecs: list[np.ndarray] = []
    triples: list[tuple[int, int, int]] = []

    def walk(n: VecNode) -> int:
        idx = len(vecs) + 1  # 1-based; 0 is the zero row
        vecs.append(n.vec)
        triples.append((idx, 0, 0))
        my = idx - 1
        kids = [walk(c) for c in n.children]
        if kids:
            left = kids[0]
            right = kids[1] if len(kids) > 1 else 0
            triples[my] = (idx, left, right)
        return idx

    walk(tree)
    return vecs, triples


def prepare_trees(trees: list[VecNode]
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch of vector trees → (features (B, C, N+1), indexes (B, 3*N),
    n_nodes (B,)) padded to the largest tree (``util.py:113-157``). Feature
    row 0 is the zero vector; index 0 therefore gathers zeros for absent
    children. ``n_nodes`` drives the real-node mask so padding never leaks
    into normalization/pooling (see ``model.tcnn`` module docstring)."""
    flat = [_flatten_preorder(t) for t in trees]
    dim = flat[0][0][0].shape[0]
    max_n = max(len(v) for v, _ in flat)
    feats = np.zeros((len(trees), dim, max_n + 1))
    idx = np.zeros((len(trees), 3 * max_n), dtype=np.int64)
    n_nodes = np.zeros(len(trees), dtype=np.int64)
    for b, (vecs, triples) in enumerate(flat):
        for i, v in enumerate(vecs):
            feats[b, :, i + 1] = v
        tri = np.asarray(triples, dtype=np.int64)
        # pad with (0,0,0) triples → they convolve the zero row
        idx[b, : 3 * len(triples)] = tri.reshape(-1)
        n_nodes[b] = len(vecs)
    return feats, idx, n_nodes
