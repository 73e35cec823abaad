"""Spans around the program's public entry points, for the traced run.

Each wrapper replaces a module or class attribute that callers resolve at
call time, so calls made from inside the program (an operator's
``load_table``, ``choose_plan``'s ``plan_variants``, ``transform_tree`` and
``predict``, ``plan_variants``' ``capture_plan``) are recorded too.
``install`` returns a function that puts every original back.
"""

from __future__ import annotations

import sys
from typing import Callable

from harness import Tracer, wrap_attr


def install(tracer: Tracer) -> Callable[[], None]:
    from active_query_optimizer_spark import catalog
    from active_query_optimizer_spark.model.lero import LeroModel
    from active_query_optimizer_spark.plans import explore, featurize

    package = [m for name, m in sorted(sys.modules.items())
               if m is not None and name.startswith("active_query_optimizer_spark")]

    def loaded(_df) -> None:
        tracer.count("catalog.load_calls")

    def captured(tree) -> None:
        tracer.count("featurize.capture_calls")
        tracer.count("featurize.plan_nodes", len(tree.preorder_ops()))

    undo = [
        # every module that imported the loader by name, catalog first
        wrap_attr(tracer, [catalog] + package, "load_table",
                  "catalog.load_table", loaded),
        wrap_attr(tracer, [featurize] + package, "capture_plan",
                  "featurize.capture_plan", captured),
        wrap_attr(tracer, [explore] + package, "plan_variants",
                  "explore.plan_variants"),
        wrap_attr(tracer, [featurize.FeatureGenerator], "transform_tree",
                  "featurize.transform_tree"),
        wrap_attr(tracer, [LeroModel], "predict", "model.predict"),
    ]

    def restore() -> None:
        for u in reversed(undo):
            u()
    return restore
