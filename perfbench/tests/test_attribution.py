"""Self-test of per-op attribution: Spark metrics are read per job group,
so a scan-only query is charged no shuffle bytes, and a query with an
Exchange is charged the bytes it shuffled, even when another group's
shuffle ran just before it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [p for p in (os.path.dirname(BENCH), BENCH) if p not in sys.path]

from harness import drain_listener, plan_counts, stage_metrics  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    import run

    run.pin_environment()
    from active_query_optimizer_spark.session import get_spark

    session = get_spark("perfbench-selftest", cpus=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("attrib") / "t.parquet")
    spark.range(0, 20_000, numPartitions=4).selectExpr(
        "id", "id % 7 AS k").write.parquet(path)
    return path


def _run(spark, group: str, df):
    spark.sparkContext.setJobGroup(group, group)
    df.collect()
    drain_listener(spark)
    return stage_metrics(spark, group), plan_counts(df)


def test_scan_only_query_attributes_no_shuffle(spark, table):
    metrics, plan = _run(spark, "selftest-scan",
                         spark.read.parquet(table).where("k = 3"))
    assert metrics["execution.jobs"] >= 1
    assert metrics["execution.tasks"] >= 1
    assert metrics["execution.shuffle_write_bytes"] == 0
    assert metrics["execution.shuffle_read_bytes"] == 0
    assert plan["planner.exchanges"] == 0


def test_exchange_query_attributes_its_shuffle(spark, table):
    metrics, plan = _run(spark, "selftest-exchange",
                         spark.read.parquet(table).groupBy("k").count())
    assert plan["planner.exchanges"] >= 1
    assert metrics["execution.shuffle_write_bytes"] > 0
    assert metrics["execution.shuffle_read_bytes"] > 0
    # a scan right after the shuffle is still charged nothing
    after, _ = _run(spark, "selftest-scan-after",
                    spark.read.parquet(table).where("k = 1"))
    assert after["execution.shuffle_write_bytes"] == 0
    assert after["execution.shuffle_read_bytes"] == 0


def test_unknown_group_attributes_nothing(spark):
    metrics = stage_metrics(spark, "selftest-never-ran")
    assert metrics["execution.jobs"] == 0
    assert metrics["execution.tasks"] == 0
