from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import SparkSession

from community_detection_flink_spark.operators import task_tier


# the reasons of the skips that a missing reference data set causes
DATA_SKIPS = ("reference graph absent", "testdata absent")


def pytest_terminal_summary(terminalreporter):
    """One counted line naming every test skipped because a reference
    data set is absent, so that those skips are not silent."""
    names = [
        rep.nodeid for rep in terminalreporter.stats.get("skipped", [])
        if any(reason in str(rep.longrepr) for reason in DATA_SKIPS)
    ]
    if names:
        terminalreporter.write_line(
            f"{len(names)} skipped for absent reference data: {', '.join(names)}"
        )


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.appName("cdfs-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode = driver and executors share one JVM whose default
        # heap is 1g; a full-suite session (130+ tests, dozens of WCC
        # pipelines) runs at that margin and was observed to OOM in a
        # plan-explain near the end — give it real headroom
        .config("spark.driver.memory", "6g")
        # fresh warehouse per test session: bucketed-table tests
        # (saveAsTable) must never collide with a previous run's
        # managed-table locations or litter the repo tree
        .config(
            "spark.sql.warehouse.dir",
            tempfile.mkdtemp(prefix="cdfs-test-warehouse-"),
        )
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def golden_edges(spark):
    """Two 4-cliques {0,1,2,3} and {4,5,6,7} bridged by edge 3-4.

    Per clique: 4 triangles, each vertex closes 3.  The bridge closes
    none, so preprocessing drops it (FIXTURES.md golden graph).
    """
    cliques = []
    for base in (0, 4):
        ids = [base + i for i in range(4)]
        cliques += [(a, b) for a in ids for b in ids if a < b]
    cliques.append((3, 4))
    return spark.createDataFrame(cliques, "src LONG, dst LONG")


@pytest.fixture()
def each_loop(monkeypatch):
    """Run a test body once per WCC loop: ``for loop in each_loop():``
    yields "task" (the small-state tier) and then "spark" (the
    distributed loop, forced by a 0-row tier threshold).  Tests assert
    through the run's report that the loop they asked for ran."""

    def loops():
        yield "task"
        # undone at the test's teardown, whether or not the body failed
        monkeypatch.setattr(task_tier, "TASK_ROWS", 0)
        yield "spark"

    return loops
