"""Differential certification of the WCC family (VERDICT r8 #1).

``tests/pywcc_oracle.py`` implements ``DistributedWCC.scala:34-419``
independently — single-node plain Python, no Spark, no imports from
the engine package.  These tests assert EXACT ``(vId, cId)`` equality
of full label assignments (not just counts or metrics) between the
oracle and ``run_wcc`` on:

  1. the reference's own dataset (``/root/reference/test_graph.csv``,
     SNAP email-Eu-core), and
  2. the sf0.01 co-purchase graph the registry's ``wcc_*`` queries run
     on (built here in plain Python from the lineitem parquet, mirroring
     ``sources.edges.co_purchase_edges``),

which upgrades the five rows-only ``wcc_*`` registry entries from
self-pinned invariants to genuine differential certification.  The
global-WCC trajectory (initial + every accepted round) and the round
count must agree as well; the two engines' global sums are compared at
1e-9 (summation order differs in the last ulp; every DECISION derived
from them must agree exactly or the label equality fails loudly).
"""

from __future__ import annotations

import os

import pytest

from pywcc_oracle import run_wcc_oracle

REF_GRAPH = "/root/reference/test_graph.csv"
SF001 = "/root/testdata/sf0.01"


def _assert_same_result(res, ora):
    spark_labels = {r["vId"]: r["cId"] for r in res.communities.collect()}
    assert spark_labels == ora["communities"], (
        "label assignments diverge on "
        f"{sum(1 for v, c in spark_labels.items() if ora['communities'].get(v) != c)}"
        f" of {len(spark_labels)} vertices"
    )
    assert res.vertex_count == ora["vertex_count"]
    assert res.iterations == ora["rounds"]
    assert res.global_wcc == pytest.approx(ora["global_wcc"], abs=1e-9)
    assert res.global_cc == pytest.approx(ora["global_cc"], abs=1e-9)
    assert len(res.wcc_history) == len(ora["wcc_history"])
    for a, b in zip(res.wcc_history, ora["wcc_history"]):
        assert a == pytest.approx(b, abs=1e-9)


@pytest.mark.skipif(not os.path.exists(REF_GRAPH), reason="reference graph absent")
def test_differential_snap_graph(spark):
    from community_detection_flink_spark.operators.refinement import run_wcc
    from community_detection_flink_spark.sources.edges import (
        load_edges_csv,
        symmetrize_edges,
    )

    pairs = []
    for line in open(REF_GRAPH):
        line = line.strip()
        if line:
            a, b = line.split()
            pairs.append((int(a), int(b)))
    ora = run_wcc_oracle(pairs)

    res = run_wcc(symmetrize_edges(load_edges_csv(spark, REF_GRAPH)))
    _assert_same_result(res, ora)


@pytest.mark.skipif(not os.path.exists(SF001), reason="testdata absent")
def test_differential_sf001_copurchase(spark, each_loop):
    from community_detection_flink_spark.operators.refinement import run_wcc
    from community_detection_flink_spark.sources.edges import co_purchase_edges

    # plain-Python mirror of co_purchase_edges: two parts linked iff
    # they share an order (duplicate (order, part) rows collapse first)
    import pyarrow.parquet as pq
    from collections import defaultdict

    tb = pq.read_table(
        f"{SF001}/lineitem.parquet", columns=["l_orderkey", "l_partkey"]
    ).to_pydict()
    byorder = defaultdict(set)
    for ok, pk in zip(tb["l_orderkey"], tb["l_partkey"]):
        byorder[ok].add(pk)
    pairs = []
    for parts in byorder.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                pairs.append((a, b))
    ora = run_wcc_oracle(pairs)

    for loop in each_loop():
        res = run_wcc(co_purchase_edges(spark, SF001))
        assert (res.report["election"], res.report["refinement"]) == (loop, loop)
        assert len(res.report["moves"]) == res.iterations
        _assert_same_result(res, ora)


@pytest.mark.slow
def test_differential_above_task_threshold(spark):
    """A generated graph whose clean edge set alone reaches
    ``task_tier.TASK_ROWS`` takes the distributed loop for BOTH the
    election and the refinement (the report says so), and its labels
    still equal the oracle's — the Spark loops stay certified on a
    graph the default threshold sends to them."""
    import random

    from community_detection_flink_spark.operators import task_tier
    from community_detection_flink_spark.operators.refinement import run_wcc
    from community_detection_flink_spark.sources.edges import symmetrize_edges

    # planted clusters of 20 at p_in 0.4 keep ~140 doubled clean edges
    # each, with sparse random links between clusters
    size, n_clusters = 20, task_tier.TASK_ROWS // 130 + 1
    rng = random.Random(8)
    pairs = set()
    for c in range(n_clusters):
        base = c * size
        pairs |= {
            (base + i, base + j)
            for i in range(size)
            for j in range(i + 1, size)
            if rng.random() < 0.4
        }
    n = n_clusters * size
    for _ in range(n // 4):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            pairs.add((min(u, v), max(u, v)))
    pairs = sorted(pairs)
    ora = run_wcc_oracle(pairs)

    res = run_wcc(symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG")))
    assert (res.report["election"], res.report["refinement"]) == ("spark", "spark")
    _assert_same_result(res, ora)
    res.mat.cleanup()
