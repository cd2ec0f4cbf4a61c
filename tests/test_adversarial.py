"""The WCC pipeline on seeded adversarial graphs
(``sources.synthetic.adversarial_graph``): cliques joined by bridges,
stars, exact (cc, vt) ties, many components, pruned and vanishing
vertices, self-loops, duplicate edges, the empty graph, a triangle-free
graph and a single triangle, two seeds each.

* The small-state tier's triangle kernel emits the rows Spark's
  ``triangles()`` emits, and the plain-Python reference's triangles;
  it stops at its cap, and the graph then loads on Spark.
* ``run_wcc`` equals ``pywcc_oracle.run_wcc_oracle`` in labels, rounds
  and WCC history: on the task tier graph by graph, and on both loops
  (``each_loop``) over the disjoint union of all of them (one run per
  loop keeps the Spark loop's share of the suite small).
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from community_detection_flink_spark.operators import task_tier
from community_detection_flink_spark.operators.refinement import load_graph, run_wcc
from community_detection_flink_spark.operators.triangles import triangles
from community_detection_flink_spark.plans.iteration import Materializer
from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.sources.synthetic import (
    ADVERSARIAL,
    adversarial_graph,
)

import pywcc_oracle as oracle

GRAPHS = {f"{kind}-{seed}": adversarial_graph(kind, seed)
          for kind in ADVERSARIAL for seed in (1, 2)}
# ids of the i-th graph in the disjoint union are shifted by i * _SHIFT
# (every generated id is below it), which keeps their order
_SHIFT = 1 << 20


def _union():
    return [(a + i * _SHIFT, b + i * _SHIFT)
            for i, pairs in enumerate(GRAPHS.values()) for a, b in pairs]


def _doubled(pairs):
    adj = oracle.symmetrize(pairs)
    return sorted((u, v) for u in adj for v in adj[u])


def _kernel(pairs, cap=task_tier.TASK_ROWS):
    doubled = _doubled(pairs)
    src = np.array([e[0] for e in doubled], np.int64)
    dst = np.array([e[1] for e in doubled], np.int64)
    ids = np.unique(src)
    return ids, task_tier._triangles(ids, src, dst, cap)


def _kernel_rows(pairs):
    ids, (u, v, w) = _kernel(pairs)
    return set(zip(ids[u].tolist(), ids[v].tolist(), ids[w].tolist()))


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_triangle_kernel_matches_the_reference(name):
    pairs = GRAPHS[name]
    got = _kernel_rows(pairs)
    want = oracle._triangles(oracle.symmetrize(pairs))[0]
    assert len(want) == len(set(want))
    assert got == set(want)


def test_triangle_kernel_matches_spark(spark):
    """Spark's ``triangles()`` on the disjoint union of every graph
    emits the kernel's rows (degrees and id order are per component)."""
    union = _union()
    edges = spark.createDataFrame(_doubled(union), "src LONG, dst LONG")
    got = {tuple(r) for r in triangles(edges).collect()}
    assert got == _kernel_rows(union)
    assert len(got) == sum(len(_kernel_rows(p)) for p in GRAPHS.values())


def test_triangle_kernel_stops_at_its_cap():
    pairs = GRAPHS["bridged_cliques-1"]
    n_tri = len(_kernel_rows(pairs))
    assert n_tri > 1
    assert _kernel(pairs, n_tri)[1] is None
    assert len(_kernel(pairs, n_tri + 1)[1][0]) == n_tri


def _assert_same(res, ora):
    assert {r.vId: r.cId for r in res.communities.collect()} == ora["communities"]
    assert res.vertex_count == ora["vertex_count"]
    assert res.iterations == ora["rounds"]
    assert res.global_wcc == pytest.approx(ora["global_wcc"], abs=1e-9)
    history = res.wcc_history or []
    assert len(history) == len(ora["wcc_history"])
    for a, b in zip(history, ora["wcc_history"]):
        assert a == pytest.approx(b, abs=1e-9)


def test_run_wcc_matches_oracle_per_graph(spark):
    for name, pairs in GRAPHS.items():
        res = run_wcc(symmetrize_edges(
            spark.createDataFrame(pairs, "src LONG, dst LONG")
        ))
        if res.vertex_count:
            assert (res.report["graph"], res.report["refinement"]) == ("task", "task")
        _assert_same(res, oracle.run_wcc_oracle(pairs))
        res.mat.cleanup()


def test_run_wcc_matches_oracle_on_the_union(spark, each_loop):
    union = _union()
    ora = oracle.run_wcc_oracle(union)
    for loop in each_loop():
        res = run_wcc(symmetrize_edges(
            spark.createDataFrame(union, "src LONG, dst LONG")
        ))
        assert res.report["graph"] == res.report["election"] == loop
        assert res.report["refinement"] == loop
        _assert_same(res, ora)
        res.mat.cleanup()


def test_graph_task_gate_counts_the_triangles(spark, monkeypatch):
    """|E| fits but |E| + |tri| does not: the graph task gives up, the
    graph loads on Spark with nothing of the task left landed, and the
    result is the oracle's (one more row of room takes the task, see
    the kernel's cap above and the per-graph runs)."""
    pairs = GRAPHS["bridged_cliques-1"]
    monkeypatch.setattr(task_tier, "TASK_ROWS", len(_doubled(pairs)) + len(_kernel_rows(pairs)))
    res = run_wcc(symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG")))
    assert res.report["graph"] == "spark"
    _assert_same(res, oracle.run_wcc_oracle(pairs))
    assert "graph" not in {p.rsplit("-", 1)[0] for p in os.listdir(res.mat.base)}
    res.mat.cleanup()


def test_given_triangles_load_alike_on_both_loops(spark, monkeypatch):
    """``load_graph(tri=...)`` gates on |E| + the given list's count,
    and the task loads the tables and counts Spark's ``preprocess``
    derives from that list."""
    pairs = GRAPHS["bridged_cliques-1"]
    edges = symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG"))
    n_edges, n_tri = len(_doubled(pairs)), len(_kernel_rows(pairs))
    mat = Materializer(spark)
    got = {}
    for limit, loop in ((n_edges + n_tri + 1, "task"), (n_edges + n_tri, "spark")):
        monkeypatch.setattr(task_tier, "TASK_ROWS", limit)
        got[loop] = g = load_graph(edges, mat, tri=triangles(edges))
        assert g.loop == loop and g.tri_count == n_tri
    task, want = got["task"], got["spark"]
    assert (task.clean_edge_count, task.vertex_count) == (want.clean_edge_count, want.vertex_count)
    assert task.cc_sum == pytest.approx(want.cc_sum, abs=1e-12)
    for table in ("tri", "vertices", "clean_edges"):
        assert sorted(map(tuple, getattr(task, table).collect())) == \
            sorted(map(tuple, getattr(want, table).collect()))
    mat.cleanup()
