"""An incremental batch on both of its loops, against each other and
against the plain-Python reference (``pywcc_oracle.incremental_batch``,
which writes the neighbourhood scope out from ``operators/incremental.py``'s
docstrings and shares no code with the engine).

The small-state tier runs a whole batch in one task (merge, election,
scope, fixed rounds, stats and WCC sums recomputed); the Spark loop
(``each_loop``'s forced ``TASK_ROWS = 0``) merges with joins, splices the
carried stats and WCC sums, and runs both scopes.  One graph per seed,
the disjoint union of ``test_incremental_localized._community_graph`` and
five adversarial graphs, is prepared once; from that state each loop
takes an insert (scoped), a delete (the whole graph) and a CDC batch
(inserts, deletes and three U rows: a U of an existing edge, a U of an
absent edge, and a U and a D of one edge):

* every batch equals the reference: labels, stats, |V|, global WCC,
  rounds and the scope's sizes; the CDC batch equals the reference's
  chain delete(U) → insert(I ∪ U) → delete(D), step by step in its
  report, and its edge set holds each pair once;
* the two loops agree on the labels, the stats and WCC-sum maps, the
  report's scope and rounds, and the global WCC (to 1e-12);
* the task's recomputed stats and WCC sums equal Spark's recomputation
  from its labels (``_assert_splice_exact``), and the carried counts
  equal their tables' rows.
"""

from __future__ import annotations

import math
import random

from community_detection_flink_spark.operators.incremental import (
    _SCOPE_FRACTION,
    INCREMENTAL_ROUNDS,
    incremental_delete,
    incremental_update,
    prepare,
)
from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.sources.synthetic import adversarial_graph
from community_detection_flink_spark.streaming.incremental_stream import apply_cdc_batch

import pytest
import pywcc_oracle as oracle
from test_incremental_localized import (
    _assert_splice_exact,
    _community_graph,
    _stats_map,
    _wccv_map,
)

KINDS = ("bridged_cliques", "ties", "components", "planted", "isolated")
_SHIFT = 1 << 20  # the i-th graph's ids are shifted by (i + 1) * _SHIFT


def _graph(seed):
    pairs = list(_community_graph(seed=10 + seed))
    for i, kind in enumerate(KINDS):
        pairs += [(a + (i + 1) * _SHIFT, b + (i + 1) * _SHIFT)
                  for a, b in adversarial_graph(kind, seed)]
    return pairs


def _undirected(pairs):
    return {tuple(sorted(p)) for p in pairs if p[0] != p[1]}


def _batches(pairs, seed):
    """An insert anchored in one community of the community graph, a
    delete of a third of every graph's edges, and a CDC file that closes
    a triangle beside one community, deletes two edges and updates
    three: one present, one absent, and one present that the file also
    deletes (the last is among the deletes)."""
    rng = random.Random(seed)
    nodes = [0, 1, 2] + list(range(5000, 5006))
    ins = [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1:]]
    dels = rng.sample(sorted(_undirected(pairs)), len(_undirected(pairs)) // 3)
    cdc_ins = [(12, 6000), (13, 6000), (12, 13)]
    left = sorted(_undirected(pairs) | _undirected(ins))
    cdc_dels = rng.sample([e for e in left if e[0] < 36 and e not in dels], 2)
    present = [e for e in left if e[0] < 36 and e not in dels and e not in cdc_dels]
    u_present, u_deleted = rng.sample(present, 2)
    absent = [(a, b) for a in range(36) for b in range(a + 1, 36)
              if (a, b) not in set(left) - set(dels)]
    cdc_ups = [u_present, rng.choice(absent), u_deleted]
    return ins, dels, cdc_ins, cdc_dels + [u_deleted], cdc_ups


def _labels(state):
    return {r.vId: r.cId for r in state.vertices.select("vId", "cId").collect()}


def _assert_matches(state, want):
    assert _labels(state) == want["communities"]
    assert _stats_map(state.stats) == want["stats"]
    assert state.vertex_count == want["vertex_count"]
    assert math.isclose(state.global_wcc, want["global_wcc"], rel_tol=1e-9)
    report = state.report
    assert report["rounds"] == want["rounds"]
    assert report["scope_vertices"] == want["scope_vertices"]
    assert report["affected_vertices"] == want["affected_vertices"]


def _snapshot(state):
    assert state.tri_count == state.tri.count()
    assert state.clean_edge_count == state.clean_edges.count()
    assert state.edges.count() == state.edges.distinct().count()
    report = state.report
    return dict(
        labels=_labels(state), stats=_stats_map(state.stats), wccv=_wccv_map(state.wccv),
        wcc=state.global_wcc, scope=report["scope_vertices"], rounds=report["rounds"],
    )


# seed 2 repeats the certification on other graphs and batches; its
# forced-Spark run makes it slow
@pytest.mark.parametrize("seed", [1, pytest.param(2, marks=pytest.mark.slow)])
def test_both_loops_match_the_reference_in_both_scopes(spark, seed, each_loop):
    pairs = _graph(seed)
    ins, dels, cdc_ins, cdc_dels, cdc_ups = _batches(pairs, seed)
    pairs_df = lambda p: spark.createDataFrame(p, "src LONG, dst LONG")
    cdc = spark.createDataFrame(
        [(a, b, "I") for a, b in cdc_ins] + [(a, b, "D") for a, b in cdc_dels]
        + [(a, b, "U") for a, b in cdc_ups],
        "src LONG, dst LONG, op STRING",
    )
    # both loops start from one prepared state, and the reference's
    # chain from its labels; each reference step starts from its own.
    # The CDC file is three steps: delete(U), insert(I ∪ U), delete(D)
    prepared = prepare(symmetrize_edges(pairs_df(pairs)))
    after_ins = pairs + ins
    after_del = sorted(_undirected(after_ins) - set(dels))
    after_cdc_u = sorted(set(after_del) - set(cdc_ups))
    after_cdc_ins = after_cdc_u + cdc_ins + cdc_ups
    after_cdc = sorted(_undirected(after_cdc_ins) - _undirected(cdc_dels))
    want = []
    labels = _labels(prepared)
    for old, new in ((pairs, after_ins), (after_ins, after_del), (after_del, after_cdc_u),
                     (after_cdc_u, after_cdc_ins), (after_cdc_ins, after_cdc)):
        want.append(oracle.incremental_batch(
            old, new, labels, INCREMENTAL_ROUNDS, _SCOPE_FRACTION
        ))
        labels = want[-1]["communities"]
    # the insert is scoped, the delete reaches most of the graph
    assert want[0]["scope_vertices"] is not None and want[1]["scope_vertices"] is None
    cdc_steps = [
        (op, ref["affected_vertices"], ref["scope_vertices"], ref["rounds"])
        for op, ref in zip(("delete", "insert", "delete"), want[2:])
    ]
    final_edges = {(a, b) for e in after_cdc for a, b in (e, e[::-1])}

    got = {}
    for loop in each_loop():
        state, steps = prepared, []
        for step, batch, ref in (
            (incremental_update, pairs_df(ins), want[0]),
            (incremental_delete, pairs_df(dels), want[1]),
            (apply_cdc_batch, cdc, want[4]),
        ):
            state = step(state, batch)
            assert (state.report["election"], state.report["refinement"]) == (loop, loop)
            _assert_matches(state, ref)
            if loop == "task":
                _assert_splice_exact(state)
            steps.append(_snapshot(state))
        assert [(s["op"], s["affected_vertices"], s["scope_vertices"], s["rounds"])
                for s in state.report["steps"]] == cdc_steps
        assert {(r.src, r.dst) for r in state.edges.collect()} == final_edges
        got[loop] = steps
    prepared.mat.cleanup()

    for task, spark_ in zip(got["task"], got["spark"]):
        for key in ("labels", "stats", "scope", "rounds"):
            assert task[key] == spark_[key]
        assert task["wccv"].keys() == spark_["wccv"].keys()
        for c, (s, n) in spark_["wccv"].items():
            assert task["wccv"][c][1] == n
            assert math.isclose(task["wccv"][c][0], s, rel_tol=1e-12, abs_tol=1e-15)
        assert math.isclose(task["wcc"], spark_["wcc"], rel_tol=1e-12)
