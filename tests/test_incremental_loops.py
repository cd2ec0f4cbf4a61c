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
    COMPACT_EVERY,
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


def _sequence(pairs, seed, n_batches=10):
    """``n_batches`` batches over ``pairs``, cycling insert, delete and
    CDC file.  An insert closes a clique over three carried vertices and
    two new ones and re-inserts up to four pairs deleted before (so a
    triangle a batch removed comes back); a delete drops five present
    pairs and one absent one; a CDC file closes a triangle on a new
    vertex, deletes two present pairs and updates three: one present,
    one absent, and one present that the file also deletes.  Returns
    ``(kind, rows, chain)``: ``rows`` the batch's ``(src, dst[, op])``
    rows, ``chain`` the edge sets after each of its reference steps."""
    rng = random.Random(seed)
    present, ever, fresh = _undirected(pairs), set(_undirected(pairs)), 7000
    out = []
    for i in range(n_batches):
        kind = ("insert", "delete", "cdc")[i % 3]
        verts = sorted({v for e in present for v in e})
        if kind == "insert":
            nodes = rng.sample(verts, 3) + [fresh, fresh + 1]
            fresh += 2
            rows = [tuple(sorted((u, v))) for j, u in enumerate(nodes) for v in nodes[j + 1:]]
            rows += rng.sample(sorted(ever - present), min(4, len(ever - present)))
            chain = [present | set(rows)]
        elif kind == "delete":
            rows = rng.sample(sorted(present), 5) + [(fresh, fresh + 1)]
            chain = [present - set(rows)]
        else:
            a, b = rng.choice(sorted(present))
            ins = [(a, fresh), (b, fresh), (a, b)]
            fresh += 1
            dels = rng.sample(sorted(present - {(a, b)}), 2)
            u_present = rng.choice(sorted(present - set(dels) - {(a, b)}))
            absent = rng.choice([(x, y) for x in verts[:30] for y in verts[:30]
                                 if x < y and (x, y) not in present])
            ups = [u_present, absent, dels[0]]
            rows = ([(*e, "I") for e in ins] + [(*e, "D") for e in dels]
                    + [(*e, "U") for e in ups])
            after_u = present - set(ups)
            after_ins = after_u | set(ins) | set(ups)
            chain = [after_u, after_ins, after_ins - set(dels)]
        present = chain[-1]
        ever |= present
        out.append((kind, rows, chain))
    return out


# the second case runs its fourth batch, an insert that re-inserts
# deleted pairs, on the Spark loop, on the gone and new rows the task
# batches left (a state that grew past the gate between compactions);
# the fifth runs on the task again.  The third runs a Spark delete and
# a Spark CDC file (three Spark batches) on the task's levels, and the
# task then reads theirs.  The fourth runs every batch on the Spark loop
@pytest.mark.parametrize("n_batches, spark_batches", [
    (10, ()),
    pytest.param(5, (4,), marks=pytest.mark.slow),
    pytest.param(6, (2, 3), marks=pytest.mark.slow),
    pytest.param(10, tuple(range(1, 11)), marks=pytest.mark.slow),
])
def test_task_loop_carries_every_batch_and_compacts_on_one_counter(
        spark, monkeypatch, n_batches, spark_batches):
    """More than ``COMPACT_EVERY`` batches (inserts, deletes and CDC
    files with U rows) against the reference chain: each batch, on
    either loop, folds its net change into one level of gone and new
    rows per carried table, and the carried tables land again only at
    the compaction batch.  After every batch the labels, stats, |V|,
    WCC, rounds and scope equal the reference; ``edges``,
    ``clean_edges`` and ``tri`` hold no duplicate row, equal the
    reference's edge set, clean edges and triangles, and each reads
    through at most one broadcast (its gone rows), however many batches
    folded in; the carried counts equal their tables' rows;
    ``pending_unions`` counts the batches since the last compaction (a
    CDC file on the Spark loop is one batch per step)."""
    import os

    from community_detection_flink_spark.operators import task_tier

    pairs = list(_community_graph(seed=3))
    batches = _sequence(pairs, seed=3, n_batches=n_batches)
    assert n_batches > COMPACT_EVERY or spark_batches
    state = prepare(symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG")))
    landed = set(os.listdir(state.mat.base))
    present, labels, pending = _undirected(pairs), _labels(state), 0
    task_rows = task_tier.TASK_ROWS
    for i, (kind, rows, chain) in enumerate(batches, start=1):
        loop = "spark" if i in spark_batches else "task"
        monkeypatch.setattr(task_tier, "TASK_ROWS", task_rows if loop == "task" else 0)
        steps = []
        for new in chain:
            steps.append(oracle.incremental_batch(
                sorted(present), sorted(new), labels, INCREMENTAL_ROUNDS, _SCOPE_FRACTION
            ))
            present, labels = new, steps[-1]["communities"]
        if kind == "cdc":
            batch = spark.createDataFrame(rows, "src LONG, dst LONG, op STRING")
            state = apply_cdc_batch(state, batch)
            assert [s["op"] for s in state.report["steps"]] == ["delete", "insert", "delete"]
            assert [(s["affected_vertices"], s["scope_vertices"], s["rounds"])
                    for s in state.report["steps"]] == [
                (w["affected_vertices"], w["scope_vertices"], w["rounds"]) for w in steps]
        else:
            step = incremental_update if kind == "insert" else incremental_delete
            state = step(state, spark.createDataFrame(rows, "src LONG, dst LONG"))
        assert state.report["refinement"] == loop
        _assert_matches(state, steps[-1])

        clean_adj, _, _, _, tri = oracle.preprocess(oracle.symmetrize(present))
        for df in (state.edges, state.clean_edges, state.tri):
            assert df.count() == df.distinct().count()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert plan.count("BroadcastExchange") <= 1
        assert {(r.src, r.dst) for r in state.edges.collect()} == {
            e for a, b in present for e in ((a, b), (b, a))}
        assert {(r.src, r.dst) for r in state.clean_edges.collect()} == {
            (v, w) for v, nbrs in clean_adj.items() for w in nbrs}
        assert {tuple(sorted(r)) for r in state.tri.collect()} == {
            tuple(sorted(t)) for t in tri}
        assert state.tri_count == state.tri.count() == len(tri)
        assert state.clean_edge_count == state.clean_edges.count()

        pending += len(state.report["steps"]) if loop == "spark" else 1
        assert state.pending_unions == pending % COMPACT_EVERY
        compacts = pending >= COMPACT_EVERY
        pending %= COMPACT_EVERY
        now = set(os.listdir(state.mat.base))
        names = {p.rsplit("-", 1)[0] for p in now - landed}
        compacted = {"inc-edges", "inc-clean", "inc-tri-static"}
        if loop == "task":
            assert names == ({"inc-batch"} | compacted if compacts else {"inc-batch"})
        else:
            assert names & compacted == (compacted if compacts else set())
        landed = now
    state.mat.cleanup()
