"""Scoped (batch-neighborhood) incremental refinement — VERDICT r3 #2/#3.

Three claims, each pinned:

* SPLICE EXACTNESS — after a scoped batch, the carried community stats
  and per-community WCC sums must equal a from-scratch recomputation on
  the final labeling (the "communities outside the neighborhood are
  invariant" algebra is exact, not approximate).
* LOCALITY — on a localized batch the scope telemetry must stay a
  small fraction of the graph (the whole point of the scoped path).
* PARITY — from a movement-converged prior state, the scoped rounds
  and the reference-shaped whole-graph rounds
  (``IncrementalWCC.scala:332-393``) produce the same labeling.  The
  whole-graph scope is forced by setting ``_SCOPE_FRACTION`` below 0,
  so the scope probe always declines.
"""

from __future__ import annotations

import pytest

import math
import random

from pyspark.sql import functions as F

import community_detection_flink_spark.operators.incremental as inc
from community_detection_flink_spark.operators.community import (
    community_stats,
    community_adjacency,
    wccv_by_community,
)
from community_detection_flink_spark.operators.incremental import (
    incremental_delete,
    incremental_update,
    prepare,
)
from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.streaming.incremental_stream import (
    localized_batches,
)


def _community_graph(n_comms=6, size=6, seed=11):
    """Dense clusters with sparse bridges — many well-separated
    communities, so a localized batch has somewhere NOT to reach."""
    rng = random.Random(seed)
    edges = set()
    for c in range(n_comms):
        ids = list(range(c * size, (c + 1) * size))
        for i, u in enumerate(ids):
            for v in ids[i + 1 :]:
                if rng.random() < 0.85:
                    edges.add((u, v))
    for c in range(n_comms - 1):
        edges.add((c * size, (c + 1) * size))
    return sorted(edges)


def _graph_df(spark, seed=11):
    return symmetrize_edges(
        spark.createDataFrame(_community_graph(seed=seed), "src LONG, dst LONG")
    )


def _anchored_batch(spark, anchors, new_ids):
    nodes = list(anchors) + list(new_ids)
    return spark.createDataFrame(
        [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]],
        "src LONG, dst LONG",
    )


def _recomputed_stats(state):
    clean = state.vertices.where(F.col("t") > 0)
    return community_stats(clean, state.clean_edges)


def _recomputed_wccv(state):
    clean = state.vertices.where(F.col("t") > 0)
    vcd = community_adjacency(clean, state.clean_edges)
    cs = community_stats(clean, state.clean_edges, vcd=vcd)
    return wccv_by_community(clean, cs, vcd, state.tri)


def _stats_map(df):
    return {r.cId: (r.r, r.a, r.b) for r in df.collect()}


def _wccv_map(df):
    return {r.cId: (r.s, r.n) for r in df.collect()}


def _assert_splice_exact(state):
    """Carried stats == from-scratch recomputation, bit-exact on
    (r, a, b) and within float-sum noise on the WCC sums, and the
    scalar the next batch consumes is the sum of the carried table."""
    assert _stats_map(state.stats) == _stats_map(_recomputed_stats(state))
    got = _wccv_map(state.wccv)
    want = _wccv_map(_recomputed_wccv(state))
    assert set(got) == set(want)
    for c, (s, n) in want.items():
        assert got[c][1] == n
        assert math.isclose(got[c][0], s, rel_tol=1e-9, abs_tol=1e-12)
    assert math.isclose(
        state.global_wcc,
        sum(s for s, _ in want.values()) / state.vertex_count,
        rel_tol=1e-9,
    )


def _whole_graph_update(monkeypatch, state, batch, **kw):
    with monkeypatch.context() as m:
        m.setattr(inc, "_SCOPE_FRACTION", -1)  # the scope probe always declines
        return incremental_update(state, batch, **kw)


def test_scoped_locality(spark):
    """A batch anchored in one community must scope to a small
    neighborhood — not the graph — and the carried-stat splice must
    equal a from-scratch recomputation."""
    state = prepare(_graph_df(spark))
    n_vertices = state.vertex_count
    batch = _anchored_batch(spark, [0, 1, 2], range(100, 108))
    diag = {}
    state = incremental_update(state, batch, diag=diag)
    # affected = the anchor community + one singleton label per new
    # vertex; scope = its members + boundary + their communities
    assert diag["n_affected_comms"] <= 8 + 2  # 8 new ids + anchor slack
    assert diag["n_scope_vertices"] < n_vertices  # strictly local
    assert diag["n_scope_vertices"] <= 2 * 6 + 8 + 6  # ≤ ~2 communities + batch
    assert diag["refine_rounds"] >= 1
    _assert_splice_exact(state)


def test_empty_state_grows_by_insert(spark):
    """``prepare`` of an empty edge set gives an empty state; a delete
    on it changes nothing, and an insert grows it exactly: carried
    stats and WCC sums equal a recomputation, and the global WCC is
    the plain-Python reference's score of the labels."""
    import pywcc_oracle as oracle

    state = prepare(symmetrize_edges(spark.createDataFrame([], "src LONG, dst LONG")))
    assert state.vertex_count == 0 and state.tri.count() == 0
    assert state.wccv.count() == 0
    state = incremental_delete(
        state, spark.createDataFrame([(1, 2)], "src LONG, dst LONG")
    )
    assert state.vertex_count == 0 and state.global_wcc == 0.0

    clique = [(u, v) for u in range(5) for v in range(u + 1, 5)]
    state = incremental_update(
        state, spark.createDataFrame(clique + [(7, 8)], "src LONG, dst LONG")
    )
    assert state.vertex_count == 7
    _assert_splice_exact(state)
    labels = {r.vId: r.cId for r in state.vertices.collect()}
    clean_adj, t, vt, _, tri = oracle.preprocess(oracle.symmetrize(clique + [(7, 8)]))
    clean_labels = {v: labels[v] for v in clean_adj}
    stats = oracle.community_stats(clean_adj, clean_labels)
    want = oracle.global_wcc(clean_adj, clean_labels, t, vt, tri, stats, 7)
    assert want > 0
    assert math.isclose(state.global_wcc, want, rel_tol=1e-9)


def test_localized_batches_shape(spark):
    """Generator contract: deterministic, anchored, disjoint new ids."""
    state = prepare(_graph_df(spark))
    state.max_vertex = 35
    batches = list(localized_batches(state, n_batches=2, new_per_batch=5))
    assert len(batches) == 2
    seen_new = set()
    for b in batches:
        ids = {r.src for r in b.collect()} | {r.dst for r in b.collect()}
        new = {i for i in ids if i > 35}
        assert len(new) == 5
        assert not (new & seen_new)
        seen_new |= new
        anchors = ids - new
        assert 1 <= len(anchors) <= 3
        # anchors all drawn from ONE community
        labs = {
            r.cId
            for r in state.vertices.where(F.col("vId").isin(list(anchors))).collect()
        }
        assert len(labs) == 1


@pytest.mark.slow
def test_scoped_matches_full_after_convergence(spark, monkeypatch):
    """From a movement-converged prior state, scoped rounds == the
    reference-shaped whole-graph rounds: every out-of-scope vertex is
    at a fixed point of the pass, so the whole-graph pass decides STAY
    for it and both modes evolve identical stats."""
    state = prepare(_graph_df(spark, seed=23))
    # drive the prior state to a movement fixed point (the bulk
    # accept-if-improved loop may end one rejected pass early)
    b0 = _anchored_batch(spark, [6, 7, 8], range(200, 206))
    state = _whole_graph_update(monkeypatch, state, b0, rounds=50)

    b1 = _anchored_batch(spark, [0, 1, 2], range(300, 308))
    scoped = incremental_update(state, b1)
    full = _whole_graph_update(monkeypatch, state, b1)

    got = {r.vId: r.cId for r in scoped.vertices.collect()}
    want = {r.vId: r.cId for r in full.vertices.collect()}
    assert got == want
    assert math.isclose(scoped.global_wcc, full.global_wcc, rel_tol=1e-9)
    assert _stats_map(scoped.stats) == _stats_map(full.stats)


@pytest.mark.slow
def test_scoped_delete_splice_exact(spark):
    """The delete path's scoped splice (pre-delete affected labels,
    singleton reversions) stays exact against recomputation."""
    state = prepare(_graph_df(spark))
    batch = _anchored_batch(spark, [0, 1, 2], range(100, 108))
    state = incremental_update(state, batch)
    # delete every batch edge incident to an even new vertex
    dels = batch.where(
        ((F.col("src") >= 100) & (F.col("src") % 2 == 0))
        | ((F.col("dst") >= 100) & (F.col("dst") % 2 == 0))
    )
    diag = {}
    state = incremental_delete(state, dels, diag=diag)
    assert diag["n_scope_vertices"] is not None

    assert _stats_map(state.stats) == _stats_map(_recomputed_stats(state))
    got = _wccv_map(state.wccv)
    want = _wccv_map(_recomputed_wccv(state))
    assert set(got) == set(want)
    for c, (s, n) in want.items():
        assert got[c][1] == n
        assert math.isclose(got[c][0], s, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.slow
def test_scoped_delete_kills_whole_community(spark):
    """Ghost-community regression (ADVICE r4, medium): delete EVERY
    edge of one community so all its triangles die and every member
    reverts to t=0.  Pre-fix, ``dropped_old`` was derived only from
    clean members still in V_R, so the died-out community's carried
    (r,a,b,d)/(s,n) rows were never removed and poisoned every later
    scoped splice.  The fix unions the pre-batch affected labels into
    the drop set."""
    state = prepare(_graph_df(spark))
    dead_ids = list(range(30, 36))  # the last community, bridge-light
    dead_comms = {
        r.cId
        for r in state.vertices.where(F.col("vId").isin(dead_ids)).collect()
    }
    dels = state.clean_edges.where(
        F.col("src").isin(dead_ids) & F.col("dst").isin(dead_ids)
    )
    diag = {}
    state = incremental_delete(state, dels, diag=diag)
    assert diag["n_scope_vertices"] is not None  # scoped path engaged

    # every member reverted to a singleton
    reverted = {
        r.vId: (r.t, r.cId)
        for r in state.vertices.where(F.col("vId").isin(dead_ids)).collect()
    }
    assert all(t == 0 and c == v for v, (t, c) in reverted.items())
    # the dead community's rows are GONE from the carried tables
    carried = {r.cId for r in state.stats.select("cId").collect()}
    assert not (carried & dead_comms)
    assert _stats_map(state.stats) == _stats_map(_recomputed_stats(state))
    got = _wccv_map(state.wccv)
    want = _wccv_map(_recomputed_wccv(state))
    assert set(got) == set(want)
    for c, (s, n) in want.items():
        assert got[c][1] == n
        assert math.isclose(got[c][0], s, rel_tol=1e-9, abs_tol=1e-12)

    # a FOLLOW-UP scoped batch splices against the repaired carried
    # state and stays exact (the pre-fix poison propagated here)
    batch = _anchored_batch(spark, [0, 1, 2], range(400, 406))
    state = incremental_update(state, batch)
    assert _stats_map(state.stats) == _stats_map(_recomputed_stats(state))
    got = _wccv_map(state.wccv)
    want = _wccv_map(_recomputed_wccv(state))
    assert set(got) == set(want)
    for c, (s, n) in want.items():
        assert math.isclose(got[c][0], s, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.slow
def test_scoped_vs_full_on_reference_graph(spark, monkeypatch):
    """VERDICT r3 #2 'Done' criterion on the reference's OWN graph
    (SNAP email-Eu-core).  The graph is small-world, so the scope
    probe would normally decline a batch this central — the test
    forces the scoped path (fraction → 1.01) because what it pins is
    the ALGEBRA, not the heuristic.

    Two claims with different strengths:

    * HARD — the scoped result is internally EXACT: its spliced stats
      equal a from-scratch recomputation on its own labeling.
    * QUALITY FLOOR — scoped vs whole-graph labels agree on ≥90% of
      vertices (measured 93.4%) and land within 1% on global WCC (measured 0.6% — full mode refines
      everywhere, so it edges slightly higher).
      Exact parity does NOT hold here: on a small-world graph the
      movement pass never reaches a fixed point (moves plateau at
      ~20% of |V| — SCALING.md round-floor analysis), so the
      whole-graph rounds keep churning far labels the scoped rounds
      deliberately leave alone, plus the batch's global-scalar update
      flips marginal far decisions — both inside the reference's own
      approximation envelope (5 fixed rounds, no convergence test,
      ``IncrementalWCC.scala:332-393``), and quality-neutral by the
      WCC bound.  The synthetic fixture's exact-parity test above
      covers the converged well-separated case.
    """
    import os

    from community_detection_flink_spark.sources.edges import load_edges_csv

    ref = "/root/reference/test_graph.csv"
    if not os.path.exists(ref):  # reference absent in some environments
        import pytest

        pytest.skip("reference graph absent")
    monkeypatch.setattr(inc, "_SCOPE_FRACTION", 1.01)

    edges = symmetrize_edges(load_edges_csv(spark, ref))
    state = prepare(edges)
    # drive toward a movement fixed point so out-of-scope divergence
    # is limited to the global-scalar marginal class
    b0 = _anchored_batch(spark, [0, 1], range(2000, 2006))
    state = _whole_graph_update(monkeypatch, state, b0, rounds=50)

    b1 = _anchored_batch(spark, [2, 3, 4], range(2100, 2110))
    diag = {}
    scoped = incremental_update(state, b1, diag=diag)
    assert diag["n_scope_vertices"] is not None  # scoped path engaged

    # HARD: splice exactness on the reference graph
    assert _stats_map(scoped.stats) == _stats_map(_recomputed_stats(scoped))

    full = _whole_graph_update(monkeypatch, state, b1)
    got = {r.vId: r.cId for r in scoped.vertices.collect()}
    want = {r.vId: r.cId for r in full.vertices.collect()}
    assert set(got) == set(want)
    agree = sum(1 for v in got if got[v] == want[v]) / len(got)
    assert agree >= 0.90, f"label agreement {agree:.3f}"
    assert abs(scoped.global_wcc - full.global_wcc) <= 0.01 * full.global_wcc
