"""Incremental WCC tests (SURVEY.md §5.4: incremental ≍ batch)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

import community_detection_flink_spark.operators.incremental as inc
from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.operators.incremental import (
    INCREMENTAL_ROUNDS,
    incremental_delete,
    incremental_update,
    prepare,
)
from community_detection_flink_spark.operators.preprocess import preprocess
from community_detection_flink_spark.streaming.incremental_stream import (
    run_edge_batches,
    split_bulk_stream,
)

import pywcc_oracle as oracle


def _random_graph(n=40, communities=2, p_in=0.5, p_out=0.03, seed=7):
    rng = random.Random(seed)
    size = n // communities
    edges = set()
    for i in range(n):
        for j in range(i + 1, n):
            p = p_in if i // size == j // size else p_out
            if rng.random() < p:
                edges.add((i, j))
    return sorted(edges)


def _labels(state):
    return {r.vId: r.cId for r in state.vertices.select("vId", "cId").collect()}


def _assert_matches_oracle(state, want):
    assert _labels(state) == want["communities"]
    assert {r.cId: (r.r, r.a, r.b) for r in state.stats.collect()} == want["stats"]
    assert state.vertex_count == want["vertex_count"]
    assert math.isclose(state.global_wcc, want["global_wcc"], rel_tol=1e-9)


@pytest.mark.parametrize("seed", [5, 19])
def test_whole_graph_scope_matches_oracle(spark, monkeypatch, seed):
    """The whole-graph refinement scope of one insert batch and one
    delete batch equals the plain-Python reference
    (``pywcc_oracle.incremental_batch``) exactly, label for label."""
    monkeypatch.setattr(inc, "_SCOPE_FRACTION", -1)  # probe always declines
    rng = random.Random(seed)
    old = _random_graph(n=36, communities=3, p_in=0.6, p_out=0.05, seed=seed)
    pairs_df = lambda pairs: spark.createDataFrame(pairs, "src LONG, dst LONG")
    state = prepare(symmetrize_edges(pairs_df(old)))

    # insert: a clique over three anchors of one part and four new
    # vertices, plus random edges between existing vertices
    nodes = sorted(rng.sample(range(12), 3)) + list(range(100, 104))
    ins = [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]]
    ins += [tuple(sorted(rng.sample(range(36), 2))) for _ in range(6)]
    merged = sorted(set(old) | set(ins))
    want = oracle.incremental_batch(old, merged, _labels(state), INCREMENTAL_ROUNDS)
    diag = {}
    state = incremental_update(state, pairs_df(ins), diag=diag)
    assert diag["n_scope_vertices"] is None  # whole-graph scope ran
    _assert_matches_oracle(state, want)

    # delete: the first half of the inserted edges (all in the clique)
    # and a sample of the old edges
    dels = ins[: len(ins) // 2] + rng.sample(old, 8)
    remaining = sorted(set(merged) - set(dels))
    want = oracle.incremental_batch(merged, remaining, _labels(state), INCREMENTAL_ROUNDS)
    diag = {}
    state = incremental_delete(state, pairs_df(dels), diag=diag)
    assert diag["n_scope_vertices"] is None
    _assert_matches_oracle(state, want)


def test_incremental_triangles_match_batch(spark):
    """After merging a batch, per-vertex t / vt / cleaned edges must
    EXACTLY match a from-scratch batch computation on the merged graph
    (our triangle maintenance is exact; the reference's is not)."""
    all_edges = _random_graph()
    cut = int(len(all_edges) * 0.7)
    base = spark.createDataFrame(all_edges[:cut], "src LONG, dst LONG")
    batch = spark.createDataFrame(all_edges[cut:], "src LONG, dst LONG")

    state = prepare(symmetrize_edges(base))
    state = incremental_update(state, batch)

    merged = symmetrize_edges(
        spark.createDataFrame(all_edges, "src LONG, dst LONG")
    )
    bv, be = preprocess(merged)
    batch_metrics = {r["vId"]: (r["t"], r["vt"]) for r in bv.collect()}
    inc_metrics = {
        r["vId"]: (r["t"], r["vt"])
        for r in state.vertices.where(F.col("t") > 0).collect()
    }
    assert inc_metrics == batch_metrics
    assert sorted(map(tuple, state.clean_edges.collect())) == sorted(
        map(tuple, be.collect())
    )


@pytest.mark.slow
def test_incremental_new_vertices_join(spark, golden_edges):
    """Attach a new 4-clique sharing one vertex with clique B."""
    state = prepare(symmetrize_edges(golden_edges))
    newc = [(7, 10), (7, 11), (7, 12), (10, 11), (10, 12), (11, 12)]
    state = incremental_update(
        state, spark.createDataFrame(newc, "src LONG, dst LONG")
    )
    got = {r["vId"]: r["cId"] for r in state.vertices.collect()}
    assert set(got) == set(range(8)) | {10, 11, 12}
    # old clique A untouched
    assert {got[v] for v in (0, 1, 2, 3)} == {3}
    # the new clique and clique B each form a community; vertex 7 joins one
    assert got[10] == got[11] == got[12]
    assert got[4] == got[5] == got[6]
    assert state.vertex_count == 11
    assert state.global_wcc > 0


@pytest.mark.slow
def test_run_edge_batches_invariants(spark):
    edges = spark.createDataFrame(_random_graph(n=30), "src LONG, dst LONG")
    sym = symmetrize_edges(edges)
    state = run_edge_batches(sym, bulk_to_stream_ratio=0.7, n_batches=2)
    rows = state.vertices.collect()
    vids = {r["vId"] for r in rows}
    assert {r["cId"] for r in rows} <= vids
    assert state.vertex_count == len(vids)
    # all vertices of the full graph present
    assert vids == {r["vId"] for r in sym.select(F.col("src").alias("vId")).distinct().collect()}


def test_split_bulk_stream_partitions_edges(spark, golden_edges):
    sym = symmetrize_edges(golden_edges)
    bulk, stream, split = split_bulk_stream(sym, 0.8)
    assert bulk.count() + stream.count() == sym.count()
    assert bulk.where((F.col("src") >= split) | (F.col("dst") >= split)).count() == 0
