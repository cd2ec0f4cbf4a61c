"""The WCC kernels against the plain-Python reference.

``community_stats``, ``global_wcc`` and ``best_movement`` each have one
Spark path: the labeling's ``community_adjacency`` relation plus the
static triangle list.  On two graphs — the golden graph labeled
``vId % 3``, and the ring of cliques under its initial partition, whose
movement decides exact ties — every kernel must reproduce
``pywcc_oracle``: stats and labels exactly, WCC to rel 1e-9.  Both
sides start from the reference's own preprocessing, so only the
kernels are compared.
"""

from __future__ import annotations

import pytest

from community_detection_flink_spark.operators.community import (
    best_movement,
    community_adjacency,
    community_stats,
    global_wcc,
)
from community_detection_flink_spark.plans.iteration import Materializer

import pywcc_oracle as oracle
from test_movement_rounds import _ring_of_cliques


@pytest.fixture(params=["golden", "ring_of_cliques"])
def case(request, spark):
    if request.param == "golden":
        pairs = [tuple(r) for r in request.getfixturevalue("golden_edges").collect()]
    else:
        pairs = _ring_of_cliques()
    adj = oracle.symmetrize(pairs)
    clean, t, vt, cc, tri = oracle.preprocess(adj)
    if request.param == "golden":
        labels = {v: v % 3 for v in clean}
    else:
        labels = oracle.initial_partition(clean, vt, cc)
    vertex_count = len(adj)
    vertices = spark.createDataFrame(
        [(v, t[v], vt[v], cc[v], labels[v]) for v in sorted(clean)],
        "vId LONG, t INT, vt INT, cc DOUBLE, cId LONG",
    )
    edges = spark.createDataFrame(
        [(v, u) for v in sorted(clean) for u in sorted(clean[v])], "src LONG, dst LONG"
    )
    tri_df = spark.createDataFrame(tri, "u LONG, v LONG, w LONG")
    want_stats = oracle.community_stats(clean, labels)
    return {
        "vertices": vertices,
        "edges": edges,
        "tri": tri_df,
        "vcd": community_adjacency(vertices, edges),
        "vertex_count": vertex_count,
        "global_cc": sum(cc[v] for v in sorted(clean)) / vertex_count,
        "oracle": (clean, labels, t, vt, tri, want_stats),
    }


def _stats_rows(df):
    return {r["cId"]: (r["r"], r["a"], r["b"], r["d"]) for r in df.collect()}


def test_community_stats_match_reference(case):
    want = {c: (r, a, b, 2.0 * a / pow(r, 2.0)) for c, (r, a, b) in case["oracle"][-1].items()}
    vertices, edges = case["vertices"], case["edges"]
    assert _stats_rows(community_stats(vertices, edges)) == want
    assert _stats_rows(community_stats(vertices, edges, vcd=case["vcd"])) == want


def test_global_wcc_matches_reference(case):
    clean, labels, t, vt, tri, stats = case["oracle"]
    want = oracle.global_wcc(clean, labels, t, vt, tri, stats, case["vertex_count"])
    cs = community_stats(case["vertices"], case["edges"], vcd=case["vcd"])
    got = global_wcc(case["vertices"], cs, case["vcd"], case["tri"], case["vertex_count"])
    assert got == pytest.approx(want, rel=1e-9)


def test_best_movement_matches_reference(case, spark, tmp_path):
    clean, labels, _, _, _, stats = case["oracle"]
    want, moves = oracle.best_movement(
        clean, labels, stats, case["global_cc"], case["vertex_count"]
    )
    mat = Materializer(spark, base_dir=str(tmp_path))
    cs = community_stats(case["vertices"], case["edges"], vcd=case["vcd"])
    moved = best_movement(
        case["vertices"], cs, case["vcd"], case["global_cc"], case["vertex_count"], mat
    )
    got = {r["vId"]: r["cId"] for r in moved.select("vId", "cId").collect()}
    mat.release()
    assert moves > 0
    assert got == want
