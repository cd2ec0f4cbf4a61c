"""``refinement.movement_rounds`` against the plain-Python reference.

Graphs are built here (the random one from a fixed seed), so no input
file is read.  Starting from the reference's own initial partition, the
fixed-round policy must reproduce, label for label and round for round,
iterating ``pywcc_oracle.best_movement`` with its 0-move stop; the
candidate variant with every clean vertex as a candidate must reproduce
the unscoped run.  Each test runs on both loops (``each_loop``): the
small-state tier's task and the Spark rounds.
"""

from __future__ import annotations

import random

import pytest

from community_detection_flink_spark.operators.movement import FixedRounds
from community_detection_flink_spark.operators.refinement import movement_rounds
from community_detection_flink_spark.plans.iteration import Materializer, loop_scope

import pywcc_oracle as oracle

CAP = 5


def _sbm(seed: int) -> list[tuple[int, int]]:
    """Three dense blocks of 20 plus random cross edges."""
    rng = random.Random(seed)
    edges = set()
    for c in range(3):
        ids = range(c * 20, (c + 1) * 20)
        edges |= {(i, j) for i in ids for j in ids if i < j and rng.random() < 0.4}
    for _ in range(30):
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    return sorted(edges)


def _ring_of_cliques() -> list[tuple[int, int]]:
    """Four 4-cliques in a ring; between each neighboring pair a hub
    vertex touches two members of each.  The ring is symmetric, so
    matching members of the four cliques share one (cc, vt), and each
    hub's two candidate communities score the same wccT: the election
    and the movement both decide exact ties."""
    edges = set()
    for c in range(4):
        ids = range(c * 4, c * 4 + 4)
        edges |= {(a, b) for a in ids for b in ids if a < b}
        hub = 16 + c
        for i in range(2):
            edges |= {(c * 4 + i, hub), (((c + 1) % 4) * 4 + i, hub)}
    return sorted(edges)


GRAPHS = {"sbm_seed2": _sbm(2), "ring_of_cliques": _ring_of_cliques()}


def _setup(pairs):
    adj = oracle.symmetrize(pairs)
    clean, t, vt, cc, _ = oracle.preprocess(adj)
    vertex_count = len(adj)
    global_cc = sum(cc[v] for v in sorted(clean)) / vertex_count
    labels = oracle.initial_partition(clean, vt, cc)
    return clean, t, vt, cc, labels, global_cc, vertex_count


def _reference_rounds(clean, labels, global_cc, vertex_count):
    rounds = 0
    while rounds < CAP:
        moved, moves = oracle.best_movement(
            clean, labels, oracle.community_stats(clean, labels), global_cc, vertex_count
        )
        rounds += 1
        if moves == 0:
            break
        labels = moved
    return labels, rounds


def _engine_rounds(spark, pairs, candidates_all: bool, loop: str):
    clean, t, vt, cc, labels, global_cc, vertex_count = _setup(pairs)
    mat = Materializer(spark)
    vertices = mat(
        spark.createDataFrame(
            [(v, t[v], vt[v], cc[v], labels[v]) for v in sorted(clean)],
            "vId LONG, t INT, vt INT, cc DOUBLE, cId LONG",
        ),
        "init",
    )
    edges = spark.createDataFrame(
        [(v, u) for v in sorted(clean) for u in sorted(clean[v])], "src LONG, dst LONG"
    ).repartition("src").persist()
    candidates = vertices.select("vId") if candidates_all else None
    report = {}
    try:
        n_edges = edges.count()
        with loop_scope(spark, n_edges, 4):
            cur, vcd, cs, rounds = movement_rounds(
                vertices, edges, global_cc, vertex_count, mat, FixedRounds(CAP),
                n_edges, candidates=candidates, report=report,
            )
            got = {r["vId"]: r["cId"] for r in cur.select("vId", "cId").collect()}
        vcd.unpersist()
        cs.unpersist()
    finally:
        edges.unpersist()
        mat.cleanup()
    assert report["refinement"] == loop
    assert len(report["moves"]) == rounds
    return got, rounds


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_fixed_rounds_match_reference(spark, name, each_loop):
    pairs = GRAPHS[name]
    clean, _, _, _, labels, global_cc, vertex_count = _setup(pairs)
    want, want_rounds = _reference_rounds(clean, labels, global_cc, vertex_count)
    for loop in each_loop():
        got, rounds = _engine_rounds(spark, pairs, candidates_all=False, loop=loop)
        assert rounds == want_rounds
        assert got == want


def test_all_candidates_match_unscoped(spark, each_loop):
    pairs = GRAPHS["ring_of_cliques"]
    for loop in each_loop():
        unscoped = _engine_rounds(spark, pairs, candidates_all=False, loop=loop)
        scoped = _engine_rounds(spark, pairs, candidates_all=True, loop=loop)
        assert scoped == unscoped
