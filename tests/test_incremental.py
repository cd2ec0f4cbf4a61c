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
from community_detection_flink_spark.operators.triangles import triangles
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
def test_whole_graph_scope_matches_oracle(spark, monkeypatch, seed, each_loop):
    """The whole-graph refinement scope of one insert batch and one
    delete batch equals the plain-Python reference
    (``pywcc_oracle.incremental_batch``) exactly, label for label, on
    both loops."""
    monkeypatch.setattr(inc, "_SCOPE_FRACTION", -1)  # always the whole graph
    old = _random_graph(n=36, communities=3, p_in=0.6, p_out=0.05, seed=seed)
    pairs_df = lambda pairs: spark.createDataFrame(pairs, "src LONG, dst LONG")
    for loop in each_loop():
        rng = random.Random(seed)
        state = prepare(symmetrize_edges(pairs_df(old)))

        # insert: a clique over three anchors of one part and four new
        # vertices, plus random edges between existing vertices
        nodes = sorted(rng.sample(range(12), 3)) + list(range(100, 104))
        ins = [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]]
        ins += [tuple(sorted(rng.sample(range(36), 2))) for _ in range(6)]
        merged = sorted(set(old) | set(ins))
        want = oracle.incremental_batch(old, merged, _labels(state), INCREMENTAL_ROUNDS)
        state = incremental_update(state, pairs_df(ins))
        assert state.report["scope_vertices"] is None  # whole-graph scope ran
        assert (state.report["election"], state.report["refinement"]) == (loop, loop)
        _assert_matches_oracle(state, want)

        # delete: the first half of the inserted edges (all in the clique)
        # and a sample of the old edges
        dels = ins[: len(ins) // 2] + rng.sample(old, 8)
        remaining = sorted(set(merged) - set(dels))
        want = oracle.incremental_batch(merged, remaining, _labels(state), INCREMENTAL_ROUNDS)
        state = incremental_delete(state, pairs_df(dels))
        assert state.report["scope_vertices"] is None
        assert (state.report["election"], state.report["refinement"]) == (loop, loop)
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
    bv, be = preprocess(triangles(merged))
    batch_metrics = {r["vId"]: (r["t"], r["vt"]) for r in bv.collect()}
    inc_metrics = {
        r["vId"]: (r["t"], r["vt"])
        for r in state.vertices.where(F.col("t") > 0).collect()
    }
    assert inc_metrics == batch_metrics
    assert sorted(map(tuple, state.clean_edges.collect())) == sorted(
        map(tuple, be.collect())
    )


def test_prepare_lands_only_through_its_materializer(
    spark, golden_edges, tmp_path, monkeypatch, each_loop
):
    """Every table ``prepare`` lands goes through the Materializer it
    was given, and so does every later batch of the state — an insert,
    a delete and a CDC stream batch, on both loops: no default
    checkpoint directory appears in the temp dir, and the batches'
    landings sit under the given base dir."""
    import os
    import tempfile

    from community_detection_flink_spark.plans.iteration import Materializer
    from community_detection_flink_spark.streaming.incremental_stream import (
        run_stream,
    )

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.delenv("CDFS_CHECKPOINT_DIR", raising=False)
    monkeypatch.setenv("TMPDIR", str(tmp))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    pairs_df = lambda pairs: spark.createDataFrame(pairs, "src LONG, dst LONG")
    clique = [(7, 10), (7, 11), (7, 12), (10, 11), (10, 12), (11, 12)]
    for loop in each_loop():
        ckpt = tmp_path / f"ckpt-{loop}"
        mat = Materializer(spark, base_dir=str(ckpt))
        state = prepare(symmetrize_edges(golden_edges), mat=mat)
        assert state.vertex_count == 8
        prepared = set(os.listdir(ckpt))

        state = incremental_update(state, pairs_df(clique))
        state = incremental_delete(state, pairs_df([(11, 12)]))
        src = tmp_path / f"src-{loop}"
        src.mkdir()
        spark.createDataFrame(
            [(11, 12, "I"), (0, 1, "D")], "src LONG, dst LONG, op STRING"
        ).coalesce(1).write.parquet(str(src / "b0"))
        handle = run_stream(
            spark, str(src / "b0"), state, str(tmp_path / f"stream-ckpt-{loop}"),
            cdc=True, max_files_per_trigger=1,
        )
        handle.await_termination(300)
        assert handle.query.exception() is None

        assert list(tmp.glob("cdfs-ckpt-*")) == []
        # each election's centers landing is freed once its partition landed
        assert not any(p.startswith("mis-centers") for p in os.listdir(ckpt))
        landed = set(os.listdir(ckpt)) - prepared
        names = {p.rsplit("-", 1)[0] for p in landed}
        if loop == "task":
            # each batch runs in one task: one split landing per batch
            # (the insert, the delete, and the CDC file, whose insert
            # and delete share one), its net change carried lazily
            assert names == {"inc-batch"}
            final, batches = "inc-batch", 3
        else:
            # the CDC file's insert and delete run as two batches
            assert {"inc-newe", "del-e"} <= names
            final, batches = "inc-final", 4
        # one final labeling per batch
        assert sum(p.startswith(final) for p in landed) == batches
        assert handle.state.mat is mat and handle.state.report is not None
        assert handle.state.report["refinement"] == loop


# Spark jobs of one batch on the golden graph, per loop: a scoped insert
# (a new triangle beside the graph), a delete and a CDC batch of both.
# Every count these batches branch on rides one of their landings, so a
# driver-side query added to the batch path shows here.  On the task
# loop each batch is one task and one split landing of its carried
# tables' gone and new rows; the task picks a CDC batch's steps from its
# op column, so no query runs before it, and it reads the rows the
# delete left gone too, at no join.  On the Spark loop
# (``TASK_ROWS = 0``) the merge and the tail run as joins, landings and
# the distributed rounds; each merge lands only batch-sized rows, and a
# read of a carried table after a delete pays one broadcast of its gone
# rows.
BATCH_JOBS = {
    "task": {"insert": 3, "delete": 2, "cdc": 3},
    "spark": {"insert": 91, "delete": 103, "cdc": 218},
}


def test_incremental_batches_run_the_pinned_jobs(spark, golden_edges, each_loop):
    import uuid

    from community_detection_flink_spark.streaming.incremental_stream import (
        apply_cdc_batch,
    )

    sc = spark.sparkContext

    def jobs(batch):
        group = f"inc-batch-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "one incremental batch")
        try:
            out = batch()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    pairs_df = lambda pairs: spark.createDataFrame(pairs, "src LONG, dst LONG")
    for loop in each_loop():
        state = prepare(symmetrize_edges(golden_edges))
        got = {}
        state, got["insert"] = jobs(
            lambda: incremental_update(state, pairs_df([(20, 21), (20, 22), (21, 22)]))
        )
        assert state.report["scope_vertices"] == 3  # the scoped path ran
        state, got["delete"] = jobs(lambda: incremental_delete(state, pairs_df([(0, 1)])))
        cdc = spark.createDataFrame(
            [(20, 23, "I"), (21, 23, "I"), (4, 5, "D")], "src LONG, dst LONG, op STRING"
        )
        state, got["cdc"] = jobs(lambda: apply_cdc_batch(state, cdc))
        assert got == BATCH_JOBS[loop]
        assert state.report["election"] == state.report["refinement"] == loop
        assert _labels(state) == {
            0: 1, 1: 1, 2: 1, 3: 1, 4: 5, 5: 5, 6: 5, 7: 5,
            20: 23, 21: 23, 22: 23, 23: 23,
        }


@pytest.mark.slow
def test_incremental_new_vertices_join(spark, golden_edges):
    """Attach a new 4-clique sharing one vertex with clique B."""
    state = prepare(symmetrize_edges(golden_edges))
    new_clique = [(7, 10), (7, 11), (7, 12), (10, 11), (10, 12), (11, 12)]
    state = incremental_update(
        state, spark.createDataFrame(new_clique, "src LONG, dst LONG")
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


def test_max_vertex_survives_batches(spark, golden_edges):
    """The id ceiling ``run_edge_batches`` sets is carried by every
    batch: an insert raises it to its new vertices' max, a delete and
    a CDC batch keep it (or raise it with their inserts).  An unknown
    ceiling stays unknown."""
    from community_detection_flink_spark.streaming.incremental_stream import (
        apply_cdc_batch,
    )

    pairs_df = lambda pairs: spark.createDataFrame(pairs, "src LONG, dst LONG")
    state = prepare(symmetrize_edges(golden_edges))
    assert state.max_vertex is None
    unknown = incremental_update(state, pairs_df([(30, 31), (30, 32), (31, 32)]))
    assert unknown.max_vertex is None

    state.max_vertex = 7
    state = incremental_update(state, pairs_df([(20, 21), (20, 22), (21, 22)]))
    assert state.max_vertex == 22
    state = incremental_delete(state, pairs_df([(0, 1)]))
    assert state.max_vertex == 22
    state = apply_cdc_batch(state, spark.createDataFrame(
        [(20, 23, "I"), (21, 23, "I"), (4, 5, "D")], "src LONG, dst LONG, op STRING"
    ))
    assert state.max_vertex == 23


@pytest.mark.parametrize("room, fits", [(6, False), (7, False), (8, True)])
def test_insert_past_the_tier_runs_on_spark(spark, golden_edges, monkeypatch, room, fits):
    """The insert task holds the state, the batch and the incident edges
    and its new triangles below the limit.  Here the batch is 6 rows
    (symmetrized), no carried edge touches it, and it closes 1 triangle:
    with ``room`` rows beside the state, at 6 the batch alone does not
    fit, at 7 its triangle does not, at 8 it fits.  An insert that does
    not fit gives up its one task, leaves nothing of it landed, and runs
    the Spark merge and tail instead, with the same result."""
    import os

    from community_detection_flink_spark.operators import task_tier

    state = prepare(symmetrize_edges(golden_edges))
    batch = spark.createDataFrame([(20, 21), (20, 22), (21, 22)], "src LONG, dst LONG")
    want = incremental_update(state, batch)

    def landings(name):
        return sum(p.rsplit("-", 1)[0] == name for p in os.listdir(state.mat.base))

    rows = state.vertex_count + state.clean_edge_count + state.tri_count
    monkeypatch.setattr(task_tier, "TASK_ROWS", rows + room)
    got = incremental_update(state, batch)
    assert landings("inc-batch") == 1 + fits and landings("inc-newe") == 1 - fits
    assert _labels(got) == _labels(want)
    assert (got.tri_count, got.clean_edge_count) == (want.tri_count, want.clean_edge_count)
    assert math.isclose(got.global_wcc, want.global_wcc, rel_tol=1e-12)


# the steps of each op mix, in order (``task_tier.cdc_steps``)
MIX_STEPS = {
    "I": ["insert"], "D": ["delete"], "U": ["delete", "insert"],
    "ID": ["insert", "delete"], "IU": ["delete", "insert"],
    "UD": ["delete", "insert", "delete"], "IUD": ["delete", "insert", "delete"],
}


def test_cdc_steps_run_at_most_one_insert():
    """The one step rule: the U rows' delete, the I and U rows' insert,
    then the D rows' delete, each only when it has rows — so a batch
    runs at most one insert, and no ops run no step."""
    from community_detection_flink_spark.operators.task_tier import cdc_steps

    assert cdc_steps(set()) == []
    for mix, want in MIX_STEPS.items():
        assert [op for op, _ in cdc_steps(set(mix))] == want
    assert cdc_steps({"I", "D", "U"}) == [("delete", "U"), ("insert", "IU"), ("delete", "D")]


def test_cdc_batch_the_task_declines(spark, golden_edges, each_loop):
    """The task declines what it cannot apply: on an unknown op (NULL
    too) it lands nothing, and the driver's ops query raises, on both
    loops.  An empty batch runs no step and returns the state itself.
    Either way no ``inc-batch`` landing is left and the state is
    unchanged."""
    import os

    from community_detection_flink_spark.streaming.incremental_stream import (
        apply_cdc_batch,
    )

    cases = [
        ([(0, 1, "X")], "unknown op 'X'"),
        ([(0, 1, "I"), (0, 2, None)], "unknown op None"),
        ([(0, 1, "I"), (0, 2, "X")], "unknown op 'X'"),
        ([], None),
    ]
    for loop in each_loop():
        state = prepare(symmetrize_edges(golden_edges))
        before = (sorted(os.listdir(state.mat.base)), _labels(state), state.global_wcc)
        for rows, error in cases:
            batch = spark.createDataFrame(rows, "src LONG, dst LONG, op STRING")
            if error is None:
                assert apply_cdc_batch(state, batch) is state
            else:
                with pytest.raises(ValueError, match=error):
                    apply_cdc_batch(state, batch)
            assert not any(p.startswith("inc-batch") for p in os.listdir(state.mat.base))
            assert (sorted(os.listdir(state.mat.base)), _labels(state),
                    state.global_wcc) == before


@pytest.mark.slow  # ~2 min: 14 steps on the Spark loop
def test_cdc_steps_are_the_same_on_both_loops(spark, golden_edges, each_loop):
    """Over every mix of I, D and U rows, ``report["steps"]`` lists the
    steps of the one rule, in order, on both loops: the task picks them
    from the op column, the Spark loop from its ops query."""
    from community_detection_flink_spark.streaming.incremental_stream import (
        apply_cdc_batch,
    )

    # an insert beside clique A, a delete in clique B, an update of a
    # present edge of clique A
    rows = {"I": (0, 20), "D": (4, 5), "U": (1, 2)}
    got = {}
    for loop in each_loop():
        state = prepare(symmetrize_edges(golden_edges))
        for mix in MIX_STEPS:
            batch = spark.createDataFrame(
                [(*rows[op], op) for op in mix], "src LONG, dst LONG, op STRING"
            )
            report = apply_cdc_batch(state, batch).report
            assert report["refinement"] == loop
            got[loop, mix] = [step["op"] for step in report["steps"]]
    for mix, want in MIX_STEPS.items():
        assert got["task", mix] == got["spark", mix] == want


def test_spark_fold_lands_one_file_per_tag(spark, golden_edges, monkeypatch):
    """On the Spark loop each batch lands its folded gone / new levels
    (``inc-fold``) from one task: after three batches every tag of the
    latest ``inc-fold`` is one data file, however many batches and
    partitions folded into it."""
    import os

    from community_detection_flink_spark.operators import task_tier

    monkeypatch.setattr(task_tier, "TASK_ROWS", 0)
    pairs_df = lambda pairs: spark.createDataFrame(pairs, "src LONG, dst LONG")
    state = prepare(symmetrize_edges(golden_edges))
    state = incremental_update(state, pairs_df([(20, 21), (20, 22), (21, 22)]))
    state = incremental_delete(state, pairs_df([(0, 1)]))
    state = incremental_update(state, pairs_df([(20, 23), (21, 23)]))
    assert state.report["refinement"] == "spark" and state.pending_unions == 3
    base = state.mat.base
    fold = os.path.join(base, max(p for p in os.listdir(base) if p.startswith("inc-fold")))
    tags = [p for p in os.listdir(fold) if p.startswith("k=")]
    assert {"k=edges", "k=edges-gone", "k=tri", "k=tri-gone"} <= set(tags)
    for tag in tags:
        files = [f for f in os.listdir(os.path.join(fold, tag)) if f.startswith("part-")]
        assert len(files) == 1, (tag, files)


def test_new_triangles_close_in_chunks(monkeypatch):
    """``task_tier._through`` finds every triangle through the new sides
    once, whatever the wedge chunk size, and gives up at its cap."""
    import itertools
    import random

    import numpy as np

    from community_detection_flink_spark.operators import task_tier

    rng = random.Random(3)
    n = 40
    und = {(a, b) for a, b in itertools.combinations(range(n), 2) if rng.random() < 0.3}
    new = {e for e in und if rng.random() < 0.2}
    adj = np.array(sorted(a * n + b for u, v in und for a, b in ((u, v), (v, u))))
    half = np.array(sorted(a * n + b for a, b in new))
    want = {
        t for t in itertools.combinations(range(n), 3)
        if all(e in und for e in itertools.combinations(t, 2))
        and any(e in new for e in itertools.combinations(t, 2))
    }
    for chunk in (1, 7, 1 << 22):
        monkeypatch.setattr(task_tier, "_WEDGES", chunk)
        got = task_tier._through(adj, half, n, len(want) + 1)
        assert len(got) == len(want) and set(map(tuple, got.tolist())) == want
        assert task_tier._through(adj, half, n, len(want)) is None


def test_empty_cdc_micro_batch_leaves_state_unchanged(spark, golden_edges, tmp_path):
    """An empty CDC micro-batch runs no batch: ``run_stream`` keeps the
    state it carries and reports no batch to ``on_batch``."""
    from community_detection_flink_spark.streaming.incremental_stream import (
        apply_cdc_batch,
        run_stream,
    )

    schema = "src LONG, dst LONG, op STRING"
    state = prepare(symmetrize_edges(golden_edges))
    assert apply_cdc_batch(state, spark.createDataFrame([], schema)) is state
    src = tmp_path / "src"
    spark.createDataFrame([], schema).coalesce(1).write.parquet(str(src / "b0"))
    seen = []
    handle = run_stream(
        spark, str(src / "b0"), state, str(tmp_path / "stream-ckpt"),
        on_batch=lambda s, i: seen.append(i), cdc=True, max_files_per_trigger=1,
    )
    handle.await_termination(120)
    assert handle.query.exception() is None
    assert handle.query.lastProgress is not None  # the empty batch ran
    assert handle.state is state and seen == []
