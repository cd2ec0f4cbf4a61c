"""incremental_delete: exact triangle/clean-edge maintenance under
edge removals (engine extension — the reference is insert-only)."""

from __future__ import annotations

from pyspark.sql import functions as F

from community_detection_flink_spark.operators.incremental import (
    incremental_delete,
    incremental_update,
    prepare,
)
from community_detection_flink_spark.sources.edges import symmetrize_edges
import pytest


def _stats_map(state):
    return {
        r.vId: (r.t, r.vt, round(r.cc, 9))
        for r in state.vertices.select("vId", "t", "vt", "cc").collect()
    }


def _clean_set(state):
    return {(r.src, r.dst) for r in state.clean_edges.collect()}


@pytest.mark.slow
def test_delete_inverts_insert(spark, golden_edges):
    """Insert a clique batch, delete the same edges: triangle stats,
    cleaned edges, and the triangle list all revert exactly."""
    base = prepare(symmetrize_edges(golden_edges))
    before = _stats_map(base)
    clean_before = _clean_set(base)
    tri_before = base.tri.count()

    batch = spark.createDataFrame(
        [(7, 10), (7, 11), (7, 12), (10, 11), (10, 12), (11, 12)],
        "src LONG, dst LONG",
    )
    grown = incremental_update(base, batch)
    assert grown.tri.count() > tri_before

    shrunk = incremental_delete(grown, batch)
    after = _stats_map(shrunk)
    # original vertices revert exactly; the inserted ones remain (the
    # vertex set never shrinks) with zeroed triangle stats
    assert {k: v for k, v in after.items() if k in before} == before
    assert all(after[k] == (0, 0, 0.0) for k in (10, 11, 12))
    assert _clean_set(shrunk) == clean_before
    assert shrunk.tri.count() == tri_before
    assert shrunk.vertices.count() == 11  # vertices never disappear
    # vertices whose last triangle died revert to singletons
    sing = {
        r.vId: r.cId
        for r in shrunk.vertices.where("t = 0").select("vId", "cId").collect()
    }
    assert all(v == c for v, c in sing.items())
    assert set(sing) >= {10, 11, 12}


def test_delete_matches_recompute(spark, golden_edges):
    """Deleting edges from the prepared state gives the same cleaned
    graph as preparing the remaining edges from scratch."""
    base = prepare(symmetrize_edges(golden_edges))
    # drop one edge of the second clique {4,5,6,7}: (5, 6)
    deleted = spark.createDataFrame([(5, 6)], "src LONG, dst LONG")
    got = incremental_delete(base, deleted)

    remaining = symmetrize_edges(golden_edges).join(
        symmetrize_edges(deleted), ["src", "dst"], "left_anti"
    )
    want = prepare(remaining)
    assert _stats_map(got) == _stats_map(want)
    assert _clean_set(got) == _clean_set(want)
    assert got.tri.count() == want.tri.count()
    # the intact clique keeps one community; Σ sizes == |V|
    labels = {r.vId: r.cId for r in got.vertices.collect()}
    assert labels[0] == labels[1] == labels[2] == labels[3]
    assert got.stats.agg(F.sum("r")).first()[0] == got.vertices.where("t > 0").count()


def test_delete_absent_edge_is_noop(spark, golden_edges):
    base = prepare(symmetrize_edges(golden_edges))
    before = _stats_map(base)
    got = incremental_delete(
        base, spark.createDataFrame([(0, 7), (90, 91)], "src LONG, dst LONG")
    )
    assert _stats_map(got) == before
    assert got.tri.count() == base.tri.count()


def test_state_manifest_keeps_tri_count(spark, golden_edges, tmp_path):
    """``save_state`` keeps the carried triangle count in its manifest,
    and a manifest written without it loads with the count taken once
    from the saved triangles; the loaded state's next batch carries it
    on."""
    from community_detection_flink_spark.operators.incremental import (
        load_state,
        save_state,
    )

    base = prepare(symmetrize_edges(golden_edges))
    assert base.tri_count == 8  # two 4-cliques
    path = str(tmp_path / "state")
    save_state(base, path)
    meta = spark.read.json(f"{path}/meta")
    assert meta.first().tri_count == 8
    assert load_state(spark, path).tri_count == 8

    older = meta.drop("tri_count")
    spark.createDataFrame(older.collect(), older.schema).coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/meta")
    loaded = load_state(spark, path)
    assert loaded.tri_count == 8
    got = incremental_delete(
        loaded, spark.createDataFrame([(5, 6)], "src LONG, dst LONG")
    )
    assert got.tri_count == got.tri.count() == 6


@pytest.mark.slow
def test_state_save_load_roundtrip(spark, golden_edges, tmp_path):
    from community_detection_flink_spark.operators.incremental import (
        load_state,
        save_state,
    )

    base = prepare(symmetrize_edges(golden_edges))
    save_state(base, str(tmp_path / "state"))
    loaded = load_state(spark, str(tmp_path / "state"))
    assert _stats_map(loaded) == _stats_map(base)
    assert loaded.global_wcc == base.global_wcc
    assert loaded.vertex_count == base.vertex_count
    assert loaded.tri.count() == base.tri.count()

    # the restored state drives a batch exactly like the original
    batch = spark.createDataFrame([(0, 4), (1, 5)], "src LONG, dst LONG")
    a = incremental_update(base, batch)
    b = incremental_update(loaded, batch)
    assert _stats_map(a) == _stats_map(b)


@pytest.mark.slow
def test_cdc_stream_applies_inserts_then_deletes(spark, golden_edges, tmp_path):
    """run_stream(cdc=True): a change batch inserts a clique and a
    later batch deletes part of it; the final state matches applying
    the same operations directly."""
    import os

    from community_detection_flink_spark.streaming.incremental_stream import (
        run_stream,
    )

    src = str(tmp_path / "cdc-src")
    ckpt = str(tmp_path / "cdc-ckpt")
    b1 = [(7, 10, "I"), (7, 11, "I"), (7, 12, "I"),
          (10, 11, "I"), (10, 12, "I"), (11, 12, "I")]
    b2 = [(10, 11, "D"), (10, 12, "D")]
    schema = "src LONG, dst LONG, op STRING"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(os.path.join(src, "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(os.path.join(src, "b2"))

    state0 = prepare(symmetrize_edges(golden_edges))
    handle = run_stream(spark, os.path.join(src, "*"), state0, ckpt, cdc=True)
    handle.await_termination(180)
    got = handle.state

    want = prepare(symmetrize_edges(golden_edges))
    want = incremental_update(
        want, spark.createDataFrame([r[:2] for r in b1], "src LONG, dst LONG")
    )
    want = incremental_delete(
        want, spark.createDataFrame([r[:2] for r in b2], "src LONG, dst LONG")
    )
    assert _stats_map(got) == _stats_map(want)
    assert got.tri.count() == want.tri.count()


@pytest.mark.slow
def test_cdc_stream_update_ops_as_delete_plus_insert(spark, golden_edges, tmp_path):
    """run_stream(cdc=True) with U ops (r10, VERDICT r9 #7): a U of an
    existing edge is a no-op, a U of a never-seen edge is an insert,
    and a U followed by a D of the same edge within one batch nets to
    absent — the final state matches applying the expansion directly."""
    import os

    from community_detection_flink_spark.streaming.incremental_stream import (
        run_stream,
    )

    src = str(tmp_path / "cdc-u-src")
    ckpt = str(tmp_path / "cdc-u-ckpt")
    # batch 1: grow a clique so there is something to update
    b1 = [(7, 10, "I"), (7, 11, "I"), (7, 12, "I"),
          (10, 11, "I"), (10, 12, "I"), (11, 12, "I")]
    # batch 2: U existing (no-op), U brand-new (insert), U then D of
    # the same edge (absent — deletes apply last)
    b2 = [(7, 10, "U"), (20, 21, "U"), (11, 12, "U"), (11, 12, "D")]
    schema = "src LONG, dst LONG, op STRING"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
        os.path.join(src, "b1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
        os.path.join(src, "b2"))

    state0 = prepare(symmetrize_edges(golden_edges))
    handle = run_stream(spark, os.path.join(src, "*"), state0, ckpt, cdc=True)
    handle.await_termination(240)
    got = handle.state

    pair = lambda df: spark.createDataFrame(df, "src LONG, dst LONG")
    want = prepare(symmetrize_edges(golden_edges))
    want = incremental_update(want, pair([r[:2] for r in b1]))
    # the U expansion, written out by hand in batch order
    want = incremental_delete(want, pair([(7, 10), (20, 21), (11, 12)]))
    want = incremental_update(want, pair([(7, 10), (20, 21), (11, 12)]))
    want = incremental_delete(want, pair([(11, 12)]))

    assert _stats_map(got) == _stats_map(want)
    assert _clean_set(got) == _clean_set(want)
    edges_got = {(r.src, r.dst) for r in got.edges.collect()}
    assert (20, 21) in edges_got and (21, 20) in edges_got
    assert (11, 12) not in edges_got and (12, 11) not in edges_got
    assert (7, 10) in edges_got
