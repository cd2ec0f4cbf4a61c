"""Phase golden tests on the bridged-cliques graph (SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from community_detection_flink_spark.sources.edges import symmetrize_edges, vertices_of
from community_detection_flink_spark.operators.triangles import (
    degrees,
    triangles,
    triangle_counts,
)
from community_detection_flink_spark.operators.preprocess import preprocess
from community_detection_flink_spark.operators.partition import initial_partition
from community_detection_flink_spark.operators.community import community_stats
from community_detection_flink_spark.operators.refinement import load_graph
from community_detection_flink_spark.plans.iteration import Materializer


def test_symmetrize(spark):
    raw = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3)], "src LONG, dst LONG"
    )
    got = sorted(map(tuple, symmetrize_edges(raw).collect()))
    assert got == [(1, 2), (2, 1), (2, 3), (3, 2)]


def test_degrees_even_sum(golden_edges, spark):
    e = symmetrize_edges(golden_edges)
    total = degrees(e).agg(F.sum("degree")).first()[0]
    assert total % 2 == 0  # symmetrized ⇒ handshake lemma
    assert total == e.count()


def test_triangle_enumeration(golden_edges):
    e = symmetrize_edges(golden_edges)
    tri = triangles(e).collect()
    assert len(tri) == 8  # 4 per clique
    for row in tri:
        assert len({row["u"], row["v"], row["w"]}) == 3


def test_triangle_counts(golden_edges):
    e = symmetrize_edges(golden_edges)
    got = {r["vId"]: r["t"] for r in triangle_counts(e).collect()}
    assert got == {v: 3 for v in range(8)}


def test_preprocess_drops_bridge(golden_edges):
    e = symmetrize_edges(golden_edges)
    vertices, clean = preprocess(triangles(e))
    vd = {r["vId"]: r for r in vertices.collect()}
    assert set(vd) == set(range(8))
    for v in range(8):
        assert vd[v]["t"] == 3
        assert vd[v]["vt"] == 3  # cleaned degree: bridge edge dropped
        assert vd[v]["cc"] == 1.0
    # bridge 3-4 gone, clique edges kept in both directions
    pairs = {(r["src"], r["dst"]) for r in clean.collect()}
    assert (3, 4) not in pairs and (4, 3) not in pairs
    assert len(pairs) == 24  # 2 cliques * 6 undirected edges * 2 dirs


def test_load_graph_carries_counts(spark, golden_edges, tmp_path):
    """|E_clean| and Σcc ride load_graph's landings; they equal a count
    and a sum over the landed tables, also for an empty edge set."""
    mat = Materializer(spark, base_dir=str(tmp_path))
    g = load_graph(symmetrize_edges(golden_edges), mat)
    assert g.clean_edge_count == g.clean_edges.count() == 24
    assert g.cc_sum == g.vertices.agg(F.sum("cc")).first()[0] == 8.0
    empty = load_graph(spark.createDataFrame([], "src LONG, dst LONG"), mat)
    assert empty.clean_edges.count() == 0
    assert (empty.clean_edge_count, empty.cc_sum) == (0, 0.0)


def test_initial_partition_elects_max_id(spark, golden_edges, tmp_path, each_loop):
    mat = Materializer(spark, base_dir=str(tmp_path))
    g = load_graph(symmetrize_edges(golden_edges), mat)
    for loop in each_loop():
        report = {}
        part = initial_partition(
            g.vertices, g.clean_edges, g.clean_edge_count, mat, report=report
        )
        got = {r["vId"]: r["cId"] for r in part.collect()}
        assert report["election"] == loop
        # all cc equal, all vt equal → order decided by vId: 3 and 7 centers
        assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 7, 5: 7, 6: 7, 7: 7}


def test_both_loops_report_their_election_rounds(spark, each_loop):
    """``run_wcc``'s report names the election's frontier rounds on both
    loops, and the Spark loop its landings (the undecided set, one per
    round, and the centers); both loops run the same rounds."""
    from community_detection_flink_spark.operators.refinement import run_wcc
    from test_incremental_localized import _community_graph

    edges = symmetrize_edges(spark.createDataFrame(_community_graph(), "src LONG, dst LONG"))
    rounds = {}
    for loop in each_loop():
        res = run_wcc(edges)
        report = res.report
        assert report["election"] == loop
        rounds[loop] = report["election_rounds"]
        if loop == "spark":
            assert report["election_landings"] == rounds[loop] + 2
        res.mat.cleanup()
    assert rounds["task"] == rounds["spark"] > 1


def test_community_stats(spark, golden_edges, tmp_path):
    mat = Materializer(spark, base_dir=str(tmp_path))
    g = load_graph(symmetrize_edges(golden_edges), mat)
    part = initial_partition(g.vertices, g.clean_edges, g.clean_edge_count, mat)
    stats = {r["cId"]: r for r in community_stats(part, g.clean_edges).collect()}
    assert set(stats) == {3, 7}
    for c in (3, 7):
        assert stats[c]["r"] == 4
        assert stats[c]["a"] == 6.0  # internal undirected edges of a 4-clique
        assert stats[c]["b"] == 0  # bridge was dropped in preprocessing
        assert stats[c]["d"] == 2 * 6.0 / 16.0


def test_vertices_of(golden_edges):
    e = symmetrize_edges(golden_edges)
    assert vertices_of(e).count() == 8
