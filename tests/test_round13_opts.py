"""Round-13 optimization pins (VERDICT r12 #3).

* the movement pass's stats joins broadcast (explicit hints), so the
  forced own-cache count only serializes the cache fill and never
  decides a join strategy;
* the explicit-schema landing read-back is bit-identical to an
  inferred read of the same files (schema AND rows), nested types
  included;
* Materializers sharing a checkpoint root never touch each other's
  landings.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from community_detection_flink_spark.operators.community import (
    best_movement,
    community_adjacency,
    community_stats,
)
from community_detection_flink_spark.operators.partition import initial_partition
from community_detection_flink_spark.operators.refinement import load_graph
from community_detection_flink_spark.plans.explain import join_strategies
from community_detection_flink_spark.plans.iteration import Materializer, no_aqe
from community_detection_flink_spark.sources.edges import co_purchase_edges

SF = "/root/testdata/sf0.001"


def test_movement_plan_broadcasts_stats(spark):
    mat = Materializer(spark)
    g = load_graph(co_purchase_edges(spark, SF), mat)
    vertex_count = g.edges.select("src").distinct().count()
    init = mat(
        initial_partition(g.vertices, g.clean_edges, g.clean_edge_count, mat), "init"
    )
    mat.release()
    loop_edges = g.clean_edges.repartition("src")
    with no_aqe(spark):
        vcd = mat.cache(community_adjacency(init, loop_edges), "vcd")
        cs = community_stats(init, loop_edges, vcd=vcd).persist()
        mv = best_movement(init, cs, vcd, 0.3, vertex_count, mat)
        strategies = join_strategies(mv)
    mat.release()
    cs.unpersist()
    mat.cleanup()
    assert "BroadcastHashJoin" in strategies  # the stats joins broadcast


def test_materializer_explicit_schema_read_is_bit_identical(spark):
    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.struct(F.col("id").alias("a"), F.lit("x").alias("b")).alias("st"),
    )
    mat = Materializer(spark)
    fast = mat(df, "fast")
    (path,) = glob.glob(os.path.join(mat.base, "fast-*"))
    inferred = spark.read.parquet(path)
    assert fast.schema == inferred.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, inferred.collect())
    )
    mat.cleanup()


def test_materializers_share_a_checkpoint_root(spark, tmp_path, monkeypatch):
    """Two Materializers under one ``CDFS_CHECKPOINT_DIR`` land in
    directories of their own: the second's landing of the same name
    leaves the first's rows readable, and one's ``cleanup()`` leaves
    the other's files."""
    monkeypatch.setenv("CDFS_CHECKPOINT_DIR", str(tmp_path))
    first, second = Materializer(spark), Materializer(spark)
    a = first(spark.range(5), "edges")
    second(spark.range(7, 9), "edges")
    assert sorted(r.id for r in a.collect()) == [0, 1, 2, 3, 4]
    assert first.base != second.base
    assert {os.path.dirname(first.base), os.path.dirname(second.base)} == {
        str(tmp_path)
    }
    second.cleanup()
    assert not os.path.exists(second.base)
    assert glob.glob(os.path.join(first.base, "edges-*"))
    assert sorted(r.id for r in a.collect()) == [0, 1, 2, 3, 4]
    first.cleanup()
    assert os.listdir(tmp_path) == []


def test_materializer_frees_file_uri_landings(spark, tmp_path, monkeypatch):
    """With a ``file:`` URI as ``CDFS_CHECKPOINT_DIR``, ``drop`` deletes
    a superseded landing's files and ``cleanup`` the whole dir, as they
    do for a plain path."""
    monkeypatch.setenv("CDFS_CHECKPOINT_DIR", f"file://{tmp_path}")
    mat = Materializer(spark)
    kept = mat(spark.range(3), "kept")
    dropped = mat(spark.range(5), "dropped")
    assert sorted(p.name.rsplit("-", 1)[0] for p in tmp_path.glob("*/*")) == [
        "dropped", "kept",
    ]
    mat.drop(dropped)
    assert [p.name.rsplit("-", 1)[0] for p in tmp_path.glob("*/*")] == ["kept"]
    assert kept.count() == 3
    mat.cleanup()
    assert os.listdir(tmp_path) == []
