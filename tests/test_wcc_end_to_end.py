"""End-to-end WCC pipeline tests (SURVEY.md §5.2, §5.4 invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from community_detection_flink_spark.sources.edges import symmetrize_edges
from community_detection_flink_spark.operators.refinement import run_wcc


def test_bridged_cliques(golden_edges):
    res = run_wcc(symmetrize_edges(golden_edges))
    got = {r["vId"]: r["cId"] for r in res.communities.collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 7, 5: 7, 6: 7, 7: 7}
    assert res.vertex_count == 8
    assert res.global_wcc > 0.0
    assert res.global_cc == 1.0  # every vertex has cc == 1


# Spark jobs ``run_wcc`` runs on the golden graph when both WCC loops
# take the Spark path: load, election rounds, movement rounds and their
# WCC evaluations, each landing.  Pinned so a change that adds a job to
# the distributed loops shows here.
SPARK_LOOP_JOBS = 51
# ... and on the small-state tier: the edges landing, the graph task's
# landing and the WCC task's.
TASK_LOOP_JOBS = 6
# the landings each loop may leave for the returned plans to read, and
# the one that holds the returned stats
LIVE = {"task": {"edges", "wcc"}, "spark": {"edges", "init", "moved", "cs-final"}}
STATS = {"task": "wcc", "spark": "cs-final"}


def test_run_wcc_owns_its_checkpoint_dir(
    spark, golden_edges, tmp_path, monkeypatch, each_loop
):
    """Without a Materializer, ``run_wcc`` lands everything under the one
    it makes, and the result carries it: only the landings the returned
    plans read are left (one labeling at most), and ``res.mat.cleanup()``
    frees the dir.  Each loop takes its pinned number of jobs, and one
    loop loads the graph, elects and refines."""
    import os
    import tempfile
    import uuid

    monkeypatch.delenv("CDFS_CHECKPOINT_DIR", raising=False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sc = spark.sparkContext
    for loop in each_loop():
        group = f"run-wcc-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "run_wcc on the golden graph")
        try:
            res = run_wcc(symmetrize_edges(golden_edges))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert res.report["graph"] == res.report["election"] == loop
        assert res.report["refinement"] == loop
        assert jobs == (SPARK_LOOP_JOBS if loop == "spark" else TASK_LOOP_JOBS)
        assert [p.name for p in tmp_path.glob("cdfs-ckpt-*")] == [
            os.path.basename(res.mat.base)
        ]
        landings = [p.rsplit("-", 1)[0] for p in os.listdir(res.mat.base)]
        live = set(landings)
        assert "edges" in live and STATS[loop] in live
        assert live <= LIVE[loop]  # no mis-*, no graph tables
        assert landings.count("moved") <= 1
        got = {r["vId"]: r["cId"] for r in res.communities.collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3, 4: 7, 5: 7, 6: 7, 7: 7}
        res.mat.cleanup()
        assert list(tmp_path.glob("cdfs-ckpt-*")) == []


def test_invariants_on_random_graph(spark):
    """SBM-ish random graph: structural invariants of the result."""
    import random

    rng = random.Random(42)
    edges = set()
    # 3 planted communities of 20, p_in high, p_out low
    for c in range(3):
        ids = list(range(c * 20, (c + 1) * 20))
        for i in ids:
            for j in ids:
                if i < j and rng.random() < 0.4:
                    edges.add((i, j))
    for _ in range(30):
        a, b = rng.randrange(60), rng.randrange(60)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    raw = spark.createDataFrame(sorted(edges), "src LONG, dst LONG")
    sym = symmetrize_edges(raw)
    res = run_wcc(sym)

    rows = res.communities.collect()
    vids = {r["vId"] for r in rows}
    cids = {r["cId"] for r in rows}
    # every community id is an existing vertex id
    assert cids <= vids
    # every vertex appears exactly once
    assert len(rows) == len(vids)
    # sum of community sizes equals |V(cleaned)| plus singletons
    sizes = res.communities.groupBy("cId").count()
    assert sizes.agg(F.sum("count")).first()[0] == len(vids)
    # WCC is a valid average of per-vertex values in [0, 1]
    assert 0.0 <= res.global_wcc <= 1.0
