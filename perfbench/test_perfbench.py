"""Tests of the benchmark itself: generators, output checks and tracing.

    python3 -m pytest perfbench -q

The engine must agree exactly with the independent plain-Python oracle
(``tests/pywcc_oracle.py``) on a small instance of each generator, the
workloads' own output checks must pass on small instances, and tracing
must not add Spark jobs.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]

import gen  # noqa: E402
import pywcc_oracle  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402
from sparkstats import SparkCounters, union_length  # noqa: E402

SMALL_COPURCHASE = dict(n_parts=40, n_orders=60)
SMALL_PLANTED = dict(n_clusters=12, size=8, p_in=0.9, inter_per_vertex=0.2)
SMALL_CDC = dict(n_batches=3, anchors=3, new_per_batch=4, deleted_inserts=2)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("perfbench"))
    old_tempdir = tempfile.tempdir
    tempfile.tempdir = tmp  # the engine's default Materializer dirs land here
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from community_detection_flink_spark import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()
    tempfile.tempdir = old_tempdir


def _ctx(spark, tracer, tmp_path, seed=3):
    return workloads.Ctx(spark, tracer, seed, str(tmp_path), 0.0)


def _engine_labels(spark, pairs, tmp_path):
    from community_detection_flink_spark import Materializer, run_wcc, symmetrize_edges

    edges = symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG"))
    res = run_wcc(edges, mat=Materializer(spark, base_dir=str(tmp_path / "ckpt")))
    return {r["vId"]: r["cId"] for r in res.communities.collect()}, res


def test_permutation_is_seeded_and_zero_is_identity():
    assert gen.permutation(50, 0) == list(range(50))
    assert gen.permutation(50, 7) == gen.permutation(50, 7)
    assert gen.permutation(50, 7) != gen.permutation(50, 8)
    assert sorted(gen.permutation(50, 7)) == list(range(50))


def test_generators_are_deterministic():
    assert gen.co_purchase(**SMALL_COPURCHASE) == gen.co_purchase(**SMALL_COPURCHASE)
    base = gen.planted_clusters(**SMALL_PLANTED)
    assert base == gen.planted_clusters(**SMALL_PLANTED)
    a = gen.cdc_files(base, SMALL_PLANTED["n_clusters"], SMALL_PLANTED["size"], **SMALL_CDC)
    b = gen.cdc_files(base, SMALL_PLANTED["n_clusters"], SMALL_PLANTED["size"], **SMALL_CDC)
    assert [f.rows() for f in a] == [f.rows() for f in b]


def test_cdc_deletes_hit_present_edges_and_isolate_victims():
    base = gen.planted_clusters(**SMALL_PLANTED)
    files = gen.cdc_files(base, SMALL_PLANTED["n_clusters"], SMALL_PLANTED["size"], **SMALL_CDC)
    present = {frozenset(e) for e in base}
    for f in files:
        present |= {frozenset(e) for e in f.inserts}
        assert {frozenset(e) for e in f.deletes} <= present
        present -= {frozenset(e) for e in f.deletes}
        for v in f.isolated:
            assert not any(v in e for e in present)


@pytest.mark.parametrize("graph", ["copurchase", "planted"])
def test_engine_matches_oracle_on_generated_graphs(spark, tmp_path, graph):
    if graph == "copurchase":
        base, n = gen.co_purchase(**SMALL_COPURCHASE), SMALL_COPURCHASE["n_parts"]
    else:
        base = gen.planted_clusters(**SMALL_PLANTED)
        n = SMALL_PLANTED["n_clusters"] * SMALL_PLANTED["size"]
    pairs = gen.relabel(base, gen.permutation(n, 5))
    labels, res = _engine_labels(spark, pairs, tmp_path)
    want = pywcc_oracle.run_wcc_oracle(pairs)
    assert labels == want["communities"]
    assert res.iterations == want["rounds"]
    assert res.global_wcc == pytest.approx(want["global_wcc"], rel=1e-9)


@pytest.mark.parametrize("name", ["batch_copurchase", "cdc_mixed"])
def test_workload_checks_pass_on_small_instance(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(workloads, "COPURCHASE", SMALL_COPURCHASE)
    monkeypatch.setattr(workloads, "PLANTED", SMALL_PLANTED)
    monkeypatch.setattr(workloads, "CDC", {**SMALL_CDC, "n_batches": 1})
    tracer = Tracer(spark)
    res = workloads.WORKLOADS[name](_ctx(spark, tracer, tmp_path))
    assert res.errors == []
    assert not res.failed
    assert res.final_wcc > 0 and res.ckpt_bytes > 0


def test_checks_catch_a_wrong_label(spark, tmp_path):
    res = workloads.Result(setup_s=0.0)
    assert not workloads._check_labels({1: 1, 2: 9}, {1, 2}, res)
    assert res.errors == ["a cId is not a vertex"]


def test_reference_wcc_scores_labels_like_the_oracle():
    pairs = gen.planted_clusters(**SMALL_PLANTED)
    want = pywcc_oracle.run_wcc_oracle(pairs)
    labels = dict(want["communities"])
    n = len(labels)
    assert workloads._reference_wcc(pairs, labels, n) == pytest.approx(want["global_wcc"], rel=1e-12)
    v = next(v for v, c in labels.items() if c != v)
    labels[v] = v  # one vertex torn out of its community
    assert workloads._reference_wcc(pairs, labels, n) != pytest.approx(want["global_wcc"], rel=1e-9)


def test_tracing_adds_no_jobs_and_covers_the_op(spark, tmp_path):
    from community_detection_flink_spark.operators import refinement

    pairs = gen.co_purchase(**SMALL_COPURCHASE)
    original = refinement.triangles
    counts = []
    for traced in (False, True):
        tracer = Tracer(spark)
        if traced:
            tracer.wrap_layers()
            assert refinement.triangles is not original
        with tracer.op("op0"):
            _engine_labels(spark, pairs, tmp_path / str(traced))
        tracer.unwrap()
        jobs = SparkCounters(spark).jobs()
        counts.append(tracer.op_job_counts(jobs)["op0"])
    assert counts[0] == counts[1] > 0
    assert refinement.triangles is original
    m = tracer.layer_metrics(jobs)
    assert m["refinement.calls"] == 1 and m["triangles.jobs"] > 0
    assert tracer.coverage()[0] > 0.9


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
