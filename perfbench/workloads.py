"""The benchmark's workloads.

Each workload is a function ``(ctx) -> Result``: it builds its inputs
from ``ctx.seed`` during set-up, then runs one op and checks its output.
The work of a run is fixed, so that two versions of the engine are timed
on the same work however fast they are.  The engine is reached only
through its public functions, looked up on their modules at call time so
that a traced run sees them through ``spans.Tracer``'s wrappers.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import pywcc_oracle  # tests/pywcc_oracle.py, the engine's plain-Python reference

# Sizes are chosen so that a whole run, JVM start included, stays near a
# minute on 4 cores while still running the whole code path (several
# accepted refinement rounds for the batch job; election and scoped
# refinement for a micro-batch).  Both ops are bound by per-job latency:
# on the TPC-H sf0.1 co-purchase graph one batch op alone takes over 2 minutes.
COPURCHASE = dict(n_parts=200, n_orders=300, structure_seed=10)
PLANTED = dict(n_clusters=100, size=20, p_in=0.95, inter_per_vertex=0.1)
EDGE_SCHEMA = "src LONG, dst LONG"
CDC = dict(n_batches=1, anchors=3, new_per_batch=8, deleted_inserts=2)
# a run must end within 180 s; a micro-batch takes 30-50 s on 4 cores
STREAM_TIMEOUT_S = 120


@dataclass
class Result:
    """The one op of a run; ``latency`` stays None unless it passed."""

    setup_s: float
    latency: float | None = None
    edges: int = 0  # edges the op processed
    final_wcc: float = 0.0
    errors: list[str] = field(default_factory=list)
    ckpt_bytes: int = 0
    fingerprint: str = ""  # of the op's (vId, cId) rows; equal across runs of a seed

    @property
    def failed(self) -> bool:
        return self.latency is None or bool(self.errors)


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    work: str  # benchmark-owned scratch dir inside the checkout
    t_start: float  # process start, for set-up time


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


def _land_pairs(ctx: Ctx, pairs, name: str) -> str:
    path = os.path.join(ctx.work, "input", name)
    os.makedirs(path, exist_ok=True)
    src, dst = zip(*pairs)
    pq.write_table(pa.table({"src": pa.array(src, pa.int64()),
                             "dst": pa.array(dst, pa.int64())}),
                   os.path.join(path, "part-0.parquet"))
    return path


def _check(cond: bool, what: str, res: Result) -> bool:
    if not cond:
        res.errors.append(what)
    return cond


def _fingerprint(labels: dict) -> str:
    return hashlib.sha256(repr(sorted(labels.items())).encode()).hexdigest()[:16]


def _check_labels(labels: dict, vertices: set, res: Result) -> bool:
    return (
        _check(len(labels) == len(vertices), f"{len(labels)} label rows for {len(vertices)} vertices", res)
        and _check(set(labels) == vertices, "labelled vertex set differs from the input", res)
        and _check(all(c in vertices for c in labels.values()), "a cId is not a vertex", res)
    )


def batch_copurchase(ctx: Ctx) -> Result:
    """E1: ``run_wcc`` from landed edges to landed ``(vId, cId)``, as the
    first job of a fresh session, the way a batch job runs."""
    from community_detection_flink_spark.operators import refinement
    from community_detection_flink_spark.plans.iteration import Materializer
    from community_detection_flink_spark.sources import edges as sources

    spark = ctx.spark
    base = gen.co_purchase(**COPURCHASE)
    pairs = gen.relabel(base, gen.permutation(COPURCHASE["n_parts"], ctx.seed))
    vertices = {v for e in pairs for v in e}
    path = _land_pairs(ctx, pairs, "edges")
    # the plain-Python reference takes ~0.1 s on this graph, so the op
    # is checked label for label
    want = pywcc_oracle.run_wcc_oracle(pairs)
    landed_edges = spark.read.schema(EDGE_SCHEMA).parquet(path)
    res = Result(setup_s=time.perf_counter() - ctx.t_start, edges=len(pairs))

    base_dir = os.path.join(ctx.work, "ckpt", "op0")
    try:
        with ctx.tracer.op("op0"):
            t0 = time.perf_counter()
            edges = sources.symmetrize_edges(landed_edges)
            mat = Materializer(spark, base_dir=base_dir)
            out = refinement.run_wcc(edges, mat=mat)
            landed = mat(out.communities, "bench-labels")
            lat = time.perf_counter() - t0
        labels = {r["vId"]: r["cId"] for r in landed.collect()}
        res.fingerprint = _fingerprint(labels)
        hist = out.wcc_history or []
        ok = (
            _check_labels(labels, vertices, res)
            and _check(all(a < b for a, b in zip(hist, hist[1:])), "wcc_history not increasing", res)
            and _check(bool(hist) and hist[-1] == out.global_wcc, "global_wcc is not the last accepted WCC", res)
            and _check(labels == want["communities"], "labels differ from the reference", res)
            and _check(out.iterations == want["rounds"],
                       f"{out.iterations} rounds, the reference runs {want['rounds']}", res)
            and _check(math.isclose(out.global_wcc, want["global_wcc"], rel_tol=1e-9),
                       f"global_wcc {out.global_wcc}, the reference gives {want['global_wcc']}", res)
        )
    except Exception as e:  # an op that raises counts as failed
        res.errors.append(f"op0: {type(e).__name__}: {e}")
        ok = False
    if ok:
        res.latency = lat
        res.final_wcc = out.global_wcc
    res.ckpt_bytes = _du(base_dir)
    return res


def cdc_mixed(ctx: Ctx) -> Result:
    """E2 with deletes: one CDC file through ``run_stream(cdc=True)``."""
    from community_detection_flink_spark.operators import incremental
    from community_detection_flink_spark.plans.iteration import Materializer
    from community_detection_flink_spark.sources import edges as sources
    from community_detection_flink_spark.streaming import incremental_stream as stream

    spark = ctx.spark
    base = gen.planted_clusters(**PLANTED)
    n_base = PLANTED["n_clusters"] * PLANTED["size"]
    perm = gen.permutation(n_base + CDC["n_batches"] * CDC["new_per_batch"], ctx.seed)
    pairs = gen.relabel(base, perm)
    [f] = gen.relabel_cdc(gen.cdc_files(base, PLANTED["n_clusters"], PLANTED["size"], **CDC), perm)
    path = _land_pairs(ctx, pairs, "edges")
    state = incremental.prepare(
        sources.symmetrize_edges(spark.read.schema(EDGE_SCHEMA).parquet(path)),
        mat=Materializer(spark, base_dir=os.path.join(ctx.work, "ckpt", "prepare")),
    )
    src_dir = os.path.join(ctx.work, "stream", "source")
    os.makedirs(src_dir)
    stream_ckpt = os.path.join(ctx.work, "stream", "checkpoint")
    table = pa.table({
        "src": pa.array([r[0] for r in f.rows()], pa.int64()),
        "dst": pa.array([r[1] for r in f.rows()], pa.int64()),
        "op": pa.array([r[2] for r in f.rows()], pa.string()),
    })
    # write aside, then rename in: the file source must never list a
    # half-written file
    tmp = os.path.join(ctx.work, "stream", "batch-000.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(src_dir, os.path.basename(tmp)))
    res = Result(setup_s=time.perf_counter() - ctx.t_start, edges=len(f.inserts) + len(f.deletes))

    try:
        with ctx.tracer.op("op0") as op:
            t0 = time.perf_counter()
            handle = stream.run_stream(spark, src_dir, state, stream_ckpt,
                                       cdc=True, max_files_per_trigger=1)
            op.info["group"] = str(handle.query.runId)
            done = handle.await_termination(STREAM_TIMEOUT_S)
            lat = time.perf_counter() - t0
        if not done:
            handle.stop()
            raise TimeoutError(f"micro-batch still running after {STREAM_TIMEOUT_S} s")
        err = handle.query.exception()
        if err is not None:
            raise RuntimeError(str(err))
        present = ({frozenset(e) for e in pairs} | {frozenset(e) for e in f.inserts}) \
            - {frozenset(e) for e in f.deletes}
        vertices = {v for e in pairs + f.inserts for v in e}
        ok = _check_cdc(handle.state, f, present, vertices, res)
    except Exception as e:
        res.errors.append(f"op0: {type(e).__name__}: {e}")
        ok = False
    if ok:
        res.latency = lat
        res.final_wcc = handle.state.global_wcc
    res.ckpt_bytes = _du(os.path.join(ctx.work, "ckpt")) + _du(os.path.join(ctx.work, "tmp"))
    return res


def _check_cdc(state, f, present, vertices, res: Result) -> bool:
    labels = {r["vId"]: r["cId"] for r in state.vertices.select("vId", "cId").collect()}
    res.fingerprint = _fingerprint(labels)
    edges = {frozenset((r["src"], r["dst"])) for r in state.edges.collect()}
    want_wcc = _reference_wcc([tuple(e) for e in present], labels, len(vertices))
    return (
        _check_labels(labels, vertices, res)
        and _check(edges == present, "state.edges differs from the applied inserts and deletes", res)
        and _check(all(labels[v] == v for v in f.isolated), "an isolated vertex is not a singleton", res)
        and _check(math.isclose(state.global_wcc, want_wcc, rel_tol=1e-9),
                   f"global_wcc {state.global_wcc}, the reference scores these labels {want_wcc}", res)
    )


def _reference_wcc(pairs, labels: dict, vertex_count: int) -> float:
    """Global WCC of ``labels`` on the graph ``pairs``, scored by the
    plain-Python reference: a label that does not give the WCC the engine
    reports is caught here."""
    clean, t, vt, _, tri = pywcc_oracle.preprocess(pywcc_oracle.symmetrize(pairs))
    on_clean = {v: labels[v] for v in clean}
    stats = pywcc_oracle.community_stats(clean, on_clean)
    return pywcc_oracle.global_wcc(clean, on_clean, t, vt, tri, stats, vertex_count)


WORKLOADS = {"batch_copurchase": batch_copurchase, "cdc_mixed": cdc_mixed}
