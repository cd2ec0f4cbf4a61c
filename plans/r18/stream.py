"""A multi-file CDC stream, timed per micro-batch, between two checkouts.

    python3 plans/r18/stream.py PARENT_DIR CHANGE_DIR --pairs 10 [--clusters 100] [--files 10] [--merge]

Each run is one fresh process (and JVM, local[4] with 4 shuffle
partitions, as perfbench runs) from the root of one checkout: it
prepares perfbench's planted-cluster graph (``gen.planted_clusters``,
20-vertex clusters at p_in 0.95) with ``--clusters`` clusters, then
streams ``--files`` CDC files (``gen.cdc_files``: file k inserts a
localized 11-vertex clique and deletes two edges of the clique before it
and every edge of one vertex of another cluster) through ``run_stream(
cdc=True, max_files_per_trigger=1)``, one file per micro-batch, so the
state carries every batch's deletes into the next.  A run prints the
state's rows after ``prepare`` (|V| + |E_clean| + |tri|, what the
small-state tier gates on), the set-up time, each micro-batch's latency
(from the stream's start or the batch before it to the batch's
``on_batch`` callback), the stream's total, and a fingerprint of the
final labels; with at most 200 clusters it also checks the final edge
set against the applied inserts and deletes.  ``--merge`` times the
Spark merges on any state: each run patches ``incremental._in_one_task``
to decline (as ``plans/r14/crossover.py``'s ``merge`` loop does), so no
micro-batch runs in one task; above ``task_tier.TASK_ROWS`` state rows
they run the Spark merges anyway.

The pairs interleave the two checkouts, the side that runs first
alternating from pair to pair.  Prints one line per run, then per batch
and for the total the parent's median and IQR, the change's median and
the pairs the change wins.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

PLANTED = dict(size=20, p_in=0.95, inter_per_vertex=0.1)
CDC = dict(anchors=3, new_per_batch=8, deleted_inserts=2)


def one_run(clusters: int, files: int, merge: bool) -> dict:
    """The stream on the checkout this process runs from."""
    sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]
    import gen
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from community_detection_flink_spark.operators import incremental
    from community_detection_flink_spark.plans.iteration import Materializer
    from community_detection_flink_spark.sources.edges import symmetrize_edges
    from community_detection_flink_spark.streaming.incremental_stream import run_stream

    if merge:
        incremental._in_one_task = lambda state, batch: None
    t_start = time.perf_counter()
    work = tempfile.mkdtemp(prefix="stream-ab-")
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", 4)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", os.path.join(work, "spark"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        base = gen.planted_clusters(clusters, **PLANTED)
        cdc = gen.cdc_files(base, clusters, PLANTED["size"], n_batches=files, **CDC)
        edges = spark.createDataFrame(base, "src LONG, dst LONG")
        state = incremental.prepare(
            symmetrize_edges(edges), mat=Materializer(spark, base_dir=os.path.join(work, "ckpt")))
        rows = state.vertex_count + state.clean_edge_count + state.tri_count
        src = os.path.join(work, "source")
        os.makedirs(src)
        # the file source takes files in modification-time order; files
        # written within one clock tick would tie and run in any order
        mtime = time.time() - len(cdc)
        for k, f in enumerate(cdc):
            ops = [(*e, "I") for e in f.inserts] + [(*e, "D") for e in f.deletes]
            tmp = os.path.join(work, f"batch-{k:03d}.parquet")
            pq.write_table(pa.table({
                "src": pa.array([r[0] for r in ops], pa.int64()),
                "dst": pa.array([r[1] for r in ops], pa.int64()),
                "op": pa.array([r[2] for r in ops], pa.string()),
            }), tmp)
            os.utime(tmp, (mtime + k, mtime + k))
            os.rename(tmp, os.path.join(src, os.path.basename(tmp)))
        setup = time.perf_counter() - t_start
        marks = [time.perf_counter()]
        handle = run_stream(spark, src, state, os.path.join(work, "stream-ckpt"),
                            on_batch=lambda s, i: marks.append(time.perf_counter()),
                            cdc=True, max_files_per_trigger=1)
        handle.await_termination(3600)
        total = time.perf_counter() - marks[0]
        err = handle.query.exception()
        if err is not None:
            raise RuntimeError(str(err))
        out = handle.state
        labels = sorted((r.vId, r.cId) for r in out.vertices.select("vId", "cId").collect())
        ok = len(marks) == files + 1
        if clusters <= 200:
            present = {frozenset(e) for e in base}
            for f in cdc:
                present = (present | {frozenset(e) for e in f.inserts}) \
                    - {frozenset(e) for e in f.deletes}
            ok &= {frozenset((r.src, r.dst)) for r in out.edges.collect()} == present
        return dict(
            rows=rows, setup=setup, batches=[b - a for a, b in zip(marks, marks[1:])],
            total=total, ok=ok, wcc=out.global_wcc,
            labels=hashlib.sha256(repr(labels).encode()).hexdigest()[:16],
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def run(checkout: str, clusters: int, files: int, merge: bool) -> dict:
    env = dict(os.environ, PYTHONPATH=checkout)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--run", "--clusters", str(clusters),
         "--files", str(files)] + ["--merge"] * merge,
        cwd=checkout, env=env, capture_output=True, text=True, timeout=3600,
    )
    lines = [line for line in out.stdout.splitlines() if line.startswith("{")]
    if not lines:
        raise RuntimeError(f"{checkout}: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def summary(name: str, parent: list[float], change: list[float]) -> str:
    q1, q2, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    wins = sum(c < p for p, c in zip(parent, change))
    return (f"{name}: parent median {q2:.2f}s IQR {q3 - q1:.2f}s | change median "
            f"{statistics.median(change):.2f}s | change faster in {wins}/{len(parent)} pairs")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--clusters", type=int, default=100)
    ap.add_argument("--files", type=int, default=10)
    ap.add_argument("--merge", action="store_true", help="every micro-batch on the Spark merges")
    ap.add_argument("--run", action="store_true", help="one run, on the checkout in cwd")
    args = ap.parse_args()
    if args.run:
        print(json.dumps(one_run(args.clusters, args.files, args.merge)), flush=True)
        return
    sides = {"parent": args.parent, "change": args.change}
    got = {side: [] for side in sides}
    for p in range(args.pairs):
        order = ("parent", "change") if p % 2 == 0 else ("change", "parent")
        for side in order:
            r = run(sides[side], args.clusters, args.files, args.merge)
            got[side].append(r)
            print(f"pair{p} {side}: rows={r['rows']} setup={r['setup']:.2f}s total={r['total']:.2f}s "
                  f"batches=[{', '.join(f'{b:.2f}' for b in r['batches'])}] ok={r['ok']} "
                  f"wcc={r['wcc']!r} labels={r['labels']}", flush=True)
    for i in range(args.files):
        print(summary(f"batch{i}", *([r["batches"][i] for r in got[s]] for s in sides)))
    print(summary("total", *([r["total"] for r in got[s]] for s in sides)))
    same = all(a["labels"] == b["labels"] for a, b in zip(*got.values()))
    print(f"all runs correct: {all(r['ok'] for rs in got.values() for r in rs)}; "
          f"labels equal in every pair: {same}")


if __name__ == "__main__":
    main()
