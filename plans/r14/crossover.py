"""Crossover of the small-state tier: ``run_wcc`` latency on the task
loop vs the Spark loop, on co-purchase graphs of rising size.

    python3 plans/r14/crossover.py [SCALE ...] > plans/r14/crossover.txt

One Spark session (local[4], 4 shuffle partitions, as perfbench runs),
warmed by one discarded run.  For each scale k the graph is
``perfbench/gen.py``'s co-purchase generator at k times the
``batch_copurchase`` size (200k parts, 300k orders); the runs are
interleaved task / spark pairs, the side that runs first alternating
per pair.  Each loop is forced through the tier threshold: 0 rows for
the Spark loop (as the tests force it), no limit for the task loop.  Each line gives the loop state's rows (doubled clean
edges + triangles, what ``refine_partition`` compares to
``task_tier.TASK_ROWS``), the wall time of each run, and whether the two
loops' labels are identical.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from community_detection_flink_spark.operators import refinement, task_tier  # noqa: E402
from community_detection_flink_spark.plans.iteration import Materializer  # noqa: E402
from community_detection_flink_spark.sources.edges import symmetrize_edges  # noqa: E402

PAIRS = 2


def run(spark, edges, loop: str):
    threshold = task_tier.TASK_ROWS
    task_tier.TASK_ROWS = sys.maxsize if loop == "task" else 0
    try:
        t0 = time.perf_counter()
        res = refinement.run_wcc(edges)
        labels = res.mat(res.communities, "labels")
        wall = time.perf_counter() - t0
        got = {r["vId"]: r["cId"] for r in labels.collect()}
        assert res.report["refinement"] == res.report["election"] == loop
        res.mat.cleanup()
        return wall, got, res.iterations
    finally:
        task_tier.TASK_ROWS = threshold


def main(scales):
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for k in scales:
        pairs = gen.co_purchase(200 * k, 300 * k, structure_seed=10)
        edges = symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG"))
        edges = edges.persist()
        mat = Materializer(spark)
        g = refinement.load_graph(edges, mat)
        rows = g.clean_edge_count + g.tri_count
        mat.cleanup()
        if k == scales[0]:
            run(spark, edges, "task")  # JVM and Python-worker warm-up
        times = {"task": [], "spark": []}
        same = True
        for p in range(PAIRS):
            order = ("task", "spark") if p % 2 == 0 else ("spark", "task")
            out = {}
            for loop in order:
                wall, got, rounds = run(spark, edges, loop)
                times[loop].append(wall)
                out[loop] = (got, rounds)
                print(f"k={k} pair{p} {loop}: {wall:.2f}s rounds={rounds}", flush=True)
            same &= out["task"] == out["spark"]
        edges.unpersist()
        print(
            f"k={k} edges={len(pairs)} rows={rows} "
            f"task={min(times['task']):.2f}s spark={min(times['spark']):.2f}s "
            f"(min of {PAIRS}) identical={same}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main([int(a) for a in sys.argv[1:]] or [1, 4, 16, 64])
