"""Crossover of the small-state tier: ``run_wcc`` latency on the task
loop vs the Spark loop, on co-purchase graphs of rising size.

    python3 plans/r14/crossover.py [SCALE ...] > plans/r14/crossover.txt
    python3 plans/r14/crossover.py --cliques N [N ...]
    python3 plans/r14/crossover.py --abort N [N ...]
    python3 plans/r14/crossover.py --batch SCALE [SCALE ...]

One Spark session (local[4], 4 shuffle partitions, as perfbench runs),
warmed by one discarded run.  For each scale k the graph is
``perfbench/gen.py``'s co-purchase generator at k times the
``batch_copurchase`` size (200k parts, 300k orders); the runs are
interleaved task / spark pairs, the side that runs first alternating
per pair.  Each loop is forced through the tier threshold: 0 rows for
the Spark loop (as the tests force it), no limit for the task loop.  Each line gives the loop state's rows (doubled clean
edges + triangles, what ``refine_partition`` compares to
``task_tier.TASK_ROWS``), the wall time of each run, the peak resident
memory of Spark's Python workers during it (sampled every 0.2 s from
``/proc``; the task side's one task runs in one of them), and whether
the two loops' labels are identical.

``--cliques``: the triangle-densest family, N disjoint 45-cliques
(|tri| = 7.2 |E|), run at the tier's real gate ("gate": each phase
takes the loop its counts pick, reported per run) against the Spark
loop.  ``--abort``: on N disjoint 45-cliques, only the graph task of
``load_graph`` on a graph whose triangles do not fit: its wall time and
peak worker RSS until it gives up (the cost a triangle-dense graph pays
before it loads on Spark).

``--batch``: one small incremental batch on a prepared co-purchase
state of scale k — an insert of a 7-clique over 5 carried vertices and
2 new ones (21 edges), and a delete of 10 carried edges — on three
loops: "task" (the whole batch in one task, the gate lifted), "merge"
(``incremental._in_one_task`` patched to decline: the Spark merge, its
tail at the real tier gate, as above the gate) and "spark" (``TASK_ROWS
= 0``).  Each line gives the state's rows (|V| + |E_clean| + |tri|, what
``incremental._in_one_task`` compares to ``task_tier.TASK_ROWS``), the
batch's wall time and the Python workers' peak RSS.
"""

from __future__ import annotations

import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import gen  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from community_detection_flink_spark.operators import incremental, refinement, task_tier  # noqa: E402
from community_detection_flink_spark.plans.iteration import Materializer  # noqa: E402
from community_detection_flink_spark.sources.edges import symmetrize_edges  # noqa: E402

PAIRS = 2


def _worker_rss_mb() -> float:
    """The largest resident set among Spark's Python workers now."""
    peak = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024


def _sampled(fn):
    """``fn()``'s result, its wall time and the Python workers' peak
    RSS while it ran."""
    peak, done = [0.0], threading.Event()

    def sample():
        while not done.wait(0.2):
            peak[0] = max(peak[0], _worker_rss_mb())

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, peak[0]
    finally:
        done.set()
        sampler.join()


def run(spark, edges, loop: str):
    """``run_wcc`` on ``loop``: "task" and "spark" force every phase
    through the threshold, "gate" keeps it."""
    threshold = task_tier.TASK_ROWS
    task_tier.TASK_ROWS = {"task": sys.maxsize, "spark": 0}.get(loop, threshold)

    def wcc():
        res = refinement.run_wcc(edges)
        labels = res.mat(res.communities, "labels")
        got = {r["vId"]: r["cId"] for r in labels.collect()}
        return res, got

    try:
        (res, got), wall, rss = _sampled(wcc)
    finally:
        task_tier.TASK_ROWS = threshold
    report = res.report
    if loop != "gate":
        assert report["refinement"] == report["election"] == report["graph"] == loop
    res.mat.cleanup()
    return wall, got, res.iterations, rss, f"{report['graph']}/{report['refinement']}"


def cliques(n: int, size: int = 45) -> list[tuple[int, int]]:
    """``n`` disjoint ``size``-cliques, undirected pairs."""
    return [(c * size + i, c * size + j)
            for c in range(n) for i in range(size) for j in range(i + 1, size)]


def _session():
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.driver.memory", "3g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _edges(spark, pairs):
    return symmetrize_edges(spark.createDataFrame(pairs, "src LONG, dst LONG")).persist()


def main_cliques(counts):
    spark = _session()
    for n in counts:
        pairs = cliques(n)
        edges = _edges(spark, pairs)
        rows = 2 * len(pairs) + n * 14190  # |E| + |tri| of n 45-cliques
        if n == counts[0]:
            run(spark, edges, "gate")  # JVM and Python-worker warm-up
        times = {"gate": [], "spark": []}
        same = True
        for p in range(PAIRS):
            order = ("gate", "spark") if p % 2 == 0 else ("spark", "gate")
            out = {}
            for loop in order:
                wall, got, rounds, rss, loops = run(spark, edges, loop)
                times[loop].append(wall)
                out[loop] = (got, rounds)
                print(f"cliques={n} pair{p} {loop} ({loops}): {wall:.2f}s rounds={rounds} "
                      f"worker_rss={rss:.0f}MB", flush=True)
            same &= out["gate"] == out["spark"]
        edges.unpersist()
        print(
            f"cliques={n} edges={len(pairs)} E+tri={rows} "
            f"gate={min(times['gate']):.2f}s spark={min(times['spark']):.2f}s "
            f"(min of {PAIRS}) identical={same}",
            flush=True,
        )
    spark.stop()


def main_abort(counts):
    spark = _session()
    for n in counts:
        pairs = cliques(n)
        edges = _edges(spark, pairs)
        mat = Materializer(spark)
        landed, n_edges = refinement._counted(edges, mat, "edges")
        for p in range(PAIRS):
            out, wall, rss = _sampled(lambda: task_tier.load_graph(landed, n_edges, mat))
            assert out is None
            print(f"cliques={n} edges={len(pairs)} tri={n * 14190} pair{p} graph task "
                  f"gives up: {wall:.2f}s worker_rss={rss:.0f}MB", flush=True)
        mat.cleanup()
        edges.unpersist()
    spark.stop()


def _batch_run(state, op, batch, loop: str):
    """``op`` (``incremental_update`` or ``incremental_delete``) of
    ``batch`` on ``state`` on ``loop`` (see ``--batch``)."""
    saved = task_tier.TASK_ROWS, incremental._in_one_task
    task_tier.TASK_ROWS = {"task": sys.maxsize, "spark": 0}.get(loop, saved[0])
    if loop == "merge":
        incremental._in_one_task = lambda state, batch: None
    try:
        out, wall, rss = _sampled(lambda: op(state, batch))
    finally:
        task_tier.TASK_ROWS, incremental._in_one_task = saved
    got = {r["vId"]: r["cId"] for r in out.vertices.select("vId", "cId").collect()}
    return wall, got, rss, out.report["scope_vertices"]


def main_batch(scales):
    import random

    spark = _session()
    for k in scales:
        pairs = gen.co_purchase(200 * k, 300 * k, structure_seed=10)
        edges = _edges(spark, pairs)
        state = incremental.prepare(edges)
        rows = state.vertex_count + state.clean_edge_count + state.tri_count
        rng = random.Random(k)
        old = rng.sample(sorted({u for p in pairs for u in p}), 5)
        top = max(max(p) for p in pairs)
        clique = old + [top + 1, top + 2]
        to_df = lambda ps: spark.createDataFrame(ps, "src LONG, dst LONG")  # noqa: E731
        batches = {
            "insert": (incremental.incremental_update,
                       to_df([(a, b) for i, a in enumerate(clique) for b in clique[i + 1:]])),
            "delete": (incremental.incremental_delete, to_df(rng.sample(pairs, 10))),
        }
        if k == scales[0]:
            for loop in ("task", "merge"):  # JVM and Python-worker warm-up
                _batch_run(state, *batches["insert"], loop)
        for name, (op, batch) in batches.items():
            loops = ("task", "merge", "spark")
            times = {loop: [] for loop in loops}
            same = True
            for p in range(PAIRS):
                order = loops if p % 2 == 0 else loops[::-1]
                out = {}
                for loop in order:
                    wall, got, rss, scope = _batch_run(state, op, batch, loop)
                    times[loop].append(wall)
                    out[loop] = got
                    print(f"k={k} {name} pair{p} {loop}: {wall:.2f}s scope={scope} "
                          f"worker_rss={rss:.0f}MB", flush=True)
                same &= out["task"] == out["merge"] == out["spark"]
            print(
                f"k={k} {name} rows={rows} "
                + " ".join(f"{loop}={min(times[loop]):.2f}s" for loop in loops)
                + f" (min of {PAIRS}) identical={same}",
                flush=True,
            )
        state.mat.cleanup()
        edges.unpersist()
    spark.stop()


def main(scales):
    spark = _session()
    for k in scales:
        pairs = gen.co_purchase(200 * k, 300 * k, structure_seed=10)
        edges = _edges(spark, pairs)
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
                wall, got, rounds, rss, _ = run(spark, edges, loop)
                times[loop].append(wall)
                out[loop] = (got, rounds)
                print(f"k={k} pair{p} {loop}: {wall:.2f}s rounds={rounds} "
                      f"worker_rss={rss:.0f}MB", flush=True)
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
    mode = {"--cliques": main_cliques, "--abort": main_abort, "--batch": main_batch}.get(
        sys.argv[1:2] and sys.argv[1])
    if mode is not None:
        mode([int(a) for a in sys.argv[2:]])
    else:
        main([int(a) for a in sys.argv[1:]] or [1, 4, 16, 64])
