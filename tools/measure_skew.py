"""Measure task-time skew of the hot WCC join/aggregate (VERDICT r4 #7).

``community_adjacency`` (operators/community.py) is the per-round
triplet-scale pass of the refinement loop — the one join+aggregate the
whole pipeline's wall-clock multiplies by round count.  A heavy-head
degree distribution (the co-purchase graph's is: max degree ≫ median)
could in principle pile one vertex's triplets onto one task; this tool
MEASURES whether it does, instead of guessing:

1. builds the co-purchase graph at the given sf_dir and runs
   community_adjacency (two label joins + one aggregate) → count with
   the Spark UI enabled,
2. pulls per-task durations of every stage of that job from the REST
   API (/api/v1), and
3. reports per-stage p50 / p99 / max task-time ratios.

Decision rule (recorded in SCALING.md): if max/p50 > 4× on the
aggregate's shuffle stage, the fix is ``plans.skew.salted_agg`` on the
(vId, c_own, cId) grouping; below that, AQE's skew-join split plus
hash-aggregate partial combining already flatten the distribution and
salting would only add a second shuffle.

Usage: PYTHONPATH=/root/repo python tools/measure_skew.py [sf_dir]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from community_detection_flink_spark import get_spark
from community_detection_flink_spark.operators.community import community_adjacency
from community_detection_flink_spark.sources.edges import co_purchase_edges


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
        return json.load(r)


def task_skew_per_stage(spark, job_group: str) -> list[dict]:
    app = _rest(spark, "applications")[0]["id"]
    out = []
    for st in _rest(spark, f"applications/{app}/stages?status=complete"):
        sid, att = st["stageId"], st["attemptId"]
        tasks = _rest(
            spark,
            f"applications/{app}/stages/{sid}/{att}/taskList?length=2000",
        )
        durs = sorted(
            t.get("duration", 0) for t in tasks if t.get("status") == "SUCCESS"
        )
        if len(durs) < 4:
            continue
        p50 = durs[len(durs) // 2]
        p99 = durs[min(len(durs) - 1, int(len(durs) * 0.99))]
        mx = durs[-1]
        out.append(
            {
                "stage": sid,
                "name": st["name"].split("\n")[0][:60],
                "tasks": len(durs),
                "p50_ms": p50,
                "p99_ms": p99,
                "max_ms": mx,
                "max_over_p50": round(mx / max(p50, 1), 2),
                "shuffle_write_mb": round(
                    st.get("shuffleWriteBytes", 0) / 1e6, 1
                ),
            }
        )
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(
        app_name="skew-measure", master="local[16]", shuffle_partitions=64
    )
    # the UI must be on for /api/v1; get_spark leaves it on by default
    spark.sparkContext.setLogLevel("ERROR")

    edges = co_purchase_edges(spark, sf_dir).persist()
    n_e = edges.count()
    deg = edges.groupBy("src").count()
    stats = deg.agg(
        F.expr("percentile_approx(count, 0.5)").alias("p50"),
        F.expr("percentile_approx(count, 0.99)").alias("p99"),
        F.max("count").alias("max"),
    ).first()
    print(
        f"# graph: {n_e} directed edges; degree p50={stats['p50']} "
        f"p99={stats['p99']} max={stats['max']} "
        f"(head ratio max/p50 = {stats['max'] / max(stats['p50'], 1):.1f}x)"
    )

    # labels: vId % 1009 — a mid-cardinality labeling exercises the
    # (vId, c_own, cId) aggregate the way a mid-refinement round does
    vertices = edges.select(F.col("src").alias("vId")).distinct().withColumn(
        "cId", F.col("vId") % 1009
    )
    t0 = time.time()
    n = community_adjacency(vertices, edges).count()
    dt = time.time() - t0
    print(f"# community_adjacency: {n} rows in {dt:.2f}s")

    report = {
        "sf_dir": sf_dir,
        "edges": n_e,
        "degree_p50": int(stats["p50"]),
        "degree_p99": int(stats["p99"]),
        "degree_max": int(stats["max"]),
        "adjacency_rows": n,
        "wall_sec": round(dt, 2),
        "stages": task_skew_per_stage(spark, "skew"),
    }
    print(json.dumps(report, indent=2))
    # only stages doing real work can exhibit DATA skew: a 15 ms-median
    # stage with one 100 ms task is scheduler noise, not a hot key
    worst = max(
        (s for s in report["stages"] if s["tasks"] >= 8 and s["p50_ms"] >= 100),
        key=lambda s: s["max_over_p50"],
        default=None,
    )
    if worst:
        verdict = (
            "SKEWED — salt the aggregate (plans.skew.salted_agg)"
            if worst["max_over_p50"] > 4
            else "no actionable skew (max/p50 <= 4x)"
        )
        print(f"# worst stage {worst['stage']}: max/p50 = "
              f"{worst['max_over_p50']}x -> {verdict}")


if __name__ == "__main__":
    main()
