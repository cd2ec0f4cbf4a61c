"""P2 initial partition — center election (SURVEY.md I3).

Reference: ``DistributedWCC.performInitialPartition``
(``DistributedWCC.scala:138-255``) — a Gelly vertex-centric iteration
(≤50 supersteps) whose fixed point is the greedy maximal-independent-set
partition over the total vertex order (cc, vt, vId)
(``VertexMessage.scala:46-48``):

  * a vertex is a CENTER  ⟺  no strictly higher-ordered neighbor is a
    center;
  * a non-center joins its highest-ordered center neighbor
    (``DistributedWCC.scala:187-198``).

PySpark has no Pregel (GraphX is JVM-only), so we compute the same
fixed point with one of two loops.  When the clean graph fits one task
(``operators/task_tier.py``), every round runs inside one Arrow-batched
pandas task over arrays; otherwise, with an iterative DataFrame loop —
the SURVEY.md M4 fallback.  Each round decides every vertex whose
higher-ordered neighborhood is fully decided, so rounds = longest
strictly-increasing path among undecided chains (small for real
graphs); capped at 50 like the reference.

Scale discipline: the "is my neighbor higher-ordered?" join is computed
ONCE (the order never changes); the loop then operates on a FRONTIER —
the higher-edges between still-undecided vertices — that shrinks
geometrically as each new center eliminates its whole neighborhood, so
per-round cost tracks the surviving frontier, not |E|.  Round state is
materialized via ``plans.Materializer`` (see ``plans/iteration.py`` for
why not ``localCheckpoint``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.operators import task_tier
from community_detection_flink_spark.plans.iteration import (
    Materializer,
    loop_scope,
)

MAX_ITERATIONS = 50  # DistributedWCC.scala:143


def _ord(cc_name, vt_name, id_name):
    """Total vertex order (cc, vt, vId) as a comparable struct
    (``VertexMessage.scala:46-48``).  Field names normalized so struct
    comparison resolves."""
    return F.struct(
        F.col(cc_name).alias("o_cc"),
        F.col(vt_name).alias("o_vt"),
        F.col(id_name).alias("o_id"),
    )


def initial_partition(
    vertices: DataFrame,
    clean_edges: DataFrame,
    edge_count: int,
    mat: Materializer,
    max_iterations: int = MAX_ITERATIONS,
    report: dict | None = None,
) -> DataFrame:
    """Return ``vertices`` + ``cId`` column (center election result).

    ``edge_count``: known (or upper-bound) row count of ``clean_edges``
    — the carried count (``refinement.Graph.clean_edge_count``, or the
    incremental batch's clean-edge count), so no job runs for it.  It
    picks the loop (``task_tier.fits``) and sizes the Spark loop's
    shuffle width.  ``report``, if given, receives ``election``: the
    loop that ran, "task" or "spark"; the Spark loop also reports
    ``election_rounds`` (the frontier rounds, counted by each round's
    convergence Observation) and ``election_landings`` (the initial
    undecided set, one per round and the centers).

    The task loop's plan is the whole election, run by the caller's
    landing.  The Spark loop's returned plan reads a ``mis-centers``
    landing that ``mat`` frees at its next ``release()``: land the
    partition before that."""
    v = vertices.select("vId", "t", "vt", "cc")
    loop = "task" if task_tier.fits(edge_count) else "spark"
    if report is not None:
        report["election"] = loop
    if loop == "task":
        return task_tier.elect(v, clean_edges, max_iterations)

    key = v.select("vId", "cc", "vt")
    ew = (
        clean_edges.join(
            key.withColumnsRenamed({"vId": "src", "cc": "cc_s", "vt": "vt_s"}), "src"
        ).join(
            key.withColumnsRenamed({"vId": "dst", "cc": "cc_d", "vt": "vt_d"}), "dst"
        )
    )
    # partitioned by src so each round's per-src aggregate is map-side
    # only (the tiny state side broadcasts; the join on dst preserves
    # this layout).  force=False: the cache fills inside round 1's
    # landing job instead of paying a separate count pass over the
    # double label join — the loop's semi/anti joins don't depend on
    # the cached size for their strategy (frontier sides only shrink;
    # r9 A/B at sf0.1: election wall unchanged, one full-join job gone)
    higher = mat.cache(
        ew.where(_ord("cc_d", "vt_d", "dst") > _ord("cc_s", "vt_s", "src"))
        .select("src", "dst")
        .repartition("src"),
        "higher",
        force=False,
    )

    # Frontier-shrinking schedule of the SAME fixed point: keep only
    # the higher-edges BETWEEN UNDECIDED vertices.  Each round
    #   * a vertex with no outgoing frontier edge has no higher
    #     undecided neighbor left ⇒ it is a CENTER (its higher decided
    #     neighbors are all non-centers: a higher center would have
    #     eliminated it already);
    #   * every undecided vertex with a frontier edge UP to a new
    #     center is decided NON-center (the anyCenterHigher rule);
    #   * the frontier restricts to the surviving undecided set.
    # On dense graphs one center eliminates its whole neighborhood, so
    # the frontier collapses geometrically — per-round cost tracks the
    # SHRINKING frontier instead of |E| (measured at sf0.1: election
    # 8.2s → ~2s per incremental batch).  Fixed point identical to the
    # reference's monotone schedule: the greedy MIS over a total order
    # is unique, and both schedules decide a vertex only after its
    # higher neighborhood is decided.
    # ONE action per round: the next undecided set's parquet write,
    # with the convergence count riding it as an Observation and the
    # frontier cache filling lazily inside the same job.  The undecided
    # parquet is the LINEAGE ROOT each round — a persist()-only loop
    # was measured to OOM the driver on plan-TREE size (each round
    # references the prior round's plan several times ⇒ the logical
    # tree grows exponentially even though the DAG is linear; an
    # InMemoryRelation does not truncate it, a fresh parquet scan
    # does).  centers_new stays lazy (re-derived from the cached
    # frontier in ≤ 3 consumers, each an anti/semi-join over a
    # collapsed frontier); the per-round undecided files are dropped
    # only after the final centers union is landed, because every
    # centers_new plan reads one of them.
    frontier = higher
    undec_files: list[DataFrame] = []
    frontier_caches: list[DataFrame] = []
    center_parts: list[DataFrame] = []
    # per-round queries are loop-state-sized semi/anti joins over
    # Materializer-landed roots and persisted frontiers — AQE only
    # multiplies the driver-blocking job count here (see plans.no_aqe;
    # r9 A/B at sf0.1: wall unchanged, per-round job count collapses).
    # Loop width (r11, VERDICT r10 #4): plans.loop_width sized on the
    # carried clean-edge count.
    with loop_scope(vertices.sparkSession, edge_count, 4):
        undecided = mat(v.select("vId"), "mis-undec")
        undec_files.append(undecided)
        # r13 MEASURED NEGATIVE (record): chaining TWO rounds per
        # landing (raw round in between, the CC-loop pattern) was ~15x
        # SLOWER here (interleaved A/B at sf0.1: 84.7-95.3 s / 84 jobs
        # vs 5.5-6.3 s / 57 jobs, identical results) — a raw round's
        # undecided set is re-derived by ~5 consumers, and each
        # re-execution re-runs anti/semi joins against the full
        # frontier, compounding through the chained frontier persists.
        # One landing per round IS this loop's floor.
        for _round in range(max_iterations):
            blocked = frontier.select(F.col("src").alias("vId"))
            centers_new = undecided.join(blocked, "vId", "left_anti")
            center_parts.append(centers_new)
            eliminated = frontier.join(
                centers_new.withColumnsRenamed({"vId": "dst"}), "dst", "left_semi"
            ).select(F.col("src").alias("vId"))
            obs = Observation()
            undecided = mat(
                undecided.join(centers_new, "vId", "left_anti")
                .join(eliminated, "vId", "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("undec")),
                "mis-undec",
                # NOT light either: localCheckpoint landings measured
                # 2x slower in this non-adaptive loop (A/B at sf0.1:
                # light 10.1-13.5 s / 177 jobs vs parquet 5.4-7.2 s /
                # 57 jobs) — same parquet-stats dependence as the
                # movement rounds (refinement.movement_rounds' note).
            )
            undec_files.append(undecided)
            if (obs.get["undec"] or 0) == 0:
                break
            frontier = (
                frontier.join(
                    undecided.withColumnsRenamed({"vId": "src"}), "src", "left_semi"
                )
                .join(undecided.withColumnsRenamed({"vId": "dst"}), "dst", "left_semi")
                .persist()
            )
            frontier_caches.append(frontier)

        # Assign communities: join each vertex's center neighbors, take
        # the highest-ordered one; adopt it iff it outranks the vertex
        # itself (DistributedWCC.scala:187-198).  Centers fall through
        # to vId.
        centers = center_parts[0]
        for part in center_parts[1:]:
            centers = centers.unionByName(part)
        # land the union while the frontier caches and undecided files
        # its plan reads are alive, then free all of them; the returned
        # plan reads the landing until the caller's release()
        centers = mat.scratch(centers, "mis-centers")
    if report is not None:
        report.update(election_rounds=len(undec_files) - 1,
                      election_landings=len(undec_files) + 1)
    for df in frontier_caches:
        df.unpersist(False)
    for df in undec_files:
        mat.drop(df)
    # only HIGHER-ordered center neighbors can be adopted (the adopt
    # test below requires bestCtr to outrank the vertex), so the
    # already-cached `higher` list replaces a recomputation of the full
    # ew triplets join — half the edges, zero extra label joins beyond
    # re-attaching the dst order key
    center_nbrs = (
        higher.join(centers.withColumnsRenamed({"vId": "dst"}), "dst", "left_semi")
        .join(
            key.withColumnsRenamed({"vId": "dst", "cc": "cc_d", "vt": "vt_d"}), "dst"
        )
        .groupBy(F.col("src").alias("vId"))
        .agg(F.max(_ord("cc_d", "vt_d", "dst")).alias("bestCtr"))
    )
    out = (
        v.join(center_nbrs, "vId", "left")
        .select(
            "vId",
            "t",
            "vt",
            "cc",
            F.when(
                F.col("bestCtr").isNotNull()
                & (F.col("bestCtr") > _ord("cc", "vt", "vId")),
                F.col("bestCtr.o_id"),
            )
            .otherwise(F.col("vId"))
            .alias("cId"),
        )
    )
    return out
