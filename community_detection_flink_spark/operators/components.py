"""Distributed connected components (extension surface, SURVEY.md §2.10).

Not in the reference repo — but the natural closing step of every
dedup pipeline built on its candidate-pair operators: near-duplicate
PAIRS (``dedup.minhash_lsh_pairs`` / ``simhash_near_dup_pairs``) only
become dedup DECISIONS once transitively grouped, and grouping is
connected components.  Also a first-class graph query in its own right
(``g_connected_components``).

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14).  Converges in O(log² n) rounds independent of
graph diameter — the scale-correct choice over min-label propagation,
whose round count is the component DIAMETER (a 100 TB web/citation
graph can have diameter in the hundreds; a path graph makes label
propagation O(n) rounds).

Each round is two grouped aggregations over the current edge multiset:

  * large-star: every node attaches its strictly LARGER neighbors to
    the minimum of its closed neighborhood;
  * small-star: every node attaches its not-larger neighbors (and
    itself) to that minimum.

Both are a single shuffle on the node id; no step ever materializes a
neighborhood in memory (the min is an aggregate, the re-attach a
join), so skew from high-degree hubs is bounded by the shuffle's
per-key combine.  Loop state follows the engine's checkpoint
discipline (``plans/iteration.py``): each round's edge set is
parquet-materialized with an ``Observation``-carried convergence
checksum riding the write — zero extra jobs per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.plans.iteration import (
    Materializer,
    loop_width,
    scoped_shuffle_partitions,
)

MAX_ROUNDS = 50


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, m = min(Γ(u) ∪ {u})."""
    sym = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges (max → min); attach every smaller neighbor AND the
    node itself to m = min(Γ(u))."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")).distinct()
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
    )
    return out.where(F.col("u") != F.col("v")).distinct()


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = MAX_ROUNDS,
    mat: Materializer | None = None,
    rounds_per_landing: int = 2,
) -> DataFrame:
    """Component assignment ``(vId, comp)`` — comp = min vertex id of
    the component (deterministic canonical label).

    ``edges``: first two columns are the undirected endpoints (any
    names).  ``vertices`` (optional, one id column): extra vertices to
    cover; isolated ones map to themselves.

    Convergence test: the star-contraction potential (edge count +
    per-edge hash checksum) is monotone under both stars, so two
    identical consecutive checksums mean a fixed point (collision odds
    2^-64 per round; the fixed point itself is a forest of depth-1
    stars, which BOTH stars leave bit-identical — large-star keeps
    every (child > root) edge attached to the root, small-star
    re-emits it — so overshooting the fixed point never changes the
    answer).

    ``rounds_per_landing`` (r10): contraction rounds chained per
    parquet materialization.  The per-landing write+read+schedule
    floor (~1.6 s at sf0.1) dominated `emb_dup_clusters` (5 landings
    for a 5-round converge — VERDICT r9 #5); chaining 2 rounds cuts
    that to 3 landings (with per-round observations detecting a
    mid-batch fixed point), and fixed-point idempotence (above) makes
    any overshot rounds output-identical.  2 is the MEASURED optimum,
    not a guess: per-landing Catalyst/codegen cost grows super-
    linearly with chained star depth (sf0.1 kNN graph, same output:
    batch=1 ≈ batch=2 ≈ 10–14 s end-to-end, batch=3 ≈ 47–51 s), so
    deeper chaining loses far more in planning than it saves in
    landings.
    """
    spark = edges.sparkSession
    mat = mat or Materializer(spark)
    c0, c1 = edges.columns[0], edges.columns[1]
    e = (
        edges.select(
            F.col(c0).cast("long").alias("u"), F.col(c1).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    # The init landing stays a PARQUET landing: an r11 A/B replaced it
    # with persist() and CC got 75% SLOWER (36 vs 20 s at sf0.1) —
    # persist caches DATA but not the LOGICAL PLAN, so round 1's
    # chained star tree carried the caller's full input plan (the kNN
    # self-join) at every edge leaf and Catalyst's super-linear
    # chained-star cost (plans/iteration.py) ate the saving.  What WAS
    # real in that experiment: all_v must be built from the LANDED
    # edges — built from the raw input it silently re-executed the
    # caller's whole pipeline once more at final-join time (r11).
    e = mat(e, "cc-edges")
    init_e = e  # its files back all_v in the RETURNED plan: never drop
    # loop width (r11, plans.loop_width): the loop shuffles the same
    # known-size edge state every round.  The count is a parquet-
    # metadata read of the landed state, not a recompute.  AQE stays
    # ON in this loop (the r10 A/B: non-adaptive was 2× slower here —
    # the stars' min-label sides need runtime broadcast discovery).
    loop_sp = loop_width(spark, e.count(), 1)
    all_v = e.select(F.col("u").alias("vId")).union(e.select(F.col("v").alias("vId")))
    if vertices is not None:
        vc = vertices.columns[0]
        all_v = all_v.union(vertices.select(F.col(vc).cast("long").alias("vId")))
    all_v = all_v.distinct()

    prev_sig = None
    batch = max(1, int(rounds_per_landing))
    # NOTE (r10): this loop deliberately KEEPS adaptive planning,
    # unlike refinement/MIS/incremental — measured at sf0.1 the
    # non-adaptive variant was 2× SLOWER (9.6 → 18.4 s): the stars'
    # per-round min-label side is O(V) so it carries no static
    # broadcast hint, and AQE's runtime size discovery is what turns
    # those joins into broadcasts at small-state scale.  The job-floor
    # rationale only wins where every join is already hint-broadcast.
    n_landed = 0
    with scoped_shuffle_partitions(spark, loop_sp):
        for done in range(0, max_rounds, batch):
            # truncate the last batch so the total never exceeds max_rounds
            # (r11, closes the r10 ADVICE finding: a full final batch could
            # overshoot the documented cap by up to batch-1 rounds)
            batch = min(batch, max_rounds - done)
            prev_e = e
            # one Observation per chained round, ALL riding the single
            # landing job (CollectMetrics is a pass-through node): a fixed
            # point reached at any round boundary INSIDE the batch shows as
            # two equal consecutive checksums, so the loop stops without a
            # confirmation landing (the extra landing is only paid when the
            # fixed point lands exactly on the batch's last round).
            # checksum terms are bounded to [0, 2^31) so the ANSI sum can't
            # overflow long before ~4e9 edges per partition-tree
            obss = []
            nxt = e
            for _r in range(batch):
                nxt = _small_star(_large_star(nxt))
                ob = Observation()
                nxt = nxt.observe(
                    ob,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.pmod(F.xxhash64("u", "v"), F.lit(2147483647))
                    ).alias("h"),
                )
                obss.append(ob)
            # r13: in-loop landings are LIGHT (localCheckpoint — same
            # logical-plan truncation as parquet, no write/commit/read;
            # see plans.Materializer) except on Materializer.land_round's
            # parquet cadence, which resets estimated-stats drift.  Cheap here
            # BECAUSE the plan is truncated — the r11 persist() A/B
            # (75% slower, above) failed on plan growth, which a
            # LogicalRDD does not have.  AQE stays on: its runtime
            # sizes make the drifted estimates mostly moot anyway.
            n_landed += 1
            e = mat.land_round(nxt, "cc-edges", n_landed)
            if prev_e is not init_e:
                mat.drop(prev_e)
            sigs = [(ob.get["n"], ob.get["h"]) for ob in obss]
            if any(
                a == b for a, b in zip([prev_sig] + sigs[:-1], sigs)
            ):
                break
            prev_sig = sigs[-1]

    # fixed point: e is (child → root) stars; roots/isolated map to self
    return (
        all_v.join(e.withColumnsRenamed({"u": "vId", "v": "comp"}), "vId", "left")
        .select("vId", F.coalesce("comp", F.col("vId")).alias("comp"))
    )


def dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """Transitive near-duplicate groups: ``doc_id, group_id,
    group_size`` for EVERY document (singletons form their own group).

    ``pairs``: (doc_a, doc_b) candidate near-duplicate pairs, e.g. from
    ``dedup.minhash_lsh_pairs`` — this is the standard corpus-dedup
    pipeline's final step (group, then keep ``group_id``, the minimum
    doc id, as the representative).
    """
    from pyspark.sql import Window

    comp = connected_components(
        pairs.select("doc_a", "doc_b"), vertices=docs.select("doc_id")
    )
    assign = comp.select(F.col("vId").alias("doc_id"), F.col("comp").alias("group_id"))
    # sizes via ONE count window (r11, the emb_dup_clusters fix): the
    # groupBy-then-join shape executed the CC tail twice
    return assign.select(
        "doc_id",
        "group_id",
        F.count("*")
        .over(Window.partitionBy("group_id"))
        .cast("long")
        .alias("group_size"),
    )
