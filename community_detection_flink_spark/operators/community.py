"""Community statistics, global WCC, and best-movement (SURVEY.md A3-A8, I4).

All reference driver-side materialization is kept distributed:
the reference ``collect()``s community stats to the driver and ships
them in closures (``DistributedWCC.scala:359-364,443-456``) — at 100 TB
that map is O(C) and cannot live on the driver, so community stats stay
a DataFrame and every use is a broadcast-hash join (Catalyst broadcasts
under the threshold; explicit ``F.broadcast`` hints where the side is
provably small relative to edges).

One path per statistic: every per-labeling value derives from the
fused ``community_adjacency`` relation ``(vId, c_own, cId, dIn)`` —
community stats, the intra-community degree of the WCC kernel and the
movement candidates — and the triangle term of the WCC kernel from
the STATIC triangle list of the clean graph (``intra_triangle_counts``).

Input conventions:
  * ``vertices``: vId, t, vt, cc, cId
  * ``edges``: doubled symmetric edge set (src, dst)
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from community_detection_flink_spark.functions.wcc_metric import (
    density_col,
    wcc_i_col,
    wcc_r_col,
    wcc_v_col,
)


def edges_with_communities(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """J2 triplets pattern — attach both endpoints' community ids
    (``DistributedWCC.scala:340-347``): two equi-joins on vertex id."""
    cmap = vertices.select("vId", "cId")
    return (
        edges.join(cmap.withColumnsRenamed({"vId": "src", "cId": "c_src"}), "src")
        .join(cmap.withColumnsRenamed({"vId": "dst", "cId": "c_dst"}), "dst")
        .select("src", "dst", "c_src", "c_dst")
    )


def community_adjacency(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """The fused per-labeling relation ``(vId, c_own, cId, dIn)``:
    per-vertex per-neighbor-community edge count WITH the vertex's own
    label — ONE aggregate over the triplets from which every per-round
    consumer derives:

      * community stats ``a``/``b``  = sums over (c_own, cId==/!=c_own)
      * intra-community degree vtC   = the cId == c_own row
      * total degree degTot          = sum over cId
      * movement candidates          = the cId != c_own rows

    The reference recomputes each of these from scratch per round
    (``DistributedWCC.scala:348-357, 509-533, 545-564``) — 3 full
    triplet passes; deriving them from this one pre-aggregated table
    cuts the per-round heavy scans to one.  Grouping keys start with
    ``src``, so edges pre-partitioned by src aggregate without a new
    exchange, and the output is ≤ one row per (vertex, neighbor
    community) — far smaller than the edge set it summarizes.
    """
    return edges_with_communities(vertices, edges).groupBy(
        F.col("src").alias("vId"),
        F.col("c_src").alias("c_own"),
        F.col("c_dst").alias("cId"),
    ).agg(F.count("*").cast("int").alias("dIn"))


def community_stats(
    vertices: DataFrame, edges: DataFrame, vcd: DataFrame | None = None
) -> DataFrame:
    """A3+A4 — per-community size r, internal edges a, external edges b,
    density d = 2a/r² (``DistributedWCC.scala:536-564``,
    ``CommunityData.scala:13``).

    With doubled edges: an internal undirected edge contributes two
    same-community directed rows grouped under its community (÷2 = a);
    a boundary undirected edge contributes exactly one directed row
    whose src is inside each of its two communities (no correction = b).

    a/b are sums over ``vcd`` (the labeling's ``community_adjacency``,
    built here when the caller has none).
    """
    if vcd is None:
        vcd = community_adjacency(vertices, edges)
    sizes = vertices.groupBy("cId").agg(F.count("*").cast("int").alias("r"))
    agg = (
        vcd.groupBy("c_own")
        .agg(
            (F.sum(F.when(F.col("cId") == F.col("c_own"), F.col("dIn")).otherwise(0)) / 2.0)
            .cast("double")
            .alias("a"),
            F.sum(F.when(F.col("cId") != F.col("c_own"), F.col("dIn")).otherwise(0))
            .cast("long")
            .alias("b"),
        )
        .withColumnRenamed("c_own", "cId")
    )
    return sizes.join(agg, "cId", "left").select(
        "cId",
        "r",
        F.coalesce("a", F.lit(0.0)).alias("a"),
        F.coalesce("b", F.lit(0)).alias("b"),
        density_col(F.col("r"), F.coalesce("a", F.lit(0.0))).alias("d"),
    )


def vertex_community_degrees(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """A5 — per-(vertex, community) edge count: ``(vId, cId, dIn)``
    (``DistributedWCC.scala:348-357``): ``community_adjacency`` without
    its ``c_own`` column (one own label per vertex, so the rows are the
    same).  Stays a flat table — the reference re-groups into a
    per-vertex Map; relationally the flat shape is the joinable one."""
    return community_adjacency(vertices, edges).select("vId", "cId", "dIn")


def intra_triangle_counts(tri: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-vertex count of triangles whose three corners share a community.

    A triangle lies in the intra-community subgraph ⟺ all three of its
    edges are intra ⟺ all three corners carry the same label, so the
    STATIC triangle list (enumerated once per graph) joined against the
    current label map replaces the reference's per-round adjacency
    intersection (``DistributedWCC.scala:462-507``).  Per refinement
    round this is three equi-joins on vertex id + one hash aggregate —
    all linear in |triangles|, no list building; at cluster scale the
    label side broadcasts when small and otherwise shuffles on the
    corner ids the triangle list is already keyed by.
    """
    lab = labels.select("vId", "cId")
    return (
        tri.join(lab.withColumnsRenamed({"vId": "u", "cId": "c_u"}), "u")
        .join(lab.withColumnsRenamed({"vId": "v", "cId": "c_v"}), "v")
        .join(lab.withColumnsRenamed({"vId": "w", "cId": "c_w"}), "w")
        .where((F.col("c_u") == F.col("c_v")) & (F.col("c_v") == F.col("c_w")))
        .select(F.explode(F.array("u", "v", "w")).alias("vId"))
        .groupBy("vId")
        .agg(F.count("*").cast("int").alias("tC"))
    )


def _wcc_v(
    vertices: DataFrame, stats: DataFrame, vcd: DataFrame, tri: DataFrame
) -> DataFrame:
    """The per-vertex WCC kernel ``(cId, wccV)`` (``WCCMetric.scala:16-21``).

    * vtC (same-community neighbor count) = intra-community degree —
      the reference's community-neighbor array length
      (``DistributedWCC.scala:509-533``) — is ``vcd``'s cId == c_own
      row: no triplet scan.
    * tC (triangles v closes inside its community) — the reference
      intersects community-neighbor lists per intra-community edge
      (``DistributedWCC.scala:462-507``) — comes from the STATIC
      triangle list ``tri`` (``intra_triangle_counts``).
    """
    vtc = vcd.where(F.col("cId") == F.col("c_own")).select(
        "vId", F.col("dIn").alias("vtC")
    )
    tc = intra_triangle_counts(tri, vertices)
    return (
        vertices.join(vtc, "vId", "left")
        .join(tc, "vId", "left")
        .join(F.broadcast(stats.select("cId", "r")), "cId", "left")
        .select(
            "cId",
            wcc_v_col(
                F.col("t"),
                F.col("vt"),
                F.col("r"),
                F.coalesce("vtC", F.lit(0)),
                F.coalesce("tC", F.lit(0)),
            ).alias("wccV"),
        )
    )


def global_wcc(
    vertices: DataFrame,
    stats: DataFrame,
    vcd: DataFrame,
    tri: DataFrame,
    vertex_count: int,
) -> float:
    """A6+A7+A8 — global WCC = Σ_v wccV(v) / |V|
    (``DistributedWCC.scala:440-507``): the sum of the per-vertex
    kernel over ``vertices`` labeled as in ``stats`` and ``vcd`` (that
    labeling's ``community_stats`` and ``community_adjacency``), with
    ``tri`` the static triangle list of the clean graph.
    """
    total = _wcc_v(vertices, stats, vcd, tri).agg(F.sum("wccV").alias("s")).first()["s"]
    return float(total or 0.0) / float(vertex_count)


def wccv_by_community(
    vertices: DataFrame,
    stats: DataFrame,
    vcd: DataFrame,
    tri: DataFrame,
    tri_scope: DataFrame | None = None,
) -> DataFrame:
    """Per-community sums of the per-vertex WCC kernel: ``(cId, s,
    n)`` with s = Σ_{v ∈ c} wccV(v) and n the member count.

    The community-sized twin of ``global_wcc`` (the same kernel,
    grouped by ``cId`` instead of summed) — carrying it across incremental
    batches lets a batch re-evaluate ONLY the communities its
    neighborhood touched and reuse the carried sums for the rest
    (VERDICT r3 #2): Σ over all communities / |V| is the global WCC,
    and every term outside the batch neighborhood is provably
    unchanged (no member, edge-endpoint label, or triangle-corner
    label in those communities can change — see
    ``incremental._elect_and_refine``).

    ``tri_scope``: optional vertex-id set (one ``vId`` column); when
    given, the triangle pass is first semi-joined down to triangles
    with a corner in the set.  Sound whenever ``vertices`` covers
    exactly whole communities drawn from the set's labels: an
    all-same-label triangle with any corner in scope has ALL corners
    in scope.
    """
    if tri_scope is not None:
        tri = tri.join(
            tri_scope.withColumnsRenamed({"vId": "u"}), "u", "left_semi"
        )
    return (
        _wcc_v(vertices, stats, vcd, tri)
        .groupBy("cId")
        .agg(
            F.sum("wccV").alias("s"),
            F.count("*").cast("long").alias("n"),
        )
    )


@lru_cache(maxsize=64)
def _movement_kernels(global_cc: float, vertex_count: int) -> tuple[Column, Column]:
    """The movement pass's two kernel expressions, memoized per
    (globalCC, |V|) — the only values they close over.

    Building these trees costs hundreds of py4j round-trips (measured
    ~2.5 s per incremental batch at sf0.1: wcc_i/wcc_r reconstructed
    identically for each of the 5 fixed rounds, r13 driver profile).
    Column objects are immutable unresolved expressions over column
    NAMES, so one tree serves every round/labeling of a batch.  Keyed
    values change per batch; maxsize bounds the session footprint.
    This memoizes an expression TREE, never data or results.
    """
    w = F.lit(float(global_cc))
    v = F.lit(int(vertex_count))
    wccR = wcc_r_col(
        F.col("r_own"),
        F.col("a_own"),
        F.col("b_own"),
        F.col("dIn_own"),
        F.col("degTot") - F.col("dIn_own"),
        w,
        v,
    )
    wccI = wcc_i_col(
        F.col("r"),
        F.col("a"),
        F.col("b"),
        F.col("dIn"),
        F.col("degTot") - F.col("dIn"),
        w,
        v,
    )
    return wccR, wccI


def best_movement(
    vertices: DataFrame,
    stats: DataFrame,
    vcd: DataFrame,
    global_cc: float,
    vertex_count: int,
    mat,
    moves_observation=None,
) -> DataFrame:
    """I4 kernel — one simultaneous best-movement pass over all vertices
    (``DistributedWCC.scala:331-419``).  Returns ``vertices`` with an
    updated ``cId``.

    Relational shape: the per-vertex candidate loop of the reference
    becomes one row per (vertex, neighbor community) — the rows of
    ``vcd``, the labeling's ``community_adjacency`` — joined against
    broadcast community stats ``stats``; argmax via struct-max.
    ``mat`` (a ``plans.Materializer``) holds the pass's within-round
    cache.

    Faithfulness note: the reference's candidate scan takes the FIRST
    strictly-better candidate in Scala Map iteration order (arbitrary);
    we take max wccT with ties broken by smallest community id —
    deterministic, same fixed points.

    ``moves_observation``: optional ``pyspark.sql.Observation``; when
    given, the number of vertices whose label CHANGED this pass is
    recorded as metric ``moves`` — piggybacked on whatever action first
    executes the result (the loop's parquet landing), zero extra jobs.
    A 0-move pass is a fixed point (identical labels ⇒ identical stats
    ⇒ identical next decision), so callers break their round loop on
    it instead of paying another evaluate/compare cycle.
    """
    # vcd carries the own label: every downstream branch (degree
    # totals, own-community row, candidate scan) reads this single
    # cached table, all keyed on vId — with the edges src-partitioned
    # (see refine_partition) none of the groupBys below re-shuffle.
    kernel_r, kernel_i = _movement_kernels(float(global_cc), int(vertex_count))
    # ONE aggregation yields both the total degree and the own-community
    # share (the reference walks a per-vertex map twice,
    # DistributedWCC.scala:368-405)
    per_v = vcd.groupBy("vId", "c_own").agg(
        F.sum("dIn").cast("int").alias("degTot"),
        F.coalesce(
            F.sum(F.when(F.col("cId") == F.col("c_own"), F.col("dIn"))), F.lit(0)
        ).cast("int").alias("dIn_own"),
    )
    # joined on an EXPLICIT c_own == cId condition instead of renaming
    # cId inside the broadcast side (r13, guide §3): the rename made
    # this broadcast's child plan differ from the candidate join's
    # broadcast of the SAME stats below, so every movement round built
    # the stats broadcast TWICE — and because both builds launch
    # concurrently before the lazy cs cache fills, each one re-ran the
    # full community-stats aggregate (measured: identical-duration job
    # pairs of 0.3-2.3 s per round at sf0.1).  With identical broadcast
    # children the second is a ReusedExchange: one build per round.
    stats_b = F.broadcast(stats)
    own = (
        per_v.join(
            stats_b, per_v["c_own"] == stats_b["cId"], "left"
        )
        .select(
            per_v["vId"],
            per_v["c_own"],
            per_v["degTot"],
            per_v["dIn_own"],
            stats_b["r"].alias("r_own"),
            stats_b["a"].alias("a_own"),
            stats_b["b"].alias("b_own"),
        )
        .withColumn("wccR", kernel_r)
    )
    # `own` is referenced twice below (cand derives from it, decided
    # joins it back) — caching it keeps the movement job from
    # recomputing the aggregate (measured r10: dropping this cache made
    # movement rounds ~4x slower).  The count is FORCED: r12 made it
    # lazy to save one job per round, but the r13 interleaved A/B
    # (sf0.1, 3 pairs, plans/r13/ab_knob_lazy_own_NEGATIVE_sf01.txt)
    # measured the lazy variant 12-15% SLOWER for the whole refine loop
    # (45.7-54.7 s vs 40.1-45.8 s) — the two consumers launch
    # concurrently before the lazy cache fills and each recomputes the
    # aggregate, the same race the shared stats broadcast above had.
    # One cheap count job that serializes the fill wins.
    own = mat.cache(own, "own")

    cand = (
        vcd.where(F.col("cId") != F.col("c_own"))
        .drop("c_own")
        .join(own.select("vId", "c_own", "degTot", "wccR"), "vId")
        .join(F.broadcast(stats), "cId")
        .where(F.col("r") > 1)
        .withColumn("wccT", F.col("wccR") + kernel_i)
        .groupBy("vId")
        .agg(F.max(F.struct(F.col("wccT"), (-F.col("cId")).alias("negc"))).alias("best"))
        .select(
            "vId",
            F.col("best.wccT").alias("wccT"),
            (-F.col("best.negc")).alias("bestC"),
        )
    )

    decided = (
        own.join(cand, "vId", "left")
        .select(
            "vId",
            "c_own",
            "wccR",
            # Floor at 0 like the reference, whose candidate fold starts
            # at wccT = 0.0 (DistributedWCC.scala:380-413): when every
            # candidate is negative the decision logic must see 0, else
            # the REMOVE test wccR - wccT > 1e-5 fires where the
            # reference STAYs.  coalesce handles the no-candidate NULL.
            F.greatest(F.coalesce("wccT", F.lit(0.0)), F.lit(0.0)).alias("wccT"),
            F.coalesce("bestC", F.col("c_own")).alias("bestC"),
        )
        .select(
            "vId",
            F.when(
                ((F.col("wccR") - F.col("wccT")) > 0.00001) & (F.col("wccR") > 0.0),
                F.col("vId"),
            )
            .when(F.col("wccT") > 0.0, F.col("bestC"))
            .otherwise(F.col("c_own"))
            .alias("newC"),
        )
    )

    merged = vertices.join(decided, "vId", "left").withColumn(
        "_newC", F.coalesce("newC", F.col("cId"))
    )
    if moves_observation is not None:
        merged = merged.observe(
            moves_observation,
            F.count(F.when(F.col("_newC") != F.col("cId"), F.lit(1))).alias("moves"),
        )
    return merged.select(
        "vId", "t", "vt", "cc", F.col("_newC").alias("cId")
    )
