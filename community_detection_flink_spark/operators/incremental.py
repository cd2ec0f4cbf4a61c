"""I5 — incremental WCC over edge micro-batches (SURVEY.md M6).

Reference: ``IncrementalWCC.scala:27-393``.  Spark-first re-expression
with the driver-side anti-patterns removed and two approximations made
exact — every divergence documented:

* Border/new classification (``IncrementalWCC.scala:86-89`` collects
  driver maps): here a distributed semi/anti join (J5) — nothing O(V)
  on the driver.
* Triangle maintenance (``IncrementalWCC.scala:114-181`` computes
  per-triplet deltas against partial adjacency arrays — an
  approximation that under/over-counts when a triangle has multiple
  new edges): here EXACT — every new triangle contains ≥1 new edge, so
  enumerating common neighbors of each new edge and deduping on the
  canonical (sorted) corner triple counts each new triangle once.
  Edge inserts only (like the reference; no deletions), so triangle
  counts and the cleaned edge set only grow:
  ``clean_new = clean_old ∪ edges-of-new-triangles``.
* ``vt`` (``IncrementalWCC.scala:163-178`` increments by a 0/1 flag):
  here exactly the cleaned-graph degree, consistent with the batch
  path (``DistributedWCC.scala:125-129``).
* One batch path for inserts and deletes: merge, re-elect centers
  inside the affected communities only (the reference re-elects over
  the whole triangle subgraph, ``IncrementalWCC.scala:185-227``), then
  fixed 5 movement rounds with NO accept-if-improved test, exactly
  like the reference (``IncrementalWCC.scala:332-393`` — contrast the
  batch path's converging loop), over one of two scopes: the batch
  neighborhood, or every clean vertex when the neighborhood is most of
  the graph.  Either way the carried per-community stats/WCC sums are
  spliced, so the final evaluation reads only the scope.
* The reference returns the PRE-batch community stats
  (``IncrementalWCC.scala:69`` quirk); we return the freshly computed
  stats — the honest value.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.functions.wcc_metric import cc_col
from community_detection_flink_spark.operators.community import (
    community_adjacency,
    wccv_by_community,
)
from community_detection_flink_spark.operators.partition import initial_partition
from community_detection_flink_spark.operators.preprocess import preprocess
from community_detection_flink_spark.operators.refinement import (
    FixedRounds,
    movement_rounds,
    run_wcc,
)
# module attribute the benchmark's layer tracer wraps (perfbench/spans.py)
from community_detection_flink_spark.operators.triangles import triangles  # noqa: F401
from community_detection_flink_spark.plans.iteration import (
    Materializer,
    loop_scope,
    no_aqe,
)
from community_detection_flink_spark.sources.edges import symmetrize_edges

INCREMENTAL_ROUNDS = 5  # IncrementalWCC.scala:382 (fixed, no convergence test)
COMPACT_EVERY = 8  # batches between parquet compactions of the lazy edge unions
# scoped refinement runs only when the batch neighborhood is at most
# this fraction of the clean graph; beyond it the whole-graph rounds
# have the better constant (see _pick_scope's scope probe); a value
# below 0 forces the whole-graph scope
_SCOPE_FRACTION = 0.5


@dataclass
class WCCState:
    """State carried across micro-batches (the reference carries
    ``(itGraph, cStats)``, ``CSVGraph.scala:96-98``)."""

    edges: DataFrame        # doubled symmetric edge set
    clean_edges: DataFrame  # triangle-edge subgraph (doubled)
    vertices: DataFrame     # vId, t, vt, cc, cId — ALL vertices (t=0 ⇒ singleton)
    stats: DataFrame        # cId, r, a, b, d over the cleaned partition
    global_wcc: float
    vertex_count: int
    # static triangle list (u, v, w) of clean_edges, maintained
    # incrementally: every new triangle contains ≥1 new edge, so the
    # per-batch delta from ``_new_triangles`` is DISJOINT from the
    # carried list and a plain union replaces the reference's full
    # per-batch re-enumeration (IncrementalWCC.scala:114-181 recomputes
    # adjacency state each batch)
    tri: DataFrame
    # per-community sums of the per-vertex WCC kernel ``(cId, s, n)``
    # (community.wccv_by_community) — carrying them is what lets a
    # batch's final evaluation touch ONLY the communities in the batch
    # neighborhood: every carried term outside it is provably unchanged
    wccv: DataFrame
    # highest vertex id seen (set by ``run_edge_batches``) — callers
    # that need the id ceiling read it here instead of re-running an
    # agg job over the edge set
    max_vertex: int | None = None
    # batches since ``edges``/``clean_edges`` were last parquet-landed:
    # inserts extend both as LAZY unions of disjoint deltas (no O(|E|)
    # dedup-shuffle-and-rewrite per batch — the r2 plans all paid one),
    # compacted to a single parquet root every COMPACT_EVERY batches so
    # scan fan-out and plan depth stay bounded
    pending_unions: int = 0


def prepare(
    edges: DataFrame,
    mat: Materializer | None = None,
    tri: DataFrame | None = None,
) -> WCCState:
    """Bulk load: full batch pipeline (``IncrementalWCC.prepare`` =
    ``DistributedWCC.run``, ``IncrementalWCC.scala:73-77``).

    ``run_wcc(keep_internals=True)`` hands back the cleaned graph it
    already computed, so the state build here costs three small joins —
    no second triangle enumeration.

    ``tri``: optional pre-computed triangle list of ``edges`` (callers
    that already enumerated a supergraph's triangles can filter them
    down instead of re-enumerating — see ``run_edge_batches``)."""
    mat = mat or Materializer(edges.sparkSession)
    if tri is not None:
        edges = mat(edges, "inc-edges")
        tri_m = mat(tri, "inc-tri-bulk")
        pv, pc = preprocess(edges, mat=mat, tri=tri_m)
        pc = mat(pc, "inc-pre-clean")
        pv = mat(pv, "inc-pre-verts")
        res = run_wcc(edges, keep_internals=True, pre=(tri_m, pv, pc), mat=mat)
    else:
        res = run_wcc(edges, keep_internals=True)
        edges = mat(edges, "inc-edges")
    clean_e = mat(res.clean_edges, "inc-clean")
    vertices = mat(
        res.communities.join(res.clean_vertices, "vId", "left").select(
            "vId",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.coalesce("vt", F.lit(0)).alias("vt"),
            F.coalesce("cc", F.lit(0.0)).alias("cc"),
            "cId",
        ),
        "inc-vertices",
    )
    stats = mat(res.stats, "inc-stats")
    # per-community WCC sums, carried so incremental batches can
    # re-evaluate only the communities they touch (one extra
    # community-adjacency pass here, at bulk-load time)
    clean_labeled = vertices.where(F.col("t") > 0)
    vcd = mat.cache(community_adjacency(clean_labeled, clean_e), "prep-vcd")
    wccv = mat(
        wccv_by_community(clean_labeled, stats, vcd, res.tri), "inc-wccv"
    )
    mat.release()
    return WCCState(
        edges=edges,
        clean_edges=clean_e,
        vertices=vertices,
        stats=stats,
        global_wcc=res.global_wcc,
        vertex_count=res.vertex_count,
        tri=res.tri,
        wccv=wccv,
    )


def _new_triangles(full_edges: DataFrame, new_e: DataFrame) -> DataFrame:
    """Triangles containing ≥1 new edge, each counted once.

    For each new undirected edge {u, v} (u < v), common neighbors in
    the merged graph close new triangles; triangles with 2-3 new edges
    appear for each of them, so dedupe on the sorted corner triple.
    The adjacency build is semi-joined down to endpoints of new edges
    — per-batch cost scales with the batch neighborhood, not |E|.
    """
    touched = (
        new_e.select(F.col("src").alias("vId"))
        .unionByName(new_e.select(F.col("dst").alias("vId")))
        .distinct()
    )
    adj = (
        full_edges.join(touched.withColumnsRenamed({"vId": "src"}), "src", "left_semi")
        .groupBy("src")
        .agg(F.collect_list("dst").alias("adj"))
    )
    half = new_e.where(F.col("src") < F.col("dst"))
    pairs = (
        half.join(adj.withColumnsRenamed({"src": "src", "adj": "adj_u"}), "src")
        .join(
            adj.withColumnsRenamed({"src": "dst", "adj": "adj_v"}),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.explode(F.array_intersect("adj_u", "adj_v")).alias("w"),
        )
    )
    corners = F.array_sort(F.array("src", "dst", "w"))
    return (
        pairs.select(corners.alias("c"))
        .distinct()
        .select(F.col("c")[0].alias("u"), F.col("c")[1].alias("v"), F.col("c")[2].alias("w"))
    )


def incremental_update(
    state: WCCState,
    batch_edges: DataFrame,
    mat: Materializer | None = None,
    rounds: int = INCREMENTAL_ROUNDS,
    diag: dict | None = None,
) -> WCCState:
    """Merge one edge micro-batch and re-partition
    (``IncrementalWCC.run``, ``IncrementalWCC.scala:27-71``).

    The merge is exact and batch-sized (anti-joined edge delta, exact
    triangle delta, lazy unions of the carried sets); the rest of the
    batch is ``_elect_and_refine``, shared with ``incremental_delete``:
    centers are re-elected only inside the affected communities, then
    the fixed movement rounds run over the batch neighborhood, or over
    every clean vertex when the neighborhood is most of the graph, and
    the carried per-community stats/WCC sums are spliced.  A localized
    batch therefore costs ∝ its neighborhood, not |E| (VERDICT r3 #2;
    the reference re-runs its election over the whole triangle
    subgraph and re-scans the whole graph 5×/batch,
    ``IncrementalWCC.scala:185-227, 332-393`` — forbidden at 100 TB).

    ``diag``: optional dict; when given, receives per-batch scope
    telemetry (``n_affected_comms``, ``n_scope_vertices``,
    ``n_candidates``, ``refine_rounds``; the two scope sizes are
    ``None`` for the whole-graph scope) at the cost of a few extra
    count jobs — for tests and SCALING.md, not the hot path.
    """
    mat = mat or Materializer(state.edges.sparkSession)

    sym = symmetrize_edges(batch_edges)
    new_e = mat(sym.join(state.edges, ["src", "dst"], "left_anti"), "inc-newe")
    # new_e is anti-joined against the carried set, so the union is
    # DISJOINT — no dedup shuffle, no O(|E|) rewrite per batch.  The
    # union stays lazy (a scan of the carried parquet roots plus this
    # batch's delta file) and is compacted every COMPACT_EVERY batches.
    full_edges = state.edges.unionByName(new_e)
    compact = state.pending_unions + 1 >= COMPACT_EVERY
    if compact:
        full_edges = mat(full_edges, "inc-edges")

    # distributed border/new classification (J5; reference collects maps)
    batch_verts = (
        new_e.select(F.col("src").alias("vId")).distinct()
    )
    old_verts = state.vertices.select("vId")
    new_verts = batch_verts.join(old_verts, "vId", "left_anti")

    # exact triangle delta
    tri = mat(_new_triangles(full_edges, new_e), "inc-tri")
    delta_t = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("vId"))
        .groupBy("vId")
        .agg(F.count("*").cast("int").alias("dt"))
    )
    # cleaned edge set only grows: add the edges of new triangles
    tri_half = (
        tri.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(tri.select(F.col("u").alias("src"), F.col("w").alias("dst")))
        .unionByName(tri.select(F.col("v").alias("src"), F.col("w").alias("dst")))
    )
    tri_edges = tri_half.unionByName(
        tri_half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    # a new triangle's edges may already be clean — subtract them with
    # ONE scan of the carried clean set (broadcast semi: tri_edges is
    # batch-sized) instead of a full dedup shuffle, then union the now-
    # DISJOINT delta
    already = state.clean_edges.join(
        F.broadcast(tri_edges), ["src", "dst"], "left_semi"
    )
    clean_add = mat(
        tri_edges.join(F.broadcast(already), ["src", "dst"], "left_anti"),
        "inc-clean-add",
    )
    clean_new = state.clean_edges.unionByName(clean_add)
    if compact:
        clean_new = mat(clean_new, "inc-clean")
    vt_new = clean_new.groupBy(F.col("src").alias("vId")).agg(
        F.count("*").cast("int").alias("vt_new")
    )

    all_verts = old_verts.unionByName(new_verts).distinct()
    vertices, vertex_count, global_cc = _land_vertices(
        all_verts.join(state.vertices.drop("vt", "cc"), "vId", "left")
        .join(delta_t, "vId", "left")
        .join(vt_new, "vId", "left")
        .select(
            "vId",
            (F.coalesce("t", F.lit(0)) + F.coalesce("dt", F.lit(0))).cast("int").alias("t"),
            F.coalesce("vt_new", F.lit(0)).alias("vt"),
            F.coalesce("cId", F.col("vId")).alias("cId"),
        )
        .withColumn("cc", cc_col(F.col("t"), F.col("vt"))),
        mat,
    )

    # t changes exactly at corners of new triangles; vt changes at
    # endpoints of newly-cleaned edges — all of which are corners
    # too (a new clean edge is an edge of some new triangle)
    changed_verts = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("vId")).distinct()
    )
    # the delta is DISJOINT from the carried list (every new triangle
    # has a new edge), so the union stays LAZY like edges/clean_edges —
    # landing it would rewrite the ENTIRE O(|T|) triangle list every
    # batch for no lineage benefit (both sides are parquet-backed);
    # compacted on the same COMPACT_EVERY cadence as the edge sets
    tri_static = state.tri.unionByName(tri.select("u", "v", "w"))
    if compact:
        tri_static = mat(tri_static, "inc-tri-static")
    return _elect_and_refine(
        vertices, clean_new, changed_verts, tri_static, full_edges,
        vertex_count, global_cc, mat, rounds, state.stats, state.wccv,
        pending_unions=0 if compact else state.pending_unions + 1,
        diag=diag,
    )


def _land_vertices(
    vertices: DataFrame, mat: Materializer
) -> tuple[DataFrame, int, float]:
    """Land a batch's vertex table; |V| and Σcc (the global CC,
    ``IncrementalWCC.scala:109``) ride the landing as an Observation —
    zero extra jobs.  An empty graph (a delete or self-loop-only batch
    on an empty state) has global CC 0."""
    obs = Observation()
    vertices = mat(
        vertices.observe(obs, F.count(F.lit(1)).alias("n"), F.sum("cc").alias("s")),
        "inc-verts",
    )
    vertex_count = int(obs.get["n"])
    return vertices, vertex_count, float(obs.get["s"] or 0.0) / max(vertex_count, 1)


def _elect_and_refine(
    vertices: DataFrame,
    clean_new: DataFrame,
    changed_verts: DataFrame,
    tri_static: DataFrame,
    full_edges: DataFrame,
    vertex_count: int,
    global_cc: float,
    mat: Materializer,
    rounds: int,
    old_stats: DataFrame,
    old_wccv: DataFrame,
    pending_unions: int = 0,
    diag: dict | None = None,
    affected_comms: DataFrame | None = None,
) -> WCCState:
    """Shared tail of every incremental batch (insert or delete):
    re-elect centers inside the affected communities, run the fixed
    movement rounds over the scope ``_pick_scope`` chooses — the batch
    neighborhood, or every clean vertex — splice the carried
    per-community stats/WCC sums, and assemble the next ``WCCState``.

    Documented divergence: the reference re-runs its election Pregel
    over the WHOLE triangle subgraph every batch
    (``IncrementalWCC.scala:185-227``) and so relabels arbitrarily far
    from the batch; here every vertex outside the affected communities
    keeps its label, and the movement rounds still move any boundary
    vertex the local election placed suboptimally.

    ``affected_comms``: optional override of the affected-community
    set.  The default derives it from ``vertices``' labels of the
    changed vertices — correct for inserts (new vertices carry their
    own id as label).  The DELETE path must pass the PRE-delete labels
    instead: a vertex reverted to a singleton (t → 0) already carries
    ``cId = vId`` in ``vertices``, which would hide its former
    community from the affected set even though that community lost a
    member and its boundary edges — the carried-stats splice (and the
    election) must see it.

    The splice is one algebra for both scopes: drop every carried
    community with a member in the scope's labeling ``vr``, and every
    affected community (a community whose EVERY member reverted to t=0
    in a delete batch has no member left in ``vr`` — its old label is
    hidden behind the rebuilt cId=vId singletons, and its stale rows
    would poison every later splice; on insert batches t never
    decreases, so the union adds nothing), then union the freshly
    computed tables.  For the whole-graph scope ``vr`` holds every
    clean vertex, so every carried row is dropped and the splice
    reduces to the fresh tables.
    """
    if affected_comms is None:
        affected_comms = (
            vertices.join(changed_verts, "vId", "left_semi")
            .select("cId")
            .distinct()
        )
    # ONE clean-edge count serves every loop-width sizing in this batch
    # (r13): the election previously sized its width by count()ing its
    # scoped semi-join plan — a full extra edge pass per batch.  The
    # scoped election's true edge count is ≤ this bound; width sizing
    # only needs the magnitude (clamped at the session width anyway).
    n_clean_edges = clean_new.count()
    clean_all = vertices.where(F.col("t") > 0)
    # center election on the affected part of the cleaned subgraph
    elect_verts = clean_all.join(
        affected_comms, "cId", "left_semi"
    ).select("vId", "t", "vt", "cc")
    elect_edges = (
        clean_new.join(
            elect_verts.select(F.col("vId").alias("src")), "src", "left_semi"
        ).join(elect_verts.select(F.col("vId").alias("dst")), "dst", "left_semi")
    )
    local = initial_partition(
        elect_verts, elect_edges, mat=mat, edge_count=n_clean_edges
    )
    keep = clean_all.join(
        affected_comms, "cId", "left_anti"
    ).select("vId", "t", "vt", "cc", "cId")
    with no_aqe(vertices.sparkSession):
        part = mat(local.unionByName(keep), "inc-part")
    mat.release()

    scope = _pick_scope(vertices, part, clean_new, affected_comms, mat, n_clean_edges)
    vr = scope.labels
    vr_ids = vr.select("vId")
    scoped = scope.candidates is not None
    # fixed-round refinement, no accept test (IncrementalWCC.scala:332-393):
    # the same movement_rounds as refine_partition, and the
    # incrementally-maintained static triangle list for the final WCC —
    # no per-batch triangle re-enumeration.  The loop + tail runs
    # non-adaptive (plans.loop_scope): every root is a landed parquet
    # or a loop cache.
    with loop_scope(vertices.sparkSession, scope.est_edges, scope.floor):
        cur, cur_vcd, cur_cs, n_rounds = movement_rounds(
            vr, scope.edges, global_cc, vertex_count, mat, FixedRounds(rounds),
            candidates=scope.candidates, outer_labels=scope.outer_labels,
        )

        dropped_old = (
            vertices.join(vr_ids, "vId", "left_semi")
            .select("cId")
            .unionByName(affected_comms.select("cId"))
            .distinct()
        )
        new_stats = mat(
            old_stats.select("cId", "r", "a", "b", "d")
            .join(dropped_old, "cId", "left_anti")
            .unionByName(cur_cs.select("cId", "r", "a", "b", "d")),
            "inc-cs",
        )
        wccv_scope = wccv_by_community(
            cur, cur_cs, cur_vcd, tri_static, tri_scope=vr_ids if scoped else None
        )
        # the WCC total rides the splice landing as an Observation — no
        # separate aggregation job
        wccv_obs = Observation()
        new_wccv = mat(
            old_wccv.select("cId", "s", "n")
            .join(dropped_old, "cId", "left_anti")
            .unionByName(wccv_scope.select("cId", "s", "n"))
            .observe(wccv_obs, F.sum("s").alias("total")),
            "inc-wccv",
        )
        wcc = float(wccv_obs.get["total"] or 0.0) / max(vertex_count, 1)

        # merge the refined scope back over the untouched remainder
        r_comms = vr.select("cId").distinct()
        part_final = part.join(r_comms, "cId", "left_anti").unionByName(cur)
        final_vertices = mat(
            vertices.drop("cId")
            .join(part_final.select("vId", F.col("cId").alias("new_cId")), "vId", "left")
            .select(
                "vId", "t", "vt", "cc",
                F.coalesce("new_cId", F.col("vId")).alias("cId"),
            ),
            "inc-final",
        )
        if diag is not None:
            diag["n_affected_comms"] = affected_comms.count()
            diag["n_scope_vertices"] = vr_ids.count() if scoped else None
            diag["n_candidates"] = scope.candidates.count() if scoped else None
            diag["refine_rounds"] = n_rounds

    cur_vcd.unpersist(False)
    cur_cs.unpersist(False)
    scope.edges.unpersist(False)
    # everything the carried state needs is parquet-landed above — the
    # scope and the round labelings are superseded
    for df in (scope.candidates, scope.outer_labels, part, cur, vr):
        mat.drop(df)
    return WCCState(
        edges=full_edges,
        clean_edges=clean_new,
        vertices=final_vertices,
        stats=new_stats,
        global_wcc=wcc,
        vertex_count=vertex_count,
        tri=tri_static,
        wccv=new_wccv,
        pending_unions=pending_unions,
    )


class _Scope(NamedTuple):
    """What one batch's movement rounds run over (see ``_pick_scope``)."""

    labels: DataFrame  # vr: complete communities, post-election labels
    edges: DataFrame  # src-partitioned, persisted: every edge with src in vr
    candidates: DataFrame | None  # the vertices that may move; None = all
    outer_labels: DataFrame | None  # fixed labels of dst endpoints outside vr
    est_edges: int  # loop-width sizing
    floor: int  # loop-width floor


def _pick_scope(
    vertices: DataFrame,      # pre-election labeling (vId,t,vt,cc,cId)
    part: DataFrame,          # post-election labeling, same schema
    clean_new: DataFrame,
    affected_comms: DataFrame,  # PRE-election labels of changed vertices
    mat: Materializer,
    n_clean_edges: int,
) -> _Scope:
    """The batch-neighborhood scope (VERDICT r3 #2): the vertices a
    batch can influence, so the movement rounds and the final
    evaluation touch only them and the carried per-community
    stats/WCC sums cover everything else.  When the scope probe finds
    the neighborhood larger than ``_SCOPE_FRACTION`` of the clean
    graph, the scope is the whole graph instead (every clean vertex
    moves), which has the better constant for global batches.

    Scope construction (all sets distributed, nothing driver-side):

      * S  = members of the post-election fragments of every affected
             community (the vertices the election may have relabeled);
      * M  = S ∪ neighbors(S) — the MOVEMENT CANDIDATES: exactly the
             vertices whose movement inputs (own stats, a neighbor's
             label, own t/vt) a batch can change;
      * R  = labels of M — every community a candidate belongs to, and
             the communities candidates may move INTO;
      * V_R = all members of R-communities (complete communities, so
             scoped community stats are exact).

    Candidate TARGETS are clipped to R (the movement pass's stats join
    is inner, so a target without fresh scoped stats simply isn't a
    candidate).  For S-candidates this loses nothing — their
    neighbors' labels are all in R by construction.  For boundary
    candidates (nbr(S) \\ S) it forbids moves into communities the
    batch didn't touch; from a converged prior state such a move was
    already rejected before the batch, so the clip only matters where
    the batch's global-scalar update flips a marginal far decision.
    (Including neighbors-of-M labels in R instead was measured to
    close the 2-hop neighborhood over the whole graph on dense
    small-world inputs — scope 2160/2160 vertices at sf0.01 — turning
    the scoped path into the full path with extra steps.)

    Vertices outside M keep their labels: their own t/vt/cc, every
    neighbor's label, their community's (r, a, b, d), and the triangle
    corners around them are all batch-invariant, so a whole-graph
    movement pass starting from a converged prior labeling decides
    STAY for them — the only divergence from the whole-graph scope is
    (a) leftover movement pressure when a PREVIOUS batch's fixed 5
    rounds ended before its fixed point, and (b) marginal decisions
    that flip with the batch's update of the two global scalars
    (global CC, |V|) — both bounded by the reference's own
    approximation (it caps rounds at 5 with no convergence test).
    Parity is regression-pinned in tests/test_incremental_localized.py.

    Cost ∝ |edges incident to V_R| per round, + O(|T| scan) once for
    the scoped triangle semi-join, + community-sized splices.  The
    carried-stat algebra is exact: a pre-batch community either has
    ALL members in V_R (dropped and recomputed — election relabels
    whole communities, R-membership is by whole community) or NONE
    (carried unchanged; no edge, label, or triangle it sums over can
    have changed — every changed vertex is in an affected community
    and every changed edge/triangle is incident to one).
    """

    def whole_graph() -> _Scope:
        return _Scope(
            part, clean_new.repartition("src").persist(),  # see refine_partition
            None, None, n_clean_edges, 4,
        )

    clean_all = vertices.where(F.col("t") > 0)
    affected_ids = clean_all.join(
        affected_comms, "cId", "left_semi"
    ).select("vId")
    # post-election labels of relabeled vertices = ALL fragments the
    # election carved out of affected communities (not just fragments
    # containing a changed vertex — every fragment needs fresh stats)
    aff_new = part.join(affected_ids, "vId", "left_semi").select("cId").distinct()
    s_ids = part.join(aff_new, "cId", "left_semi").select("vId")

    # ---- scope probe (two stages, cheapest first) --------------------
    # A batch is only worth scoping when its neighborhood is a small
    # fraction of the graph; otherwise the scoped machinery is the full
    # path plus overhead (measured 49.5s vs 30.4s per batch at sf0.1 on
    # dense small-world graphs with uniformly-random batches).  Stage 1
    # checks the affected members alone (the relabeled set == the
    # affected pre-election members, so ONE vertex-sized left-join
    # aggregate yields both counts — no edge scan); stage 2 checks V_R
    # after the one edge scan that builds the candidate set.
    probe = (
        clean_all.join(
            affected_comms.select("cId").withColumn("_aff", F.lit(1)),
            "cId",
            "left",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.count("_aff").alias("s"))
        .first()
    )
    n_clean = int(probe["n"])
    if int(probe["s"]) > _SCOPE_FRACTION * n_clean:
        return whole_graph()
    nbr_s = (
        clean_new.join(s_ids.withColumnsRenamed({"vId": "src"}), "src", "left_semi")
        .select(F.col("dst").alias("vId"))
    )
    m_ids = mat(s_ids.unionByName(nbr_s).distinct(), "scope-m")
    r_comms = part.join(m_ids, "vId", "left_semi").select("cId").distinct()
    vr_obs = Observation()
    vr = mat(
        part.join(r_comms, "cId", "left_semi").observe(
            vr_obs, F.count(F.lit(1)).alias("n")
        ),
        "scope-vr",
    )
    if int(vr_obs.get["n"] or 0) > _SCOPE_FRACTION * n_clean:
        mat.drop(m_ids)
        mat.drop(vr)
        return whole_graph()
    vr_ids = vr.select("vId")
    # the only edges any scoped aggregate reads: src inside V_R
    scope_edges = (
        clean_new.join(vr_ids.withColumnsRenamed({"vId": "src"}), "src", "left_semi")
        .repartition("src")
        .persist()
    )
    # labels of dst endpoints OUTSIDE V_R never change during the
    # rounds — land them once, reuse in every per-round label map
    outer_lab = mat(
        part.select("vId", "cId")
        .join(
            scope_edges.select(F.col("dst").alias("vId")).distinct(),
            "vId",
            "left_semi",
        )
        .join(vr_ids, "vId", "left_anti"),
        "scope-outer",
    )
    # scoped rounds are neighborhood-sized over persisted scope_edges:
    # only M moves, and the labels outside V_R stay fixed.  Loop width
    # (r11, VERDICT r10 #4) sized on the ESTIMATED scope edge count —
    # |V_R| (already counted by the probe's Observation) × the graph's
    # mean out-degree from two landed-state counts, no extra edge-scan
    # job.
    est_edges = int(vr_obs.get["n"] or 0) * n_clean_edges // max(1, n_clean)
    return _Scope(vr, scope_edges, m_ids, outer_lab, est_edges, 1)


def incremental_delete(
    state: WCCState,
    deleted_edges: DataFrame,
    mat: Materializer | None = None,
    rounds: int = INCREMENTAL_ROUNDS,
    diag: dict | None = None,
) -> WCCState:
    """Engine extension BEYOND the reference (``IncrementalWCC`` is
    insert-only): remove an edge micro-batch and re-partition.

    Exactness rides on the carried triangle list: a triangle dies iff
    one of its three undirected edges is deleted, so the delta is
    three broadcast semi-joins of the static list against the (small)
    deleted set — never a re-enumeration.  A cleaned edge survives iff
    some remaining triangle still contains it, and the only edges that
    can change status are edges of dead triangles, so the survivor
    check is again a broadcast semi-join.  Vertices never disappear:
    one whose last triangle dies reverts to a singleton community
    (t = 0 ⇒ cId = vId), the same rule the batch pipeline applies to
    pruned vertices (``DistributedWCC.scala:63-78`` semantics).  The
    re-partition is ``_elect_and_refine``, the same as an insert's.
    """
    mat = mat or Materializer(state.edges.sparkSession)

    sym = symmetrize_edges(deleted_edges)
    # only edges actually present can be deleted
    del_e = mat(sym.join(state.edges, ["src", "dst"], "left_semi"), "del-e")
    full_edges = mat(
        state.edges.join(del_e, ["src", "dst"], "left_anti"), "inc-edges"
    )
    half_del = del_e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("p"), F.col("dst").alias("q")
    )

    tri_all = state.tri
    corner_pairs = (("u", "v"), ("u", "w"), ("v", "w"))

    def _pairs(df):
        parts = [
            df.select(
                F.least(F.col(a), F.col(b)).alias("p"),
                F.greatest(F.col(a), F.col(b)).alias("q"),
            )
            for a, b in corner_pairs
        ]
        return parts[0].unionByName(parts[1]).unionByName(parts[2])

    dead_parts = [
        tri_all.select(
            "u", "v", "w",
            F.least(F.col(a), F.col(b)).alias("p"),
            F.greatest(F.col(a), F.col(b)).alias("q"),
        )
        .join(F.broadcast(half_del), ["p", "q"], "left_semi")
        .select("u", "v", "w")
        for a, b in corner_pairs
    ]
    dead = mat(
        dead_parts[0].unionByName(dead_parts[1]).unionByName(dead_parts[2]).distinct(),
        "del-dead-tri",
    )
    tri_new = mat(tri_all.join(dead, ["u", "v", "w"], "left_anti"), "inc-tri-static")

    # exact t delta: each dead triangle un-counts once per corner
    dt = (
        dead.select(F.explode(F.array("u", "v", "w")).alias("vId"))
        .groupBy("vId")
        .agg(F.count("*").cast("int").alias("dt"))
    )

    # cleaned-edge survivors among the candidates (edges of dead
    # triangles); everything else keeps its status
    cand = _pairs(dead).distinct()
    alive = (
        _pairs(tri_new)
        .join(F.broadcast(cand), ["p", "q"], "left_semi")
        .distinct()
    )
    gone_half = cand.join(alive, ["p", "q"], "left_anti")
    gone = (
        gone_half.select(F.col("p").alias("src"), F.col("q").alias("dst"))
        .unionByName(gone_half.select(F.col("q").alias("src"), F.col("p").alias("dst")))
        .unionByName(del_e.select("src", "dst"))
        .dropDuplicates(["src", "dst"])
    )
    clean_new = mat(
        state.clean_edges.join(gone, ["src", "dst"], "left_anti"), "inc-clean"
    )
    vt_new = clean_new.groupBy(F.col("src").alias("vId")).agg(
        F.count("*").cast("int").alias("vt_new")
    )

    t_new = (F.col("t") - F.coalesce("dt", F.lit(0))).cast("int")
    vertices, vertex_count, global_cc = _land_vertices(
        state.vertices.drop("vt", "cc")
        .join(dt, "vId", "left")
        .join(vt_new, "vId", "left")
        .select(
            "vId",
            t_new.alias("t"),
            F.coalesce("vt_new", F.lit(0)).alias("vt"),
            # losing the last triangle reverts to a singleton community
            F.when(t_new > 0, F.col("cId")).otherwise(F.col("vId")).alias("cId"),
        )
        .withColumn("cc", cc_col(F.col("t"), F.col("vt"))),
        mat,
    )

    changed_verts = (
        dead.select(F.explode(F.array("u", "v", "w")).alias("vId")).distinct()
    )
    # PRE-delete labels (see _elect_and_refine: a reverted singleton's
    # new cId = vId would hide its former community from the set)
    affected_old = (
        state.vertices.join(changed_verts, "vId", "left_semi")
        .select("cId")
        .distinct()
    )
    return _elect_and_refine(
        vertices, clean_new, changed_verts, tri_new, full_edges,
        vertex_count, global_cc, mat, rounds, state.stats, state.wccv,
        diag=diag,
        affected_comms=affected_old,
    )


def save_state(state: WCCState, path: str) -> None:
    """Persist a ``WCCState`` for restart (streaming sessions outlive
    drivers; ``run_stream`` checkpoints cover the SOURCE offsets, this
    covers the engine state).  Each component is a parquet directory —
    executor-parallel, works on HDFS/S3 paths — plus a one-row JSON
    manifest for the scalars (written through Spark so remote
    filesystems work the same as local ones)."""
    spark = state.edges.sparkSession
    state.edges.write.mode("overwrite").parquet(f"{path}/edges")
    state.clean_edges.write.mode("overwrite").parquet(f"{path}/clean_edges")
    state.vertices.write.mode("overwrite").parquet(f"{path}/vertices")
    state.stats.write.mode("overwrite").parquet(f"{path}/stats")
    state.tri.write.mode("overwrite").parquet(f"{path}/tri")
    state.wccv.write.mode("overwrite").parquet(f"{path}/wccv")
    spark.createDataFrame(
        [(state.global_wcc, state.vertex_count, state.max_vertex)],
        "global_wcc DOUBLE, vertex_count LONG, max_vertex LONG",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def load_state(spark, path: str) -> WCCState:
    """Restore a ``WCCState`` written by ``save_state``."""
    meta = spark.read.json(f"{path}/meta").first()
    return WCCState(
        edges=spark.read.parquet(f"{path}/edges"),
        clean_edges=spark.read.parquet(f"{path}/clean_edges"),
        vertices=spark.read.parquet(f"{path}/vertices"),
        stats=spark.read.parquet(f"{path}/stats"),
        global_wcc=float(meta.global_wcc),
        vertex_count=int(meta.vertex_count),
        tri=spark.read.parquet(f"{path}/tri"),
        wccv=spark.read.parquet(f"{path}/wccv"),
        # json omits null columns: an unset max_vertex leaves no field
        max_vertex=(
            int(meta.max_vertex)
            if "max_vertex" in meta.__fields__ and meta.max_vertex is not None
            else None
        ),
    )
