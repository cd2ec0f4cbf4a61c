"""P3 refinement loop + full WCC pipeline entry (SURVEY.md I4, E1/E3).

Reference: ``DistributedWCC.run`` / ``refinePartition``
(``DistributedWCC.scala:34-82, 258-329``): accept a simultaneous
best-movement pass iff it improves global WCC; a relative improvement
> threshold (0.01) resets the retry budget (maxRetries = 5,
``DistributedWCC.scala:27-29``).

Iterative-Spark discipline the reference lacks (its Flink version
recomputes lineage and forces ``count()``s, ``DistributedWCC.scala:317``):
every accepted state is materialized through ``plans.Materializer``
(parquet round-trip — truncates lineage AND resets Catalyst's
compounding join-size statistics; see ``plans/iteration.py`` for why
``localCheckpoint`` is pathological here), and superseded state is
simply dropped.  Only O(1) scalars (the WCC value) ever reach the
driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.operators.community import (
    best_movement,
    community_adjacency,
    community_stats,
    global_wcc,
)
from community_detection_flink_spark.operators.partition import initial_partition
from community_detection_flink_spark.operators.preprocess import preprocess
from community_detection_flink_spark.operators.triangles import triangles
from community_detection_flink_spark.plans.iteration import Materializer, loop_scope

THRESHOLD = 0.01  # DistributedWCC.scala:28
MAX_RETRIES = 5  # DistributedWCC.scala:30


@dataclass
class WCCResult:
    communities: DataFrame  # vId, cId over the FULL input vertex set
    stats: DataFrame  # cId, r, a, b, d over the refined partition
    global_wcc: float
    global_cc: float
    vertex_count: int
    iterations: int
    # populated only with run_wcc(keep_internals=True): the cleaned
    # graph the pipeline already computed, so callers like the
    # incremental prepare() don't re-enumerate triangles
    clean_vertices: DataFrame | None = None  # vId, t, vt, cc
    clean_edges: DataFrame | None = None  # doubled triangle-edge subgraph
    tri: DataFrame | None = None  # static triangle list (u, v, w)
    # global-WCC value of the initial partition followed by every
    # ACCEPTED refinement round, in order — strictly increasing by
    # construction of the accept-if-improved loop; recorded so the
    # monotonicity invariant (SURVEY §5.4) is gate-checkable, not just
    # asserted in tests
    wcc_history: list | None = None


class AcceptIfImproved:
    """Batch accept policy (``DistributedWCC.scala:258-329``): a round
    is kept iff it improves global WCC; every evaluated round spends a
    retry, and a relative gain > ``threshold`` refills the budget.

    ``wcc`` is the kept labeling's global WCC.  ``history``, if given,
    receives it for the input labeling and for every kept round.  Each
    evaluation is one job, which also fills the labeling's persisted
    adjacency and stats caches for the next movement pass.
    """

    def __init__(self, edges, vertex_count, tri, max_retries, threshold, history=None):
        self.edges, self.vertex_count, self.tri = edges, vertex_count, tri
        self.max_retries, self.threshold = max_retries, threshold
        self.retries = max_retries
        self.history = [] if history is None else history
        self.wcc = 0.0

    def _eval(self, labels, vcd, cs) -> float:
        return global_wcc(
            labels, self.edges, cs, self.vertex_count, vcd=vcd, tri=self.tri
        )

    def begin(self, labels, vcd, cs) -> None:
        self.wcc = self._eval(labels, vcd, cs)
        self.history.append(self.wcc)

    def more(self, rounds: int) -> bool:
        return self.retries > 0

    def accept(self, labels, vcd, cs) -> bool:
        wcc = self._eval(labels, vcd, cs)
        self.retries -= 1
        if not wcc > self.wcc:
            return False
        # Scala's newWcc/bestWcc - 1 > threshold is Infinity > 0.01
        # when bestWcc == 0, so an improvement from 0 also resets the
        # retry budget (DistributedWCC.scala:309-312).
        if self.wcc <= 0 or (wcc / self.wcc - 1.0) > self.threshold:
            self.retries = self.max_retries
        self.wcc = wcc
        self.history.append(wcc)
        return True


@dataclass(frozen=True)
class FixedRounds:
    """Incremental accept policy (``IncrementalWCC.scala:332-393``):
    every round is kept, at most ``cap`` of them, no WCC test.  The
    reference runs the rounds after a fixed point as identity passes;
    ``movement_rounds``' 0-move stop skips them."""

    cap: int

    def begin(self, labels, vcd, cs) -> None:
        pass

    def more(self, rounds: int) -> bool:
        return rounds < self.cap

    def accept(self, labels, vcd, cs) -> bool:
        return True


# r13 MEASURED NEGATIVE (why these rounds never land light): landing
# the round states via localCheckpoint instead of parquet was 2.7-3x
# SLOWER at sf0.1 (interleaved A/B, plans/r13/ab_refine_light_NEGATIVE_
# sf01.txt: light 136-156 s vs parquet 50 s for identical results and
# job counts).  The rounds plan non-adaptively (plans.loop_scope), so
# join strategies come from STATIC stats; a LogicalRDD carries the
# origin plan's ESTIMATED stats, and the movement plan's inner-join
# estimates (size products) blow past the 64 MB broadcast threshold
# immediately — the label-map joins flip to shuffle joins inside
# otherwise-identical jobs.  Parquet's true file-size stats are
# load-bearing here, and in the MIS election for the same reason.
# AQE-on loops (connected components, k-core, BFS, SSSP) don't have
# this failure mode and land light (Materializer.land_round).
#
# r13 MEASURED NEGATIVE (record): fusing the WCC eval into the round
# landing (persist the raw movement output, build vcd/cs/tC over it,
# ride the per-vertex WCC sum on the landing as an Observation)
# removed one job per round ON PAPER but returned caches whose
# ANALYZED plans rooted at the raw movement plan instead of the landed
# parquet — each round's cache plan embedded the previous round's, the
# analysis tree grew exponentially, and the driver OOM'd inside
# Catalyst resolution at sf0.001.  The caches must build over the
# LANDED state.
def movement_rounds(
    labels: DataFrame,
    edges: DataFrame,
    global_cc: float,
    vertex_count: int,
    mat: Materializer,
    policy,
    candidates: DataFrame | None = None,
    outer_labels: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """The movement-round protocol every refinement loop shares.

    Per labeling, ONE pass over the triplets: the two label joins feed
    the ``community_adjacency`` aggregate ``(vId, c_own, cId, dIn)``,
    persisted with the ``community_stats`` derived from it; they serve
    the policy's evaluation and the next movement pass (whose two
    stats broadcasts read the cache).  Each round runs
    ``best_movement``, lands the result on parquet with the moved-
    vertex count riding the landing as an Observation, and stops at a
    0-move pass (a fixed point: identical labels ⇒ identical stats ⇒
    identical decisions).  Otherwise ``policy.accept`` keeps the round
    — its caches replace the previous labeling's, whose landing is
    dropped — or rejects it, which drops the round and ends the loop.

    ``policy`` has ``begin(labels, vcd, cs)`` (called once for the
    input), ``more(rounds)`` and ``accept(labels, vcd, cs)`` — see
    ``AcceptIfImproved`` and ``FixedRounds``.

    ``candidates`` (a ``vId`` set): only these vertices move; the rest
    of ``labels`` is carried into every round unchanged.
    ``outer_labels`` (``vId, cId``): fixed labels of ``edges``' dst
    endpoints outside ``labels``, used by the adjacency only.

    ``edges`` must be src-partitioned and persisted by the caller; run
    this inside ``plans.loop_scope``.  Returns ``(labels, vcd, cs,
    rounds)`` with the kept labeling's caches still persisted (the
    caller unpersists them after its tail); ``rounds`` counts the
    landed rounds.  The input labeling is never dropped.
    """

    def caches(lab: DataFrame) -> tuple[DataFrame, DataFrame]:
        both = lab
        if outer_labels is not None:
            both = lab.select("vId", "cId").unionByName(outer_labels)
        vcd = community_adjacency(both, edges).persist()
        return vcd, community_stats(lab, edges, vcd=vcd).persist()

    cur = labels
    vcd, cs = caches(cur)
    policy.begin(cur, vcd, cs)
    rounds = 0
    while policy.more(rounds):
        obs = Observation()
        movers, movers_vcd = cur, vcd
        if candidates is not None:
            movers = cur.join(candidates, "vId", "left_semi")
            movers_vcd = vcd.join(candidates, "vId", "left_semi")
        moved = best_movement(
            movers, edges, cs, global_cc, vertex_count,
            mat=mat, vcd=movers_vcd, moves_observation=obs,
        )
        if candidates is not None:
            moved = cur.join(candidates, "vId", "left_anti").unionByName(moved)
        nxt = mat(moved, "moved")
        mat.release()
        rounds += 1
        if obs.get["moves"] == 0:
            mat.drop(nxt)
            break
        nxt_vcd, nxt_cs = caches(nxt)
        if not policy.accept(nxt, nxt_vcd, nxt_cs):
            nxt_vcd.unpersist(False)
            nxt_cs.unpersist(False)
            mat.drop(nxt)
            break
        vcd.unpersist(False)
        cs.unpersist(False)
        if cur is not labels:
            mat.drop(cur)
        cur, vcd, cs = nxt, nxt_vcd, nxt_cs
    return cur, vcd, cs, rounds


def refine_partition(
    vertices: DataFrame,
    clean_edges: DataFrame,
    vertex_count: int,
    max_retries: int = MAX_RETRIES,
    threshold: float = THRESHOLD,
    mat: Materializer | None = None,
    tri: DataFrame | None = None,
    history: list | None = None,
) -> tuple[DataFrame, DataFrame, float, float, int]:
    """Run the accept-if-improved movement loop (``movement_rounds``
    with ``AcceptIfImproved``).

    Planned NON-adaptive at the loop width (r10, ``plans.loop_scope``,
    floor 4): every loop input is a Materializer-landed parquet (true
    file-size stats) or a persisted loop cache, so AQE cannot improve a
    plan here — it only splits each tiny per-round landing into one
    driver-blocking job per query stage.  MEASURED at sf0.1 / local[32]
    (tools/count_jobs_batch.py): 26.5 → 11.6 jobs per round (−56%) for
    identical results (16 rounds, wcc 0.04752) and flat wall.

    Returns (best_vertices, best_stats, best_wcc, global_cc, rounds).
    ``history``, if given, receives the initial WCC and each ACCEPTED
    round's WCC (driver-side floats the loop computes anyway).
    ``tri`` (static triangle list of ``clean_edges``) turns the
    per-round tC pass into three joins + one aggregate (see
    ``intra_triangle_counts``); computed here if absent.  An already-
    landed input is not landed again, and is never dropped.
    """
    mat = mat or Materializer(vertices.sparkSession)
    if tri is None:
        # batch-scale triangle enumeration stays ADAPTIVE — only the
        # landed-parquet loop below goes non-adaptive
        tri = mat(triangles(clean_edges, mat=mat), "tri-static")
        mat.release()
    with loop_scope(vertices.sparkSession, clean_edges.count(), 4):
        # the static triangle list is scanned once per round by the WCC
        # eval — persist it for the loop like loop_edges below (r12),
        # unless the caller already has (the exit unpersist must never
        # drop a caller's cache)
        tri_persisted = not tri.is_cached
        if tri_persisted:
            tri = tri.persist()
        global_cc_total = vertices.agg(F.sum("cc").alias("s")).first()["s"] or 0.0
        global_cc = float(global_cc_total) / float(vertex_count)  # DistributedWCC.scala:261-262
        # One src-hash shuffle up front, reused every round: the label
        # maps broadcast, so the triplets build preserves this
        # partitioning and the per-src aggregations (vcd, vtC) and
        # vId-keyed joins downstream need no further exchange.
        loop_edges = clean_edges.repartition("src").persist()
        start = vertices if mat.is_landed(vertices) else mat(vertices, "best")
        policy = AcceptIfImproved(
            loop_edges, vertex_count, tri, max_retries, threshold, history
        )
        best, best_vcd, best_cs, rounds = movement_rounds(
            start, loop_edges, global_cc, vertex_count, mat, policy
        )
        # the returned stats must outlive the caches they derive from
        final_cs = mat(best_cs, "cs-final")
        for df in (best_cs, best_vcd, loop_edges):
            df.unpersist(False)
        if tri_persisted:
            tri.unpersist(False)
    return best, final_cs, policy.wcc, global_cc, rounds


def run_wcc(
    edges: DataFrame,
    max_retries: int = MAX_RETRIES,
    threshold: float = THRESHOLD,
    keep_internals: bool = False,
    pre: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    mat: Materializer | None = None,
) -> WCCResult:
    """E1/E3 — full batch WCC community detection.

    ``edges`` must be the symmetrized doubled-edge set
    (``sources.edges.symmetrize_edges``).  Mirrors
    ``DistributedWCC.run`` (``DistributedWCC.scala:34-82``): vertices
    pruned in preprocessing keep their own singleton community in the
    final result (``DistributedWCC.scala:63-78``).

    ``pre``: optional already-MATERIALIZED ``(tri, clean_vertices,
    clean_edges)`` for these edges — callers that preprocessed the
    graph for other queries (``__spark_entry__._graph``) skip the
    second triangle enumeration + cleanup.  ``edges`` must itself be
    materialized in that case (it is re-scanned for the vertex set).
    """
    mat = mat or Materializer(edges.sparkSession)
    if pre is None:
        edges = mat(edges, "edges")
    all_vertices = edges.select(F.col("src").alias("vId")).distinct()
    vertex_count = all_vertices.count()
    if vertex_count == 0:
        empty = edges.sparkSession.createDataFrame
        return WCCResult(
            communities=empty([], "vId LONG, cId LONG"),
            stats=empty([], "cId LONG, r INT, a DOUBLE, b LONG, d DOUBLE"),
            global_wcc=0.0,
            global_cc=0.0,
            vertex_count=0,
            iterations=0,
            clean_vertices=(
                empty([], "vId LONG, t INT, vt INT, cc DOUBLE") if keep_internals else None
            ),
            clean_edges=edges if keep_internals else None,
            tri=empty([], "u LONG, v LONG, w LONG") if keep_internals else None,
        )

    # One triangle enumeration serves preprocessing AND every refinement
    # round (tC via the static-list join): clean_edges keeps every
    # triangle edge, so triangles(clean) == triangles(full).
    if pre is not None:
        tri, vertices, clean_edges = pre
    else:
        tri = mat(triangles(edges, mat=mat), "tri")
        mat.release()  # oriented-edge cache
        vertices, clean_edges = preprocess(edges, mat=mat, tri=tri)
        clean_edges = mat(clean_edges, "clean-edges")
        vertices = mat(vertices, "clean-vertices")
    init = mat(initial_partition(vertices, clean_edges, mat=mat), "init")
    mat.release()  # MIS "higher" edge cache

    history: list = []
    best, best_cs, best_wcc, global_cc, rounds = refine_partition(
        init, clean_edges, vertex_count, max_retries, threshold, mat=mat,
        tri=tri, history=history,
    )
    # only `edges` (feeds all_vertices), `best`, and `best_cs` survive
    # into the returned plans — free the pipeline intermediates (the
    # cleaned graph stays when the caller asked to reuse it, and
    # caller-owned `pre` artifacts are never touched)
    # best IS init when the loop accepted no round (refine_partition no
    # longer re-lands an already-landed input, r13) — the returned
    # communities plan still reads init's files then
    superseded = [init] if best is not init else []
    if pre is None and not keep_internals:
        superseded += [tri, clean_edges, vertices]
    for df in superseded:
        mat.drop(df)

    communities = all_vertices.join(best.select("vId", "cId"), "vId", "left").select(
        "vId", F.coalesce("cId", F.col("vId")).alias("cId")
    )
    return WCCResult(
        communities=communities,
        stats=best_cs,
        global_wcc=best_wcc,
        global_cc=global_cc,
        vertex_count=vertex_count,
        iterations=rounds,
        clean_vertices=vertices if keep_internals else None,
        clean_edges=clean_edges if keep_internals else None,
        tri=tri if keep_internals else None,
        wcc_history=history,
    )
