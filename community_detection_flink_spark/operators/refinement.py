"""P3 refinement loop + full WCC pipeline entry (SURVEY.md I4, E1/E3).

Reference: ``DistributedWCC.run`` / ``refinePartition``
(``DistributedWCC.scala:34-82, 258-329``): accept a simultaneous
best-movement pass iff it improves global WCC; a relative improvement
> threshold (0.01) resets the retry budget (maxRetries = 5,
``DistributedWCC.scala:27-29``).

Two loops, one protocol (``movement.protocol``, run by
``movement_rounds``): when the loop's state fits one task
(``operators/task_tier.py``), every round runs inside ONE Arrow-batched
pandas task with the array form of the kernels and the kept labeling
lands once; otherwise each round is a chain of Spark jobs with the
iterative-Spark discipline the reference lacks (its Flink version
recomputes lineage and forces ``count()``s,
``DistributedWCC.scala:317``): every accepted state is materialized
through ``plans.Materializer`` (parquet round-trip — truncates lineage
AND resets Catalyst's compounding join-size statistics; see
``plans/iteration.py`` for why ``localCheckpoint`` is pathological
here), and superseded state is simply dropped.  Either way only O(1)
scalars (the WCC values, the per-round move counts) reach the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.operators import task_tier
from community_detection_flink_spark.operators.community import (
    best_movement,
    community_adjacency,
    community_stats,
    global_wcc,
)
from community_detection_flink_spark.operators.movement import (
    AcceptIfImproved,
    protocol,
    replay,
)
from community_detection_flink_spark.operators.partition import (
    MAX_ITERATIONS,
    initial_partition,
)
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
    # where the returned plans' landings live (the caller's Materializer,
    # or the one ``run_wcc`` made); free them with ``res.mat.cleanup()``
    mat: Materializer
    # global-WCC value of the initial partition followed by every
    # ACCEPTED refinement round, in order — strictly increasing by
    # construction of the accept-if-improved loop; recorded so the
    # monotonicity invariant (SURVEY §5.4) is gate-checkable, not just
    # asserted in tests
    wcc_history: list | None = None
    # what the run did, from values it has anyway (no job): ``rounds``,
    # ``moves`` (vertices moved in each round), ``election_rounds`` (the
    # election's frontier rounds; the Spark loop also reports its
    # ``election_landings``) and which loop ran each phase, ``graph``
    # (the load), ``election`` and ``refinement`` ("task" = the
    # small-state tier, "spark" = the distributed loop)
    report: dict | None = None


@dataclass(frozen=True)
class Graph:
    """A graph landed by ``load_graph``: its tables, the counts that
    rode their landings, and the loop that loaded it."""

    edges: DataFrame  # the symmetrized doubled-edge set
    tri: DataFrame  # u, v, w — every triangle of ``edges`` once
    vertices: DataFrame  # vId, t, vt, cc — the clean vertices (t > 0)
    clean_edges: DataFrame  # the triangle edges, doubled
    clean_edge_count: int  # |E_clean|
    cc_sum: float  # Σcc over ``vertices``
    tri_count: int  # |tri|
    vertex_count: int  # |V|: the distinct vertices of ``edges``
    loop: str  # "task" (the small-state tier) or "spark"


def _counted(df: DataFrame, mat: Materializer, name: str) -> tuple[DataFrame, int]:
    """Land ``df`` through ``mat`` as ``name``; its row count rides the
    landing as an Observation."""
    obs = Observation()
    landed = mat(df.observe(obs, F.count(F.lit(1)).alias("n")), name)
    return landed, int(obs.get["n"])


def load_graph(
    edges: DataFrame, mat: Materializer, tri: DataFrame | None = None
) -> Graph:
    """Land ``edges`` and their cleaned graph once
    (``DistributedWCC.preprocess``, ``DistributedWCC.scala:88-130``):
    land the edges, enumerate their triangles (unless ``tri`` is given),
    and derive ``preprocess``'s clean edges and clean vertices.  One
    triangle enumeration serves preprocessing AND every later WCC
    evaluation: the clean edges keep every triangle edge, so
    triangles(clean) == triangles(full).

    |E| rides the ``edges`` landing as an Observation (and |tri| a given
    ``tri``'s, landed first).  When |E| + |tri| fits
    ``task_tier.TASK_ROWS``, one pandas task does the rest
    (``task_tier.load_graph``): clean edges, clean vertices and the
    triangles it enumerates land with ONE split landing, which carries
    |tri|, |E_clean|, Σcc and |V|.  The task counts the triangles as it
    enumerates them and gives up once |E| + |tri| stops fitting, so a
    triangle-dense graph loads on Spark: Spark enumerates the triangles
    and lands them (|tri| riding), then the clean edges (|E_clean|) and
    the clean vertices (Σcc), and one job counts |V|.  Every table
    lands through ``mat``; freeing them is the caller's.

    ``tri``: a triangle list of ``edges`` the caller already has (e.g.
    filtered down from a supergraph's, see ``run_edge_batches``).
    """
    edges, n_edges = _counted(edges, mat, "edges")
    tri_count = 0
    if tri is not None:
        tri, tri_count = _counted(tri, mat, "tri")
    if task_tier.fits(n_edges + tri_count):
        loaded = task_tier.load_graph(edges, n_edges, mat, tri)
        if loaded is not None:
            return Graph(edges=edges, loop="task", **loaded)
    if tri is None:
        tri, tri_count = _counted(triangles(edges, mat=mat), mat, "tri")
    mat.release()  # oriented-edge cache
    vertices, clean_edges = preprocess(tri)
    clean_edges, clean_edge_count = _counted(clean_edges, mat, "clean-edges")
    cc_obs = Observation()
    vertices = mat(vertices.observe(cc_obs, F.sum("cc").alias("s")), "clean-vertices")
    return Graph(
        edges=edges,
        tri=tri,
        vertices=vertices,
        clean_edges=clean_edges,
        clean_edge_count=clean_edge_count,
        cc_sum=float(cc_obs.get["s"] or 0.0),
        tri_count=tri_count,
        vertex_count=edges.select("src").distinct().count(),
        loop="spark",
    )


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
    state_rows: int,
    tri: DataFrame | None = None,
    candidates: DataFrame | None = None,
    outer_labels: DataFrame | None = None,
    report: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, int]:
    """The movement rounds every refinement loop shares: the movement
    protocol (``movement.protocol``) under ``policy`` (``AcceptIfImproved``
    or ``FixedRounds``), on one of two loops.

    ``state_rows`` — the rows of the loop's state, known without a job
    (``edges``, plus ``tri`` when the policy evaluates WCC) — picks the
    loop.  Under ``task_tier.TASK_ROWS`` every round runs in one task
    (``task_tier.run_rounds``): the protocol over arrays, the kept
    labeling landed once as ``moved``, and ``policy`` brought up to date
    from the WCCs that ride that landing.  Otherwise the protocol runs
    over landed labelings, each round a chain of Spark jobs:

    Per labeling, ONE pass over the triplets: the two label joins feed
    the ``community_adjacency`` aggregate ``(vId, c_own, cId, dIn)``,
    persisted with the ``community_stats`` derived from it; they serve
    the WCC evaluation (``global_wcc`` over ``tri``, one job that also
    fills them) and the next movement pass (whose two stats broadcasts
    read the cache).  Each move runs ``best_movement`` and lands the
    result on parquet with the moved-vertex count riding the landing as
    an Observation.  A labeling the protocol frees loses its caches and,
    unless it is the input, its landing.

    ``candidates`` (a ``vId`` set): only these vertices move; the rest
    of ``labels`` is carried into every round unchanged.
    ``outer_labels`` (``vId, cId``): fixed labels of ``edges``' dst
    endpoints outside ``labels``, used by the adjacency only.

    ``edges`` must be src-partitioned and persisted by the caller; run
    this inside ``plans.loop_scope``.  Returns ``(labels, vcd, cs,
    rounds)`` with the kept labeling's caches still persisted (the
    caller unpersists them after its tail); ``rounds`` counts the
    movement passes run.  The input labeling is never dropped.
    ``report``, if given, receives ``moves`` (vertices moved in each
    round) and ``refinement`` (the loop that ran: "task" or "spark").
    """

    def caches(lab: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
        both = lab
        if outer_labels is not None:
            both = lab.select("vId", "cId").unionByName(outer_labels)
        vcd = community_adjacency(both, edges).persist()
        return lab, vcd, community_stats(lab, edges, vcd=vcd).persist()

    def move(state):
        cur, vcd, cs = state
        obs = Observation()
        movers, movers_vcd = cur, vcd
        if candidates is not None:
            movers = cur.join(candidates, "vId", "left_semi")
            movers_vcd = vcd.join(candidates, "vId", "left_semi")
        moved = best_movement(
            movers, cs, movers_vcd, global_cc, vertex_count, mat,
            moves_observation=obs,
        )
        if candidates is not None:
            moved = cur.join(candidates, "vId", "left_anti").unionByName(moved)
        nxt = mat(moved, "moved")
        mat.release()
        n_moved = obs.get["moves"]
        # a 0-move labeling is only freed: it gets no caches
        return (caches(nxt) if n_moved else (nxt,)), n_moved

    def evaluate(state):
        lab, vcd, cs = state
        return global_wcc(lab, cs, vcd, tri, vertex_count)

    def free(state):
        for df in state[1:]:
            df.unpersist(False)
        if state[0] is not labels:
            mat.drop(state[0])

    if task_tier.fits(state_rows):
        loop = "task"
        cur, moves, wccs = task_tier.run_rounds(
            labels, edges, global_cc, vertex_count, mat, policy,
            candidates, outer_labels, tri,
        )
        replay(policy, wccs)
        state = caches(cur)
    else:
        loop = "spark"
        state, moves, _ = protocol(policy, caches(labels), move, evaluate, free)
    if report is not None:
        report.update(moves=moves, refinement=loop)
    return (*state, len(moves))


def refine_partition(
    graph: Graph,
    mat: Materializer,
    max_retries: int = MAX_RETRIES,
    threshold: float = THRESHOLD,
    history: list | None = None,
    report: dict | None = None,
) -> tuple[DataFrame, DataFrame, float, float, int]:
    """Elect ``initial_partition``'s labeling over ``graph``'s clean
    graph, then run the accept-if-improved movement loop
    (``movement_rounds`` with ``AcceptIfImproved``) from it.

    When the clean graph's |E_clean| + |tri| fits one task, the election
    and every round run in that ONE task (``task_tier.run_wcc``), whose
    kept labeling and stats land once.  Otherwise the election lands as
    ``init`` (freed here once a round supersedes it) and the rounds run
    as ``movement_rounds`` picks.

    The Spark loop is planned NON-adaptive at the loop width (r10,
    ``plans.loop_scope``, floor 4): every loop input is a
    Materializer-landed parquet (true file-size stats) or a persisted
    loop cache, so AQE cannot improve a plan here — it only splits each
    tiny per-round landing into one driver-blocking job per query
    stage.  MEASURED at sf0.1 / local[32]: 26.5 → 11.6 jobs per round
    (−56%) for identical results (16 rounds, wcc 0.04752) and flat
    wall.  ``perfbench/run.py --trace 1`` charges this loop's jobs to
    ``iteration.landing``: each one runs inside a ``Materializer``
    landing (a task's one job inside its landing).

    Returns (best_vertices, best_stats, best_wcc, global_cc, rounds).
    ``history``, if given, receives the initial WCC and each ACCEPTED
    round's WCC (driver-side floats the loop computes anyway);
    ``report``, if given, what ``initial_partition`` and
    ``movement_rounds`` report (``election``, ``election_rounds``,
    ``refinement``, ``moves``).  The loop width, the loop choice, |V| and the global CC
    come from ``graph``'s carried counts.
    ``graph.tri`` (static triangle list of the clean edges) makes the
    per-round tC pass three joins + one aggregate (see
    ``intra_triangle_counts``).
    """
    policy = AcceptIfImproved(max_retries, threshold, history)
    vertex_count = graph.vertex_count
    global_cc = graph.cc_sum / float(vertex_count)  # DistributedWCC.scala:261-262
    if task_tier.fits(graph.clean_edge_count + graph.tri_count):
        best, best_cs, moves, elections = task_tier.run_wcc(
            graph, global_cc, mat, policy, MAX_ITERATIONS
        )
        if report is not None:
            report.update(election="task", refinement="task", moves=moves,
                          election_rounds=elections)
        return best, best_cs, policy.wcc, global_cc, len(moves)
    vertices = mat(
        initial_partition(
            graph.vertices, graph.clean_edges, graph.clean_edge_count, mat,
            report=report,
        ),
        "init",
    )
    mat.release()  # MIS "higher" edge cache and "mis-centers" landing
    with loop_scope(vertices.sparkSession, graph.clean_edge_count, 4):
        # the static triangle list is scanned once per round by the WCC
        # eval — persist it for the loop like loop_edges below (r12),
        # unless the caller already has (the exit unpersist must never
        # drop a caller's cache)
        tri = graph.tri
        tri_persisted = not tri.is_cached
        if tri_persisted:
            tri = tri.persist()
        # One src-hash shuffle up front, reused every round: the label
        # maps broadcast, so the triplets build preserves this
        # partitioning and the per-src aggregations (vcd, vtC) and
        # vId-keyed joins downstream need no further exchange.
        loop_edges = graph.clean_edges.repartition("src").persist()
        best, best_vcd, best_cs, rounds = movement_rounds(
            vertices, loop_edges, global_cc, vertex_count, mat, policy,
            graph.clean_edge_count + graph.tri_count, tri=tri, report=report,
        )
        # the returned stats must outlive the caches they derive from
        final_cs = mat(best_cs, "cs-final")
        for df in (best_cs, best_vcd, loop_edges):
            df.unpersist(False)
        if tri_persisted:
            tri.unpersist(False)
    # best IS the input when the loop kept no round — the returned
    # plans still read its files then
    if best is not vertices:
        mat.drop(vertices)
    return best, final_cs, policy.wcc, global_cc, rounds


def run_wcc(
    edges: DataFrame | Graph,
    max_retries: int = MAX_RETRIES,
    threshold: float = THRESHOLD,
    mat: Materializer | None = None,
) -> WCCResult:
    """E1/E3 — full batch WCC community detection.

    ``edges`` must be the symmetrized doubled-edge set
    (``sources.edges.symmetrize_edges``).  Mirrors
    ``DistributedWCC.run`` (``DistributedWCC.scala:34-82``): vertices
    pruned in preprocessing keep their own singleton community in the
    final result (``DistributedWCC.scala:63-78``).

    One pipeline: ``load_graph``, then ``refine_partition`` from the
    elected initial partition.  On a graph under
    ``task_tier.TASK_ROWS`` that is three landings: the edges, the
    graph task's split landing and the WCC task's (kept labels and
    their stats).  What it lands along the way is dropped on return;
    the returned communities and stats read landings of ``mat``
    (default: a fresh ``Materializer``), which the result carries as
    ``res.mat``.  ``res.report`` says which loop loaded the graph
    (``graph``), elected and refined.

    ``edges`` may instead be a ``Graph`` the caller already loaded
    (``__spark_entry__._graph``, the incremental ``prepare``): it
    replaces the load step and stays the caller's — ``run_wcc`` frees
    only what it loaded itself.
    """
    loaded = isinstance(edges, Graph)
    mat = mat or Materializer((edges.edges if loaded else edges).sparkSession)
    graph = edges if loaded else load_graph(edges, mat)
    # only `edges` (it feeds all_vertices), `best` and `best_cs` survive
    # into the returned plans
    owned = [] if loaded else [graph.tri, graph.clean_edges, graph.vertices]
    all_vertices = graph.edges.select(F.col("src").alias("vId")).distinct()
    if graph.vertex_count == 0:
        for df in owned:
            mat.drop(df)
        empty = mat.spark.createDataFrame
        return WCCResult(
            communities=empty([], "vId LONG, cId LONG"),
            stats=empty([], "cId LONG, r INT, a DOUBLE, b LONG, d DOUBLE"),
            global_wcc=0.0,
            global_cc=0.0,
            vertex_count=0,
            iterations=0,
            mat=mat,
        )

    report: dict = {"graph": graph.loop}
    history: list = []
    best, best_cs, best_wcc, global_cc, rounds = refine_partition(
        graph, mat, max_retries, threshold, history=history, report=report,
    )
    for df in owned:
        mat.drop(df)

    communities = all_vertices.join(best.select("vId", "cId"), "vId", "left").select(
        "vId", F.coalesce("cId", F.col("vId")).alias("cId")
    )
    return WCCResult(
        communities=communities,
        stats=best_cs,
        global_wcc=best_wcc,
        global_cc=global_cc,
        vertex_count=graph.vertex_count,
        iterations=rounds,
        mat=mat,
        wcc_history=history,
        report=dict(report, rounds=rounds),
    )
