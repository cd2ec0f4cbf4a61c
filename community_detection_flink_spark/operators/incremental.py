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
  canonical (sorted) corner triple counts each new triangle once.  An
  insert only grows triangle counts and the cleaned edge set:
  ``clean_new = clean_old ∪ edges-of-new-triangles``.  Deletes (beyond
  the reference, which is insert-only) drop the carried triangles with
  a deleted edge, and a clean edge survives iff a remaining triangle
  contains it (``incremental_delete``).
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
  the graph (``movement.ScopeRule``).  Either way the carried
  per-community stats/WCC sums are spliced, so the final evaluation
  reads only the scope.
* Two loops run that one batch.  When the carried state (|V| +
  |E_clean| + |tri|) is under the small-state tier's gate
  (``task_tier.TASK_ROWS``), the WHOLE batch runs in one task
  (``task_tier.incremental_batch``): the merge over arrays, then the
  same election, scope rule and rounds over one shared in-task graph,
  the stats and WCC sums of every community recomputed (below the gate
  the task reads the whole state anyway, so a splice saves nothing),
  and one split landing of the carried tables' rows gone from and new
  to their last landed roots, the batch's net change folded in.  A
  batch of several steps (``incremental_steps``: a CDC micro-batch's
  U-deletes, inserts and deletes) runs all of them in that one task,
  which picks them from the batch's op column (``task_tier.cdc_steps``),
  each step on the arrays the one before returned.  Otherwise the merge
  runs as joins and batch-sized landings, folds its removed and added
  rows in the same way (``_fold``), and the tail
  (``_elect_and_refine``) runs as the election, ``_pick_scope`` and
  ``movement_rounds``, each on the loop its own state fits.  So one
  carry rule (``_extend``) holds on both loops, whatever a batch
  inserts or deletes: no batch rewrites a carried table but the
  compaction every ``COMPACT_EVERY`` batches.
* The reference returns the PRE-batch community stats
  (``IncrementalWCC.scala:69`` quirk); we return the freshly computed
  stats — the honest value.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.functions.wcc_metric import cc_col
from community_detection_flink_spark.operators.community import (
    community_adjacency,
    wccv_by_community,
)
from community_detection_flink_spark.operators import task_tier
from community_detection_flink_spark.operators.movement import FixedRounds, ScopeRule
from community_detection_flink_spark.operators.partition import (
    MAX_ITERATIONS,
    initial_partition,
)
from community_detection_flink_spark.operators.preprocess import preprocess  # noqa: F401 -- perfbench/spans.py LAYERS wraps this name
from community_detection_flink_spark.operators.refinement import (
    load_graph,
    movement_rounds,
    run_wcc,
)
from community_detection_flink_spark.operators.triangles import triangle_edges
from community_detection_flink_spark.operators.triangles import triangles  # noqa: F401 -- perfbench/spans.py LAYERS wraps this name
from community_detection_flink_spark.plans.iteration import (
    Materializer,
    loop_scope,
    no_aqe,
)
from community_detection_flink_spark.sources.edges import symmetrize_edges

INCREMENTAL_ROUNDS = 5  # IncrementalWCC.scala:382 (fixed, no convergence test)
COMPACT_EVERY = 8  # batches between parquet compactions of the lazy edge unions
# scoped refinement runs only when the clean members of the affected
# communities, and then V_R, are at most this fraction of the clean
# vertices (``movement.ScopeRule``); beyond it the whole-graph rounds
# have the better constant (see _pick_scope); a value below 0 forces the
# whole-graph scope
_SCOPE_FRACTION = 0.5
# the split tags of the carried ``edges``, ``clean_edges`` and ``tri``
# (``_fold``, and the task's ``inc-batch`` landing)
_TAGS = ("edges", "clean-edges", "tri")


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
    # |clean_edges|, carried so no batch counts it: prepare's
    # ``Graph.clean_edge_count``, then each batch's count of its result
    # (riding its landing)
    clean_edge_count: int
    # |tri|, carried the same way: prepare's ``Graph.tri_count``, then
    # each batch's count of its result.
    # |V| + |E_clean| + |tri| is the state a batch's one task reads
    # (``task_tier.fits``)
    tri_count: int
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
    # where every batch of this state's lineage lands (``prepare``'s
    # Materializer, or a fresh one from ``load_state``); free the
    # lineage's checkpoint files with ``state.mat.cleanup()``
    mat: Materializer
    # what the batch that produced this state did:
    # ``affected_vertices`` (clean members of the affected
    # communities), ``scope_vertices`` (|V_R|, ``None`` for the
    # whole-graph scope), ``rounds`` (movement rounds run), ``moves``
    # (vertices moved per round) and the loop that ran the election and
    # the rounds (``election``/``refinement``: "task" or "spark"); for a
    # batch of several steps (``incremental_steps``) those of its last
    # step, and ``steps`` holds every step's ``op`` and counts;
    # ``None`` after ``prepare`` or ``load_state``
    report: dict | None = None
    # highest vertex id seen (set by ``run_edge_batches``, then carried
    # by every batch: an insert raises it to its new edges' max, which
    # rides the ``inc-newe`` landing) — callers that need the id ceiling
    # read it here instead of re-running an agg job over the edge set;
    # ``None`` (unknown) stays ``None``
    max_vertex: int | None = None
    # batches since ``edges``/``clean_edges``/``tri`` were last
    # parquet-landed: every batch, on either loop, folds its net change
    # into ``carried`` (``_extend``; no O(|E|) rewrite per batch — the
    # r2 plans all paid one), and the tables land again as their new
    # roots every COMPACT_EVERY batches, so scan fan-out stays bounded
    pending_unions: int = 0
    # since that landing, each of ``edges``, ``clean_edges`` and ``tri``
    # as ``(root, gone, new)``: the landed root, the rows removed from
    # it and the rows added since, landed flat (None: no such rows); the
    # table is the LAZY ``(root anti-join gone) ∪ new``, so reading it
    # costs at most one broadcast of ``gone``, however many batches
    # folded into it.  None: each table is its own root
    carried: tuple | None = None


def prepare(
    edges: DataFrame,
    mat: Materializer | None = None,
    tri: DataFrame | None = None,
) -> WCCState:
    """Bulk load: full batch pipeline (``IncrementalWCC.prepare`` =
    ``DistributedWCC.run``, ``IncrementalWCC.scala:73-77``).

    One path: ``refinement.load_graph`` lands the edges, their triangle
    list and the cleaned graph once, and ``run_wcc`` runs on that
    ``Graph``; the state carries its tables.  Every landing goes
    through ``mat`` (default: a fresh ``Materializer``), which the
    returned state carries for every later batch.

    ``tri``: optional pre-computed triangle list of ``edges`` (callers
    that already enumerated a supergraph's triangles can filter them
    down instead of re-enumerating — see ``run_edge_batches``)."""
    mat = mat or Materializer(edges.sparkSession)
    graph = load_graph(edges, mat, tri=tri)
    res = run_wcc(graph, mat=mat)
    vertices = mat(
        res.communities.join(graph.vertices, "vId", "left").select(
            "vId",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.coalesce("vt", F.lit(0)).alias("vt"),
            F.coalesce("cc", F.lit(0.0)).alias("cc"),
            "cId",
        ),
        "inc-vertices",
    )
    mat.drop(graph.vertices)  # the state carries its columns in `vertices`
    # per-community WCC sums, carried so incremental batches can
    # re-evaluate only the communities they touch (one extra
    # community-adjacency pass here, at bulk-load time)
    clean_labeled = vertices.where(F.col("t") > 0)
    vcd = community_adjacency(clean_labeled, graph.clean_edges)
    wccv = mat(
        wccv_by_community(clean_labeled, res.stats, vcd, graph.tri), "inc-wccv"
    )
    return WCCState(
        edges=graph.edges,
        clean_edges=graph.clean_edges,
        vertices=vertices,
        stats=res.stats,
        global_wcc=res.global_wcc,
        vertex_count=res.vertex_count,
        clean_edge_count=graph.clean_edge_count,
        tri_count=graph.tri_count,
        tri=graph.tri,
        wccv=wccv,
        mat=mat,
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


def incremental_update(state: WCCState, batch_edges: DataFrame) -> WCCState:
    """Merge one edge micro-batch and re-partition
    (``IncrementalWCC.run``, ``IncrementalWCC.scala:27-71``): the
    one-step form of ``incremental_steps``, its op the literal "I".  A
    state that fits the small-state tier runs the whole batch in one
    task (``_in_one_task``), any other the Spark merge
    (``_spark_update``) and ``_elect_and_refine``.  Every table lands
    through ``state.mat``."""
    return incremental_steps(state, batch_edges.withColumn("op", F.lit("I")), {"I"})


def _spark_update(state: WCCState, batch_edges: DataFrame) -> WCCState:
    """``incremental_update`` on Spark.  The merge is exact and
    batch-sized (anti-joined edge delta, exact triangle delta, the
    added rows folded into the carried sets, ``_fold``); the rest of
    the batch is ``_elect_and_refine``, shared with ``_spark_delete``:
    centers are re-elected only inside the affected communities, then
    the fixed movement rounds run over the batch neighborhood, or over
    every clean vertex when the neighborhood is most of the graph, and
    the carried per-community stats/WCC sums are spliced.  A localized
    batch therefore costs ∝ its neighborhood, not |E| (VERDICT r3 #2;
    the reference re-runs its election over the whole triangle
    subgraph and re-scans the whole graph 5×/batch,
    ``IncrementalWCC.scala:185-227, 332-393`` — forbidden at 100 TB).
    """
    mat = state.mat
    sym = symmetrize_edges(batch_edges)
    # the batch's highest new vertex id rides the landing: the next
    # state's id ceiling
    new_obs = Observation()
    new_e = mat(
        sym.join(state.edges, ["src", "dst"], "left_anti")
        .observe(new_obs, F.max("src").alias("m")),
        "inc-newe",
    )
    # new_e is anti-joined against the carried set, so the union is
    # DISJOINT — no dedup shuffle, no O(|E|) rewrite per batch
    full_edges = state.edges.unionByName(new_e)

    # distributed border/new classification (J5; reference collects
    # maps): the new vertices join the carried ones, disjoint
    new_verts = (
        new_e.select(F.col("src").alias("vId")).distinct()
        .join(state.vertices, "vId", "left_anti")
    )

    # exact triangle delta
    tri_obs = Observation()
    tri = mat(
        _new_triangles(full_edges, new_e).observe(tri_obs, F.count(F.lit(1)).alias("n")),
        "inc-tri",
    )
    # cleaned edge set only grows: add the edges of new triangles
    tri_edges = triangle_edges(tri)
    # a new triangle's edges may already be clean — subtract them with
    # ONE scan of the carried clean set (broadcast semi: tri_edges is
    # batch-sized) instead of a full dedup shuffle, then union the now-
    # DISJOINT delta
    already = state.clean_edges.join(
        F.broadcast(tri_edges), ["src", "dst"], "left_semi"
    )
    add_obs = Observation()
    clean_add = mat(
        tri_edges.join(F.broadcast(already), ["src", "dst"], "left_anti")
        .observe(add_obs, F.count(F.lit(1)).alias("n")),
        "inc-clean-add",
    )
    vertex_table, changed = _moved(
        state.vertices.drop("cc").unionByName(new_verts, allowMissingColumns=True),
        tri, clean_add, 1,
    )
    return _elect_and_refine(state, "insert", _land_vertices(
        vertex_table, mat, **_fold(state, [None] * 3, [new_e, clean_add, tri]),
        tri_count=state.tri_count + int(tri_obs.get["n"]),
        clean_edge_count=state.clean_edge_count + int(add_obs.get["n"]),
        changed=changed,
        max_vertex=_raised(state.max_vertex, new_obs.get["m"]),
    ))


def _moved(vertices: DataFrame, tri: DataFrame, clean: DataFrame, sign: int):
    """The vertex table after a batch that adds (``sign`` 1) or removes
    (-1) the triangles ``tri`` and the clean edges ``clean``, and the
    vertices it changes.  ``vertices``: ``(vId, t, vt, cId)``, all null
    but ``vId`` for a new vertex.  ``t`` moves by the vertex's corners
    in ``tri`` and ``vt`` by its edges in ``clean`` — batch-sized work,
    never an aggregate over the carried clean edges.  A vertex with no
    triangle left (or none yet) is its own singleton community (the
    batch pipeline's rule for pruned vertices, ``DistributedWCC.scala:
    63-78``).  The changed vertices are the corners of ``tri``: every
    edge of ``clean`` is an edge of one of its triangles (a deleted
    clean edge's triangles all died)."""
    moves = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("vId"),
                   F.lit(1).alias("dt"), F.lit(0).alias("dvt"))
        .unionByName(clean.select(F.col("src").alias("vId"),
                                  F.lit(0).alias("dt"), F.lit(1).alias("dvt")))
        .groupBy("vId")
        .agg(F.sum("dt").alias("dt"), F.sum("dvt").alias("dvt"))
    )
    t, vt = (
        (F.coalesce(c, F.lit(0)) + sign * F.coalesce(d, F.lit(0))).cast("int")
        for c, d in (("t", "dt"), ("vt", "dvt"))
    )
    table = vertices.join(moves, "vId", "left").select(
        "vId", t.alias("t"), vt.alias("vt"),
        F.when(t > 0, F.coalesce("cId", "vId")).otherwise(F.col("vId")).alias("cId"),
    )
    return table.withColumn("cc", cc_col(F.col("t"), F.col("vt"))), moves.select("vId")


def _raised(max_vertex: int | None, batch_max) -> int | None:
    """The id ceiling after an insert whose new edges' highest id is
    ``batch_max`` (None: no new edge); an unknown ceiling stays
    unknown."""
    if max_vertex is None or batch_max is None:
        return max_vertex
    return max(max_vertex, int(batch_max))


def _carried(state: WCCState) -> tuple:
    """``state.carried``: its edges, clean edges and triangles, each as
    ``(root, gone, new)``."""
    if state.carried is not None:
        return state.carried
    return tuple((table, None, None) for table in (state.edges, state.clean_edges, state.tri))


def _table(root: DataFrame, gone: DataFrame | None, new: DataFrame | None) -> DataFrame:
    """A carried table: ``(root anti-join gone) ∪ new``; an empty
    ``gone`` or ``new`` folds away."""
    if gone is not None:
        root = root.join(F.broadcast(gone), gone.columns, "left_anti")
    return root if new is None else root.unionByName(new)


def _extend(state: WCCState, levels: list) -> dict:
    """The carried ``edges``, ``clean_edges`` and ``tri`` after a batch,
    whose ``levels`` are each table's ``(gone, new)`` rows since its
    root with the batch folded in, with ``carried`` and the next
    ``pending_unions`` (as ``WCCState`` fields).  The one carry rule of
    every batch, on both loops: a row the batch removes leaves ``new``
    and joins ``gone`` (where it is no root row, it removes nothing),
    and a row it adds joins ``new`` (a root row added back too:
    ``gone`` keeps its root copy out), so the table ``(root anti-join
    gone) ∪ new`` stays one level deep, however many batches folded
    into it.  The tables stay LAZY (a scan of the roots plus the landed
    levels): landing them would rewrite the ENTIRE O(|E|) and O(|T|)
    sets every batch for no lineage benefit.  Every ``COMPACT_EVERY``
    batches they land as the new roots, so scan fan-out stays
    bounded."""
    carried = tuple((root, *level) for (root, _, _), level in zip(_carried(state), levels))
    tables = [_table(*c) for c in carried]
    fields = ("edges", "clean_edges", "tri")
    if state.pending_unions + 1 < COMPACT_EVERY:
        return dict(zip(fields, tables), carried=carried, pending_unions=state.pending_unions + 1)
    names = ("inc-edges", "inc-clean", "inc-tri-static")
    return dict(zip(fields, map(state.mat, tables, names)), carried=None, pending_unions=0)


def _fold(state: WCCState, removed: list, added: list) -> dict:
    """``_extend`` for a Spark merge, whose batch removes the rows
    ``removed`` and adds the rows ``added`` of the carried ``edges``,
    ``clean_edges`` and ``tri`` (each batch-sized, landed, or None).
    The task folds its batch over arrays by the same rule
    (``task_tier.incremental_batch``): a removed row joins ``gone`` and
    leaves ``new``, and an added row joins ``new``.  The folded levels
    land flat, from one task, in ONE split landing (``inc-fold``) of the
    task's ``inc-batch`` tags: one file per tag, so a read of a table
    costs one broadcast of ONE landed ``gone``, and its scan one file per
    level, however many batches folded into it."""
    levels = {}
    for tag, (_, gone, new), out, add in zip(_TAGS, _carried(state), removed, added):
        if out is not None and new is not None:
            new = new.join(F.broadcast(out), out.columns, "left_anti")
        for name, parts in ((f"{tag}-gone", (gone, out)), (tag, (new, add))):
            parts = [df for df in parts if df is not None]
            if parts:
                levels[name] = reduce(DataFrame.unionByName, parts)
    landed = state.mat(
        reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), [
            df.toDF(*"abc"[:len(df.columns)]).withColumn("k", F.lit(name))
            for name, df in levels.items()
        ]).coalesce(1),  # batch-sized: one task, so one file per tag
        "inc-fold",
        split={name: [F.col(x).alias(c) for x, c in zip("abc", df.columns)]
               for name, df in levels.items()},
    )
    return _extend(state, [(landed.get(f"{tag}-gone"), landed.get(tag)) for tag in _TAGS])


def _corner_pairs(tri: DataFrame) -> DataFrame:
    """Each row ``(u, v, w)`` of ``tri`` once per corner pair, as
    ``(u, v, w, p, q)`` with ``p < q``."""
    return reduce(DataFrame.unionByName, [
        tri.select("u", "v", "w", F.least(a, b).alias("p"), F.greatest(a, b).alias("q"))
        for a, b in (("u", "v"), ("u", "w"), ("v", "w"))
    ])


# what a batch's report keeps of each of its steps (``report["steps"]``)
_STEP_KEYS = ("affected_vertices", "scope_vertices", "rounds", "moves")


def _in_one_task(state: WCCState, batch: DataFrame) -> WCCState | None:
    """The batch ``batch`` (``src, dst, op``) in one task, when the
    carried |V| + |E_clean| + |tri| fits the small-state tier
    (``task_tier.incremental_batch``): the task picks the steps from the
    ops it finds (``task_tier.cdc_steps``) and runs each, the merge and
    ``_elect_and_refine``'s tail, on the arrays the one before returned.
    One split landing, whatever the steps, with the carried edges',
    clean edges' and triangles' gone and new rows, the batch's net
    change folded in, which ``_extend`` carries as one lazy ``(root
    anti-join gone) ∪ new`` per table and compacts on the one
    ``pending_unions`` counter.  The task recomputes the stats and WCC
    sums of every community instead of splicing them (it reads the
    whole state anyway).  The report is the last step's, with every
    step's in ``steps``.  A batch of no rows returns ``state`` itself.
    None when the state does not fit, when the batch holds an op the
    task cannot apply, or when the steps (their batches, the insert's
    incident edges and new triangles) would take it past the limit;
    nothing of the task stays landed then."""
    rows = state.vertex_count + state.clean_edge_count + state.tri_count
    if not task_tier.fits(rows):
        return None
    out = task_tier.incremental_batch(
        state, _carried(state), batch, rows, FixedRounds(INCREMENTAL_ROUNDS),
        ScopeRule(_SCOPE_FRACTION), MAX_ITERATIONS,
    )
    if out is None:
        return None
    landed, info = out
    if not info["steps"]:
        return state
    last = info["steps"][-1]
    return WCCState(
        **_extend(state, [(landed[f"{tag}-gone"], landed[tag])
                          for tag in _TAGS]),
        vertices=landed["vertices"],
        stats=landed["stats"],
        global_wcc=info["wcc"],
        vertex_count=info["vertices"],
        clean_edge_count=info["clean_edges"],
        tri_count=info["tri"],
        wccv=landed["wccv"],
        mat=state.mat,
        report=dict(
            election="task", refinement="task", steps=info["steps"],
            **{key: last[key] for key in _STEP_KEYS},
        ),
        max_vertex=_raised(state.max_vertex, info["max_vertex"]),
    )


def incremental_steps(state: WCCState, batch: DataFrame, ops: set | None = None) -> WCCState:
    """Fold the batch ``batch`` (``src, dst, op``, op "I", "D" or "U")
    into ``state`` by the steps ``task_tier.cdc_steps`` picks from its
    ops: the U rows' delete, the I and U rows' insert, then the D rows'
    delete (see ``apply_cdc_batch``).  ``ops``: the ops the op column
    holds when the caller knows them (``incremental_update`` and
    ``incremental_delete``, whose op is a literal), else None.  When the
    carried state fits the small-state tier the steps run in ONE task
    with one split landing (``_in_one_task``, called from here only),
    which asks Spark nothing before it runs.  Otherwise, and when the
    task declines, the driver takes ``ops`` from one aggregate over the
    op column when it was not given, which raises on an op other than
    "I", "D" and "U" (NULL too); then one step runs its Spark merge
    (``_spark_update`` / ``_spark_delete``), and several run one by one
    as ``incremental_update`` / ``incremental_delete``, each trying its
    own task before its Spark merge.  The returned state's report is
    the last step's, with every step's ``op``, ``affected_vertices``,
    ``scope_vertices``, ``rounds`` and ``moves`` in ``report["steps"]``.
    A batch of no rows runs no step and returns ``state`` itself."""
    done = _in_one_task(state, batch)
    if done is not None:
        return done
    if ops is None:
        ops = {r["op"] for r in batch.select("op").distinct().collect()}
        bad = ops - {"I", "D", "U"}
        if bad:
            raise ValueError(
                f"apply_cdc_batch: unknown op {min(bad, key=str)!r} — "
                "expected one of 'I', 'D', 'U'"
            )
    steps = [(op, batch.where(F.col("op").isin(*of)).select("src", "dst"))
             for op, of in task_tier.cdc_steps(ops)]
    if not steps:
        return state
    if len(steps) == 1:
        op, edges = steps[0]
        return (_spark_update if op == "insert" else _spark_delete)(state, edges)
    run = {"insert": incremental_update, "delete": incremental_delete}
    reports = []
    for op, edges in steps:
        state = run[op](state, edges)
        reports += state.report["steps"]
    state.report["steps"] = reports
    return state


class _Merge(NamedTuple):
    """What a batch's merge hands the shared tail
    (``_elect_and_refine``): the merged tables, and the counts their
    landings carried — no batch counts anything again."""

    vertices: DataFrame  # landed (vId, t, vt, cc, cId), pre-election labels
    vertex_count: int  # |V|
    clean_vertex_count: int  # vertices with t > 0
    global_cc: float
    edges: DataFrame
    clean_edges: DataFrame
    clean_edge_count: int
    tri: DataFrame
    tri_count: int
    changed: DataFrame  # vIds whose t or vt changed
    pending_unions: int  # (``WCCState.pending_unions``)
    carried: tuple | None  # (``WCCState.carried``)
    # the next state's id ceiling (``WCCState.max_vertex``)
    max_vertex: int | None
    # None: the changed vertices' labels in ``vertices`` (see
    # ``_elect_and_refine`` for why a delete passes its own)
    affected_comms: DataFrame | None = None


def _land_vertices(vertices: DataFrame, mat: Materializer, **merge) -> _Merge:
    """Land a batch's vertex table and build its ``_Merge`` from it and
    ``merge``; |V|, the clean-vertex count and Σcc (the global CC,
    ``IncrementalWCC.scala:109``) ride the landing as an Observation —
    zero extra jobs.  An empty graph (a delete or self-loop-only batch
    on an empty state) has global CC 0."""
    obs = Observation()
    vertices = mat(
        vertices.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("t") > 0).alias("clean"),
            F.sum("cc").alias("s"),
        ),
        "inc-verts",
    )
    n = int(obs.get["n"])
    return _Merge(
        vertices, n, int(obs.get["clean"]),
        float(obs.get["s"] or 0.0) / max(n, 1), **merge,
    )


def _elect_and_refine(state: WCCState, op: str, merge: _Merge) -> WCCState:
    """Shared tail of every incremental batch (``op``: "insert" or
    "delete") on the Spark loop: re-elect centers inside the affected
    communities, run the fixed movement rounds over the scope
    ``_pick_scope`` chooses — the batch neighborhood, or every clean
    vertex — splice ``state``'s carried per-community stats/WCC sums,
    and assemble the next ``WCCState`` (its ``report`` holds counts the
    batch computes anyway — no extra job — and ``steps``, this one).  The other loop of a batch, one task for a
    state under the small-state tier (``_in_one_task``), runs this tail
    over arrays after its merge and recomputes the stats and WCC sums
    instead of splicing them; the tests assert both loops agree.  Every
    count the tail branches on rode a landing:
    ``merge.clean_edge_count`` picks the election's loop and sizes its
    width, and the whole-graph scope's; the clean-vertex count (from
    ``inc-verts``) and the affected-member count (from ``inc-part``)
    pick the scope.  The tail runs no driver-side query.

    Documented divergence: the reference re-runs its election Pregel
    over the WHOLE triangle subgraph every batch
    (``IncrementalWCC.scala:185-227``) and so relabels arbitrarily far
    from the batch; here every vertex outside the affected communities
    keeps its label, and the movement rounds still move any boundary
    vertex the local election placed suboptimally.

    ``merge.affected_comms``: optional override of the
    affected-community set.  The default derives it from
    ``merge.vertices``' labels of the changed vertices — correct for
    inserts (new vertices carry their own id as label).  The DELETE
    path must pass the PRE-delete labels
    instead: a vertex reverted to a singleton (t → 0) already carries
    ``cId = vId`` in ``merge.vertices``, which would hide its former
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
    mat, vertices, clean_new = state.mat, merge.vertices, merge.clean_edges
    affected_comms = merge.affected_comms
    if affected_comms is None:
        affected_comms = (
            vertices.join(merge.changed, "vId", "left_semi")
            .select("cId")
            .distinct()
        )
    report: dict = {}
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
    # the scoped election's true edge count is ≤ |clean_new|; the loop
    # choice and width sizing take that bound
    local = initial_partition(
        elect_verts, elect_edges, merge.clean_edge_count, mat, report=report
    )
    keep = clean_all.join(
        affected_comms, "cId", "left_anti"
    ).select("vId", "t", "vt", "cc", "cId")
    # the elected side holds exactly the clean members of the affected
    # communities: its row count rides the landing
    aff_obs = Observation()
    with no_aqe(vertices.sparkSession):
        part = mat(
            local.observe(aff_obs, F.count(F.lit(1)).alias("n")).unionByName(keep),
            "inc-part",
        )
    mat.release()
    n_affected = int(aff_obs.get["n"])

    scope = _pick_scope(merge, part, elect_verts.select("vId"), n_affected, mat)
    vr = scope.labels
    vr_ids = vr.select("vId")
    scoped = scope.candidates is not None
    # fixed-round refinement, no accept test (IncrementalWCC.scala:332-393):
    # the same movement_rounds as refine_partition, and the
    # incrementally-maintained static triangle list for the final WCC —
    # no per-batch triangle re-enumeration.  The loop + tail runs
    # non-adaptive (plans.loop_scope): every root is a landed parquet
    # or a loop cache.
    with loop_scope(vertices.sparkSession, scope.n_edges, scope.floor):
        cur, cur_vcd, cur_cs, n_rounds = movement_rounds(
            vr, scope.edges, merge.global_cc, merge.vertex_count, mat,
            FixedRounds(INCREMENTAL_ROUNDS), scope.n_edges,
            candidates=scope.candidates, outer_labels=scope.outer_labels,
            report=report,
        )

        dropped_old = (
            vertices.join(vr_ids, "vId", "left_semi")
            .select("cId")
            .unionByName(affected_comms.select("cId"))
            .distinct()
        )
        new_stats = mat(
            state.stats.select("cId", "r", "a", "b", "d")
            .join(dropped_old, "cId", "left_anti")
            .unionByName(cur_cs.select("cId", "r", "a", "b", "d")),
            "inc-cs",
        )
        wccv_scope = wccv_by_community(
            cur, cur_cs, cur_vcd, merge.tri, tri_scope=vr_ids if scoped else None
        )
        # the WCC total rides the splice landing as an Observation — no
        # separate aggregation job
        wccv_obs = Observation()
        new_wccv = mat(
            state.wccv.select("cId", "s", "n")
            .join(dropped_old, "cId", "left_anti")
            .unionByName(wccv_scope.select("cId", "s", "n"))
            .observe(wccv_obs, F.sum("s").alias("total")),
            "inc-wccv",
        )
        wcc = float(wccv_obs.get["total"] or 0.0) / max(merge.vertex_count, 1)

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

    cur_vcd.unpersist(False)
    cur_cs.unpersist(False)
    scope.edges.unpersist(False)
    # everything the carried state needs is parquet-landed above — the
    # scope and the round labelings are superseded
    for df in (scope.candidates, scope.outer_labels, part, cur, vr):
        mat.drop(df)
    report.update(affected_vertices=n_affected, scope_vertices=scope.scope_vertices,
                  rounds=n_rounds)
    return WCCState(
        edges=merge.edges,
        clean_edges=clean_new,
        vertices=final_vertices,
        stats=new_stats,
        global_wcc=wcc,
        vertex_count=merge.vertex_count,
        clean_edge_count=merge.clean_edge_count,
        tri_count=merge.tri_count,
        tri=merge.tri,
        wccv=new_wccv,
        mat=mat,
        report=dict(report, steps=[dict(op=op, **{k: report[k] for k in _STEP_KEYS})]),
        pending_unions=merge.pending_unions,
        carried=merge.carried,
        max_vertex=merge.max_vertex,
    )


class _Scope(NamedTuple):
    """What one batch's movement rounds run over (see ``_pick_scope``)."""

    labels: DataFrame  # vr: complete communities, post-election labels
    edges: DataFrame  # src-partitioned, persisted: every edge with src in vr
    candidates: DataFrame | None  # the vertices that may move; None = all
    outer_labels: DataFrame | None  # fixed labels of dst endpoints outside vr
    n_edges: int  # rows of ``edges``: loop choice and width sizing
    floor: int  # loop-width floor
    scope_vertices: int | None  # |V_R|; None = the whole graph


def _pick_scope(
    merge: _Merge,            # merge.vertices: pre-election labeling
    part: DataFrame,          # post-election labeling, same schema
    affected_ids: DataFrame,  # clean members of the affected communities
    n_affected: int,          # and their count
    mat: Materializer,
) -> _Scope:
    """The batch-neighborhood scope (VERDICT r3 #2): the vertices a
    batch can influence, so the movement rounds and the final
    evaluation touch only them and the carried per-community
    stats/WCC sums cover everything else.  When the affected members,
    or else V_R, are more than ``_SCOPE_FRACTION`` of the clean
    vertices, the scope is the whole graph instead (every clean vertex
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

    clean_new = merge.clean_edges

    def whole_graph() -> _Scope:
        return _Scope(
            part, clean_new.repartition("src").persist(),  # see refine_partition
            None, None, merge.clean_edge_count, 4, None,
        )

    # A batch is only worth scoping when its neighborhood is a small
    # fraction of the graph; otherwise the scoped machinery is the full
    # path plus overhead (measured 49.5s vs 30.4s per batch at sf0.1 on
    # dense small-world graphs with uniformly-random batches).  Two
    # checks (``movement.ScopeRule``), cheapest first: the affected
    # members (the relabeled set), whose count and the clean-vertex
    # count rode the inc-part and inc-verts landings; then V_R, counted
    # by the scope-vr landing after the one edge scan that builds the
    # candidate set.
    rule, n_clean = ScopeRule(_SCOPE_FRACTION), merge.clean_vertex_count
    if not rule.scoped(n_affected, n_clean):
        return whole_graph()
    # post-election labels of relabeled vertices = ALL fragments the
    # election carved out of affected communities (not just fragments
    # containing a changed vertex — every fragment needs fresh stats)
    aff_new = part.join(affected_ids, "vId", "left_semi").select("cId").distinct()
    s_ids = part.join(aff_new, "cId", "left_semi").select("vId")
    nbr_s = (
        clean_new.join(s_ids.withColumnsRenamed({"vId": "src"}), "src", "left_semi")
        .select(F.col("dst").alias("vId"))
    )
    m_ids = mat(s_ids.unionByName(nbr_s).distinct(), "scope-m")
    r_comms = part.join(m_ids, "vId", "left_semi").select("cId").distinct()
    vr_obs = Observation()
    vr = mat(
        part.join(r_comms, "cId", "left_semi").observe(
            vr_obs, F.count(F.lit(1)).alias("n"), F.sum("vt").alias("e")
        ),
        "scope-vr",
    )
    n_vr = int(vr_obs.get["n"] or 0)
    if not rule.scoped(n_affected, n_clean, n_vr):
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
    # only M moves, and the labels outside V_R stay fixed.  The loop
    # choice and width (r11, VERDICT r10 #4) read the scope's EXACT
    # edge count, Σvt over V_R (vt is the clean degree, so this is
    # |scope_edges|), which rode the scope-vr landing — no edge-scan job.
    return _Scope(
        vr, scope_edges, m_ids, outer_lab, int(vr_obs.get["e"] or 0), 1, n_vr,
    )


def incremental_delete(state: WCCState, deleted_edges: DataFrame) -> WCCState:
    """Engine extension BEYOND the reference (``IncrementalWCC`` is
    insert-only): remove an edge micro-batch and re-partition; the
    one-step form of ``incremental_steps``, its op the literal "D".  A
    state that fits the small-state tier runs the whole batch in one
    task (``_in_one_task``), any other the Spark merge
    (``_spark_delete``) and ``_elect_and_refine``."""
    return incremental_steps(state, deleted_edges.withColumn("op", F.lit("D")), {"D"})


def _spark_delete(state: WCCState, deleted_edges: DataFrame) -> WCCState:
    """``incremental_delete`` on Spark.  Exactness rides on the carried
    triangle list: a triangle dies iff one of its three undirected edges
    is deleted, so the delta is a broadcast semi-join of the static
    list's corner pairs against the (small) deleted set — never a
    re-enumeration.  A cleaned edge survives iff some remaining
    triangle still contains it, and the only edges that can change
    status are edges of dead triangles, so the survivor check is again
    a broadcast semi-join.  Vertices never disappear: one whose last
    triangle dies reverts to a singleton community (``_moved``).  The
    merge lands only batch-sized rows — the deleted edges, the dead
    triangles and the removed clean edges, the counts riding — and
    folds them into the carried tables like every other batch
    (``_fold``).  The re-partition is ``_elect_and_refine``, the same
    as an insert's.
    """
    mat = state.mat
    sym = symmetrize_edges(deleted_edges)
    # only edges actually present can be deleted
    del_e = mat(sym.join(state.edges, ["src", "dst"], "left_semi"), "del-e")
    half_del = del_e.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("p"), F.col("dst").alias("q")
    )
    dead_obs = Observation()
    dead = mat(
        _corner_pairs(state.tri)
        .join(F.broadcast(half_del), ["p", "q"], "left_semi")
        .select("u", "v", "w")
        .distinct()
        .observe(dead_obs, F.count(F.lit(1)).alias("n")),
        "del-dead-tri",
    )

    # cleaned-edge survivors among the candidates (edges of dead
    # triangles): those of a triangle left; everything else keeps its
    # status
    cand = _corner_pairs(dead).select("p", "q")
    alive = (
        _corner_pairs(state.tri)
        .join(F.broadcast(cand), ["p", "q"], "left_semi")
        .join(F.broadcast(dead), ["u", "v", "w"], "left_anti")
    )
    gone_half = cand.join(alive, ["p", "q"], "left_anti")
    gone = (
        gone_half.select(F.col("p").alias("src"), F.col("q").alias("dst"))
        .unionByName(gone_half.select(F.col("q").alias("src"), F.col("p").alias("dst")))
        .unionByName(del_e)
    )
    # the removed clean edges: the present clean rows among ``gone``
    clean_obs = Observation()
    clean_out = mat(
        state.clean_edges.join(F.broadcast(gone), ["src", "dst"], "left_semi")
        .observe(clean_obs, F.count(F.lit(1)).alias("n")),
        "del-clean",
    )

    vertex_table, changed = _moved(state.vertices.drop("cc"), dead, clean_out, -1)
    return _elect_and_refine(state, "delete", _land_vertices(
        vertex_table, mat, **_fold(state, [del_e, clean_out, dead], [None] * 3),
        tri_count=state.tri_count - int(dead_obs.get["n"]),
        clean_edge_count=state.clean_edge_count - int(clean_obs.get["n"]),
        changed=changed,
        # a delete adds no vertex and removes none: the ceiling carries
        max_vertex=state.max_vertex,
        # PRE-delete labels (see _elect_and_refine: a reverted
        # singleton's new cId = vId would hide its former community)
        affected_comms=state.vertices.join(changed, "vId", "left_semi")
        .select("cId")
        .distinct(),
    ))


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
        [(state.global_wcc, state.vertex_count, state.clean_edge_count,
          state.tri_count, state.max_vertex)],
        "global_wcc DOUBLE, vertex_count LONG, clean_edge_count LONG, "
        "tri_count LONG, max_vertex LONG",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def load_state(spark, path: str) -> WCCState:
    """Restore a ``WCCState`` written by ``save_state``.  A manifest
    written before ``tri_count`` was kept has its count taken once, from
    the saved triangles."""
    meta = spark.read.json(f"{path}/meta").first()
    fields = meta.__fields__
    tri = spark.read.parquet(f"{path}/tri")
    return WCCState(
        edges=spark.read.parquet(f"{path}/edges"),
        clean_edges=spark.read.parquet(f"{path}/clean_edges"),
        vertices=spark.read.parquet(f"{path}/vertices"),
        stats=spark.read.parquet(f"{path}/stats"),
        global_wcc=float(meta.global_wcc),
        vertex_count=int(meta.vertex_count),
        clean_edge_count=int(meta.clean_edge_count),
        tri_count=int(meta.tri_count) if "tri_count" in fields else tri.count(),
        tri=tri,
        wccv=spark.read.parquet(f"{path}/wccv"),
        mat=Materializer(spark),
        # json omits null columns: an unset max_vertex leaves no field
        max_vertex=(
            int(meta.max_vertex)
            if "max_vertex" in fields and meta.max_vertex is not None
            else None
        ),
    )
