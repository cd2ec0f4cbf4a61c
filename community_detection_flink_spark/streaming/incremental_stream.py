"""Streaming drivers for incremental WCC (SURVEY.md E2 / §2.9).

The reference fakes a stream by id-range micro-batching a bounded edge
set (``CSVGraph.testStream``, ``CSVGraph.scala:47-103``).  Two
entry points here:

* ``run_edge_batches`` — the reference's harness, re-expressed: split
  bulk/stream by a vertex-id threshold, feed id-range micro-batches
  through ``incremental_update``.  Used by tests and the driver
  contract.
* ``run_stream`` — real Structured Streaming: ``readStream`` on an
  edge directory, ``foreachBatch`` folding each micro-batch into the
  carried ``WCCState``.  This is what the reference's simulated loop
  becomes when Spark's native micro-batch engine drives it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from community_detection_flink_spark.operators.incremental import (
    WCCState,
    incremental_steps,
    incremental_update,
    prepare,
)
from community_detection_flink_spark.plans.iteration import Materializer


def _max_vertex(edges: DataFrame) -> int:
    return int(edges.agg(F.max(F.greatest("src", "dst"))).first()[0])


def split_bulk_stream(
    edges: DataFrame, bulk_to_stream_ratio: float = 0.8
) -> tuple[DataFrame, DataFrame, float]:
    """Bulk/stream split by vertex-id threshold (``CSVGraph.scala:70-77``):
    bulk = both endpoints below split, stream = any endpoint at/above."""
    return _split_at(edges, _max_vertex(edges), bulk_to_stream_ratio)


def _split_at(
    edges: DataFrame, max_vertex: int, bulk_to_stream_ratio: float
) -> tuple[DataFrame, DataFrame, float]:
    split = math.floor(max_vertex * bulk_to_stream_ratio)
    bulk = edges.where((F.col("src") < split) & (F.col("dst") < split))
    stream = edges.where((F.col("src") >= split) | (F.col("dst") >= split))
    return bulk, stream, split


def micro_batches(
    stream_edges: DataFrame, split: float, max_vertex: int, n_batches: int
):
    """Id-range micro-batch filters (``CSVGraph.scala:85-95``)."""
    size = math.floor((max_vertex - split) / n_batches)
    for k in range(1, n_batches + 1):
        lo = split + (k - 1) * size
        hi = max_vertex + 1 if k == n_batches else split + k * size
        yield stream_edges.where(
            ((F.col("src") >= lo) | (F.col("dst") >= lo))
            & (F.col("src") < hi)
            & (F.col("dst") < hi)
        )


def localized_batches(
    state: WCCState,
    n_batches: int = 4,
    new_per_batch: int = 40,
    anchors_per_batch: int = 3,
):
    """Synthetic LOCALIZED edge micro-batches (VERDICT r3 #3).

    The driver harness's id-range batches are locality-free on the
    co-purchase graph: SCALING.md measured a uniformly-random 5% batch
    touching 1712/1712 communities, which makes whole-graph and scoped
    refinement indistinguishable.  Real incremental workloads are the
    opposite — a batch's edges cluster in one neighborhood (one
    tenant, one product family, one crawl host).  This generator
    produces that shape deterministically: batch k is a clique over
    ``anchors_per_batch`` members of ONE existing small community (the
    k-th community with 5 ≤ r ≤ 60, by cId) plus ``new_per_batch``
    brand-new vertices, so each batch's affected neighborhood is a
    handful of communities regardless of graph size.

    Driver cost: ``n_batches × anchors_per_batch`` collected anchor
    ids — O(batches), never O(V).
    """
    spark = state.vertices.sparkSession
    base = state.max_vertex
    if base is None:
        base = _max_vertex(state.edges)
    anchor_comms = [
        r["cId"]
        for r in state.stats.where(F.col("r").between(5, 60))
        .orderBy("cId")
        .limit(n_batches)
        .collect()
    ]
    if not anchor_comms:  # tiny fixtures: fall back to the largest
        anchor_comms = [
            r["cId"]
            for r in state.stats.orderBy(F.desc("r"), "cId").limit(n_batches).collect()
        ]
    for k in range(n_batches):
        c = anchor_comms[k % len(anchor_comms)]
        anchors = [
            r["vId"]
            for r in state.vertices.where(F.col("cId") == c)
            .orderBy("vId")
            .limit(anchors_per_batch)
            .collect()
        ]
        new_ids = [base + 1 + k * new_per_batch + i for i in range(new_per_batch)]
        nodes = anchors + new_ids
        yield spark.createDataFrame(
            [(u, v) for i, u in enumerate(nodes) for v in nodes[i + 1 :]],
            "src LONG, dst LONG",
        )


def run_edge_batches(
    edges: DataFrame,
    bulk_to_stream_ratio: float = 0.8,
    n_batches: int = 1,
    mat: Materializer | None = None,
    tri_full: DataFrame | None = None,
) -> WCCState:
    """E2 harness: bulk pipeline then incremental merges
    (``CSVGraph.testStream`` re-expressed).

    ``tri_full``: optional triangle list of the FULL edge set.  The
    bulk subgraph keeps exactly the edges with both endpoints below the
    split, so its triangles are exactly the full-graph triangles with
    all three corners below the split — a filter, not a re-enumeration
    (callers like ``__spark_entry__`` that already hold the full list
    for other queries skip the bulk pipeline's heaviest setup step).

    ``mat`` goes to ``prepare``; the bulk load and every micro-batch
    land through it (``state.mat``).
    """
    max_vertex = _max_vertex(edges)
    bulk, stream, split = _split_at(edges, max_vertex, bulk_to_stream_ratio)
    tri_bulk = None
    if tri_full is not None:
        tri_bulk = tri_full.where(
            (F.col("u") < split) & (F.col("v") < split) & (F.col("w") < split)
        )
    state = prepare(bulk, mat=mat, tri=tri_bulk)
    for batch in micro_batches(stream, split, max_vertex, n_batches):
        state = incremental_update(state, batch)
    state.max_vertex = max_vertex
    return state


def apply_cdc_batch(state: WCCState, batch_df: DataFrame) -> WCCState:
    """Fold ONE CDC micro-batch ``(src, dst, op)`` with op ∈
    {"I", "D", "U"} into the carried state.

    U (update — real change streams carry it alongside I/D) expands to
    D+I *inside the batch* (VERDICT r9 #7): the stale version of the
    edge is deleted first, the new version inserted with the batch's
    explicit inserts, and the batch's explicit deletes apply LAST — so
    a U followed by a D of the same edge within one batch nets to
    absent, and a U of a never-seen edge nets to an insert (the
    upsert reading).  On an unweighted edge set the pre-delete of an
    EXISTING edge composes with its re-insert to a no-op — exactly the
    parity `cdc_invariants` pins against a direct recompute.

    SEMANTICS NOTE (r11, pins the r10 ADVICE finding): ordering is
    SET-BASED, not log-ordered — within one batch all U-deletes apply,
    then I∪U inserts, then D last, regardless of row order (DataFrames
    carry no row order to honor).  A D followed by a "later" U of the
    same edge inside one batch therefore nets to ABSENT; callers that
    need sequential replay must split the log into per-op micro-batches
    (``max_files_per_trigger=1`` over per-op files does this).  Unknown
    op codes are an ERROR, not a silent drop.

    The batch runs as one ``incremental_steps`` call: when the carried
    state fits the small-state tier, the batch is packed once with its
    op column and ONE task picks its (up to three) steps from the ops it
    finds (``task_tier.cdc_steps``) and runs them, with one split
    landing (``inc-batch``) of the carried tables' gone and new rows, the
    batch's net change folded in, whatever its ops — no Spark query runs
    before the task.  An empty batch runs none and returns ``state``
    itself.  The task declines an unknown op (NULL too) and leaves
    nothing landed; the driver then runs one aggregate over the op
    column (its distinct values), which raises on it, as it does for a
    state above the gate before each step runs as its own batch.
    Everything lands through ``state.mat``.  The returned state's
    ``report`` is the last step's, and ``report["steps"]`` holds every
    step's.
    """
    return incremental_steps(state, batch_df)


class StreamHandle:
    """Owns a running incremental-WCC stream: the StreamingQuery plus
    the evolving ``WCCState`` (a plain object instead of a private
    attribute monkey-patched onto Spark's query — stable across Spark
    versions)."""

    def __init__(self, query, holder):
        self.query = query
        self._holder = holder

    @property
    def state(self) -> WCCState:
        return self._holder["state"]

    def await_termination(self, timeout: float | None = None):
        return self.query.awaitTermination(timeout)

    def stop(self) -> None:
        self.query.stop()


def run_stream(
    spark,
    source_dir: str,
    initial_state: WCCState,
    checkpoint_dir: str,
    on_batch=None,
    cdc: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamHandle:
    """Real Structured Streaming driver: parquet edge source →
    ``foreachBatch`` incremental WCC.

    A production 100 TB pipeline reads a broker instead of files: the
    swap is ONE line — ``spark.readStream.format("kafka")…`` plus a
    ``from_json``/``from_avro`` projection to (src, dst[, op]) — and
    everything from ``foreachBatch`` down (the entire state fold,
    checkpointing, CDC expansion) is source-agnostic by construction.
    The sandbox has no broker, so the file source is what the tests
    drive; the API shape is identical.

    Each micro-batch DataFrame (src, dst) is folded into the carried
    state; ``on_batch(state, batch_id)`` observes progress.  Returns a
    ``StreamHandle`` — await/stop it, then read ``handle.state``.  Every
    batch lands through ``initial_state.mat``, so the stream's
    checkpoint files live where the state's lineage already does.

    ``cdc=True`` reads a change stream instead: schema
    (src, dst, op STRING) with op ∈ {"I", "D", "U"} — U is an upsert
    expanded to D+I inside the batch (``apply_cdc_batch``).  Within a
    micro-batch: U's stale-version deletes, then inserts (I ∪ U), then
    explicit deletes — the natural CDC contract where a batch's deletes
    may refer to edges the same batch inserted or updated.

    With ``max_files_per_trigger`` the file source takes its files in
    modification-time order, and files whose times tie (written within
    one clock tick) run in any order.  An order-sensitive CDC log (file
    k deletes edges file k-1 inserted) must therefore give its files
    distinct modification times.
    """
    holder = {"state": initial_state}

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        before = holder["state"]
        if cdc:
            # an empty batch runs no step and returns the state itself
            holder["state"] = apply_cdc_batch(before, batch_df)
        elif not batch_df.isEmpty():
            holder["state"] = incremental_update(before, batch_df.select("src", "dst"))
        if on_batch is not None and holder["state"] is not before:
            on_batch(holder["state"], batch_id)

    schema = "src LONG, dst LONG, op STRING" if cdc else "src LONG, dst LONG"
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # with availableNow the file source otherwise drains everything
        # in ONE micro-batch; capping files-per-trigger makes each
        # source file its own batch, which is what per-batch latency
        # measurement and batch-over-batch state-carry tests need
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    query = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return StreamHandle(query, holder)
