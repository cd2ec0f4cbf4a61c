"""Generate SCALING.md — wall-clock vs data size for headline queries.

Runs a representative query subset at every available scale factor in
/root/testdata and reports the time ratio against the data ratio.  A
fixed-overhead-dominated query shows ratios well under the data ratio;
anything scaling worse than linearly is flagged.

Usage: PYTHONPATH=/root/repo python tools/scaling_report.py
(run on an idle machine — concurrent Spark sessions skew wcc by 30-50%)
"""

from __future__ import annotations

import importlib
import sys
import time

sys.path.insert(0, "/root/repo")

from community_detection_flink_spark import get_spark

SF_DIRS = [
    ("/root/testdata/sf0.001", 0.001),
    ("/root/testdata/sf0.01", 0.01),
    ("/root/testdata/sf0.1", 0.1),
]

QUERIES = [
    "wcc_communities",
    "g_triangle_counts",
    "rel_pricing_summary",
    "rel_nation_revenue",
    "doc_minhash_lsh_pairs",
    "doc_jaccard_pairs",
    "emb_cosine_topk",
    "doc_pack_chunks",
    "g_components_paths",
    "ev_session",
    "g_pagerank",
    "g_kcore",
    "doc_bm25",
    "doc_tfidf",
    "ev_retention",
    "rel_scd2",
    "emb_centroid_assign",
    # round-4 second batch
    "g_link_scores",
    "g_label_propagation",
    "doc_repeated_passages",
    "doc_unigram_nll",
    "emb_covariance",
    "rel_q5_local_supplier",
]


def main() -> None:
    spark = get_spark(app_name="scaling-report", master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: run the heaviest query once and discard — otherwise JVM
    # JIT + first-codegen cost lands on whichever SF runs first and
    # inverts the small-SF numbers
    import __spark_entry__ as entry_mod
    entry_mod.queries()["wcc_communities"](spark, SF_DIRS[0][0]).count()
    importlib.reload(entry_mod)

    times: dict[str, dict[float, float]] = {q: {} for q in QUERIES}
    for sf_dir, sf in SF_DIRS:
        # fresh entry module per SF so the session caches (_graph,
        # _lsh_pairs) don't leak one SF's artifacts into another's wall
        # clock beyond what a real session would share
        import __spark_entry__ as entry_mod
        importlib.reload(entry_mod)
        queries = entry_mod.queries()
        for name in QUERIES:
            t0 = time.time()
            queries[name](spark, sf_dir).count()
            times[name][sf] = time.time() - t0
            print(f"# sf{sf} {name}: {times[name][sf]:.2f}s", file=sys.stderr, flush=True)

    lines = [
        "# SCALING — wall clock vs data size (generated by tools/scaling_report.py)",
        "",
        "local[32], idle machine.  Data ratio sf0.001→sf0.1 is 100×;",
        "a time ratio far below 100× means the small-SF cost is fixed",
        "overhead (session, planning, task scheduling), i.e. headroom —",
        "the work per row stays flat.  Ratios are t(0.1)/t(0.001).",
        "",
        "The iterative queries (wcc, components) are bounded below by",
        "ROUND COUNT, which convergence sets — not data size (wcc at",
        "sf0.001 can exceed sf0.01 when the sparser graph needs more",
        "refinement rounds).  Their scaling story is per-round cost,",
        "which is one fused pass over the cached edge/community state.",
        "",
        "**Round-landing cadence experiment (VERDICT r2 #7)**: materializing",
        "the refinement state every k=2 accepted rounds instead of every round",
        "was measured at sf0.1 / local[32], same 16 rounds, identical result:",
        "k=1 = 69.2s / 63.6s (two runs), k=2 = 190.5s.  k=2 loses ~3× because",
        "a raw-lineage labeling is re-executed by every consumer job of the",
        "following round (the movement pass feeds the vcd aggregate, the stats,",
        "AND the next movement), which costs far more than the one parquet",
        "round-trip it saves — the per-round landing is ~0.5s of the ~4s round.",
        "The knob and its equivalence test were later removed: every",
        "round lands on parquet.",
        "",
        "| query | sf0.001 | sf0.01 | sf0.1 | time ratio (100× data) |",
        "|---|---|---|---|---|",
    ]
    for name in QUERIES:
        t1, t2, t3 = (times[name][sf] for _, sf in SF_DIRS)
        ratio = t3 / t1 if t1 > 0 else float("inf")
        lines.append(
            f"| {name} | {t1:.2f}s | {t2:.2f}s | {t3:.2f}s | {ratio:.1f}× |"
        )
    text = "\n".join(lines) + "\n" + STATIC_SECTIONS
    with open("/root/repo/SCALING.md", "w") as f:
        f.write(text)
    print(text)




STATIC_SECTIONS = """
## Incremental per-batch cost anatomy (round 3, sf0.1, idle local[32])

Measured phase split of ONE insert micro-batch (197k doubled edges =
5% of the graph) through `incremental_update`, after a 59.8-83.7s
`prepare` on the 80% bulk:

| phase | time | scales with |
|---|---|---|
| batch anti-join + landing | 2.0s | batch + |E| scan |
| exact triangle delta | 2.1s | batch neighborhood |
| clean-edge delta + vt | 2.3s | batch neighborhood |
| vertex rebuild + scalars | 1.3s | |V| |
| center election | 9.1s | **whole graph** (see below) |
| 5 fixed refinement rounds | ~9s | **whole graph** |
| final WCC + assembly | ~5s | whole graph |

Two findings:

1. **The classification/triangle phases DO scale with the batch**
   (the r2 design goal), but on THIS workload the election and
   refinement do not: a uniformly-random 5% edge batch touches all
   1,712 communities (measured: affected = 1712/1712), so the
   affected-communities election scope degenerates to the full graph.
   Even a 7.8k-edge batch (0.2%) still costs 26.2s for the same
   reason — random edges hit nearly every community.  This is a
   property of the synthetic workload, not the operator: on a graph
   where batches are localized (the incremental norm), election and
   refinement shrink with the affected set by construction
   (`incremental.py::_elect_and_refine`, affected-communities election).
2. **The whole-graph floor is reference-faithful**: the reference
   re-runs its election Pregel over the whole triangle subgraph and 5
   whole-graph refinement rounds per batch (IncrementalWCC.scala:
   185-227, 332-393) — the engine's 26-35s per batch vs 95s for the
   full pipeline (2.7-3.6× cheaper) comes from skipping triangle
   re-enumeration (carried static list) and the bulk's converging
   refinement, which is exactly the delta the reference's design
   leaves on the table.

BENCH_r03 reports `wcc_incremental_prepare`, `wcc_incremental_delta`,
and `wcc_incremental_delta_per_batch` separately so this split stays
visible round over round.

## Scoped (batch-neighborhood) refinement — round 4 (VERDICT r3 #2/#3)

`incremental.py::_pick_scope` (the batch-neighborhood scope)
runs the fixed movement rounds over only the candidate set
M = affected-fragment members ∪ their neighbors, computes per-round
stats from edges incident to V_R = complete communities of M's
labels, and SPLICES carried per-community stats + per-community
WCC-kernel sums (`community.wccv_by_community`, carried on
`WCCState.wccv`) for every untouched community — the final evaluation
no longer scans the graph either.  The splice algebra is EXACT
(bit-equal r/a/b vs from-scratch recomputation) and scoped == full
parity from a movement-converged prior state — both pinned in
`tests/test_incremental_localized.py`.  A two-stage scope probe falls
back to the whole-graph rounds past 0.5×|V_clean| (global batches:
the scoped machinery would be the full path plus overhead — measured
49.5s vs 30.4s per batch before the probe existed).

Measured (idle local[32], round 4):

| workload | per-batch | scope telemetry |
|---|---|---|
| sf0.1 co-purchase, id-range batches | 34.1-36.0s (probe → whole-graph) | global: random 5% batches touch all communities |
| sf0.1 co-purchase, ANCHORED batches | 28.7-29.5s (probe → whole-graph) | still global — avg degree ≈ 115: one community's 1-hop closure > 50% of the graph |
| clustered fixture 2000×10 (20k vertices) | **15.6-23.0s** (15.6 in the final r4 bench — 2.3× under the same-session global-batch 36.0s) | **50 / 20,160 vertices in scope**, 41 affected comms (40 = the batch's own new singletons), 3 rounds |
| clustered fixture 5000×10, scoped vs whole-graph scope | 15.6s / 13.2s vs 14.4s | wall-clock parity at this |E| |

**Finding — the local-mode floor is orchestration, not data**: one
incremental batch executes ~171 Spark jobs (AQE stage-jobs + landings
+ broadcasts) at ~0.11s/job regardless of scope (123 of them before
refinement even starts: merge, exact triangle delta, vertex rebuild,
election).  At bench |E| the whole-graph rounds' shuffles are too
cheap for the scoped path's data savings to beat that fixed cost
(AQE off was measured 171→114 jobs but inside run-to-run variance,
so it stays on for its scale benefits).  The quantity that scales is
the DATA VOLUME per batch, which the telemetry pins at
neighborhood-size on localized workloads; at cluster |E| the 5×O(|E|)
whole-graph shuffles are the term that cannot ship, and they are the
term the scoped path removes.  The co-purchase rows are kept in the
bench as the honest negative: dense small-world graphs have no
localized batches, and the probe correctly refuses to pretend
otherwise.

## Refinement round floor — measured, no change made (VERDICT r3 #5)

Per-round telemetry (the loop's moved-vertex Observation) at sf0.1:
16 accepted rounds, moves [10775, 8822, 7705, 6972, 6487, 6090, 5801,
5538, 5316, 5138, 4962, 4758, 4659, 4549, 4441, 4329] — a plateau at
~22% of |V|, not a die-off — while relative WCC improvement decays to
+0.4%/round; the last ~5 rounds ARE the retry budget (sub-1%
improvements don't reset it, `DistributedWCC.scala:27-29` semantics).
On the reference graph: 8 rounds, moves [524 … 59], every round still
improving.  Conclusions:

* (a) a moves-based early exit is UNSAFE: moves never approach zero,
  so any ε either never fires or cuts rounds that still improve WCC —
  diverging from the reference's accept-if-improved contract for no
  measured win.
* (b) action fusion: the round's two actions split 2.2-2.3s
  (movement + 20k-row landing) / 1.6-1.8s (fused vcd+stats+WCC eval);
  the parquet landing itself is ~0.3-0.5s.  Folding the eval into the
  landing saves at most that much and requires giving up either the
  `own` cache (4× round cost without it, measured r2) or the k=1
  landing cadence (k=2 measured 3× worse) — both measured losses
  larger than the candidate gain.

The floor is therefore round-latency × the reference's own round
count; both are reference semantics, left intact.

Reference-graph check (SNAP email-Eu-core, scoped path FORCED past the
probe): spliced stats bit-equal a from-scratch recomputation; vs the
whole-graph rounds, labels agree on 93.4% of vertices and global WCC
lands within 0.6% (the whole-graph pass keeps churning far labels
because small-world movement never reaches a fixed point — the moves
plateau above — and edges slightly higher; both inside the reference's
own 5-fixed-round approximation).  Pinned in
`tests/test_incremental_localized.py::test_scoped_vs_full_on_reference_graph`.


## Full-pipeline phase split (round 3, sf0.1, idle local[32])

Per-phase profile (a since-removed script): session 5.0s · edge load+materialize 7.6s ·
triangle enumeration 6.0s · preprocess 4.8s · center election 8.8s ·
initial eval 4.0s · 16 accepted refinement rounds ≈ 60s (movement
1.2-2.5s + eval 1.5-2.2s per round) → 96.7s total.  The refinement
loop is round-latency-bound (2 actions/round, each 6-8 stages over the
2.1M-row cached edge state); per-round cost is what the SCALING table's
3.5×/100× ratio tracks.


## Round-4 second-batch operators: 100 TB shape

Why each new operator family survives a 100× scale-up:

- **Link scores / assortativity** (`graph_metrics.link_scores`,
  `degree_assortativity`): the wedge join is closed against the edge
  list BEFORE the aggregate, so the shuffle carries triangle-supported
  wedges only — the same Σ deg² bound as triangle enumeration (the
  pipeline's existing ceiling); assortativity reduces the whole graph
  to one bigint-sum row.
- **Label propagation / weighted SSSP / random walks**: fixed-round
  loops with one join + one aggregate per round, state through the
  parquet `Materializer` with superseded rounds dropped (checkpoint
  disk O(1)); walk cost ∝ walks in flight, never |E| per step.
- **Repeated passages** (`textual.repeated_passages`): windows are
  hashed JVM-side in the scan stage, so the shuffle moves only
  `(hash60, doc_id)` longs — ~|tokens| rows, the same order as the
  MinHash shingle pass; no suffix array, no driver state.
- **Unigram NLL** (`search.unigram_nll`): vocab is a broadcast
  aggregate (vocabulary ≪ corpus); the token stream shuffles once.
- **Covariance** (`similarity.covariance_matrix`): the d²/2
  upper-triangle products are generated per row inside codegen and
  map-side combined, so the exchange carries ≤ d²/2 rows PER TASK
  regardless of corpus size; DECIMAL sums keep the aggregate
  order-independent at any parallelism.
- **Interval join** (`streaming/windows.interval_join`): equi-key +
  time bounds = hash-join path in batch and bounded join state in
  Structured Streaming — the two failure modes (cartesian, unbounded
  state) are excluded by construction.
- **Quality contracts** (`dedup.minhash_estimate_quality` joining the
  ANN/sketch suites): score only the LSH candidate set via broadcast
  lookups, never all pairs.

Measured at sf0.1, idle local[32] (the round-4 final bench run):
rel_q5 0.7s, g_link_scores 0.9s (session graph cached), label
propagation 4.3s, repeated passages 5.0s, unigram NLL 0.7s,
covariance 2.7s — the whole second batch adds ~14s to a 522s headline
while the baseline subtotal holds at 105.0s (0.79× of the 132.2s
round-1 baseline).
"""


if __name__ == "__main__":
    main()
