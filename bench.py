"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from community_detection_flink_spark import get_spark  # noqa: E402
import __spark_entry__ as entry_mod  # noqa: E402

HEADLINE = [
    "wcc_communities",        # full graph pipeline (triangles → MIS → refinement)
    "wcc_incremental",        # incremental merge + re-partition path
    "g_triangle_counts",      # degree-oriented triangle counting
    "g_adjacency",            # adjacency-list build (exploded)
    "rel_pricing_summary",    # scan-heavy aggregation
    "rel_nation_revenue",     # multi-join with broadcast dims
    "doc_minhash_lsh_pairs",  # MinHash LSH dedup
    "doc_jaccard_pairs",      # prefix-filtered exact Jaccard pairs
    "doc_simhash",            # SimHash fingerprints
    "emb_cosine_topk",        # brute-force similarity top-k
    "emb_lsh_ann",            # multi-table LSH ANN (quality: see ann_recall_at_5)
    "emb_ivf_ann",            # IVF ANN (quality: see ivf_recall_at_5)
    "doc_simhash_near_dups",  # banded Hamming pairs (exact)
    "doc_dedup_groups",       # LSH pairs → connected components
    "g_connected_components", # large-star/small-star over the graph
    "g_components_paths",     # CC over path graph (diameter stress)
    "doc_pack_chunks",        # sequence packing (prefix-sum windows)
    "ev_session",             # session windows
    "g_pagerank",             # fixed-round power iteration
    "g_kcore",                # iterative peel (parquet-landed rounds)
    "doc_bm25",               # BM25 keyword search
    "doc_tfidf",              # per-doc TF-IDF keyword extraction
    "ev_retention",           # weekly retention cohorts
    "rel_scd2",               # SCD2 dimension build
    "ev_anomalies",           # per-group z-score outliers
    "ev_partition_pruned",    # directory-pruned lake scan
    "rel_bucketed_join",      # zero-exchange co-bucketed join
    # round-4 second batch
    "rel_q5_local_supplier",  # TPC-H Q5: 6-way star, broadcast dims
    "g_link_scores",          # per-edge CN/Jaccard/PA (wedge-closed join)
    "g_label_propagation",    # 4 synchronous LPA rounds (Materializer)
    "doc_repeated_passages",  # sliding-window exact-substring dedup
    "doc_unigram_nll",        # unigram NLL quality scoring
    "emb_covariance",         # exact covariance matrix (DECIMAL sums)
    # round-8 additions
    "rel_bloom_prune",        # Bloom runtime filter, measured FPR
    "doc_phrase_search",      # positional posting-list intersection
    "ev_ohlc_bars",           # OHLC bar downsampling (1 keyed agg)
    "rel_zorder_prune",       # Z-order vs linear layout pruning
    "emb_dup_threshold_curve",# cosine cutoff grid from one pair pass
    "rel_merge_upsert",       # MERGE upsert (broadcast join + union)
    # round-9 additions
    "ev_cms_heavy_hitters",   # portable Count-Min heavy-hitter audit
    "doc_mixture_sample",     # deterministic mixture sampling
    "emb_semantic_dedup",     # SemDeDup within Voronoi cells
    "emb_knn_graph",          # cell-blocked kNN graph
    "ev_hll_distinct",        # portable HLL registers + estimate
    "rel_fuzzy_part_match",   # blocked Levenshtein linkage
    "ev_daily_hll_users",     # per-day HLL distinct estimates
    "doc_char_entropy",       # char-distribution entropy scoring
    "emb_kmeans_refine",      # 2 deterministic Lloyd k-means steps
    "ev_histogram_quantiles", # mergeable 256-bin quantiles
    "emb_dup_clusters",       # kNN edges -> CC dedup clusters
    # round-10 additions
    "doc_source_caps",        # per-source frequency capping
    "doc_minhash_store_pairs",# persisted signature store: build+append+read
    "mm_mp4_metadata",        # real ISO-BMFF box-tree metadata parse
    "mm_mp4_frame_sample",    # sample extraction via real stsz/stco tables
]

# the round-1 HEADLINE (BENCH_r01.json): its subtotal is the
# apples-to-apples number against the 132.2s baseline — the queries
# added since (wcc_incremental is a second full pipeline by design)
# grow the total without regressing any baseline query
R1_BASELINE = [
    "wcc_communities",
    "g_triangle_counts",
    "rel_pricing_summary",
    "rel_nation_revenue",
    "doc_minhash_lsh_pairs",
    "doc_simhash",
    "emb_cosine_topk",
    "ev_session",
]


def wcc_incremental_split(
    spark, sf_dir: str, n_batches: int = 4, save_path: str | None = None
):
    """The E2 incremental harness with the bulk ``prepare`` and the
    micro-batch delta loop timed SEPARATELY (VERDICT r2 #5): the
    benchable claim of the incremental path is delta ≪ full-pipeline,
    which a single end-to-end number hides.  ``n_batches=4`` so the
    carried-state reuse (triangle-list union, incremental.py) is
    exercised batch-over-batch.

    After the id-range batches (locality-free: SCALING.md measured
    them touching 1712/1712 communities), runs ``n_batches`` LOCALIZED
    batches (VERDICT r3 #3) through the same state — the workload
    shape where the scoped refinement's delta ∝ batch neighborhood
    shows up.  Returns (rows, t_prepare, t_delta, t_localized, report)
    with report the last localized batch's ``WCCState.report``."""
    from pyspark.sql import functions as F

    from community_detection_flink_spark.operators.incremental import (
        incremental_update,
        prepare,
    )
    from community_detection_flink_spark.streaming.incremental_stream import (
        localized_batches,
        micro_batches,
        split_bulk_stream,
    )

    graph = entry_mod._graph(spark, sf_dir)
    e, tri_full = graph.edges, graph.tri
    t0 = time.time()
    max_vertex = int(e.agg(F.max(F.greatest("src", "dst"))).first()[0])
    bulk, stream, split = split_bulk_stream(e, 0.8)
    tri_bulk = tri_full.where(
        (F.col("u") < split) & (F.col("v") < split) & (F.col("w") < split)
    )
    state = prepare(bulk, tri=tri_bulk)
    state.vertices.count()  # prepare materializes; this pins the cut
    t_prepare = time.time() - t0
    if save_path is not None:
        # persist the post-prepare state OUTSIDE the timed phases: the
        # CDC stream demo restores from it (save_state/load_state is
        # the production restart path — incremental_update drops
        # superseded Materializer files, so sharing live state would
        # dangle)
        from community_detection_flink_spark.operators.incremental import (
            save_state,
        )

        state.max_vertex = max_vertex
        save_state(state, save_path)
    t0 = time.time()
    for batch in micro_batches(stream, split, max_vertex, n_batches):
        state = incremental_update(state, batch)
    rows = state.vertices.select("vId", "cId").count()
    t_delta = time.time() - t0
    state.max_vertex = max_vertex
    t0 = time.time()
    for batch in list(localized_batches(state, n_batches=n_batches)):
        state = incremental_update(state, batch)
    state.vertices.count()
    t_localized = time.time() - t0
    return rows, t_prepare, t_delta, t_localized, state.report


def wcc_incremental_clustered(spark, n_comms: int = 2000, size: int = 10,
                              n_batches: int = 4):
    """Localized incremental batches on the CLUSTERED graph fixture
    (VERDICT r3 #3).  The co-purchase graph is dense small-world —
    every community's one-hop neighborhood spans the graph, so no
    batch is localized there and the scoped path's win is invisible.
    This is the regime where it shows: each batch anchors to one of
    ``n_comms`` clusters, and the scoped refinement's data volume
    tracks the batch neighborhood (the last batch's ``WCCState.report``
    shows it), not |E|.  Returns (t_prepare, t_localized, report)."""
    from community_detection_flink_spark.operators.incremental import (
        incremental_update,
        prepare,
    )
    from community_detection_flink_spark.sources.synthetic import clustered_graph
    from community_detection_flink_spark.streaming.incremental_stream import (
        localized_batches,
    )

    g = clustered_graph(spark, n_comms, size)
    t0 = time.time()
    state = prepare(g)
    state.vertices.count()
    t_prepare = time.time() - t0
    state.max_vertex = n_comms * size - 1
    t0 = time.time()
    for batch in list(localized_batches(state, n_batches=n_batches)):
        state = incremental_update(state, batch)
    state.vertices.count()
    t_localized = time.time() - t0
    return t_prepare, t_localized, dict(state.report, n_vertices=state.vertex_count)


def wcc_cdc_stream(
    spark, sf_dir: str, n_batches: int = 2, state_path: str | None = None
):
    """End-to-end Structured Streaming CDC demo at bench scale
    (VERDICT r6 #7): ``run_stream(cdc=True)`` over the same 80/20
    bulk/stream split as the batch harness.  Each micro-batch FILE
    carries the batch's inserts plus ``op='D'`` rows deleting the
    even-src slice of those same inserts — the I-then-D same-batch CDC
    contract ``run_stream`` documents.  ``maxFilesPerTrigger=1`` makes
    each file its own micro-batch so the foreachBatch sink's
    state-carry is exercised batch-over-batch, exactly like production.

    Returns (rows, t_prepare, per_batch_times).  The comparable batch
    number is ``wcc_incremental_delta_per_batch`` — the stream batches
    additionally run the delete path, so parity is a band, not an
    equality.

    When ``state_path`` is given, the stream RESTORES the persisted
    post-prepare state (``load_state`` — the production restart flow a
    CDC consumer actually runs) instead of re-running the 80%-bulk
    pipeline; t_prepare then reports the restore time."""
    import tempfile

    from pyspark.sql import functions as F

    from community_detection_flink_spark.operators.incremental import (
        load_state,
        prepare,
    )
    from community_detection_flink_spark.streaming.incremental_stream import (
        micro_batches,
        run_stream,
        split_bulk_stream,
    )

    graph = entry_mod._graph(spark, sf_dir)
    e, tri_full = graph.edges, graph.tri
    max_vertex = int(e.agg(F.max(F.greatest("src", "dst"))).first()[0])
    bulk, stream, split = split_bulk_stream(e, 0.8)
    t0 = time.time()
    if state_path is not None:
        state = load_state(spark, state_path)
        state.vertices.count()
    else:
        tri_bulk = tri_full.where(
            (F.col("u") < split) & (F.col("v") < split) & (F.col("w") < split)
        )
        state = prepare(bulk, tri=tri_bulk)
        state.vertices.count()
    t_prepare = time.time() - t0

    src_dir = tempfile.mkdtemp(prefix="cdfs-cdc-src-")
    ckpt = tempfile.mkdtemp(prefix="cdfs-cdc-ckpt-")
    # one parquet FILE per micro-batch, written in batch order (the
    # file source triggers in modification-time order)
    import glob
    import shutil

    for k, b in enumerate(micro_batches(stream, split, max_vertex, n_batches)):
        ins = b.select("src", "dst", F.lit("I").alias("op"))
        dels = b.where(F.col("src") % 2 == 0).select(
            "src", "dst", F.lit("D").alias("op")
        )
        tmp = tempfile.mkdtemp(prefix="cdfs-cdc-tmp-")
        ins.unionByName(dels).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.move(part, f"{src_dir}/batch{k}.parquet")
        shutil.rmtree(tmp, ignore_errors=True)

    batch_times: list[float] = []
    last = [time.time()]

    def on_batch(_state, _bid):
        now = time.time()
        batch_times.append(round(now - last[0], 3))
        last[0] = now

    handle = run_stream(
        spark, src_dir, state, ckpt, on_batch=on_batch, cdc=True,
        max_files_per_trigger=1,
    )
    handle.await_termination(1200)
    rows = handle.state.vertices.select("vId", "cId").count()
    return rows, t_prepare, batch_times


def ann_quality(spark, sf_dir: str) -> dict[str, float]:
    """Measured ANN quality on BOTH regimes: the driver's isotropic
    embeddings (worst case for angular pruning — recall is the claim
    there) and the clustered synthetic fixture (the geometry of real
    corpora — PRUNING is the claim there: candidate_frac ≪ 1 at
    recall ≈ 1, VERDICT r2 #4).  IVF runs against the persisted index
    (build timed separately as ivf_index_build_sec, VERDICT r2 #3)."""
    from community_detection_flink_spark.operators import similarity as S
    from community_detection_flink_spark.sources.synthetic import (
        clustered_embeddings,
    )
    from community_detection_flink_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    queries = emb.where("vec_id < 10")
    recall = S.ann_recall(emb, queries, k=5)
    n_cand = S.ann_candidates(emb, queries).count()
    t0 = time.time()
    idx = S.build_ivf_index(emb, table="bench_ivf_idx")
    t_build = time.time() - t0
    t0 = time.time()
    ivf16 = S.ivf_recall(emb, queries, k=5, n_probe=16, index=idx)
    t_q16 = time.time() - t0
    ivf32 = S.ivf_recall(emb, queries, k=5, n_probe=32, index=idx)
    emb.unpersist()

    embc = clustered_embeddings(spark).cache()
    nc = embc.count()
    qc = embc.where("vec_id < 10")
    c_recall = S.ann_recall(embc, qc, k=5, n_planes=16, n_tables=8)
    c_frac = S.ann_candidates(embc, qc, n_planes=16, n_tables=8).count() / (
        10 * (nc - 1)
    )
    cidx = S.build_ivf_index(embc, table="bench_ivf_idx_clus")
    ci_recall = S.ivf_recall(embc, qc, k=5, n_probe=4, index=cidx)
    ci_frac = S.ivf_candidates(embc, qc, n_probe=4, index=cidx).count() / (
        10 * (nc - 1)
    )
    # IVF+PQ with exact re-rank (r6): the production composition's
    # measured quality at a 20%-of-cells probe budget
    import math

    c_probe = max(1, math.ceil(0.2 * cidx.n_cells))
    cpq_recall = S.ivfpq_recall(
        embc, qc, k=5, n_probe=c_probe, index=cidx, m=4, rerank=128
    )
    embc.unpersist()
    return {
        "ann_recall_at_5": round(recall, 4),
        "ann_candidate_frac": round(n_cand / (10 * max(n - 1, 1)), 4),
        "ivf_recall_at_5_probe16": round(ivf16, 4),
        "ivf_recall_at_5_probe32": round(ivf32, 4),
        "ivf_cell_frac_probe16": round(min(16, idx.n_cells) / idx.n_cells, 4),
        "ivf_cell_frac_probe32": round(min(32, idx.n_cells) / idx.n_cells, 4),
        "ivf_index_build_sec": round(t_build, 3),
        "ivf_indexed_query_sec": round(t_q16, 3),
        "clustered_lsh_recall_at_5": round(c_recall, 4),
        "clustered_lsh_candidate_frac": round(c_frac, 4),
        "clustered_ivf_recall_at_5_probe4": round(ci_recall, 4),
        "clustered_ivf_candidate_frac": round(ci_frac, 4),
        "clustered_ivfpq_rerank128_recall_at_5": round(cpq_recall, 4),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="cdfs-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()

    # Median-of-3 per query (VERDICT r5 #2): BENCH_r05 showed 2.8-6.3×
    # spikes on UNTOUCHED code (emb_cosine_topk, doc_simhash) plus a
    # ~20% whole-run drift — one contended host run can masquerade as a
    # regression when every query is timed exactly once.  Each
    # repeatable query now runs 3×; the reported time is the median and
    # the max is kept alongside so contention is visible instead of
    # silently folded in.  Handled by their own min-of-2 protocol
    # since r8 (branches below, VERDICT r7 #1): wcc_communities (full
    # cache-evicted re-runs), the wcc_incremental split phases, and
    # the clustered fixture.
    # Run 1 of a repeated query may include shared session-cache builds
    # (_graph); the median therefore reports the
    # steady-state cost, which is the per-query signal the
    # round-over-round comparison needs.
    REPEATS = 3
    no_repeat = {"wcc_communities", "wcc_incremental"}

    timings: dict[str, float] = {}
    timings_max: dict[str, float] = {}
    total = 0.0
    cdc_state_path = None
    for name in HEADLINE:
        if name == "wcc_communities":
            # min-of-2 FULL pipeline runs (VERDICT r7 #1): single-run
            # wcc draws produced spurious ±30% headline swings in r5,
            # r6 AND r7 on untouched code (adjudicated host variance,
            # SCALING.md).  _WCC_CACHE memoizes, so a naive re-call
            # would time a rescan — instead the session caches for
            # this sf_dir are evicted between runs so run 2 repeats
            # the complete pipeline (edge build → triangles →
            # preprocess → MIS → refinement) exactly like run 1.
            # Reported: MIN of 2 (matching the clustered fixture's r7
            # protocol); the other draw is kept under _run2.  NOT
            # comparable to the single-run draws of r1-r7.
            wruns = []
            for _ in range(2):
                entry_mod._WCC_CACHE.pop(sf_dir, None)
                entry_mod._GRAPH_CACHE.pop(sf_dir, None)
                t0 = time.time()
                n = queries[name](spark, sf_dir).count()
                wruns.append(time.time() - t0)
                print(
                    f"# {name} run {len(wruns)}: {n} rows in "
                    f"{wruns[-1]:.2f}s",
                    file=sys.stderr,
                    flush=True,
                )
            dt = min(wruns)
            timings[name] = round(dt, 3)
            timings["wcc_communities_run2"] = round(max(wruns), 3)
            total += dt
            continue
        if name == "wcc_incremental":
            # split timing (n_batches=4): prepare is a second full
            # pipeline on the 80% bulk; the deltas are the actual
            # incremental path.  The combined key keeps its r1-r3
            # definition (prepare + delta) for round-over-round
            # comparability — the localized phase added in r4 is
            # reported ONLY under its own keys (ADVICE r4: r4's
            # combined number was inflated by a phase r1-r3 never ran).
            # TWO full split runs since r8 (VERDICT r7 #1): per-phase
            # MIN across runs (the steady-state cost), the other draw
            # kept under *_run2 keys.  Run 1 persists the post-prepare
            # state for the CDC stream (save is outside the timed
            # phases); run 2 repeats the identical workload — the
            # session graph/triangle caches are warm for BOTH runs, so
            # the two draws are like-for-like.
            import tempfile as _tf

            cdc_state_path = _tf.mkdtemp(prefix="cdfs-bench-state-")
            sruns = []
            for i in range(2):
                n, t_prep_i, t_delta_i, t_loc_i, loc_report = (
                    wcc_incremental_split(
                        spark,
                        sf_dir,
                        save_path=cdc_state_path if i == 0 else None,
                    )
                )
                sruns.append((t_prep_i, t_delta_i, t_loc_i))
                print(
                    f"# {name} run {i + 1}: {n} rows "
                    f"(prepare {t_prep_i:.2f}s + 4-batch delta "
                    f"{t_delta_i:.2f}s + 4-batch localized "
                    f"{t_loc_i:.2f}s; last localized scope: {loc_report})",
                    file=sys.stderr,
                    flush=True,
                )
            t_prep = min(r[0] for r in sruns)
            t_delta = min(r[1] for r in sruns)
            t_loc = min(r[2] for r in sruns)
            dt = t_prep + t_delta + t_loc
            timings["wcc_incremental_prepare"] = round(t_prep, 3)
            timings["wcc_incremental_delta"] = round(t_delta, 3)
            timings["wcc_incremental_delta_per_batch"] = round(t_delta / 4, 3)
            timings["wcc_incremental_localized"] = round(t_loc, 3)
            timings["wcc_incremental_localized_per_batch"] = round(t_loc / 4, 3)
            timings["wcc_incremental_prepare_run2"] = round(
                max(r[0] for r in sruns), 3
            )
            timings["wcc_incremental_delta_run2"] = round(
                max(r[1] for r in sruns), 3
            )
            timings["wcc_incremental_localized_run2"] = round(
                max(r[2] for r in sruns), 3
            )
            timings[name] = round(t_prep + t_delta, 3)
            total += dt
            continue
        runs = []
        n_runs = 1 if name in no_repeat else REPEATS
        for _ in range(n_runs):
            if name == "doc_minhash_lsh_pairs":
                # VERDICT r8 "what's wrong" #1: this query's
                # steady-state is an in-session-cached signature build
                # (_PAIRS_CACHE via Materializer), so a warm median
                # (0.07s in r8) measured cache placement, not the
                # operator — while the r1 baseline it is compared to
                # paid the build cold.  Evict the shared pairs cache
                # before EVERY timed run (the wcc_communities pattern
                # above) so the median is the real operator cost; the
                # downstream consumers (doc_dedup_groups /
                # doc_dedup_keep_best) still share run 3's cache
                # exactly as they did in every prior round.
                entry_mod._PAIRS_CACHE.pop(sf_dir, None)
            t0 = time.time()
            n = queries[name](spark, sf_dir).count()
            runs.append(time.time() - t0)
        dt = sorted(runs)[len(runs) // 2]
        timings[name] = round(dt, 3)
        if n_runs > 1:
            timings_max[name] = round(max(runs), 3)
        total += dt
        print(
            f"# {name}: {n} rows, median {dt:.2f}s of "
            f"{[round(r, 2) for r in runs]}",
            file=sys.stderr,
            flush=True,
        )

    # clustered-graph localized incremental (own fixture, scaled to
    # ~|V| of sf0.1's co-purchase graph; timed outside `total` — it is
    # a fixture demo, not a driver-data query).  TWO runs since r7
    # (VERDICT r6 #3): the r6 "+30% drift" on this fixture adjudicated
    # as run-to-run variance (fresh-session 3× spread 74-95s on an
    # idle box, tools/adjudicate_clustered.py); the reported number is
    # the MIN of 2 (steady-state orchestration cost), with both runs
    # kept so contention is visible.
    cruns = []
    for _ in range(2):
        t_cprep, t_cloc, creport = wcc_incremental_clustered(spark, 2000, 10)
        cruns.append((t_cprep, t_cloc))
        print(
            f"# wcc_incremental_clustered: prepare {t_cprep:.2f}s + "
            f"4-batch localized {t_cloc:.2f}s; last scope: {creport}",
            file=sys.stderr,
            flush=True,
        )
    t_cprep = min(r[0] for r in cruns)
    t_cloc = min(r[1] for r in cruns)
    timings["wcc_incremental_clustered_prepare"] = round(t_cprep, 3)
    timings["wcc_incremental_localized_clustered"] = round(t_cloc, 3)
    timings["wcc_incremental_localized_clustered_per_batch"] = round(t_cloc / 4, 3)
    timings["wcc_incremental_localized_clustered_run2"] = round(
        max(r[1] for r in cruns), 3
    )

    # Structured Streaming CDC end-to-end at bench scale (VERDICT r6
    # #7): per-batch latency of run_stream(cdc=True), reported next to
    # the batch harness's wcc_incremental_delta_per_batch.  The stream
    # RESTORES the state the batch harness persisted (save_state /
    # load_state — the production restart flow), so the bench also
    # times that path instead of paying a second 80%-bulk prepare.
    cdc_rows, t_cdc_restore, cdc_batches = wcc_cdc_stream(
        spark, sf_dir, state_path=cdc_state_path
    )
    # ADVICE r7: batch 0's elapsed includes streaming-query startup +
    # initial file listing — excluding it makes the per-batch key an
    # honest steady-state number; the startup-inflated first batch is
    # kept under its own key instead of silently folded into a median.
    steady = cdc_batches[1:] if len(cdc_batches) > 1 else cdc_batches
    cdc_pb = sorted(steady)[len(steady) // 2] if steady else 0.0
    timings["wcc_cdc_stream_per_batch"] = round(cdc_pb, 3)
    if cdc_batches:
        timings["wcc_cdc_stream_first_batch"] = round(cdc_batches[0], 3)
    timings["wcc_cdc_stream_state_restore"] = round(t_cdc_restore, 3)
    print(
        f"# wcc_cdc_stream: {cdc_rows} rows, restore {t_cdc_restore:.2f}s, "
        f"batches {cdc_batches}",
        file=sys.stderr,
        flush=True,
    )

    # MinHash store maintenance (VERDICT r10 #5): the store's reason to
    # exist is the delta-append regime — measure it.  Two independent
    # trials: each builds the store on 95% of the corpus UNTIMED (the
    # amortized base every incremental pipeline already paid), then
    # times APPEND of the remaining 5% + a bucketed pair read, against
    # a full minhash_lsh_pairs rebuild over the whole corpus (cold —
    # no session caches on this path).  Outputs are identical by
    # construction (signatures are a pure per-doc function; parity
    # pinned in tests/test_round10_ops.py), so this is a pure
    # maintenance-cost comparison.  MIN of 2 per path (steady-state).
    from community_detection_flink_spark.operators import dedup as _D
    from community_detection_flink_spark.sources.tables import (
        load_table as _lt,
    )

    _docs = _lt(spark, sf_dir, "documents")
    _delta = _docs.where("doc_id % 20 = 19")
    _base = _docs.where("doc_id % 20 != 19")
    app_runs, reb_runs = [], []
    for i in range(2):
        store = _D.build_minhash_store(
            _base, table=f"bench_mh_store_{i}"
        )  # untimed: the amortized base
        t0 = time.time()
        store = _D.minhash_store_append(store, _delta)
        n_app = _D.minhash_pairs_from_store(spark, store).count()
        app_runs.append(time.time() - t0)
        t0 = time.time()
        n_reb = _D.minhash_lsh_pairs(_docs, 8, 4, 3).count()
        reb_runs.append(time.time() - t0)
        print(
            f"# minhash store trial {i}: append+read {app_runs[-1]:.2f}s "
            f"({n_app} pairs) vs rebuild {reb_runs[-1]:.2f}s "
            f"({n_reb} pairs)",
            file=sys.stderr,
            flush=True,
        )
    timings["minhash_store_append_plus_read"] = round(min(app_runs), 3)
    timings["minhash_full_rebuild"] = round(min(reb_runs), 3)

    quality = ann_quality(spark, sf_dir)
    print(f"# ann quality: {quality}", file=sys.stderr, flush=True)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    baseline_subtotal = round(
        sum(timings[k] for k in R1_BASELINE if k in timings), 3
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "queries_max_of_3": timings_max,
                "timing_protocol": "median-of-3 per query since r6; "
                "min-of-2 (other draw under *_run2): the clustered "
                "fixture since r7, wcc_communities + wcc_incremental "
                "phases since r8 — min-of-2 keys are NOT comparable "
                "to the single-run draws of earlier rounds; "
                "wcc_cdc_stream_per_batch excludes the "
                "startup-inflated batch 0 since r8 (kept under "
                "wcc_cdc_stream_first_batch); doc_minhash_lsh_pairs "
                "evicts the shared signature cache before every run "
                "since r9 (r8's 0.07s median timed a warm cache; not "
                "comparable)",
                "baseline_subtotal": baseline_subtotal,
                "sf": sf_val,
                **quality,
            }
        ),
        flush=True,
    )
    # LAST line (VERDICT r12 #2): ONE JSON object carrying the FULL
    # per-query timings dict, compact enough (<~2000 chars) to survive
    # the driver's tail capture AND feed its last-line per-query
    # parser.  The r6-r12 format (big dict first, compact summary
    # last) silently disabled the driver's per-query comparison for
    # two rounds because the last line carried no "queries" key.  The
    # verbose line above is unchanged (full precision, protocol notes,
    # quality metrics) — this line is the machine contract.
    # adaptive rounding: sub-10s queries keep 2 decimals (a 0.25s
    # relational query needs them), 10s+ queries get 1 (±0.05s is far
    # below the documented host band on those).  The three *_per_batch
    # ratio keys are exact x/4 of keys that stay — derivable, so they
    # live only on the verbose line above.
    compact = {
        k: (round(v, 1) if v >= 10 else round(v, 2))
        for k, v in timings.items()
        if k
        not in (
            "wcc_incremental_delta_per_batch",
            "wcc_incremental_localized_per_batch",
            "wcc_incremental_localized_clustered_per_batch",
        )
    }
    last = {
        "metric": "headline_queries_total_runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": compact,
        "baseline_subtotal": baseline_subtotal,
        "sf": sf_val,
    }
    line = json.dumps(last, separators=(",", ":"))
    if len(line) > 1950:
        # last-resort coarsening keeps every key present
        for k, v in compact.items():
            if v >= 1:
                compact[k] = round(v, 1)
        line = json.dumps(last, separators=(",", ":"))
    if len(line) > 1990:
        print(
            f"# WARNING: last line {len(line)} chars may be tail-truncated",
            file=sys.stderr,
            flush=True,
        )
    print(line, flush=True)


if __name__ == "__main__":
    main()
