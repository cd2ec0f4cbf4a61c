"""Plan-quality pins (SURVEY.md §4): pushdown, pruning, broadcast, JVM-only.

These tests read the PHYSICAL plan — if a refactor silently breaks
predicate pushdown or drags the WCC hot path into Python, they fail.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from community_detection_flink_spark.plans.explain import (
    join_strategies,
    python_eval_nodes,
    scan_summary,
)

SF = "/root/testdata/sf0.001"


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    scans = scan_summary(q)
    assert len(scans) == 1
    assert "GreaterThan(l_quantity,30" in scans[0]["pushed_filters"]
    # column pruning: only the two referenced columns are read
    assert set(scans[0]["read_columns"]) == {"l_orderkey", "l_quantity"}


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    s = spark.read.parquet(f"{SF}/supplier.parquet")
    q = li.join(s, F.col("l_suppkey") == F.col("s_suppkey")).groupBy("s_name").count()
    strategies = join_strategies(q)
    assert strategies and all(j == "BroadcastHashJoin" for j in strategies)


def test_wcc_operators_stay_jvm_side(spark, golden_edges, tmp_path):
    from community_detection_flink_spark.sources.edges import symmetrize_edges
    from community_detection_flink_spark.operators.preprocess import preprocess
    from community_detection_flink_spark.operators.triangles import triangles
    from community_detection_flink_spark.operators.community import (
        best_movement,
        community_adjacency,
        community_stats,
    )
    from community_detection_flink_spark.plans.iteration import Materializer

    e = symmetrize_edges(golden_edges)
    vertices, clean = preprocess(triangles(e))
    assert python_eval_nodes(vertices) == []
    assert python_eval_nodes(clean) == []
    part = vertices.withColumn("cId", F.col("vId"))
    cs = community_stats(part, clean)
    assert python_eval_nodes(cs) == []
    mat = Materializer(spark, base_dir=str(tmp_path))
    mv = best_movement(part, cs, community_adjacency(part, clean), 0.3, 8, mat)
    mat.release()
    assert python_eval_nodes(mv) == []


def test_task_tier_is_one_arrow_grouped_task(spark, golden_edges, tmp_path):
    """The small-state tier's plans (the election, and the movement
    rounds with their WCC evaluations) each hold exactly one
    Arrow-batched grouped pandas node and no row-at-a-time
    BatchEvalPython."""
    from community_detection_flink_spark.operators import task_tier
    from community_detection_flink_spark.operators.movement import AcceptIfImproved
    from community_detection_flink_spark.operators.refinement import load_graph
    from community_detection_flink_spark.plans.iteration import Materializer
    from community_detection_flink_spark.sources.edges import symmetrize_edges

    mat = Materializer(spark, base_dir=str(tmp_path))
    g = load_graph(symmetrize_edges(golden_edges), mat)
    init = task_tier.elect(g.vertices, g.clean_edges, 50)
    moved = task_tier.rounds(
        mat(init, "init"), g.clean_edges, 0.3, 8,
        AcceptIfImproved(5, 0.01), tri=g.tri,
    )
    for df in (init, moved):
        physical = df._jdf.queryExecution().executedPlan().toString()
        assert physical.count("FlatMapGroupsInPandas") == 1
        assert "BatchEvalPython" not in physical
        assert python_eval_nodes(df) == ["FlatMapGroupsInPandas"]


def test_extension_operators_stay_jvm_side(spark):
    from community_detection_flink_spark.operators import dedup as D
    from community_detection_flink_spark.operators import similarity as S
    from community_detection_flink_spark.operators import textual as T

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in [
        D.minhash_signatures(docs, 8),
        D.simhash(docs, 32),
        T.token_stats(docs),
        T.fingerprint(docs),
        S.cosine_topk(emb, emb.where(F.col("vec_id") < 3), 3),
    ]:
        assert python_eval_nodes(df) == []


def test_multimodal_decode_is_arrow_batched(spark):
    """The ONE intentional Python operator uses mapInPandas (Arrow),
    never row-at-a-time BatchEvalPython."""
    from community_detection_flink_spark.operators.multimodal import decode_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    nodes = python_eval_nodes(decode_features(docs))
    assert nodes == ["MapInPandas"]


def test_partition_pruned_scan(spark, tmp_path):
    from community_detection_flink_spark.plans.explain import partition_filters

    src = spark.read.parquet(f"{SF}/events.parquet")
    path = str(tmp_path / "ev_part")
    src.write.partitionBy("event_type").parquet(path)
    q = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    pf = partition_filters(q)
    # the equality filter must land in PartitionFilters (directory
    # pruning), not just PushedFilters (row-group pruning)
    assert any("event_type" in f and "purchase" in f for f in pf)


def test_executed_exchange_count_not_inflated_by_aqe(spark):
    """ADVICE r5: the AdaptiveSparkPlan tree string prints an
    '== Initial Plan ==' section whose exchanges carry their own
    plan_ids, so the old regex counter returned 2 for a 1-shuffle
    query.  The object-walk counter must return exactly 1."""
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    assert executed_exchange_count(q) == 1


def test_executed_exchange_count_colocated_join(spark):
    """Two aggregates on the same key + a join on that key: the join
    must reuse the aggregate partitioning, so exactly 2 shuffles
    execute (one per aggregate), not 3."""
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    with _no_broadcast(spark):
        a = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
        b = li.groupBy("l_orderkey").agg(F.count("*").alias("c"))
        assert executed_exchange_count(a.join(b, "l_orderkey")) == 2


def test_pagerank_executed_exchange_count_pinned(spark):
    """VERDICT r5 #4: pin the honest shuffle count of the 5-round
    PageRank so the per-round plan can't silently regress.  Budget:
    one groupBy(dst) shuffle per round + the two cache builds (degree
    aggregate, hash(src) edge repartition) — the rank-side join must
    keep REUSING the previous round's aggregate partitioning, so a
    regression to re-shuffling ranks (or a revived per-round scalar
    exchange) breaks the <= bound."""
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    df = entry_mod.queries()["g_pagerank"](spark, SF)
    n = executed_exchange_count(df)
    assert 5 <= n <= 7, n


def _no_broadcast(spark):
    from contextlib import contextmanager

    @contextmanager
    def _ctx():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return _ctx()


def test_bucketed_join_zero_exchange(spark):
    from community_detection_flink_spark.plans.explain import exchange_count
    from community_detection_flink_spark.sources.bucketed import write_bucketed

    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    write_bucketed(c, "tp_bk_customer", ["c_custkey"], 4, sort_keys=["c_custkey"])
    write_bucketed(o, "tp_bk_orders", ["o_custkey"], 4, sort_keys=["o_custkey"])
    cb, ob = spark.table("tp_bk_customer"), spark.table("tp_bk_orders")
    q = (
        cb.join(ob, cb["c_custkey"] == ob["o_custkey"])
        .groupBy("c_custkey")
        .agg(F.count("*").alias("n"))
    )
    # join AND aggregate run on the bucket key: no shuffle anywhere
    assert exchange_count(q) == 0
    # sanity: same result as the plain (shuffling) plan
    plain = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey")
        .agg(F.count("*").alias("n"))
    )
    assert sorted(map(tuple, q.collect())) == sorted(map(tuple, plain.collect()))


def test_round7_operators_plan_shape(spark):
    """CDC chunking and JL projection are scan-stage maps: zero
    shuffle Exchange, zero Python eval.  Chunk dedup shuffles only on
    chunk_hash.  (PLANS.md round-7 section is the reviewable twin.)"""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()
    chunks = qs["doc_cdc_chunks"](spark, SF)
    assert python_eval_nodes(chunks) == []
    assert executed_exchange_count(chunks) == 0

    proj = qs["emb_jl_projection"](spark, SF)
    assert python_eval_nodes(proj) == []
    assert executed_exchange_count(proj) == 0

    dedup = qs["doc_cdc_chunk_dedup"](spark, SF)
    assert python_eval_nodes(dedup) == []
    assert executed_exchange_count(dedup) <= 2  # partial+final agg pair

    # the synthesized partsupp is an explode over part: no shuffle of
    # its own, and q16's only exchanges are the distinct-count agg
    q16 = qs["rel_q16_supplier_part_counts"](spark, SF)
    assert python_eval_nodes(q16) == []
    assert executed_exchange_count(q16) <= 3


def test_round8_gif_plan_shape(spark):
    """GIF decode is an Arrow mapInPandas in the scan stage: the blob
    column never shuffles (zero Exchange end-to-end — synthesis and
    decode compose in one stage), and the only Python nodes are the
    two documented Arrow codec steps (synthesize + decode)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()
    frames = qs["mm_gif_frames"](spark, SF)
    # python_eval_nodes reports DISTINCT node types: both Python steps
    # (synthesize + decode) are Arrow MapInPandas, nothing row-at-a-time
    assert python_eval_nodes(frames) == ["MapInPandas"]
    assert executed_exchange_count(frames) == 0


def test_round8_late_operators_plan_shape(spark):
    """Bloom pruning: the fact side joins only BROADCAST exchanges
    (the 1-row bitmap + the tiny member dim) — every shuffle Exchange
    in the plan belongs to the ≤32-row filter build or the final
    1-row aggregate, never the fact scan.  Phrase search and OHLC
    stay JVM-side with bounded shuffle counts."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()

    bloom = qs["rel_bloom_prune"](spark, SF)
    assert python_eval_nodes(bloom) == []
    plan = bloom._jdf.queryExecution().executedPlan().toString()
    # bitmap row + member dim + the 1-row n_bits_set join onto the
    # finished accounting row (empty-fact robustness)
    assert plan.count("BroadcastExchange") == 3

    phrase = qs["doc_phrase_search"](spark, SF)
    assert python_eval_nodes(phrase) == []
    # postings joins + final per-doc agg; corpus scanned once per term
    # posting but never self-joined unfiltered
    assert executed_exchange_count(phrase) <= 3

    ohlc = qs["ev_ohlc_bars"](spark, SF)
    assert python_eval_nodes(ohlc) == []
    assert executed_exchange_count(ohlc) == 1  # the one keyed aggregate


def test_zorder_and_threshold_curve_plan_shape(spark):
    """Z-order stats: zero joins, zero Python — the interleave is a
    scan-stage projection and the answer is ONE aggregate.  The
    threshold curve shuffles only for the block pair join and its
    1-row aggregate."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()

    zp = qs["rel_zorder_prune"](spark, SF)
    assert python_eval_nodes(zp) == []
    plan = zp._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # two COUNT(DISTINCT ...) over different keys → Spark's Expand +
    # two-phase distinct aggregate = 2 exchanges, both over the
    # tiny (bucket-id, flags) expansion — never the raw scan twice
    assert executed_exchange_count(zp) <= 2

    curve = qs["emb_dup_threshold_curve"](spark, SF)
    assert python_eval_nodes(curve) == []
    assert executed_exchange_count(curve) <= 2  # block join + 1-row agg


def test_merge_upsert_plan_shape(spark):
    """The MERGE is ONE join (broadcast by default — the common
    small-CDC-batch case) + a union; the target side never shuffles."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    m = qs["rel_merge_upsert"](spark, SF)
    assert python_eval_nodes(m) == []
    plan = m._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 0  # target never shuffles


def test_round9b_operators_plan_shape(spark):
    """HLL: no joins in the data path (the 1-row audit crossJoins are
    broadcast), registers collapse map-side.  Semantic dedup / kNN
    graph: the quadratic step shuffles ONLY on cell; centroid
    assignment broadcasts the <=sqrt(n) centroid rows and the corpus
    never shuffles for it.  Fuzzy join: ONE shuffle pair on the block
    key, the levenshtein never runs before the block+band filters."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()

    hll = qs["ev_hll_distinct"](spark, SF)
    assert python_eval_nodes(hll) == []
    plan = hll._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan  # audit joins are broadcast-only
    # register agg (1) + audit single-partition row (1) + the exact
    # countDistinct audit baseline's two-phase distinct (2); every
    # shuffle moves <=m register rows or distinct keys, never raw rows
    assert executed_exchange_count(hll) <= 4

    sd = qs["emb_semantic_dedup"](spark, SF)
    assert python_eval_nodes(sd) == []
    sd_plan = sd._jdf.queryExecution().executedPlan().toString()
    # centroids travel by broadcast; the dup-id verdict join carries NO
    # forced broadcast since r10 (dup set is O(n) on dup-heavy corpora
    # — AQE picks broadcast at runtime only when it is actually small;
    # VERDICT r9 #4), so only the centroid side is pinned here
    assert sd_plan.count("BroadcastExchange") >= 1
    assert "CartesianProduct" not in sd_plan

    knn = qs["emb_knn_graph"](spark, SF)
    assert python_eval_nodes(knn) == []
    # assignment agg + cell self-join + per-vector window
    assert executed_exchange_count(knn) <= 4

    fz = qs["rel_fuzzy_part_match"](spark, SF)
    assert python_eval_nodes(fz) == []
    fz_plan = fz._jdf.queryExecution().executedPlan().toString()
    # the self-join keys on the block columns (hash-shuffled or
    # broadcast at this SF) and levenshtein appears only in the join
    # condition/filter, never as a crossJoin over unblocked pairs
    assert "CartesianProduct" not in fz_plan
    assert executed_exchange_count(fz) <= 2


def test_round9b_late_operators_plan_shape(spark):
    """Grouped HLL: no sort-merge joins (the per-group audit join may
    broadcast), bounded shuffles of register rows.  Char entropy: the
    explode feeds ONE (doc, char) aggregate — no join anywhere (doc
    length rides along).  k-means: the corpus assignment never
    sort-merges — centroids always broadcast."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()

    dh = qs["ev_daily_hll_users"](spark, SF)
    assert python_eval_nodes(dh) == []
    assert executed_exchange_count(dh) <= 5

    ce = qs["doc_char_entropy"](spark, SF)
    assert python_eval_nodes(ce) == []
    ce_plan = ce._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ce_plan
    assert executed_exchange_count(ce) <= 2  # (doc,char) agg + per-doc agg

    km = qs["emb_kmeans_refine"](spark, SF)
    assert python_eval_nodes(km) == []
    km_plan = km._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in km_plan  # centroids broadcast every pass


def test_histogram_and_dup_clusters_plan_shape(spark):
    """Histogram quantiles: the raw scan feeds ONE bin aggregate; the
    bounds/quantile machinery is all broadcast over <=256-row state.
    Dup clusters: no cartesian anywhere; the kNN stage keys on cell,
    the CC rounds are materialized star contractions."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry_mod
    from community_detection_flink_spark.plans.explain import (
        executed_exchange_count,
    )

    qs = entry_mod.queries()

    hq = qs["ev_histogram_quantiles"](spark, SF)
    assert python_eval_nodes(hq) == []
    plan = hq._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # stats agg + bin agg + 256-row cumsum window + per-q rank window
    assert executed_exchange_count(hq) <= 4

    dc = qs["emb_dup_clusters"](spark, SF)
    assert python_eval_nodes(dc) == []
    dc_plan = dc._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in dc_plan
