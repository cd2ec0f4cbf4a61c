"""Extra whole-graph metrics beyond the reference's WCC family
(SURVEY.md §2.10 engine extensions): PageRank and k-core.

Both consume the same symmetrized doubled-edge DataFrame as the WCC
pipeline (``sources.edges.symmetrize_edges`` /
``sources.edges.co_purchase_edges``), so a user of the reference's
graph loader gets these for free on the graphs they already build.

Scale shape:

* ``pagerank`` — a FIXED number of join+aggregate rounds; the
  rank-mass transfer is one ``src``-keyed join and one ``dst``-keyed
  hash aggregate per round, both combiner-friendly.  The degree-
  annotated edge list is persisted ONCE and reused by every round, so
  each iteration adds exactly one shuffle (the dst aggregate) — the
  join side stays co-partitioned with the cached edges.  Nothing but
  O(1) scalars (vertex count) reaches the driver.
* ``k_core`` — iterative peel; each round is one degree aggregate and
  two semi-joins, with the surviving edge set parquet-materialized
  through ``plans.Materializer`` (same checkpoint discipline as the
  refinement loop — bounded lineage, real stats).  Convergence is
  detected from the materialized round's row count — a metadata read
  of the parquet the round just wrote, not an extra pass.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.plans.iteration import Materializer


def _release_with(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie per-call caches to the RETURNED DataFrame's lifetime: when
    the caller drops the result, the caches it fed are unpersisted
    (ADVICE r3 — repeated invocations must not accumulate executor
    storage).  Zero overhead on the query itself (an eager
    localCheckpoint was measured +40% per call); if the caller keeps
    the result forever the caches stay exactly as long as a plan that
    can still read them exists, and unpersisting never breaks
    correctness — a derived plan just recomputes."""
    def _release(refs=cached):
        for df in refs:
            try:
                df.unpersist(False)
            except Exception:
                pass  # session already stopped

    weakref.finalize(out, _release)
    return out


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a symmetrized doubled-edge graph.

    Returns ``(vId, pr)`` after exactly ``iterations`` synchronous
    power-iteration rounds from the uniform start 1/N:

        pr'(v) = (1-d)/N + d * Σ_{(u,v) ∈ E} pr(u) / deg(u)

    On a symmetrized graph every vertex has deg ≥ 1, so there is no
    dangling-mass term (documented precondition — the co-purchase and
    reference CSV loaders both guarantee it).  A fixed round count
    (rather than an epsilon test) keeps the result a pure function of
    the input, which is what makes the exact DuckDB oracle possible.

    The vertex count N is ONE O(1) scalar collected to the driver up
    front (it also materializes the deg cache every round reuses).
    Earlier rounds threaded N through a per-round broadcast one-row
    aggregate instead; that re-ran a SinglePartition exchange + a
    BroadcastNestedLoopJoin in every iteration (6 extra exchanges /
    6 extra jobs at 5 rounds, measured) for a value that never
    changes.  A bounded scalar collect is the documented exception to
    the no-driver-round-trip rule.  Ranks are rounded to 9 decimals on
    output — summation order across engines/partitionings differs at
    ~1e-16 relative, far below the rounding grain.

    The two edge-sized caches the rounds share (deg, dedges) are tied
    to the RETURNED DataFrame's lifetime (``_release_with``): repeated
    invocations in one session don't accumulate executor storage
    (ADVICE r3), and the query itself pays nothing for the discipline
    (an eager localCheckpoint was measured +40% per call).
    """
    # one vertex-sized table, cached: feeds the degree-annotated edge
    # list, the vertex-count scalar, AND the uniform start — one edge
    # scan total, not one per consumer
    deg = edges.groupBy("src").agg(F.count("*").alias("deg")).persist()
    # degree-annotated edges: reused by every round.  Partitioned AND
    # sorted on the join key before caching, so each round's rank join
    # re-exchanges/re-sorts only the (vertex-sized) rank side — the
    # cached edge table contributes zero per-round shuffle or sort
    # (exchange/sort reuse off the InMemoryRelation's layout).
    dedges = (
        edges.join(deg, "src")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    n = float(deg.count())  # O(1) scalar; also materializes the cache
    if n == 0:
        # empty edge list: no vertices, so no ranks — mirror the
        # bfs_distances empty-input contract instead of dividing by 0.
        return _release_with(
            deg.select(
                F.col("src").alias("vId"), F.lit(0.0).alias("pr")
            ),
            deg,
            dedges,
        )

    ranks = deg.select(
        F.col("src").alias("vId"), (F.lit(1.0) / F.lit(n)).alias("pr")
    )
    d = float(damping)
    for _ in range(int(iterations)):
        contrib = (
            dedges.join(ranks, dedges["src"] == ranks["vId"])
            .select(F.col("dst"), (F.col("pr") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        # symmetrized graph: every vertex has an in-edge, so the
        # aggregate's key set IS the vertex set — no outer re-join.
        # hash(dst) propagates through the alias to hash(vId), so the
        # next round's rank-side join input is already co-partitioned
        # with the cached hash(src) edge layout — the groupBy above is
        # the ONLY per-round shuffle.
        ranks = contrib.select(
            F.col("dst").alias("vId"),
            (F.lit((1.0 - d) / n) + d * F.col("mass")).alias("pr"),
        )
    return _release_with(
        ranks.select("vId", F.round("pr", 9).alias("pr")), deg, dedges
    )


def k_core(edges: DataFrame, k: int, max_rounds: int = 100) -> DataFrame:
    """Vertices of the ``k``-core (maximal subgraph with min degree ≥ k).

    Returns ``(vId, deg)`` — each surviving vertex with its degree
    INSIDE the core.  Standard iterative peel: drop vertices of degree
    < k, recompute degrees on the induced subgraph, repeat to fixed
    point.  The k-core is unique, so the result is deterministic even
    though the peel order isn't.

    Distribution: each round is one hash aggregate (degrees) and two
    ``left_semi`` joins (induced edges); no driver-side vertex state.
    The surviving edge set is landed per round (Materializer — LIGHT
    localCheckpoint rounds with the ``land_round`` parquet cadence
    since r13), so lineage stays O(1) no matter how many peel rounds run,
    and the convergence count rides the landing as an Observation.
    Rounds are data-dependent but bounded by the graph's degeneracy
    peel depth (``max_rounds`` is a safety valve, not a tuning knob).
    """
    spark = edges.sparkSession
    mat = Materializer(spark)
    cur = mat(edges, "kcore")
    n_edges = cur.count()
    for _round in range(int(max_rounds)):
        if n_edges == 0:
            break
        keep = cur.groupBy("src").agg(F.count("*").alias("deg")).where(
            F.col("deg") >= k
        )
        # r13: the convergence count rides the landing as an
        # Observation (one job per round instead of land + count), and
        # in-loop rounds land LIGHT with the parquet cadence
        # (Materializer.land_round)
        ob = Observation()
        nxt = mat.land_round(
            cur.join(keep.select("src"), "src", "left_semi")
            .join(
                keep.select(F.col("src").alias("dst")), "dst", "left_semi"
            )
            .observe(ob, F.count(F.lit(1)).alias("n")),
            "kcore",
            _round + 1,
        )
        n_next = int(ob.get["n"] or 0)
        mat.drop(cur)
        cur = nxt
        if n_next == n_edges:
            break
        n_edges = n_next
    out = cur.groupBy("src").agg(F.count("*").cast("long").alias("deg")).select(
        F.col("src").alias("vId"), "deg"
    )
    return out


def bfs_distances(
    edges: DataFrame,
    source: int | None = None,
    max_depth: int = 20,
) -> DataFrame:
    """Unweighted shortest-path distances from ``source`` (default: the
    smallest vertex id) over a symmetrized doubled-edge graph.

    Returns ``(vId, dist)`` for every REACHABLE vertex within
    ``max_depth`` hops.  Classic frontier BFS: each round expands the
    current frontier through one src-keyed join, anti-joins the visited
    set, and parquet-lands the new frontier (Materializer — bounded
    lineage, and the landed count doubles as the emptiness test).
    Rounds = eccentricity of the source, so on small-world graphs this
    is a handful of joins regardless of |V|; per-round cost tracks the
    FRONTIER's edge neighborhood, not |E|.
    """
    spark = edges.sparkSession
    mat = Materializer(spark)
    if source is None:
        source = edges.agg(F.min("src")).first()[0]
        if source is None:
            return spark.createDataFrame([], "vId LONG, dist LONG")
    visited = mat(
        spark.createDataFrame([(int(source), 0)], "vId LONG, dist LONG"), "bfs"
    )
    frontier = visited
    for d in range(1, int(max_depth) + 1):
        # r13: emptiness test rides the frontier landing as an
        # Observation; in-loop rounds land LIGHT with the parquet
        # cadence (Materializer.land_round)
        ob = Observation()
        nxt = mat.land_round(
            edges.join(
                frontier.withColumnsRenamed({"vId": "src"}).select("src"),
                "src",
                "left_semi",
            )
            .select(F.col("dst").alias("vId"))
            .distinct()
            .join(visited, "vId", "left_anti")
            .select("vId", F.lit(d).cast("long").alias("dist"))
            .observe(ob, F.count(F.lit(1)).alias("n")),
            "bfs",
            d,
        )
        if int(ob.get["n"] or 0) == 0:
            mat.drop(nxt)
            break
        new_visited = mat.land_round(visited.unionByName(nxt), "bfs-vis", d)
        mat.drop(visited)
        mat.drop(nxt)
        visited = new_visited
        frontier = visited.where(F.col("dist") == d)
    return visited


def pagerank_weighted(
    edges_w: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over WEIGHTED doubled edges ``(src, dst, w)``:
    contributions are proportional to edge weight, pr(u)·w_uv / W_u
    with W_u the vertex's outgoing weight sum.  Same fixed-round /
    cached-edge-layout shape as ``pagerank`` (which is the w ≡ 1
    special case); same 9-decimal rounding contract for the oracle,
    and the same result-lifetime cache discipline (ADVICE r3).
    """
    wsum = edges_w.groupBy("src").agg(F.sum("w").cast("double").alias("wsum")).persist()
    dedges = (
        edges_w.join(wsum, "src")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    n = float(wsum.count())  # O(1) scalar; also materializes the cache
    if n == 0:
        # empty edge list guard — see pagerank above.
        return _release_with(
            wsum.select(
                F.col("src").alias("vId"), F.lit(0.0).alias("pr")
            ),
            wsum,
            dedges,
        )

    ranks = wsum.select(
        F.col("src").alias("vId"), (F.lit(1.0) / F.lit(n)).alias("pr")
    )
    d = float(damping)
    for _ in range(int(iterations)):
        contrib = (
            dedges.join(ranks, dedges["src"] == ranks["vId"])
            .select(
                F.col("dst"),
                (F.col("pr") * F.col("w").cast("double") / F.col("wsum")).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        ranks = contrib.select(
            F.col("dst").alias("vId"),
            (F.lit((1.0 - d) / n) + d * F.col("mass")).alias("pr"),
        )
    return _release_with(
        ranks.select("vId", F.round("pr", 9).alias("pr")), wsum, dedges
    )


def modularity(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Newman modularity Q of a labeling over a symmetrized doubled-edge
    graph: Q = Σ_c [ a_c/m − (d_c/2m)² ] with m undirected edges, a_c
    intra-community undirected edges, d_c the community's degree sum.

    One triplets pass (two label joins — labels broadcast when small)
    + two tiny aggregates; the result is a single scalar row
    ``(modularity)`` rounded to 9 decimals (sum-order float noise is
    ~1e-16).  The quality metric the WCC family's own objective is an
    alternative to — exposed so users can score ANY labeling.
    """
    lab = labels.select("vId", "cId")
    triplets = (
        edges.join(lab.withColumnsRenamed({"vId": "src", "cId": "c_src"}), "src")
        .join(lab.withColumnsRenamed({"vId": "dst", "cId": "c_dst"}), "dst")
    )
    per_c = triplets.groupBy("c_src").agg(
        (
            F.sum(F.when(F.col("c_src") == F.col("c_dst"), 1).otherwise(0)) / 2.0
        ).alias("a"),
        F.count("*").cast("double").alias("deg"),
    )
    m1 = F.broadcast(
        edges.agg((F.count("*") / 2.0).alias("m"))
    )
    q = per_c.crossJoin(m1).select(
        (
            F.col("a") / F.col("m")
            - F.pow(F.col("deg") / (2.0 * F.col("m")), 2.0)
        ).alias("qc")
    )
    return q.agg(F.round(F.sum("qc"), 9).alias("modularity"))


def link_scores(edges: DataFrame) -> DataFrame:
    """Link-prediction features for every EXISTING undirected edge:
    common-neighbor count (= the edge's triangle support), Jaccard
    coefficient, and preferential attachment.

    The standard neighborhood-overlap scores (Liben-Nowell & Kleinberg
    2003) the reference's triangle machinery almost computes — exposed
    per-edge so users can rank intra-graph links.  Input is the usual
    symmetrized doubled-edge DataFrame (both directions present, no
    self-loops).

    Scale shape: the wedge join (N(u) × N(v) via the shared endpoint)
    is closed against the edge list BEFORE the aggregate, so only
    wedges that complete a triangle survive into the shuffle — the
    same Σ deg² bound as the triangle enumeration the pipeline already
    pays, not an all-pairs blowup.  Jaccard/PA derive from integer
    counts, so results are bit-exact (oracle-hashable).
    """
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    pairs = edges.where(F.col("src") < F.col("dst"))
    wedges = edges.select(F.col("src").alias("u"), F.col("dst").alias("w")).join(
        edges.select(F.col("src").alias("v"), F.col("dst").alias("w")), "w"
    ).where(F.col("u") < F.col("v"))
    cn = (
        wedges.join(
            pairs.select(F.col("src").alias("u"), F.col("dst").alias("v")),
            ["u", "v"],
        )
        .groupBy("u", "v")
        .agg(F.count("*").cast("long").alias("cn"))
    )
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("dv"))
    return (
        pairs.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(cn, ["u", "v"], "left")
        .join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            F.coalesce(F.col("cn"), F.lit(0)).cast("long").alias("cn"),
            F.try_divide(
                F.coalesce(F.col("cn"), F.lit(0)).cast("double"),
                (F.col("du") + F.col("dv") - F.coalesce(F.col("cn"), F.lit(0))).cast("double"),
            ).alias("jaccard"),
            (F.col("du") * F.col("dv")).cast("long").alias("pa"),
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over all directed edges of the symmetrized graph.

    Everything up to the final coefficient is INTEGER arithmetic (one
    degree join + one global aggregate of bigint sums), so the result
    row is bit-exact and oracle-hashable — no float-sum order noise.
    One scalar row reaches the driver.
    """
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    annotated = (
        edges.join(deg.withColumnsRenamed({"src": "src", "deg": "dx"}), "src")
        .join(
            deg.withColumnsRenamed({"src": "dst", "deg": "dy"}), "dst"
        )
        .select(F.col("dx").cast("long"), F.col("dy").cast("long"))
    )
    sums = annotated.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    return sums.select(
        "n",
        "sx",
        "sxy",
        "sxx",
        F.try_divide(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double"),
            F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
            * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")),
        ).alias("assortativity"),
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with
    DETERMINISTIC tie-breaking: each round every vertex adopts the
    most frequent label among its neighbors, ties broken by the
    smallest label; labels start as vertex ids.

    The classic cheap community baseline next to the WCC pipeline.
    Determinism makes the whole iteration exactly replayable — the
    driver-gate oracle unrolls the same rounds as SQL CTEs and
    hash-matches the final labeling bit-for-bit (same trick as the
    PageRank / k-core oracles).

    Each round is one join + one aggregate + one per-vertex argmax
    (count DESC, label ASC), all on the ``src`` key; round state goes
    through the parquet ``Materializer`` (bounded lineage — the loop
    discipline every iterative operator here uses).  Synchronous
    updates avoid the nondeterministic oscillation of async LPA at the
    cost of possible 2-cycles — ``rounds`` is a fixed budget, matching
    how the reference caps its own election loop at 50 rounds
    (``DistributedWCC.scala:61``).
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    mat = Materializer(spark)
    labels = mat(
        edges.select(F.col("src").alias("vId")).distinct().select(
            "vId", F.col("vId").alias("label")
        ),
        "lpa-0",
    )
    for r in range(1, rounds + 1):
        counted = (
            edges.join(
                labels.withColumnsRenamed({"vId": "dst"}), "dst"
            )
            .groupBy("src", "label")
            .agg(F.count("*").alias("c"))
        )
        w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("label").asc())
        nxt = mat(
            counted.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("vId"), "label"),
            f"lpa-{r}",
            # NOT light: measured 2x slower with light landings here
            # (r13 A/B, plans/r13/ab_light_queries_sf01.txt: 7.49 vs 3.66 s —
            # the per-round edges-x-labels join plans off the landed
            # stats, and a LogicalRDD's estimates flip it to a shuffle
            # join that AQE does not fully claw back)
        )
        mat.drop(labels)  # checkpoint storage stays O(1), not O(rounds)
        labels = nxt
    return labels


def sssp_weighted(
    edges_w: DataFrame,
    source: int | None = None,
    rounds: int = 5,
) -> DataFrame:
    """Hop-bounded single-source cheapest paths (Bellman-Ford) over a
    weighted edge list ``(src, dst, w)``: after ``rounds`` relaxations
    the result is the exact min-cost over all paths of ≤ ``rounds``
    edges — which IS full SSSP whenever ``rounds`` ≥ the weighted-path
    hop diameter.

    Each round is one join (frontier × edges) + one min-aggregate —
    the distributed-relaxation step every BSP SSSP (Pregel/Gelly
    ``SingleSourceShortestPaths``) runs; state goes through the
    parquet ``Materializer``.  With integer weights the distances are
    integer arithmetic end-to-end, so the driver-gate oracle unrolls
    the same rounds as CTEs and hash-matches exactly.
    """
    spark = edges_w.sparkSession
    mat = Materializer(spark)
    if source is None:
        source = edges_w.agg(F.min("src")).first()[0]
        if source is None:
            return spark.createDataFrame([], "vId LONG, dist LONG")
    dist = mat(
        spark.createDataFrame([(int(source), 0)], "vId LONG, d LONG"), "sssp"
    )
    for _round in range(int(rounds)):
        relaxed = (
            edges_w.join(dist.withColumnsRenamed({"vId": "src"}), "src")
            .select(
                F.col("dst").alias("vId"),
                (F.col("d") + F.col("w")).cast("long").alias("d"),
            )
        )
        nxt = mat.land_round(
            dist.unionByName(relaxed).groupBy("vId").agg(F.min("d").alias("d")),
            "sssp",
            # r13: LIGHT in-loop rounds, parquet cadence (measured
            # FLAT here — 11.71 vs 11.81 s min-of-2, kept for the
            # avoided write/commit litter; the min-aggregate absorbs
            # the drifted estimates the inner-join loops choke on)
            _round + 1,
        )
        mat.drop(dist)
        dist = nxt
    return dist.select("vId", F.col("d").alias("dist"))


def random_walks(
    edges: DataFrame,
    walks_per_vertex: int = 2,
    length: int = 4,
) -> DataFrame:
    """Deterministic uniform random walks from every vertex — the
    positive-pair generator for graph-embedding training (DeepWalk /
    node2vec p=q=1).  "Random" choices are md5-derived from
    ``(start, walk_id, step, current)`` (the same replayable-PRNG
    construction as the MinHash family), so the whole walk corpus is
    bit-reproducible and oracle-hashable — which is exactly what you
    want for resumable training-data jobs.

    Plan shape: the position-indexed adjacency ``(vId, pos, neighbor)``
    is built once (one window over the edge shuffle); each of the
    ``length`` steps is one equi-join on ``(vId, pos)`` — no Python,
    no per-row sampling state, cost ∝ walks in flight.  Output:
    ``(start, walk_id, step, vId)`` including step 0.
    """
    from community_detection_flink_spark.operators.dedup import _hash60
    from pyspark.sql import Window

    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("dg"))
    adj = edges.select(
        F.col("src").alias("avId"),
        F.col("dst").alias("nb"),
    ).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("avId").orderBy("nb")).cast("long")
        - 1,
    )
    cur = deg.select(
        F.col("src").alias("start"),
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.lit(int(walks_per_vertex) - 1).cast("long"),
            )
        ).alias("walk_id"),
    ).select(
        "start",
        "walk_id",
        F.lit(0).cast("long").alias("step"),
        F.col("start").alias("vId"),
    )
    frames = [cur]
    for s in range(1, int(length) + 1):
        idx = (
            _hash60(
                F.concat_ws(
                    ":",
                    F.col("start"),
                    F.col("walk_id"),
                    F.lit(s),
                    F.col("vId"),
                )
            )
            % F.col("dg")
        )
        cur = (
            cur.join(deg.withColumnsRenamed({"src": "vId"}), "vId")
            .withColumn("idx", idx)
            .join(
                adj,
                (F.col("vId") == F.col("avId")) & (F.col("idx") == F.col("pos")),
            )
            .select(
                "start",
                "walk_id",
                F.lit(s).cast("long").alias("step"),
                F.col("nb").alias("vId"),
            )
        )
        frames.append(cur)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def landmark_distances(
    edges: DataFrame,
    n_landmarks: int = 4,
    max_depth: int = 20,
) -> DataFrame:
    """Exact BFS distances from ``n_landmarks`` landmark vertices (the
    smallest ids — deterministic) to every reachable vertex, computed
    in ONE multi-source frontier loop.

    The landmark/distance-oracle table behind scalable shortest-path
    estimation (Potamias et al. CIKM'09): d(u,v) is approximated by
    min over landmarks of d(u,ℓ)+d(ℓ,v), and the table doubles as a
    k-dimensional structural embedding per vertex.  State is
    ``(lm, vId, dist)``; each round expands all landmarks' frontiers
    through one src-keyed join + one anti-join — k landmarks cost ~1
    BFS, not k, because rounds share the same joins and shuffle.
    Landmark selection collects exactly ``n_landmarks`` ids (O(k),
    not O(V)).  Rounds land through the Materializer (bounded
    lineage); superseded states are dropped.
    """
    spark = edges.sparkSession
    mat = Materializer(spark)
    lms = [
        r[0]
        for r in edges.select("src")
        .distinct()
        .orderBy("src")
        .limit(int(n_landmarks))
        .collect()
    ]
    if not lms:
        return spark.createDataFrame([], "lm LONG, vId LONG, dist LONG")
    visited = mat(
        spark.createDataFrame(
            [(int(l), int(l), 0) for l in lms], "lm LONG, vId LONG, dist LONG"
        ),
        "lmbfs",
    )
    frontier = visited
    for d in range(1, int(max_depth) + 1):
        # r13: emptiness test rides the landing as an Observation (one
        # job per round instead of land + count).  NOT light: measured
        # ~2x slower with localCheckpoint landings here (r13
        # plans/r13/ab_light_queries_sf01_run2.txt: g_landmark_distances 6.71 vs
        # 3.53 s, g_centrality_approx 7.25 vs 3.49 s min-of-2) — the
        # per-round frontier x edges inner join plans off the landed
        # stats, which a LogicalRDD's estimates wreck.
        ob = Observation()
        nxt = mat(
            edges.join(
                frontier.select(F.col("lm"), F.col("vId").alias("src")), "src"
            )
            .select("lm", F.col("dst").alias("vId"))
            .distinct()
            .join(visited.select("lm", "vId"), ["lm", "vId"], "left_anti")
            .select("lm", "vId", F.lit(d).cast("long").alias("dist"))
            .observe(ob, F.count(F.lit(1)).alias("n")),
            "lmbfs",
        )
        if int(ob.get["n"] or 0) == 0:
            mat.drop(nxt)
            break
        new_visited = mat(visited.unionByName(nxt), "lmbfs-vis")
        mat.drop(visited)
        mat.drop(nxt)
        visited = new_visited
        frontier = visited.where(F.col("dist") == d)
    return visited


def approx_centrality(
    edges: DataFrame,
    n_landmarks: int = 8,
    max_depth: int = 20,
) -> DataFrame:
    """Landmark-approximated closeness AND betweenness centrality
    (VERDICT r4 #8) over a symmetrized edge set, built entirely on the
    ``landmark_distances`` table — the standard way both metrics scale
    past exact all-pairs BFS (Potamias et al. CIKM'09; Brandes-Pich
    pivot sampling).

    * ``closeness`` — 1 / mean landmark distance, computed as
      k_v / Σ_ℓ d(v,ℓ) over the landmarks that reach v (0.0 when no
      landmark at positive distance reaches v).  With landmarks as the
      pivot sample this is the Eppstein-Wang estimator of
      (n-1)/Σ_u d(v,u) up to the n/k sampling constant — intentionally
      left unscaled so the value is SF-independent and rankable.
    * ``betweenness`` — over all landmark PAIRS (ℓ1 < ℓ2) with a
      finite distance, the count of pairs whose shortest path can pass
      through v: d(ℓ1,v) + d(v,ℓ2) = d(ℓ1,ℓ2), endpoints excluded.
      The on-some-shortest-path indicator variant (not the fractional
      σ_st ratio — no path counting), which is what a landmark table
      can answer exactly.

    Landmarks are the ``n_landmarks`` smallest vertex ids —
    deterministic, so the result is exactly reproducible and
    oracle-checkable.  Distribution: the k·|V| landmark table is built
    in one shared multi-source BFS; closeness is one vId-keyed
    aggregate; betweenness re-joins the table to itself on vId (both
    sides hash-partitioned by vId — co-located) against a broadcast
    k²-row pair table.  Nothing driver-side beyond the k landmark ids.
    """
    ld = landmark_distances(edges, n_landmarks=n_landmarks, max_depth=max_depth)
    clos = ld.groupBy("vId").agg(
        F.count("*").alias("k"), F.sum("dist").alias("sumd")
    )
    closeness = clos.select(
        "vId",
        F.round(
            F.when(
                F.col("sumd") > 0,
                F.col("k").cast("double") / F.col("sumd").cast("double"),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("closeness"),
    )
    lms = ld.select("lm").distinct()
    # landmark-to-landmark distances: rows of the table whose vId is
    # itself a landmark (k² rows — broadcast)
    pairs = F.broadcast(
        ld.join(lms.withColumnsRenamed({"lm": "vId"}), "vId")
        .where(F.col("lm") < F.col("vId"))
        .select(
            F.col("lm").alias("l1"),
            F.col("vId").alias("l2"),
            F.col("dist").alias("dll"),
        )
    )
    a = ld.select(F.col("lm").alias("l1"), "vId", F.col("dist").alias("d1"))
    b = ld.select(F.col("lm").alias("l2"), "vId", F.col("dist").alias("d2"))
    bet = (
        a.join(b, "vId")
        .join(pairs, ["l1", "l2"])
        .where(
            (F.col("d1") + F.col("d2") == F.col("dll"))
            & (F.col("vId") != F.col("l1"))
            & (F.col("vId") != F.col("l2"))
        )
        .groupBy("vId")
        .agg(F.count("*").cast("long").alias("betweenness"))
    )
    return closeness.join(bet, "vId", "left").select(
        "vId",
        "closeness",
        F.coalesce(F.col("betweenness"), F.lit(0).cast("long")).alias(
            "betweenness"
        ),
    )


def k_truss(edges: DataFrame, k: int = 4, max_rounds: int = 50) -> DataFrame:
    """Edges of the ``k``-truss (Cohen 2008): the maximal subgraph in
    which every edge participates in at least ``k−2`` triangles — the
    edge-level cohesion peel that complements the vertex-level
    ``k_core`` (trusses are the standard "community core" extractor).

    Iterative peel: each round computes per-edge triangle support as a
    wedge join CLOSED against the surviving edge list before the
    aggregate (the ``link_scores`` Σ deg² bound), drops edges below
    support, and parquet-lands the survivors (Materializer; superseded
    rounds dropped, convergence read from landed row counts).  The
    k-truss is unique, so the result is deterministic regardless of
    peel order — which is what lets the driver-gate oracle over-unroll
    the same rounds as idempotent CTEs (the ``k_core`` oracle trick).

    Input: symmetrized doubled edges.  Output: ``(src, dst)`` with
    ``src < dst``, one row per truss edge.
    """
    spark = edges.sparkSession
    mat = Materializer(spark)
    cur = mat(edges.where(F.col("src") < F.col("dst")), "ktruss")
    n = cur.count()
    if k <= 2:
        # required support is k-2 <= 0, so every edge survives — the
        # 2-truss is the whole graph.  The peel loop below derives
        # support from an inner wedge aggregate, which silently drops
        # support-0 edges regardless of k (ADVICE r4).
        return cur
    for _round in range(int(max_rounds)):
        if n == 0:
            break
        sym = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        wedges = sym.select(F.col("src").alias("u"), F.col("dst").alias("w")).join(
            sym.select(F.col("src").alias("v"), F.col("dst").alias("w")), "w"
        ).where(F.col("u") < F.col("v"))
        support = (
            wedges.join(
                cur.select(F.col("src").alias("u"), F.col("dst").alias("v")),
                ["u", "v"],
            )
            .groupBy("u", "v")
            .agg(F.count("*").alias("c"))
            .where(F.col("c") >= k - 2)
            .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        )
        # r13: convergence count rides the landing as an Observation
        # (one job per round instead of land + count).  NOT light:
        # measured 15% slower with localCheckpoint landings (r13
        # plans/r13/ab_light_queries_sf01_run2.txt: 96.6 vs 83.6 s) — the
        # wedge join multiplies off the landed stats.
        ob = Observation()
        nxt = mat(
            support.observe(ob, F.count(F.lit(1)).alias("n")),
            "ktruss",
        )
        n_next = int(ob.get["n"] or 0)
        mat.drop(cur)
        cur = nxt
        if n_next == n:
            break
        n = n_next
    return cur
