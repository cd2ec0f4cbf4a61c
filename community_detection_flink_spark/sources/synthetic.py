"""Deterministic synthetic fixtures for quality measurement.

The driver-provided test embeddings are near-isotropic — the known
worst case for angle-based pruning (every pair sits near 90°, so ANY
angular partition keeps most of the corpus as candidates).  Real
embedding corpora are clustered, and pruning claims are only honest if
measured on BOTH regimes (VERDICT r2 #4).  This module generates the
clustered regime: a fixed mixture of Gaussians on the unit sphere,
fully determined by ``seed`` (numpy RandomState's stream is frozen by
its compatibility policy, so recall/candidate-fraction numbers are
reproducible everywhere).

Used by ``tests/test_similarity_recall.py`` (floors) and ``bench.py``
(per-round reported numbers) — NOT a query input: gate queries read
only the driver-provided parquet tables.

``adversarial_graph`` is the graph-side counterpart for certification:
small raw edge lists, seeded, built to hit the WCC pipeline's edge
cases (see ``ADVERSARIAL``).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def clustered_embeddings(
    spark: SparkSession,
    n: int = 2000,
    dim: int = 32,
    n_clusters: int = 20,
    sigma: float = 0.04,
    seed: int = 7,
) -> DataFrame:
    """``(vec_id long, embedding array<float>)`` drawn from a mixture
    of ``n_clusters`` Gaussians around unit-norm centers: in-cluster
    cosine ≈ 1/(1 + σ²·dim) ≈ 0.95 at the defaults, cross-cluster
    ≈ the centers' (near-orthogonal) cosine — the geometry where an
    ANN index is supposed to prune."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    assign = rng.randint(0, n_clusters, n)
    pts = centers[assign] + rng.normal(0.0, sigma, (n, dim))
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def clustered_graph(
    spark: SparkSession, n_comms: int = 200, size: int = 10
) -> DataFrame:
    """Symmetrized doubled edge set of a deterministic CLUSTERED graph:
    the graph-side twin of ``clustered_embeddings`` (VERDICT r3 #3).

    The driver's co-purchase graph is dense small-world (average
    degree ≈ 115 at sf0.01): any community's one-hop neighborhood
    covers most of the graph, so no batch is localized THERE by
    construction and scoped-vs-whole-graph incremental refinement is
    indistinguishable.  Real incremental graph workloads (social,
    citation, tenant-partitioned) are clustered; this generates that
    regime: ``n_comms`` circulant clusters — vertex ``i`` links to
    ``i±1, i±2`` within its cluster, so every consecutive triple is a
    triangle and EVERY intra edge survives preprocessing — plus one
    triangle-free bridge between consecutive clusters (pruned by the
    triangle cleanup, exactly like the golden graph's 3-4 bridge).

    Generated with Spark range/expressions — no driver-side edge
    lists, so the fixture scales to any ``n_comms`` a bench wants.
    """
    n = n_comms * size
    base = spark.range(n).select(F.col("id"))
    comm_start = F.col("id") - (F.col("id") % size)
    halves = [
        base.select(
            F.col("id").alias("src"),
            (comm_start + (F.col("id") + off) % size).alias("dst"),
        )
        for off in (1, 2)
    ]
    bridges = spark.range(n_comms - 1).select(
        (F.col("id") * size + size - 1).alias("src"),
        ((F.col("id") + 1) * size).alias("dst"),
    )
    half = (
        halves[0].unionByName(halves[1]).unionByName(bridges)
        .where(F.col("src") != F.col("dst"))
    )
    return (
        half.unionByName(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
    )


def skewed_sources(
    spark: SparkSession,
    n: int = 1_000_000,
    mega_frac: float = 0.5,
    n_small: int = 200,
) -> DataFrame:
    """``(doc_id long, source string)`` with ONE mega-source holding
    ``mega_frac`` of all rows and the rest spread over ``n_small``
    small sources — the adversarial regime for any per-source window
    (the mega-source serializes through one partition).  Generated
    JVM-side from a range (no driver-side row list at this n); fully
    deterministic in (n, mega_frac, n_small).  Used by the
    ``source_caps`` skew A/B (VERDICT r10 #6), not by gate queries."""
    cut = int(n * mega_frac)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < cut, F.lit("mega"))
        .otherwise(
            F.concat(F.lit("src_"), (F.col("id") % n_small).cast("string"))
        )
        .alias("source"),
    )


def _cliques(sizes, start=0):
    """Disjoint cliques of ``sizes`` on consecutive ids from ``start``;
    returns their edges and their member lists."""
    edges, members = [], []
    for size in sizes:
        ids = list(range(start, start + size))
        edges += [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
        members.append(ids)
        start += size
    return edges, members


def _planted(rng, n_blocks, size, p_in, p_out):
    n = n_blocks * size
    return [
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if rng.random() < (p_in if i // size == j // size else p_out)
    ]


def _bridged_cliques(rng):
    """Cliques of 3-6 chained by triangle-free bridges, plus one
    bridge pair that closes a triangle across two cliques."""
    edges, members = _cliques([rng.randint(3, 6) for _ in range(rng.randint(3, 6))])
    for a, b in zip(members, members[1:]):
        edges.append((a[-1], b[0]))
    a, b = members[0], members[1]
    edges += [(a[0], b[1]), (a[1], b[1])]
    return edges


def _stars(rng):
    """Triangle-free stars, and a windmill (triangles sharing a hub)."""
    edges, v = [], 0
    for _ in range(rng.randint(2, 4)):
        hub, v = v, v + 1
        for _ in range(rng.randint(3, 8)):
            edges.append((hub, v))
            v += 1
    hub, v = v, v + 1
    for _ in range(rng.randint(3, 6)):
        edges += [(hub, v), (hub, v + 1), (v, v + 1)]
        v += 2
    return edges


def _ties(rng):
    """Structures whose vertices share one (cc, vt): a ring of cliques
    with a hub between neighbors (each hub's two candidate communities
    score the same), and a circulant ring i ~ i±1, i±2."""
    m, size = rng.randint(3, 5), rng.randint(3, 5)
    edges, members = _cliques([size] * m)
    hub = m * size
    for c in range(m):
        for i in range(2):
            edges += [(members[c][i], hub + c), (members[(c + 1) % m][i], hub + c)]
    start, n = hub + m, rng.randint(7, 12)
    edges += [(start + i, start + (i + off) % n) for i in range(n) for off in (1, 2)]
    return edges


def _components(rng):
    """Many small components: triangles, 4-cliques, paths and a
    triangle with a tail."""
    edges, v = [], 0
    for _ in range(rng.randint(10, 20)):
        kind = rng.randrange(4)
        if kind == 0:
            edges += [(v, v + 1), (v + 1, v + 2), (v, v + 2)]
            v += 3
        elif kind == 1:
            edges += _cliques([4], v)[0]
            v += 4
        elif kind == 2:
            edges += [(v + i, v + i + 1) for i in range(3)]
            v += 4
        else:
            edges += [(v, v + 1), (v + 1, v + 2), (v, v + 2), (v + 2, v + 3)]
            v += 4
    return edges


def _isolated(rng):
    """A planted core with pendant vertices and triangle-free paths
    hanging off it (every one of them is pruned to a singleton), and
    vertices whose only edge is a self-loop (they vanish)."""
    edges = _planted(rng, 2, 8, 0.7, 0.05)
    v = 16
    for _ in range(rng.randint(4, 8)):
        edges.append((rng.randrange(16), v))
        edges.append((v, v + 1))
        v += 2
    edges += [(v + i, v + i) for i in range(3)]
    return edges


def _self_loops(rng):
    edges = _planted(rng, 3, 7, 0.6, 0.05)
    return edges + [(x, x) for x in range(21) if rng.random() < 0.5]


def _duplicates(rng):
    """Each edge repeated and reversed."""
    edges = _planted(rng, 3, 6, 0.7, 0.08)
    out = []
    for a, b in edges:
        out += [(a, b)] * rng.randint(1, 3) + [(b, a)] * rng.randint(0, 2)
    rng.shuffle(out)
    return out


def _triangle_free(rng):
    """Paths, a star and an even cycle: every vertex is pruned, so the
    clean graph is empty although the graph is not."""
    n = rng.randint(6, 12)
    edges = [(i, i + 1) for i in range(n)] + [(n + 1, n + 2 + i) for i in range(4)]
    start = n + 6
    return edges + [(start + i, start + (i + 1) % 6) for i in range(6)]


ADVERSARIAL = {
    "empty": lambda rng: [],
    "triangle_free": _triangle_free,
    "single_triangle": lambda rng: [(0, 1), (1, 2), (2, 0)],
    "bridged_cliques": _bridged_cliques,
    "stars": _stars,
    "ties": _ties,
    "components": _components,
    "isolated": _isolated,
    "self_loops": _self_loops,
    "duplicates": _duplicates,
    "planted": lambda rng: _planted(rng, 4, 10, 0.5, 0.03),
}


def adversarial_graph(kind: str, seed: int) -> list[tuple[int, int]]:
    """The raw edge pairs of one adversarial graph: ``ADVERSARIAL[kind]``
    built from ``random.Random(seed)``, its vertex ids then relabeled by
    a seeded injection into ``[0, 10·|V|)``, so the ties between equal
    (cc, vt) fall to different ids under different seeds.  Pairs may be
    directed, duplicated or self-loops, as raw input is; feed them
    through ``sources.edges.symmetrize_edges``.  Fully determined by
    ``(kind, seed)``."""
    rng = random.Random(f"{kind}-{seed}")
    edges = ADVERSARIAL[kind](rng)
    ids = sorted({x for e in edges for x in e})
    new = rng.sample(range(10 * max(len(ids), 1)), len(ids))
    relabel = dict(zip(ids, new))
    return [(relabel[a], relabel[b]) for a, b in edges]
