"""Seeded input generators for the benchmark.

Every workload draws its graph STRUCTURE from a fixed structure seed and
then relabels every vertex id with a permutation drawn from the run's
``--seed`` (seed 0 is the identity).  So two seeds give isomorphic
inputs: the engine does the same work, but hash partitioning, row order
and the vId tie-breaks of center election and movement differ from seed
to seed.  Run-to-run spread then measures the system, not the input.

Everything here is plain Python (``random.Random``) and returns edge
pairs or row tuples; the workloads hand them to Spark.  Nothing here
imports the engine.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

STRUCTURE_SEED = 20_240_901


def permutation(n: int, seed: int) -> list[int]:
    """Seeded relabeling of ids ``0..n-1``; seed 0 is the identity."""
    perm = list(range(n))
    if seed:
        random.Random(seed).shuffle(perm)
    return perm


def relabel(pairs, perm):
    """Apply ``perm`` to both endpoints of every pair."""
    return [(perm[u], perm[v]) for u, v in pairs]


def co_purchase(n_parts: int, n_orders: int, max_items: int = 7,
                structure_seed: int = STRUCTURE_SEED) -> list[tuple[int, int]]:
    """Undirected co-purchase graph, each edge once as ``(u, v)``, u < v.

    The shape of the TPC-H co-purchase graph the engine's batch job runs
    on: every order buys 1..``max_items`` distinct parts (TPC-H draws 1-7
    lineitems per order) and every pair of parts in one order is linked.
    The graph is a union of small overlapping cliques, so it is dense in
    triangles and the refinement loop runs several accepted rounds.
    """
    rng = random.Random(structure_seed)
    edges = set()
    for _ in range(n_orders):
        items = rng.sample(range(n_parts), rng.randint(1, max_items))
        for a in items:
            for b in items:
                if a < b:
                    edges.add((a, b))
    return sorted(edges)


def planted_clusters(n_clusters: int, size: int, p_in: float, inter_per_vertex: float,
                     structure_seed: int = STRUCTURE_SEED) -> list[tuple[int, int]]:
    """Undirected planted-partition graph, each edge once, u < v.

    Cluster ``c`` owns ids ``c*size .. c*size+size-1``; intra-cluster pairs
    are linked with probability ``p_in`` and ``inter_per_vertex * n``
    random pairs link clusters (mostly triangle-free, so preprocessing
    prunes them).
    """
    rng = random.Random(structure_seed)
    edges = set()
    for c in range(n_clusters):
        base = c * size
        for i in range(size):
            for j in range(i + 1, size):
                if rng.random() < p_in:
                    edges.add((base + i, base + j))
    n = n_clusters * size
    for _ in range(int(inter_per_vertex * n)):
        u, v = rng.randrange(n), rng.randrange(n)
        if u != v:
            edges.add((min(u, v), max(u, v)))
    return sorted(edges)


@dataclass
class CdcFile:
    """One change-data-capture micro-batch: ``(src, dst, op)`` rows."""

    inserts: list[tuple[int, int]]
    deletes: list[tuple[int, int]]
    # vertices every one of whose edges this batch (and earlier ones)
    # removed: they must come out as singletons (cId == vId)
    isolated: list[int] = field(default_factory=list)

    def rows(self):
        return [(u, v, "I") for u, v in self.inserts] + [
            (u, v, "D") for u, v in self.deletes
        ]


def localized_inserts(n_clusters: int, size: int, n_batches: int,
                      anchors: int, new_per_batch: int,
                      structure_seed: int = STRUCTURE_SEED) -> list[list[tuple[int, int]]]:
    """Localized insert micro-batches over a planted-cluster graph.

    Batch ``k`` is a clique over ``anchors`` members of one cluster plus
    ``new_per_batch`` brand-new vertices (ids from ``n_clusters*size``
    up), so its neighborhood is one cluster however large the graph is.
    Clusters are drawn without repetition.
    """
    rng = random.Random(structure_seed + 1)
    clusters = rng.sample(range(n_clusters), n_batches)
    first_new = n_clusters * size
    batches = []
    for k, c in enumerate(clusters):
        members = rng.sample(range(c * size, (c + 1) * size), anchors)
        new = [first_new + k * new_per_batch + i for i in range(new_per_batch)]
        nodes = members + new
        batches.append(sorted(
            (min(u, v), max(u, v)) for i, u in enumerate(nodes) for v in nodes[i + 1:]
        ))
    return batches


def cdc_files(base_pairs, n_clusters: int, size: int, n_batches: int,
              anchors: int, new_per_batch: int, deleted_inserts: int,
              structure_seed: int = STRUCTURE_SEED) -> list[CdcFile]:
    """Mixed insert/delete CDC micro-batches over a planted-cluster graph.

    File ``k`` inserts the ``k``-th localized clique and deletes
    (a) ``deleted_inserts`` edges of the previous file's clique (of its
    own clique for file 0 — a batch applies its inserts before its
    deletes), and (b) every base edge of one vertex of another cluster,
    so that vertex's triangles die and it reverts to a singleton.
    """
    inserts = localized_inserts(n_clusters, size, n_batches,
                                anchors, new_per_batch, structure_seed)
    rng = random.Random(structure_seed + 2)
    inserted_clusters = {
        u // size for batch in inserts for u, _ in batch if u < n_clusters * size
    }
    spare = [c for c in range(n_clusters) if c not in inserted_clusters]
    victims_clusters = rng.sample(spare, n_batches)
    adj: dict[int, list[tuple[int, int]]] = {}
    for u, v in base_pairs:
        adj.setdefault(u, []).append((u, v))
        adj.setdefault(v, []).append((u, v))
    files = []
    gone: set[tuple[int, int]] = set()
    for k in range(n_batches):
        prev = [e for e in (inserts[k - 1] if k else inserts[k]) if e not in gone]
        dels = rng.sample(prev, deleted_inserts)
        c = victims_clusters[k]
        victim = rng.choice([
            v for v in range(c * size, (c + 1) * size) if adj.get(v)
        ])
        dels += adj[victim]
        gone.update(dels)
        files.append(CdcFile(inserts[k], sorted(set(dels)), [victim]))
    return files


def relabel_cdc(files: list[CdcFile], perm) -> list[CdcFile]:
    return [
        CdcFile(relabel(f.inserts, perm), relabel(f.deletes, perm),
                [perm[v] for v in f.isolated])
        for f in files
    ]
