"""Independent single-node WCC oracle (VERDICT r8 #1).

A from-scratch, plain-Python implementation of the reference's full
community-detection pipeline — ``DistributedWCC.scala:34-419`` plus its
helpers (``CountTriangle.scala``, ``WCCMetric.scala``,
``VertexData.scala``, ``CommunityData.scala``) — sharing NO code with
``community_detection_flink_spark`` (no imports from the package, no
Spark).  Its purpose is differential certification of the engine's
iterative WCC family: ``tests/test_wcc_differential.py`` asserts exact
``(vId, cId)`` equality between this oracle and ``run_wcc`` on the
reference's own SNAP graph and on the sf0.01 co-purchase graph,
upgrading those rows-only registry entries from self-pinned invariants
to genuinely independent certification.

Semantics implemented (with the reference quirks the engine documents):

* Preprocessing (``DistributedWCC.scala:88-130``): per-vertex triangle
  count ``t`` on the full symmetrized graph; drop vertices with
  ``t == 0``; keep only edges whose endpoints share >= 1 neighbor
  (i.e. triangle edges); ``vt`` = CLEANED-graph degree;
  ``cc = 2t/(vt(vt-1))`` with the reference's mixed t-from-full-graph /
  vt-from-clean-graph convention (``VertexData.scala:16-22``).
* Initial partition (``DistributedWCC.scala:138-255``): the fixed point
  of the center-election Pregel loop == the greedy maximal independent
  set over the total vertex order ``(cc, vt, vId)``
  (``VertexMessage.scala:46-48``): a vertex is a center iff no strictly
  higher-ordered neighbor is a center; a non-center adopts its
  highest-ordered center neighbor iff that center outranks it, else
  stays its own community (``DistributedWCC.scala:187-198``).
* Refinement (``DistributedWCC.scala:258-419``): simultaneous
  best-movement passes, accept-iff-global-WCC-improves, retry budget 5
  with reset on relative improvement > 0.01; REMOVE iff
  ``wccR - wccT > 1e-5 and wccR > 0``; candidate fold starts at
  ``wccT = 0.0`` so an all-negative candidate set behaves like "no
  candidate" (the engine's wccT>=0 clamp); candidate communities
  restricted to neighbor communities with ``r > 1``.
* Tie-breaks (documented engine decisions the reference leaves to Scala
  Map iteration order): candidate argmax by (wccT, then SMALLEST cId);
  a 0-move pass terminates the loop (identical labels => identical
  stats => same decisions forever).
* Degenerate arithmetic: the engine maps /0 to NULL (``try_divide``)
  and NULL candidates are ignored; this oracle mirrors that with
  ``None`` propagation.

Float discipline: kernels are transcribed from ``WCCMetric.scala`` with
the same operation ORDER as the engine's column expressions (both
derive from the same Scala text), so per-vertex decisions are
bit-reproducible.  The two global sums (global CC, global WCC) are
accumulated in ascending-vId order, which may differ from Spark's
partition-order sums in the last ulp — decision margins (accept /
reject, threshold reset) are far wider in practice, and the
differential tests assert exact label equality, so any flip would fail
loudly rather than pass silently.
"""

from __future__ import annotations

from collections import Counter, defaultdict

THRESHOLD = 0.01  # DistributedWCC.scala:28
MAX_RETRIES = 5  # DistributedWCC.scala:30
REMOVE_EPS = 0.00001  # DistributedWCC.scala:399


# ----------------------------------------------------------------------
# WCCMetric.scala kernels (None == the engine's NULL-on-/0)
# ----------------------------------------------------------------------

def _try_div(num: float, den: float):
    return None if den == 0.0 else num / den


def _theta1(r, d, dIn, dOut, w, q):
    # WCCMetric.scala:32-36
    num = ((r - 1.0) * d + 1.0 + q) * (dIn - 1.0) * d
    den = (
        (r + q) * ((r - 1.0) * (r - 2.0)) * pow(d, 3.0)
        + (dIn - 1.0) * d
        + q * (q - 1.0) * d * w
        + q * (q - 1.0) * w
        + dOut
        + w
    )
    return _try_div(num, den)


def _theta2(r, d, w, q):
    # WCCMetric.scala:38-42 (the standalone negated ratio)
    num = (r - 1.0) * (r - 2.0) * pow(d, 3.0) * ((r - 1.0) * d + q)
    den = (
        ((r - 1.0) * (r - 2.0) * pow(d, 3.0) + q * (q - 1.0) * w + q * (r - 1.0) * d * w)
        * (r + q)
        * (r - 1.0 + q)
    )
    rat = _try_div(num, den)
    return None if rat is None else -rat


def _theta3(r, d, dIn, dOut, w):
    # WCCMetric.scala:44-48 (dOut*dIn*w twice == coefficient 2)
    num = (dIn * (dIn - 1.0) * d) * (dIn + dOut)
    den = (dIn * (dIn - 1.0) * d + dOut * (dOut - 1.0) * w + 2.0 * dOut * dIn * w) * (
        r + dOut
    )
    return _try_div(num, den)


def wcc_i(r, a, b, dIn, dOut, w, v):
    """WCCMetric.computeWccI (WCCMetric.scala:23-30)."""
    r, a, b = float(r), float(a), float(b)
    dIn, dOut, w, v = float(dIn), float(dOut), float(w), float(v)
    d = 2.0 * a / pow(r, 2.0)
    q = (b - dIn) / r
    t1 = _theta1(r, d, dIn, dOut, w, q)
    t2 = _theta2(r, d, w, q)
    t3 = _theta3(r, d, dIn, dOut, w)
    if t1 is None or t2 is None or t3 is None:
        return None
    return (dIn * t1 + (r - dIn) * t2 + t3) / v


def wcc_r(r, a, b, dIn, dOut, w, v):
    """computeWccR (DistributedWCC.scala:407-419): -wccI against the
    community minus the vertex; 0 for singleton communities."""
    if r == 1:
        return 0.0
    res = wcc_i(r - 1.0, float(a) - dIn, float(b) + dIn - dOut, dIn, dOut, w, v)
    return None if res is None else -res


def wcc_v(t, vt, r, vtC, tC):
    """computeWccV (WCCMetric.scala:16-21)."""
    if t == 0:
        return 0.0
    num = float(tC) * float(vt)
    den = float(t) * (float(r) - 1.0 + float(vt) - float(vtC))
    res = _try_div(num, den)
    return 0.0 if res is None else res


# ----------------------------------------------------------------------
# Graph plumbing
# ----------------------------------------------------------------------

def symmetrize(pairs):
    """CSVGraph.scala:32-40: drop self-loops, emit both directions,
    dedup.  Returns {v: set(neighbors)}."""
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return dict(adj)


def _triangles(adj):
    """Enumerate each triangle once via (degree, id) orientation
    (the DWCC-paper optimization CountTriangle.scala implements).
    Returns (tri_list[(u,v,w)], t_counts{v: t})."""
    deg = {v: len(s) for v, s in adj.items()}

    def okey(v):
        return (deg[v], v)

    oadj = {v: sorted((u for u in adj[v] if okey(u) > okey(v))) for v in adj}
    oset = {v: set(l) for v, l in oadj.items()}
    tri = []
    t = Counter()
    for u in adj:
        ou = oset[u]
        for v in oadj[u]:
            for w in oadj[v]:
                if w in ou:
                    tri.append((u, v, w))
                    t[u] += 1
                    t[v] += 1
                    t[w] += 1
    return tri, t


def preprocess(adj):
    """DistributedWCC.preprocess (DistributedWCC.scala:88-130).

    Returns (clean_adj, t, vt, cc, tri) where clean_adj keeps only
    triangle edges between t>0 vertices."""
    tri, t = _triangles(adj)
    tri_nbrs = defaultdict(set)
    for u, v, w in tri:
        tri_nbrs[u].add(v)
        tri_nbrs[u].add(w)
        tri_nbrs[v].add(u)
        tri_nbrs[v].add(w)
        tri_nbrs[w].add(u)
        tri_nbrs[w].add(v)
    clean_adj = {v: tri_nbrs[v] for v in tri_nbrs}
    vt = {v: len(s) for v, s in clean_adj.items()}
    cc = {}
    for v in clean_adj:
        n = vt[v]
        cc[v] = 0.0 if n < 2 else 2.0 * t[v] / (n * (n - 1))
    return clean_adj, dict(t), vt, cc, tri


def initial_partition(clean_adj, vt, cc):
    """Greedy MIS over descending (cc, vt, vId) + adoption
    (DistributedWCC.scala:138-255 fixed point)."""
    def key(v):
        return (cc[v], vt[v], v)

    is_center = {}
    for v in sorted(clean_adj, key=key, reverse=True):
        is_center[v] = not any(
            is_center[u] for u in clean_adj[v] if key(u) > key(v)
        )
    labels = {}
    for v in clean_adj:
        if is_center[v]:
            labels[v] = v
            continue
        centers = [u for u in clean_adj[v] if is_center[u]]
        best = max(centers, key=key, default=None)
        labels[v] = best if best is not None and key(best) > key(v) else v
    return labels


# ----------------------------------------------------------------------
# Refinement
# ----------------------------------------------------------------------

def community_stats(clean_adj, labels):
    """computeCommunityStats (DistributedWCC.scala:536-564):
    {cId: (r, a, b)} with a = internal undirected edges, b = external
    undirected edges incident to the community."""
    r = Counter(labels.values())
    a = Counter()
    b = Counter()
    for v, nbrs in clean_adj.items():
        cv = labels[v]
        for u in nbrs:
            if labels[u] == cv:
                a[cv] += 1  # counted from both endpoints -> /2 below
            else:
                b[cv] += 1  # each cross undirected edge seen once per side
    return {c: (r[c], a[c] / 2.0, b[c]) for c in r}


def global_wcc(clean_adj, labels, t, vt, tri, stats, vertex_count):
    """computeGlobalWCC (DistributedWCC.scala:421-507): sum of
    per-vertex wccV over the clean graph / |V|."""
    vtC = Counter()
    for v, nbrs in clean_adj.items():
        cv = labels[v]
        vtC[v] = sum(1 for u in nbrs if labels[u] == cv)
    tC = Counter()
    for u, v, w in tri:
        if labels[u] == labels[v] == labels[w]:
            tC[u] += 1
            tC[v] += 1
            tC[w] += 1
    total = 0.0
    for v in sorted(clean_adj):
        r = stats[labels[v]][0]
        total += wcc_v(t[v], vt[v], r, vtC[v], tC[v])
    return total / float(vertex_count)


def best_movement(clean_adj, labels, stats, global_cc, vertex_count):
    """One simultaneous pass (DistributedWCC.scala:331-419).  Returns
    (new_labels, moves)."""
    new_labels = {}
    moves = 0
    for v, nbrs in clean_adj.items():
        own = labels[v]
        vc = Counter(labels[u] for u in nbrs)
        deg_tot = sum(vc.values())
        d_own = vc.get(own, 0)
        r_own, a_own, b_own = stats[own]
        wccR = wcc_r(
            r_own, a_own, b_own, d_own, deg_tot - d_own, global_cc, vertex_count
        )
        best_t = None
        best_c = None
        if wccR is not None:
            for c, dIn in vc.items():
                if c == own:
                    continue
                rc, ac, bc = stats[c]
                if rc <= 1:
                    continue
                wi = wcc_i(rc, ac, bc, dIn, deg_tot - dIn, global_cc, vertex_count)
                if wi is None:
                    continue
                cand = wccR + wi
                if best_t is None or (cand, -c) > (best_t, -best_c):
                    best_t, best_c = cand, c
        wccT = max(best_t, 0.0) if best_t is not None else 0.0
        if wccR is not None and (wccR - wccT) > REMOVE_EPS and wccR > 0.0:
            new = v  # REMOVE -> own singleton
        elif wccT > 0.0:
            new = best_c  # TRANSFER
        else:
            new = own  # STAY
        new_labels[v] = new
        if new != own:
            moves += 1
    return new_labels, moves


def run_wcc_oracle(pairs, max_retries: int = MAX_RETRIES, threshold: float = THRESHOLD):
    """Full pipeline on raw (possibly directed/duplicated) edge pairs.

    Returns dict with communities {vId: cId} over ALL vertices (pruned
    vertices keep their own singleton, DistributedWCC.scala:63-78),
    global_wcc, global_cc, vertex_count, rounds, wcc_history.
    """
    adj = symmetrize(pairs)
    vertex_count = len(adj)
    if vertex_count == 0:
        return {
            "communities": {},
            "global_wcc": 0.0,
            "global_cc": 0.0,
            "vertex_count": 0,
            "rounds": 0,
            "wcc_history": [],
        }
    clean_adj, t, vt, cc, tri = preprocess(adj)
    global_cc = sum(cc[v] for v in sorted(clean_adj)) / float(vertex_count)

    best = initial_partition(clean_adj, vt, cc)
    best_stats = community_stats(clean_adj, best)
    best_wcc = global_wcc(clean_adj, best, t, vt, tri, best_stats, vertex_count)
    history = [best_wcc]

    retries = max_retries
    rounds = 0
    improved = True
    while improved and retries > 0:
        moved, moves = best_movement(clean_adj, best, best_stats, global_cc, vertex_count)
        if moves == 0:
            rounds += 1
            break
        new_stats = community_stats(clean_adj, moved)
        new_wcc = global_wcc(clean_adj, moved, t, vt, tri, new_stats, vertex_count)
        retries -= 1
        rounds += 1
        if new_wcc > best_wcc:
            # Scala's newWcc/bestWcc - 1 > threshold is Inf > 0.01 when
            # bestWcc == 0 (DistributedWCC.scala:309-312)
            if best_wcc <= 0 or (new_wcc / best_wcc - 1.0) > threshold:
                retries = max_retries
            best, best_stats, best_wcc = moved, new_stats, new_wcc
            history.append(best_wcc)
        else:
            improved = False

    communities = {v: best.get(v, v) for v in adj}
    return {
        "communities": communities,
        "global_wcc": best_wcc,
        "global_cc": global_cc,
        "vertex_count": vertex_count,
        "rounds": rounds,
        "wcc_history": history,
    }


def incremental_batch(old_pairs, new_pairs, old_labels, rounds):
    """One incremental batch (insert or delete) with the whole-graph
    refinement scope (``IncrementalWCC.scala:27-393`` plus the engine's
    affected-community election, ``operators/incremental.py``).

    ``old_pairs`` / ``new_pairs``: the edge set before / after the
    batch; ``old_labels``: the carried ``{vId: cId}`` before it.
    Vertices never disappear: the vertex set is the union of both
    graphs' vertices.

    * changed vertices = corners of the symmetric difference of the
      old and new triangle sets; ``affected`` = their old labels (a
      brand-new vertex's old label is its own id);
    * the election (``initial_partition``) runs on the subgraph induced
      by the clean vertices whose pre-election label is in
      ``affected``, with the full graph's ``vt``/``cc``; every other
      clean vertex keeps its label and every non-clean vertex gets its
      own id;
    * then up to ``rounds`` simultaneous ``best_movement`` passes, no
      accept test, stopping at a 0-move pass.

    Returns a dict with ``communities`` over all vertices, the final
    community ``stats`` ``{cId: (r, a, b)}``, ``global_wcc``,
    ``vertex_count`` and ``rounds``.
    """
    old_adj = symmetrize(old_pairs)
    adj = symmetrize(new_pairs)
    verts = set(old_adj) | set(adj)
    vertex_count = len(verts)
    if vertex_count == 0:
        return {
            "communities": {}, "stats": {}, "global_wcc": 0.0,
            "vertex_count": 0, "rounds": 0,
        }
    _, _, _, _, old_tri = preprocess(old_adj)
    clean_adj, t, vt, cc, tri = preprocess(adj)
    changed_tri = {tuple(sorted(x)) for x in old_tri} ^ {tuple(sorted(x)) for x in tri}
    changed = {v for x in changed_tri for v in x}
    pre = {v: old_labels.get(v, v) for v in clean_adj}
    affected = {old_labels.get(v, v) for v in changed}
    elect = {v for v in clean_adj if pre[v] in affected}
    sub_adj = {v: clean_adj[v] & elect for v in elect}
    labels = dict(pre)
    labels.update(initial_partition(sub_adj, vt, cc))

    global_cc = sum(cc[v] for v in sorted(clean_adj)) / float(vertex_count)
    n_rounds = 0
    while n_rounds < rounds:
        stats = community_stats(clean_adj, labels)
        moved, moves = best_movement(clean_adj, labels, stats, global_cc, vertex_count)
        n_rounds += 1
        if moves == 0:
            break
        labels = moved
    stats = community_stats(clean_adj, labels)
    wcc = global_wcc(clean_adj, labels, t, vt, tri, stats, vertex_count)
    return {
        "communities": {v: labels.get(v, v) for v in verts},
        "stats": stats,
        "global_wcc": wcc,
        "vertex_count": vertex_count,
        "rounds": n_rounds,
    }
