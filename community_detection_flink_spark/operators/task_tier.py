"""Small-state tier: WCC work whose state fits one task runs inside ONE
executor task (ROADMAP items 3, 7 and 8).

The triangle enumeration and preprocessing (``refinement.load_graph``),
the MIS election (``partition.initial_partition``) and the movement
rounds (``refinement.movement_rounds``) run as chains of Spark jobs and
parquet landings.  On a small graph those chains cost far more than the
work: they are bound by per-job latency, not by compute.  When the
state is under ``TASK_ROWS`` rows, its inputs are packed into one
tagged table and go through ONE grouped ``applyInPandas`` over a
constant key (the ``gapply`` pattern): one task builds the graph over
arrays (``_SmallGraph``) and runs the work with the kernel formulas on
float64 arrays (``functions/wcc_metric.py``) — the election's rounds,
the movement protocol (``operators/movement.py``) that the Spark loop
also runs, or the triangle kernel — and emits the result for the
caller's ``Materializer`` to land, split by tag when it is several
tables.  Computing locally when the state is small instead of running
global rounds is REPOSE's local-index idea (ICDE 2021).

Five tasks, each chosen on row counts that ride earlier landings:

* ``load_graph`` (``refinement.load_graph``): triangles, ``t``/``vt``/
  ``cc`` and the clean edges of a graph whose |E| (riding its ``edges``
  landing) plus |tri| fits.  |tri| is only known once the triangles
  are enumerated (a caller's given list lands first with its count
  riding): the kernel counts them as it goes and stops as soon as |E|
  + |tri| no longer fits, and the graph then loads on Spark.  So the
  task holds at most ``TASK_ROWS`` input and triangle rows, whatever
  the graph's density (a dense graph has up to O(|E|^1.5) triangles);
* ``run_wcc`` (``refinement.refine_partition``): the election AND every
  accept-if-improved round, when the clean graph's |E_clean| + |tri|
  fits — always so after the graph task, as |E_clean| <= |E|;
* ``incremental_batch`` (``incremental.incremental_steps``: a CDC
  micro-batch, or ``incremental_update``/``incremental_delete``, whose
  op is a literal): the batch packed once with its op column; the task
  picks the steps from the ops it finds (``cdc_steps``, the one step
  rule of both loops: the U-delete, the I∪U insert, the D-delete, a step
  with no rows left out) and runs each — the merge (new or dead edges
  and triangles, ``t``/``vt``/``cc``, a delete's singletons), the
  affected-community election, the scope rule, the fixed rounds, and
  the stats and WCC sums of every community, on the arrays the step
  before returned — with one landing, of one shape whatever the steps:
  the final vertices, stats and WCC sums, and the carried edges', clean
  edges' and triangles' rows gone from and new to their roots, the
  batch's net change folded in by the carry rule the Spark merges
  follow too (``incremental._extend``; the task reads them with the
  roots, so no read costs a join), when the carried |V| + |E_clean| +
  |tri| fits.  So a CDC micro-batch asks Spark nothing before its task.
  The task declines (lands nothing) on an op other than "I", "D" and
  "U", NULL too, and the driver's ops query then raises; like the graph
  task, it gives up when the batches, an insert's incident edges or its
  new triangles (closed in bounded wedge chunks) stop fitting, and the
  steps then run one by one;
* ``elect`` (``initial_partition``) and ``run_rounds``
  (``movement_rounds``) on their own, for the Spark tail of an
  incremental batch above that gate, on the carried |E_clean| and the
  scope's edge count.

Above the threshold the Spark paths run unchanged.  Nothing O(V)
reaches the driver: the executors land the task's output, and only its
counters ride that landing as an Observation.

Like every Arrow-batched operator of the package, the task's code runs
in Spark's Python workers, which must be able to import the package
(run from the checkout root, or with it on ``PYTHONPATH``).
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from community_detection_flink_spark.functions.wcc_metric import (
    np_cc,
    np_density,
    np_wcc_i,
    np_wcc_r,
    np_wcc_v,
)
from community_detection_flink_spark.operators.movement import protocol, replay

# State under this many rows runs in one task.  Measured on 4 cores
# (plans/r14/crossover.txt): ``run_wcc`` on the task tier beat the Spark
# loops at every size up to 3.96M rows (4-5x on small graphs; with the
# graph task fused in, 2.2x there at ~1.3 GB peak RSS in the one Python
# worker; 1.2x at 3.96M rows of disjoint 45-cliques, 88% of them
# triangles, at ~1.05 GB); the crossover lies above and this is the
# largest state measured.  An incremental batch's task (``--batch``; a
# 21-edge insert and a 10-edge delete on a prepared co-purchase state)
# beat the Spark merge at every size measured up to 4.06M rows: 8.1 s vs
# 14.5 s and 8.7 s vs 19.8 s there, at ~1.2 GB worker peak; so did a
# 10-file CDC stream, each batch reading the removed rows the ones before
# left, at 3.53M rows: 88 s vs 267 s (plans/r18/stream.txt).
TASK_ROWS = 4_000_000


def fits(rows: int) -> bool:
    """True iff a state of ``rows`` rows takes the task tier."""
    return rows < TASK_ROWS


# The packed input: one row per vertex, edge, candidate, outer label,
# triangle, incident carried edge or batch edge, tagged by ``k`` (an
# incremental task's batch rows carry their op's code in ``c``); unused
# fields are 0 (never NULL, so the Arrow → pandas conversion keeps every
# id an exact int64).  The graph task's output uses the same fields
# under a string tag.
_FIELDS = (("a", "long"), ("b", "long"), ("c", "long"), ("t", "int"),
           ("vt", "int"), ("cc", "double"))
_SENTINEL, _VERTEX, _EDGE, _CANDIDATE, _OUTER, _TRIANGLE, _INCIDENT, _BATCH = range(8)
_LABELING = "vId LONG, t INT, vt INT, cc DOUBLE, cId LONG"
_LABELING_COLUMNS = ["vId", "t", "vt", "cc", "cId"]
_PACKED = ", ".join(f"{name} {ty}" for name, ty in _FIELDS)
# rows per chunk of the triangle kernel's wedge arrays (bounds its memory)
_WEDGES = 1 << 22
# a batch row's op; its code is its position here plus one, and 0 for
# any other op (NULL too)
_OPS = ("I", "D", "U")


def cdc_steps(ops) -> list[tuple[str, str]]:
    """The steps of an incremental batch whose op column holds ``ops``
    (a set of "I", "D", "U"), in order, as ``(step, the ops whose rows
    it applies)``: the U rows' deletes, then the I and U rows' insert,
    then the D rows' deletes.  A step with no rows is left out.  The
    one rule of both loops: the task applies it to the op codes it
    reads, the Spark fallback to its ops query."""
    return [(step, of) for step, of in (("delete", "U"), ("insert", "IU"), ("delete", "D"))
            if not set(of).isdisjoint(ops)]


def _part(tag: int, df: DataFrame, **cols: str) -> DataFrame:
    """``df`` as packed rows of kind ``tag``: ``cols`` maps a packed
    field to the column of ``df`` that fills it."""
    return df.select(
        F.lit(tag).alias("k"),
        *(
            (F.col(cols[name]) if name in cols else F.lit(0)).cast(ty).alias(name)
            for name, ty in _FIELDS
        ),
    )


def _sentinel(df: DataFrame) -> DataFrame:
    """One packed row whatever the inputs hold, so the task (and its
    counters) runs on an empty input too."""
    return _part(_SENTINEL, df.sparkSession.range(1))


def _one_task(parts: list[DataFrame], task, schema: str) -> DataFrame:
    """Union ``parts`` and run ``task`` over all of their rows in one
    pandas task (one group, one constant key)."""
    packed = parts[0]
    for p in parts[1:]:
        packed = packed.unionByName(p)
    return packed.groupBy(F.lit(0).alias("_g")).applyInPandas(task, schema)


def _tagged(columns: list[str], parts: dict, info: dict) -> pd.DataFrame:
    """A task's output: the rows of each ``parts`` table under its tag
    (``k``), 0 in the fields it leaves out, then one row whose ``info``
    holds ``info`` as JSON (``info`` is NULL on every other row).  Each
    column is one numpy concatenation (a field takes the dtype its parts
    and the info row's 0 promote to), so no row is checked twice."""
    sizes = [len(next(iter(cols.values()))) for cols in parts.values()]
    frame = {"k": np.repeat(np.array([*parts, "info"], object), [*sizes, 1])}
    for c in columns:
        frame[c] = np.concatenate([
            *(cols.get(c, np.zeros(n, np.int64)) for cols, n in zip(parts.values(), sizes)),
            np.zeros(1, np.int64),
        ])
    frame["info"] = np.full(sum(sizes) + 1, None, object)
    frame["info"][-1] = json.dumps(info)
    return pd.DataFrame(frame)


def _land(mat, plan: DataFrame, name: str, split: dict | None = None):
    """Land a task's tagged ``plan`` (see ``_tagged``) through ``mat``
    as ``name``: split by tag when ``split`` is given (see
    ``Materializer.__call__``), else its one table without the tag.  Its
    info row rides the landing as an Observation.  Returns ``(landing,
    info)``."""
    obs = Observation()
    rows = (
        plan.observe(obs, F.max("info").alias("info"))
        .where(F.col("info").isNull())
        .drop("info")
    )
    if split is None:
        rows = rows.drop("k")
    return mat(rows, name, split=split), json.loads(obs.get["info"])


def _index(ids: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Position of each of ``keys`` in ``ids`` (distinct), -1 if absent
    — the inner-join semantics of the Spark kernels' id joins."""
    if len(ids) == 0:
        return np.full(len(keys), -1, np.int64)
    order = np.argsort(ids, kind="stable")
    pos = np.minimum(np.searchsorted(ids, keys, sorter=order), len(ids) - 1)
    hit = order[pos]
    return np.where(ids[hit] == keys, hit, -1)


_NONE = np.zeros(0, np.int64)


class _SmallGraph:
    """A task's labeled graph over arrays, built once and shared by the
    election, the movement rounds and the evaluation.

    Positions ``[0, n)`` are the labeling's vertices in ascending id
    (``vid``), with their ``t``/``vt``/``cc``; the positions after them
    are the fixed outer labels' vertices (``ids`` holds them all).
    ``labels`` holds every position's input label.  The edges are
    ``(s, d)`` position pairs; ``tri``: the triangles' corner
    positions, those inside the labeling; ``candidates``: the candidate
    positions."""

    def __init__(self, ids, n, labels, t, vt, cc, s, d, tri, candidates):
        self.ids, self.n, self.vid, self.labels = ids, n, ids[:n], labels
        self.t, self.vt, self.cc = t, vt, cc
        self.s, self.d, self.tri, self.candidates = s, d, tri, candidates

    @classmethod
    def of_ids(cls, vid, labels, t, vt, cc, src, dst, tri=(_NONE,) * 3,
               candidates=_NONE, outer=_NONE, outer_labels=_NONE) -> _SmallGraph:
        """The graph of id arrays (``vid`` and ``outer`` ascending); an
        edge with an unknown endpoint, a triangle with a corner outside
        ``vid`` and an unknown candidate drop out, as in the Spark
        kernels' label joins."""
        ids = np.concatenate([vid, outer])
        s, d = _index(ids, src), _index(ids, dst)
        keep = (s >= 0) & (d >= 0)
        corners = [_index(vid, c) for c in tri]
        inside = (corners[0] >= 0) & (corners[1] >= 0) & (corners[2] >= 0)
        m = _index(vid, candidates)
        return cls(ids, len(vid), np.concatenate([labels, outer_labels]), t, vt, cc,
                   s[keep], d[keep], [c[inside] for c in corners], m[m >= 0])

    @classmethod
    def unpack(cls, pdf: pd.DataFrame) -> _SmallGraph:
        """The graph a packed task input holds (see ``_part``)."""
        k = pdf["k"].to_numpy()
        v = pdf[k == _VERTEX].sort_values("a")
        o = pdf[k == _OUTER].sort_values("a")
        e, tri = pdf[k == _EDGE], pdf[k == _TRIANGLE]
        return cls.of_ids(
            v["a"].to_numpy(), v["b"].to_numpy(), *(v[c].to_numpy() for c in ("t", "vt", "cc")),
            e["a"].to_numpy(), e["b"].to_numpy(), [tri[c].to_numpy() for c in ("a", "b", "c")],
            pdf[k == _CANDIDATE]["a"].to_numpy(), o["a"].to_numpy(), o["b"].to_numpy(),
        )

    def restrict(self, inner: np.ndarray, labels: np.ndarray, outer: bool = False,
                 candidates: np.ndarray | None = None) -> _SmallGraph:
        """The subgraph of this graph's labeled vertices at the mask
        ``inner``, labeled by ``labels`` (one per labeled vertex), over
        the edges whose src is inside: with ``outer``, every dst outside
        is a fixed outer label, else those edges drop out.
        ``candidates``: a mask of the candidates.  Its triangles are
        left out (no caller evaluates a WCC on it)."""
        s, d = self.s[inner[self.s]], self.d[inner[self.s]]
        out = np.zeros(self.n, bool)
        if outer:
            out[d] = True
            out &= ~inner
        return _SmallGraph.of_ids(
            self.vid[inner], labels[inner], self.t[inner], self.vt[inner], self.cc[inner],
            self.ids[s], self.ids[d],
            candidates=_NONE if candidates is None else self.vid[candidates],
            outer=self.vid[out], outer_labels=labels[out],
        )


# ----------------------------------------------------------------------
# The graph: triangles and preprocessing
# ----------------------------------------------------------------------

def _triangles(ids: np.ndarray, src: np.ndarray, dst: np.ndarray, cap: int):
    """Every triangle of the edge rows ``(src, dst)`` once, as corner
    positions in ``ids`` (their distinct sources, ascending) ``(u, v,
    w)``: ``triangles.triangles``' rows over arrays — or None as soon as
    there are ``cap`` or more of them.  Each edge is oriented from its
    lower (degree, id) endpoint to its higher one
    (``triangles._oriented``: the degree counts the rows per source, and
    an edge whose dst is no source has none and drops out); a triangle
    is the oriented edge (u, v) plus a w that both orient to.  The
    wedges (u, v, w) of an oriented path u → v → w go through in chunks
    of about ``_WEDGES`` rows; a wedge closes iff u → w is an oriented
    edge."""
    n = len(ids)
    s, d = np.searchsorted(ids, src), _index(ids, dst)
    deg = np.bincount(s, minlength=n)
    s, d = s[d >= 0], d[d >= 0]
    rank = np.empty(n, np.int64)
    rank[np.lexsort((ids, deg))] = np.arange(n)
    up = rank[s] < rank[d]
    key = np.unique(s[up] * n + d[up])  # oriented edges, sorted (u, v)
    eu, ev = key // n, key % n
    ptr = np.concatenate([[0], np.cumsum(np.bincount(eu, minlength=n))])  # CSR
    wedges = ptr[ev + 1] - ptr[ev]  # per oriented edge (u, v): v's out-edges
    ends = np.cumsum(wedges)
    out = [], [], []
    found, lo = 0, 0
    while lo < len(key):
        hi = max(int(np.searchsorted(ends, ends[lo] - wedges[lo] + _WEDGES, "right")), lo + 1)
        c = wedges[lo:hi]
        first = np.repeat(ptr[ev[lo:hi]] - (np.cumsum(c) - c), c)
        edge = np.repeat(np.arange(lo, hi), c)
        w = ev[first + np.arange(len(edge))]
        u = eu[edge]
        q = u * n + w
        at = np.minimum(np.searchsorted(key, q), len(key) - 1)
        closed = key[at] == q
        found += int(np.count_nonzero(closed))
        if found >= cap:
            return None
        for acc, x in zip(out, (u, ev[edge], w)):
            acc.append(x[closed])
        lo = hi
    return [np.concatenate(x) if x else np.zeros(0, np.int64) for x in out]


def _undirected(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """The key ``min * n + max`` of each position pair (a, b)."""
    return np.minimum(a, b) * n + np.maximum(a, b)


def _clean_edges(n: int, s: np.ndarray, d: np.ndarray, u, v, w):
    """The doubled clean edges ``(cs, cd)``: every edge ``(s, d)`` (as
    positions below ``n``, -1 for an unknown endpoint) that is a side of
    a triangle ``(u, v, w)``, in both directions.  Each side is marked
    on the edges' distinct undirected keys, so the memory is O(|E|)
    beside the triangles (every side of a triangle is one of the
    edges)."""
    ok = d >= 0
    key = np.unique(_undirected(s[ok], d[ok], n))
    covered = np.zeros(len(key), bool)
    for a, b in ((u, v), (u, w), (v, w)):
        covered[np.searchsorted(key, _undirected(a, b, n))] = True
    a, b = key[covered] // n, key[covered] % n
    return np.concatenate([a, b]), np.concatenate([b, a])


def load_graph(edges: DataFrame, n_edges: int, mat,
               tri: DataFrame | None = None) -> dict | None:
    """``refinement.load_graph`` after the ``edges`` landing (|E| =
    ``n_edges``), in one task: the triangles of ``edges``
    (``_triangles``, unless the landed ``tri`` gives them), each
    vertex's ``t``, the doubled clean edges (the triangle edges), the
    clean vertices' ``vt`` (clean degree) and ``cc``.  The clean
    vertices, the clean edges and the enumerated triangles land through
    ``mat`` with one split landing (``graph``); |tri|, |E_clean|, Σcc
    (summed in ascending vId order) and |V| ride it.  Returns
    ``Graph``'s fields but ``edges`` and ``loop``, or None (nothing
    left landed) when the enumeration found |E| + |tri| not to fit."""

    given = tri is not None
    cap = TASK_ROWS - n_edges  # triangles the task may hold
    columns = [name for name, _ in _FIELDS]

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["k"].to_numpy()
        e = pdf[k == _EDGE]
        src, dst = e["a"].to_numpy(), e["b"].to_numpy()
        ids = np.unique(src)
        n = len(ids)
        if given:
            tr = pdf[k == _TRIANGLE]
            u, v, w = (_index(ids, tr[c].to_numpy()) for c in ("a", "b", "c"))
        else:
            found = _triangles(ids, src, dst, cap)
            if found is None:
                return _tagged(columns, {}, {"tri": None})
            u, v, w = found
        t = np.bincount(np.concatenate([u, v, w]), minlength=n)
        cs, cd = _clean_edges(n, np.searchsorted(ids, src), _index(ids, dst), u, v, w)
        vt = np.bincount(cs, minlength=n)
        clean = np.flatnonzero(t > 0)
        cc = np_cc(t[clean], vt[clean])
        parts = {
            "vertices": dict(a=ids[clean], t=t[clean], vt=vt[clean], cc=cc),
            "clean-edges": dict(a=ids[cs], b=ids[cd]),
        }
        if not given:
            parts["tri"] = dict(a=ids[u], b=ids[v], c=ids[w])
        info = dict(tri=len(u), clean_edges=len(cs), cc_sum=sum(cc.tolist()), vertices=n)
        return _tagged(columns, parts, info)

    parts = [_sentinel(edges), _part(_EDGE, edges, a="src", b="dst")]
    split = {
        "vertices": [F.col("a").alias("vId"), "t", "vt", "cc"],
        "clean-edges": [F.col("a").alias("src"), F.col("b").alias("dst")],
    }
    if given:
        parts.append(_part(_TRIANGLE, tri, a="u", b="v", c="w"))
    else:
        split["tri"] = [F.col("a").alias("u"), F.col("b").alias("v"), F.col("c").alias("w")]
    plan = _one_task(parts, task, f"k STRING, {_PACKED}, info STRING")
    landed, info = _land(mat, plan, "graph", split)
    if info["tri"] is None:
        for df in landed.values():
            mat.drop(df)
        return None
    return dict(
        tri=tri if given else landed["tri"],
        vertices=landed["vertices"],
        clean_edges=landed["clean-edges"],
        tri_count=info["tri"],
        clean_edge_count=info["clean_edges"],
        cc_sum=info["cc_sum"],
        vertex_count=info["vertices"],
    )


# ----------------------------------------------------------------------
# The MIS election
# ----------------------------------------------------------------------

def _elect(g: _SmallGraph, max_iterations: int) -> tuple[np.ndarray, int]:
    """``initial_partition``'s loop over ``g``'s labeling: the same
    frontier rounds (capped at ``max_iterations``) over the total order
    ``(cc, vt, vId)``, then each vertex adopts its highest-ordered
    higher center neighbor.  Returns the ``cId`` of every vertex and
    the rounds run."""
    n, vid = g.n, g.vid
    rank = np.empty(n, np.int64)
    rank[np.lexsort((vid, g.vt, g.cc))] = np.arange(n)
    inner = (g.s < n) & (g.d < n)
    s, d = g.s[inner], g.d[inner]
    up = rank[d] > rank[s]
    hs, hd = s[up], d[up]  # the "higher" edges: dst outranks src
    center = np.zeros(n, bool)
    undecided = np.ones(n, bool)
    fs, fd = hs, hd
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        blocked = np.zeros(n, bool)
        blocked[fs] = True
        new = undecided & ~blocked
        center |= new
        eliminated = np.zeros(n, bool)
        eliminated[fs[new[fd]]] = True
        undecided &= ~new & ~eliminated
        if not undecided.any():
            break
        live = undecided[fs] & undecided[fd]
        fs, fd = fs[live], fd[live]
    cid = vid.copy()
    adopt = center[hd]
    a_s, a_d = hs[adopt], hd[adopt]
    if len(a_s):
        o = np.lexsort((rank[a_d], a_s))  # per src, its best center last
        a_s, a_d = a_s[o], a_d[o]
        last = np.r_[a_s[1:] != a_s[:-1], True]
        cid[a_s[last]] = vid[a_d[last]]
    return cid, rounds


def elect(vertices: DataFrame, edges: DataFrame, max_iterations: int) -> DataFrame:
    """``initial_partition``'s result ``(vId, t, vt, cc, cId)``
    computed in one task; the caller lands it."""

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        g = _SmallGraph.unpack(pdf)
        return pd.DataFrame({"vId": g.vid, "t": g.t, "vt": g.vt, "cc": g.cc,
                             "cId": _elect(g, max_iterations)[0]})

    return _one_task(
        [
            _part(_VERTEX, vertices, a="vId", t="t", vt="vt", cc="cc"),
            _part(_EDGE, edges, a="src", b="dst"),
        ],
        task,
        _LABELING,
    )


# ----------------------------------------------------------------------
# The movement rounds
# ----------------------------------------------------------------------

class _Rounds:
    """``movement_rounds``' state over ``g`` (see ``_SmallGraph``):
    the movable positions, each position's labeled degree, and the two
    global scalars the kernels read."""

    def __init__(self, g: _SmallGraph, global_cc: float, vertex_count: int,
                 scoped: bool):
        self.g, self.n, self.ids = g, g.n, g.ids
        self.movable = np.zeros(len(g.ids), bool)
        if scoped:
            self.movable[g.candidates] = True
        else:
            self.movable[: g.n] = True
        # degTot: a vertex's labeled edges, whatever the labeling
        self.deg = np.bincount(g.s, minlength=len(g.ids))
        self.w, self.v = float(global_cc), float(vertex_count)

    def stats(self, lab: np.ndarray):
        """``community_stats`` and the own-community degree (vtC /
        dIn_own) of ``lab``: communities are dense indices into
        ``comms`` (ascending cId), ``r`` counts the labeling's members
        only, so a community without one has no stats (r == 0)."""
        s, d = self.g.s, self.g.d
        comms, ci = np.unique(lab, return_inverse=True)
        m = len(comms)
        cs, cd = ci[s], ci[d]
        intra = cs == cd
        r = np.bincount(ci[: self.n], minlength=m)
        a = np.bincount(cs[intra], minlength=m) / 2.0
        b = np.bincount(cs[~intra], minlength=m)
        own = np.bincount(s[intra], minlength=len(lab))
        return comms, ci, cd, intra, r, a, b, own

    def move(self, lab: np.ndarray) -> tuple[np.ndarray, int]:
        """``community.best_movement`` over ``lab``: the new labeling
        and its number of moved vertices."""
        comms, ci, cd, intra, r, a, b, own = self.stats(lab)
        s = self.g.s
        m = max(len(comms), 1)
        movers = self.movable & (self.deg > 0)
        i = np.flatnonzero(movers)
        c_own = ci[i]
        wcc_r = np.full(len(lab), np.nan)
        wcc_r[i] = np_wcc_r(r[c_own], a[c_own], b[c_own], own[i],
                            self.deg[i] - own[i], self.w, self.v)
        # candidates: (mover, other neighbor community with stats, r > 1)
        x = ~intra & movers[s]
        key, d_in = np.unique(s[x] * m + cd[x], return_counts=True)
        cv, cc = key // m, key % m
        ok = r[cc] > 1
        cv, cc, d_in = cv[ok], cc[ok], d_in[ok]
        wcc_t = wcc_r[cv] + np_wcc_i(r[cc], a[cc], b[cc], d_in,
                                     self.deg[cv] - d_in, self.w, self.v)
        # max wccT, ties to the smallest cId; a NULL (NaN) one is ignored
        good = ~np.isnan(wcc_t)
        cv, cc, wcc_t = cv[good], cc[good], wcc_t[good]
        o = np.lexsort((cc, -wcc_t, cv))
        first = o[np.r_[True, cv[o][1:] != cv[o][:-1]]] if len(o) else o
        best_t = np.zeros(len(lab))
        best_c = lab.copy()
        best_t[cv[first]] = wcc_t[first]
        best_c[cv[first]] = comms[cc[first]]
        best_t = np.maximum(best_t, 0.0)  # the candidate fold starts at 0
        new_c = np.where(
            ((wcc_r - best_t) > 0.00001) & (wcc_r > 0.0),
            self.ids,
            np.where(best_t > 0.0, best_c, lab),
        )
        out = lab.copy()
        out[movers] = new_c[movers]
        return out, int(np.count_nonzero(out[: self.n] != lab[: self.n]))

    def wcc_v(self, lab: np.ndarray):
        """``community._wcc_v`` of ``lab``: each labeled vertex's WCC
        kernel (NaN where Spark's is NULL), and ``stats(lab)``."""
        g, n = self.g, self.n
        stats = self.stats(lab)
        _, ci, _, _, r, _, _, own = stats
        u, v, w = g.tri
        same = (lab[u] == lab[v]) & (lab[v] == lab[w])
        t_c = np.bincount(np.concatenate([u[same], v[same], w[same]]), minlength=n)
        return np_wcc_v(g.t, g.vt, r[ci[:n]], own[:n], t_c), stats

    def wcc(self, lab: np.ndarray) -> float:
        """``community.global_wcc`` of ``lab``."""
        wcc_v, _ = self.wcc_v(lab)
        return math.fsum(wcc_v[~np.isnan(wcc_v)]) / self.v


def rounds(
    labels: DataFrame,
    edges: DataFrame,
    global_cc: float,
    vertex_count: int,
    policy,
    candidates: DataFrame | None = None,
    outer_labels: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> DataFrame:
    """Every round of ``movement_rounds`` in one task: the movement
    protocol (``movement.protocol``) over arrays, on a copy of
    ``policy``.  When it evaluates, ``tri`` is the static triangle list
    its WCC reads.

    The plan (``_tagged``) holds the kept labeling under tag ``moved``
    and an info row with the moves of every round and the evaluated
    WCCs (the input's, then each moved round's).
    """
    scoped = candidates is not None

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        g = _SmallGraph.unpack(pdf)
        st = _Rounds(g, global_cc, vertex_count, scoped)
        cur, moves, wccs = protocol(policy, g.labels, st.move, st.wcc, lambda lab: None)
        labels = dict(vId=g.vid, t=g.t, vt=g.vt, cc=g.cc, cId=cur[: g.n])
        return _tagged(_LABELING_COLUMNS, {"moved": labels}, {"moves": moves, "wccs": wccs})

    parts = [
        _sentinel(labels),
        _part(_VERTEX, labels, a="vId", b="cId", t="t", vt="vt", cc="cc"),
        _part(_EDGE, edges, a="src", b="dst"),
    ]
    if scoped:
        parts.append(_part(_CANDIDATE, candidates, a="vId"))
    if outer_labels is not None:
        parts.append(_part(_OUTER, outer_labels, a="vId", b="cId"))
    if policy.evaluates:
        parts.append(_part(_TRIANGLE, tri, a="u", b="v", c="w"))
    return _one_task(parts, task, f"k STRING, {_LABELING}, info STRING")


def run_rounds(
    labels: DataFrame,
    edges: DataFrame,
    global_cc: float,
    vertex_count: int,
    mat,
    policy,
    candidates: DataFrame | None = None,
    outer_labels: DataFrame | None = None,
    tri: DataFrame | None = None,
) -> tuple[DataFrame, list[int], list[float]]:
    """Land ``rounds``' kept labeling through ``mat`` as ``moved``; its
    counters ride the landing as an Observation.  Returns ``(landed
    labeling, moves, wccs)``."""
    landed, info = _land(
        mat,
        rounds(labels, edges, global_cc, vertex_count, policy,
               candidates, outer_labels, tri),
        "moved",
    )
    return landed, info["moves"], info["wccs"]


# ----------------------------------------------------------------------
# The whole batch WCC: election and accept-if-improved rounds
# ----------------------------------------------------------------------

def run_wcc(graph, global_cc: float, mat, policy,
            max_iterations: int) -> tuple[DataFrame, DataFrame, list[int]]:
    """``initial_partition`` then ``movement_rounds`` under ``policy``
    (``AcceptIfImproved``) over ``graph`` (a ``refinement.Graph``), in
    ONE task: the election and the protocol share one ``_SmallGraph``.
    The kept labeling ``(vId, t, vt, cc, cId)`` and its
    ``community_stats`` ``(cId, r, a, b, d)`` land through ``mat`` with
    one split landing (``wcc``); the moves and the WCCs ride it, and
    ``policy`` is brought up to date from the WCCs.  Returns
    ``(labeling, stats, moves, election rounds)``."""

    columns = _LABELING_COLUMNS + ["r", "a", "b", "d"]
    stats_columns = ["cId", "r", "a", "b", "d"]
    vertex_count = graph.vertex_count

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        g = _SmallGraph.unpack(pdf)
        st = _Rounds(g, global_cc, vertex_count, scoped=False)
        elected, elections = _elect(g, max_iterations)
        cur, moves, wccs = protocol(policy, elected, st.move, st.wcc, lambda lab: None)
        comms, _, _, _, r, a, b, _ = st.stats(cur)
        parts = {
            "labels": dict(vId=g.vid, t=g.t, vt=g.vt, cc=g.cc, cId=cur),
            "stats": dict(cId=comms, r=r, a=a, b=b, d=np_density(r, a)),
        }
        return _tagged(columns, parts, {"moves": moves, "wccs": wccs, "elections": elections})

    plan = _one_task(
        [
            _sentinel(graph.vertices),
            _part(_VERTEX, graph.vertices, a="vId", t="t", vt="vt", cc="cc"),
            _part(_EDGE, graph.clean_edges, a="src", b="dst"),
            _part(_TRIANGLE, graph.tri, a="u", b="v", c="w"),
        ],
        task,
        "k STRING, vId LONG, t INT, vt INT, cc DOUBLE, cId LONG, r INT, a DOUBLE, "
        "b LONG, d DOUBLE, info STRING",
    )
    landed, info = _land(mat, plan, "wcc", {"labels": _LABELING_COLUMNS,
                                            "stats": stats_columns})
    replay(policy, info["wccs"])
    return landed["labels"], landed["stats"], info["moves"], info["elections"]


# ----------------------------------------------------------------------
# The incremental batch: merge, election, scope and fixed rounds
# ----------------------------------------------------------------------

def _through(adj: np.ndarray, half: np.ndarray, n: int, cap: int):
    """``incremental._new_triangles`` over arrays: every triangle of the
    doubled edge keys ``adj`` (``src * n + dst``, sorted) with a side
    among ``half`` (``u * n + v``, u < v, sorted), once, as rows of
    ascending corner positions — or None as soon as there are ``cap``
    or more of them.  The common neighbours of a side's ends close its
    triangles: each side walks the list of its lower-degree end, in
    chunks of about ``_WEDGES`` wedges, like ``_triangles``; a triangle
    with several sides in ``half`` is kept at its lowest one."""
    ptr = np.concatenate([[0], np.cumsum(np.bincount(adj // n, minlength=n))])
    u, v = half // n, half % n
    swap = ptr[u + 1] - ptr[u] > ptr[v + 1] - ptr[v]
    a, b = np.where(swap, v, u), np.where(swap, u, v)
    wedges = ptr[a + 1] - ptr[a]
    ends = np.cumsum(wedges)

    def lower(keys, side):  # keys that are sides in half below ``side``
        at = np.searchsorted(half, keys)
        return (at < side) & (half[np.minimum(at, len(half) - 1)] == keys)

    out = []
    found, lo = 0, 0
    while lo < len(half):
        hi = max(int(np.searchsorted(ends, ends[lo] - wedges[lo] + _WEDGES, "right")), lo + 1)
        c = wedges[lo:hi]
        side = np.repeat(np.arange(lo, hi), c)
        w = adj[np.repeat(ptr[a[lo:hi]] - (np.cumsum(c) - c), c) + np.arange(len(side))] % n
        q = b[side] * n + w
        closed = adj[np.minimum(np.searchsorted(adj, q), len(adj) - 1)] == q
        side, w = side[closed], w[closed]
        first = ~(lower(_undirected(a[side], w, n), side) | lower(_undirected(b[side], w, n), side))
        side, w = side[first], w[first]
        found += len(side)
        if found >= cap:
            return None
        out.append(np.sort(np.stack([a[side], b[side], w], axis=1), axis=1))
        lo = hi
    return np.concatenate(out) if out else np.zeros((0, 3), np.int64)


def _keys(ids: np.ndarray, pairs) -> np.ndarray:
    """The key ``src * n + dst`` of each id pair in ``pairs`` whose
    endpoints are both in ``ids`` (``n = len(ids)``), by position."""
    s, d = _index(ids, pairs[0]), _index(ids, pairs[1])
    ok = (s >= 0) & (d >= 0)
    return s[ok] * len(ids) + d[ok]


def _symmetrized(pairs) -> list[np.ndarray]:
    """``sources.edges.symmetrize_edges`` over the arrays of a batch
    whose self-loops were dropped: both directions of every pair,
    once."""
    both = np.stack([np.concatenate(pairs), np.concatenate(pairs[::-1])], axis=1)
    return list(np.unique(both, axis=0).T) if len(both) else [_NONE, _NONE]


def _insert(vid, lab, t, clean, tri, batch, cap, incident, gone=(_NONE, _NONE)):
    """``incremental_update``'s merge over arrays.  ``batch``: the
    symmetrized batch; ``incident``: every edge of the task's input
    state whose src is a batch endpoint, less ``gone`` (the pairs the
    task's earlier steps deleted) — so it holds every carried batch edge
    and every side of a new triangle.  Returns the merged graph (see
    ``_delete``; the new clean edges and triangles follow the carried
    ones), or None when the batch, the incident edges and the new
    triangles number ``cap`` or more rows."""
    cap -= len(batch[0]) + len(incident[0])
    if cap <= 0:
        return None
    ids = np.union1d(vid, batch[0])
    n = len(ids)
    at = np.searchsorted
    labels = ids.copy()
    labels[at(ids, vid)] = lab
    t_new = np.zeros(n, np.int64)
    t_new[at(ids, vid)] = t
    old = np.setdiff1d(at(ids, incident[0]) * n + at(ids, incident[1]), _keys(ids, gone))
    new = np.setdiff1d(np.unique(at(ids, batch[0]) * n + at(ids, batch[1])), old)
    adj = np.union1d(old, new)
    found = _through(adj, new[new // n < new % n], n, cap)
    if found is None:
        return None
    u, v, w = found.T
    t_new += np.bincount(found.ravel(), minlength=n)
    carried = at(ids, clean[0]) * n + at(ids, clean[1])
    cs, cd = _clean_edges(n, adj // n, adj % n, u, v, w)
    add = np.setdiff1d(cs * n + cd, carried)
    keys = np.concatenate([carried, add])
    tri_all = [np.concatenate([at(ids, c), x]) for c, x in zip(tri, (u, v, w))]
    info = dict(rows=len(batch[0]) + len(incident[0]) + len(found),
                max_vertex=int(ids[new // n].max()) if len(new) else None,
                origin=[np.r_[np.arange(len(carried)), np.full(len(add), -1)],
                        np.r_[np.arange(len(tri[0])), np.full(len(found), -1)]])
    return ids, labels, labels, t_new, keys // n, keys % n, tri_all, np.unique(found), info


def _delete(vid, lab, t, clean, tri, batch, cap):
    """``incremental_delete``'s merge over arrays: the triangles with a
    deleted side die, the clean edges that only they held go, and a
    vertex left without a triangle reverts to a singleton.  Returns
    ``(ids, carried labels, merged labels, t, clean src, clean dst,
    triangles, changed, info)``: positions in ``ids`` (every vertex,
    ascending), the merged labels before the election, the changed
    vertices (corners of changed triangles) and ``info``: the rows the
    merge held, the new id ceiling and ``origin``, the input row of
    each clean edge and triangle (-1: a new one) — or None when the
    batch numbers ``cap`` or more rows."""
    if len(batch[0]) >= cap:
        return None
    ids, n = vid, len(vid)
    s, d = _index(ids, batch[0]), _index(ids, batch[1])
    ok = (s >= 0) & (d >= 0)
    gone = np.unique(_undirected(s[ok], d[ok], n))
    corners = [_index(ids, c) for c in tri]
    u, v, w = corners
    sides = [_undirected(u, v, n), _undirected(u, w, n), _undirected(v, w, n)]
    dead = np.isin(sides[0], gone) | np.isin(sides[1], gone) | np.isin(sides[2], gone)
    dead_corners = np.concatenate([c[dead] for c in corners])
    t_new = t - np.bincount(dead_corners, minlength=n)
    candidates = np.unique(np.concatenate([x[dead] for x in sides]))
    alive = np.unique(np.concatenate([x[~dead] for x in sides]))
    gone = np.union1d(np.setdiff1d(candidates, alive), gone)
    cs, cd = _index(ids, clean[0]), _index(ids, clean[1])
    keep = ~np.isin(_undirected(cs, cd, n), gone)
    return (ids, lab, np.where(t_new > 0, lab, ids), t_new, cs[keep], cd[keep],
            [c[~dead] for c in corners], np.unique(dead_corners),
            dict(rows=len(batch[0]), max_vertex=None,
                 origin=[np.flatnonzero(keep), np.flatnonzero(~dead)]))


def _batch_tail(ids, carried, labels, t, cs, cd, tri, changed, policy, rule,
                max_iterations):
    """``incremental._elect_and_refine`` over one shared graph of the
    clean vertices: the election inside the affected communities, the
    scope ``rule`` picks (``incremental._pick_scope``'s sets), the
    rounds under ``policy``, then the stats and WCC sums of every
    community of the final labels."""
    n = len(ids)
    vt = np.bincount(cs, minlength=n)
    cc = np_cc(t, vt)
    global_cc = sum(cc.tolist()) / max(n, 1)  # ascending vId order
    clean = np.flatnonzero(t > 0)
    at = np.full(n, -1)
    at[clean] = np.arange(len(clean))
    g = _SmallGraph(ids[clean], len(clean), labels[clean], t[clean], vt[clean], cc[clean],
                    at[cs], at[cd], [at[c] for c in tri], _NONE)
    # the election: the clean members of the communities the changed
    # vertices carried
    elect = np.isin(g.labels, carried[changed])
    part = g.labels.copy()
    part[elect] = _elect(g.restrict(elect, g.labels), max_iterations)[0]
    # S: the elected fragments' members; M = S ∪ nbr(S); V_R: the
    # members of M's communities
    s_set = np.isin(part, part[elect])
    m = s_set.copy()
    m[g.d[s_set[g.s]]] = True
    vr = np.isin(part, part[m])
    n_affected, n_vr = int(elect.sum()), int(vr.sum())
    scoped = rule.scoped(n_affected, len(clean), n_vr)
    r = g.restrict(vr, part, outer=True, candidates=m) if scoped else g
    rounds = _Rounds(r, global_cc, n, scoped)
    cur, moves, _ = protocol(policy, r.labels if scoped else part, rounds.move, rounds.wcc,
                             lambda lab: None)
    final = part.copy()
    final[vr if scoped else slice(None)] = cur[: r.n]
    wcc_v, (comms, ci, _, _, size, a, b, _) = _Rounds(g, global_cc, n, False).wcc_v(final)
    ok = ~np.isnan(wcc_v)
    cid = ids.copy()
    cid[clean] = final
    parts = {
        "vertices": dict(a=ids, b=cid, t=t, vt=vt, cc=cc),
        "stats": dict(a=comms, t=size, cc=a, b=b, d=np_density(size, a)),
        "wccv": dict(a=comms, b=size,
                     cc=np.bincount(ci, np.where(ok, wcc_v, 0.0), minlength=len(comms))),
    }
    report = dict(affected_vertices=n_affected, scope_vertices=n_vr if scoped else None,
                  rounds=len(moves), moves=moves)
    return parts, dict(vertices=n, wcc=math.fsum(wcc_v[ok]) / max(n, 1), report=report)


def _row_keys(ids: np.ndarray, tables: list, sort: bool) -> list[np.ndarray]:
    """One int64 key per row of each of ``tables`` (lists of id
    columns, every id in ``ids``, ascending), equal iff the rows are
    equal — as sets of ids when ``sort`` (a triangle's corners are
    carried in any order, and a clean edge in both), else as tuples.  A
    row's key folds each of its positions into the dense rank of the
    ones before it, so it stays exact (``u·n² + v·n + w`` would
    overflow above ~2.1M vertices).  Keys compare within one call
    only."""
    pos = np.searchsorted(ids, np.concatenate(tables, axis=1))
    if sort:
        pos = np.sort(pos, axis=0)
    key = pos[0]
    for col in pos[1:]:
        key = np.unique(key, return_inverse=True)[1] * len(ids) + col
    return np.split(key, np.cumsum([len(t[0]) for t in tables])[:-1])


def _net(ids: np.ndarray, before: list, after: list, origin: np.ndarray):
    """The net change from the table ``before`` to ``after``, whose rows
    come from the rows ``origin`` of ``before`` (-1: a new row), as two
    masks: the rows of ``before`` to remove — those no row comes from —
    and the rows of ``after`` to add — the new ones —, less those
    removed and added back (equal as sets of ids)."""
    gone = np.isin(np.arange(len(before[0])), origin, invert=True)
    added = origin < 0
    old, new = _row_keys(ids, [[c[gone] for c in before], [c[added] for c in after]], True)
    gone[gone] = ~np.isin(old, new)
    added[added] = ~np.isin(new, old)
    return gone, added


def _carried_rows(ids: np.ndarray, root: list, gone: list, new: list) -> list:
    """A carried table, ``(root anti-join gone) ∪ new`` (see
    ``incremental.WCCState.carried``), over arrays: the rows of
    ``root`` that are no row of ``gone``, then the rows of ``new``."""
    if len(gone[0]):
        keep = ~np.isin(*_row_keys(ids, [root, gone], False))
        root = [c[keep] for c in root]
    return [np.concatenate(x) for x in zip(root, new)]


def incremental_batch(state, carried, batch: DataFrame, rows: int, policy, rule,
                      max_iterations: int) -> tuple[dict, dict] | None:
    """The incremental batch ``batch`` (``src, dst, op``) on ``state``
    (an ``incremental.WCCState`` of ``rows`` vertex, clean-edge and
    triangle rows, whose edges, clean edges and triangles are
    ``carried``: each ``(root, gone, new)``, see ``WCCState.carried``)
    in ONE task.  The batch is packed once, each row with its op's code;
    the task picks its steps from the ops it finds (``cdc_steps``: the U
    rows' delete, the I and U rows' insert, the D rows' delete, each
    step only when it has rows) and runs them in order, each the merge
    of its rows (symmetrized in the task, so no batch costs a shuffle),
    then the tail, over the arrays the step before it returned.  The
    task reads the carried vertices, the roots, gone and new rows of the
    clean edges and triangles, the gone and new edges, the batch and the
    root edges from the endpoints of its I and U rows (a semi-join that
    folds away when the op is a literal "D"); it forms the carried
    tables itself (``_carried_rows``), so reading them costs no join.
    It lands with one split landing (``inc-batch``): the final vertices,
    the stats and WCC sums of every community, and the carried tables'
    gone and new rows after the batch, whatever its steps — ``edges``,
    ``clean-edges``, ``tri`` (new) and each tag with ``-gone``.  The
    batch's net change folds into them by the one rule of both loops
    (``incremental._extend``; ``incremental._fold`` for a Spark merge).
    Each step reports the row it came from of each
    of its clean edges and triangles (``origin``); composed over the
    steps, they give once, at the end, the input rows to remove (a
    triangle as its input row, corners in their carried order) and the
    final rows to add (``_net``).  The added edges are the insert's
    pairs new to ``state.edges``, the removed ones the pairs whose last
    step deletes them (a pair never carried too: it removes nothing).

    The final counts and every step's report (``steps``) ride it.
    Returns ``(landings, info)``; ``({}, info)`` with no ``steps`` (and
    nothing left landed) for a batch of no rows.  Returns None (nothing
    left landed either), and the caller's driver path runs, when the
    batch holds an op other than "I", "D" and "U" (NULL too: the task
    declines, it does not validate), or when the rows the task holds
    beside the state — the gone and new rows, the batches, the insert's
    incident edges and new triangles, counted against one ``TASK_ROWS -
    rows`` — would take it past ``TASK_ROWS``; an insert closes its
    wedges in bounded chunks (``_through``), so it gives up before it
    holds more."""

    cap = TASK_ROWS - rows
    columns = [name for name, _ in _FIELDS] + ["d"]

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        k, of = pdf["k"].to_numpy(), pdf["t"].to_numpy()

        def rows_of(tag, *cols, level=0):  # level: 0 root, 1 gone, 2 new
            return [pdf[(k == tag) & (of == level)][c].to_numpy() for c in cols]

        src, dst, code = rows_of(_BATCH, "a", "b", "c")
        if not code.all():
            return _tagged(columns, {}, {"steps": None})
        steps = cdc_steps({_OPS[c - 1] for c in np.unique(code)})
        if not steps:
            return _tagged(columns, {}, {"steps": []})
        ops = [op for op, _ in steps]
        pair = src != dst  # as symmetrize_edges
        batches = [_symmetrized([x[pair & np.isin(code, [_OPS.index(o) + 1 for o in of])]
                                 for x in (src, dst)]) for _, of in steps]
        v = pdf[k == _VERTEX].sort_values("a")
        vid, lab, t = (v[c].to_numpy() for c in ("a", "b", "t"))
        levels = [[rows_of(tag, *cols, level=i) for i in range(3)]
                  for tag, cols in ((_INCIDENT, "ab"), (_EDGE, "ab"), (_TRIANGLE, "abc"))]
        carried = clean, tri = [_carried_rows(vid, *x) for x in levels[1:]]
        origin = [np.arange(len(x[0])) for x in carried]  # each row's input row; -1: new
        incident = [_NONE, _NONE]
        if "insert" in ops:
            (root, gone, new), ends = levels[0], batches[ops.index("insert")][0]
            incident = _carried_rows(vid, root, gone, [c[np.isin(new[0], ends)] for c in new])
        left = cap - sum(len(x[0]) for level in levels for x in level[1:])
        reports, max_vertex = [], None
        deleted = [_NONE, _NONE]  # the pairs the steps so far deleted
        for op, batch in zip(ops, batches):
            if op == "delete":
                merged = _delete(vid, lab, t, clean, tri, batch, left)
                deleted = [np.concatenate(x) for x in zip(deleted, batch)]
            else:
                merged = _insert(vid, lab, t, clean, tri, batch, left, incident, deleted)
            if merged is None:
                return _tagged(columns, {}, {"steps": None})
            *graph, info = merged
            tail, tail_info = _batch_tail(*graph, policy, rule, max_iterations)
            origin = [np.append(o, -1)[step] for o, step in zip(origin, info["origin"])]
            left -= info["rows"]
            if info["max_vertex"] is not None:
                max_vertex = info["max_vertex"]
            reports.append(dict(op=op, **tail_info.pop("report")))
            # the next step's input: the ids this step's arrays index
            ids, _, _, t, cs, cd, tri_at = graph[:7]
            vid, lab = ids, tail["vertices"]["b"]
            clean, tri = (ids[cs], ids[cd]), [ids[c] for c in tri_at]
        n = len(vid)
        fresh, last = _NONE, _NONE  # pairs new to the input's edges; pairs deleted last
        for op, batch in zip(ops, batches):
            keys = _keys(vid, batch)
            last = np.union1d(last, keys) if op == "delete" else np.setdiff1d(last, keys)
            if op == "insert":
                fresh = np.setdiff1d(keys, _keys(vid, incident))
        _, gone, new = levels[0]
        parts = dict(tail)
        for tag, keys in (("edges", np.setdiff1d(np.union1d(_keys(vid, new), fresh), last)),
                          ("edges-gone", np.union1d(_keys(vid, gone), last))):
            parts[tag] = dict(a=vid[keys // n], b=vid[keys % n])
        for tag, (_, gone, new), before, after, o in zip(
                ("clean-edges", "tri"), levels[1:], carried, (clean, tri), origin):
            out, add = _net(vid, before, after, o)
            m = len(before[0]) - len(new[0])  # the root rows: new ones follow them
            parts[f"{tag}-gone"] = dict(zip("abc", (
                np.concatenate([g, c[out]]) for g, c in zip(gone, before))))
            parts[tag] = dict(zip("abc", (
                np.concatenate([c[m:][~out[m:]], x[add]]) for c, x in zip(before, after))))
        info = dict(tail_info, clean_edges=len(clean[0]), tri=len(tri[0]),
                    max_vertex=max_vertex, steps=reports)
        return _tagged(columns, parts, info)

    def levels(tag, tables, **cols):  # a carried table's parts, ``t`` its level
        return [_part(tag, df.withColumn("_level", F.lit(i)), t="_level", **cols)
                for i, df in enumerate(tables) if df is not None]

    (edges, gone, new), clean, tri = carried
    pair = dict(a="src", b="dst")
    code = F.coalesce(F.array_position(F.array(*map(F.lit, _OPS)), F.col("op")), F.lit(0))
    inserted = batch.where(F.col("op").isin(*dict(cdc_steps(_OPS))["insert"])
                           & (F.col("src") != F.col("dst")))
    ends = inserted.select("src").unionByName(inserted.select(F.col("dst").alias("src")))
    parts = [
        _sentinel(state.vertices),
        _part(_VERTEX, state.vertices, a="vId", b="cId", t="t"),
        *levels(_EDGE, clean, **pair),
        *levels(_TRIANGLE, tri, a="u", b="v", c="w"),
        *levels(_INCIDENT, (None, gone, new), **pair),
        _part(_INCIDENT, edges.join(F.broadcast(ends), "src", "left_semi"), **pair),
        _part(_BATCH, batch.withColumn("_op", code), c="_op", **pair),
    ]
    edge_cols = [F.col("a").alias("src"), F.col("b").alias("dst")]
    tri_cols = [F.col("a").alias("u"), F.col("b").alias("v"), F.col("c").alias("w")]
    split = {
        "vertices": [F.col("a").alias("vId"), "t", "vt", "cc", F.col("b").alias("cId")],
        "stats": [F.col("a").alias("cId"), F.col("t").alias("r"), F.col("cc").alias("a"),
                  "b", "d"],
        "wccv": [F.col("a").alias("cId"), F.col("cc").alias("s"), F.col("b").alias("n")],
    }
    for tag, cols in (("edges", edge_cols), ("clean-edges", edge_cols), ("tri", tri_cols)):
        split[tag] = split[f"{tag}-gone"] = cols
    plan = _one_task(parts, task, f"k STRING, {_PACKED}, d DOUBLE, info STRING")
    landed, info = _land(state.mat, plan, "inc-batch", split)
    if not info["steps"]:  # declined (None) or no rows ([])
        for df in landed.values():
            state.mat.drop(df)
        return None if info["steps"] is None else ({}, info)
    return landed, info
