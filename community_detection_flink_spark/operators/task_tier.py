"""Small-state tier: a WCC loop whose state fits one task runs all its
rounds inside ONE executor task (ROADMAP item 3).

The MIS election (``partition.initial_partition``) and the movement
rounds (``refinement.movement_rounds``) run each round as a chain of
Spark jobs and a parquet landing.  On a small graph that chain costs
far more than the work: the rounds are bound by per-job latency, not by
compute.  When a loop's state is under ``TASK_ROWS`` rows, its inputs
are packed into one tagged table and go through ONE grouped
``applyInPandas`` over a constant key (the ``gapply`` pattern): one
task runs every round — the election's, or the movement protocol
(``operators/movement.py``) that the Spark loop also runs — with the
kernel formulas on float64 arrays (``functions/wcc_metric.py``), and
emits the loop's result for the caller's ``Materializer`` to land — one
job instead of a chain per round.  Computing locally when the state is
small instead of running global rounds is REPOSE's local-index idea
(ICDE 2021).

The tier is chosen in exactly two places, ``initial_partition`` and
``movement_rounds``, on a row count known without a job: the carried
|E_clean| (``refinement.Graph``, ``incremental.WCCState``) and the
triangle count that rides ``load_graph``'s ``tri`` landing.  Above the
threshold the Spark loops run unchanged.  Nothing O(V) reaches the
driver: the executors land the task's output, and only the per-round
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
    np_wcc_i,
    np_wcc_r,
    np_wcc_v,
)
from community_detection_flink_spark.operators.movement import protocol

# Loops whose state has fewer rows than this run in one task.  Measured
# on 4 cores (plans/r14/crossover.txt): ``run_wcc`` on the task loop
# beat the Spark loop at every size up to 3.96M rows (4-5x on small
# graphs, 1.8x there, the lead shrinking with size), with ~1.1 GB peak
# RSS in the one Python worker; the crossover lies above and this is
# the largest state measured.
TASK_ROWS = 4_000_000


def fits(rows: int) -> bool:
    """True iff a loop state of ``rows`` rows takes the task tier."""
    return rows < TASK_ROWS


# The packed input: one row per vertex, edge, candidate, outer label or
# triangle, tagged by ``k``; unused fields are 0 (never NULL, so the
# Arrow → pandas conversion keeps every id an exact int64).
_FIELDS = (("a", "long"), ("b", "long"), ("c", "long"), ("t", "int"),
           ("vt", "int"), ("cc", "double"))
_SENTINEL, _VERTEX, _EDGE, _CANDIDATE, _OUTER, _TRIANGLE = range(6)
_LABELING = "vId LONG, t INT, vt INT, cc DOUBLE, cId LONG"


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


def _one_task(parts: list[DataFrame], task, schema: str) -> DataFrame:
    """Union ``parts`` and run ``task`` over all of their rows in one
    pandas task (one group, one constant key)."""
    packed = parts[0]
    for p in parts[1:]:
        packed = packed.unionByName(p)
    return packed.groupBy(F.lit(0).alias("_g")).applyInPandas(task, schema)


def _index(ids: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Position of each of ``keys`` in ``ids`` (distinct), -1 if absent
    — the inner-join semantics of the Spark kernels' id joins."""
    if len(ids) == 0:
        return np.full(len(keys), -1, np.int64)
    order = np.argsort(ids, kind="stable")
    pos = np.minimum(np.searchsorted(ids, keys, sorter=order), len(ids) - 1)
    hit = order[pos]
    return np.where(ids[hit] == keys, hit, -1)


def _edges(ids: np.ndarray, src: np.ndarray, dst: np.ndarray):
    """Edge endpoints as positions in ``ids``; edges with an unknown
    endpoint drop out, as in the Spark kernels' label joins."""
    s, d = _index(ids, src), _index(ids, dst)
    keep = (s >= 0) & (d >= 0)
    return s[keep], d[keep]


# ----------------------------------------------------------------------
# The MIS election
# ----------------------------------------------------------------------

def _elect(vid, vt, cc, src, dst, max_iterations: int) -> np.ndarray:
    """``initial_partition``'s loop over arrays: the same frontier
    rounds (capped at ``max_iterations``) over the total order
    ``(cc, vt, vId)``, then each vertex adopts its highest-ordered
    higher center neighbor.  Returns the ``cId`` of every vertex."""
    n = len(vid)
    rank = np.empty(n, np.int64)
    rank[np.lexsort((vid, vt, cc))] = np.arange(n)
    s, d = _edges(vid, src, dst)
    up = rank[d] > rank[s]
    hs, hd = s[up], d[up]  # the "higher" edges: dst outranks src
    center = np.zeros(n, bool)
    undecided = np.ones(n, bool)
    fs, fd = hs, hd
    for _ in range(max_iterations):
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
    return cid


def elect(vertices: DataFrame, edges: DataFrame, max_iterations: int) -> DataFrame:
    """``initial_partition``'s result ``(vId, t, vt, cc, cId)``
    computed in one task; the caller lands it."""

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["k"].to_numpy()
        v, e = pdf[k == _VERTEX], pdf[k == _EDGE]
        vid, t, vt, cc = (v[c].to_numpy() for c in ("a", "t", "vt", "cc"))
        cid = _elect(vid, vt, cc, e["a"].to_numpy(), e["b"].to_numpy(), max_iterations)
        return pd.DataFrame({"vId": vid, "t": t, "vt": vt, "cc": cc, "cId": cid})

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
    """``movement_rounds``' state over arrays.  Positions ``[0, n)``
    are the labeling's vertices, the rest the fixed outer labels; the
    edges are (src, dst) position pairs, the triangles corner position
    triples inside the labeling."""

    def __init__(self, pdf: pd.DataFrame, global_cc: float, vertex_count: int,
                 scoped: bool):
        k = pdf["k"].to_numpy()
        v, o = pdf[k == _VERTEX], pdf[k == _OUTER]
        self.vid = v["a"].to_numpy()
        self.n = n = len(self.vid)
        self.ids = np.concatenate([self.vid, o["a"].to_numpy()])
        self.labels = np.concatenate([v["b"].to_numpy(), o["b"].to_numpy()])
        self.t, self.vt, self.cc = (v[c].to_numpy() for c in ("t", "vt", "cc"))
        e = pdf[k == _EDGE]
        self.s, self.d = _edges(self.ids, e["a"].to_numpy(), e["b"].to_numpy())
        tri = pdf[k == _TRIANGLE]
        corners = [_index(self.vid, tri[c].to_numpy()) for c in ("a", "b", "c")]
        inside = (corners[0] >= 0) & (corners[1] >= 0) & (corners[2] >= 0)
        self.tri = [c[inside] for c in corners]
        self.movable = np.zeros(len(self.ids), bool)
        if scoped:
            m = _index(self.vid, pdf[k == _CANDIDATE]["a"].to_numpy())
            self.movable[m[m >= 0]] = True
        else:
            self.movable[:n] = True
        # degTot: a vertex's labeled edges, whatever the labeling
        self.deg = np.bincount(self.s, minlength=len(self.ids))
        self.w, self.v = float(global_cc), float(vertex_count)

    def _stats(self, lab: np.ndarray):
        """``community_stats`` and the own-community degree (vtC /
        dIn_own) of ``lab``: communities are dense indices into
        ``comms`` (ascending cId), ``r`` counts the labeling's members
        only, so a community without one has no stats (r == 0)."""
        comms, ci = np.unique(lab, return_inverse=True)
        m = len(comms)
        cs, cd = ci[self.s], ci[self.d]
        intra = cs == cd
        r = np.bincount(ci[: self.n], minlength=m)
        a = np.bincount(cs[intra], minlength=m) / 2.0
        b = np.bincount(cs[~intra], minlength=m).astype(np.float64)
        own = np.bincount(self.s[intra], minlength=len(lab))
        return comms, ci, cd, intra, r, a, b, own

    def move(self, lab: np.ndarray) -> tuple[np.ndarray, int]:
        """``community.best_movement`` over ``lab``: the new labeling
        and its number of moved vertices."""
        comms, ci, cd, intra, r, a, b, own = self._stats(lab)
        m = max(len(comms), 1)
        movers = self.movable & (self.deg > 0)
        i = np.flatnonzero(movers)
        c_own = ci[i]
        wcc_r = np.full(len(lab), np.nan)
        wcc_r[i] = np_wcc_r(r[c_own], a[c_own], b[c_own], own[i],
                            self.deg[i] - own[i], self.w, self.v)
        # candidates: (mover, other neighbor community with stats, r > 1)
        x = ~intra & movers[self.s]
        key, d_in = np.unique(self.s[x] * m + cd[x], return_counts=True)
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

    def wcc(self, lab: np.ndarray) -> float:
        """``community.global_wcc`` of ``lab``."""
        _, ci, _, _, r, _, _, own = self._stats(lab)
        u, v, w = self.tri
        same = (lab[u] == lab[v]) & (lab[v] == lab[w])
        t_c = np.bincount(np.concatenate([u[same], v[same], w[same]]),
                          minlength=self.n)
        n = self.n
        wcc_v = np_wcc_v(self.t, self.vt, r[ci[:n]], own[:n], t_c)
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

    The plan's rows are the kept labeling plus one row whose ``info``
    (JSON) holds the moves of every round and the evaluated WCCs (the
    input's, then each moved round's); ``info`` is NULL on the others.
    """
    scoped = candidates is not None

    def task(pdf: pd.DataFrame) -> pd.DataFrame:
        st = _Rounds(pdf, global_cc, vertex_count, scoped)
        cur, moves, wccs = protocol(policy, st.labels, st.move, st.wcc, lambda lab: None)
        n = st.n
        out = pd.DataFrame({"vId": st.vid, "t": st.t, "vt": st.vt, "cc": st.cc,
                            "cId": cur[:n], "info": None})
        info = pd.DataFrame({"vId": [0], "t": [0], "vt": [0], "cc": [0.0], "cId": [0],
                             "info": [json.dumps({"moves": moves, "wccs": wccs})]})
        return pd.concat([out, info], ignore_index=True)

    parts = [
        # one row whatever the inputs hold, so the task (and its
        # counters) runs on an empty labeling too
        _part(_SENTINEL, labels.sparkSession.range(1)),
        _part(_VERTEX, labels, a="vId", b="cId", t="t", vt="vt", cc="cc"),
        _part(_EDGE, edges, a="src", b="dst"),
    ]
    if scoped:
        parts.append(_part(_CANDIDATE, candidates, a="vId"))
    if outer_labels is not None:
        parts.append(_part(_OUTER, outer_labels, a="vId", b="cId"))
    if policy.evaluates:
        parts.append(_part(_TRIANGLE, tri, a="u", b="v", c="w"))
    return _one_task(parts, task, _LABELING + ", info STRING")


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
    obs = Observation()
    landed = mat(
        rounds(labels, edges, global_cc, vertex_count, policy,
               candidates, outer_labels, tri)
        .observe(obs, F.max("info").alias("info"))
        .where(F.col("info").isNull())
        .drop("info"),
        "moved",
    )
    info = json.loads(obs.get["info"])
    return landed, info["moves"], info["wccs"]
