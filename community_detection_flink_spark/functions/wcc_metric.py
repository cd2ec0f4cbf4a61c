"""WCC metric kernels (SURVEY.md §2.8), each formula written once.

Pure math from the DWCC paper (arXiv:1411.0557), mirrored from the
reference's ``WCCMetric.scala``.  Each formula (``cc``, ``density``, ``wcc_v``,
``theta1``-``theta3``, ``wcc_i``, ``wcc_r``) takes a ``Backend`` — how
to cast an operand to float64, divide (NULL/NaN on /0) and select — and
runs on either of two:

* ``COLUMNS``: JVM-side column expressions (``*_col``), so the
  distributed refinement loop stays inside whole-stage codegen (no
  Python evaluation in it);
* ``ARRAYS``: float64 numpy arrays (``np_*``), which the small-state
  tier (``operators/task_tier.py``) runs inside one Arrow-batched
  pandas task when a loop's whole state fits there.

Both run the same operations in the same order.

Faithfulness decisions (documented per SURVEY.md §7):

* ``theta2`` (``WCCMetric.scala:38-42``): the Scala block evaluates to
  the NEGATED ratio (standalone ``- numerator / denominator`` line).
  The paper's Θ2 is indeed negative (removing a non-adjacent vertex can
  only dilute), so the negation is intended — we keep it.
* ``theta3`` (``WCCMetric.scala:46``): the denominator contains
  ``dOut*dIn*w`` twice; we keep the algebraically identical
  ``2*dIn*dOut*w`` (paper coefficient 2, transcribed as two terms).
* Degenerate denominators: the Scala doubles yield NaN/Inf, which the
  downstream ``>`` comparisons treat as "not an improvement".  Spark 4
  runs ANSI mode by default, where a double division by zero THROWS —
  so the theta/wccI ratios use ``try_divide`` (NULL on /0), and NULL
  propagates through ``when``/``max``/``+`` exactly like the NaN path:
  the degenerate candidate is ignored and the vertex stays put.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


class Backend(NamedTuple):
    """What a kernel formula needs from the values it computes over."""

    num: Callable  # an operand as float64
    div: Callable  # num / den, NULL (NaN) where den == 0
    where: Callable  # where(cond, constant, otherwise)


def _np_div(num, den):
    """``try_divide`` on arrays: num / den, NaN where den == 0."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, np.nan, np.true_divide(num, den))


COLUMNS = Backend(
    lambda c: c.cast("double"),
    F.try_divide,
    lambda cond, yes, no: F.when(cond, F.lit(yes)).otherwise(no),
)
ARRAYS = Backend(lambda x: np.asarray(x, dtype=np.float64), _np_div, np.where)


# ----------------------------------------------------------------------
# The formulas, each written once.  ``k`` is the backend; the guards
# (t == 0, r == 1) read the operands as given, the arithmetic their
# ``k.num`` casts.
# ----------------------------------------------------------------------

def cc(k: Backend, t, vt):
    """Local clustering coefficient 2t/(vt(vt-1)), 0 if vt<2
    (``VertexData.scala:16-22``).  The guard makes the plain division
    safe, so it is not ``k.div``."""
    f = k.num
    return k.where(vt < 2, 0.0, 2.0 * f(t) / (f(vt) * (f(vt) - 1.0)))


def density(k: Backend, r, a):
    """Community density 2a/r² (``CommunityData.scala:13``) from its
    size ``r`` and internal edge count ``a``."""
    f = k.num
    return 2.0 * f(a) / f(r) ** 2.0


def wcc_v(k: Backend, t, vt, r, vtC, tC):
    """Per-vertex WCC against its community (``WCCMetric.scala:16-21``).

    wccV = (tC * vt) / (t * (r - 1 + vt - vtC)), 0 when t == 0.
    """
    f = k.num
    return k.where(t == 0, 0.0, k.div(f(tC) * f(vt), f(t) * (f(r) - 1.0 + f(vt) - f(vtC))))


def theta1(k: Backend, r, d, dIn, dOut, w, q):
    num = ((r - 1.0) * d + 1.0 + q) * (dIn - 1.0) * d
    den = (
        (r + q) * ((r - 1.0) * (r - 2.0)) * d ** 3.0
        + (dIn - 1.0) * d
        + q * (q - 1.0) * d * w
        + q * (q - 1.0) * w
        + dOut
        + w
    )
    return k.div(num, den)


def theta2(k: Backend, r, d, w, q):
    num = (r - 1.0) * (r - 2.0) * d ** 3.0 * ((r - 1.0) * d + q)
    den = (
        ((r - 1.0) * (r - 2.0) * d ** 3.0 + q * (q - 1.0) * w + q * (r - 1.0) * d * w)
        * (r + q)
        * (r - 1.0 + q)
    )
    return -k.div(num, den)


def theta3(k: Backend, r, d, dIn, dOut, w):
    num = (dIn * (dIn - 1.0) * d) * (dIn + dOut)
    den = (dIn * (dIn - 1.0) * d + dOut * (dOut - 1.0) * w + 2.0 * dOut * dIn * w) * (r + dOut)
    return k.div(num, den)


def wcc_i(k: Backend, r, a, b, dIn, dOut, w, v):
    """Closed-form WCC delta of inserting a vertex into a community.

    (``WCCMetric.scala:23-30``).  ``r/a/b`` are the community's size /
    internal / external edge counts; ``d`` (``density``) is derived
    here.
    """
    d = density(k, r, a)
    r, a, b, dIn, dOut, w, v = map(k.num, (r, a, b, dIn, dOut, w, v))
    q = (b - dIn) / r
    t1 = theta1(k, r, d, dIn, dOut, w, q)
    t2 = theta2(k, r, d, w, q)
    t3 = theta3(k, r, d, dIn, dOut, w)
    return (dIn * t1 + (r - dIn) * t2 + t3) / v


def wcc_r(k: Backend, r, a, b, dIn, dOut, w, v):
    """WCC delta of removing a vertex from its community
    (``DistributedWCC.scala:407-419``): -wccI against the community
    minus the vertex; 0 when the community is a singleton."""
    f = k.num
    removed = wcc_i(k, f(r) - 1.0, f(a) - f(dIn), f(b) + f(dIn) - f(dOut), dIn, dOut, w, v)
    return k.where(r == 1, 0.0, -removed)


# ----------------------------------------------------------------------
# The formulas on each backend: Column expressions for the Spark loops,
# float64 arrays for the small-state tier's task.  On arrays NULL is
# NaN: ``_np_div`` maps /0 to it, and NaN propagates through ``+``/``*``
# and fails every ``>``, as NULL does through the Column kernels.
# (Spark would order a computed NaN above every number, but on
# graph-sized finite inputs the only NaN these formulas make is the /0
# one, which is NULL on both sides.)
# ----------------------------------------------------------------------

def cc_col(t: Column, vt: Column) -> Column:
    return cc(COLUMNS, t, vt)


def density_col(r: Column, a: Column) -> Column:
    return density(COLUMNS, r, a)


def wcc_v_col(t: Column, vt: Column, r: Column, vtC: Column, tC: Column) -> Column:
    return wcc_v(COLUMNS, t, vt, r, vtC, tC)


def wcc_i_col(r: Column, a: Column, b: Column, dIn: Column, dOut: Column,
              global_cc: Column, vertex_count: Column) -> Column:
    return wcc_i(COLUMNS, r, a, b, dIn, dOut, global_cc, vertex_count)


def wcc_r_col(r: Column, a: Column, b: Column, dIn: Column, dOut: Column,
              global_cc: Column, vertex_count: Column) -> Column:
    return wcc_r(COLUMNS, r, a, b, dIn, dOut, global_cc, vertex_count)


def np_cc(t, vt):
    with np.errstate(divide="ignore", invalid="ignore"):
        return cc(ARRAYS, t, vt)


def np_density(r, a):
    return density(ARRAYS, r, a)


def np_wcc_v(t, vt, r, vtC, tC):
    return wcc_v(ARRAYS, t, vt, r, vtC, tC)


def np_wcc_i(r, a, b, dIn, dOut, w, v):
    with np.errstate(divide="ignore", invalid="ignore"):
        return wcc_i(ARRAYS, r, a, b, dIn, dOut, w, v)


def np_wcc_r(r, a, b, dIn, dOut, w, v):
    with np.errstate(divide="ignore", invalid="ignore"):
        return wcc_r(ARRAYS, r, a, b, dIn, dOut, w, v)
