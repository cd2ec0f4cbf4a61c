"""WCC metric kernels (SURVEY.md §2.8): Spark Column expressions and
their numpy twins.

Pure math from the DWCC paper (arXiv:1411.0557), mirrored from the
reference's ``WCCMetric.scala`` — expressed twice:

* as JVM-side column expressions, so the distributed refinement loop
  stays inside whole-stage codegen (no Python evaluation in it);
* as numpy twins (``np_*``), the same operations in the same order
  over float64 arrays, which the small-state tier
  (``operators/task_tier.py``) runs inside one Arrow-batched pandas
  task when a loop's whole state fits there.

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

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

D = lambda x: F.lit(float(x)) if isinstance(x, (int, float)) else x  # noqa: E731


def cc_col(t: Column, vt: Column) -> Column:
    """Local clustering coefficient 2t/(vt(vt-1)), 0 if vt<2.

    (``VertexData.scala:16-22``)."""
    return F.when(vt < 2, F.lit(0.0)).otherwise(
        2.0 * t.cast("double") / (vt.cast("double") * (vt.cast("double") - 1.0))
    )


def wcc_v_col(t: Column, vt: Column, r: Column, vtC: Column, tC: Column) -> Column:
    """Per-vertex WCC against its community (``WCCMetric.scala:16-21``).

    wccV = (tC * vt) / (t * (r - 1 + vt - vtC)), 0 when t == 0.
    """
    num = tC.cast("double") * vt.cast("double")
    den = t.cast("double") * (r.cast("double") - 1.0 + vt.cast("double") - vtC.cast("double"))
    return F.when(t == 0, F.lit(0.0)).otherwise(F.try_divide(num, den))


def _theta1(r, d, dIn, dOut, w, q) -> Column:
    num = ((r - 1.0) * d + 1.0 + q) * (dIn - 1.0) * d
    den = (
        (r + q) * ((r - 1.0) * (r - 2.0)) * F.pow(d, 3.0)
        + (dIn - 1.0) * d
        + q * (q - 1.0) * d * w
        + q * (q - 1.0) * w
        + dOut
        + w
    )
    return F.try_divide(num, den)


def _theta2(r, d, w, q) -> Column:
    num = (r - 1.0) * (r - 2.0) * F.pow(d, 3.0) * ((r - 1.0) * d + q)
    den = (
        ((r - 1.0) * (r - 2.0) * F.pow(d, 3.0) + q * (q - 1.0) * w + q * (r - 1.0) * d * w)
        * (r + q)
        * (r - 1.0 + q)
    )
    return -F.try_divide(num, den)


def _theta3(r, d, dIn, dOut, w) -> Column:
    num = (dIn * (dIn - 1.0) * d) * (dIn + dOut)
    den = (dIn * (dIn - 1.0) * d + dOut * (dOut - 1.0) * w + 2.0 * dOut * dIn * w) * (r + dOut)
    return F.try_divide(num, den)


def wcc_i_col(r: Column, a: Column, b: Column, dIn: Column, dOut: Column,
              global_cc: Column, vertex_count: Column) -> Column:
    """Closed-form WCC delta of inserting a vertex into a community.

    (``WCCMetric.scala:23-30``).  ``r/a/b`` are the community's size /
    internal / external edge counts; ``d`` (density 2a/r²,
    ``CommunityData.scala:13``) is derived here.
    """
    r = r.cast("double")
    a = a.cast("double")
    b = b.cast("double")
    dIn = dIn.cast("double")
    dOut = dOut.cast("double")
    w = global_cc.cast("double")
    v = vertex_count.cast("double")
    d = 2.0 * a / F.pow(r, 2.0)
    q = (b - dIn) / r
    t1 = _theta1(r, d, dIn, dOut, w, q)
    t2 = _theta2(r, d, w, q)
    t3 = _theta3(r, d, dIn, dOut, w)
    return (dIn * t1 + (r - dIn) * t2 + t3) / v


def wcc_r_col(r: Column, a: Column, b: Column, dIn: Column, dOut: Column,
              global_cc: Column, vertex_count: Column) -> Column:
    """WCC delta of removing a vertex from its community
    (``DistributedWCC.scala:407-419``): -wccI against the community
    minus the vertex; 0 when the community is a singleton."""
    removed_r = r.cast("double") - 1.0
    removed_a = a.cast("double") - dIn.cast("double")
    removed_b = b.cast("double") + dIn.cast("double") - dOut.cast("double")
    return F.when(r == 1, F.lit(0.0)).otherwise(
        -wcc_i_col(removed_r, removed_a, removed_b, dIn, dOut, global_cc, vertex_count)
    )


# ----------------------------------------------------------------------
# numpy twins, for the small-state tier's task (operators/task_tier.py).
# Each is the column expression above, operation for operation in the
# same order, over float64 arrays.  NULL is NaN: ``_np_div`` maps /0 to
# it, and NaN propagates through ``+``/``*`` and fails every ``>``, as
# NULL does through the Spark kernels.  (Spark would order a computed
# NaN above every number, but on graph-sized finite inputs the only
# NaN these formulas make is the /0 one, which is NULL on both sides.)
# ----------------------------------------------------------------------

def _np_div(num, den):
    """``try_divide``: num / den, NaN where den == 0."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, np.nan, np.true_divide(num, den))


def np_wcc_v(t, vt, r, vtC, tC):
    t, vt, r, vtC, tC = (np.asarray(x, dtype=np.float64) for x in (t, vt, r, vtC, tC))
    return np.where(t == 0, 0.0, _np_div(tC * vt, t * (r - 1.0 + vt - vtC)))


def _np_theta1(r, d, dIn, dOut, w, q):
    num = ((r - 1.0) * d + 1.0 + q) * (dIn - 1.0) * d
    den = (
        (r + q) * ((r - 1.0) * (r - 2.0)) * np.power(d, 3.0)
        + (dIn - 1.0) * d
        + q * (q - 1.0) * d * w
        + q * (q - 1.0) * w
        + dOut
        + w
    )
    return _np_div(num, den)


def _np_theta2(r, d, w, q):
    num = (r - 1.0) * (r - 2.0) * np.power(d, 3.0) * ((r - 1.0) * d + q)
    den = (
        ((r - 1.0) * (r - 2.0) * np.power(d, 3.0) + q * (q - 1.0) * w + q * (r - 1.0) * d * w)
        * (r + q)
        * (r - 1.0 + q)
    )
    return -_np_div(num, den)


def _np_theta3(r, d, dIn, dOut, w):
    num = (dIn * (dIn - 1.0) * d) * (dIn + dOut)
    den = (dIn * (dIn - 1.0) * d + dOut * (dOut - 1.0) * w + 2.0 * dOut * dIn * w) * (r + dOut)
    return _np_div(num, den)


def np_wcc_i(r, a, b, dIn, dOut, w, v):
    r, a, b, dIn, dOut, w, v = (
        np.asarray(x, dtype=np.float64) for x in (r, a, b, dIn, dOut, w, v)
    )
    with np.errstate(divide="ignore", invalid="ignore"):
        d = 2.0 * a / np.power(r, 2.0)
        q = (b - dIn) / r
        t1 = _np_theta1(r, d, dIn, dOut, w, q)
        t2 = _np_theta2(r, d, w, q)
        t3 = _np_theta3(r, d, dIn, dOut, w)
        return (dIn * t1 + (r - dIn) * t2 + t3) / v


def np_wcc_r(r, a, b, dIn, dOut, w, v):
    r, a, b, dIn, dOut = (np.asarray(x, dtype=np.float64) for x in (r, a, b, dIn, dOut))
    removed = np_wcc_i(r - 1.0, a - dIn, b + dIn - dOut, dIn, dOut, w, v)
    return np.where(r == 1, 0.0, -removed)
