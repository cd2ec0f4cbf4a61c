"""Unit tests for the WCC math kernels (SURVEY.md §2.8, §5.1).

Pin the faithfulness decisions: theta2 returns the NEGATED ratio
(WCCMetric.scala:38-42 quirk — matches the paper's negative Θ2) and
theta3's doubled dIn*dOut*w term is kept as 2*dIn*dOut*w
(WCCMetric.scala:46).  The kernels under test are the single
formulas, on the arrays the small-state tier runs (``np_*``) and as
the Spark column expressions, which must agree — NULL on one side
exactly where NaN is on the other.
"""

from __future__ import annotations

import math

import pytest

from community_detection_flink_spark.functions import wcc_metric as m


def test_cc_formula(spark):
    """``cc`` both ways: the Column result equals the array twin bit
    for bit on every row."""
    from pyspark.sql import functions as F

    def cc(t, vt):
        df = spark.createDataFrame([(t, vt)], "t INT, vt INT")
        got = df.select(m.cc_col(F.col("t"), F.col("vt"))).first()[0]
        assert got == float(m.np_cc(t, vt))
        return got

    assert cc(0, 0) == 0.0
    assert cc(5, 1) == 0.0  # vt < 2 guard (VertexData.scala:16-22)
    assert cc(3, 3) == 1.0  # clique vertex
    assert cc(1, 3) == pytest.approx(1.0 / 3.0)
    assert 0.0 < cc(7, 9) < 1.0


def test_wcc_v():
    assert m.np_wcc_v(0, 5, 10, 3, 2) == 0.0  # t == 0 guard
    # tC*vt / (t*(r-1+vt-vtC)) = 2*4 / (3*(5-1+4-3)) = 8/15
    assert m.np_wcc_v(3, 4, 5, 3, 2) == pytest.approx(8.0 / 15.0)


def test_theta2_is_negative():
    # well-formed dense community: theta2 must come out negative
    v = m.theta2(m.ARRAYS, r=10, d=0.5, w=0.3, q=1.0)
    assert v < 0.0


def test_theta3_doubled_term():
    # denominator uses 2*dIn*dOut*w: check against a hand-expanded value
    r, d, dIn, dOut, w = 5, 0.5, 3, 2, 0.4
    num = (dIn * (dIn - 1) * d) * (dIn + dOut)
    den = (dIn * (dIn - 1) * d + dOut * (dOut - 1) * w + 2 * dOut * dIn * w) * (r + dOut)
    assert m.theta3(m.ARRAYS, r, d, dIn, dOut, w) == pytest.approx(num / den)


def test_wcc_i_finite_on_typical_inputs():
    v = m.np_wcc_i(r=6, a=10.0, b=4.0, dIn=3, dOut=1, w=0.4, v=100)
    assert math.isfinite(v)


def test_wcc_r_singleton_guard():
    assert m.np_wcc_r(1, 0.0, 3.0, 0, 3, 0.4, 100) == 0.0


def test_wcc_r_negates_insertion():
    # removing then re-inserting the same vertex must cancel
    r, a, b, dIn, dOut, w, v = 6, 10.0, 4.0, 3, 1, 0.4, 100
    removed = (r - 1, a - dIn, b + dIn - dOut)
    assert m.np_wcc_r(r, a, b, dIn, dOut, w, v) == pytest.approx(
        -m.np_wcc_i(*removed, dIn, dOut, w, v)
    )


def _same(got, want):
    """A Column result equals its array twin: NULL exactly where the
    array holds NaN, the same value (to rel 1e-12) elsewhere."""
    if math.isnan(want):
        return got is None
    return got is not None and got == pytest.approx(want, rel=1e-12)


def test_column_kernels_match_python(spark):
    """The Spark column expressions are numerically identical to their
    numpy twins (same IEEE ops), degenerate denominators included."""
    from pyspark.sql import functions as F

    rows = [
        (6, 10.0, 4, 3, 1),
        (5, 6.0, 2, 2, 2),
        (10, 30.0, 8, 4, 3),
        (1, 0.0, 3, 0, 3),
        # dIn=1, dOut=0 zeroes theta3's denominator: wccI is NULL/NaN,
        # and so is wccR (its removed community sees the same dIn/dOut)
        (4, 3.0, 2, 1, 0),
        (3, 2.0, 1, 1, 0),
    ]
    df = spark.createDataFrame(rows, "r INT, a DOUBLE, b INT, dIn INT, dOut INT")
    out = df.select(
        m.wcc_i_col(
            F.col("r"), F.col("a"), F.col("b"), F.col("dIn"), F.col("dOut"),
            F.lit(0.4), F.lit(100),
        ).alias("wccI"),
        m.wcc_r_col(
            F.col("r"), F.col("a"), F.col("b"), F.col("dIn"), F.col("dOut"),
            F.lit(0.4), F.lit(100),
        ).alias("wccR"),
    ).collect()
    nulls = 0
    for (r, a, b, dIn, dOut), got in zip(rows, out):
        exp_i = float(m.np_wcc_i(r, a, b, dIn, dOut, 0.4, 100))
        exp_r = float(m.np_wcc_r(r, a, b, dIn, dOut, 0.4, 100))
        assert _same(got["wccI"], exp_i), (r, a, b, dIn, dOut)
        assert _same(got["wccR"], exp_r), (r, a, b, dIn, dOut)
        nulls += (got["wccI"] is None) + (got["wccR"] is None)
    assert nulls == 4  # the two degenerate rows, both kernels


def test_wcc_v_column_matches_python(spark):
    """``wcc_v`` both ways: the t == 0 guard, a zero denominator
    (r - 1 + vt - vtC == 0: NULL / NaN) and ordinary rows."""
    from pyspark.sql import functions as F

    rows = [
        (0, 5, 10, 3, 2),
        (3, 4, 5, 3, 2),
        (2, 3, 1, 3, 1),  # den = 2 * (1 - 1 + 3 - 3) = 0
        (6, 4, 4, 2, 5),
    ]
    df = spark.createDataFrame(rows, "t INT, vt INT, r INT, vtC INT, tC INT")
    out = df.select(
        m.wcc_v_col(*(F.col(c) for c in ("t", "vt", "r", "vtC", "tC"))).alias("v")
    ).collect()
    got = [row["v"] for row in out]
    want = [float(m.np_wcc_v(*row)) for row in rows]
    assert all(_same(g, w) for g, w in zip(got, want)), (got, want)
    assert got[0] == 0.0 and got[2] is None and math.isnan(want[2])
