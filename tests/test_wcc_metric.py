"""Unit tests for the WCC math kernels (SURVEY.md §2.8, §5.1).

Pin the faithfulness decisions: theta2 returns the NEGATED ratio
(WCCMetric.scala:38-42 quirk — matches the paper's negative Θ2) and
theta3's doubled dIn*dOut*w term is kept as 2*dIn*dOut*w
(WCCMetric.scala:46).  The kernels under test are the numpy twins the
small-state tier runs (``np_*``) and the Spark column expressions,
which must agree.
"""

from __future__ import annotations

import math

import pytest

from community_detection_flink_spark.functions import wcc_metric as m


def test_cc_formula(spark):
    from pyspark.sql import functions as F

    def cc(t, vt):
        df = spark.createDataFrame([(t, vt)], "t INT, vt INT")
        return df.select(m.cc_col(F.col("t"), F.col("vt"))).first()[0]

    assert cc(0, 0) == 0.0
    assert cc(5, 1) == 0.0  # vt < 2 guard (VertexData.scala:16-22)
    assert cc(3, 3) == 1.0  # clique vertex
    assert cc(1, 3) == pytest.approx(1.0 / 3.0)


def test_wcc_v():
    assert m.np_wcc_v(0, 5, 10, 3, 2) == 0.0  # t == 0 guard
    # tC*vt / (t*(r-1+vt-vtC)) = 2*4 / (3*(5-1+4-3)) = 8/15
    assert m.np_wcc_v(3, 4, 5, 3, 2) == pytest.approx(8.0 / 15.0)


def test_theta2_is_negative():
    # well-formed dense community: theta2 must come out negative
    v = m._np_theta2(r=10, d=0.5, w=0.3, q=1.0)
    assert v < 0.0


def test_theta3_doubled_term():
    # denominator uses 2*dIn*dOut*w: check against a hand-expanded value
    r, d, dIn, dOut, w = 5, 0.5, 3, 2, 0.4
    num = (dIn * (dIn - 1) * d) * (dIn + dOut)
    den = (dIn * (dIn - 1) * d + dOut * (dOut - 1) * w + 2 * dOut * dIn * w) * (r + dOut)
    assert m._np_theta3(r, d, dIn, dOut, w) == pytest.approx(num / den)


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


def test_column_kernels_match_python(spark):
    """The Spark column expressions are numerically identical to their
    numpy twins (same IEEE ops)."""
    from pyspark.sql import functions as F

    rows = [
        (6, 10.0, 4, 3, 1),
        (5, 6.0, 2, 2, 2),
        (10, 30.0, 8, 4, 3),
        (1, 0.0, 3, 0, 3),
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
    for (r, a, b, dIn, dOut), got in zip(rows, out):
        exp_i = m.np_wcc_i(r, a, b, dIn, dOut, 0.4, 100)
        exp_r = m.np_wcc_r(r, a, b, dIn, dOut, 0.4, 100)
        if math.isfinite(exp_i):
            assert got["wccI"] == pytest.approx(exp_i, rel=1e-12)
        if math.isfinite(exp_r):
            assert got["wccR"] == pytest.approx(exp_r, rel=1e-12)
