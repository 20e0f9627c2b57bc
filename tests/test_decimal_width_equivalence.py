"""r14 optimization: narrow decimal SUM-input widths (relational.py
RATE_DEC/QTY_DEC/VAL_DEC) must be BIT-IDENTICAL to the r13
(18,4)-everywhere forms — the narrowing is a representation change
only (the values are exact at scale 4 in both widths; only the sum
ACCUMULATOR narrows, from the (28,4) BigDecimal path to a ≤18-digit
long-backed buffer, measured 2.16× on an isolated 200M-row sum
stage). Multiply-operand narrowing was ALSO tried in r14 and
reverted: it measured neutral-to-slower (0.96× isolated, ~15% slower
on a paired q1 A/B), so products keep their r13 forms — see the
width notes above relational.revenue_col. These tests pin the
equivalence on the fixtures and document the domain bounds the
widths assume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_sql_toolkit_spark.operators.relational import (
    QTY_DEC,
    RATE_DEC,
    VAL_DEC,
)
from flink_sql_toolkit_spark.tables import load_table

D = "decimal(18,4)"


def test_q18_quantity_sum_bit_identical(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    wide = {
        r.l_orderkey: r.q
        for r in li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(D)).cast("double").alias("q"))
        .collect()
    }
    narrow = {
        r.l_orderkey: r.q
        for r in li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(QTY_DEC)).cast("double").alias("q"))
        .collect()
    }
    assert wide == narrow and len(wide) > 0


def test_q1_qty_disc_sums_bit_identical(spark, sf_dir):
    """q1's sum_qty/avg_qty ((7,4) input → long-backed (17,4) buffer)
    and avg_disc ((5,4) → (15,4)) match the (18,4) forms exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus")
    wide = (
        g.agg(
            F.sum(F.col("l_quantity").cast(D)).cast("double").alias("q"),
            F.sum(F.col("l_discount").cast(D)).cast("double").alias("d"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    narrow = (
        g.agg(
            F.sum(F.col("l_quantity").cast(QTY_DEC)).cast("double").alias("q"),
            F.sum(F.col("l_discount").cast(RATE_DEC)).cast("double").alias("d"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .collect()
    )
    assert len(wide) == len(narrow) > 0
    for w, n in zip(wide, narrow):
        assert w.q == n.q and w.d == n.d


def test_tvf_value_sum_bit_identical(spark, sf_dir):
    """The window TVFs' value sums ((8,4) input → long-backed (18,4)
    buffer) match the (18,4)-input forms exactly, including on the
    non-2dp values the events fixture contains (same scale-4 rounding
    on both widths)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id")
    wide = {
        r.user_id: r.v
        for r in g.agg(F.sum(F.col("value").cast(D)).cast("double").alias("v")).collect()
    }
    narrow = {
        r.user_id: r.v
        for r in g.agg(F.sum(F.col("value").cast(VAL_DEC)).cast("double").alias("v")).collect()
    }
    assert wide == narrow and len(wide) > 0


def test_fixture_values_inside_narrow_domain(spark, sf_dir):
    """The widths assume l_quantity < 10^3, rates in [0,1] and event
    value < 10^4 (fixture-domain bounds with 18×–20× headroom).
    Assert the fixtures sit far inside them — an out-of-domain value
    would overflow the cast and fail the oracle gate loudly."""
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.max(F.abs(F.col("l_discount"))).alias("d"),
        F.max(F.abs(F.col("l_tax"))).alias("t"),
        F.max(F.abs(F.col("l_quantity"))).alias("q"),
    ).collect()[0]
    assert row.d <= 1.0 and row.t <= 1.0
    assert row.q < 10**2
    ev = load_table(spark, sf_dir, "events")
    vmax = ev.agg(F.max(F.abs(F.col("value"))).alias("v")).collect()[0].v
    assert vmax < 10**3  # one spare order of magnitude under VAL_DEC's cap


def test_out_of_domain_qty_fails_loud(spark):
    """Past the QTY_DEC cap the cast fails LOUD: ANSI mode (Spark 4
    default) raises NUMERIC_VALUE_OUT_OF_RANGE — nothing is silently
    truncated, and even with ANSI off the NULL result would flunk the
    oracle hash."""
    import pyspark.errors  # noqa: PLC0415

    df = spark.createDataFrame([(1234.5,)], ["l_quantity"])
    with pytest.raises(pyspark.errors.ArithmeticException, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        df.select(F.col("l_quantity").cast(QTY_DEC).alias("q")).collect()


@pytest.mark.parametrize("qty", [0.0, 0.01, 49.0, 50.0, 999.9999])
def test_narrow_equals_wide_on_boundary_literals(spark, qty):
    df = spark.createDataFrame([(qty,)], ["l_quantity"])
    w = df.agg(F.sum(F.col("l_quantity").cast(D)).cast("double").alias("q")).collect()[0].q
    n = df.agg(F.sum(F.col("l_quantity").cast(QTY_DEC)).cast("double").alias("q")).collect()[0].q
    assert w == n


def test_unscaled_long_revenue_matches_decimal_forms(spark, sf_dir):
    """r14: the unscaled-long revenue fragment (REV_U4 — BIGINT
    multiply of the narrow casts' unscaled values + sign-aware
    HALF_UP rescale) sums to EXACTLY the r13 decimal form per group,
    including on the fixture's full-noise price doubles, and the
    final decimal-division + decimal→double conversion reproduces
    the (28,4)→double rounding bit-for-bit."""
    from flink_sql_toolkit_spark.operators.relational import (  # noqa: PLC0415
        REV_U4,
        _money_value,
        revenue_col,
    )

    li = load_table(spark, sf_dir, "lineitem")
    old = {
        r.k: r.revenue
        for r in li.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.sum(revenue_col()).cast("double").alias("revenue"))
        .collect()
    }
    new = {
        r.k: r.revenue
        for r in li.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.expr(f"SUM({REV_U4}) AS _r"))
        .select("k", F.expr(f"{_money_value('_r', 4)} AS revenue"))
        .collect()
    }
    assert old == new and len(old) > 0


def test_half_up_div_negative_rounds_away_from_zero(spark):
    """The integer rescale must mirror BigDecimal HALF_UP (round half
    AWAY from zero): -1.5 → -2, not the DIV-truncation -1."""
    from flink_sql_toolkit_spark.operators.relational import _half_up_div  # noqa: PLC0415

    rows = spark.sql(
        "SELECT " + ", ".join(
            f"{_half_up_div(str(v), 4)} AS c{i}"
            for i, v in enumerate([15000, -15000, 14999, -14999, 5000, -5000, 0])
        )
    ).collect()[0]
    assert list(rows) == [2, -2, 1, -1, 1, -1, 0]
