"""ANSI mode is a pinned guarantee, not an inherited default (r15,
VERDICT r14 ask #3).

The unscaled-long money aggregations (relational._half_up_div block)
argue overflow safety by "out-of-domain values raise loudly" — that
is only true under spark.sql.ansi.enabled. Spark 4 defaults it on,
but nothing stopped a deployment (or a future Spark default flip)
from running with it off, where a BIGINT partial wraps SILENTLY into
a wrong answer. build_spark now pins the conf; these tests red-green
the difference through the real q1 path.
"""

from __future__ import annotations

import datetime

import pytest


def _out_of_domain_lineitem(spark, tmp_path) -> str:
    """A one-row lineitem whose l_extendedprice breaks the (10,4)
    domain cast q1's unscaled-long path narrows to (money < 10^6)."""
    sf_dir = str(tmp_path / "bad_sf")
    rows = [
        (
            1, 1, 1, 1, 5.0,
            2_000_000.0,  # >= 10^6: out of the documented money domain
            0.05, 0.02, "N", "O",
            datetime.datetime(1997, 1, 1),
        )
    ]
    schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{sf_dir}/lineitem.parquet")
    return sf_dir


def test_build_spark_pins_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_out_of_domain_raises_through_q1(spark, tmp_path):
    """GREEN half: under the pinned ANSI conf, a money value outside
    the narrow-cast domain fails the q1 query loudly instead of
    contributing a wrong partial."""
    from flink_sql_toolkit_spark.operators.relational import q1_pricing_summary

    sf_dir = _out_of_domain_lineitem(spark, tmp_path)
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|CAST_OVERFLOW|cannot be represented"):
        q1_pricing_summary(spark, sf_dir).collect()


def test_without_ansi_the_same_value_is_silently_wrong(spark, tmp_path):
    """RED half (the hazard the pin removes): with ANSI off, the same
    out-of-domain cast does NOT raise — it nulls/wraps, i.e. a wrong
    answer with no error. This is why build_spark pins the conf
    rather than relying on the Spark 4 default."""
    sf_dir = _out_of_domain_lineitem(spark, tmp_path)
    from flink_sql_toolkit_spark.operators.relational import q1_pricing_summary
    from flink_sql_toolkit_spark.tables import clear

    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        # drop the cached plan so the re-read happens under ANSI-off
        clear()
        rows = q1_pricing_summary(spark, sf_dir).collect()
        # no exception: the out-of-domain price flowed through; the
        # narrow cast produced NULL and the sum silently dropped it
        assert rows, "query returned rather than raising — the hazard"
        assert rows[0].sum_base_price is None or rows[0].sum_base_price != pytest.approx(2_000_000.0)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        clear()
