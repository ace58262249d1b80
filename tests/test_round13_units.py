"""Round-13 optimization units: the long-cents aggregate formulation
must be value-identical to the DECIMAL formulation it replaced
(plans/analytics.py agg_pricing_summary), and the cent-grid helper must
be exact on the data model's grid."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_MID


def _decimal_pricing_summary(spark, sf_dir):
    """The pre-r13 DECIMAL formulation, kept verbatim as the parity
    reference for the shipped long-cents rewrite."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
    from data_pipeline_with_hdfs_sql_integration_spark.functions import numfns as nf

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
    )

    def _sum_dec(col, scale=2):
        return F.sum(col.cast(f"decimal(18,{scale})"))

    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_dec(F.col("l_quantity")).alias("sq"),
            _sum_dec(F.col("l_extendedprice")).alias("sp"),
            _sum_dec(disc_price, 4).alias("sd"),
            _sum_dec(charge, 6).alias("sc"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sq").cast("double").alias("sum_qty"),
            F.col("sp").cast("double").alias("sum_base_price"),
            nf.scaled_split_cast_double("sd", 4).alias("sum_disc_price"),
            nf.scaled_split_cast_double("sc", 6).alias("sum_charge"),
            (F.col("sq").cast("double") / F.col("count_order")).cast("double").alias("avg_qty"),
            (F.col("sp").cast("double") / F.col("count_order")).cast("double").alias("avg_price"),
            F.col("count_order"),
        )
    )


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_MID])
def test_long_cents_pricing_equals_decimal(spark, sf_dir):
    """Field-by-field repr identity (bitwise for doubles) between the
    shipped long-cents agg_pricing_summary and the DECIMAL original."""
    from data_pipeline_with_hdfs_sql_integration_spark.registry import all_queries

    got = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in all_queries()["agg_pricing_summary"].fn(spark, sf_dir).collect()
    }
    want = {
        (r["l_returnflag"], r["l_linestatus"]): r
        for r in _decimal_pricing_summary(spark, sf_dir).collect()
    }
    assert set(got) == set(want) and got
    fields = (
        "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
        "avg_qty", "avg_price", "count_order",
    )
    for k in want:
        for f in fields:
            assert repr(got[k][f]) == repr(want[k][f]), (k, f, got[k][f], want[k][f])


def test_cent_grid_long_exact_on_grid(spark):
    """cent_grid_long recovers the exact integer for every cent-grid
    value in the money range, including the float-hostile ones."""
    from data_pipeline_with_hdfs_sql_integration_spark.functions import numfns as nf

    cents = (
        list(range(0, 2000)) +
        [10499999, 10500000, 123456789, 2**40, 2**45 - 1] +
        [k * 100 + r for k in (1, 7, 105) for r in (5, 50, 99)]
    )
    df = spark.createDataFrame([(c, c / 100.0) for c in cents], "c long, x double")
    bad = df.filter(nf.cent_grid_long(F.col("x")) != F.col("c")).count()
    assert bad == 0
