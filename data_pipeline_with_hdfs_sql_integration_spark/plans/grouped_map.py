"""Grouped-map UDAF via applyInPandas: per-group linear regression.

The Arrow grouped-map path is the escape hatch for aggregates the
built-in library can't express (model fits, per-group solvers). The
cost model to respect at 100 TB: one shuffle on the group key, then
each group materializes as ONE pandas DataFrame in one Python worker —
so the group key must have bounded cardinality per group (here: events
per type), and the per-group math should be vectorized.

Numeric parity trick: the regression runs in exact integer arithmetic
(x truncated to hours-since-epoch-base, y fixed-point at 2 decimals),
so Spark-pandas and DuckDB compute bit-identical BIGINT sums and the
final slope is one identical double division on both sides — a
float-exact oracle for a Python UDAF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

# 2024-01-01T00:00:00Z in microseconds; events start just after it.
BASE_US = 1_704_067_200_000_000
US_PER_HOUR = 3_600_000_000

_OUT_SCHEMA = "event_type string, n bigint, slope_per_hour double, avg_value double"


def _make_fit_group():
    """Closure (not a module-level function) so cloudpickle ships it by
    VALUE — Python workers must not need this package importable."""

    def _fit_group(pdf):
        import numpy as np
        import pandas as pd

        x = pdf["x"].to_numpy(dtype=np.int64)
        y = pdf["y"].to_numpy(dtype=np.int64)
        n = int(len(x))
        # int64-exact by construction: x<=~720 (hours/month), y<=~1e7
        # (cents), per-group n<=~1e6 keeps every sum under 2^63.
        sx, sy = int(x.sum()), int(y.sum())
        sxy, sxx = int((x * y).sum()), int((x * x).sum())
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        slope = float(num) / float(den) / 100.0 if den else None
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [n],
                "slope_per_hour": [slope],
                "avg_value": [float(sy) / 100.0 / n],
            }
        )

    return _fit_group


@query(
    "grouped_linreg_trend",
    oracle=f"""
        WITH pts AS (
            SELECT event_type,
                   (epoch_us(ts) - {BASE_US}) // {US_PER_HOUR} AS x,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
            FROM events
        ), s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pts GROUP BY event_type
        )
        SELECT event_type, n,
               CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope_per_hour,
               CAST(sy AS DOUBLE) / 100.0 / n AS avg_value
        FROM s
    """,
    doc="Per-event-type linear trend of value over time, fit inside an "
    "applyInPandas grouped-map UDAF with exact integer sums (x = hour "
    "index, y = value in cents). The DuckDB oracle runs the identical "
    "integer least-squares closed form — proving the Arrow grouped-map "
    "path end-to-end (shuffle → pandas batch → typed result) with "
    "bit-exact numerics, which plain float regression can never give.",
    tags=("udaf", "grouped-map", "timeseries"),
)
def grouped_linreg_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"(unix_micros(ts) - {BASE_US}) div {US_PER_HOUR}").alias("x"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    return ev.groupBy("event_type").applyInPandas(_make_fit_group(), schema=_OUT_SCHEMA)


@query(
    "udaf_weighted_median",
    oracle="""
        WITH g AS (
            SELECT l_suppkey AS suppkey, l_extendedprice AS v,
                   CAST(l_quantity AS BIGINT) AS wt
            FROM lineitem
        ), pv AS (
            SELECT suppkey, v, SUM(wt) AS wv FROM g GROUP BY suppkey, v
        ), c AS (
            SELECT suppkey, v,
                   SUM(wv) OVER (PARTITION BY suppkey ORDER BY v) AS cum,
                   SUM(wv) OVER (PARTITION BY suppkey) AS tot
            FROM pv
        )
        SELECT suppkey, MIN(v) AS weighted_median
        FROM c WHERE 2 * cum >= tot
        GROUP BY suppkey
        ORDER BY suppkey
    """,
    doc="Quantity-weighted median price per supplier as a pandas_udf "
    "GROUPED_AGG UDAF (Arrow-vectorized scalar aggregate — the third "
    "UDF surface next to applyInPandas and @udtf). Weights are exact "
    "BIGINTs and the median returns a stored value untouched, so the "
    "Python path is bit-identical to the oracle's window formulation. "
    "Scale note: GROUPED_AGG materializes each group in one worker — "
    "fine for bounded groups like suppliers; for few huge groups use "
    "the oracle's cumulative-window shape instead (pure JVM, same "
    "result), which is why both formulations live here.",
    tags=("udaf", "grouped"),
)
def udaf_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("double")
    def wmedian(v: pd.Series, w: pd.Series) -> float:
        # Sort by value; the first value whose cumulative weight
        # reaches half the total is the weighted median. Integer
        # weights keep the comparison exact (2*cum >= tot). Pure
        # numpy over the Arrow-backed buffers: building a pandas
        # DataFrame + sort_values + iloc PER GROUP dominated the
        # aggregate's cost at ~1k groups (guide §4.2 — hand batches
        # to vectorized native code, don't construct row containers).
        import numpy as np

        vv = v.to_numpy()
        order = np.argsort(vv, kind="stable")
        wv = w.to_numpy()
        # Fail loud on null/NaN weights (ADVICE r12): np.astype('int64')
        # on NaN is undefined-garbage where the old pandas
        # Series.astype raised — keep malformed input an error, not a
        # silently wrong median. isnan on an integer-typed buffer is
        # impossible, so guard only the float case.
        if wv.dtype.kind == "f" and np.isnan(wv).any():
            raise ValueError("wmedian: null/NaN weight in group")
        cum = wv.astype("int64", copy=False)[order].cumsum()
        tot = int(cum[-1])
        # first index where 2*cum >= tot == searchsorted on the
        # nondecreasing doubled cumulative (weights are positive).
        idx = int(np.searchsorted(2 * cum, tot, side="left"))
        return float(vv[order[idx]])

    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("l_extendedprice").alias("v"),
            F.col("l_quantity").cast("long").alias("wt"),
        )
        .groupBy("suppkey")
        .agg(wmedian(F.col("v"), F.col("wt")).alias("weighted_median"))
        .orderBy("suppkey")
    )


@query(
    "window_weighted_median",
    oracle="""
        WITH g AS (
            SELECT l_suppkey AS suppkey, l_extendedprice AS v,
                   CAST(l_quantity AS BIGINT) AS wt
            FROM lineitem
        ), pv AS (
            SELECT suppkey, v, SUM(wt) AS wv FROM g GROUP BY suppkey, v
        ), c AS (
            SELECT suppkey, v,
                   SUM(wv) OVER (PARTITION BY suppkey ORDER BY v) AS cum,
                   SUM(wv) OVER (PARTITION BY suppkey) AS tot
            FROM pv
        )
        SELECT suppkey, MIN(v) AS weighted_median
        FROM c WHERE 2 * cum >= tot
        GROUP BY suppkey
        ORDER BY suppkey
    """,
    doc="Quantity-weighted median price per supplier as PURE JVM "
    "engine code — the scalable sibling of `udaf_weighted_median` "
    "(same oracle, same result). Shape: pre-aggregate weights per "
    "(key, value), then one sort-based window pass computes the "
    "cumulative and total weight, and the median is min(v) where "
    "2*cum >= tot. Scale contrast with the GROUPED_AGG UDAF: no group "
    "ever materializes in a single Python worker — the window operator "
    "streams each sorted partition, so a key with 10^9 rows costs one "
    "shuffle + external sort, not one worker's RAM. This is the "
    "formulation to reach for on skewed/huge groups; the UDAF stays as "
    "the ergonomic surface for bounded ones.",
    tags=("window", "grouped"),
)
def window_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # ONE exchange establishes hash(suppkey) and every downstream
    # operator reuses it: hash(suppkey) satisfies the (suppkey, v)
    # grouping (partitioning keys ⊆ grouping keys), the suppkey
    # windows, and the final group-by — the previous shape paid a
    # second full exchange between the pre-aggregate (hash(s,v)) and
    # the window (hash(s)) (guide §2.4: two operations keyed the same
    # way share one exchange). (s, v) is near-unique in lineitem, so
    # the raw-row shuffle carries the same bytes the partially
    # aggregated one did.
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.col("l_extendedprice").alias("v"),
            F.col("l_quantity").cast("long").alias("wt"),
        )
        .repartition("suppkey")
    )
    pv = li.groupBy("suppkey", "v").agg(F.sum("wt").alias("wv"))
    # v is distinct per key after the pre-aggregate, so the default
    # RANGE frame (peer-inclusive, what the oracle uses) equals ROWS.
    cum = F.sum("wv").over(Window.partitionBy("suppkey").orderBy("v"))
    tot = F.sum("wv").over(Window.partitionBy("suppkey"))
    c = pv.select("suppkey", "v", cum.alias("cum"), tot.alias("tot"))
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("suppkey")
        .agg(F.min("v").alias("weighted_median"))
        .orderBy("suppkey")
    )
