"""Distributed global row_number / prefix sums without a
single-partition sort.

`Window.orderBy(...)` with no partitionBy moves the WHOLE relation
through one task (`WindowExec: No Partition Defined`) — fine for a few
thousand rows, a scale-killer for a rank over ~1e9 customers or a
web-scale vocabulary. This operator computes the identical global rank
in two phases:

1. `repartitionByRange` on the full sort key, so partition-id order IS
   sort order, then a per-partition `row_number` window keyed on
   `spark_partition_id()` — every sort is partition-local.
2. The global rank = local rank + (rows in all lower-id partitions).
   The per-partition counts are ONE ROW PER PARTITION — pulled to the
   driver (bounded by the cluster's partition count, never by data;
   the same legitimacy class as the k-means centroid pulls in
   plans/similarity.py) and re-attached as a literal lookup map.

The ranked frame is persisted before the counts job: range-partition
boundaries come from a sampling pass whose seed varies per job, so the
offsets job and the caller's downstream job MUST observe the same
physical partitioning — without the pin the two jobs could rank
against different boundaries and silently mis-rank boundary rows.

The reference has no window functions at all (SURVEY.md §2 "explicitly
absent"); this exists so the engine's ranking extensions hold their
shape at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Persisted intermediates pinned by the operators below. The returned
#: plans NEED the pin (range boundaries are sampled per job — an
#: unpersisted intermediate could re-rank against different
#: boundaries), so the operator cannot unpersist eagerly; instead every
#: pin is registered here and a long-lived session (bench loop, the
#: 256-query sweep) calls :func:`release_pins` between queries, once
#: the previous query's plan is fully consumed.
_PINS: list[DataFrame] = []


def _pin(df: DataFrame) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import persist

    _PINS.append(persist(df))
    return df


def release_pins() -> int:
    """Unpersist every intermediate pinned since the last call and drop
    the registry's prepared frames (``catalog.forget_prepared``), which
    hold their executed plans; returns how many pins were released.
    Call ONLY between queries — a plan returned by these operators must
    be fully consumed first."""
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import forget_prepared

    forget_prepared()
    n = len(_PINS)
    for df in _PINS:
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
    _PINS.clear()
    return n


def global_row_number(
    df: DataFrame, order: list[tuple[str, str]], alias: str = "i"
) -> DataFrame:
    """Return `df` plus a 1-based global `alias` column equal to
    row_number() over the total order `order` ([(col, 'asc'|'desc')],
    later columns break ties), computed without any unpartitioned
    window or single-partition sort.

    Triggers one Spark job (the per-partition count pull) and pins the
    ranked intermediate for the caller's downstream job — the pin is
    registered in :data:`_PINS`; long-lived sessions release it via
    :func:`release_pins` between queries.
    """
    sort_cols = [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in order
    ]
    rp = df.repartitionByRange(*sort_cols).withColumn(
        "_gr_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_gr_pid").orderBy(*sort_cols)
    loc = _pin(rp.withColumn("_gr_r", F.row_number().over(w)))
    counts = {
        row["_gr_pid"]: row["cnt"]
        for row in loc.groupBy("_gr_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        off = F.coalesce(
            F.element_at(
                F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
                F.col("_gr_pid"),
            ),
            F.lit(0),
        )
    else:
        off = F.lit(0)
    return loc.withColumn(alias, (F.col("_gr_r") + off).cast("long")).drop(
        "_gr_pid", "_gr_r"
    )


def global_prefix_max(
    df: DataFrame,
    order: list[tuple[str, str]],
    col: str,
    alias: str,
    exclusive: bool = True,
) -> DataFrame:
    """Return `df` plus `alias` = the running MAX of `col` over the
    total order `order` — `max(col) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])` — without an unpartitioned window.

    Max is associative, so the same two-phase scan applies: range-
    partition on the sort key, run the (exclusive or inclusive) running
    max partition-locally, then fold in each partition's offset = the
    MAX of every lower-id partition's column maximum via `greatest`
    (which skips NULLs, preserving the "no preceding row" NULL of the
    exclusive form's first global row).
    """
    sort_cols = [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in order
    ]
    rp = df.repartitionByRange(*sort_cols).withColumn(
        "_gm_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_gm_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    loc = _pin(rp.withColumn(alias, F.max(col).over(w)))
    maxima = {
        row["_gm_pid"]: row["m"]
        for row in loc.groupBy("_gm_pid")
        .agg(F.max(col).alias("m"))
        .collect()
    }
    offsets: dict[int, object] = {}
    acc = None
    for pid in sorted(maxima):
        offsets[pid] = acc
        m = maxima[pid]
        acc = m if acc is None or (m is not None and m > acc) else acc
    known = {p: v for p, v in offsets.items() if v is not None}
    if known:
        # try_element_at: partitions with no lower-id maximum are
        # absent from the map and must yield NULL (ANSI element_at
        # would throw on the missing key).
        off = F.try_element_at(
            F.create_map(*[F.lit(x) for kv in known.items() for x in kv]),
            F.col("_gm_pid"),
        )
        loc = loc.withColumn(alias, F.greatest(F.col(alias), off))
    return loc.drop("_gm_pid")


def global_prefix_sum(
    df: DataFrame, order: list[tuple[str, str]], sums: dict[str, str]
) -> DataFrame:
    """Return `df` plus, for each `alias -> col` in `sums`, an INCLUSIVE
    global running sum of `col` over the total order `order`
    ([(col, 'asc'|'desc')]) — the distributed form of
    `sum(col) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` — computed
    without any unpartitioned window or single-partition sort.

    Same two-phase shape as :func:`global_row_number`: range-partition
    on the full sort key so partition-id order IS sort order, run the
    cumulative window partition-locally keyed on spark_partition_id(),
    then add each partition's offset = the SUM of every lower-id
    partition's column total. The per-partition totals are ONE ROW PER
    PARTITION — a bounded driver pull, never data-sized. Callers
    needing the EXCLUSIVE form subtract the row's own value
    (excl = incl - col).

    Triggers one Spark job (the totals pull) and pins the locally
    cumulated intermediate so the totals job and the caller's
    downstream job observe the same range boundaries (sampled
    per-job otherwise — same pin as global_row_number; released
    between queries via :func:`release_pins`).
    """
    sort_cols = [
        F.col(c).asc() if d == "asc" else F.col(c).desc() for c, d in order
    ]
    rp = df.repartitionByRange(*sort_cols).withColumn(
        "_gp_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_gp_pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    loc = _pin(
        rp.select(
            "*",
            *[F.sum(col).over(w).alias(alias) for alias, col in sums.items()],
        )
    )
    totals = {
        row["_gp_pid"]: row
        for row in loc.groupBy("_gp_pid")
        .agg(*[F.sum(col).alias(alias) for alias, col in sums.items()])
        .collect()
    }
    out = loc
    for alias in sums:
        acc = 0
        offsets: dict[int, int] = {}
        for pid in sorted(totals):
            offsets[pid] = acc
            acc += totals[pid][alias] or 0
        if any(offsets.values()):
            off = F.coalesce(
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for kv in offsets.items() for x in kv]
                    ),
                    F.col("_gp_pid"),
                ),
                F.lit(0),
            )
            out = out.withColumn(alias, (F.col(alias) + off).cast("long"))
        else:
            out = out.withColumn(alias, F.col(alias).cast("long"))
    return out.drop("_gp_pid")
