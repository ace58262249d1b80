"""Bucketed tables: shuffle-free co-located joins.

At 100 TB the single biggest join cost is shuffling the fact table.
Bucketing both join sides by the key at WRITE time
(``bucketBy(n, key).sortBy(key).saveAsTable``) lets every later join
on that key run with zero Exchange: bucket i of A joins bucket i of B
on the same executor. The write cost is paid once; every downstream
join, groupBy, or dedup on the bucket key is shuffle-free.

Callers write both sides themselves (``layout_bucketed_join`` does)
and pass the table names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str | None,
    left_key: str | None = None,
    right_key: str | None = None,
) -> DataFrame:
    """Join two same-bucketed tables; the plan must show no Exchange on
    either side (asserted in tests/test_bucketing.py).

    Pass ``key`` when both sides share the column name, or
    ``left_key``/``right_key`` when they differ. The merge hint pins
    SortMergeJoin so the bucketed layout (not a small-table broadcast)
    carries the join — hint-based, so no session conf is mutated."""
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table)
    if key is not None:
        return left.join(right, key)
    return left.join(right, left[left_key] == right[right_key])
