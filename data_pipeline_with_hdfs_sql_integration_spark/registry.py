"""Central query registry.

Every implemented operator (SURVEY.md §2 plus the training-data
extensions) registers a named query here: a PySpark callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, the exact
ANSI-SQL oracle DuckDB runs over the same parquet tables. The driver's
correctness gate compares the two (row-count + schema + value-hash),
so column names and value semantics must match bit-for-bit — numeric
parity notes live next to each query.

Every query runs under ``session.RUNTIME_CONFS``: ``query`` wraps the
decorated function so each call first applies them to the session it
is given (a caller may hand us one we did not build). The wrapper is
both the registered ``QuerySpec.fn`` and the module attribute, so a
direct call, a registry call and a query calling another query all
behave alike; a query body never applies the confs itself.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from data_pipeline_with_hdfs_sql_integration_spark.session import apply_runtime_confs

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None → non-SQL-expressible, rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    """Decorator registering a query implementation; returns the
    registered callable, which applies the runtime confs and then runs
    ``fn``."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        _REGISTRY[name] = QuerySpec(name=name, fn=run, oracle=oracle, doc=doc or fn.__doc__ or "", tags=tags)
        return run

    return wrap


def all_queries() -> dict[str, QuerySpec]:
    # Import side-effect modules on first use so the registry is filled.
    from data_pipeline_with_hdfs_sql_integration_spark.plans import load_all_plans

    load_all_plans()
    return dict(_REGISTRY)


def get(name: str) -> QuerySpec:
    return all_queries()[name]
