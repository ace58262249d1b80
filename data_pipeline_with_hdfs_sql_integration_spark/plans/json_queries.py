"""Semi-structured (JSON string column) operators over events.props.

Two access paths, both JVM-side:
- `get_json_object` — per-field path extraction (no schema needed);
- `from_json` with an explicit schema — full struct projection, the
  scale path when many fields are read (one parse instead of N).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query


@query(
    "json_extract_agg",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_with_k
        FROM events
        GROUP BY event_type
    """,
    doc="JSON path extraction + aggregate: get_json_object pulls one "
    "field per row (integer sums — exact, no FP concerns), grouped per "
    "event type.",
    tags=("json", "agg"),
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = F.get_json_object("props", "$.k")
    # Count the RAW extraction (presence of $.k), matching the oracle:
    # counting the long-cast would silently skip non-numeric values.
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.sum(raw.cast("long")).alias("sum_k"), F.count(raw).alias("n_with_k"))
    )


@query(
    "json_struct_projection",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 90
    """,
    doc="from_json with an explicit schema: one parse yields a typed "
    "struct (the right call when several fields are read); filter on the "
    "parsed field.",
    tags=("json", "filter"),
)
def json_struct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    ev = load(spark, sf_dir, "events").withColumn("p", F.from_json("props", schema))
    return (
        ev.filter(F.col("p.k") >= 90)
        .select("event_id", F.col("p.k").alias("k"))
    )


@query(
    "json_variant_agg",
    oracle="""
        SELECT event_type,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS sum_k,
               CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
                   AS max_k,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY event_type
    """,
    doc="Spark 4 VARIANT path: props parses ONCE per row into the "
    "binary VARIANT encoding (parse_json), then variant_get extracts "
    "typed fields without re-tokenizing the JSON text — the Spark-4-"
    "native answer to repeated get_json_object calls, which each "
    "re-parse the string (the classic hidden O(fields x parse) cost "
    "in wide semi-structured scans at 100 TB). Same aggregate as the "
    "string-path sibling json_extract_agg, so the two surfaces are "
    "provably result-identical; the oracle uses DuckDB's native JSON "
    "extraction.",
    tags=("json", "variant", "agg"),
)
def json_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.select("event_type", F.parse_json("props").alias("v")).select(
        "event_type",
        F.expr("CAST(variant_get(v, '$.k', 'bigint') AS BIGINT)").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("long").alias("sum_k"),
        F.max("k").cast("long").alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )
