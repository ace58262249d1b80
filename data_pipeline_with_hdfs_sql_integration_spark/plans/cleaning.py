"""Data-cleaning operators a production training pipeline needs
beyond the reference's surface: PII redaction and SCD Type-2 history
builds.

PII scrub: the reference never sanitizes extracts (server.py:33 ships
``SELECT *`` demographics straight to HDFS) — any real reuse of that
pipeline for LLM training data must mask identifiers first. The
synthetic ``documents`` corpus is word-salad with no PII-shaped
content, so the query demonstrates the scrubber on a log line
synthesized per-event from ``events`` columns (uid, an email, an IPv4)
— the synthesis is the same expression in Spark and the DuckDB oracle,
and the redaction chain itself (ordered regexp masking + counts) is
the operator under test. All JVM-side: regexp_replace/regexp_count
stay in whole-stage codegen; at 100 TB this is a map-only pass with
one small final aggregate.

SCD2: the reference overwrites its extract wholesale on every
DbToHdfs run (server.py:53-54 ``overwrite``), losing history. The
SCD Type-2 build derives effective-dated attribute versions from an
append-only fact stream with two window passes over the same
(key, time) sort — one shuffle total, scale-safe for any key
cardinality because state is per-key and windows are narrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.catalog import load
from data_pipeline_with_hdfs_sql_integration_spark.registry import query

# Redaction patterns, shared verbatim with the oracle. Java regex and
# RE2 agree on this subset ([...] classes, +, {m,n} — no lookaround).
RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
RE_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
RE_DIGITS = "[0-9]+"


@query(
    "pii_scrub_events",
    oracle=f"""
        WITH raw AS (
            SELECT event_type,
                   concat('uid=', CAST(user_id AS VARCHAR),
                          ' mail=user', CAST(user_id AS VARCHAR), '@example.com',
                          ' ip=10.', CAST(user_id % 256 AS VARCHAR),
                          '.', CAST(event_id % 256 AS VARCHAR), '.7',
                          ' note=', event_type, ' ', props) AS line
            FROM events
        ), s1 AS (
            SELECT event_type,
                   CAST(len(regexp_extract_all(line, '{RE_EMAIL}')) AS BIGINT) AS n_email,
                   regexp_replace(line, '{RE_EMAIL}', '<EMAIL>', 'g') AS line
            FROM raw
        ), s2 AS (
            SELECT event_type, n_email,
                   CAST(len(regexp_extract_all(line, '{RE_IPV4}')) AS BIGINT) AS n_ip,
                   regexp_replace(line, '{RE_IPV4}', '<IP>', 'g') AS line
            FROM s1
        ), s3 AS (
            SELECT event_type, n_email, n_ip,
                   CAST(len(regexp_extract_all(line, '{RE_DIGITS}')) AS BIGINT) AS n_num,
                   regexp_replace(line, '{RE_DIGITS}', '<NUM>', 'g') AS line
            FROM s2
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
               CAST(SUM(n_ip) AS BIGINT) AS ips_redacted,
               CAST(SUM(n_num) AS BIGINT) AS nums_redacted,
               CAST(SUM(CAST(length(line) AS BIGINT)) AS BIGINT) AS scrubbed_chars
        FROM s3
        GROUP BY event_type
        ORDER BY event_type
    """,
    doc="PII redaction chain (email -> IPv4 -> residual digit runs) with "
    "per-stage redaction counts, aggregated per event type. Masking order "
    "matters (an email contains digits) and is pinned identically in both "
    "engines.",
    tags=("cleaning", "text"),
)
def pii_scrub_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # load_parallel: the regex chain is CPU-bound per row, and the
    # fixture's single-row-group file otherwise decodes (and scrubs) in
    # ONE task — repartition-to-cores halves the query locally and is a
    # no-op at scale where the scan already yields enough splits.
    from data_pipeline_with_hdfs_sql_integration_spark.catalog import load_parallel

    ev = load_parallel(spark, sf_dir, "events")
    return _scrub_report(_scrub_chain(ev)).orderBy("event_type")


def _synth_line() -> F.Column:
    """The per-event raw log line (same expression as the oracle)."""
    return F.concat(
        F.lit("uid="), F.col("user_id").cast("string"),
        F.lit(" mail=user"), F.col("user_id").cast("string"), F.lit("@example.com"),
        F.lit(" ip=10."), (F.col("user_id") % 256).cast("string"),
        F.lit("."), (F.col("event_id") % 256).cast("string"), F.lit(".7"),
        F.lit(" note="), F.col("event_type"), F.lit(" "), F.col("props"),
    )


def _mask_stage(pattern: str, mask: str) -> tuple[F.Column, F.Column]:
    """(match_count, masked_line) from ONE regex pass over `line`.

    split on the pattern yields the non-match segments: count = parts-1
    and re-joining with the mask literal reproduces regexp_replace
    exactly (same non-overlapping leftmost-match semantics, and none of
    the patterns can match empty). The former regexp_count +
    regexp_replace pair ran the same regex twice per stage — this
    halves the regex work of the whole chain, and codegen's
    subexpression elimination evaluates the split once per row.
    """
    parts = F.split(F.col("line"), pattern, -1)
    return (F.size(parts) - 1).cast("long"), F.array_join(parts, mask)


def _scrub_chain(ev: DataFrame) -> DataFrame:
    """events-shaped frame -> (event_type, n_email, n_ip, n_num, line).

    Shared by the batch query and the streaming variant so the two are
    the same operator by construction, not by parallel maintenance.
    """
    s0 = ev.select("event_type", _synth_line().alias("line"))
    n_email, l1 = _mask_stage(RE_EMAIL, "<EMAIL>")
    s1 = s0.select("event_type", n_email.alias("n_email"), l1.alias("line"))
    n_ip, l2 = _mask_stage(RE_IPV4, "<IP>")
    s2 = s1.select("event_type", "n_email", n_ip.alias("n_ip"), l2.alias("line"))
    n_num, l3 = _mask_stage(RE_DIGITS, "<NUM>")
    return s2.select(
        "event_type", "n_email", "n_ip", n_num.alias("n_num"), l3.alias("line")
    )


def _scrub_report(scrubbed: DataFrame) -> DataFrame:
    return scrubbed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("n_email").alias("emails_redacted"),
        F.sum("n_ip").alias("ips_redacted"),
        F.sum("n_num").alias("nums_redacted"),
        F.sum(F.length("line").cast("long")).alias("scrubbed_chars"),
    )


@query(
    "scd2_order_priority",
    oracle="""
        WITH ordered AS (
            SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
                   lag(o_orderpriority) OVER w AS prev_prio
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ), changes AS (
            SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
            FROM ordered
            WHERE prev_prio IS NULL OR prev_prio <> o_orderpriority
        ), versions AS (
            SELECT o_custkey AS custkey,
                   o_orderpriority AS priority,
                   o_orderdate AS effective_from,
                   lead(o_orderdate) OVER w AS effective_to
            FROM changes
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        )
        SELECT custkey, priority, effective_from, effective_to,
               CAST(effective_to IS NULL AS BOOLEAN) AS is_current
        FROM versions
        WHERE custkey < 300
    """,
    doc="SCD Type-2 dimension build from an append-only order stream: "
    "collapse consecutive same-priority runs per customer into "
    "effective-dated versions (lag to find change points, lead to close "
    "intervals). Two windows over ONE (custkey, time) sort — a single "
    "shuffle, per-key narrow state, scale-safe at any key cardinality. "
    "Output bounded to custkey<300 to keep the driver compare small.",
    tags=("cleaning", "temporal"),
)
def scd2_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changes = (
        orders.withColumn("prev_prio", F.lag("o_orderpriority").over(w))
        .filter(F.col("prev_prio").isNull() | (F.col("prev_prio") != F.col("o_orderpriority")))
        .select("o_custkey", "o_orderpriority", "o_orderdate", "o_orderkey")
    )
    # Same partitioning+ordering as the first window: Catalyst reuses
    # the sort (no second exchange).
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    versions = changes.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").alias("effective_from"),
        F.lead("o_orderdate").over(w2).alias("effective_to"),
    )
    return versions.select(
        "custkey", "priority", "effective_from", "effective_to",
        F.col("effective_to").isNull().alias("is_current"),
    ).filter(F.col("custkey") < 300)


@query(
    "stream_pii_scrub",
    oracle=f"""
        WITH raw AS (
            SELECT event_type,
                   concat('uid=', CAST(user_id AS VARCHAR),
                          ' mail=user', CAST(user_id AS VARCHAR), '@example.com',
                          ' ip=10.', CAST(user_id % 256 AS VARCHAR),
                          '.', CAST(event_id % 256 AS VARCHAR), '.7',
                          ' note=', event_type, ' ', props) AS line
            FROM events
        ), s1 AS (
            SELECT event_type,
                   CAST(len(regexp_extract_all(line, '{RE_EMAIL}')) AS BIGINT) AS n_email,
                   regexp_replace(line, '{RE_EMAIL}', '<EMAIL>', 'g') AS line
            FROM raw
        ), s2 AS (
            SELECT event_type, n_email,
                   CAST(len(regexp_extract_all(line, '{RE_IPV4}')) AS BIGINT) AS n_ip,
                   regexp_replace(line, '{RE_IPV4}', '<IP>', 'g') AS line
            FROM s1
        ), s3 AS (
            SELECT event_type, n_email, n_ip,
                   CAST(len(regexp_extract_all(line, '{RE_DIGITS}')) AS BIGINT) AS n_num,
                   regexp_replace(line, '{RE_DIGITS}', '<NUM>', 'g') AS line
            FROM s2
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(n_email) AS BIGINT) AS emails_redacted,
               CAST(SUM(n_ip) AS BIGINT) AS ips_redacted,
               CAST(SUM(n_num) AS BIGINT) AS nums_redacted,
               CAST(SUM(CAST(length(line) AS BIGINT)) AS BIGINT) AS scrubbed_chars
        FROM s3
        GROUP BY event_type
    """,
    doc="The SAME scrub chain (_scrub_chain, shared code) run as a "
    "Structured Streaming query over the bounded event stream — "
    "map-only stages compose onto readStream unchanged, and the "
    "availableNow result equals the batch semantics (the oracle is "
    "the batch SQL). Redaction is where stream/batch unification "
    "matters most: one cleaning implementation, two execution modes.",
    tags=("cleaning", "streaming"),
)
def stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_with_hdfs_sql_integration_spark.streaming import windows as W

    ev = W.events_stream(spark, sf_dir)
    agg = _scrub_report(_scrub_chain(ev))
    return W.run_to_memory(agg, output_mode="complete")
