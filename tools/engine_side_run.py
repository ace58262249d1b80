"""Engine-side-only run: execute registered queries at an SF dir and
print row count + wall time per query (digest-consumed via
toLocalIterator, O(1) driver memory). Usage:
    SWEEP_ONLY=a,b,c python tools/engine_side_run.py <sf_dir>

This is NOT a correctness check — it records that the ENGINE side
completes (and how fast) at scale factors where the single-box DuckDB
oracle is the binding constraint (hours-long recursive/pair-join
oracles, spill volumes beyond the shared disk). Value verification
for such queries comes from smaller-SF sweeps; this records the
engine's own sf-scaling evidence honestly and separately."""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from pyspark.sql import SparkSession

import __spark_entry__ as e  # noqa: E402

qs = e.queries()
SF = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".localdata", "sf10")
requested = [n for n in os.environ.get("SWEEP_ONLY", "").split(",") if n]
unknown = [n for n in requested if n not in qs]
if unknown:
    # A typo'd/renamed query must be a loud failure (before any Spark
    # startup), not a silent skip that lets "ENGINE-RUN done" overstate
    # the evidence that ran.
    print(f"ENGINE-RUN unknown queries (not in registry): {unknown}", flush=True)
    sys.exit(2)
names = requested

_cpus = os.environ.get("SWEEP_CPUS", "16")
spark = (
    SparkSession.builder.master(f"local[{_cpus}]")
    .config("spark.sql.shuffle.partitions", _cpus)
    .config("spark.driver.memory", os.environ.get("SWEEP_DRIVER_MEM", "24g"))
    .config("spark.driver.maxResultSize", "8g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
for name in names:
    t0 = time.monotonic()
    try:
        sdf = qs[name](spark, SF)
        # ONE parallel job, O(1) driver memory: xxhash64 over every
        # column forces each output expression to be computed, and the
        # count/sum aggregate reduces it engine-side. toLocalIterator
        # (the previous consumption) runs one job PER PARTITION, which
        # serializes the final stage to a single task per job — a
        # pair-verify that lives in the final stage ran 32x slower
        # than its plan allows (measured on dedup_semantic_probe2 at
        # sf10: ~80 s single-task jobs, one per output partition).
        from pyspark.sql import functions as F

        # COVERAGE NOTE (round-10 ADVICE): this aggregate forces every
        # output expression engine-side but does NOT materialize rows
        # on the driver the way toLocalIterator did, and xxhash64
        # skips NULL args so the digest can't tell null-column
        # permutations apart — acceptable for a perf smoke runner
        # (value verification is the sweep's job), but keep a tiny
        # collect alongside so a row that can't serialize to the
        # driver still fails loudly here.
        row = sdf.select(
            F.xxhash64(*[F.col(c).cast("string") for c in sdf.columns]).alias("h")
        ).agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)")).first()
        sdf.limit(1).collect()
        print(f"ENGINE-OK {name} rows={row['n']} t={time.monotonic()-t0:.1f}s", flush=True)
    except Exception as ex:
        print(f"ENGINE-FAIL {name}: {str(ex)[:160]}", flush=True)
    finally:
        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import release_pins

        release_pins()
        spark.catalog.clearCache()
print("ENGINE-RUN done", flush=True)
