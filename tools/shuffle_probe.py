"""Per-stage shuffle receipt for a registered query at an SF dir.

The round-10 verdict asked for the semantic-dedup pair stage's
OBSERVED max shuffle size at sf10 — a number, not an argument. This
runs one query in a fresh session with the Spark UI's REST API on and
prints every completed stage's shuffle read/write bytes plus the
session-wide maximum, so "the pair stage shuffles ~X GB" is a receipt
from the engine's own metrics (`/api/v1/applications/<id>/stages`),
not an estimate. Consumption matches engine_side_run.py: one
engine-side count+xxhash aggregate (no driver row materialization).

Usage: SWEEP_ONLY=dedup_semantic python tools/shuffle_probe.py <sf_dir>
"""
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))
from busy import claim as _claim

_claim("probe")  # bench.py refuses to time while this runs (round-11 lesson)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as e  # noqa: E402

qs = e.queries()
SF = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".localdata", "sf10")
requested = [n for n in os.environ.get("SWEEP_ONLY", "").split(",") if n]
unknown = [n for n in requested if n not in qs]
if unknown:
    print(f"SHUFFLE-PROBE unknown queries (not in registry): {unknown}", flush=True)
    sys.exit(2)

_cpus = os.environ.get("SWEEP_CPUS", "16")
spark = (
    SparkSession.builder.master(f"local[{_cpus}]")
    .config("spark.sql.shuffle.partitions", _cpus)
    .config("spark.driver.memory", os.environ.get("SWEEP_DRIVER_MEM", "24g"))
    .config("spark.driver.maxResultSize", "8g")
    .config("spark.ui.enabled", "true")
    .config("spark.ui.retainedStages", "3000")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
ui = spark.sparkContext.uiWebUrl
app_id = spark.sparkContext.applicationId


def _stages():
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
    ) as r:
        return json.load(r)


def _gb(n: int) -> str:
    return f"{n / (1 << 30):.2f} GiB" if n >= 1 << 30 else f"{n / (1 << 20):.3f} MiB"


for name in requested:
    # Per-query stage attribution via the stage-id watermark: stages
    # completed before this query started belong to earlier queries
    # (or store builds, which we deliberately INCLUDE by running them
    # inside the watermark on a cold store — build cost is part of the
    # family's scale story and reported per-stage either way).
    before = {s["stageId"] for s in _stages()}
    t0 = time.monotonic()
    try:
        sdf = qs[name](spark, SF)
        row = (
            sdf.select(
                F.xxhash64(*[F.col(c).cast("string") for c in sdf.columns]).alias("h")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)"))
            .first()
        )
        dt = time.monotonic() - t0
        stages = [s for s in _stages() if s["stageId"] not in before]
        stages.sort(key=lambda s: -(s["shuffleWriteBytes"] + s["shuffleReadBytes"]))
        print(f"PROBE-OK {name} rows={row['n']} t={dt:.1f}s stages={len(stages)}")
        for s in stages[:8]:
            print(
                f"  stage {s['stageId']:>4} tasks={s['numCompleteTasks']:>4} "
                f"write={_gb(s['shuffleWriteBytes'])} read={_gb(s['shuffleReadBytes'])} "
                f"in={_gb(s['inputBytes'])} spill={_gb(s['diskBytesSpilled'])} "
                f"| {s['name'][:60]}"
            )
        mx = max(
            (max(s["shuffleWriteBytes"], s["shuffleReadBytes"]) for s in stages),
            default=0,
        )
        spill = sum(s["diskBytesSpilled"] for s in stages)
        print(f"PROBE-MAX {name} max_stage_shuffle={_gb(mx)} total_spill={_gb(spill)}", flush=True)
    except Exception as ex:
        print(f"PROBE-FAIL {name}: {str(ex)[:200]}", flush=True)
    finally:
        from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import release_pins

        release_pins()
        spark.catalog.clearCache()
