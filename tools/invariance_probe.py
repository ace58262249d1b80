"""Engine-vs-engine full-width value verdict: run a registered query
TWICE under adversarially different physical shapes and compare
order-independent multiset digests.

Why this exists (round-11 verdict stretch item 8): the semantic-dedup
family's cross-engine (DuckDB) value verdicts are band-exact — 50 k of
sf10's 200 k vectors — because the oracle's in-SQL quadratic pair
verify is disk-bound at full width (SWEEPS_r11 §1: 46 GB spill and
climbing, killed). The verdict's sketch ("band union == full run
restricted to band keys") is NOT semantically sound for dedup: a band
vector's keep/duplicate verdict depends on pairs whose other endpoint
lies OUTSIDE the band, so a band run and a restricted full run
legitimately differ. What IS provable engine-side at full width is
physical-plan invariance: the output is a pure function of the data,
not of one lucky physical plan. Shape A is the production shape; shape
B flips every physical knob that could mask a plan-dependent bug —
AQE off, broadcast joins disabled (forces sort-merge), a PRIME shuffle
partition count (surfaces any hash-partition-count assumption),
different core count, smaller scan splits (different file-partition
boundaries). A digest match means partition order, join strategy,
stage boundaries, and scan splits do not leak into values; combined
with the band-exact cross-engine verdict on the SAME code it upgrades
the full-width output from "engine finished" to "value-verified
modulo the spec check the band already passed".

Usage: SWEEP_ONLY=q1,q2 python tools/invariance_probe.py <sf_dir>
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))
from busy import claim

claim("probe")  # bench.py refuses to time while this runs

SHAPES = {
    # Production-like shape (the one bench/sweeps run).
    "A": {
        "cpus": os.environ.get("PROBE_CPUS_A", "24"),
        "conf": {
            "spark.sql.shuffle.partitions": os.environ.get("PROBE_CPUS_A", "24"),
            "spark.sql.adaptive.enabled": "true",
            "spark.driver.memory": os.environ.get("PROBE_DRIVER_MEM", "28g"),
        },
    },
    # Adversarial shape: every physical lever flipped.
    "B": {
        "cpus": os.environ.get("PROBE_CPUS_B", "7"),
        "conf": {
            "spark.sql.shuffle.partitions": "13",  # prime
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
            "spark.sql.files.maxPartitionBytes": "16m",  # different splits
            "spark.driver.memory": os.environ.get("PROBE_DRIVER_MEM", "28g"),
        },
    },
}

RUNNER = r"""
import json, sys
sys.path[:0] = [sys.argv[4], sys.argv[4] + "/tools"]
from pyspark.sql import SparkSession
shape = json.loads(sys.argv[1]); sf = sys.argv[2]; names = sys.argv[3].split(",")
b = SparkSession.builder.master(f"local[{shape['cpus']}]")
for k, v in shape["conf"].items():
    b = b.config(k, v)
spark = b.config("spark.ui.enabled", "false").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from digestlib import digest
qs = e.queries()
out = {}
for name in names:
    sdf = qs[name](spark, sf)
    proj = sdf.select(*sorted(sdf.columns))
    # Final-stage-width fix (full_sweep lesson): repartition AFTER the
    # computation so toLocalIterator's per-partition jobs reuse one
    # full-width shuffle instead of serializing the expensive stage.
    proj = proj.repartition(int(shape["cpus"]))
    cnt, acc = digest(tuple(r) for r in proj.toLocalIterator(prefetchPartitions=True))
    out[name] = [cnt, acc]
    spark.catalog.clearCache()
    from data_pipeline_with_hdfs_sql_integration_spark.operators.global_rank import release_pins
    release_pins()
print("PROBE_RESULT " + json.dumps(out))
"""


def run_shape(tag: str, sf: str, names: str) -> dict:
    p = subprocess.run(
        [sys.executable, "-c", RUNNER, json.dumps(SHAPES[tag]), sf, names, REPO],
        capture_output=True,
        text=True,
    )
    for line in p.stdout.splitlines():
        if line.startswith("PROBE_RESULT "):
            return json.loads(line[len("PROBE_RESULT "):])
    print(p.stdout[-3000:], p.stderr[-3000:], sep="\n", file=sys.stderr)
    raise SystemExit(f"no PROBE_RESULT from shape {tag}")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".localdata", "sf10")
    names = os.environ.get("SWEEP_ONLY", "")
    if not names:
        raise SystemExit("set SWEEP_ONLY=q1,q2,...")
    import __spark_entry__ as e

    unknown = [n for n in names.split(",") if n not in e.queries()]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")
    import time

    t0 = time.monotonic()
    a = run_shape("A", sf, names)
    t_a = time.monotonic() - t0
    b = run_shape("B", sf, names)
    t_b = time.monotonic() - t0 - t_a
    ok = bad = 0
    for n in names.split(","):
        if a[n] == b[n]:
            ok += 1
            print(f"OK(invariant) {n} rows={a[n][0]} digest_match=True", flush=True)
        else:
            bad += 1
            print(
                f"FAIL(shape-dependent) {n} A={a[n]} B={b[n]}",
                flush=True,
            )
    print(
        f"INVARIANCE {sf}: {ok} ok / {bad} bad of {ok + bad} "
        f"(shapeA {t_a:.0f}s, shapeB {t_b:.0f}s)"
    )
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
