"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of BENCHMARK.json against the engine in this
checkout and prints, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``).
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("serve_zipf", "batch_sf0.05")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare_env()
    try:
        # Fails (no result printed) when the engine is not in this checkout.
        import data_pipeline_with_hdfs_sql_integration_spark  # noqa: F401

        if args.workload == "serve_zipf":
            import serve as workload
        else:
            import batch as workload
        result = workload.run(run, t_excluded=0.0)
    finally:
        run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
