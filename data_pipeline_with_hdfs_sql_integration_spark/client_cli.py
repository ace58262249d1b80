"""Command-line client with the reference client's exact argv surface.

The reference drives its three RPCs with ``client.py <mode> [-c CODE]
[-f FILE]`` (client.py:9-16: positional ``mode`` restricted to
DbToHdfs | BlockLocations | CalcAvgLoan, ``-c/--code`` int default 0,
``-f/--file`` str default "") and prints, per verb (client.py:20-35):

- DbToHdfs       → the status string
- CalcAvgLoan    → ``error: <err>`` on error, else avg_loan then source
                   on separate lines
- BlockLocations → ``error: <err>`` on error, else the host→count map

The transport is the JSON/HTTP skin (service.LenderHttpService), whose
routes and fields mirror lender.proto message-for-message, so the CLI
needs no grpcio. The ONLY departures from the reference CLI are the
additive ``--host`` / ``--port`` flags (the reference hard-codes
``server:5000``, client.py:18); defaults preserve that address's port.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys

from data_pipeline_with_hdfs_sql_integration_spark.service import VERBS, LenderHttpClient


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        description="argument parser for the engine's three-verb client"
    )
    parser.add_argument(
        "mode",
        help="which action to take",
        choices=list(VERBS),
    )
    parser.add_argument(
        "-c",
        "--code",
        type=int,
        default=0,
        help="county code to query average loan amount in CalcAvgLoan mode",
    )
    parser.add_argument(
        "-f", "--file", type=str, default="", help="file path for BlockLocation"
    )
    parser.add_argument("--host", type=str, default="127.0.0.1")
    parser.add_argument("--port", type=int, default=5000)
    return parser


def main(argv: list[str] | None = None, out=None) -> int:
    """Run one verb; returns the process exit code. ``out`` defaults to
    stdout (injectable for the socket test)."""
    out = out or sys.stdout
    args = build_parser().parse_args(argv)
    with contextlib.closing(LenderHttpClient(port=args.port, host=args.host)) as client:
        if args.mode == "DbToHdfs":
            resp = client.db_to_hdfs()
            print(resp["status"], file=out)
        elif args.mode == "CalcAvgLoan":
            resp = client.calc_avg_loan(args.code)
            if resp.get("error"):
                print(f"error: {resp['error']}", file=out)
            else:
                print(resp["avg_loan"], file=out)
                print(resp["source"], file=out)
        else:  # BlockLocations
            resp = client.block_locations(args.file)
            if resp.get("error"):
                print(f"error: {resp['error']}", file=out)
            else:
                # The reference prints the proto map container; the JSON
                # object is the deterministic analog (sorted for stability).
                print(json.dumps(resp["block_entries"], sort_keys=True), file=out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
