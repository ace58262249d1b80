"""Pidfile handshake between the box's heavy harnesses (round-11 lesson:
the driver generated BENCH_r11.json while a 24-core sf10 sweep owned the
box — 7 untouched queries read as >2x regressions and the committed
record said "perf regressed 21%" when the truth was "the box was busy").

Heavy tools (full_sweep.py, gen_sf.py) call claim() at startup;
bench.py calls live() before creating its session and refuses to time
queries while any claimant is alive. Stale files
(claimant pid gone) are unlinked on sight, so a crashed sweep can never
wedge future benches.
"""
from __future__ import annotations

import atexit
import os
import sys
from pathlib import Path

PID_DIR = Path(__file__).resolve().parent.parent / ".localdata"


def claim(tag: str) -> Path:
    """Register this process as a box-owning workload until it exits."""
    PID_DIR.mkdir(exist_ok=True)
    p = PID_DIR / f"busy_{tag}_{os.getpid()}.pid"
    p.write_text(" ".join(sys.argv) + "\n")
    atexit.register(lambda: p.unlink(missing_ok=True))
    return p


def live() -> list[str]:
    """Live claimants (other than this process); prunes stale pidfiles."""
    out = []
    if not PID_DIR.exists():
        return out
    for p in sorted(PID_DIR.glob("busy_*.pid")):
        try:
            pid = int(p.stem.rsplit("_", 1)[-1])
        except ValueError:
            p.unlink(missing_ok=True)
            continue
        if pid == os.getpid():
            continue
        if Path(f"/proc/{pid}").exists():
            try:
                cmd = p.read_text().strip()
            except OSError:
                cmd = "?"
            out.append(f"pid {pid}: {cmd[:140]}")
        else:
            p.unlink(missing_ok=True)
    return out


def foreign_spark_procs() -> list[str]:
    """Spark JVMs / sweep harnesses / DuckDB CLIs not under pidfile
    discipline (e.g. started by hand). Advisory: bench records these in
    the artifact so a contaminated number is self-identifying even when
    the contaminator forgot to claim()."""
    hits = []
    me = os.getpid()
    markers = ("org.apache.spark", "full_sweep.py", "ab_bench.py", "duckdb")
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == me:
            continue
        try:
            cmd = (p / "cmdline").read_bytes().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if any(m in cmd for m in markers):
            hits.append(f"pid {p.name}: {cmd.strip()[:140]}")
    return hits
