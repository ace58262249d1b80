"""Shared run plumbing: the run's private directories and environment,
the Spark session's start/stop (including the JVM and its children),
input generation in a child process, and small statistics helpers.

Everything a run writes lives under ``<checkout>/.perfbench``: inputs
and oracle digests are cached per seed in ``data/``, traces go to
``traces/``, and each run's scratch space (temp files, Spark local
dirs, derived index stores) is ``run-<pid>/``, removed at exit.
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
DRIVER_MEM = "3g"


#: Per-layer metrics every workload's traced run reports (README.md).
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "setup.rest_s": "s",
    "op.build_ms": "ms",
    "op.exec_warm_ms": "ms",
    "op.exec_cold_ms": "ms",
    "spark.jobs_per_warm_op": "count",
    "spark.tasks_per_warm_op": "count",
    "spark.jobs_per_cold_op": "count",
    "spark.tasks_per_cold_op": "count",
    "peak_rss_mb": "MB",
    "tracing.overhead_pct": "%",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    scratch: Path = field(init=False)

    def __post_init__(self) -> None:
        self.scratch = WORK / f"run-{os.getpid()}"

    def prepare_env(self) -> None:
        """Point every temp/scratch location of Python, Spark and the
        JVM into this run's scratch dir; must run before pyspark starts."""
        tmp = self.scratch / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        n = str(cpus())
        conf = [
            "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={self.scratch / 'warehouse'}",
        ]
        if self.trace:
            # Keep every job/stage of the run in the status store so the
            # per-span counts resolve after the measured phase.
            conf += ["--conf", "spark.ui.retainedJobs=100000",
                     "--conf", "spark.ui.retainedStages=100000"]
        os.environ.update({
            "TMPDIR": str(tmp),
            "SPARK_LOCAL_DIRS": str(self.scratch / "spark-local"),
            "TZ": "UTC",
            "SPARK_GRAFT_CPUS": n,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_JDBC_JARS": "",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(c) for c in conf) + " pyspark-shell",
        })
        time.tzset()
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def inputs(self, scale: float, tables) -> tuple[str, float]:
        """Generate (or reuse) this seed's inputs in a child process, so
        generation memory never counts toward the run's peak RSS.
        Returns (data dir, seconds spent)."""
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, str(Path(__file__).parent / "inputs.py"),
             str(WORK / "data"), str(self.seed), repr(scale), *tables],
            check=True, stdout=subprocess.PIPE, text=True,
        ).stdout.strip().splitlines()[-1]
        return out, time.monotonic() - t0

    def trace_path(self) -> Path:
        return WORK / "traces" / f"{self.workload}-seed{self.seed}.json"

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)


class Session:
    """The engine's SparkSession plus the JVM process behind it."""

    def __init__(self, spark) -> None:
        self.spark = spark
        gw = spark.sparkContext._gateway
        self.proc = getattr(gw, "proc", None)

    def jvm_hwm_mb(self) -> float:
        return _hwm_mb(self.proc.pid) if self.proc else 0.0

    def stop(self) -> None:
        """Stop Spark, then the JVM, then wait for every process the JVM
        started (Python workers) to exit."""
        from pyspark import SparkContext

        kids = _descendants(self.proc.pid) if self.proc else []
        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if self.proc is not None:
                if self.proc.stdin:
                    self.proc.stdin.close()
                try:
                    self.proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    self.proc.kill()
                    self.proc.wait()
            _wait_gone(kids)


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_hwm_mb() -> float:
    return _hwm_mb("self")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _wait_gone(pids: list[int], timeout_s: float = 10.0) -> None:
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    import numpy as np

    return float(np.quantile(np.asarray(values, dtype=float), q))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
