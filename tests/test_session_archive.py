"""session.get_spark and the driver JVM's class-data-sharing archive:
the first session records the classes it loads and publishes
`<key>.jsa` at exit; later sessions map it. Each session runs in a
subprocess with its own XDG_CACHE_HOME, so the user's archive is never
touched and every JVM starts fresh."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

from tests.conftest import REPO

# One session: print, as the only stdout line, the answer to a query,
# every mapped file under the cache root and the JVM's CDS arguments.
# With "short" in argv, the script ends the JVM itself and keeps only
# the first 1000 lines of the class list, so the exit-time dump takes
# seconds instead of the ~45 s of a full list.
_SESSION = r"""
import glob, json, os, sys
sys.path.insert(0, sys.argv[1])
from data_pipeline_with_hdfs_sql_integration_spark.session import get_spark
spark = get_spark("archive-test", shuffle_partitions=2)
proc = spark.sparkContext._gateway.proc
root = os.path.join(os.environ["XDG_CACHE_HOME"], "spark-graft")
with open(f"/proc/{proc.pid}/maps") as f:
    mapped = sorted({l.split()[-1] for l in f if root in l})
args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
print(json.dumps({
    "answer": spark.range(10).selectExpr("sum(id) AS s").collect()[0].s,
    "mapped": mapped,
    "cds_args": [a for a in args if "Shared" in a or "ClassList" in a],
}))
if "short" in sys.argv:
    spark.stop()
    proc.stdin.close()
    proc.wait()
    (classlist,) = glob.glob(os.path.join(root, "*.classlist"))
    with open(classlist) as f:
        head = f.readlines()[:1000]
    with open(classlist, "w") as f:
        f.writelines(head)
"""


def _session(cache: Path, *flags: str, **env: str) -> dict:
    """Run one session in a subprocess; its stdout must be exactly one
    JSON line, whatever the JVM or the exit-time dump printed."""
    child_env = {k: v for k, v in os.environ.items() if k not in ("SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS")}
    child_env.update(XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_JDBC_JARS="", **env)
    out = subprocess.run(
        [sys.executable, "-c", _SESSION, str(REPO), *flags],
        env=child_env, stdout=subprocess.PIPE, text=True, timeout=300, check=True,
    ).stdout
    lines = out.splitlines()
    assert len(lines) == 1, out
    return json.loads(lines[0])


def _key(cache: Path) -> Path:
    """The archive path prefix `_archive_plan` uses under `cache`."""
    from pyspark.find_spark_home import _find_spark_home

    from data_pipeline_with_hdfs_sql_integration_spark import session

    java = os.path.realpath(shutil.which("java"))
    root = cache / "spark-graft"
    root.mkdir(parents=True, exist_ok=True)
    return root / session._archive_key(java, _find_spark_home())


def test_first_session_records_then_later_sessions_map_the_archive(tmp_path):
    cache = tmp_path / "cache"
    first = _session(cache, "short")
    assert first["answer"] == 45
    assert [a.split("=")[0] for a in first["cds_args"]] == ["-XX:DumpLoadedClassList"]
    root = cache / "spark-graft"
    (archive,) = root.glob("*.jsa")
    (classlist,) = root.glob("*.classlist")
    assert archive.stem == classlist.stem
    assert list(root.glob("*.build-*")) == []

    second = _session(cache)
    assert second["answer"] == 45
    assert second["cds_args"] == [f"-XX:SharedArchiveFile={archive}"]
    assert second["mapped"] == [str(archive)]


def test_broken_or_mismatched_archive_falls_back(tmp_path):
    """A garbage file at the final path, or an archive dumped for
    another classpath, falls back quietly to a working session; a
    truncated staging file left by a dead builder is never mapped."""
    cache = tmp_path / "cache"
    key = _key(cache)
    jdk = Path(os.path.realpath(shutil.which("java"))).parent.parent
    real = jdk / "lib" / "server" / "classes.jsa"
    truncated = real.read_bytes()[: 1 << 16] if real.is_file() else b"\0" * (1 << 16)
    Path(f"{key}.jsa.build-1").write_bytes(truncated)
    Path(f"{key}.jsa").write_bytes(b"not a class-data-sharing archive\n" * 128)

    garbage = _session(cache)
    assert garbage["answer"] == 45
    assert garbage["cds_args"] == [f"-XX:SharedArchiveFile={key}.jsa"]
    assert garbage["mapped"] == []

    # A valid archive whose app classpath is one jar, not the driver's.
    Path(f"{key}.jsa").unlink()
    classes = tmp_path / "jdk.classlist"
    classes.write_text("java/lang/Object\njava/lang/String\n")
    jar = sorted(Path(os.environ.get("SPARK_HOME", "/opt/spark"), "jars").glob("*.jar"))[0]
    subprocess.run(
        ["java", "-Xshare:dump", f"-XX:SharedClassListFile={classes}",
         f"-XX:SharedArchiveFile={key}.jsa", "-cp", str(jar)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True, timeout=120,
    )
    # The JVM may still map the archive's JDK classes; it must not fail.
    mismatched = _session(cache)
    assert mismatched["answer"] == 45
    assert mismatched["cds_args"] == [f"-XX:SharedArchiveFile={key}.jsa"]
    assert not list((cache / "spark-graft").glob("*.classlist"))


def test_conf_dir_with_a_real_file_gets_no_archive(tmp_path, monkeypatch):
    """JDK 17 cannot share an archive whose classpath holds a non-empty
    directory: a conf dir with a real spark-defaults.conf launches the
    JVM as is and claims no class list. A templates-only conf dir is
    swapped for an empty one, the flags are appended to the user's
    SPARK_SUBMIT_OPTS, and both variables are restored after launch."""
    from pyspark import SparkContext

    from data_pipeline_with_hdfs_sql_integration_spark import session

    def launch_env():
        with session._driver_jvm_env() as recorder:
            env = {k: os.environ[k] for k in ("SPARK_SUBMIT_OPTS", "SPARK_CONF_DIR")}
        return recorder, env

    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    (conf / "log4j2.properties.template").write_text("")
    user = {"SPARK_SUBMIT_OPTS": "-Dgraft.test=1", "SPARK_CONF_DIR": str(conf)}
    monkeypatch.setattr(SparkContext, "_gateway", None)  # as before a first launch
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for k, v in user.items():
        monkeypatch.setenv(k, v)
    assert launch_env() == (None, user)
    assert not (tmp_path / "cache").exists()

    (conf / "spark-defaults.conf").unlink()
    recorder, env = launch_env()
    java, classlist, archive = recorder
    assert env["SPARK_SUBMIT_OPTS"] == f"-Dgraft.test=1 -XX:DumpLoadedClassList={classlist} -Xlog:cds=off"
    assert env["SPARK_CONF_DIR"] == str(tmp_path / "cache/spark-graft/conf")
    assert os.listdir(env["SPARK_CONF_DIR"]) == []
    assert {k: os.environ[k] for k in user} == user
    # The claim is exclusive: the next launch for this key records nothing.
    assert launch_env() == (None, user)
