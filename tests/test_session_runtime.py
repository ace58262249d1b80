"""Session settings that remove one-time costs of a fresh session: the
JVM's case mapping instead of ICU's, and Python workers that import
pyspark outside Spark's pyspark.zip."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile

from pyspark.sql import functions as F

from data_pipeline_with_hdfs_sql_integration_spark.functions.textfns import tokens
from data_pipeline_with_hdfs_sql_integration_spark.session import (
    WORKER_DIR,
    child_session,
    tws_ready,
)

ICU = "spark.sql.icu.caseMappings.enabled"

#: Greek final sigma, sharp s both cases, dotted and dotless i, the
#: Kelvin sign, Cyrillic, titlecase digraphs, emoji, and ASCII.
SAMPLE = [
    "ΟΔΟΣ Σίσυφος ΣΑΣ ς",
    "straße STRASSE ẞ ß",
    "İstanbul ıi Iİ",
    "K Kelvin KB",
    "Привет МИР ёЁ",
    "ǅungla ǆ Ǆ ǈ ǋ",
    "emoji 😀👍🏽 ok 🇬🇷",
    "MiXeD ascii 123_abc-DEF",
]


def test_case_mapping_matches_icu(spark):
    """The JVM's case mapping gives ICU's lower, upper and tokens on
    this sample (they differ only on letters newer than the JDK's
    Unicode tables)."""
    assert spark.conf.get(ICU) == "false"
    out = {}
    for enabled in ("true", "false"):
        session = child_session(spark, {ICU: enabled})
        df = session.createDataFrame([(t,) for t in SAMPLE], "t string")
        out[enabled] = sorted(
            tuple(r)
            for r in df.select("t", F.lower("t"), F.upper("t"), tokens(F.col("t"))).collect()
        )
    assert out["true"] == out["false"]
    assert len(out["false"]) == len(SAMPLE)


def _worker_pyspark(spark):
    def probe(batches):
        import pandas as pd
        import pyspark

        for _ in batches:
            yield pd.DataFrame({"f": [pyspark.__file__]})

    return spark.range(1, numPartitions=1).mapInPandas(probe, "f string").collect()[0].f


def test_workers_import_pyspark_outside_the_zip_after_tws_ready(spark):
    """tws_ready merges its dir into the worker PYTHONPATH: the daemon
    the changed env starts still finds spark_graft_daemon."""
    tws_ready(spark)
    env_path = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert WORKER_DIR in env_path
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "spark_graft_daemon"
    where = _worker_pyspark(spark)
    assert ".zip" not in where and where.endswith(os.path.join("pyspark", "__init__.py"))


def _daemon_module():
    spec = importlib.util.spec_from_file_location(
        "spark_graft_daemon", os.path.join(WORKER_DIR, "spark_graft_daemon.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _zip_with_version(path, version):
    path.parent.mkdir(parents=True)
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def test_daemon_moves_the_zip_only_for_the_same_version(tmp_path, monkeypatch):
    import pyspark

    daemon = _daemon_module()
    installed = os.path.dirname(os.path.dirname(pyspark.__file__))
    py4j = str(tmp_path / "py4j-0.0-src.zip")
    same = _zip_with_version(tmp_path / "a" / "pyspark.zip", pyspark.__version__)
    monkeypatch.setattr(sys, "path", [same, py4j, installed])
    assert daemon.prefer_installed_pyspark()
    assert sys.path == [installed, same, py4j]

    other = _zip_with_version(tmp_path / "b" / "pyspark.zip", "0.0.1")
    monkeypatch.setattr(sys, "path", [other, py4j, installed])
    assert not daemon.prefer_installed_pyspark()
    assert sys.path == [other, py4j, installed]

    monkeypatch.setattr(sys, "path", [same, py4j])  # no pyspark outside the zip
    assert not daemon.prefer_installed_pyspark()
    assert sys.path == [same, py4j]
