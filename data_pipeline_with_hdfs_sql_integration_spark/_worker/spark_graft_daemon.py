"""Python worker daemon for the engine's sessions: ``pyspark.daemon``,
importing pyspark from the installed package instead of Spark's zip.

The JVM starts a worker daemon as ``python -m <spark.python.daemon.module>
<worker module>``, with ``$SPARK_HOME/python/lib/pyspark.zip`` and
``py4j-*.zip`` first on PYTHONPATH. zipimport compiles every module it
imports and never caches the bytecode: a fresh interpreter imported
``pyspark.daemon`` and the Arrow serializers in 1.1-1.3 s from the zips,
against 0.26-0.35 s from site-packages (4-core host). When a non-zip pyspark of the zip's version is on the path, this module
moves the zip entries behind it, imports the Arrow serializers that
pandas workers need before the daemon forks (every worker inherits
them), then runs ``pyspark.daemon``'s manager.

It is a top-level module in a directory of its own because ``python -m
pkg.mod`` runs the package's ``__init__`` first, and the engine's
``__init__`` imports pyspark before the path is fixed. ``session.get_spark`` puts
the directory on the worker PYTHONPATH and names this module as the
daemon.
"""

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder


def _version(source: str):
    """``__version__`` of a ``pyspark/version.py`` source, read without
    importing it."""
    m = re.search(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""", source)
    return m.group(1) if m else None


def prefer_installed_pyspark() -> bool:
    """Move the pyspark and py4j zips to the end of ``sys.path`` when a
    pyspark outside them has the zip's version; True when moved."""
    zips = [p for p in sys.path if p.endswith(".zip")
            and (os.path.basename(p) == "pyspark.zip" or os.path.basename(p).startswith("py4j-"))]
    pyspark_zip = next((p for p in zips if os.path.basename(p) == "pyspark.zip"), None)
    rest = [p for p in sys.path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest) if pyspark_zip else None
    if spec is None or not spec.submodule_search_locations:
        return False
    try:
        with zipfile.ZipFile(pyspark_zip) as z:
            zipped = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(list(spec.submodule_search_locations)[0], "version.py")) as f:
            installed = _version(f.read())
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return False
    if zipped is None or zipped != installed:
        return False
    sys.path[:] = rest + zips
    return True


if __name__ == "__main__":
    prefer_installed_pyspark()
    try:
        import pyspark.sql.pandas.serializers  # noqa: F401
    except ImportError:
        pass  # no pandas or pyarrow: plain Python workers still run
    from pyspark.daemon import manager

    manager()
