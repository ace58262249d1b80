"""WebHDFS REST v1 client — the reference's wire protocol for storage
introspection, implemented against the public WebHDFS HTTP spec.

Reference behavior (server.py:70-81): a GET to
``http://<namenode>:9870/webhdfs/v1<path>?op=GETFILEBLOCKLOCATIONS``,
then flatten ``BlockLocations.BlockLocation[*].hosts`` into a
host → block-count map. `operators/block_locations.py` reproduces the
semantics through the Hadoop FileSystem JVM API (works on file:// in
this sandbox); THIS module reproduces the actual REST path so a
deployment with a real NameNode gets wire parity:

* ``GETFILEBLOCKLOCATIONS`` — the reference's exact call.
* ``LISTSTATUS`` / ``GETFILESTATUS`` — directory recursion, so a
  directory of parquet part-files aggregates like the JVM-API version.

Stdlib HTTP (urllib) — no `requests` dependency.

All functions take ``base_url`` like ``http://host:9870`` and an
absolute HDFS path. Errors follow the WebHDFS RemoteException JSON
shape and raise ``WebHdfsError`` with the server's message.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

from data_pipeline_with_hdfs_sql_integration_spark.operators.block_locations import host_counts


class WebHdfsError(RuntimeError):
    """RemoteException from the WebHDFS server (message preserved)."""


def _url(base_url: str, path: str, op: str, **params: object) -> str:
    if not path.startswith("/"):
        path = "/" + path
    q = {"op": op}
    q.update({k: str(v) for k, v in params.items() if v is not None})
    return f"{base_url.rstrip('/')}/webhdfs/v1{urllib.parse.quote(path)}?" + urllib.parse.urlencode(q)


def _get_json(url: str, timeout: float) -> dict:
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as exc:  # RemoteException body
        try:
            body = json.loads(exc.read().decode("utf-8"))
            msg = body.get("RemoteException", {}).get("message", str(exc))
        except Exception:
            msg = str(exc)
        raise WebHdfsError(msg) from exc


def get_file_block_locations(base_url: str, path: str, *, offset: int | None = None,
                             length: int | None = None, timeout: float = 30.0) -> list[dict]:
    """``op=GETFILEBLOCKLOCATIONS`` (reference server.py:72) →
    ``[{"offset": int, "length": int, "hosts": [str]}, ...]``."""
    doc = _get_json(_url(base_url, path, "GETFILEBLOCKLOCATIONS",
                         offset=offset, length=length), timeout)
    blocks = doc.get("BlockLocations", {}).get("BlockLocation", [])
    return [
        {
            "offset": int(b.get("offset", 0)),
            "length": int(b.get("length", 0)),
            "hosts": list(b.get("hosts", [])),
        }
        for b in blocks
    ]


def get_file_status(base_url: str, path: str, *, timeout: float = 30.0) -> dict:
    """``op=GETFILESTATUS`` → the FileStatus JSON object."""
    return _get_json(_url(base_url, path, "GETFILESTATUS"), timeout)["FileStatus"]


def list_status(base_url: str, path: str, *, timeout: float = 30.0) -> list[dict]:
    """``op=LISTSTATUS`` → list of FileStatus JSON objects."""
    doc = _get_json(_url(base_url, path, "LISTSTATUS"), timeout)
    return list(doc.get("FileStatuses", {}).get("FileStatus", []))


def walk_files(base_url: str, path: str, *, timeout: float = 30.0) -> list[str]:
    """All file (non-directory) paths under ``path``, recursively —
    the directory recursion the JVM-API version does with listStatus."""
    st = get_file_status(base_url, path, timeout=timeout)
    if st.get("type") != "DIRECTORY":
        return [path]
    out: list[str] = []
    stack = [path.rstrip("/")]
    while stack:
        d = stack.pop()
        for child in list_status(base_url, d, timeout=timeout):
            suffix = child.get("pathSuffix", "")
            p = f"{d}/{suffix}" if suffix else d
            if child.get("type") == "DIRECTORY":
                stack.append(p)
            else:
                out.append(p)
    return out


def block_histogram(base_url: str, path: str, *, timeout: float = 30.0) -> dict[str, int]:
    """Host → block-count map with the reference's exact flattening
    (server.py:80-87): every block contributes one count per host it
    is replicated on. Directories recurse over their files so a
    parquet directory reports like the JVM-API histogram."""
    return host_counts(
        b
        for f in walk_files(base_url, path, timeout=timeout)
        for b in get_file_block_locations(base_url, f, timeout=timeout)
    )
