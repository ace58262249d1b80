"""WebHDFS REST client (sources/webhdfs.py) against a wire-format
mock NameNode/DataNode — the protocol the reference actually speaks
for BlockLocations (server.py:70-87). No real NameNode exists in the
sandbox, so the mock serves the documented WebHDFS v1 JSON shapes
(GETFILEBLOCKLOCATIONS / GETFILESTATUS / LISTSTATUS) over a real
socket."""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from data_pipeline_with_hdfs_sql_integration_spark.sources import webhdfs

# A tiny HDFS namespace: /data is a directory of two files; blocks
# carry replica host lists exactly as the REST response nests them.
FILES = {
    "/data/part-0.parquet": {
        "bytes": b"PAR1-part0-payload",
        "blocks": [
            {"offset": 0, "length": 10, "hosts": ["dn1", "dn2"]},
            {"offset": 10, "length": 8, "hosts": ["dn2", "dn3"]},
        ],
    },
    "/data/part-1.parquet": {
        "bytes": b"PAR1-part1",
        "blocks": [{"offset": 0, "length": 10, "hosts": ["dn1", "dn3"]}],
    },
}


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):  # quiet
        pass

    def _json(self, code: int, doc: dict) -> None:
        body = json.dumps(doc).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 (http.server API)
        parsed = urllib.parse.urlparse(self.path)
        q = dict(urllib.parse.parse_qsl(parsed.query))
        op = q.get("op", "")
        assert parsed.path.startswith("/webhdfs/v1")
        path = parsed.path[len("/webhdfs/v1"):]
        if op == "GETFILEBLOCKLOCATIONS":
            if path not in FILES:
                self._json(404, {"RemoteException": {
                    "exception": "FileNotFoundException",
                    "message": f"File does not exist: {path}"}})
                return
            self._json(200, {"BlockLocations": {
                "BlockLocation": FILES[path]["blocks"]}})
        elif op == "GETFILESTATUS":
            if path in FILES:
                self._json(200, {"FileStatus": {
                    "type": "FILE", "length": len(FILES[path]["bytes"]),
                    "pathSuffix": ""}})
            elif any(f.startswith(path.rstrip("/") + "/") for f in FILES):
                self._json(200, {"FileStatus": {"type": "DIRECTORY",
                                                "length": 0, "pathSuffix": ""}})
            else:
                self._json(404, {"RemoteException": {
                    "exception": "FileNotFoundException",
                    "message": f"File does not exist: {path}"}})
        elif op == "LISTSTATUS":
            prefix = path.rstrip("/") + "/"
            children = [{"type": "FILE", "length": len(v["bytes"]),
                         "pathSuffix": f[len(prefix):]}
                        for f, v in sorted(FILES.items()) if f.startswith(prefix)]
            self._json(200, {"FileStatuses": {"FileStatus": children}})
        else:
            self._json(400, {"RemoteException": {
                "exception": "UnsupportedOperationException",
                "message": f"op {op} not supported"}})


@pytest.fixture(scope="module")
def namenode():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()


def test_block_locations_wire_shape(namenode):
    blocks = webhdfs.get_file_block_locations(namenode, "/data/part-0.parquet")
    assert blocks == [
        {"offset": 0, "length": 10, "hosts": ["dn1", "dn2"]},
        {"offset": 10, "length": 8, "hosts": ["dn2", "dn3"]},
    ]


def test_block_histogram_reference_flattening(namenode):
    # Reference server.py:80-87: one count per replica host per block,
    # directories aggregate over their files.
    assert webhdfs.block_histogram(namenode, "/data") == {
        "dn1": 2, "dn2": 2, "dn3": 2}
    assert webhdfs.block_histogram(namenode, "/data/part-1.parquet") == {
        "dn1": 1, "dn3": 1}


def test_liststatus_recursion(namenode):
    assert webhdfs.walk_files(namenode, "/data") == [
        "/data/part-0.parquet", "/data/part-1.parquet"]
    assert webhdfs.walk_files(namenode, "/data/part-1.parquet") == [
        "/data/part-1.parquet"]


def test_remote_exception_surfaces(namenode):
    with pytest.raises(webhdfs.WebHdfsError, match="does not exist"):
        webhdfs.get_file_block_locations(namenode, "/nope")


def test_pipeline_block_report_rest_backend(namenode):
    # The facade's BlockLocations verb routed over REST — no Spark
    # session needed on this branch, proving the backend swap is clean.
    from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline

    pipe = Pipeline(spark=None, main_path="/data", cache_root="/tmp/x",
                    key_col="k", value_col="v", webhdfs_url=namenode)
    assert pipe.block_report() == {"dn1": 2, "dn2": 2, "dn3": 2}
