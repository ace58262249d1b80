"""Network skin for the three-verb service surface (lender.proto:28-37).

The reference serves DbToHdfs, BlockLocations and CalcAvgLoan from one
gRPC servicer (server.py:149-160). Here api.Pipeline runs them, and every
skin derives from one verb table (``VERBS``), one codec pair
(``encode`` / ``decode``) and one dispatcher (``LenderHttpService._handle``):

- ``LenderHttpService`` / ``LenderHttpClient``: one HTTP POST route per
  verb. Bodies are JSON (no dependency) or, with Content-Type
  ``application/x-protobuf``, lender.proto wire bytes that a reference
  client's ``FromString`` parses unchanged. Both wires carry every field,
  defaults included; a malformed body gets 400.
- ``serve_grpc``: the same verbs on a grpc.Server. grpcio is optional;
  without it ``serve_grpc`` raises NotImplementedError.

Connections stay open, as a gRPC channel does. The server speaks
HTTP/1.1 keep-alive and serves each connection on its own thread, so
concurrent clients are served concurrently, like the reference's
ThreadPoolExecutor(max_workers=10); the verbs are thread-safe.
``LenderHttpClient`` keeps one ``http.client.HTTPConnection`` per
calling thread. Both ends set TCP_NODELAY: each writes headers and body
as two sends, and with Nagle's algorithm the second send waits for the
peer's delayed ACK, about 40 ms a request. ``stop()`` shuts down the
connections still open, so it returns while clients hold idle ones.
"""

from __future__ import annotations

import contextlib
import functools
import http.client
import io
import json
import logging
import socket
import threading
import time
import urllib.error
import weakref
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline
from data_pipeline_with_hdfs_sql_integration_spark.lender_pb import _FIELD_LAYOUT, messages

_log = logging.getLogger(__name__)

#: verb -> (request message, response message) names in lender.proto.
VERBS = {
    "DbToHdfs": ("Empty", "StatusString"),
    "BlockLocations": ("BlockLocationsReq", "BlockLocationsResp"),
    "CalcAvgLoan": ("CalcAvgLoanReq", "CalcAvgLoanResp"),
}

_CTYPES = {"json": "application/json", "proto": "application/x-protobuf"}
_PROTO = _CTYPES["proto"]
#: JSON type of each lender.proto field type; calling one gives its default.
_JSON_TYPES = {"string": str, "int32": int, "map<string,int32>": dict}


def _fields(msg) -> dict:
    """Every field of a lender.proto message, defaults included. Its only
    message-typed fields are maps, which come back as a ``dict``."""
    return {
        f.name: dict(getattr(msg, f.name)) if f.message_type else getattr(msg, f.name)
        for f in msg.DESCRIPTOR.fields
    }


def encode(ctype: str, message: str, body: dict) -> bytes:
    """Serialize ``body``, the fields of lender.proto ``message``."""
    if ctype == _PROTO:
        return messages()[message](**body).SerializeToString()
    return json.dumps(body).encode()


def decode(ctype: str, message: str, raw: bytes) -> dict:
    """Parse ``raw`` into every field of ``message``, defaults included.
    A malformed body raises ValueError (JSON) or protobuf's DecodeError;
    a proto body raises NotImplementedError when no protobuf runtime exists."""
    if ctype == _PROTO:
        return _fields(messages()[message].FromString(raw))
    body = json.loads(raw or b"{}")
    types = {name: _JSON_TYPES[ftype] for name, _num, ftype in _FIELD_LAYOUT[message]}
    if not isinstance(body, dict) or any(type(v) is not types.get(k) for k, v in body.items()):
        raise ValueError(f"expected a JSON {message} with fields {list(types)}")
    return {name: body.get(name, t()) for name, t in types.items()}


class _Server(ThreadingHTTPServer):
    """ThreadingHTTPServer whose ``server_close`` also ends the
    connections it still serves: an idle keep-alive handler blocks in
    ``readline`` until its socket is shut down, and then its thread exits."""

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self._open: dict[socket.socket, threading.Thread] = {}
        self._open_lock = threading.Lock()

    def process_request(self, request, client_address) -> None:
        # Registered before the thread starts, so that a connection
        # accepted just before shutdown() is ended too.
        thread = threading.Thread(
            target=self.process_request_thread, args=(request, client_address), daemon=True
        )
        with self._open_lock:
            self._open[request] = thread
        thread.start()

    def shutdown_request(self, request) -> None:
        with self._open_lock:
            self._open.pop(request, None)  # None: never accepted (verify_request)
        super().shutdown_request(request)

    def server_close(self) -> None:
        super().server_close()
        # Under the lock, so that no handler closes its socket meanwhile.
        with self._open_lock:
            threads = list(self._open.values())
            for sock in self._open:
                with contextlib.suppress(OSError):
                    sock.shutdown(socket.SHUT_RDWR)
        deadline = time.monotonic() + 5
        for thread in threads:
            thread.join(max(0.0, deadline - time.monotonic()))


class LenderHttpService:
    """Serve a Pipeline over HTTP with the proto's three verbs.

    ``db_to_store_fn`` supplies the DbToHdfs ingestion (the reference
    hard-codes its SQL extract in server.py:32-38; here the caller binds
    source/dim/band once at service construction), returning the status
    string. Start with ``start()`` (binds an OS-assigned port unless
    given), stop with ``stop()``.
    """

    def __init__(
        self,
        pipeline: Pipeline,
        db_to_store_fn: Callable[[], str] | None = None,
        port: int = 0,
    ) -> None:
        self.pipeline = pipeline
        self.db_to_store_fn = db_to_store_fn
        self._requested_port = port
        self._httpd: _Server | None = None
        self._thread: threading.Thread | None = None

    # -- verb implementations (proto response dicts) --------------------
    def db_to_hdfs(self) -> dict:
        """DbToHdfs (lender.proto:29-30) → StatusString. Retry-on-error
        lives inside Pipeline.db_to_store (reference server.py:25-68);
        a terminal failure becomes the same ``ERROR: ...`` status string
        the reference returns rather than a transport fault."""
        if self.db_to_store_fn is None:
            return {"status": "ERROR: no ingestion bound for DbToHdfs"}
        try:
            return {"status": self.db_to_store_fn()}
        except Exception as exc:  # noqa: BLE001 — status-string contract
            _log.warning("DbToHdfs failed", exc_info=True)
            return {"status": f"ERROR: {exc}"}

    def block_locations(self, path: str) -> dict:
        """BlockLocations (lender.proto:32-33) → BlockLocationsResp:
        host → block-count map, errors in-band (server.py:70-93)."""
        try:
            return {"block_entries": self.pipeline.block_report(path or None), "error": ""}
        except Exception as exc:  # noqa: BLE001
            _log.warning("BlockLocations(%r) failed", path, exc_info=True)
            return {"block_entries": {}, "error": str(exc)}

    def calc_avg_loan(self, county_code: int) -> dict:
        """CalcAvgLoan (lender.proto:35-36) → CalcAvgLoanResp. The
        create/reuse/recreate source indicator comes from the partition
        cache state machine (server.py:95-143 ≙ operators/partition_cache).
        An in-band error (a key with no rows) is logged like a raised one."""
        try:
            res = self.pipeline.calc_avg(county_code)
        except Exception as exc:  # noqa: BLE001
            _log.warning("CalcAvgLoan(%s) failed", county_code, exc_info=True)
            return {"avg_loan": 0, "source": "", "error": str(exc)}
        if res.error:
            _log.warning("CalcAvgLoan(%s): %s", county_code, res.error)
        return {"avg_loan": res.avg, "source": res.source, "error": res.error}

    # -- transport ------------------------------------------------------
    def _handle(self, verb: str, body: dict) -> dict:
        """Run one verb on a decoded request: the one dispatch point of
        every skin (HTTP on either wire, gRPC)."""
        if verb == "DbToHdfs":
            return self.db_to_hdfs()
        if verb == "BlockLocations":
            return self.block_locations(body["path"])
        if verb == "CalcAvgLoan":
            return self.calc_avg_loan(body["county_code"])
        raise KeyError(verb)

    def start(self) -> int:
        """Start serving on a background thread; returns the bound port."""
        service = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"  # keep-alive
            disable_nagle_algorithm = True

            def do_POST(self) -> None:  # noqa: N802 — http.server API
                verb = self.path.strip("/")
                if verb not in VERBS:
                    self.send_error(404, f"unknown rpc {verb!r}; known: {list(VERBS)}")
                    return
                req, resp = VERBS[verb]
                is_proto = self.headers.get("Content-Type", "").startswith(_PROTO)
                ctype = _PROTO if is_proto else _CTYPES["json"]
                try:
                    length = int(self.headers.get("Content-Length") or 0)
                    if length < 0:
                        raise ValueError("negative Content-Length")
                    body = decode(ctype, req, self.rfile.read(length))
                except NotImplementedError:
                    self.send_error(415, "no protobuf runtime on this host")
                    return
                except Exception as exc:  # noqa: BLE001 — any malformed body is a 400
                    self.send_error(400, f"malformed {req} request", str(exc))
                    return
                payload = encode(ctype, resp, service._handle(verb, body))
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *args) -> None:  # quiet test output
                pass

        self._httpd = _Server(("127.0.0.1", self._requested_port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


class LenderHttpClient:
    """Client for LenderHttpService — the HTTP analog of client.py:9-35,
    one method per proto verb, returning the response dicts with every
    field. ``wire`` is ``"json"`` or ``"proto"`` (lender.proto bytes).

    Each calling thread keeps one open connection (``http.client`` sets
    TCP_NODELAY in ``connect()``) until ``close()`` or the thread ends.
    A reused connection that fails before a response arrives, because
    the server closed or restarted, is reopened and the request sent
    once more. A reply other than 200 raises ``urllib.error.HTTPError``."""

    def __init__(
        self,
        port: int,
        host: str = "127.0.0.1",
        timeout_s: float = 60.0,
        wire: str = "json",
    ) -> None:
        if wire not in _CTYPES:
            raise ValueError(f"wire must be one of {list(_CTYPES)}, got {wire!r}")
        self.host, self.port = host, port
        self.base = f"http://{host}:{port}"
        self.timeout_s = timeout_s
        self.ctype = _CTYPES[wire]
        self._local = threading.local()
        # Weak: a thread's connection is dropped when the thread ends.
        self._conns: weakref.WeakSet[http.client.HTTPConnection] = weakref.WeakSet()

    def close(self) -> None:
        """Close the connections of every thread; a later call reconnects."""
        for conn in list(self._conns):
            conn.close()

    def _post(self, conn: http.client.HTTPConnection, verb: str, payload: bytes):
        conn.request("POST", f"/{verb}", payload, {"Content-Type": self.ctype})
        return conn.getresponse()

    def _call(self, verb: str, body: dict) -> dict:
        req, resp = VERBS[verb]
        payload = encode(self.ctype, req, body)
        conn = getattr(self._local, "conn", None)
        if conn is None:
            conn = self._local.conn = http.client.HTTPConnection(self.host, self.port, timeout=self.timeout_s)
            self._conns.add(conn)
        reused = conn.sock is not None
        try:
            try:
                r = self._post(conn, verb, payload)
            except ConnectionError:  # RemoteDisconnected: no status line
                if not reused:
                    raise
                conn.close()
                r = self._post(conn, verb, payload)
            raw = r.read()
        except BaseException:
            conn.close()  # a half-used connection cannot carry the next request
            raise
        if r.status != 200:
            raise urllib.error.HTTPError(f"{self.base}/{verb}", r.status, r.reason, r.headers, io.BytesIO(raw))
        return decode(self.ctype, resp, raw)

    def db_to_hdfs(self) -> dict:
        return self._call("DbToHdfs", {})

    def block_locations(self, path: str = "") -> dict:
        return self._call("BlockLocations", {"path": path})

    def calc_avg_loan(self, county_code: int) -> dict:
        return self._call("CalcAvgLoan", {"county_code": county_code})


def serve_grpc(service: LenderHttpService, port: int = 5000, max_workers: int = 10):
    """Serve ``service``'s three verbs on a grpc.Server (server.py:149-160).

    Each verb is a generic unary-unary handler: lender.proto bytes are
    decoded and encoded by the HTTP skin's codec and the verb runs in
    ``service._handle``. Returns the started server. Raises
    NotImplementedError when grpcio is not installed; the HTTP skin with
    ``wire="proto"`` then carries the same message bytes over HTTP/1.1."""
    try:
        import grpc
    except ImportError as exc:  # pragma: no cover — env-dependent
        raise NotImplementedError(
            "grpcio is not installed; use LenderHttpService, which serves "
            "the same verbs and, with wire='proto', the same message bytes"
        ) from exc
    from concurrent.futures import ThreadPoolExecutor

    handlers = {
        verb: grpc.unary_unary_rpc_method_handler(
            lambda body, context, verb=verb: service._handle(verb, body),
            request_deserializer=functools.partial(decode, _PROTO, req),
            response_serializer=functools.partial(encode, _PROTO, resp),
        )
        for verb, (req, resp) in VERBS.items()
    }
    server = grpc.server(ThreadPoolExecutor(max_workers=max_workers))
    server.add_generic_rpc_handlers(
        (grpc.method_handlers_generic_handler("Lender", handlers),)
    )
    server.add_insecure_port(f"[::]:{port}")
    server.start()
    return server
