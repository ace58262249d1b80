"""Deployment skin for the three-verb service surface.

The reference exposes its pipeline as a gRPC service (lender.proto:28-37)
with three unary RPCs — DbToHdfs, BlockLocations, CalcAvgLoan — served
by server.py:149-160 and driven by client.py:9-35. The engine's query
capability behind those verbs lives in api.Pipeline; this module adds
the network skin:

- ``LenderHttpService`` / ``LenderHttpClient``: a dependency-free
  JSON-over-HTTP transport (stdlib ThreadingHTTPServer + urllib) whose
  routes, request fields, and response fields mirror lender.proto
  message-for-message (status / block_entries+error / avg_loan+source+
  error), so a reference client porting to HTTP changes transport only.
  Since round 8 the same routes also negotiate
  ``application/x-protobuf``: bodies are REAL lender.proto wire bytes
  built by the runtime-generated message classes (lender_pb.py via the
  _vendor protobuf shim) — the reference's own `FromString` parses the
  responses unchanged. Message-layer wire parity is closed; only
  grpcio's HTTP/2 frame transport remains absent (see serve_grpc).
- ``serve_grpc``: the wire-identical gRPC variant, gated behind an
  import-try because grpcio is not installed in this container.

Concurrency mirrors the reference's ThreadPoolExecutor(max_workers=10)
server: ThreadingHTTPServer handles each request on its own thread, and
SparkSession job submission is thread-safe, so concurrent CalcAvgLoan
calls behave like the reference's concurrent RPCs.
"""

from __future__ import annotations

import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable

from data_pipeline_with_hdfs_sql_integration_spark.api import Pipeline

_VERBS = ("DbToHdfs", "BlockLocations", "CalcAvgLoan")

#: verb -> (request message, response message) names in lender.proto.
_VERB_MESSAGES = {
    "DbToHdfs": ("Empty", "StatusString"),
    "BlockLocations": ("BlockLocationsReq", "BlockLocationsResp"),
    "CalcAvgLoan": ("CalcAvgLoanReq", "CalcAvgLoanResp"),
}

_PROTO_CT = "application/x-protobuf"


class LenderHttpService:
    """Serve a Pipeline over JSON/HTTP with the proto's three verbs.

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
        self._httpd: ThreadingHTTPServer | None = None
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
            return {"status": f"ERROR: {exc}"}

    def block_locations(self, path: str) -> dict:
        """BlockLocations (lender.proto:32-33) → BlockLocationsResp:
        host → block-count map, errors in-band (server.py:70-93)."""
        try:
            return {"block_entries": self.pipeline.block_report(path or None), "error": ""}
        except Exception as exc:  # noqa: BLE001
            return {"block_entries": {}, "error": str(exc)}

    def calc_avg_loan(self, county_code: int) -> dict:
        """CalcAvgLoan (lender.proto:35-36) → CalcAvgLoanResp. The
        create/reuse/recreate source indicator comes from the partition
        cache state machine (server.py:95-143 ≙ operators/partition_cache)."""
        try:
            res = self.pipeline.calc_avg(county_code)
            return {"avg_loan": res.avg, "source": res.source, "error": res.error or ""}
        except Exception as exc:  # noqa: BLE001
            return {"avg_loan": 0, "source": "", "error": str(exc)}

    # -- transport ------------------------------------------------------
    def _handle(self, verb: str, body: dict) -> dict:
        if verb == "DbToHdfs":
            return self.db_to_hdfs()
        if verb == "BlockLocations":
            return self.block_locations(str(body.get("path", "")))
        if verb == "CalcAvgLoan":
            return self.calc_avg_loan(int(body.get("county_code", 0)))
        raise KeyError(verb)

    def start(self) -> int:
        """Start serving on a background thread; returns the bound port."""
        service = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 — http.server API
                verb = self.path.strip("/")
                if verb not in _VERBS:
                    self.send_error(404, f"unknown rpc {verb!r}; known: {_VERBS}")
                    return
                length = int(self.headers.get("Content-Length", 0) or 0)
                raw = self.rfile.read(length) if length else b""
                is_proto = self.headers.get("Content-Type", "").startswith(
                    _PROTO_CT
                )
                if is_proto:
                    # lender.proto wire bytes in, wire bytes out — the
                    # reference's message layer verbatim.
                    try:
                        from data_pipeline_with_hdfs_sql_integration_spark.lender_pb import (
                            messages,
                        )

                        classes = messages()
                        from google.protobuf import json_format

                        req_name, resp_name = _VERB_MESSAGES[verb]
                        req = classes[req_name].FromString(raw)
                        body = json_format.MessageToDict(
                            req, preserving_proto_field_name=True
                        )
                    except NotImplementedError:
                        self.send_error(
                            415, "no protobuf runtime on this host"
                        )
                        return
                    except Exception:
                        self.send_error(400, "malformed protobuf body")
                        return
                    resp = json_format.ParseDict(
                        service._handle(verb, body), classes[resp_name]()
                    )
                    payload, ctype = resp.SerializeToString(), _PROTO_CT
                else:
                    try:
                        body = json.loads(raw or b"{}")
                    except ValueError:
                        self.send_error(400, "request body must be JSON")
                        return
                    payload = json.dumps(service._handle(verb, body)).encode()
                    ctype = "application/json"
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def log_message(self, *args) -> None:  # quiet test output
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", self._requested_port), Handler)
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
    one method per proto verb, returning the response dicts verbatim.

    ``wire="proto"`` sends/receives REAL lender.proto wire bytes via
    the runtime message classes (lender_pb.messages) instead of JSON —
    what a reference client's serialization layer produces/parses.
    """

    def __init__(
        self,
        port: int,
        host: str = "127.0.0.1",
        timeout_s: float = 60.0,
        wire: str = "json",
    ) -> None:
        self.base = f"http://{host}:{port}"
        self.timeout_s = timeout_s
        assert wire in ("json", "proto")
        self.wire = wire

    def _call(self, verb: str, body: dict) -> dict:
        if self.wire == "proto":
            from data_pipeline_with_hdfs_sql_integration_spark.lender_pb import (
                messages,
            )

            # messages() resolves the _vendor protobuf shim; only then
            # can google.protobuf be imported in a fresh process.
            classes = messages()
            from google.protobuf import json_format

            req_name, resp_name = _VERB_MESSAGES[verb]
            data = json_format.ParseDict(
                body, classes[req_name]()
            ).SerializeToString()
            ctype = _PROTO_CT
        else:
            data, ctype = json.dumps(body).encode(), "application/json"
        req = urllib.request.Request(
            f"{self.base}/{verb}",
            data=data,
            headers={"Content-Type": ctype},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            raw = resp.read()
        if self.wire == "proto":
            msg = classes[resp_name].FromString(raw)
            out = json_format.MessageToDict(
                msg, preserving_proto_field_name=True
            )
            # proto3 JSON mapping omits default-valued fields; the JSON
            # transport always carries them — normalize to that shape.
            for f in msg.DESCRIPTOR.fields:
                out.setdefault(
                    f.name, dict(getattr(msg, f.name)) if f.message_type
                    and f.message_type.GetOptions().map_entry
                    else getattr(msg, f.name)
                )
            return out
        return json.loads(raw)

    def db_to_hdfs(self) -> dict:
        return self._call("DbToHdfs", {})

    def block_locations(self, path: str = "") -> dict:
        return self._call("BlockLocations", {"path": path})

    def calc_avg_loan(self, county_code: int) -> dict:
        return self._call("CalcAvgLoan", {"county_code": county_code})


def serve_grpc(pipeline: Pipeline, port: int = 5000, max_workers: int = 10):
    """The wire-identical gRPC skin (server.py:149-160).

    Round-8 probe: the MESSAGE layer is now fully available — the
    _vendor protobuf shim resolves the runtime and lender_pb.messages()
    builds the lender.proto classes without protoc, so proto wire
    bytes round-trip end-to-end over the HTTP skin (content type
    application/x-protobuf). The remaining blocker is grpcio itself:
    `import grpc` fails (ModuleNotFoundError: No module named 'grpc');
    grpcio is a compiled C extension with no wheel on this host and no
    network to fetch one, and no copy ships inside google-cloud-sdk
    (checked /usr/lib/google-cloud-sdk/lib/third_party — protobuf only).
    Re-probed round 9 (2026-08-15): import still fails and `pip
    download grpcio` cannot reach any index (NewConnectionError, name
    resolution fails for the configured mirror) — the blocker is
    environmental and stable. Accordingly the SUPPORTED wire surface
    of this engine is the HTTP skin with application/x-protobuf
    message bytes (LenderHttpService, wire='proto'): byte-compatible
    lender.proto messages over HTTP/1.1. HTTP/2 gRPC framing remains
    this import gate. When grpcio exists, this binds the three verbs
    to a grpc.Server using the same runtime message classes."""
    try:
        import grpc
    except ImportError as exc:  # pragma: no cover — env-dependent
        raise NotImplementedError(
            "grpcio is not installed in this environment (compiled "
            "extension, not vendorable); use LenderHttpService — same "
            "three-verb surface (lender.proto:28-37), and with "
            "wire='proto' the same lender.proto message bytes."
        ) from exc

    from data_pipeline_with_hdfs_sql_integration_spark.lender_pb import messages

    classes = messages()
    http = LenderHttpService(pipeline)

    class LenderServicer:
        def DbToHdfs(self, request, context):  # noqa: N802 — proto verb
            return _dict_to_msg(http.db_to_hdfs(), classes["StatusString"])

        def BlockLocations(self, request, context):  # noqa: N802
            return _dict_to_msg(
                http.block_locations(request.path),
                classes["BlockLocationsResp"],
            )

        def CalcAvgLoan(self, request, context):  # noqa: N802
            return _dict_to_msg(
                http.calc_avg_loan(request.county_code),
                classes["CalcAvgLoanResp"],
            )

    def _dict_to_msg(d: dict, cls):
        from google.protobuf import json_format

        return json_format.ParseDict(d, cls())

    server = grpc.server(
        __import__("concurrent.futures", fromlist=["futures"]).ThreadPoolExecutor(
            max_workers=max_workers
        )
    )
    # Generic handler: method name -> unary-unary servicer call with the
    # runtime message classes (what generated _pb2_grpc stubs automate).
    servicer = LenderServicer()
    handlers = {
        name: grpc.unary_unary_rpc_method_handler(
            getattr(servicer, name),
            request_deserializer=classes[req].FromString,
            response_serializer=classes[resp].SerializeToString,
        )
        for name, (req, resp) in _VERB_MESSAGES.items()
    }
    server.add_generic_rpc_handlers(
        (grpc.method_handlers_generic_handler("Lender", handlers),)
    )
    server.add_insecure_port(f"[::]:{port}")
    server.start()
    return server
