"""Runtime-generated protobuf message classes for lender.proto.

The reference service speaks gRPC over messages defined in
lender.proto (Empty, BlockLocationsReq/Resp, CalcAvgLoanReq/Resp,
StatusString — reference lender.proto:1-26). This container has no
protoc and no grpcio, but the protobuf RUNTIME is importable via the
`_vendor/google` alias shim — and protobuf can build message classes
at runtime from a FileDescriptorProto, no generated `lender_pb2.py`
needed. The descriptor below mirrors lender.proto field-for-field
(names, numbers, types, the map<string,int32>), so the bytes these
classes serialize ARE the reference's wire format: a reference
client's `CalcAvgLoanResp.FromString(...)` parses them unchanged.

In the package, `service.encode` / `service.decode` build and parse
these messages for the HTTP skin (application/x-protobuf) and for
`service.serve_grpc`; the JSON wire checks field types against
`_FIELD_LAYOUT`.
"""

from __future__ import annotations

from functools import lru_cache

#: lender.proto field layout: message -> [(name, number, type, label,
#: type_name)]. Mirrors reference lender.proto:1-26 exactly.
_FIELD_LAYOUT = {
    "Empty": [],
    "BlockLocationsReq": [("path", 1, "string")],
    "BlockLocationsResp": [
        ("block_entries", 1, "map<string,int32>"),
        ("error", 2, "string"),
    ],
    "CalcAvgLoanReq": [("county_code", 1, "int32")],
    "CalcAvgLoanResp": [
        ("avg_loan", 1, "int32"),
        ("source", 2, "string"),
        ("error", 3, "string"),
    ],
    "StatusString": [("status", 1, "string")],
}


def protobuf_available() -> bool:
    """True when the protobuf runtime resolves (via the _vendor shim
    or a real installation)."""
    try:
        import data_pipeline_with_hdfs_sql_integration_spark._vendor.google  # noqa: F401
        from google.protobuf import descriptor_pb2  # noqa: F401

        return True
    except ImportError:
        return False


@lru_cache(maxsize=1)
def messages() -> dict:
    """Build and return {message name: class} for lender.proto.

    Raises NotImplementedError when no protobuf runtime is resolvable
    (callers keep the JSON transport; same gating convention as
    serve_grpc).
    """
    try:
        import data_pipeline_with_hdfs_sql_integration_spark._vendor.google  # noqa: F401
        from google.protobuf import (
            descriptor_pb2,
            descriptor_pool,
            message_factory,
        )
    except ImportError as exc:
        raise NotImplementedError(
            "no protobuf runtime available (the _vendor/google shim needs "
            "the host google-cloud-sdk); use the JSON transport"
        ) from exc

    T = descriptor_pb2.FieldDescriptorProto
    types = {"string": T.TYPE_STRING, "int32": T.TYPE_INT32}

    fdp = descriptor_pb2.FileDescriptorProto()
    fdp.name = "lender.proto"
    fdp.syntax = "proto3"
    for msg_name, fields in _FIELD_LAYOUT.items():
        m = fdp.message_type.add()
        m.name = msg_name
        for fname, num, ftype in fields:
            f = m.field.add()
            f.name = fname
            f.number = num
            if ftype.startswith("map<"):
                # proto3 maps are a repeated nested MapEntry message.
                entry = m.nested_type.add()
                entry.name = (
                    "".join(p.capitalize() for p in fname.split("_")) + "Entry"
                )
                entry.options.map_entry = True
                kt, vt = ftype[4:-1].split(",")
                for en, et, ei in (("key", kt, 1), ("value", vt, 2)):
                    ef = entry.field.add()
                    ef.name = en
                    ef.number = ei
                    ef.type = types[et]
                    ef.label = T.LABEL_OPTIONAL
                f.type = T.TYPE_MESSAGE
                f.label = T.LABEL_REPEATED
                f.type_name = f".{msg_name}.{entry.name}"
            else:
                f.type = types[ftype]
                f.label = T.LABEL_OPTIONAL
    pool = descriptor_pool.DescriptorPool()
    return message_factory.GetMessages([fdp], pool=pool)


__all__ = ["messages", "protobuf_available"]
