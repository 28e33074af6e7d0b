"""gRPC storage-service surface: the protobuf message codec and service
logic of the reference's primary programmatic API, hand-rolled from PUBLIC
specifications (the protobuf wire-format spec and the apache/horaedb-proto
``storage.proto`` / ``common.proto`` message layouts).

Reference parity:
- service surface: ``src/server/src/grpc/storage_service/mod.rs`` —
  Route / Write / SqlQuery (the streaming variants reuse the same unary
  handlers per request; remote-engine RPC legitimately collapses into
  Spark's own shuffle service, SURVEY §2.1).
- write semantics: ``src/proxy/src/write.rs`` — name-indexed tags/fields
  (`find_new_columns`, :747), auto-create with timestamp column named
  ``timestamp`` (`TIMESTAMP_COLUMN_NAME`, sys_catalog_table.rs:232),
  per-table success/failed row counts.
- query semantics: ``src/proxy/src/grpc/sql_query.rs`` — affected-rows vs
  Arrow-payload output oneof; record batches IPC-encoded, zstd-compressed
  past ``resp_compress_min_length`` (`CompressOptions`).
- route: ``src/proxy/src/grpc/route.rs`` — standalone deployments route
  every table to the serving endpoint itself.

Message layouts (field numbers from the public apache/horaedb-proto repo):

    ResponseHeader    { uint32 code = 1; string error = 2; }
    RequestContext    { string database = 1; }
    RouteRequest      { RequestContext context = 1; repeated string tables = 2; }
    Endpoint          { string ip = 1; uint32 port = 2; }
    Route             { string table = 1; Endpoint endpoint = 2; }
    RouteResponse     { ResponseHeader header = 1; repeated Route routes = 2; }
    Value             { oneof value { double float64_value = 1; string string_value = 2;
                        int64 int64_value = 3; float float32_value = 4; int32 int32_value = 5;
                        int32 int16_value = 6; int32 int8_value = 7; bool bool_value = 8;
                        uint64 uint64_value = 9; uint32 uint32_value = 10;
                        uint32 uint16_value = 11; uint32 uint8_value = 12;
                        int64 timestamp_value = 13; bytes varbinary_value = 14; } }
    Tag / Field       { uint32 name_index = 1; Value value = 2; }
    FieldGroup        { int64 timestamp = 1; repeated Field fields = 2; }
    WriteSeriesEntry  { repeated Tag tags = 1; repeated FieldGroup field_groups = 2; }
    WriteTableRequest { string table = 1; repeated string tag_names = 2;
                        repeated string field_names = 3; repeated WriteSeriesEntry entries = 4; }
    WriteRequest      { RequestContext context = 1; repeated WriteTableRequest table_requests = 2; }
    WriteResponse     { ResponseHeader header = 1; uint32 success = 2; uint32 failed = 3; }
    SqlQueryRequest   { RequestContext context = 1; repeated string tables = 2; string sql = 3; }
    SqlQueryResponse  { ResponseHeader header = 1;
                        oneof output { uint32 affected_rows = 2; ArrowPayload arrow = 3; } }
    ArrowPayload      { enum Compression { NONE = 0; ZSTD = 1; }
                        repeated bytes record_batches = 1; Compression compression = 2; }

Transport: gRPC proper is protobuf messages in 5-byte frames over HTTP/2.
This container has no HTTP/2 stack (no grpcio / h2), so the default server
speaks the SAME protobuf bytes and gRPC message frames over a plain TCP
socket with a one-line method preamble (``FramedStorageServer``); when
``grpcio`` IS importable, :func:`build_grpc_server` registers the identical
handlers on a real gRPC server without any codegen.
"""

from __future__ import annotations

import socket
import socketserver
import struct
import threading
from typing import Any

from incubator_horaedb_spark.frontends.prompb import (
    _dec_uvarint,
    _enc_uvarint,
    _field,
    _iter_fields,
    _len_delim,
    _str,
)

OK = 200
BAD_REQUEST = 400
INTERNAL = 500

COMPRESSION_NONE = 0
COMPRESSION_ZSTD = 1

# reference default: resp_compress_min_length = 120KiB (server config)
RESP_COMPRESS_MIN_LENGTH = 120 << 10


def _varint(num: int, val: int) -> bytes:
    return _field(num, 0) + _enc_uvarint(val)


def _i64(v: int) -> int:
    """Interpret a decoded 64-bit varint as signed (proto int64)."""
    return v - (1 << 64) if v >= (1 << 63) else v


# ------------------------------------------------------------------ Value --

_VALUE_VARIANTS = {
    1: "float64_value",
    2: "string_value",
    3: "int64_value",
    4: "float32_value",
    5: "int32_value",
    6: "int16_value",
    7: "int8_value",
    8: "bool_value",
    9: "uint64_value",
    10: "uint32_value",
    11: "uint16_value",
    12: "uint8_value",
    13: "timestamp_value",
    14: "varbinary_value",
}
_SIGNED_VARINT = {"int64_value", "int32_value", "int16_value", "int8_value", "timestamp_value"}


def enc_value(variant: str, v: Any) -> bytes:
    num = next(k for k, n in _VALUE_VARIANTS.items() if n == variant)
    if variant == "float64_value":
        return _field(num, 1) + struct.pack("<d", v)
    if variant == "float32_value":
        return _field(num, 5) + struct.pack("<f", v)
    if variant == "string_value":
        return _str(num, v)
    if variant == "varbinary_value":
        return _len_delim(num, bytes(v))
    if variant == "bool_value":
        return _varint(num, 1 if v else 0)
    return _varint(num, v)  # all int variants: two's-complement 64-bit varint


def dec_value(buf: bytes) -> tuple[str, Any]:
    for num, wire, val in _iter_fields(buf):
        name = _VALUE_VARIANTS.get(num)
        if name is None:
            continue
        if name == "float64_value":
            return name, struct.unpack("<d", val)[0]
        if name == "float32_value":
            return name, struct.unpack("<f", val)[0]
        if name == "string_value":
            return name, val.decode()
        if name == "varbinary_value":
            return name, bytes(val)
        if name == "bool_value":
            return name, bool(val)
        if name in _SIGNED_VARINT:
            return name, _i64(val)
        return name, val
    raise ValueError("Value: empty oneof")


# --------------------------------------------------------------- messages --


def enc_header(code: int, error: str = "") -> bytes:
    out = _varint(1, code)
    if error:
        out += _str(2, error)
    return out


def dec_header(buf: bytes) -> dict:
    h = {"code": 0, "error": ""}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            h["code"] = val
        elif num == 2:
            h["error"] = val.decode()
    return h


def enc_context(database: str) -> bytes:
    return _str(1, database)


def dec_context(buf: bytes) -> dict:
    ctx = {"database": ""}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            ctx["database"] = val.decode()
    return ctx


def enc_route_request(database: str, tables: list[str]) -> bytes:
    out = _len_delim(1, enc_context(database))
    for t in tables:
        out += _str(2, t)
    return out


def dec_route_request(buf: bytes) -> dict:
    req = {"context": None, "tables": []}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            req["context"] = dec_context(val)
        elif num == 2:
            req["tables"].append(val.decode())
    return req


def enc_route_response(code: int, error: str, routes: list[tuple[str, str, int]]) -> bytes:
    out = _len_delim(1, enc_header(code, error))
    for table, ip, port in routes:
        ep = _str(1, ip) + _varint(2, port)
        out += _len_delim(2, _str(1, table) + _len_delim(2, ep))
    return out


def dec_route_response(buf: bytes) -> dict:
    resp = {"header": None, "routes": []}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            resp["header"] = dec_header(val)
        elif num == 2:
            r = {"table": "", "endpoint": None}
            for n2, w2, v2 in _iter_fields(val):
                if n2 == 1:
                    r["table"] = v2.decode()
                elif n2 == 2:
                    ep = {"ip": "", "port": 0}
                    for n3, w3, v3 in _iter_fields(v2):
                        if n3 == 1:
                            ep["ip"] = v3.decode()
                        elif n3 == 2:
                            ep["port"] = v3
                    r["endpoint"] = ep
            resp["routes"].append(r)
    return resp


def enc_write_request(database: str, table_requests: list[dict]) -> bytes:
    """table_requests: [{table, tag_names, field_names, entries:
    [{tags: [(name_index, variant, value)], field_groups:
    [{timestamp, fields: [(name_index, variant, value)]}]}]}]"""
    out = _len_delim(1, enc_context(database))
    for tr in table_requests:
        body = _str(1, tr["table"])
        for t in tr.get("tag_names", ()):
            body += _str(2, t)
        for f in tr.get("field_names", ()):
            body += _str(3, f)
        for e in tr.get("entries", ()):
            ebody = b""
            for idx, variant, v in e.get("tags", ()):
                ebody += _len_delim(1, _varint(1, idx) + _len_delim(2, enc_value(variant, v)))
            for fg in e.get("field_groups", ()):
                fbody = _varint(1, fg["timestamp"] & ((1 << 64) - 1))
                for idx, variant, v in fg.get("fields", ()):
                    fbody += _len_delim(2, _varint(1, idx) + _len_delim(2, enc_value(variant, v)))
                ebody += _len_delim(2, fbody)
            body += _len_delim(4, ebody)
        out += _len_delim(2, body)
    return out


def _dec_tag_or_field(buf: bytes) -> dict:
    out = {"name_index": 0, "value": None}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            out["name_index"] = val
        elif num == 2:
            out["value"] = dec_value(val)
    return out


def dec_write_request(buf: bytes) -> dict:
    req = {"context": None, "table_requests": []}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            req["context"] = dec_context(val)
        elif num == 2:
            tr = {"table": "", "tag_names": [], "field_names": [], "entries": []}
            for n2, w2, v2 in _iter_fields(val):
                if n2 == 1:
                    tr["table"] = v2.decode()
                elif n2 == 2:
                    tr["tag_names"].append(v2.decode())
                elif n2 == 3:
                    tr["field_names"].append(v2.decode())
                elif n2 == 4:
                    e = {"tags": [], "field_groups": []}
                    for n3, w3, v3 in _iter_fields(v2):
                        if n3 == 1:
                            e["tags"].append(_dec_tag_or_field(v3))
                        elif n3 == 2:
                            fg = {"timestamp": 0, "fields": []}
                            for n4, w4, v4 in _iter_fields(v3):
                                if n4 == 1:
                                    fg["timestamp"] = _i64(v4)
                                elif n4 == 2:
                                    fg["fields"].append(_dec_tag_or_field(v4))
                            e["field_groups"].append(fg)
                    tr["entries"].append(e)
            req["table_requests"].append(tr)
    return req


def enc_write_response(code: int, error: str, success: int, failed: int) -> bytes:
    out = _len_delim(1, enc_header(code, error))
    if success:
        out += _varint(2, success)
    if failed:
        out += _varint(3, failed)
    return out


def dec_write_response(buf: bytes) -> dict:
    resp = {"header": None, "success": 0, "failed": 0}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            resp["header"] = dec_header(val)
        elif num == 2:
            resp["success"] = val
        elif num == 3:
            resp["failed"] = val
    return resp


def enc_sql_query_request(database: str, sql: str, tables: list[str] | None = None) -> bytes:
    out = _len_delim(1, enc_context(database))
    for t in tables or ():
        out += _str(2, t)
    out += _str(3, sql)
    return out


def dec_sql_query_request(buf: bytes) -> dict:
    req = {"context": None, "tables": [], "sql": ""}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            req["context"] = dec_context(val)
        elif num == 2:
            req["tables"].append(val.decode())
        elif num == 3:
            req["sql"] = val.decode()
    return req


def enc_sql_query_response(
    code: int,
    error: str = "",
    affected_rows: int | None = None,
    record_batches: list[bytes] | None = None,
    compression: int = COMPRESSION_NONE,
) -> bytes:
    out = _len_delim(1, enc_header(code, error))
    if affected_rows is not None:
        out += _varint(2, affected_rows)
    elif record_batches is not None:
        arrow = b"".join(_len_delim(1, rb) for rb in record_batches)
        if compression:
            arrow += _varint(2, compression)
        out += _len_delim(3, arrow)
    return out


def dec_sql_query_response(buf: bytes) -> dict:
    resp = {"header": None, "affected_rows": None, "arrow": None}
    for num, wire, val in _iter_fields(buf):
        if num == 1:
            resp["header"] = dec_header(val)
        elif num == 2:
            resp["affected_rows"] = val
        elif num == 3:
            arrow = {"record_batches": [], "compression": COMPRESSION_NONE}
            for n2, w2, v2 in _iter_fields(val):
                if n2 == 1:
                    arrow["record_batches"].append(bytes(v2))
                elif n2 == 2:
                    arrow["compression"] = v2
            resp["arrow"] = arrow
    return resp


# ------------------------------------------------------------ arrow codec --


def _zstd_codec():
    try:
        import pyarrow as pa

        if pa.Codec.is_available("zstd"):
            return pa.Codec("zstd")
    except Exception:
        pass
    return None


def dataframe_to_payload(df, compress_min_length: int = RESP_COMPRESS_MIN_LENGTH):
    """DataFrame → (record_batches, compression): one IPC-stream blob per
    Arrow batch, zstd-compressed past the threshold — the shape of
    arrow_ext::ipc::RecordBatchesEncoder (sql_query.rs:22, convert_output)."""
    import pyarrow as pa

    tbl = df.toArrow()
    blobs = []
    for batch in tbl.to_batches():
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
        blobs.append(sink.getvalue().to_pybytes())
    codec = _zstd_codec()
    if codec is not None and sum(len(b) for b in blobs) >= compress_min_length:
        blobs = [codec.compress(b, asbytes=True) for b in blobs]
        return blobs, COMPRESSION_ZSTD
    return blobs, COMPRESSION_NONE


def payload_to_table(arrow: dict):
    """Decode a SqlQueryResponse arrow payload back to a pyarrow Table."""
    import pyarrow as pa

    blobs = arrow["record_batches"]
    if arrow.get("compression") == COMPRESSION_ZSTD:
        codec = _zstd_codec()
        if codec is None:
            raise ValueError("zstd-compressed payload but no zstd codec available")
        blobs = [codec.decompress(b) for b in blobs]
    tables = [pa.ipc.open_stream(b).read_all() for b in blobs]
    return pa.concat_tables(tables) if tables else pa.table({})


# ---------------------------------------------------------------- service --


class StorageService:
    """Transport-independent handlers: protobuf request bytes in, protobuf
    response bytes out.  Both the framed-TCP server and the optional real
    gRPC server register exactly these."""

    def __init__(self, engine, *, ip: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.ip = ip
        self.port = port

    # route.rs handle_route: standalone → every table routes to self
    def route(self, payload: bytes) -> bytes:
        try:
            req = dec_route_request(payload)
            routes = [(t, self.ip, self.port) for t in req["tables"]]
            return enc_route_response(OK, "", routes)
        except Exception as e:  # error::build_err_header
            return enc_route_response(INTERNAL, str(e), [])

    # write.rs handle_write: name-indexed tags/fields → rows → ingest
    def write(self, payload: bytes) -> bytes:
        try:
            req = dec_write_request(payload)
            if req["context"] is None:
                return enc_write_response(BAD_REQUEST, "Database is not set", 0, 0)
            from incubator_horaedb_spark.streaming.ingest import ingest_rows

            success = 0
            for tr in req["table_requests"]:
                rows, tag_cols = [], set()
                for entry in tr["entries"]:
                    tags = {}
                    for tag in entry["tags"]:
                        name = tr["tag_names"][tag["name_index"]]
                        tags[name] = tag["value"][1]
                        tag_cols.add(name)
                    for fg in entry["field_groups"]:
                        row = dict(tags)
                        row["timestamp"] = fg["timestamp"]
                        for f in fg["fields"]:
                            row[tr["field_names"][f["name_index"]]] = f["value"][1]
                        rows.append(row)
                if not rows:
                    continue
                ts_col = "timestamp"
                if self.engine.catalog.exists(tr["table"]):
                    ts_col = self.engine.catalog.get(tr["table"]).schema.timestamp_column
                    rows = [
                        {**{k: v for k, v in r.items() if k != "timestamp"}, ts_col: r["timestamp"]}
                        for r in rows
                    ]
                success += ingest_rows(
                    self.engine, tr["table"], rows, ts_col=ts_col, tag_cols=sorted(tag_cols)
                )
            return enc_write_response(OK, "", success, 0)
        except Exception as e:
            return enc_write_response(INTERNAL, str(e), 0, 0)

    # sql_query.rs handle_sql_query: affected-rows vs arrow-payload oneof
    def sql_query(self, payload: bytes) -> bytes:
        req = dec_sql_query_request(payload)
        try:
            if req["context"] is None or not req["context"]["database"]:
                # sql_query.rs:84-89 exact message; errors append " sql:<sql>"
                raise ValueError("Database is not set")
            result = self.engine.execute_sql(req["sql"])
            if result is None:
                return enc_sql_query_response(OK, affected_rows=0)
            if isinstance(result, int):
                return enc_sql_query_response(OK, affected_rows=result)
            batches, compression = dataframe_to_payload(result)
            return enc_sql_query_response(OK, record_batches=batches, compression=compression)
        except Exception as e:
            return enc_sql_query_response(INTERNAL, f"{e} sql:{req['sql']}")

    METHODS = {"Route": "route", "Write": "write", "SqlQuery": "sql_query"}

    def dispatch(self, method: str, payload: bytes) -> bytes:
        name = self.METHODS.get(method)
        if name is None:
            raise ValueError(f"unknown method {method!r}")
        return getattr(self, name)(payload)


# -------------------------------------------------------------- transport --


def frame(msg: bytes) -> bytes:
    """gRPC length-prefixed message frame: flag byte + u32 BE length."""
    return b"\x00" + struct.pack(">I", len(msg)) + msg


def unframe(buf: bytes) -> bytes:
    if len(buf) < 5:
        raise ValueError("short gRPC frame")
    flag, ln = buf[0], struct.unpack(">I", buf[1:5])[0]
    if flag:
        raise ValueError("compressed gRPC frames not supported")
    return buf[5 : 5 + ln]


class FramedStorageServer:
    """StorageService over plain TCP: request = ``<method>\\n`` + gRPC
    frame, response = gRPC frame.  The byte payloads are identical to what
    a real gRPC transport would carry; only HTTP/2 is stood in for."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        service_holder = {}

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                svc = service_holder["svc"]
                while True:
                    line = self.rfile.readline()
                    if not line:
                        return
                    method = line.decode().strip()
                    head = self.rfile.read(5)
                    if len(head) < 5:
                        return
                    ln = struct.unpack(">I", head[1:5])[0]
                    payload = self.rfile.read(ln)
                    try:
                        resp = svc.dispatch(method, payload)
                    except Exception as e:
                        resp = enc_sql_query_response(INTERNAL, str(e))
                    self.wfile.write(frame(resp))
                    self.wfile.flush()

        class Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        self._server = Server((host, port), Handler)
        self.host, self.port = self._server.server_address
        self.service = StorageService(engine, ip=self.host, port=self.port)
        service_holder["svc"] = self.service
        self._thread: threading.Thread | None = None

    def start(self) -> "FramedStorageServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()


class FramedStorageClient:
    def __init__(self, port: int, host: str = "127.0.0.1"):
        self.sock = socket.create_connection((host, port))

    def call(self, method: str, payload: bytes) -> bytes:
        self.sock.sendall(method.encode() + b"\n" + frame(payload))
        head = self._read_n(5)
        ln = struct.unpack(">I", head[1:5])[0]
        return self._read_n(ln)

    def _read_n(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("eof")
            buf += chunk
        return buf

    def close(self) -> None:
        self.sock.close()


def build_grpc_server(engine, port: int = 0):
    """Real gRPC server (no codegen — generic bytes-in/bytes-out handlers
    on ``/storage.StorageService/*``), available only when grpcio is
    installed; this container ships without it, so the framed server above
    is the tested transport."""
    try:
        import grpc
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise NotImplementedError("grpcio not installed; use FramedStorageServer") from e

    svc = StorageService(engine, port=port)
    ident = bytes  # payloads stay raw; codec lives in this module

    handlers = {
        m: grpc.unary_unary_rpc_method_handler(
            (lambda name: lambda req, ctx: svc.dispatch(name, req))(m),
            request_deserializer=ident,
            response_serializer=ident,
        )
        for m in StorageService.METHODS
    }
    from concurrent.futures import ThreadPoolExecutor

    server = grpc.server(ThreadPoolExecutor(8))
    server.add_generic_rpc_handlers(
        (grpc.method_handlers_generic_handler("storage.StorageService", handlers),)
    )
    bound = server.add_insecure_port(f"127.0.0.1:{port}")
    svc.port = bound
    return server, bound
