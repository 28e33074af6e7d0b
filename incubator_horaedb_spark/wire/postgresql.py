"""PostgreSQL wire-protocol server over the Engine — the Spark rendering
of src/server/src/postgresql/{service.rs,handler.rs} (pgwire around
Proxy::handle_http_sql_query).

Surface parity:
- startup: SSLRequest refused with 'N' (cleartext, like the reference's
  non-TLS default), AuthenticationOk with no credential check, parameter
  status + ReadyForQuery; simple-query protocol ('Q'), plus the extended
  query protocol (Parse/Bind/Describe/Execute/Sync/Close/Flush) with
  TEXT-format parameters — the first thing a JDBC/psycopg client does on
  a parameterized query (beyond-reference: pgwire's SimpleQueryHandler
  in the reference answers only 'Q').  Binary-format parameters decode
  for the fixed-width core OIDs (bool/int2/int4/int8/float4/float8,
  big-endian; r8) plus timestamp (int64 2000-epoch microseconds, the
  inverse of the binary result encoding; r11) — other OIDs keep a clear
  rejection.  Binary RESULT
  format codes are honored for bool/int2/int4/int8/float4/float8/
  timestamp/bytea (r9 — the psycopg3/JDBC default-binary mode gap;
  timestamps encode as the PG wire's 2000-epoch microseconds in binary
  mode, while text mode keeps handler.rs's epoch-ms parity); other
  column types reject binary with a clear error.  Describe on an unbound
  STATEMENT answers ParameterDescription + RowDescription derived by
  planning the query with typed NULLs substituted (lazy — no job; the
  pre-bind describe Npgsql/PgJDBC issue), falling back to NoData for
  rowless statements (DDL/INSERT — the protocol-correct answer, decided
  on the statement head AFTER any CTE prefix so CTE-led DML never runs
  at Describe) or when NULL-planning fails (Execute then refuses to
  stream rows the client was told would never come).  Describe on a
  PORTAL plans the bound query lazily and shares the one execution with
  the following Execute.
  Execute honors the max-rows operand: bounded fetches suspend with
  PortalSuspended and resume on the next Execute of the same portal.
  $n placeholders are substituted at code positions only
  (frontends/sqllex.py) — single/double-quoted strings, backtick
  identifiers, line and (nested) block comments are skipped.
- type OIDs = handler.rs convert_data_type: Timestamp → TIMESTAMP(1114),
  Double → FLOAT8, Float → FLOAT4, Varbinary → BYTEA, String → TEXT,
  Int64 → INT8, Int32 → INT4, Int16 → INT2, Boolean → BOOL.
- values text-encoded per handler.rs encode_data — timestamps are the
  epoch-millisecond i64 (`Datum::Timestamp(t) => encode_field(&t.as_i64())`),
  NOT a formatted datetime; booleans are 't'/'f' (pgwire bool text).

The sequence mirrored in tests/test_wire_postgresql.py is
integration_tests/postgresql/basic.sh: show tables / select 1, now() /
drop-if-exists / CREATE TABLE demo / INSERT / SELECT * FROM demo.
"""

from __future__ import annotations

import itertools
import re
import secrets
import socket
import socketserver
import struct
import threading

from incubator_horaedb_spark.frontends import sqllex

SSL_REQUEST_CODE = 80877103
CANCEL_REQUEST_CODE = 80877102
PROTOCOL_V3 = 196608

# handler.rs convert_data_type → pg catalog OIDs
OID_NAME = 19
OID_TIMESTAMP = 1114
OID_FLOAT8 = 701
OID_FLOAT4 = 700
OID_BYTEA = 17
OID_TEXT = 25
OID_INT8 = 20
OID_INT4 = 23
OID_INT2 = 21
OID_CHAR = 18
OID_BOOL = 16

_SPARK_TO_OID = {
    "timestamp": OID_TIMESTAMP,
    "timestamp_ntz": OID_TIMESTAMP,
    "double": OID_FLOAT8,
    "float": OID_FLOAT4,
    "binary": OID_BYTEA,
    "string": OID_TEXT,
    "long": OID_INT8,
    "integer": OID_INT4,
    "short": OID_INT2,
    "byte": OID_CHAR,
    "boolean": OID_BOOL,
    "void": OID_NAME,
}


class _Conn:
    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.gid: str | None = None  # Spark job group when cancel is enabled

    def _read_n(self, n: int) -> bytes | None:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                return None
            buf += chunk
        return buf

    # frame-length sanity caps: a malformed length field must neither
    # underflow the body read nor commit this thread to receiving
    # gigabytes that never arrive (hang).  Startup is tiny by protocol;
    # regular messages are capped like MySQL's 16 MB max frame.
    MAX_STARTUP = 1 << 20
    MAX_MESSAGE = 16 << 20

    def read_startup(self) -> tuple[int, bytes] | None:
        head = self._read_n(4)
        if head is None:
            return None
        (length,) = struct.unpack("!I", head)
        if length < 8 or length > self.MAX_STARTUP:
            return None  # malformed frame — close the connection
        body = self._read_n(length - 4)
        if body is None or len(body) < 4:
            return None
        (code,) = struct.unpack("!I", body[:4])
        return code, body[4:]

    def read_message(self) -> tuple[bytes, bytes] | None:
        head = self._read_n(5)
        if head is None:
            return None
        mtype, length = head[:1], struct.unpack("!I", head[1:])[0]
        if length < 4 or length > self.MAX_MESSAGE:
            return None  # malformed frame — close the connection
        body = self._read_n(length - 4)
        return (mtype, body if body is not None else b"")

    def send(self, mtype: bytes, body: bytes = b"") -> None:
        self.sock.sendall(mtype + struct.pack("!I", len(body) + 4) + body)

    # ---- standard responses ----
    def send_auth_ok(self) -> None:
        self.send(b"R", struct.pack("!I", 0))

    def send_parameter_status(self, k: str, v: str) -> None:
        self.send(b"S", k.encode() + b"\x00" + v.encode() + b"\x00")

    def send_ready(self) -> None:
        self.send(b"Z", b"I")

    def send_error(self, message: str, sqlstate: str = "XX000") -> None:
        body = (
            b"SERROR\x00"
            + b"C" + sqlstate.encode() + b"\x00"
            + b"M" + message.encode()[:800] + b"\x00"
            + b"\x00"
        )
        self.send(b"E", body)

    def send_command_complete(self, tag: str) -> None:
        self.send(b"C", tag.encode() + b"\x00")


# numeric parameter OIDs whose text values may be inlined unquoted
_NUMERIC_OIDS = {OID_INT2, OID_INT4, OID_INT8, OID_FLOAT4, OID_FLOAT8, 1700}
_NUM_RE_TXT = r"^-?\d+(\.\d+)?([eE][+-]?\d+)?$"


def _read_cstr(body: bytes, off: int) -> tuple[str, int]:
    end = body.index(b"\x00", off)
    return body[off:end].decode("utf-8", "replace"), end + 1


def _sql_literal(text: str, oid: int) -> str:
    """Render a text-format parameter as a SQL literal.  Declared numeric
    OIDs inline raw (validated); booleans render TRUE/FALSE; everything
    else — including undeclared (OID 0) — becomes a quoted string, which
    the engine's implicit coercion handles in comparisons.  Quotes AND
    backslashes are doubled (the engine lexes Hive-style escapes)."""
    import re as _re

    if oid in _NUMERIC_OIDS:
        if not _re.match(_NUM_RE_TXT, text):
            raise ValueError(f"invalid numeric parameter {text!r}")
        return text
    if oid == OID_TIMESTAMP and _re.match(r"^-?\d+$", text):
        # digit-only timestamp parameter = epoch milliseconds (handler.rs
        # renders timestamps as epoch-ms i64 in text mode; binary Bind
        # decodes to this form too) — inline raw so the engine's
        # int→timestamp coercion applies; ISO strings keep the quoted path
        return text
    if oid == OID_BOOL:
        if text.lower() in ("t", "true", "1", "on", "yes"):
            return "TRUE"
        if text.lower() in ("f", "false", "0", "off", "no"):
            return "FALSE"
        raise ValueError(f"invalid boolean parameter {text!r}")
    # the engine lexes BOTH doubled quotes and backslash escapes
    # (spark.sql Hive-style strings) — a bare backslash in the parameter
    # would otherwise swallow the closing quote (r7 review: parameter-to-
    # SQL injection via "x\\' OR 1=1 --"); double both
    return "'" + text.replace("\\", "\\\\").replace("'", "''") + "'"


def _substitute_params(
    sql: str,
    params: list[str | None],
    oids: list[int],
    null_render=lambda oid: "NULL",
) -> str:
    """Replace $1..$n placeholders (at code positions only — strings,
    quoted identifiers, and comments are skipped; the dialect has no $$
    bodies) with rendered literals.  ``null_render`` lets the Describe
    path substitute typed NULLs (CAST(NULL AS ...)) so the planned schema
    matches what a real bind would produce."""

    def bind(m: re.Match) -> str:
        idx = int(m.group(1))
        if not (1 <= idx <= len(params)):
            raise ValueError(f"parameter ${idx} not bound")
        v = params[idx - 1]
        oid = oids[idx - 1] if idx - 1 < len(oids) else 0
        return null_render(oid) if v is None else _sql_literal(v, oid)

    return sqllex.sub_code_spans(r"\$(\d+)", bind, sql)


# OID → engine type name for typed-NULL rendering (Describe('S') planning)
_OID_TO_SQL_TYPE = {
    OID_INT2: "SMALLINT",
    OID_INT4: "INT",
    OID_INT8: "BIGINT",
    OID_FLOAT4: "FLOAT",
    OID_FLOAT8: "DOUBLE",
    1700: "DOUBLE",  # numeric
    OID_BOOL: "BOOLEAN",
    OID_TEXT: "STRING",
    OID_TIMESTAMP: "TIMESTAMP",
    OID_BYTEA: "BINARY",
}


def _typed_null(oid: int) -> str:
    t = _OID_TO_SQL_TYPE.get(oid)
    return f"CAST(NULL AS {t})" if t else "NULL"


# binary-format (format code 1) parameter decode for the fixed-width core
# OIDs (VERDICT r07 next-round #4): big-endian per the PG wire protocol.
_BINARY_PARAM_FMT = {
    OID_INT2: ("!h", 2),
    OID_INT4: ("!i", 4),
    OID_INT8: ("!q", 8),
    OID_FLOAT4: ("!f", 4),
    OID_FLOAT8: ("!d", 8),
}


def _decode_binary_param(raw: bytes, oid: int, idx: int) -> str:
    """Binary Bind value → the text rendering `_sql_literal` consumes.
    Exotic OIDs keep the clear rejection (text format works for them)."""
    if oid == OID_BOOL:
        if len(raw) != 1:
            raise ValueError(f"binary bool parameter ${idx} must be 1 byte, got {len(raw)}")
        return "t" if raw[0] else "f"
    if oid == OID_TIMESTAMP:
        # binary timestamp parameter: int64 big-endian microseconds since
        # the PG epoch (2000-01-01) — the exact inverse of the binary
        # RESULT encoding; rendered as epoch-ms digits, which _sql_literal
        # inlines raw for OID 1114 (sub-ms truncates to the engine's ms
        # storage grain like every other write path)
        if len(raw) != 8:
            raise ValueError(
                f"binary timestamp parameter ${idx} must be 8 bytes, got {len(raw)}"
            )
        (us,) = struct.unpack("!q", raw)
        return str((us + _PG_EPOCH_US) // 1000)
    spec = _BINARY_PARAM_FMT.get(oid)
    if spec is None:
        raise ValueError(
            f"binary-format parameter ${idx} with OID {oid} is not supported "
            "(binary decode covers bool/int2/int4/int8/float4/float8/"
            "timestamp; send text format for other types)"
        )
    fmt, width = spec
    if len(raw) != width:
        raise ValueError(
            f"binary parameter ${idx} (OID {oid}) must be {width} bytes, got {len(raw)}"
        )
    (v,) = struct.unpack(fmt, raw)
    return repr(v) if isinstance(v, float) else str(v)


class _Prepared:
    __slots__ = ("sql", "param_oids", "described_nodata")

    def __init__(self, sql: str, param_oids: list[int]):
        self.sql = sql
        self.param_oids = param_oids
        # Describe('S') answered NoData because schema derivation failed
        # (NOT because the statement is rowless) — Execute on portals of
        # this statement must not then stream DataRows the client was
        # told would never come (ADVICE r07 #1)
        self.described_nodata = False


class _Portal:
    """A bound portal: the substituted SQL plus a memoized execution so
    Describe and Execute share ONE engine call (a Describe on a DDL/INSERT
    portal performs the side effect then; Execute reports its tag).  Row
    output is memoized too (pre-encoded DataRow bodies honoring the Bind
    result-format codes), with a cursor, so a bounded Execute
    (max_rows > 0) can suspend and resume (PortalSuspended)."""

    __slots__ = (
        "sql", "stmt", "res_fmts", "_result", "_ran", "_rows", "pos",
        "described_rows",
    )

    def __init__(
        self,
        sql: str,
        stmt: "_Prepared | None" = None,
        res_fmts: list[int] | None = None,
    ):
        self.sql = sql
        self.stmt = stmt
        self.res_fmts = res_fmts or []
        self._result = None
        self._ran = False
        self._rows = None
        self.pos = 0
        # Describe('P') answered RowDescription for THIS portal — the
        # client has been told rows are coming, which overrides a stale
        # statement-level NoData (r8 review #2: a failed typed-NULL
        # planning must not poison the statement forever)
        self.described_rows = False

    def result(self, engine):
        if not self._ran:
            self._result = engine.execute_sql(self.sql)
            self._ran = True
        return self._result

    def fmts(self, df) -> list[int]:
        return _resolve_result_fmts(self.res_fmts, df)

    def rows(self, engine) -> list[bytes]:
        """Encoded DataRow bodies (one engine job, memoized across
        suspended Execute resumptions).  All-text portals ride the same
        `_text_exprs` collect the simple-query path uses; any binary
        result column switches to the typed collect + mixed encoder
        (r9, VERDICT r08 #3: psycopg3/JDBC default-binary result mode)."""
        if self._rows is None:
            df = self.result(engine)
            fmts = self.fmts(df)
            if any(fmts):
                exprs, kinds = _wire_exprs(df)
                names = [f.name for f in df.schema.fields]
                self._rows = [
                    _data_row_mixed(r, kinds, fmts, names)
                    for r in df.select(*exprs).collect()
                ]
            else:
                self._rows = [
                    _data_row(r) for r in df.select(*_text_exprs(df)).collect()
                ]
        return self._rows


class PostgresServer:
    """Threaded PostgreSQL-protocol endpoint over an Engine (service.rs
    analogue; one handler per connection)."""

    def __init__(
        self, engine, host: str = "127.0.0.1", port: int = 0,
        idle_timeout: float | None = 600.0,
    ):
        self.engine = engine
        self.idle_timeout = idle_timeout
        # query cancellation (r9): BackendKeyData's (pid, secret) →
        # the connection's Spark job group; a CancelRequest on a new
        # connection cancels the group's active jobs.  The registry
        # (wire/cancel.py, r10) verifies pinned-thread mode and chases
        # the between-jobs window.
        self._cancel_keys: dict[tuple[int, int], str] = {}
        self._pid_counter = itertools.count(1)
        from incubator_horaedb_spark.wire.cancel import CancelRegistry

        self._cancel = CancelRegistry(getattr(engine, "spark", None))
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                # see MySQLServer: bounds partial-frame recv so a worker
                # thread can never block forever on a peer that stalls
                self.request.settimeout(outer.idle_timeout)
                conn = _Conn(self.request)
                pid = next(outer._pid_counter)
                skey = secrets.randbits(31)
                gid = f"pg-conn-{pid}"
                outer._cancel_keys[(pid, skey)] = gid
                # extended-protocol state (per connection, like pgwire)
                stmts: dict[str, _Prepared] = {}
                portals: dict[str, _Portal] = {}
                in_error = False  # after an extended-flow error: skip to Sync
                try:
                    if not outer._startup(conn, pid, skey):
                        return
                    # every Spark job this handler thread triggers carries
                    # the connection's job group, so CancelRequest maps to
                    # cancelJobGroup — the Spark-native statement cancel.
                    # bind_thread verifies pinned-thread mode first: when
                    # NOT pinned, job groups would land on shared JVM
                    # threads and a cancel could kill another connection's
                    # query, so the feature is disabled (ADVICE r09 #1).
                    if outer._cancel.bind_thread(gid, f"pg connection {pid}"):
                        conn.gid = gid
                    while True:
                        msg = conn.read_message()
                        if msg is None:
                            return
                        mtype, body = msg
                        if mtype == b"X":  # Terminate
                            return
                        if mtype == b"S":  # Sync — always answered
                            in_error = False
                            conn.send_ready()
                            continue
                        if in_error:
                            continue  # discard until Sync (protocol rule)
                        if mtype == b"Q":
                            # stmt_begin/stmt_end bracket the execution so
                            # a CancelRequest landing in a between-jobs
                            # driver phase still chases the statement's
                            # next job (VERDICT r09 wrong #1)
                            gen = outer._cancel.stmt_begin(gid)
                            try:
                                outer._query(conn, body.rstrip(b"\x00").decode("utf-8", "replace"))
                            finally:
                                outer._cancel.stmt_end(gid, gen)
                            conn.send_ready()
                        elif mtype in (b"P", b"B", b"D", b"E", b"C", b"H"):
                            gen = outer._cancel.stmt_begin(gid)
                            try:
                                outer._extended(conn, mtype, body, stmts, portals)
                            except Exception as e:  # noqa: BLE001 — protocol boundary
                                if _is_cancelled(e, conn):
                                    conn.send_error(
                                        "canceling statement due to user request",
                                        "57014",
                                    )
                                else:
                                    conn.send_error(str(e))
                                in_error = True
                            finally:
                                outer._cancel.stmt_end(gid, gen)
                        else:
                            conn.send_error(f"unsupported message {mtype!r}")
                            conn.send_ready()
                except (ConnectionError, BrokenPipeError, OSError):
                    return
                finally:
                    outer._cancel_keys.pop((pid, skey), None)
                    outer._cancel.drop(gid)

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self.server = Server((host, port), Handler)
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------ protocol
    def _startup(self, conn: _Conn, pid: int, skey: int) -> bool:
        while True:
            su = conn.read_startup()
            if su is None:
                return False
            code, params = su
            if code == SSL_REQUEST_CODE:
                conn.sock.sendall(b"N")  # no TLS; client retries cleartext
                continue
            if code == CANCEL_REQUEST_CODE:
                # pid + secret from some OTHER connection's BackendKeyData;
                # cancel that connection's ACTIVE Spark jobs (future
                # statements on it are unaffected, per PG semantics).  No
                # response either way — the protocol says close silently.
                if len(params) >= 8:
                    cpid, ckey = struct.unpack_from("!II", params, 0)
                    gid = self._cancel_keys.get((cpid, ckey))
                    if gid is not None:
                        self._cancel.cancel(gid)
                return False
            if code != PROTOCOL_V3:
                conn.send_error(f"unsupported protocol {code}")
                return False
            break
        conn.send_auth_ok()
        conn.send_parameter_status("server_version", "13.0-HoraeDB-Spark")
        conn.send_parameter_status("client_encoding", "UTF8")
        conn.send_parameter_status("DateStyle", "ISO")
        conn.send(b"K", struct.pack("!II", pid, skey))
        conn.send_ready()
        return True

    def _query(self, conn: _Conn, sql: str) -> None:
        if not sql.strip():
            conn.send(b"I")  # EmptyQueryResponse
            return
        try:
            cp = _parse_copy(sql)
        except Exception as e:  # noqa: BLE001 — malformed COPY options
            conn.send_error(str(e))
            return
        if cp is not None:
            try:
                if cp["dir"] == "from":
                    n = self._copy_in(conn, cp)
                else:
                    n = self._copy_out(conn, cp)
                conn.send_command_complete(f"COPY {n}")
            except Exception as e:  # noqa: BLE001 — protocol boundary
                conn.send_error(str(e))
            return
        try:
            result = self.engine.execute_sql(sql)
            low = sql.strip().lower()
            if result is None:
                conn.send_command_complete(_ddl_tag(low))
            elif isinstance(result, int):
                conn.send_command_complete(f"INSERT 0 {result}")
            else:
                # the collect in _send_rows is where a CancelRequest
                # usually lands — it must answer an ErrorResponse, not
                # kill the connection
                n = self._send_rows(conn, result)
                conn.send_command_complete(f"SELECT {n}")
        except Exception as e:  # noqa: BLE001 — protocol boundary
            if _is_cancelled(e, conn):
                conn.send_error("canceling statement due to user request", "57014")
            else:
                conn.send_error(str(e))

    # -------------------------------------------- extended query protocol
    def _extended(self, conn, mtype, body, stmts, portals) -> None:
        if mtype == b"P":  # Parse: name, query, n param type OIDs
            name, off = _read_cstr(body, 0)
            sql, off = _read_cstr(body, off)
            (n_oids,) = struct.unpack_from("!h", body, off)
            off += 2
            oids = [
                struct.unpack_from("!I", body, off + 4 * k)[0]
                for k in range(max(n_oids, 0))
            ]
            if len(stmts) >= 256 and name not in stmts:
                raise ValueError("too many prepared statements (max 256)")
            stmts[name] = _Prepared(sql, oids)
            conn.send(b"1")  # ParseComplete
        elif mtype == b"B":  # Bind: portal, stmt, formats, params, result formats
            portal, off = _read_cstr(body, 0)
            sname, off = _read_cstr(body, off)
            if sname not in stmts:
                raise ValueError(f"unknown prepared statement {sname!r}")
            (nfmt,) = struct.unpack_from("!h", body, off)
            off += 2
            fmts = [
                struct.unpack_from("!h", body, off + 2 * k)[0] for k in range(nfmt)
            ]
            off += 2 * nfmt
            (nparams,) = struct.unpack_from("!h", body, off)
            off += 2
            # the protocol allows exactly 0 (all text), 1 (applies to all),
            # or one-per-parameter format codes; anything else is a
            # malformed Bind real PG rejects — silently defaulting the
            # uncovered tail to text would utf-8-replace-decode a
            # binary-encoded value into a garbage string literal instead
            # of failing cleanly (ADVICE r08 #3)
            if nfmt not in (0, 1, nparams):
                raise ValueError(
                    f"bind message has {nfmt} parameter format codes but "
                    f"{nparams} parameters"
                )
            st = stmts[sname]
            params: list[str | None] = []
            for k in range(nparams):
                fmt = fmts[k] if nfmt == nparams else (fmts[0] if nfmt == 1 else 0)
                (plen,) = struct.unpack_from("!i", body, off)
                off += 4
                if plen < 0:
                    params.append(None)
                    continue
                if plen > len(body) - off:
                    raise ValueError(
                        f"malformed Bind: parameter ${k + 1} claims {plen} bytes"
                    )
                raw = body[off : off + plen]
                off += plen
                if fmt == 0:
                    params.append(raw.decode("utf-8", "replace"))
                else:
                    # binary format: fixed-width decode for the core OIDs
                    # (r8, VERDICT r07 #4) — requires a declared type
                    oid = st.param_oids[k] if k < len(st.param_oids) else 0
                    if oid == 0:
                        raise ValueError(
                            f"binary-format parameter ${k + 1} requires a "
                            "declared type OID in Parse"
                        )
                    params.append(_decode_binary_param(raw, oid, k + 1))
            (nres,) = struct.unpack_from("!h", body, off)
            off += 2
            res_fmts = [
                struct.unpack_from("!h", body, off + 2 * k)[0] for k in range(nres)
            ]
            for k, f in enumerate(res_fmts):
                if f not in (0, 1):
                    raise ValueError(f"invalid result format code {f} (column {k + 1})")
            if len(portals) >= 256 and portal not in portals:
                raise ValueError("too many open portals (max 256)")
            portals[portal] = _Portal(
                _substitute_params(st.sql, params, st.param_oids), st, res_fmts
            )
            conn.send(b"2")  # BindComplete
        elif mtype == b"D":  # Describe 'S' statement | 'P' portal
            kind, name = body[:1], _read_cstr(body, 1)[0]
            if kind == b"S":
                if name not in stmts:
                    raise ValueError(f"unknown prepared statement {name!r}")
                st = stmts[name]
                # Parse may declare FEWER type OIDs than the query has
                # placeholders (allowed in PG — undeclared tail is OID 0);
                # pad to the placeholder count so ParameterDescription
                # covers every $n and the typed-NULL substitution below
                # binds them all instead of erroring (ADVICE r08 #4)
                oids = st.param_oids + [0] * max(
                    0, _count_placeholders(st.sql) - len(st.param_oids)
                )
                conn.send(
                    b"t",
                    struct.pack("!h", len(oids))
                    + b"".join(struct.pack("!I", o) for o in oids),
                )
                # RowDescription without bound parameters (ADVICE r07 #1:
                # Npgsql / PgJDBC describe statements before binding and
                # treat NoData as "rowless"): plan the SELECT with typed
                # NULLs substituted — `engine.execute_sql` is lazy for
                # queries (a DataFrame plan, no job) and side-effect-free
                # for these statement heads, so this only derives schema.
                # Genuinely rowless statements (DDL/INSERT) keep NoData —
                # that IS the correct Describe answer for them.
                # Classification looks PAST any `WITH name AS (...)` CTE
                # prefix: spark.sql eagerly executes CTE-led DML (`WITH c
                # AS (...) INSERT ...`), so a 'with' head alone does NOT
                # prove laziness — Describe must stay side-effect-free
                # (ADVICE r08 #1)
                head = _body_head_after_ctes(st.sql)
                if head in ("select", "values", "show", "describe", "desc", "exists", "table"):
                    try:
                        nsql = _substitute_params(
                            st.sql,
                            [None] * len(oids),
                            oids,
                            null_render=_typed_null,
                        )
                        planned = self.engine.execute_sql(nsql)
                    except Exception as e:  # noqa: BLE001 — planning failed
                        # NULL-substituted planning can fail where a real
                        # bind would succeed; answer NoData but remember —
                        # Execute must then refuse to stream DataRows the
                        # client was told would never come
                        st.described_nodata = True
                        conn.send(b"n")
                        return
                    if planned is None or isinstance(planned, int):
                        conn.send(b"n")
                    else:
                        st.described_nodata = False
                        conn.send(b"T", _row_description(planned))
                else:
                    # rowless statement head (DDL/INSERT) — NoData is the
                    # protocol-correct answer.  Arm described_nodata
                    # anyway (r8 review #3): if the classification missed
                    # a row-producing statement, Execute must refuse to
                    # stream DataRows the client was told would never
                    # come; for genuinely rowless statements the flag is
                    # inert (their Execute sends no rows).
                    st.described_nodata = True
                    conn.send(b"n")
            else:
                if name not in portals:
                    raise ValueError(f"unknown portal {name!r}")
                p = portals[name]
                if not p.sql.strip():
                    conn.send(b"n")  # NoData (empty portal)
                    return
                if _parse_copy(p.sql) is not None:
                    # psycopg3 cursor.copy() Describes the portal before
                    # Execute; planning COPY through the engine would
                    # error.  NoData is what real PG answers for COPY
                    # (rows flow as CopyData, not DataRows) — r9 review #1
                    conn.send(b"n")
                    return
                result = p.result(self.engine)
                if result is None or isinstance(result, int):
                    conn.send(b"n")  # NoData
                else:
                    p.described_rows = True
                    conn.send(b"T", _row_description(result, p.fmts(result)))
        elif mtype == b"E":  # Execute: portal, max rows (0 = all)
            name, off = _read_cstr(body, 0)
            max_rows = 0
            if off + 4 <= len(body):
                (max_rows,) = struct.unpack_from("!i", body, off)
            if name not in portals:
                raise ValueError(f"unknown portal {name!r}")
            p = portals[name]
            if not p.sql.strip():
                conn.send(b"I")  # EmptyQueryResponse
                return
            cp = _parse_copy(p.sql)
            if cp is not None:
                # psycopg3's cursor.copy() drives COPY through the
                # extended protocol; the sub-protocol is identical to the
                # simple-query one (CopyInResponse absorbs CopyData until
                # CopyDone even mid-extended-flow)
                n = self._copy_in(conn, cp) if cp["dir"] == "from" else self._copy_out(conn, cp)
                conn.send_command_complete(f"COPY {n}")
                return
            result = p.result(self.engine)
            if result is None:
                conn.send_command_complete(_ddl_tag(p.sql.strip().lower()))
            elif isinstance(result, int):
                conn.send_command_complete(f"INSERT 0 {result}")
            else:
                if (
                    p.stmt is not None
                    and p.stmt.described_nodata
                    and not p.described_rows
                ):
                    # the client's last schema answer for this statement
                    # was NoData and no RowDescription was sent for this
                    # portal either — streaming DataRows now would be a
                    # malformed stream from the client's perspective.
                    # Describe('P') on the bound portal recovers (it sends
                    # RowDescription and arms described_rows).
                    raise ValueError(
                        "statement was described as NoData (schema "
                        "derivation failed) but produces rows; Describe "
                        "the bound portal (or re-Parse) first"
                    )
                rows = p.rows(self.engine)
                chunk = rows[p.pos :] if max_rows <= 0 else rows[p.pos : p.pos + max_rows]
                for body_bytes in chunk:
                    conn.send(b"D", body_bytes)
                p.pos += len(chunk)
                if max_rows > 0 and p.pos < len(rows):
                    conn.send(b"s")  # PortalSuspended — resume on next Execute
                else:
                    # tag reports total rows this portal returned
                    conn.send_command_complete(f"SELECT {p.pos}")
        elif mtype == b"C":  # Close 'S' | 'P'
            kind, name = body[:1], _read_cstr(body, 1)[0]
            (stmts if kind == b"S" else portals).pop(name, None)
            conn.send(b"3")  # CloseComplete
        elif mtype == b"H":  # Flush — everything is sent eagerly already
            pass

    def _send_rows(self, conn: _Conn, df) -> int:
        conn.send(b"T", _row_description(df))
        return self._send_data_rows(conn, df)

    def _send_data_rows(self, conn: _Conn, df) -> int:
        rows = df.select(*_text_exprs(df)).collect()
        for row in rows:
            conn.send(b"D", _data_row(row))
        return len(rows)

    # ------------------------------------------------------------ COPY --
    # Beyond-reference like the extended protocol: the reference's pgwire
    # handler is simple-query-only (handler.rs:44), but COPY FROM STDIN is
    # the standard PG bulk-load path (psql \copy, psycopg copy_expert),
    # and a time-series engine's ingest story needs it.  Text, CSV, and
    # (r11) binary formats — the PGCOPY stream with typed big-endian
    # fields, the form psycopg3's copy() uses by default.

    def _copy_in(self, conn: _Conn, cp: dict) -> int:
        """COPY <table> [(cols)] FROM STDIN: CopyInResponse, absorb
        CopyData until CopyDone/CopyFail, then parse + type + write
        through the engine's INSERT path (one distributed write per COPY
        statement, not per row).  FORMAT binary decodes the PGCOPY
        stream (signature + flags + typed big-endian fields; timestamps
        as 2000-epoch µs) straight to typed values — no text layer."""
        if cp["query"] is not None:
            raise ValueError("COPY FROM supports a table name, not a query")
        meta = self.engine.catalog.get(cp["table"])
        cols = cp["cols"] or [c.name for c in meta.schema.columns]
        for c in cols:
            meta.schema.column(c)  # unknown column → error before CopyIn
        ofmt = 1 if cp["fmt"] == "binary" else 0
        conn.send(
            b"G", struct.pack("!bh", ofmt, len(cols)) + struct.pack("!h", ofmt) * len(cols)
        )
        chunks: list[bytes] = []
        failed: str | None = None
        while True:
            msg = conn.read_message()
            if msg is None:
                raise ConnectionError("connection closed during COPY FROM STDIN")
            mtype, body = msg
            if mtype == b"d":
                chunks.append(body)
            elif mtype == b"c":  # CopyDone
                break
            elif mtype == b"f":  # CopyFail
                failed = body.rstrip(b"\x00").decode("utf-8", "replace")
                break
            elif mtype in (b"H", b"S"):
                continue  # Flush/Sync are no-ops mid-copy (protocol rule)
            else:
                raise ValueError(f"unexpected message {mtype!r} during COPY")
        if failed is not None:
            raise ValueError(f"COPY aborted by client: {failed}")
        from incubator_horaedb_spark.wire.rowtext import typed_cell

        kinds = [meta.schema.column(c).kind for c in cols]  # hoisted (r9 #8)
        if cp["fmt"] == "binary":
            rows = [
                dict(zip(cols, cells))
                for cells in _copy_decode_binary(b"".join(chunks), kinds, cols)
            ]
            return self.engine.insert_rows(cp["table"], cols, rows)
        cells_rows = _copy_decode(b"".join(chunks), cp)
        rows = []
        for lineno, cells in enumerate(cells_rows, 1):
            if len(cells) != len(cols):
                raise ValueError(
                    f"COPY line {lineno}: expected {len(cols)} columns, got {len(cells)}"
                )
            try:
                rows.append(
                    {c: typed_cell(v, k, c, lineno) for c, v, k in zip(cols, cells, kinds)}
                )
            except ValueError as e:
                raise ValueError(f"COPY {e}") from None
        return self.engine.insert_rows(cp["table"], cols, rows)

    def _copy_out(self, conn: _Conn, cp: dict) -> int:
        """COPY <table>|(query) [(cols)] TO STDOUT: CopyOutResponse + one
        CopyData per row.  Text/csv values use the server's text encoding
        (timestamps as epoch-ms i64, handler.rs parity); FORMAT binary
        emits the PGCOPY stream (typed big-endian fields, timestamps as
        2000-epoch µs, bytea raw) so a binary dump round-trips through
        COPY FROM byte-exactly."""
        if cp["query"] is not None:
            df = self.engine.execute_sql(cp["query"])
        else:
            sel = ", ".join(f"`{c}`" for c in cp["cols"]) if cp["cols"] else "*"
            df = self.engine.execute_sql(f"SELECT {sel} FROM `{cp['table']}`")
        if cp["fmt"] == "binary":
            exprs, kinds = _wire_exprs(df)
            names = [f.name for f in df.schema.fields]
            rows = df.select(*exprs).collect()
            ncols = len(names)
            conn.send(
                b"H", struct.pack("!bh", 1, ncols) + struct.pack("!h", 1) * ncols
            )
            conn.send(b"d", _COPY_BIN_MAGIC + struct.pack("!II", 0, 0))
            for row in rows:
                body = struct.pack("!h", ncols)
                for v, kind, name in zip(row, kinds, names):
                    if v is None:
                        body += struct.pack("!i", -1)
                    else:
                        s = _copy_binary_cell(v, kind, name)
                        body += struct.pack("!i", len(s)) + s
                conn.send(b"d", body)
            conn.send(b"d", struct.pack("!h", -1))  # file trailer
            conn.send(b"c")  # CopyDone
            return len(rows)
        rows = df.select(*_text_exprs(df, binary_hex=True)).collect()
        ncols = len(df.columns)
        conn.send(b"H", struct.pack("!bh", 0, ncols) + b"\x00\x00" * ncols)
        if cp["header"]:
            conn.send(b"d", _copy_encode_row(tuple(df.columns), cp))
        for row in rows:
            conn.send(b"d", _copy_encode_row(row, cp))
        conn.send(b"c")  # CopyDone
        return len(rows)

    # ----------------------------------------------------------- lifecycle
    def start(self) -> "PostgresServer":
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def _data_row(row) -> bytes:
    """One DataRow body from an already-text-encoded Row."""
    body = struct.pack("!h", len(row))
    for v in row:
        if v is None:
            body += struct.pack("!i", -1)
        else:
            if isinstance(v, bool):
                s = b"t" if v else b"f"  # pgwire bool text format
            else:
                s = str(v).encode()
            body += struct.pack("!i", len(s)) + s
    return body


def _row_description(df, fmts: list[int] | None = None) -> bytes:
    """RowDescription body per handler.rs convert_data_type OIDs; format
    codes default to text (0) — a portal Describe passes its resolved
    Bind result formats."""
    fields = b""
    for i, f in enumerate(df.schema.fields):
        oid = _SPARK_TO_OID.get(f.dataType.typeName(), OID_TEXT)
        fields += (
            f.name.encode() + b"\x00"
            + struct.pack("!IhIhih", 0, i + 1, oid, -1, -1, fmts[i] if fmts else 0)
        )
    return struct.pack("!h", len(df.schema.fields)) + fields


def _resolve_result_fmts(res_fmts: list[int], df) -> list[int]:
    """Per-column result format codes from the Bind list: 0 codes → all
    text, 1 code → applies to every column, else one per column (a
    mismatched count is a malformed Bind for THIS query — real PG errors
    at execute time, when the column count is known)."""
    ncols = len(df.schema.fields)
    if not res_fmts:
        return [0] * ncols
    if len(res_fmts) == 1:
        return res_fmts * ncols
    if len(res_fmts) != ncols:
        raise ValueError(
            f"bind message has {len(res_fmts)} result format codes but "
            f"query has {ncols} columns"
        )
    return res_fmts


# PG binary TIMESTAMP epoch: 2000-01-01 00:00:00 UTC, in microseconds
# after the Unix epoch (the offset psycopg3/JDBC subtract when decoding
# OID 1114 in binary result format).
_PG_EPOCH_US = 946_684_800_000_000


def _wire_exprs(df):
    """Typed collect expressions for mixed text/binary row encoding:
    timestamps collect as exact epoch-MICROsecond longs (the text side
    renders handler.rs's epoch-ms via floor division — identical to
    `unix_millis` — and the binary side the PG wire's 2000-epoch micros),
    binary columns stay raw bytes, everything else collects unchanged."""
    from pyspark.sql import functions as F

    exprs, kinds = [], []
    for f in df.schema.fields:
        tn = f.dataType.typeName()
        if tn in ("timestamp", "timestamp_ntz"):
            exprs.append(
                F.unix_micros(F.col(f"`{f.name}`").cast("timestamp")).alias(f.name)
            )
            kinds.append("timestamp")
        else:
            exprs.append(F.col(f"`{f.name}`"))
            kinds.append(tn)
    return exprs, kinds


def _encode_binary_result(v, kind: str, col: str) -> bytes:
    """One value in PG binary result format (big-endian, per the wire
    protocol's send functions).  Covers the same core types the binary
    PARAMETER decoder accepts, plus timestamp and bytea; other types keep
    a clear rejection — text format works for them."""
    if kind == "boolean":
        return b"\x01" if v else b"\x00"
    if kind == "short":
        return struct.pack("!h", v)
    if kind == "integer":
        return struct.pack("!i", v)
    if kind == "long":
        return struct.pack("!q", v)
    if kind == "float":
        return struct.pack("!f", v)
    if kind == "double":
        return struct.pack("!d", v)
    if kind == "timestamp":
        # v is epoch-micros (exact long from unix_micros)
        return struct.pack("!q", v - _PG_EPOCH_US)
    if kind == "binary":
        return bytes(v)  # bytea binary format IS the raw bytes
    raise ValueError(
        f"binary-format result for column {col!r} (Spark type {kind}) is "
        "not supported (bool/int2/int4/int8/float4/float8/timestamp/bytea "
        "encode in binary; request text format for other columns)"
    )


def _data_row_mixed(row, kinds: list[str], fmts: list[int], names: list[str]) -> bytes:
    """DataRow body honoring per-column format codes.  The text side
    matches `_text_exprs` + `_data_row` byte-for-byte: epoch-ms i64 for
    timestamps (handler.rs encode_data parity), 't'/'f' booleans, UTF-8
    text for bytea."""
    body = struct.pack("!h", len(row))
    for v, kind, fmt, name in zip(row, kinds, fmts, names):
        if v is None:
            body += struct.pack("!i", -1)
            continue
        if fmt:
            s = _encode_binary_result(v, kind, name)
        elif kind == "timestamp":
            s = str(v // 1000).encode()  # floor-div == unix_millis
        elif kind == "boolean":
            s = b"t" if v else b"f"
        elif kind == "binary":
            s = bytes(v).decode("utf-8", "replace").encode()
        else:
            s = str(v).encode()
        body += struct.pack("!i", len(s)) + s
    return body


def _text_exprs(df, binary_hex: bool = False):
    """Per-column text-encoding expressions (handler.rs encode_data parity:
    timestamps as epoch-ms i64, binary via UTF-8 text).  COPY TO passes
    ``binary_hex=True`` to render binary columns as PG's ``\\x`` hex form
    instead — a UTF-8 cast corrupts non-UTF-8 bytes on a COPY TO → COPY
    FROM round-trip, while typed_cell on the import side already accepts
    the hex form (ADVICE r09 #5)."""
    from pyspark.sql import functions as F

    exprs = []
    for f in df.schema.fields:
        tn = f.dataType.typeName()
        if tn in ("timestamp", "timestamp_ntz"):
            exprs.append(
                F.unix_millis(F.col(f"`{f.name}`").cast("timestamp")).alias(f.name)
            )
        elif tn == "binary":
            if binary_hex:
                exprs.append(
                    F.concat(
                        F.lit("\\x"), F.lower(F.hex(F.col(f"`{f.name}`")))
                    ).alias(f.name)
                )
            else:
                exprs.append(F.col(f"`{f.name}`").cast("string").alias(f.name))
        else:
            exprs.append(F.col(f"`{f.name}`"))
    return exprs


def _is_cancelled(e: Exception, conn: _Conn) -> bool:
    """Spark job-cancellation exceptions (cancelJobGroup) → the PG-side
    'canceling statement due to user request' error, sqlstate 57014.
    Matches on the connection's OWN job-group id in the exception text
    (Spark's cancellation message carries it), not generic words that
    could misclassify a real error mentioning a cancelled job
    (ADVICE r09 #2)."""
    from incubator_horaedb_spark.wire.cancel import is_cancelled

    return is_cancelled(e, conn.gid)


# --------------------------------------------------------------- COPY --

# PG binary COPY file signature (the PGCOPY magic + flags + extension
# header precede the tuples; a -1 field count terminates the stream)
_COPY_BIN_MAGIC = b"PGCOPY\n\xff\r\n\x00"
_COPY_INT_FMT = {1: "!b", 2: "!h", 4: "!i", 8: "!q"}

# declared engine kind → admissible value range for COPY binary integer
# fields (schema.py _TYPE_MAP widths; unsigned kinds are stored widened,
# uint64 capped at the signed-long storage bound documented in SURVEY §1.2)
_INT_KIND_RANGE = {
    "tinyint": (-(2**7), 2**7 - 1),
    "int8": (-(2**7), 2**7 - 1),
    "smallint": (-(2**15), 2**15 - 1),
    "int16": (-(2**15), 2**15 - 1),
    "int": (-(2**31), 2**31 - 1),
    "int32": (-(2**31), 2**31 - 1),
    "bigint": (-(2**63), 2**63 - 1),
    "int64": (-(2**63), 2**63 - 1),
    "time": (-(2**63), 2**63 - 1),
    "uint8": (0, 2**8 - 1),
    "uint16": (0, 2**16 - 1),
    "uint32": (0, 2**32 - 1),
    "uint64": (0, 2**63 - 1),
}


def _copy_binary_cell(v, kind: str, name: str) -> bytes:
    """One COPY binary field from a `_wire_exprs` value.  Same encodings
    as the binary RESULT path, plus text columns as raw UTF-8 (binary
    COPY carries every type; binary resultsets deliberately reject
    strings because clients default them to text)."""
    if kind == "string":
        return str(v).encode()
    return _encode_binary_result(v, kind, name)


def _decode_copy_binary_cell(raw: bytes, kind: str, col: str):
    """One COPY binary field → the typed value Engine.insert_rows expects
    for the SCHEMA kind (note: schema kinds, not Spark typeNames)."""
    if kind == "string":
        return raw.decode("utf-8")
    if kind == "varbinary":
        return bytes(raw)
    if kind == "boolean":
        if len(raw) != 1:
            raise ValueError(f"COPY binary: bool column {col} must be 1 byte")
        return bool(raw[0])
    if kind == "double":
        if len(raw) != 8:
            raise ValueError(f"COPY binary: double column {col} must be 8 bytes")
        return struct.unpack("!d", raw)[0]
    if kind == "float":
        if len(raw) != 4:
            raise ValueError(f"COPY binary: float column {col} must be 4 bytes")
        return struct.unpack("!f", raw)[0]
    if kind == "timestamp":
        if len(raw) != 8:
            raise ValueError(f"COPY binary: timestamp column {col} must be 8 bytes")
        (us,) = struct.unpack("!q", raw)
        return (us + _PG_EPOCH_US) // 1000  # engine epoch-ms grain
    # integer kinds (bigint/int/smallint/tinyint/uint*): the field width
    # picks the struct format, but the decoded value must fit the DECLARED
    # kind — real PG raises "incorrect binary data format" when an int8
    # field is COPYed into an int4 column; silently storing the full long
    # range would widen the column's contract (ADVICE r11).
    fmt = _COPY_INT_FMT.get(len(raw))
    if fmt is None:
        raise ValueError(
            f"COPY binary: integer column {col} has invalid width {len(raw)}"
        )
    v = struct.unpack(fmt, raw)[0]
    rng = _INT_KIND_RANGE.get(kind)
    if rng is not None and not (rng[0] <= v <= rng[1]):
        raise ValueError(
            f"COPY binary: value {v} out of range for {kind} column {col}"
        )
    return v


def _copy_decode_binary(data: bytes, kinds: list[str], cols: list[str]) -> list[list]:
    """PGCOPY stream → typed rows.  Critical header flags (the upper 16
    bits, e.g. the pre-8.3 OIDs-in-data bit) reject; the header extension
    area is skipped per spec."""
    if not data.startswith(_COPY_BIN_MAGIC):
        raise ValueError("COPY binary: bad signature (expected PGCOPY magic)")
    off = len(_COPY_BIN_MAGIC)
    if len(data) < off + 8:
        raise ValueError("COPY binary: truncated header")
    (flags,) = struct.unpack_from("!I", data, off)
    off += 4
    if flags & 0xFFFF0000:
        raise ValueError("COPY binary: unsupported critical header flags")
    (extlen,) = struct.unpack_from("!I", data, off)
    off += 4 + extlen
    rows: list[list] = []
    while True:
        if len(data) < off + 2:
            raise ValueError("COPY binary: stream ends without the -1 trailer")
        (nf,) = struct.unpack_from("!h", data, off)
        off += 2
        if nf == -1:
            break
        if nf != len(cols):
            raise ValueError(
                f"COPY row {len(rows) + 1}: expected {len(cols)} fields, got {nf}"
            )
        cells: list = []
        for c, kind in zip(cols, kinds):
            if len(data) < off + 4:
                raise ValueError(f"COPY binary: truncated field {c}")
            (ln,) = struct.unpack_from("!i", data, off)
            off += 4
            if ln == -1:
                cells.append(None)
                continue
            if ln < 0 or len(data) < off + ln:
                raise ValueError(f"COPY binary: truncated field {c}")
            try:
                cells.append(_decode_copy_binary_cell(data[off : off + ln], kind, c))
            except (UnicodeDecodeError, struct.error) as e:
                raise ValueError(f"COPY binary: column {c}: {e}") from None
            off += ln
        rows.append(cells)
    return rows


def _parse_copy(sql: str) -> dict | None:
    """Parse ``COPY <table>[(cols)] FROM STDIN [opts]`` / ``COPY
    <table>|(query) [(cols)] TO STDOUT [opts]``.  Returns None when the
    statement is not a STDIN/STDOUT COPY (file-target COPY falls through
    to the engine, which rejects it as an unsupported statement).

    Options: new-style ``WITH (FORMAT text|csv|binary, HEADER [bool],
    DELIMITER 'c', NULL 's')`` and the legacy bare forms (``CSV HEADER``,
    ``DELIMITER E'\\t'``).  BINARY rejects the text-only options like
    real PG; the quoting-control options (QUOTE/ESCAPE/FORCE_*) are
    rejected with a clear error."""
    s = sql.strip().rstrip(";").strip()
    if not re.match(r"^copy\b", s, re.I):
        return None
    n, i = len(s), 4
    while i < n and s[i].isspace():
        i += 1
    table = query = cols = None
    if i < n and s[i] == "(":
        j = sqllex.paren_end(sqllex.code_mask(s), i) or n
        query = s[i + 1 : j - 1].strip()
        i = j
    else:
        m = re.match(r'"([^"]+)"|([\w.]+)', s[i:])
        if not m:
            return None
        table = m.group(1) or m.group(2)
        i += m.end()
        while i < n and s[i].isspace():
            i += 1
        if i < n and s[i] == "(":
            j = sqllex.paren_end(sqllex.code_mask(s), i) or n
            cols = [
                c.strip().strip('"') for c in s[i + 1 : j - 1].split(",") if c.strip()
            ]
            i = j
    m = re.match(r"\s*(from\s+stdin|to\s+stdout)\b", s[i:], re.I)
    if not m:
        return None
    direction = m.group(1).split()[0].lower()
    if direction == "from" and query is not None:
        return None  # COPY (query) FROM is not a thing; let the engine reject
    cp = {
        "table": table,
        "query": query,
        "cols": cols,
        "dir": direction,
        "fmt": "text",
        "header": False,
        "delim": None,
        "null": None,
    }
    rest = s[i + m.end() :].strip()
    toks = re.findall(r"'(?:[^']|'')*'|[A-Za-z_]\w*|[(),]", rest)

    def _str(tok: str, escaped: bool) -> str:
        v = tok[1:-1].replace("''", "'")
        if escaped:
            v = (
                v.replace("\\\\", "\x00")
                .replace("\\t", "\t")
                .replace("\\n", "\n")
                .replace("\\r", "\r")
                .replace("\x00", "\\")
            )
        return v

    k = 0
    while k < len(toks):
        t = toks[k].lower()
        if t in ("with", "(", ")", ","):
            k += 1
        elif t == "format":
            k += 1
            if k >= len(toks) or toks[k].lower() not in ("text", "csv", "binary"):
                raise ValueError("COPY: FORMAT must be text, csv, or binary")
            cp["fmt"] = toks[k].lower()
            k += 1
        elif t == "csv":
            cp["fmt"] = "csv"
            k += 1
        elif t == "text":
            cp["fmt"] = "text"
            k += 1
        elif t == "binary":
            cp["fmt"] = "binary"
            k += 1
        elif t == "header":
            k += 1
            if k < len(toks) and toks[k].lower() in ("true", "false", "on", "off"):
                cp["header"] = toks[k].lower() in ("true", "on")
                k += 1
            else:
                cp["header"] = True
        elif t in ("delimiter", "null"):
            key = "delim" if t == "delimiter" else "null"
            k += 1
            escaped = False
            if k < len(toks) and toks[k].lower() == "e":  # E'\t' escape string
                escaped = True
                k += 1
            if k >= len(toks) or not toks[k].startswith("'"):
                raise ValueError(f"COPY: {t.upper()} requires a quoted string")
            cp[key] = _str(toks[k], escaped)
            k += 1
        else:
            raise ValueError(f"COPY: unsupported option {toks[k]!r}")
    if cp["fmt"] == "binary":
        # real PG: "cannot specify HEADER/DELIMITER/NULL in BINARY mode"
        if cp["header"] or cp["delim"] is not None or cp["null"] is not None:
            raise ValueError("COPY: cannot specify HEADER/DELIMITER/NULL in BINARY mode")
        return cp
    if cp["delim"] is None:
        cp["delim"] = "," if cp["fmt"] == "csv" else "\t"
    if cp["null"] is None:
        cp["null"] = "" if cp["fmt"] == "csv" else "\\N"
    if len(cp["delim"]) != 1:
        raise ValueError("COPY: DELIMITER must be a single character")
    return cp


def _split_text_line(ln: str, delim: str) -> list[str]:
    """Split one COPY text-format line on the delimiter, honoring
    backslash escapes (an escaped delimiter is data, not a split)."""
    cells, cur, i, n = [], [], 0, len(ln)
    while i < n:
        ch = ln[i]
        if ch == "\\" and i + 1 < n:
            cur.append(ch)
            cur.append(ln[i + 1])
            i += 2
            continue
        if ch == delim:
            cells.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    cells.append("".join(cur))
    return cells


_TEXT_UNESCAPE = {
    "\\": "\\", "t": "\t", "n": "\n", "r": "\r", "b": "\b", "f": "\f", "v": "\v",
}


def _copy_unescape(cell: str) -> str:
    out, i, n = [], 0, len(cell)
    while i < n:
        ch = cell[i]
        if ch == "\\" and i + 1 < n:
            nxt = cell[i + 1]
            out.append(_TEXT_UNESCAPE.get(nxt, nxt))
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _csv_parse(txt: str, delim: str) -> list[tuple[list[str], list[bool]]]:
    """Minimal CSV reader that REMEMBERS which cells were quoted — csv.reader
    can't, and PG's NULL matching needs it (quoting always protects a value
    from NULL interpretation, r9 review #5).  Returns (cells, quoted_flags)
    per record; embedded newlines inside quotes are data."""
    rows: list[tuple[list[str], list[bool]]] = []
    cells: list[str] = []
    qflags: list[bool] = []
    cur: list[str] = []
    q = in_q = False
    i, n = 0, len(txt)
    while i < n:
        ch = txt[i]
        if in_q:
            if ch == '"':
                if i + 1 < n and txt[i + 1] == '"':
                    cur.append('"')
                    i += 2
                    continue
                in_q = False
                i += 1
            else:
                cur.append(ch)
                i += 1
            continue
        if ch == '"' and not cur:
            in_q = q = True
            i += 1
            continue
        if ch == delim:
            cells.append("".join(cur))
            qflags.append(q)
            cur, q = [], False
            i += 1
            continue
        if ch in ("\n", "\r"):
            if ch == "\r" and i + 1 < n and txt[i + 1] == "\n":
                i += 1
            cells.append("".join(cur))
            qflags.append(q)
            rows.append((cells, qflags))
            cells, qflags, cur, q = [], [], [], False
            i += 1
            continue
        cur.append(ch)
        i += 1
    if cur or cells or q:
        cells.append("".join(cur))
        qflags.append(q)
        rows.append((cells, qflags))
    return rows


def _copy_decode(data: bytes, cp: dict) -> list[list[str | None]]:
    """CopyData payload → rows of (str | None) cells.  NULL matching is on
    the RAW cell (PG matches the null string as it appears in the file,
    before un-escaping); in CSV a QUOTED cell is never NULL."""
    txt = data.decode("utf-8")
    if cp["fmt"] == "csv":
        out = []
        rows = _csv_parse(txt, cp["delim"])
        if cp["header"] and rows:
            rows = rows[1:]
        for cells, qflags in rows:
            # EVERY blank line is a one-cell record, exactly as PG loads
            # it (NULL under the default null='' for a 1-column table,
            # "missing data for column" arity error otherwise).  The
            # final newline of the last record produces no record at all
            # (_csv_parse only flushes pending cell state), so nothing
            # needs a trailing-line special case — ADVICE r09 #3 asked to
            # keep ignoring a trailing blank, but a last-index [""] row
            # here IS a genuine blank line ("...\n\n"), which real PG
            # also loads (r10 review #3).
            if cells == ["\\."] and not qflags[0]:
                break
            out.append(
                [
                    None if (not qd and c == cp["null"]) else c
                    for c, qd in zip(cells, qflags)
                ]
            )
        return out
    out = []
    lines = txt.split("\n")
    if cp["header"] and lines:
        lines = lines[1:]
    for idx, ln in enumerate(lines):
        if ln.endswith("\r"):
            ln = ln[:-1]
        if ln == "\\.":
            break
        if ln == "" and idx == len(lines) - 1:
            continue  # final newline, not an empty row
        cells = _split_text_line(ln, cp["delim"])
        out.append(
            [None if c == cp["null"] else _copy_unescape(c) for c in cells]
        )
    return out


def _copy_encode_row(row, cp: dict) -> bytes:
    """One already-text-encoded Row → a CopyData line."""
    cells = []
    for v in row:
        if v is None:
            cells.append(cp["null"])
            continue
        s = "t" if v is True else "f" if v is False else str(v)
        if cp["fmt"] == "csv":
            # force-quote a value equal to the null string so the dump
            # round-trips (quoting protects it from NULL matching on
            # re-import — r9 review #6); same for empty strings
            if (
                any(c in s for c in (cp["delim"], '"', "\n", "\r"))
                or s == ""
                or s == cp["null"]
            ):
                s = '"' + s.replace('"', '""') + '"'
        else:
            s = (
                s.replace("\\", "\\\\")
                .replace("\t", "\\t")
                .replace("\n", "\\n")
                .replace("\r", "\\r")
            )
            if cp["delim"] != "\t":
                s = s.replace(cp["delim"], "\\" + cp["delim"])
        cells.append(s)
    return (cp["delim"].join(cells) + "\n").encode("utf-8")


_WORD = re.compile(r"\s*(\w*)\s*")
_GROUPED_WORD = re.compile(r"[\s(]*(\w*)")


def _body_head_after_ctes(sql: str) -> str:
    """Lower-cased head KEYWORD of the statement body Execute will run —
    leading comments and grouping parens skipped, and a ``WITH [RECURSIVE]
    name [(cols)] AS (...) [, ...]`` CTE prefix stepped over, so
    ``WITH c AS (...) INSERT ...`` classifies as ``insert``, not ``with``
    (ADVICE r08 #1: spark.sql eagerly executes CTE-led DML, and Describe
    must be side-effect-free).  Returns '' for text this conservative
    walker cannot prove — callers treat '' as not-provably-lazy."""
    mask = sqllex.code_mask(sql)  # comments are blanks, so \s skips them

    def word(i: int) -> tuple[str, int]:
        m = _WORD.match(mask, i)
        return m.group(1).lower(), m.end()

    def past_parens(i: int) -> int:
        return _WORD.match(mask, sqllex.paren_end(mask, i) or len(mask)).start(1)

    w, i = word(_GROUPED_WORD.match(mask).start(1))
    if w != "with":
        return w
    while True:  # step over one CTE definition per iteration
        w, i = word(i)
        if w == "recursive":
            w, i = word(i)
        if not w:
            return ""  # malformed
        if mask.startswith("(", i):  # optional column alias list
            i = past_parens(i)
        w, i = word(i)
        if w != "as" or not mask.startswith("(", i):
            return ""  # malformed — CTE body must be parenthesized
        i = past_parens(i)
        if not mask.startswith(",", i):
            return _GROUPED_WORD.match(mask, i).group(1).lower()
        i += 1


def _count_placeholders(sql: str) -> int:
    """Highest $n at a code position (0 when none)."""
    return max(
        (
            int(n)
            for kind, s, e, _ in sqllex.spans(sql)
            if kind == sqllex.CODE
            for n in re.findall(r"\$(\d+)", sql[s:e])
        ),
        default=0,
    )


def _ddl_tag(low: str) -> str:
    for kw, tag in (
        ("create", "CREATE TABLE"),
        ("drop", "DROP TABLE"),
        ("alter", "ALTER TABLE"),
    ):
        if low.startswith(kw):
            return tag
    return "OK"
