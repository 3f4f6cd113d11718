"""Minimal pure-Python PostgreSQL client (frontend/backend protocol v3,
simple-query flow) so the upsert sink (sinks/jdbc.py `write_batch`) can be
exercised against a REAL Postgres server in environments without psycopg
or a JDBC driver jar — this container ships Postgres 15 binaries but no
Python driver.

Scope is deliberately small: trust-auth over a unix socket (no password
flows), text-format results, one statement batch per Query message. The
sink sends each chunk as one multi-row INSERT through `execute`: one
Query message, one round-trip. The message layout follows the public
protocol documentation
(https://www.postgresql.org/docs/current/protocol-message-formats.html):
StartupMessage(196608), then 'R' AuthenticationOk, 'S'/'K' session info,
'Z' ReadyForQuery; per query: 'Q' -> 'T' RowDescription / 'D' DataRow /
'C' CommandComplete / 'E' ErrorResponse / 'Z' ReadyForQuery.

Parameters are interpolated as SQL literals (%s placeholders, DB-API
style): Postgres 15 defaults `standard_conforming_strings=on`, so string
escaping is '' doubling only; Python lists bind as ARRAY[...] literals —
real arrays, the engine's documented divergence from the reference's
broken brace-join encoding (quirk Q1, /root/reference/types.go:69-93).

The reference talks to Postgres through Gorm (main.go:25-39); this module
is the no-dependency stand-in that lets K1-K3 round-trip against a live
server. Production deployments should prefer psycopg via
`jdbc.pg_connection_factory`, which falls back to this client.
"""

from __future__ import annotations

import datetime as _dt
import socket
import struct
from decimal import Decimal


class PgError(Exception):
    """Server ErrorResponse; `.sqlstate` carries the SQLSTATE code so
    jdbc.is_unique_violation can classify 23505 without string sniffing."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        self.sqlstate = fields.get("C")
        msg = fields.get("M", "postgres error")
        super().__init__(f"{msg} (SQLSTATE {self.sqlstate})")


def quote_literal(v) -> str:
    """SQL literal for one Python value (text protocol)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, Decimal)):
        return str(v)
    if isinstance(v, _dt.datetime):
        return f"'{v.isoformat(sep=' ')}'::timestamp"
    if isinstance(v, _dt.date):
        return f"'{v.isoformat()}'::date"
    if isinstance(v, (list, tuple)):
        if not v:
            return "ARRAY[]::text[]"
        return "ARRAY[" + ", ".join(quote_literal(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return r"'\x" + bytes(v).hex() + "'::bytea"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _interpolate(sql: str, params) -> str:
    parts = sql.split("%s")
    if len(parts) - 1 != len(params):
        raise ValueError(
            f"placeholder count {len(parts) - 1} != params {len(params)}"
        )
    out = [parts[0]]
    for val, part in zip(params, parts[1:]):
        out.append(quote_literal(val))
        out.append(part)
    return "".join(out)


class _Cursor:
    def __init__(self, conn: "Connection"):
        self._conn = conn
        self._rows: list[tuple] = []
        self.description = None
        self.rowcount = -1

    def execute(self, sql: str, params=None):
        if params is not None:
            sql = _interpolate(sql, params)
        # DB-API semantics: a transaction starts implicitly on the first
        # statement after connect/commit/ROLLBACK — not only when a new
        # cursor is created. Without this, a cursor reused across a
        # rollback (the upsert-on-conflict retry in jdbc.write_batch)
        # would autocommit each chunk outside any transaction.
        self._conn._ensure_txn()
        cols, rows, tag = self._conn._query(sql)
        self.description = [(c,) for c in cols] if cols else None
        self._rows = rows
        # tag like "INSERT 0 3" / "SELECT 3" / "UPDATE 2"
        self.rowcount = -1
        if tag:
            tail = tag.split()[-1]
            if tail.isdigit():
                self.rowcount = int(tail)
        return self

    def executemany(self, sql: str, param_seq):
        # one multi-statement Query message per chunk: same per-row
        # statements the DB-API contract implies, one round-trip
        stmts = [_interpolate(sql, p) for p in param_seq]
        if stmts:
            self._conn._ensure_txn()
            self._conn._query(";\n".join(stmts))
        self._rows, self.description, self.rowcount = [], None, -1
        return self

    def fetchone(self):
        return self._rows[0] if self._rows else None

    def fetchall(self):
        return list(self._rows)

    def close(self):
        self._rows = []


class Connection:
    """DB-API-shaped connection: lazy BEGIN, explicit commit/rollback."""

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""
        self._in_txn = False
        self._read_until_ready()

    # -- wire helpers -------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise ConnectionError("postgres connection closed")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        mtype = self._recv_exact(1)
        (mlen,) = struct.unpack(">I", self._recv_exact(4))
        return mtype, self._recv_exact(mlen - 4)

    def _read_until_ready(self):
        """Drain messages to ReadyForQuery; raise the first ErrorResponse
        AFTER reaching ready state (server is then reusable)."""
        err = None
        while True:
            mtype, body = self._read_message()
            if mtype == b"E" and err is None:
                err = PgError(_parse_fields(body))
            elif mtype == b"Z":
                if err:
                    raise err
                return
            # 'R' auth, 'S' params, 'K' key data, 'N' notices: ignored

    def _query(self, sql: str):
        payload = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack(">I", 4 + len(payload)) + payload)
        cols: list[str] = []
        rows: list[tuple] = []
        tag = ""
        err = None
        while True:
            mtype, body = self._read_message()
            if mtype == b"T":
                cols = _parse_row_description(body)
            elif mtype == b"D":
                rows.append(_parse_data_row(body))
            elif mtype == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif mtype == b"E" and err is None:
                err = PgError(_parse_fields(body))
            elif mtype == b"Z":
                if err:
                    raise err
                return cols, rows, tag
            # 'I' empty query, 'N' notice, 'S' param status: ignored

    # -- DB-API surface -----------------------------------------------------
    def _ensure_txn(self) -> None:
        if not self._in_txn:
            self._query("BEGIN")
            self._in_txn = True

    def cursor(self) -> _Cursor:
        return _Cursor(self)

    def commit(self):
        if self._in_txn:
            self._query("COMMIT")
            self._in_txn = False

    def rollback(self):
        if self._in_txn:
            self._query("ROLLBACK")
            self._in_txn = False

    def close(self):
        try:
            self._sock.sendall(b"X" + struct.pack(">I", 4))  # Terminate
        except OSError:
            pass
        self._sock.close()


def _parse_fields(body: bytes) -> dict[str, str]:
    fields = {}
    i = 0
    while i < len(body) and body[i] != 0:
        code = chr(body[i])
        end = body.index(b"\x00", i + 1)
        fields[code] = body[i + 1 : end].decode(errors="replace")
        i = end + 1
    return fields


def _parse_row_description(body: bytes) -> list[str]:
    (n,) = struct.unpack(">H", body[:2])
    cols, i = [], 2
    for _ in range(n):
        end = body.index(b"\x00", i)
        cols.append(body[i:end].decode())
        i = end + 1 + 18  # tableOID(4) attnum(2) typOID(4) typlen(2) typmod(4) fmt(2)
    return cols


def _parse_data_row(body: bytes) -> tuple:
    (n,) = struct.unpack(">H", body[:2])
    vals, i = [], 2
    for _ in range(n):
        (vlen,) = struct.unpack(">i", body[i : i + 4])
        i += 4
        if vlen == -1:
            vals.append(None)
        else:
            vals.append(body[i : i + vlen].decode())
            i += vlen
    return tuple(vals)


def connect(
    socket_dir: str,
    port: int = 5432,
    user: str = "postgres",
    dbname: str = "postgres",
    timeout: float = 30.0,
) -> Connection:
    """Trust-auth connection over the unix socket `.s.PGSQL.<port>`."""
    sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    sock.settimeout(timeout)
    sock.connect(f"{socket_dir}/.s.PGSQL.{port}")
    params = f"user\x00{user}\x00database\x00{dbname}\x00\x00".encode()
    startup = struct.pack(">II", 8 + len(params), 196608) + params
    sock.sendall(startup)
    return Connection(sock)
