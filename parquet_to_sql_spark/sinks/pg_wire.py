r"""Minimal pure-stdlib PostgreSQL client (frontend/backend protocol
v3) exposing the psycopg-shaped surface CopySink needs:

    connect(dsn) -> Connection
    Connection.cursor() / .commit() / .rollback() / .close()
    Cursor.execute(sql) / .fetchall() / .copy(sql) context manager
    Copy.write(str | bytes)

Why this exists: the COPY sink's core claim is the reference's —
"import Parquet into PostgreSQL using COPY for speed" — and proving it
needs a real Postgres socket.  The execution environment ships a
Postgres server but no Python driver, so this module implements the
(public, documented) wire protocol directly:
https://www.postgresql.org/docs/current/protocol.html — message
framing per protocol-message-formats.  Scope is deliberately tiny:
simple-query protocol, COPY FROM STDIN, trust / cleartext / md5
authentication, text-format results.  SCRAM and the extended protocol
are out of scope (raise with a clear message); production clusters
with SCRAM should install psycopg, which CopySink prefers when
importable.

Transaction semantics mirror psycopg's default (autocommit off): the
first execute()/copy() on an idle connection implicitly sends BEGIN,
so ``SET LOCAL`` applies to the batch transaction and commit()/
rollback() delimit it — exactly what copy_partition expects.

Thread/process model: one Connection per executor partition writer
(CopySink already does this); a Connection owns one socket and is not
thread-safe, like the real drivers.
"""

from __future__ import annotations

import hashlib
import socket
import struct
from urllib.parse import unquote, urlparse

__all__ = ["connect", "Connection", "Cursor", "PgError"]

_PROTOCOL_V3 = 196608  # (3 << 16)


class PgError(RuntimeError):
    """Server ErrorResponse, message fields flattened into str(exc)."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        sev = fields.get("S", "ERROR")
        code = fields.get("C", "")
        msg = fields.get("M", "")
        super().__init__(f"{sev} {code}: {msg}")


def parse_dsn(dsn: str) -> dict[str, str]:
    """Accept both URL (postgresql://user:pw@host:port/db) and
    key-value ("host=/tmp port=5433 dbname=x user=y") DSNs.  A host
    beginning with '/' is a unix-socket directory."""
    out: dict[str, str] = {}
    if dsn.startswith(("postgresql://", "postgres://")):
        u = urlparse(dsn)
        if u.username:
            out["user"] = unquote(u.username)
        if u.password:
            out["password"] = unquote(u.password)
        if u.hostname:
            out["host"] = unquote(u.hostname)
        if u.port:
            out["port"] = str(u.port)
        if u.path and u.path != "/":
            out["dbname"] = unquote(u.path.lstrip("/"))
        for kv in (u.query or "").split("&"):
            if "=" in kv:
                k, v = kv.split("=", 1)
                out[k] = unquote(v)
    else:
        for part in dsn.split():
            if "=" not in part:
                raise ValueError(f"bad DSN fragment {part!r}")
            k, v = part.split("=", 1)
            out[k] = v
    out.setdefault("host", "localhost")
    out.setdefault("port", "5432")
    out.setdefault("user", "postgres")
    out.setdefault("dbname", out["user"])
    return out


def connect(dsn: str) -> "Connection":
    return Connection(parse_dsn(dsn))


class Connection:
    def __init__(self, params: dict[str, str]):
        self._params = params
        self._in_tx = False
        self._closed = False
        host, port = params["host"], int(params["port"])
        if host.startswith("/"):
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self._sock.connect(f"{host}/.s.PGSQL.{port}")
        else:
            self._sock = socket.create_connection((host, port))
        self._sock.settimeout(600)
        self._buf = b""
        self._startup()

    # -- framing ---------------------------------------------------------

    def _send(self, type_byte: bytes, payload: bytes = b"") -> None:
        self._sock.sendall(type_byte + struct.pack("!I", len(payload) + 4) + payload)

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError({"S": "FATAL", "M": "server closed connection"})
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _recv_message(self) -> tuple[bytes, bytes]:
        head = self._recv_exact(5)
        mtype = head[:1]
        (mlen,) = struct.unpack("!I", head[1:5])
        return mtype, self._recv_exact(mlen - 4)

    # -- startup / auth --------------------------------------------------

    def _startup(self) -> None:
        p = self._params
        kv = b""
        for k, v in (("user", p["user"]), ("database", p["dbname"])):
            kv += k.encode() + b"\0" + v.encode() + b"\0"
        payload = struct.pack("!I", _PROTOCOL_V3) + kv + b"\0"
        self._sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        while True:
            mtype, body = self._recv_message()
            if mtype == b"R":
                (code,) = struct.unpack("!I", body[:4])
                if code == 0:  # AuthenticationOk
                    continue
                if code == 3:  # cleartext password
                    pw = p.get("password", "")
                    self._send(b"p", pw.encode() + b"\0")
                    continue
                if code == 5:  # md5: md5(md5(password + user) + salt)
                    salt = body[4:8]
                    inner = hashlib.md5(
                        (p.get("password", "") + p["user"]).encode()
                    ).hexdigest()
                    digest = hashlib.md5(inner.encode() + salt).hexdigest()
                    self._send(b"p", b"md5" + digest.encode() + b"\0")
                    continue
                raise PgError(
                    {"S": "FATAL", "M": f"unsupported auth method {code} "
                     "(SCRAM needs a real driver; use trust/md5 or psycopg)"}
                )
            elif mtype in (b"S", b"K", b"N"):  # ParameterStatus/KeyData/Notice
                continue
            elif mtype == b"E":
                raise PgError(_parse_error(body))
            elif mtype == b"Z":  # ReadyForQuery
                return
            else:
                raise PgError({"S": "FATAL", "M": f"unexpected {mtype!r} in startup"})

    # -- transactions (psycopg-style implicit BEGIN) ---------------------

    def _ensure_tx(self) -> None:
        if not self._in_tx:
            self._simple_query("BEGIN")
            self._in_tx = True

    def commit(self) -> None:
        if self._in_tx:
            self._simple_query("COMMIT")
            self._in_tx = False

    def rollback(self) -> None:
        if self._in_tx:
            self._simple_query("ROLLBACK")
            self._in_tx = False

    def close(self) -> None:
        if not self._closed:
            try:
                self._send(b"X")  # Terminate
            except OSError:
                pass
            self._sock.close()
            self._closed = True

    def cursor(self) -> "Cursor":
        return Cursor(self)

    # -- simple query protocol -------------------------------------------

    def _simple_query(self, sql: str):
        """Run one simple-protocol statement; returns (description,
        rows) with text-format values (None for NULL)."""
        self._send(b"Q", sql.encode() + b"\0")
        description: list[str] | None = None
        rows: list[tuple] = []
        error: dict[str, str] | None = None
        copy_in = False
        while True:
            mtype, body = self._recv_message()
            if mtype == b"T":
                description = _parse_row_description(body)
            elif mtype == b"D":
                rows.append(_parse_data_row(body))
            elif mtype in (b"C", b"I"):  # CommandComplete / EmptyQuery
                continue
            elif mtype == b"N":
                continue
            elif mtype == b"E":
                error = _parse_error(body)
            elif mtype == b"G":  # CopyInResponse — caller takes over
                copy_in = True
                break
            elif mtype == b"Z":
                break
            # ignore anything else (NoticeResponse variants etc.)
        if error is not None:
            raise PgError(error)
        if copy_in:
            return "COPY_IN"
        return description, rows


class Cursor:
    def __init__(self, conn: Connection):
        self._conn = conn
        self.description: list[str] | None = None
        self._rows: list[tuple] = []

    def execute(self, sql: str) -> None:
        self._conn._ensure_tx()
        res = self._conn._simple_query(sql)
        if res == "COPY_IN":
            raise PgError(
                {"S": "ERROR", "M": "COPY FROM STDIN must go through cursor.copy()"}
            )
        self.description, self._rows = res

    def fetchall(self) -> list[tuple]:
        return list(self._rows)

    def fetchone(self):
        return self._rows[0] if self._rows else None

    def copy(self, sql: str) -> "_CopyIn":
        self._conn._ensure_tx()
        res = self._conn._simple_query(sql)
        if res != "COPY_IN":
            raise PgError({"S": "ERROR", "M": f"{sql!r} did not start COPY IN"})
        return _CopyIn(self._conn)

    def close(self) -> None:
        self._rows = []


class _CopyIn:
    """COPY FROM STDIN data channel (context manager, psycopg-shaped)."""

    def __init__(self, conn: Connection):
        self._conn = conn
        # bytearray: appends are amortized O(1), where bytes += would
        # copy the whole pending frame on every write
        self._pending = bytearray()

    def __enter__(self) -> "_CopyIn":
        return self

    def write(self, data: str | bytes) -> None:
        b = data.encode() if isinstance(data, str) else data
        # coalesce small writes into ~64 KiB CopyData frames
        self._pending += b
        if len(self._pending) >= 65536:
            self._conn._send(b"d", self._pending)
            self._pending = bytearray()

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._pending:
            self._conn._send(b"d", self._pending)
            self._pending = bytearray()
        if exc_type is None:
            self._conn._send(b"c")  # CopyDone
        else:
            msg = str(exc) or exc_type.__name__
            self._conn._send(b"f", msg.encode()[:200] + b"\0")  # CopyFail
        # drain to ReadyForQuery; surface any server error
        error: dict[str, str] | None = None
        while True:
            mtype, body = self._conn._recv_message()
            if mtype == b"E":
                error = _parse_error(body)
            elif mtype == b"Z":
                break
        if exc_type is None and error is not None:
            raise PgError(error)
        return False  # propagate the caller's own exception if any


def _parse_error(body: bytes) -> dict[str, str]:
    fields: dict[str, str] = {}
    i = 0
    while i < len(body) and body[i : i + 1] != b"\0":
        code = chr(body[i])
        j = body.index(b"\0", i + 1)
        fields[code] = body[i + 1 : j].decode("utf-8", "replace")
        i = j + 1
    return fields


def _parse_row_description(body: bytes) -> list[str]:
    (nfields,) = struct.unpack("!H", body[:2])
    names, i = [], 2
    for _ in range(nfields):
        j = body.index(b"\0", i)
        names.append(body[i:j].decode())
        i = j + 1 + 18  # tableoid(4) colnum(2) typoid(4) typlen(2) typmod(4) fmt(2)
    return names


def _parse_data_row(body: bytes) -> tuple:
    (nfields,) = struct.unpack("!H", body[:2])
    vals, i = [], 2
    for _ in range(nfields):
        (flen,) = struct.unpack("!i", body[i : i + 4])
        i += 4
        if flen == -1:
            vals.append(None)
        else:
            vals.append(body[i : i + flen].decode("utf-8", "replace"))
            i += flen
    return tuple(vals)
