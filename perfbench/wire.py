"""A minimal Postgres wire-protocol (v3) client for the benchmark.

It frames every message itself and imports nothing from csvb_spark, so
a change to the engine's own client (``sources.pgclient``) cannot move
the numbers of the workloads that drive ``serve``. It speaks what psql
and drivers send: simple Query, Parse/Bind/Describe/Execute/Sync with
text parameters, COPY TO STDOUT and COPY FROM STDIN.

Every call returns a :class:`Result` once ReadyForQuery arrives, so the
caller times a statement from send to ReadyForQuery.
"""

from __future__ import annotations

import socket
import struct
from dataclasses import dataclass, field

_PROTOCOL_3 = 196608


class WireError(RuntimeError):
    """The server answered with an ErrorResponse or broke the protocol."""


@dataclass
class Result:
    """One statement's answer: column (name, type oid) pairs, the raw
    DataRow or CopyData payloads in arrival order, the command tag,
    and the error message when the server sent one."""

    columns: list[tuple[str, int]] = field(default_factory=list)
    rows: list[bytes] = field(default_factory=list)
    tag: str = ""
    error: str | None = None
    bytes_in: int = 0


def _msg(tag: bytes, body: bytes = b"") -> bytes:
    return tag + struct.pack("!I", len(body) + 4) + body


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def decode_data_row(payload: bytes) -> list[str | None]:
    """DataRow body → text values (None for SQL NULL)."""
    (n,) = struct.unpack_from("!h", payload, 0)
    pos, out = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", payload, pos)
        pos += 4
        if ln < 0:
            out.append(None)
        else:
            out.append(payload[pos : pos + ln].decode())
            pos += ln
    return out


def _error_text(body: bytes) -> str:
    fields = {f[:1]: f[1:] for f in body.split(b"\x00") if f}
    return (fields.get(b"C", b"") + b": " + fields.get(b"M", b"?")).decode(
        errors="replace"
    )


class Connection:
    """One client session. ``backend_pid`` is the BackendKeyData pid the
    server announced, which names the session in traces."""

    def __init__(self, host: str, port: int, timeout: float = 120.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        self._pos = 0
        self.backend_pid = 0
        body = struct.pack("!I", _PROTOCOL_3) + _cstr("user") + _cstr("bench")
        body += _cstr("database") + _cstr("bench") + b"\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, payload = self._read_msg()
            if tag == b"K":
                self.backend_pid = struct.unpack_from("!I", payload, 0)[0]
            elif tag == b"E":
                raise WireError(_error_text(payload))
            elif tag == b"Z":
                return

    def close(self) -> None:
        try:
            self.sock.sendall(_msg(b"X"))
        except OSError:
            pass
        self.sock.close()

    # --- framing ------------------------------------------------------------
    def _fill(self, need: int) -> None:
        while len(self._buf) - self._pos < need:
            if self._pos:
                del self._buf[: self._pos]
                self._pos = 0
            chunk = self.sock.recv(1 << 20)
            if not chunk:
                raise WireError("server closed the connection")
            self._buf += chunk

    def _read_msg(self) -> tuple[bytes, bytes]:
        self._fill(5)
        tag = bytes(self._buf[self._pos : self._pos + 1])
        (ln,) = struct.unpack_from("!I", self._buf, self._pos + 1)
        self._fill(1 + ln)
        start = self._pos + 5
        payload = bytes(self._buf[start : self._pos + 1 + ln])
        self._pos += 1 + ln
        return tag, payload

    def _collect(self, res: Result, copy_data: bytes | None = None) -> Result:
        """Read messages up to ReadyForQuery into ``res``. On
        CopyInResponse, send ``copy_data`` then CopyDone."""
        while True:
            tag, payload = self._read_msg()
            res.bytes_in += 5 + len(payload)
            if tag == b"D" or tag == b"d":
                res.rows.append(payload)
            elif tag == b"T":
                (n,) = struct.unpack_from("!h", payload, 0)
                pos = 2
                for _ in range(n):
                    end = payload.index(b"\x00", pos)
                    name = payload[pos:end].decode()
                    oid = struct.unpack_from("!I", payload, end + 7)[0]
                    res.columns.append((name, oid))
                    pos = end + 19
            elif tag == b"C":
                res.tag = payload.rstrip(b"\x00").decode()
            elif tag == b"E":
                res.error = _error_text(payload)
            elif tag == b"G":
                out = bytearray()
                data = copy_data or b""
                for i in range(0, len(data), 1 << 16):
                    out += _msg(b"d", data[i : i + (1 << 16)])
                out += _msg(b"c")
                self.sock.sendall(out)
            elif tag == b"Z":
                return res
            # ParseComplete, BindComplete, NoData, CopyOutResponse,
            # CopyDone, NoticeResponse and ParameterStatus carry
            # nothing the benchmark checks

    # --- statements -----------------------------------------------------------
    def query(self, sql: str, copy_data: bytes | None = None) -> Result:
        """Simple-protocol Query (also COPY TO / COPY FROM)."""
        self.sock.sendall(_msg(b"Q", _cstr(sql)))
        return self._collect(Result(), copy_data)

    def prepared(self, sql: str, params: list[str], oids: list[int]) -> Result:
        """Unnamed statement through Parse/Bind/Describe/Execute/Sync,
        text-format parameters and results, as JDBC and psycopg send."""
        parse = _cstr("") + _cstr(sql) + struct.pack("!h", len(oids))
        parse += b"".join(struct.pack("!I", o) for o in oids)
        bind = _cstr("") + _cstr("") + struct.pack("!hh", 1, 0)
        bind += struct.pack("!h", len(params))
        for p in params:
            b = p.encode()
            bind += struct.pack("!i", len(b)) + b
        bind += struct.pack("!hh", 1, 0)
        self.sock.sendall(
            _msg(b"P", parse)
            + _msg(b"B", bind)
            + _msg(b"D", b"P" + _cstr(""))
            + _msg(b"E", _cstr("") + struct.pack("!i", 0))
            + _msg(b"S")
        )
        return self._collect(Result())
