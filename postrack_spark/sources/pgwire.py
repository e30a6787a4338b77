"""Pure-stdlib PostgreSQL frontend: wire protocol v3 + logical
replication (CopyBoth). It is the capture daemon's one transport.

The protocol is public (PostgreSQL documentation, "Frontend/Backend
Protocol" + "Streaming Replication Protocol"). This implements exactly
what the capture daemon needs, against a local or a remote server:

* settings from one ``postgres[ql]://`` DSN (``parse_dsn``). libpq
  environment variables, ``.pgpass``, service files, unix sockets and
  multi-host DSNs are not supported,
* TLS via SSLRequest for sslmode disable / prefer / require /
  verify-full, and trust, cleartext, md5 and SCRAM-SHA-256 auth (no
  ``-PLUS`` channel binding; the password is not SASLprep-normalized),
* simple Query ('Q') with text-format result sets — enough for catalog
  probes, DDL, DML, and walsender commands (CREATE_REPLICATION_SLOT,
  IDENTIFY_SYSTEM return plain result sets on a replication
  connection),
* START_REPLICATION ... LOGICAL -> CopyBothResponse, XLogData ('w')
  and primary-keepalive ('k') CopyData messages, StandbyStatusUpdate
  ('r') feedback — the duck-typed message surface capture.capture_loop
  consumes (payload / data_start / wal_end / send_time_us).

This mirrors the reference's two-connection split (postrack.go:93,98:
a pooled SQL connection + a ?replication=database connection):
``PgWireExecutor`` exposes the api.Executor protocol over two
PgWireConnections, so the full name-for-name api.py surface
(publications, slots, catalog probes) runs live.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import secrets
import select
import socket
import ssl
import struct
import time
from urllib.parse import parse_qsl, unquote, urlsplit


_RECV_SIZE = 65536
_UNPACK_I = struct.Struct(">i").unpack_from
_MESSAGE_TYPES = [bytes((b,)) for b in range(256)]  # type byte -> bytes, no slice per message
_SSLMODES = ("disable", "prefer", "require", "verify-full")
_AUTH_NAMES = {2: "KerberosV5", 6: "SCM", 7: "GSSAPI", 9: "SSPI"}  # unanswered codes


class PgError(RuntimeError):
    """Server ErrorResponse, with the severity/code/message fields."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        super().__init__(
            f"{fields.get('S', 'ERROR')} {fields.get('C', '')}: "
            f"{fields.get('M', 'unknown')}"
        )


def _fatal(message: str) -> PgError:
    return PgError({"S": "FATAL", "M": message})


def parse_dsn(dsn: str) -> dict:
    """``postgres[ql]://user:password@host:port/database?sslmode=…&
    sslrootcert=…`` -> the keyword arguments of PgWireConnection,
    PgWireExecutor and run_daemon_pgwire, percent-decoded. Defaults:
    host 127.0.0.1, port 5432, user postgres, database = user (libpq's
    rule), sslmode prefer (libpq's default)."""
    u = urlsplit(dsn)
    if u.scheme not in ("postgres", "postgresql") or "," in u.netloc:
        raise ValueError(f"not a single-host postgres:// DSN: {u.scheme}://{u.hostname}")
    params = dict(parse_qsl(u.query, keep_blank_values=True))
    unknown = set(params) - {"sslmode", "sslrootcert"}
    if unknown:
        raise ValueError(f"unsupported DSN parameters: {sorted(unknown)}")
    user = unquote(u.username) if u.username else "postgres"
    return {
        "host": unquote(u.hostname) if u.hostname else "127.0.0.1",
        "port": u.port or 5432,
        "user": user,
        "database": unquote(u.path.lstrip("/")) or user,
        "password": unquote(u.password) if u.password is not None else None,
        "sslmode": params.get("sslmode", "prefer"),
        "sslrootcert": params.get("sslrootcert") or None,
    }


def scram_client_final(password: str, client_first_bare: str,
                       server_first: bytes) -> tuple[bytes, bytes]:
    """SCRAM-SHA-256 (RFC 5802 / 7677), gs2 flag ``n``: the client-final
    message answering ``server_first``, and the server-final message the
    server must send back (``v=`` + its signature)."""
    text = server_first.decode()
    attrs = dict(kv.split("=", 1) for kv in text.split(",") if "=" in kv)
    client_nonce = client_first_bare.rsplit("r=", 1)[1]
    nonce = attrs.get("r", "")
    if not nonce.startswith(client_nonce) or nonce == client_nonce:
        raise _fatal("SCRAM server nonce does not extend the client nonce")
    if "s" not in attrs or not attrs.get("i", "").isdigit():
        raise _fatal(f"malformed SCRAM server-first message {text!r}")
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(),
                                 base64.b64decode(attrs["s"]), int(attrs["i"]))
    client_key = _hmac(salted, b"Client Key")
    without_proof = f"c=biws,r={nonce}"  # biws = base64("n,,")
    auth_message = f"{client_first_bare},{text},{without_proof}".encode()
    signature = _hmac(hashlib.sha256(client_key).digest(), auth_message)
    proof = base64.b64encode(bytes(a ^ b for a, b in zip(client_key, signature)))
    server_signature = _hmac(_hmac(salted, b"Server Key"), auth_message)
    return (f"{without_proof},p={proof.decode()}".encode(),
            b"v=" + base64.b64encode(server_signature))


def _hmac(key: bytes, msg: bytes) -> bytes:
    return hmac.new(key, msg, hashlib.sha256).digest()


class ReplicationMessage:
    """Duck type for capture.capture_loop (see capture.py:185)."""

    __slots__ = ("payload", "data_start", "wal_end", "send_time_us")

    def __init__(self, payload: bytes, data_start: int, wal_end: int,
                 send_time_us: int) -> None:
        self.payload = payload
        self.data_start = data_start
        self.wal_end = wal_end
        self.send_time_us = send_time_us


def format_lsn(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


class PgWireConnection:
    """One protocol-v3 connection (regular or walsender).

    sslmode ``prefer`` uses TLS when the server offers it, ``require``
    fails without it, and ``verify-full`` also checks the host name and
    the chain, against the system CAs when no ``sslrootcert`` is given.
    As in libpq, any TLS connection checks the chain against a given
    ``sslrootcert``. ``connect_timeout`` covers connect, TLS and auth."""

    def __init__(self, host: str, port: int, user: str, database: str,
                 replication: bool = False, connect_timeout: float = 10.0, *,
                 password: str | None = None, sslmode: str = "prefer",
                 sslrootcert: str | None = None):
        if sslmode not in _SSLMODES:
            raise ValueError(f"sslmode {sslmode!r} is not one of {_SSLMODES}")
        self.sock = socket.create_connection((host, port), timeout=connect_timeout)
        # received bytes; those before _pos are consumed
        self._buf = bytearray()
        self._pos = 0
        self._copy_both = False
        try:
            if sslmode != "disable":
                self._start_tls(host, sslmode, sslrootcert)
            self._startup(user, database, replication, password)
        except BaseException:
            self.sock.close()
            raise
        self.sock.settimeout(None)

    def _start_tls(self, host: str, sslmode: str, sslrootcert: str | None) -> None:
        self.sock.sendall(struct.pack(">ii", 8, 80877103))  # SSLRequest
        answer = self.sock.recv(1)  # one byte: nothing may precede the handshake
        if answer == b"N" and sslmode == "prefer":
            return
        if answer != b"S":
            raise _fatal(f"server answered {answer!r} to SSLRequest; sslmode={sslmode}")
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
        ctx.check_hostname = sslmode == "verify-full"
        if sslrootcert:
            ctx.load_verify_locations(sslrootcert)
        elif sslmode == "verify-full":
            ctx.load_default_certs()
        else:
            ctx.verify_mode = ssl.CERT_NONE
        self.sock = ctx.wrap_socket(self.sock, server_hostname=host)

    def _startup(self, user: str, database: str, replication: bool,
                 password: str | None) -> None:
        params = {
            "user": user,
            "database": database,
            "application_name": "postrack_pgwire",
        }
        if replication:
            params["replication"] = "database"
        body = b"".join(
            k.encode() + b"\x00" + v.encode() + b"\x00" for k, v in params.items()
        ) + b"\x00"
        pkt = struct.pack(">iI", len(body) + 8, 196608) + body  # protocol 3.0
        self.sock.sendall(pkt)
        scram_first = scram_final = None  # set while a SCRAM exchange runs
        # consume until ReadyForQuery
        while True:
            mtype, payload = self._recv_message()
            if mtype == b"R":
                (code,) = struct.unpack_from(">i", payload)
                if code in (3, 5, 10) and password is None:
                    raise _fatal("server asked for a password; the DSN has none")
                if code == 0 and scram_first is not None:
                    raise _fatal("AuthenticationOk before the SCRAM server signature")
                if code == 3:  # cleartext
                    self._send_message(b"p", password.encode() + b"\x00")
                elif code == 5:  # md5 with a 4-byte salt
                    inner = hashlib.md5((password + user).encode()).hexdigest().encode()
                    digest = hashlib.md5(inner + payload[4:8]).hexdigest()
                    self._send_message(b"p", f"md5{digest}".encode() + b"\x00")
                elif code == 10:  # SASL, with a NUL-terminated mechanism list
                    if b"SCRAM-SHA-256" not in payload[4:].split(b"\x00"):
                        raise _fatal(f"SASL mechanisms {payload[4:]!r} unsupported")
                    # Postgres ignores the SCRAM user name: it checks the startup user
                    scram_first = f"n=,r={secrets.token_urlsafe(18)}"
                    first = b"n,," + scram_first.encode()
                    self._send_message(b"p", b"SCRAM-SHA-256\x00"
                                       + struct.pack(">i", len(first)) + first)
                elif code == 11 and scram_first is not None:  # SASLContinue
                    final, scram_final = scram_client_final(password, scram_first, payload[4:])
                    self._send_message(b"p", final)
                elif code == 12 and scram_final is not None:  # SASLFinal
                    if not hmac.compare_digest(payload[4:], scram_final):
                        raise _fatal("SCRAM server signature does not verify")
                    scram_first = None
                elif code != 0:
                    raise _fatal(f"auth method {_AUTH_NAMES.get(code, code)} unsupported "
                                 "(pgwire answers trust, password, md5 and SCRAM-SHA-256)")
            elif mtype == b"E":
                raise PgError(self._error_fields(payload))
            elif mtype == b"Z":
                return
            # 'S' ParameterStatus / 'K' BackendKeyData / 'N' Notice: ignore

    # -- low-level framing -------------------------------------------

    def _fill(self, n: int, deadline: float | None) -> bool:
        """Buffer >= n unconsumed bytes (from ``_pos``) WITHOUT
        consuming. Returns False when the deadline passes first — the
        partial bytes stay buffered so a later call resumes mid-message.
        ADVICE r4 (low): the old code only applied the select() wait
        while the buffer was EMPTY; once a partial header was buffered,
        sock.recv blocked indefinitely on a stalled server and the
        daemon's stop() flag (SIGTERM) was never rechecked."""
        while len(self._buf) - self._pos < n:
            # a TLS socket may hold decrypted bytes that select() cannot see
            if deadline is not None and not (
                    isinstance(self.sock, ssl.SSLSocket) and self.sock.pending()):
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    return False
                r, _, _ = select.select([self.sock], [], [], remaining)
                if not r:
                    return False
            chunk = self.sock.recv(_RECV_SIZE)
            if not chunk:
                raise PgError({"S": "FATAL", "M": "server closed connection"})
            if self._pos >= _RECV_SIZE:
                # drop the consumed prefix once per large read, not the
                # unconsumed remainder once per message
                del self._buf[: self._pos]
                self._pos = 0
            self._buf += chunk
        return True

    def _recv_message(self, timeout: float | None = None) -> tuple[bytes, bytes] | tuple[None, None]:
        # One deadline spans header + payload, and NOTHING is consumed
        # until the whole message is buffered — a timeout mid-message
        # leaves the stream positioned for a clean retry.
        deadline = time.monotonic() + timeout if timeout is not None else None
        if not self._fill(5, deadline):
            return None, None
        (length,) = _UNPACK_I(self._buf, self._pos + 1)
        total = 5 + (length - 4 if length > 4 else 0)
        if not self._fill(total, deadline):
            return None, None
        buf, start = self._buf, self._pos  # after _fill, which may compact
        mtype, payload = _MESSAGE_TYPES[buf[start]], bytes(buf[start + 5 : start + total])
        self._pos = start + total
        if self._pos == len(buf):
            buf.clear()
            self._pos = 0
        return mtype, payload

    def _send_message(self, mtype: bytes, payload: bytes) -> None:
        self.sock.sendall(mtype + struct.pack(">i", len(payload) + 4) + payload)

    @staticmethod
    def _error_fields(payload: bytes) -> dict[str, str]:
        fields: dict[str, str] = {}
        pos = 0
        while pos < len(payload) and payload[pos:pos + 1] != b"\x00":
            code = payload[pos:pos + 1].decode()
            end = payload.index(b"\x00", pos + 1)
            fields[code] = payload[pos + 1:end].decode("utf-8", "replace")
            pos = end + 1
        return fields

    # -- simple query ------------------------------------------------

    def query(self, sql: str) -> list[tuple]:
        """Simple-protocol query; rows come back as text (None = NULL)."""
        self._send_message(b"Q", sql.encode() + b"\x00")
        rows: list[tuple] = []
        error: PgError | None = None
        while True:
            mtype, payload = self._recv_message()
            if mtype == b"D":
                (ncols,) = struct.unpack_from(">h", payload)
                pos = 2
                vals = []
                for _ in range(ncols):
                    (vlen,) = struct.unpack_from(">i", payload, pos)
                    pos += 4
                    if vlen == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[pos:pos + vlen].decode("utf-8", "replace"))
                        pos += vlen
                rows.append(tuple(vals))
            elif mtype == b"E":
                error = PgError(self._error_fields(payload))
            elif mtype == b"W":  # CopyBothResponse: replication started
                self._copy_both = True
                return rows
            elif mtype == b"Z":
                if error is not None:
                    raise error
                return rows
            # 'T' RowDescription / 'C' CommandComplete / 'N' / 'S' / 'I': skip

    # -- logical replication (CopyBoth) ------------------------------

    def start_replication(self, slot: str, start_lsn: int,
                          options: dict[str, str]) -> None:
        opts = ", ".join(f"{_quote_ident(k)} {_quote_literal(v)}"
                         for k, v in options.items())
        self.query(
            f"START_REPLICATION SLOT {_quote_ident(slot)} LOGICAL "
            f"{format_lsn(start_lsn)} ({opts})"
        )
        if not self._copy_both:
            raise PgError({"S": "FATAL", "M": "expected CopyBothResponse"})

    def read_replication_message(self, timeout: float = 1.0) -> ReplicationMessage | None:
        """Next XLogData as a duck-typed message; None on timeout.
        Keepalives are answered transparently when a reply is requested
        (with flush 0 = 'no news', like pglogrepl's default)."""
        while True:
            mtype, payload = self._recv_message(timeout=timeout)
            if mtype is None:
                return None
            if mtype == b"d":  # CopyData
                kind = payload[:1]
                if kind == b"w":
                    start, end, clock = struct.unpack_from(">qqq", payload, 1)
                    return ReplicationMessage(payload[25:], start, end, clock)
                if kind == b"k":
                    _end, _clock, reply = struct.unpack_from(">qqb", payload, 1)
                    if reply:
                        self.send_standby_status(0)
                    continue
                continue
            if mtype == b"E":
                raise PgError(self._error_fields(payload))
            if mtype in (b"c", b"C", b"Z"):  # CopyDone / complete: stream over
                raise StopIteration
            # notices etc: ignore

    def send_standby_status(self, flush_lsn: int, reply: int = 0) -> None:
        # microseconds since the Postgres epoch (2000-01-01)
        clock = int((time.time() - 946_684_800) * 1_000_000)
        body = b"r" + struct.pack(">qqqqb", flush_lsn, flush_lsn, flush_lsn,
                                  clock, reply)
        self._send_message(b"d", body)

    def close(self) -> None:
        try:
            self._send_message(b"X", b"")
        except OSError:
            pass
        self.sock.close()


def _quote_literal(v) -> str:
    if v is None:
        return "NULL"
    return "'" + str(v).replace("'", "''") + "'"


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _bind_params(sql: str, params: tuple) -> str:
    # split once, so a parameter that contains %s is never scanned again
    parts = sql.split("%s")
    if len(parts) != len(params) + 1:
        raise ValueError(f"{len(parts) - 1} placeholders for {len(params)} parameters")
    return parts[0] + "".join(_quote_literal(p) + part for p, part in zip(params, parts[1:]))


class PgWireExecutor:
    """api.Executor over two PgWireConnections (the reference's pooled
    SQL conn + replication conn split, postrack.go:93,98). ``%s``
    placeholders are substituted client-side with quoted literals —
    the api.py catalog probes only ever pass names. ``conn_options`` are
    PgWireConnection's keywords: ``PgWireExecutor(**parse_dsn(dsn))``."""

    def __init__(self, host: str, port: int, user: str, database: str, **conn_options):
        self._conn = PgWireConnection(host, port, user, database, **conn_options)
        self._repl = PgWireConnection(host, port, user, database, replication=True,
                                      **conn_options)

    def query(self, sql: str, params: tuple = ()) -> list[tuple]:
        return self._conn.query(_bind_params(sql, params) if params else sql)

    def command(self, sql: str) -> None:
        self._conn.query(sql)

    def replication_command(self, cmd: str) -> None:
        self._repl.query(cmd)

    def close(self) -> None:
        self._conn.close()
        self._repl.close()


def run_daemon_pgwire(host: str, port: int, user: str, database: str,
                      slot: str, out_dir: str, publication: str,
                      start_lsn: int = 0, proto_version: int = 1,
                      streaming: bool = False, two_phase: bool = False,
                      messages: bool = False, binary: bool = False,
                      ack_interval_s: float = 5.0, max_frames: int = 4096,
                      max_bytes: int = 16 << 20, stop=lambda: False,
                      writer=None, **conn_options) -> None:
    """The capture daemon: connect + StartReplication + pump
    (postrack.go:86-105, 287-310) into capture.capture_loop, resuming at
    ``start_lsn + 1`` like the reference (postrack.go:297). Pass
    ``writer`` to re-target the sink (e.g. kafka_transport.
    KafkaFrameWriter); default is the ``.pgout`` file contract.
    ``conn_options`` are PgWireConnection's keywords (see parse_dsn)."""
    from postrack_spark.sources.capture import FrameFileWriter, capture_loop

    repl = PgWireConnection(host, port, user, database, replication=True, **conn_options)
    options = {
        "proto_version": str(proto_version),
        "publication_names": publication,
    }
    if streaming:
        options["streaming"] = "on"
    if two_phase:
        options["two_phase"] = "on"  # needs proto_version >= 3 + a
        # TWO_PHASE slot (api.Conn.add_slot(two_phase=True))
    if messages:
        options["messages"] = "on"  # pg_logical_emit_message 'M' frames
    if binary:
        # pgoutput's binary mode (PG14+): types with binary send
        # functions arrive as 'b' TupleData columns; the decoder
        # surfaces them in bytea text form ("\\x<hex>"), lossless
        options["binary"] = "on"
    repl.start_replication(slot, start_lsn + 1, options)
    if writer is None:
        writer = FrameFileWriter(out_dir, max_frames=max_frames,
                                 max_bytes=max_bytes)

    def source():
        while not stop():
            try:
                yield repl.read_replication_message(timeout=1.0)
            except StopIteration:
                return

    def ack(lsn: int) -> None:
        repl.send_standby_status(lsn)

    try:
        capture_loop(source(), writer, ack, ack_interval_s=ack_interval_s,
                     stop=stop)
    finally:
        repl.close()
