"""Unit tests for the pure-stdlib pgwire framing layer — no server.

The stalled-server timeout test covers ADVICE r4 (low): once a partial
message header was buffered, the old _recv_exact skipped the select()
wait and blocked indefinitely in sock.recv, so read_replication_message's
timeout (and therefore the daemon's SIGTERM stop() recheck) was never
honored. The fix must (a) return within the timeout even mid-message and
(b) consume nothing on timeout, so the next call resumes cleanly.
"""

from __future__ import annotations

import bisect
import socket
import struct
import time

from postrack_spark.sources.pgwire import PgWireConnection


def _bare_connection(sock: socket.socket) -> PgWireConnection:
    conn = object.__new__(PgWireConnection)
    conn.sock = sock
    conn._buf = bytearray()
    conn._pos = 0
    return conn


def _msg(mtype: bytes, payload: bytes) -> bytes:
    return mtype + struct.pack(">i", len(payload) + 4) + payload


def test_recv_message_timeout_with_partial_header_buffered():
    client, server = socket.socketpair()
    try:
        conn = _bare_connection(client)
        frame = _msg(b"k", b"\x01\x02\x03")
        server.sendall(frame[:3])  # partial header (3 of 5 bytes), then stall
        t0 = time.monotonic()
        mtype, payload = conn._recv_message(timeout=0.25)
        elapsed = time.monotonic() - t0
        assert (mtype, payload) == (None, None)
        assert elapsed < 2.0  # returned by the deadline, did not hang
        assert conn._buf == frame[:3]  # nothing consumed on timeout
        server.sendall(frame[3:])  # server wakes up: message completes
        assert conn._recv_message(timeout=1.0) == (b"k", b"\x01\x02\x03")
    finally:
        client.close()
        server.close()


def test_recv_message_timeout_mid_payload_then_resume():
    client, server = socket.socketpair()
    try:
        conn = _bare_connection(client)
        payload = b"\xaa" * 64
        frame = _msg(b"d", payload)
        server.sendall(frame[:20])  # header + part of the payload, stall
        t0 = time.monotonic()
        assert conn._recv_message(timeout=0.25) == (None, None)
        assert time.monotonic() - t0 < 2.0
        server.sendall(frame[20:])  # server wakes up
        mtype, got = conn._recv_message(timeout=1.0)
        assert mtype == b"d" and got == payload  # no desync, exactly once
        # and the buffer is empty afterwards
        assert conn._buf == b""
    finally:
        client.close()
        server.close()


def test_recv_message_blocking_path_unchanged():
    client, server = socket.socketpair()
    try:
        conn = _bare_connection(client)
        server.sendall(_msg(b"Z", b"I") + _msg(b"C", b"SELECT 1\x00"))
        assert conn._recv_message() == (b"Z", b"I")
        assert conn._recv_message() == (b"C", b"SELECT 1\x00")
    finally:
        client.close()
        server.close()


class _ChunkedSocket:
    """Hands out a byte stream in fixed recv-sized chunks."""

    def __init__(self, data: bytes, chunk: int):
        self.chunks = [data[i:i + chunk] for i in range(0, len(data), chunk)]

    def recv(self, n: int) -> bytes:
        assert self.chunks, "read past the end of the stream"
        out = self.chunks.pop(0)
        assert len(out) <= n
        return out


def test_recv_message_across_64k_chunk_boundaries():
    """Messages of many sizes, one larger than a chunk, read back intact
    and in order while the stream arrives in 64 KiB recv chunks, with a
    chunk boundary inside a message header and inside a payload. The
    consumed prefix is dropped, so the buffer stays near one chunk."""
    msgs = [(b"d", bytes([i % 251]) * (i * 37 % 300)) for i in range(3000)]
    msgs.insert(1500, (b"d", b"\x07" * 150_000))
    stream = b"".join(_msg(t, p) for t, p in msgs)
    starts = [0]
    for t, p in msgs:
        starts.append(starts[-1] + 5 + len(p))
    chunk = 65536
    # offset of each chunk boundary inside the message it falls in
    cuts = {b - starts[bisect.bisect_right(starts, b) - 1] for b in range(chunk, len(stream), chunk)}
    assert cuts & {1, 2, 3, 4} and max(cuts) > 5  # header and payload splits
    conn = _bare_connection(_ChunkedSocket(stream, chunk))
    peak = 0
    for want in msgs:
        assert conn._recv_message() == want
        peak = max(peak, len(conn._buf))
    assert conn._buf == b"" and conn._pos == 0
    assert peak <= 2 * chunk + 150_005


def test_recv_message_timeout_after_consumed_messages_then_resume():
    """A timeout mid-message after earlier messages were consumed from
    the same buffer consumes nothing; the retry returns that message."""
    client, server = socket.socketpair()
    try:
        conn = _bare_connection(client)
        first, second, third = _msg(b"d", b"a" * 10), _msg(b"d", b"b" * 20), _msg(b"d", b"c" * 30)
        server.sendall(first + second + third[:12])
        assert conn._recv_message(timeout=1.0) == (b"d", b"a" * 10)
        assert conn._recv_message(timeout=1.0) == (b"d", b"b" * 20)
        pos, buffered = conn._pos, bytes(conn._buf)
        assert conn._recv_message(timeout=0.25) == (None, None)
        assert (conn._pos, bytes(conn._buf)) == (pos, buffered)
        server.sendall(third[12:])
        assert conn._recv_message(timeout=1.0) == (b"d", b"c" * 30)
        assert conn._buf == b""
    finally:
        client.close()
        server.close()
