"""Pure-Python pgoutput (logical replication protocol v1) decoder.

Message formats follow the public PostgreSQL documentation
("Logical Streaming Replication Protocol" / "Logical Replication
Message Formats"). Functional parity with the reference's handler loop
(postrack.go:340-413) — decode XLogData frames, maintain the relation
cache, emit one envelope dict per row change — with the reference's
defects fixed:

  q2  TRUNCATE emits the real table name(s) (the reference indexes its
      relation cache with the relation *count*, postrack.go:408, so the
      name is almost always "")
  q4  NULL ('n'), unchanged-TOAST ('u') and empty-string text values
      are distinguished (the reference stringifies raw bytes with no
      tuple-kind check, postrack.go:381 — all three collapse to "")
  q5  Begin/Commit are decoded into txid/commit_ts on every event (the
      reference's switch has no Begin/Commit arms — dropped)

Emitted envelope matches cdc.envelope.CHANGE_SCHEMA keys. Values are
text-encoded (map[string]string), exactly the reference's data model
(postrack.go:35); None marks SQL NULL, UNCHANGED marks a TOASTed
column not present in the new image.

``decode_xlogdata_stream`` is the reference decoder: one envelope dict
per row change. The Kafka transport and the capture tests use it as is.
``postgres_cdc``'s read path decodes its hot messages straight into
Arrow columns and hands every other frame to it; tests require both to
give the same rows.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

# Sentinel for 'u' (unchanged TOAST) tuple values — a consumer merging
# an UPDATE should keep the previous value for these columns.
UNCHANGED = "__unchanged__"

# Postgres timestamps count microseconds from 2000-01-01 UTC.
_PG_EPOCH = datetime(2000, 1, 1, tzinfo=timezone.utc)


@dataclass
class Relation:
    oid: int
    namespace: str
    name: str
    replica_identity: int
    columns: list[str]


@dataclass
class DecoderState:
    """The decoder's only state: the relation cache (the reference's
    two maps, postrack.go:341-342) + current transaction context +
    the per-transaction buffers protocol v2 streaming needs."""

    relations: dict[int, Relation] = field(default_factory=dict)
    txid: int | None = None
    commit_ts: datetime | None = None
    parse_errors: int = 0  # undecodable frames skipped (ref: silent, :359-365)
    # --- protocol v2 (streaming of in-progress transactions) ---
    # xid of the stream segment currently open ('S'..'E'), else None
    in_stream: int | None = None
    # toplevel xid -> [(subxid, envelope_row)] buffered until
    # StreamCommit emits them / StreamAbort drops a subtransaction
    pending: dict[int, list[tuple[int, dict]]] = field(default_factory=dict)
    # --- protocol v3 (two-phase commit, PG15+) ---
    # gid of the prepared transaction currently open ('b'..'P'), else
    # None; data between BeginPrepare and Prepare buffers under it
    in_prepare: str | None = None
    # gid -> (xid, rows) held from Prepare until CommitPrepared emits
    # them or RollbackPrepared drops them — a prepared transaction can
    # stay open for hours, so this is durable-decode state, not a
    # per-message scratch buffer
    prepared: dict[str, tuple[int, list[dict]]] = field(default_factory=dict)
    # --- side channels (no envelope rows) ---
    # replication origin of the current session's changes ('O' frames;
    # set by cascading replication / logical failover setups)
    origin: str | None = None
    # pg_logical_emit_message payloads ('M' frames): dicts with
    # lsn/prefix/content/transactional/txid — an out-of-band signal
    # channel (schema markers, app checkpoints) a consumer can drain
    messages: list[dict] = field(default_factory=list)
    # Type ('Y') messages: custom/composite type oid -> qualified name
    # (the server sends one per non-builtin column type; builtin types
    # never get a Type message, so absence here means "builtin")
    types: dict[int, str] = field(default_factory=dict)


def _cstring(buf: bytes, off: int) -> tuple[str, int]:
    end = buf.index(b"\x00", off)
    return buf[off:end].decode("utf-8"), end + 1


def _pg_ts(micros: int) -> datetime:
    return _PG_EPOCH + timedelta(microseconds=micros)


# Hot path: precompiled Structs skip the per-call format-cache lookup,
# and kind bytes compare as ints (buf[i]) to avoid a bytes allocation
# per column. This loop decodes every column of every row change.
_UNPACK_H = struct.Struct(">h").unpack_from
_UNPACK_I = struct.Struct(">i").unpack_from
_UNPACK_QQI = struct.Struct(">qqi").unpack_from


def _tuple_data(buf: bytes, off: int, _UNPACK_H=_UNPACK_H,
                _UNPACK_I=_UNPACK_I) -> tuple[list, int]:
    """TupleData: int16 ncols, then per column a kind byte:
    'n' NULL / 'u' unchanged TOAST / 't' text (int32 len + bytes).

    The unpack callables are bound as defaults: this function runs once
    per row change with a per-column inner loop, and local-slot lookups
    measured ~1.6x faster than module-global ones on the decode bench.
    """
    (ncols,) = _UNPACK_H(buf, off)
    off += 2
    vals: list = []
    append = vals.append
    unchanged = UNCHANGED
    for _ in range(ncols):
        kind = buf[off]
        off += 1
        if kind == 116:  # 't' — text, the overwhelmingly common case
            (ln,) = _UNPACK_I(buf, off)
            off += 4
            end = off + ln
            append(buf[off:end].decode("utf-8"))
            off = end
        elif kind == 110:  # 'n' — SQL NULL
            append(None)
        elif kind == 117:  # 'u' — unchanged TOAST
            append(unchanged)
        elif kind == 98:  # 'b' — binary-format column (server sends it
            # when the subscription negotiates binary; proto-version
            # independent). Surface as Postgres's text-mode bytea form
            # ("\\x<hex>") so a binary-negotiated stream yields the
            # SAME envelope values a text stream would for bytea —
            # typed projection downstream is protocol-agnostic.
            (ln,) = _UNPACK_I(buf, off)
            off += 4
            end = off + ln
            append("\\x" + buf[off:end].hex())
            off = end
        else:
            raise ValueError(f"unknown TupleData kind {bytes((kind,))!r}")
    return vals, off


def _zip_row(rel: Relation, vals: list) -> dict[str, str | None]:
    return dict(zip(rel.columns, vals))


def decode_message(msg: bytes, lsn: int, state: DecoderState) -> list[dict]:
    """Decode one pgoutput logical replication message; returns zero or
    more envelope rows (Relation/Begin/Commit/Origin/Type yield none).

    Handles BOTH protocol v1 (the reference's hardcoded version,
    postrack.go:300) and v2's streaming of large in-progress
    transactions (PG14+): 'S' opens a stream segment for a toplevel
    xid, data messages inside a segment carry a subtransaction-xid
    prefix and are BUFFERED rather than emitted, 'E' closes the
    segment (segments of different transactions interleave), 'A' drops
    one subtransaction's buffered rows, and 'c' (StreamCommit) emits
    the surviving buffer in order with txid/commit_ts stamped. Memory
    note: the buffer is bounded by the size of in-flight streamed
    transactions — the same bound the server's reorder buffer already
    imposed pre-v2; a production source would spill past a threshold.
    """
    tag = msg[0:1]

    if tag == b"b":  # BeginPrepare: prepare_lsn, end_lsn, ts, xid, gid
        _plsn, _elsn, ts = struct.unpack_from(">qqq", msg, 1)
        (xid,) = _UNPACK_I(msg, 25)
        gid, _ = _cstring(msg, 29)
        state.txid = xid
        state.commit_ts = _pg_ts(ts)
        state.in_prepare = gid
        state.prepared[gid] = (xid, [])
        return []
    if tag == b"P":  # Prepare: flags i8, prepare_lsn, end_lsn, ts, xid, gid
        state.in_prepare = None
        state.txid = None
        state.commit_ts = None
        return []
    if tag == b"K":  # CommitPrepared: flags, commit_lsn, end_lsn, ts, xid, gid
        _clsn, _elsn, ts = struct.unpack_from(">qqq", msg, 2)
        (xid,) = _UNPACK_I(msg, 26)
        gid, _ = _cstring(msg, 30)
        commit_ts = _pg_ts(ts)
        _pxid, rows = state.prepared.pop(gid, (xid, []))
        for row in rows:
            row["txid"] = xid
            row["commit_ts"] = commit_ts
        return rows
    if tag == b"r":  # RollbackPrepared: flags, 2 lsns, 2 ts, xid, gid
        (xid,) = _UNPACK_I(msg, 34)
        gid, _ = _cstring(msg, 38)
        state.prepared.pop(gid, None)
        return []
    if tag == b"p":  # StreamPrepare: flags, prepare_lsn, end_lsn, ts, xid, gid
        (xid,) = _UNPACK_I(msg, 26)
        gid, _ = _cstring(msg, 30)
        rows = [row for _sub, row in state.pending.pop(xid, [])]
        state.prepared[gid] = (xid, rows)
        return []
    if tag == b"S":  # StreamStart: xid int32, first_segment int8
        (xid,) = _UNPACK_I(msg, 1)
        state.in_stream = xid
        state.pending.setdefault(xid, [])
        return []
    if tag == b"E":  # StreamStop
        state.in_stream = None
        return []
    if tag == b"c":  # StreamCommit: xid, flags i8, commit_lsn, end_lsn, ts
        (xid,) = _UNPACK_I(msg, 1)
        (_flags,) = struct.unpack_from(">b", msg, 5)
        _clsn, _elsn, ts = struct.unpack_from(">qqq", msg, 6)
        commit_ts = _pg_ts(ts)
        rows = [row for _sub, row in state.pending.pop(xid, [])]
        for row in rows:
            row["txid"] = xid
            row["commit_ts"] = commit_ts
        return rows
    if tag == b"A":  # StreamAbort: xid int32, subxid int32
        (xid,) = _UNPACK_I(msg, 1)
        (subxid,) = _UNPACK_I(msg, 5)
        if subxid == xid:
            state.pending.pop(xid, None)  # whole transaction aborted
        elif xid in state.pending:
            state.pending[xid] = [
                (s, r) for s, r in state.pending[xid] if s != subxid
            ]
        return []
    if state.in_stream is not None and tag in (b"R", b"I", b"U", b"D", b"T", b"Y", b"O", b"M"):
        # streamed data message: tag, subxid int32, then the normal body
        (subxid,) = _UNPACK_I(msg, 1)
        rows = _decode_plain(tag + msg[5:], lsn, state)
        state.pending.setdefault(state.in_stream, []).extend(
            (subxid, row) for row in rows
        )
        return []
    rows = _decode_plain(msg, lsn, state)
    if state.in_prepare is not None and rows:
        # data inside BeginPrepare..Prepare: buffered until
        # CommitPrepared (a prepared txn may yet roll back)
        state.prepared[state.in_prepare][1].extend(rows)
        return []
    return rows


def _decode_plain(msg: bytes, lsn: int, state: DecoderState) -> list[dict]:
    tag = msg[0:1]
    out: list[dict] = []

    if tag == b"B":  # Begin: final_lsn int64, commit_ts int64, xid int32
        _, ts, xid = _UNPACK_QQI(msg, 1)
        state.txid = xid
        state.commit_ts = _pg_ts(ts)
    elif tag == b"C":  # Commit: flags i8, commit_lsn, end_lsn, ts
        state.txid = None
        state.commit_ts = None
    elif tag == b"R":  # Relation
        (oid,) = struct.unpack_from(">i", msg, 1)
        off = 5
        ns, off = _cstring(msg, off)
        name, off = _cstring(msg, off)
        replident = msg[off]
        off += 1
        (ncols,) = struct.unpack_from(">h", msg, off)
        off += 2
        cols = []
        for _ in range(ncols):
            off += 1  # per-column flags
            cname, off = _cstring(msg, off)
            off += 8  # type oid + typmod
            cols.append(cname)
        state.relations[oid] = Relation(oid, ns, name, replident, cols)
    elif tag == b"I":  # Insert: reloid, 'N', TupleData
        (oid,) = _UNPACK_I(msg, 1)
        rel = state.relations[oid]
        assert msg[5:6] == b"N"
        vals, _ = _tuple_data(msg, 6)
        out.append(_envelope(lsn, state, rel, "INSERT", _zip_row(rel, vals), None))
    elif tag == b"U":  # Update: reloid, optional 'K'/'O'+old, 'N'+new
        (oid,) = _UNPACK_I(msg, 1)
        rel = state.relations[oid]
        off = 5
        before: dict | None = {}
        marker = msg[off : off + 1]
        if marker in (b"K", b"O"):
            off += 1
            old_vals, off = _tuple_data(msg, off)
            before = _zip_row(rel, old_vals)
            marker = msg[off : off + 1]
        assert marker == b"N", marker
        off += 1
        new_vals, _ = _tuple_data(msg, off)
        # before stays {} when no old tuple: default replica identity
        # (mirrors postrack.go:388-392 via an EMPTY map, not NULL)
        out.append(_envelope(lsn, state, rel, "UPDATE", _zip_row(rel, new_vals), before))
    elif tag == b"D":  # Delete: reloid, 'K'/'O', TupleData
        (oid,) = _UNPACK_I(msg, 1)
        rel = state.relations[oid]
        assert msg[5:6] in (b"K", b"O")
        vals, _ = _tuple_data(msg, 6)
        out.append(_envelope(lsn, state, rel, "DELETE", None, _zip_row(rel, vals)))
    elif tag == b"T":  # Truncate: int32 nrels, int8 options, oids...
        (nrels,) = _UNPACK_I(msg, 1)
        off = 6
        for _ in range(nrels):
            (oid,) = _UNPACK_I(msg, off)
            off += 4
            rel = state.relations[oid]
            out.append(_envelope(lsn, state, rel, "TRUNCATE", None, None))
    elif tag == b"O":  # Origin: commit_lsn int64, origin name cstring
        name, _ = _cstring(msg, 9)
        state.origin = name
    elif tag == b"M":  # Message (pg_logical_emit_message): flags int8,
        # lsn int64, prefix cstring, int32 length, content bytes
        flags = msg[1]
        (mlsn,) = struct.unpack_from(">q", msg, 2)
        prefix, off = _cstring(msg, 10)
        (ln,) = _UNPACK_I(msg, off)
        off += 4
        state.messages.append({
            "lsn": mlsn,
            "prefix": prefix,
            "content": "\\x" + msg[off : off + ln].hex(),
            "transactional": bool(flags & 1),
            "txid": state.txid,
        })
    elif tag == b"Y":  # Type: oid int32, namespace cstring, name cstring
        (toid,) = _UNPACK_I(msg, 1)
        ns, off = _cstring(msg, 5)
        tname, _ = _cstring(msg, off)
        state.types[toid] = f"{ns}.{tname}" if ns else tname
    # others: no rows
    return out


def _envelope(lsn, state, rel, op, after, before) -> dict:
    return {
        "lsn": lsn,
        "txid": state.txid,
        "commit_ts": state.commit_ts,
        "schema": rel.namespace,
        "table": rel.name,
        "op": op,
        "after": after,
        "before": before,
    }


def decode_xlogdata_stream(frames: list[bytes], state: DecoderState | None = None) -> list[dict]:
    """Decode a sequence of replication frames the way the reference's
    handler does (postrack.go:343-367): keep only XLogData ('w') frames
    — PrimaryKeepalive ('k') is skipped — parse the header, advance the
    LSN, decode the payload."""
    state = state or DecoderState()
    rows: list[dict] = []
    for frame in frames:
        if not frame or frame[0:1] != b"w":  # XLogDataByteID
            continue
        try:
            wal_start, _wal_end, _clock = struct.unpack_from(">qqq", frame, 1)
            payload = frame[25:]
            rows.extend(decode_message(payload, wal_start, state))
        except (struct.error, KeyError, AssertionError, IndexError):
            # Undecodable frame: skip and count. The reference silently
            # `continue`s on any parse error (postrack.go:359-365); we
            # keep the resilience but surface it — a capture bug that
            # eats 1% of frames should be visible, not silent.
            state.parse_errors += 1
    return rows


# ---------------------------------------------------------------- encoding
# (test-fixture synthesis: FIXTURES.md §B.5 golden byte sequences)


def encode_begin(final_lsn: int, commit_ts: datetime, xid: int) -> bytes:
    micros = int((commit_ts - _PG_EPOCH).total_seconds() * 1_000_000)
    return b"B" + struct.pack(">qqi", final_lsn, micros, xid)


def encode_commit(commit_lsn: int, end_lsn: int, commit_ts: datetime) -> bytes:
    micros = int((commit_ts - _PG_EPOCH).total_seconds() * 1_000_000)
    return b"C" + struct.pack(">bqqq", 0, commit_lsn, end_lsn, micros)


def encode_relation(oid: int, ns: str, name: str, columns: list[str]) -> bytes:
    out = b"R" + struct.pack(">i", oid)
    out += ns.encode() + b"\x00" + name.encode() + b"\x00"
    out += b"d"  # replica identity default
    out += struct.pack(">h", len(columns))
    for c in columns:
        out += b"\x00" + c.encode() + b"\x00" + struct.pack(">ii", 25, -1)  # text type
    return out


def _encode_tuple(values: list) -> bytes:
    out = struct.pack(">h", len(values))
    for v in values:
        if v is None:
            out += b"n"
        elif v is UNCHANGED or v == UNCHANGED:
            out += b"u"
        elif isinstance(v, (bytes, bytearray)):  # binary-format column
            out += b"b" + struct.pack(">i", len(v)) + bytes(v)
        else:
            b = str(v).encode("utf-8")
            out += b"t" + struct.pack(">i", len(b)) + b
    return out


def encode_insert(oid: int, values: list) -> bytes:
    return b"I" + struct.pack(">i", oid) + b"N" + _encode_tuple(values)


def encode_update(oid: int, new_values: list, old_values: list | None = None) -> bytes:
    out = b"U" + struct.pack(">i", oid)
    if old_values is not None:
        out += b"O" + _encode_tuple(old_values)
    return out + b"N" + _encode_tuple(new_values)


def encode_delete(oid: int, old_values: list) -> bytes:
    return b"D" + struct.pack(">i", oid) + b"O" + _encode_tuple(old_values)


def encode_truncate(oids: list[int]) -> bytes:
    out = b"T" + struct.pack(">i", len(oids)) + b"\x00"
    for oid in oids:
        out += struct.pack(">i", oid)
    return out


def encode_type(oid: int, namespace: str, name: str) -> bytes:
    return (b"Y" + struct.pack(">i", oid)
            + namespace.encode() + b"\x00" + name.encode() + b"\x00")


def encode_origin(commit_lsn: int, name: str) -> bytes:
    return b"O" + struct.pack(">q", commit_lsn) + name.encode() + b"\x00"


def encode_logical_message(prefix: str, content: bytes, lsn: int = 0,
                           transactional: bool = True) -> bytes:
    return (b"M" + struct.pack(">bq", 1 if transactional else 0, lsn)
            + prefix.encode() + b"\x00"
            + struct.pack(">i", len(content)) + content)


def _gid_tail(ts: datetime, xid: int, gid: str) -> bytes:
    micros = int((ts - _PG_EPOCH).total_seconds() * 1_000_000)
    return struct.pack(">qi", micros, xid) + gid.encode() + b"\x00"


def encode_begin_prepare(prepare_lsn: int, end_lsn: int, ts: datetime,
                         xid: int, gid: str) -> bytes:
    return (b"b" + struct.pack(">qq", prepare_lsn, end_lsn)
            + _gid_tail(ts, xid, gid))


def encode_prepare(prepare_lsn: int, end_lsn: int, ts: datetime,
                   xid: int, gid: str) -> bytes:
    return (b"P" + struct.pack(">bqq", 0, prepare_lsn, end_lsn)
            + _gid_tail(ts, xid, gid))


def encode_commit_prepared(commit_lsn: int, end_lsn: int, ts: datetime,
                           xid: int, gid: str) -> bytes:
    return (b"K" + struct.pack(">bqq", 0, commit_lsn, end_lsn)
            + _gid_tail(ts, xid, gid))


def encode_rollback_prepared(prepare_end_lsn: int, rollback_end_lsn: int,
                             prepare_ts: datetime, rollback_ts: datetime,
                             xid: int, gid: str) -> bytes:
    pmicros = int((prepare_ts - _PG_EPOCH).total_seconds() * 1_000_000)
    return (b"r" + struct.pack(">bqqq", 0, prepare_end_lsn,
                               rollback_end_lsn, pmicros)
            + _gid_tail(rollback_ts, xid, gid))


def encode_stream_prepare(prepare_lsn: int, end_lsn: int, ts: datetime,
                          xid: int, gid: str) -> bytes:
    return (b"p" + struct.pack(">bqq", 0, prepare_lsn, end_lsn)
            + _gid_tail(ts, xid, gid))


def encode_stream_start(xid: int, first_segment: bool = True) -> bytes:
    return b"S" + struct.pack(">ib", xid, 1 if first_segment else 0)


def encode_stream_stop() -> bytes:
    return b"E"


def encode_stream_commit(xid: int, commit_lsn: int, end_lsn: int, commit_ts: datetime) -> bytes:
    micros = int((commit_ts - _PG_EPOCH).total_seconds() * 1_000_000)
    return b"c" + struct.pack(">ibqqq", xid, 0, commit_lsn, end_lsn, micros)


def encode_stream_abort(xid: int, subxid: int) -> bytes:
    return b"A" + struct.pack(">ii", xid, subxid)


def with_stream_xid(payload: bytes, subxid: int) -> bytes:
    """Prefix a data message with the subtransaction xid, as the server
    does for every message inside a stream segment (protocol v2)."""
    return payload[0:1] + struct.pack(">i", subxid) + payload[1:]


def wrap_xlogdata(payload: bytes, wal_start: int) -> bytes:
    return b"w" + struct.pack(">qqq", wal_start, wal_start, 0) + payload


def keepalive_frame(wal_end: int = 0, reply_requested: bool = False) -> bytes:
    return b"k" + struct.pack(">qqb", wal_end, 0, 1 if reply_requested else 0)
