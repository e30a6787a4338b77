"""External WAL capture: the reference's connect + StartReplication +
receive loop (postrack.go:86-105, 287-310, 340-413), packaged as the
process that PRODUCES the ``.pgout`` frame-file contract that
sources/postgres_cdc.py consumes (contract at postgres_cdc.py:10-27).

The north-star architecture keeps capture OUTSIDE Spark: this module is
plain Python (no Spark imports) so ``scripts/capture_daemon.py`` can
run it next to Postgres while the cluster reads the files. Its transport
(pgwire.run_daemon_pgwire) injects the message source and the ack, so
the loop, the file writer, and the ack policy are fully unit-tested
without a server (tests/test_capture.py); a remote round-trip runs when
``POSTRACK_TEST_DSN`` points at a real Postgres.

Semantics vs the reference:

* Frame pump ≡ postrack.go:340-367 — every replication message is
  re-framed as XLogData ('w' + wal_start/wal_end/clock + payload), the
  exact byte layout pglogrepl hands its handler, so the Spark-side
  decoder sees what a Go-side consumer would.
* Ack cadence ≡ keepAlive every 5 s (postrack.go:103,107-117) — but
  the LSN acked is the last one DURABLY renamed into a completed
  ``.pgout`` file, never the last one merely received. Durable means
  fsynced: ``write_frame_file`` fsyncs the file before the rename and
  the directory after it, so an OS crash cannot lose an acked file. The reference
  acks ``conn.lsn`` which its handler advances BEFORE the callback
  runs (race q3, SURVEY.md §1.1): crash after ack, lose the event.
  Ack-after-durable closes that hole end to end, matching the
  Spark-side rule (offsets commit after the checkpoint).
* File rolling prefers COMMIT boundaries ('C' payloads) and re-sends
  cached Relation/Type frames at the start of every new file, the way
  Postgres re-sends RelationMessages per session (postrack.go:341-342
  rebuilds its cache per connection for the same reason) — each file
  stays self-contained per the contract.
"""

from __future__ import annotations

import os
import struct
import time

from postrack_spark.sources.postgres_cdc import (
    FRAME_FILE_SUFFIX,
    read_frame_file,
    write_frame_file,
)

_XLOG_HEADER = struct.Struct(">qqq")  # wal_start, wal_end, server clock


def make_xlogdata_frame(payload: bytes, data_start: int, wal_end: int = 0,
                        clock_us: int = 0) -> bytes:
    """Re-frame a replication message payload as the XLogData bytes
    the decoder expects ('w' + header + pgoutput message)."""
    return b"w" + _XLOG_HEADER.pack(data_start, wal_end or data_start, clock_us) + payload


class FrameFileWriter:
    """Accumulate replication frames and roll them into zero-padded,
    lexicographically ordered, SELF-CONTAINED ``.pgout`` files.

    Self-containment: the latest Relation ('R') and Type ('Y') frame
    per OID is cached and replayed at the head of every new file, so a
    reader starting at any file can decode it (the contract's third
    clause). Rolling happens when the buffered frame/byte budget is
    exceeded, but is DEFERRED until a safe boundary — a Commit payload
    or a point outside any transaction — so a transaction's Begin and
    rows never straddle a file ack'd as durable while its Commit is
    still buffered.

    v2 STREAMED transactions get the same treatment by replay rather
    than deferral (round 4; caught by the recorded-session e2e fixture,
    tests/test_capture.py): a streamed transaction is DESIGNED to span
    many files — deferring the roll until its StreamCommit would
    unbound file size — so the writer caches every open stream's frames
    (StreamStart / segment data / StreamStop / subtransaction aborts)
    and re-seeds them into each new file until the stream commits or
    fully aborts. A reader decoding any single file therefore sees the
    whole stream up to that file: the file containing the StreamCommit
    emits all surviving rows exactly once, files containing only
    segments emit none (their buffered rows never commit there), so
    per-file parallel decode (one DataSource partition per file) stays
    correct with zero cross-file state. Memory: the cache holds open
    streams only — the same bound the decoder's own commit-time buffer
    already imposes; both spill classes arrive together.
    """

    def __init__(self, out_dir: str, max_frames: int = 4096,
                 max_bytes: int = 16 << 20) -> None:
        self.out_dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        existing = sorted(
            int(f[: -len(FRAME_FILE_SUFFIX)])
            for f in os.listdir(out_dir)
            if f.endswith(FRAME_FILE_SUFFIX)
            and f[: -len(FRAME_FILE_SUFFIX)].isdigit()
        )
        self._init_buffers(max_frames, max_bytes,
                           (existing[-1] + 1) if existing else 0)
        if existing:
            self._rebuild_caches_from(os.path.join(
                out_dir, f"{existing[-1]:012d}{FRAME_FILE_SUFFIX}"))

    def _init_buffers(self, max_frames: int, max_bytes: int,
                      start_seq: int) -> None:
        """Shared field init for all transports (see _persist seam)."""
        self.max_frames = max_frames
        self.max_bytes = max_bytes
        self.seq = start_seq
        self._schema_cache: dict[tuple[bytes, int], bytes] = {}  # (kind, oid) -> frame
        self._stream_cache: dict[int, list[bytes]] = {}  # open v2 stream xid -> frames
        # De-xid'ed R/Y frames first sent INSIDE a streamed transaction,
        # staged per toplevel xid. pgoutput marks a relation's schema as
        # session-sent when the streamed txn COMMITS (cleanup_rel_sync_
        # cache semantics) — after StreamCommit the server will NOT
        # re-send the Relation for later plain transactions, so the
        # writer must promote these into _schema_cache at 'c' (and drop
        # them at toplevel 'A', when the server re-sends).
        self._stream_schema: dict[int, dict[tuple[bytes, int], bytes]] = {}
        self._open_segment: int | None = None  # xid between StreamStart/Stop
        # v3 two-phase: a prepared transaction ('b'..'P') delivers its
        # rows PRE-commit and its CommitPrepared/RollbackPrepared can
        # arrive hours (and many files) later — the stream-cache rule
        # applies verbatim: cache the whole b..P block per gid and
        # re-seed it into every new file until 'K' emits it there
        # (exactly once: earlier files hold no K, so their replayed
        # block stays buffered in the decoder) or 'r' drops it. Memory
        # is bounded by OPEN prepared transactions, the same bound the
        # decoder's own prepared buffer imposes.
        self._prepared_cache: dict[str, list[bytes]] = {}
        self._open_prepare: str | None = None  # gid between 'b' and 'P'
        self._pending: list[bytes] = []
        self._pending_bytes = 0
        self._pending_last_lsn = 0
        self._seed_len = 0  # frames in _pending that are replayed seeds
        self._in_tx = False
        self._roll_requested = False
        self.durable_lsn = 0

    @staticmethod
    def _payload_kind(frame: bytes) -> bytes:
        return frame[25:26] if len(frame) > 25 and frame[:1] == b"w" else b""

    @staticmethod
    def _cstring_at(frame: bytes, off: int) -> str:
        end = frame.index(b"\x00", off)
        return frame[off:end].decode()

    def _persist(self, frames: list[bytes]) -> None:
        """Transport seam: durably store one self-contained roll as unit
        ``self.seq``. The rolling/seeding logic above is transport-
        independent; subclasses (sources/kafka_transport.py) override
        only this to publish the roll elsewhere. MUST be durable on
        return — durable_lsn (and therefore the Postgres ack) advances
        right after; the file transport fsyncs the file and its
        directory (``write_frame_file``)."""
        path = os.path.join(self.out_dir, f"{self.seq:012d}{FRAME_FILE_SUFFIX}")
        write_frame_file(path, frames)

    def _rebuild_caches_from(self, path: str) -> None:
        """Restart recovery (ADVICE r5 medium): durable_lsn — and so the
        Postgres ack — advances past a flushed Prepare, but Postgres
        will NOT re-send a confirmed prepared transaction; only its
        CommitPrepared/RollbackPrepared arrives after a reconnect. A
        writer restarted between ack(Prepare) and CommitPrepared with
        an empty _prepared_cache would produce a K-only file whose
        transaction rows never emit from ANY file — committed rows
        silently lost. Every flush seeds the next file with the full
        schema + open-stream + prepared caches, so the NEWEST flushed
        file deterministically contains everything needed: replay its
        frames through the same cache state machine, then

        * KEEP _schema_cache and _prepared_cache (the server won't
          repeat either for this session's confirmed state — and the
          prepared rows decode against those Relation frames), and
        * DROP _stream_cache/_stream_schema: open NON-prepared
          transactions are re-streamed from their start on reconnect
          (restart_lsn pins at the oldest in-progress txn), so a
          rebuilt copy would double their segments in the next files.

        The next file is then pre-seeded exactly like flush() would
        have seeded it."""
        try:
            frames = read_frame_file(path)
        except (OSError, ValueError):  # torn final file: caches die,
            return  # matching pre-rename crash semantics (file unacked)
        self._rebuild_caches(frames)

    def _rebuild_caches(self, frames: list[bytes]) -> None:
        """Replay one durable roll's frames through the cache state
        machine and keep only what the server will NOT resend (see
        _rebuild_caches_from; also used by KafkaFrameWriter's
        resume_frames)."""
        for fr in frames:
            self._track(fr, self._payload_kind(fr))
        self._stream_cache.clear()
        self._stream_schema.clear()
        self._open_segment = None
        self._open_prepare = None
        self._in_tx = False
        self._pending = list(self._schema_cache.values())
        for gid in sorted(self._prepared_cache):
            self._pending.extend(self._prepared_cache[gid])
        self._seed_len = len(self._pending)
        self._pending_bytes = sum(len(f) + 4 for f in self._pending)

    def _track(self, frame: bytes, kind: bytes) -> None:
        """The cache state machine (schema / v2 stream / two-phase
        block maintenance + transaction boundary flags) — shared by
        live appends and the restart replay (_rebuild_caches_from)."""
        if self._open_segment is not None and kind in (b"R", b"Y"):
            # In-stream Relation/Type: payload is kind + xid(int32) +
            # normal body (decoded at pgoutput.py via tag + msg[5:]), so
            # the oid sits at offset 30, NOT 26 — caching this frame in
            # _schema_cache keyed on the xid-as-oid would both corrupt
            # the key and strand the stream's segments without their
            # Relation after a roll (ADVICE r4 medium). Cache it with
            # its segment, and stage a de-xid'ed copy for promotion at
            # StreamCommit (see _stream_schema comment above).
            xid = self._open_segment
            self._stream_cache[xid].append(frame)
            oid = struct.unpack_from(">i", frame, 30)[0]
            self._stream_schema.setdefault(xid, {})[(kind, oid)] = (
                frame[:26] + frame[30:]
            )
        elif kind in (b"R", b"Y"):
            oid = struct.unpack_from(">i", frame, 26)[0]
            self._schema_cache[(kind, oid)] = frame
        elif kind == b"B":
            self._in_tx = True
        elif kind == b"S":  # v2 StreamStart: open segment of stream xid
            xid = struct.unpack_from(">i", frame, 26)[0]
            self._open_segment = xid
            self._stream_cache.setdefault(xid, []).append(frame)
        elif kind == b"E":  # StreamStop closes the segment
            if self._open_segment is not None:
                self._stream_cache[self._open_segment].append(frame)
                self._open_segment = None
        elif kind == b"A":  # StreamAbort: toplevel drops the cache,
            xid, subxid = struct.unpack_from(">ii", frame, 26)
            if subxid == xid:
                self._stream_cache.pop(xid, None)
                self._stream_schema.pop(xid, None)  # server re-sends R
            elif xid in self._stream_cache:  # subtxn abort replays too
                self._stream_cache[xid].append(frame)
        elif kind == b"c":  # StreamCommit: stream fully delivered;
            # promote its staged R/Y frames — the server now considers
            # their schema sent for the session and will not repeat it
            xid = struct.unpack_from(">i", frame, 26)[0]
            self._stream_cache.pop(xid, None)
            self._schema_cache.update(self._stream_schema.pop(xid, {}))
        elif kind == b"b":  # BeginPrepare: open the b..P block
            gid = self._cstring_at(frame, 25 + 29)
            self._open_prepare = gid
            self._prepared_cache[gid] = [frame]
            self._in_tx = True
        elif kind == b"P":  # Prepare closes the block; K/r still pending
            if self._open_prepare is not None:
                self._prepared_cache[self._open_prepare].append(frame)
            self._open_prepare = None
        elif kind == b"p":  # StreamPrepare: the streamed txn is now a
            # prepared txn — move its stream cache under the gid and
            # promote staged R/Y (rel sync cleanup happens at prepare)
            xid = struct.unpack_from(">i", frame, 25 + 26)[0]
            gid = self._cstring_at(frame, 25 + 30)
            frames = self._stream_cache.pop(xid, [])
            self._schema_cache.update(self._stream_schema.pop(xid, {}))
            self._prepared_cache[gid] = frames + [frame]
        elif kind == b"K":  # CommitPrepared: this file emits the block
            gid = self._cstring_at(frame, 25 + 30)
            self._prepared_cache.pop(gid, None)
        elif kind == b"r":  # RollbackPrepared: block never emits
            gid = self._cstring_at(frame, 25 + 38)
            self._prepared_cache.pop(gid, None)
        elif self._open_segment is not None and kind != b"":
            # data/message frame inside an open segment
            self._stream_cache[self._open_segment].append(frame)
        if (self._open_prepare is not None
                and kind in (b"I", b"U", b"D", b"T", b"M", b"O", b"R", b"Y")):
            # data inside the b..P block replays with its gid (R/Y also
            # hit the schema cache above — harmless, decode idempotent)
            self._prepared_cache[self._open_prepare].append(frame)
        if kind in (b"C", b"P"):  # Commit / Prepare both end the block
            self._in_tx = False

    def append(self, frame: bytes) -> None:
        kind = self._payload_kind(frame)
        self._track(frame, kind)
        if self._pending or kind != b"":  # skip leading keepalive-only files
            self._pending.append(frame)
            self._pending_bytes += len(frame) + 4
            if kind != b"":
                self._pending_last_lsn = struct.unpack_from(">q", frame, 1)[0]
        if (len(self._pending) >= self.max_frames
                or self._pending_bytes >= self.max_bytes):
            self._roll_requested = True
        if self._roll_requested and not self._in_tx and self._open_segment is None:
            self.flush()

    def flush(self, force: bool = False) -> None:
        """Write buffered frames as the next file (atomic rename) and
        advance durable_lsn. No-op when nothing is buffered.

        DEFERRED while a stream segment is open (ADVICE r4 high): a file
        ending mid-segment makes the next file's seed replay an OPEN
        segment (StreamStart + partial data, no StreamStop); if another
        cached stream follows in the seed, its StreamStop resets the
        decoder's in_stream, so the open stream's live continuation
        frames decode as PLAIN messages and uncommitted rows leak. The
        ack-interval flush and size rolls both route through here, so
        the guard covers every flush path; ``close()`` forces (no next
        file follows, an unterminated trailing segment emits nothing).
        """
        if self._open_segment is not None and not force:
            self._roll_requested = True
            return
        if not self._pending:
            self._roll_requested = False
            return
        self._persist(self._pending)
        self.seq += 1
        self.durable_lsn = max(self.durable_lsn, self._pending_last_lsn)
        # seed the NEXT file with the current schema frames plus every
        # open v2 stream's frames so far (self-containment clause —
        # the file that eventually holds StreamCommit must see the
        # whole stream even when per-file decoders run in parallel)
        self._pending = list(self._schema_cache.values())
        for xid in sorted(self._stream_cache):
            self._pending.extend(self._stream_cache[xid])
        for gid in sorted(self._prepared_cache):
            self._pending.extend(self._prepared_cache[gid])
        self._seed_len = len(self._pending)
        self._pending_bytes = sum(len(f) + 4 for f in self._pending)
        self._roll_requested = False

    def close(self) -> None:
        # a final file holding only replayed seed frames (schema +
        # open-stream replay) is useless — flush only if a real data
        # frame followed the seed. Daemon-restart note: the stream
        # cache dies with the process, which is safe because Postgres
        # pins restart_lsn at the oldest in-progress transaction and
        # re-streams open transactions from their start on reconnect —
        # the new writer's cache refills from the re-sent segments.
        if any(self._payload_kind(f) not in (b"R", b"Y")
               for f in self._pending[self._seed_len:]):
            self.flush(force=True)
        self._pending = []


def capture_loop(source, writer: FrameFileWriter, ack,
                 ack_interval_s: float = 5.0, clock=time.monotonic,
                 stop=lambda: False) -> None:
    """The receive loop (postrack.go:340-367 shape).

    ``source`` yields message objects with ``payload`` / ``data_start``
    / ``wal_end`` / ``send_time_us`` attributes (or None on a read
    timeout); ``ack(lsn)`` sends StandbyStatusUpdate. Every
    ``ack_interval_s`` the buffered frames are flushed to a durable
    file FIRST and only the durable LSN is acked (see module
    docstring). The loop exits when ``source`` is exhausted or
    ``stop()`` turns true; a final flush+ack runs on exit.
    """
    last_ack = clock()
    for msg in source:
        if stop():
            break
        if msg is not None:
            writer.append(
                make_xlogdata_frame(msg.payload, msg.data_start,
                                    msg.wal_end, msg.send_time_us)
            )
        if clock() - last_ack >= ack_interval_s:
            writer.flush()
            if writer.durable_lsn:
                ack(writer.durable_lsn)
            last_ack = clock()
    writer.close()
    if writer.durable_lsn:
        ack(writer.durable_lsn)
