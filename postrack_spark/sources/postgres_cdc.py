"""`postgres_cdc` — a PySpark 4 Python DataSource exposing a captured
pgoutput stream as batch or streaming DataFrames with CHANGE_SCHEMA.

Architecture (north star, BASELINE.json): WAL capture runs OUTSIDE
Spark — a capture process (the Conn/bootstrap layer + live Postgres)
appends frame files to `capture_dir` (``write_frame_file``: fsync,
atomic rename, directory fsync — durable before the capture acks).
Spark reads those files, decodes pgoutput (sources.pgoutput), and plans
the rest declaratively.

Capture-file contract:
  - files sort lexicographically in stream order (e.g. zero-padded
    sequence numbers written by the capture process)
  - each file is a sequence of length-prefixed replication frames
    (uint32 BE length + frame bytes, XLogData 'w' / keepalive 'k')
  - each file is self-contained: Relation frames for every table it
    references precede the first row frame (Postgres re-sends
    RelationMessages per session the same way; the reference also
    rebuilds its relation cache per connection, postrack.go:341-342)

Offsets are {"file_index": N}: a micro-batch reads files [start, end)
— resuming from a checkpoint continues after the last committed file,
the Spark form of the reference's lsn+1 restart (postrack.go:297).
commit() appends the acked offset to an ack log — the keepAlive
StandbyStatusUpdate analog (postrack.go:107-117) but issued only after
the micro-batch is durably checkpointed (fixes race q3).

Hand-off: both readers' ``read`` yield one ``pyarrow.RecordBatch`` per
capture file (see ``_decode_files``), so rows cross to the JVM as Arrow
columns instead of through PySpark's per-field tuple converters. The
batch is decoded column-wise (``_decode_frames``): Begin and the
Insert/Update/Delete messages of plain transactions are appended
straight into column lists, with no per-row dict, and the `events` /
`start_lsn` filter runs before their images are built. Every other
message (Relation, Commit, TRUNCATE, protocol v2 streaming, v3
two-phase, Origin, Type, Message), a tuple whose column count differs
from its relation's and any frame the fast path cannot parse goes
through the reference decoder, ``pgoutput.decode_xlogdata_stream``, and
its rows land in the same columns.

No ``pushFilters``: the reader always decodes every admitted event, and
``apply_changes`` scans it once per action instead. Push-down would be
unsafe on Spark 4.1.2: ``PythonDataSourceV2`` keeps one read plan per
loaded relation, so every scan of one DataFrame gets the reader pushed
by its first scan, and two differently-filtered scans of one DataFrame
(say, in a union) lose rows. The lakehouse sources
(sources.lakehouse_ds) prune files from per-load options for the same
reason.
"""

from __future__ import annotations

import json
import os
import struct
from datetime import datetime, timedelta, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from postrack_spark.cdc.envelope import CHANGE_SCHEMA
from postrack_spark.sources.pgoutput import (
    _UNPACK_I,
    _UNPACK_QQI,
    DecoderState,
    _pg_ts,
    _tuple_data,
    decode_xlogdata_stream,
)

FRAME_FILE_SUFFIX = ".pgout"


def frames_to_blob(frames: list[bytes]) -> bytes:
    """The ``.pgout`` payload encoding (length-prefixed frames) as one
    bytes value — shared by the file transport (one blob per file) and
    the Kafka-shaped transport (one blob per topic message)."""
    out = bytearray()
    for fr in frames:
        out += struct.pack(">I", len(fr))
        out += fr
    return bytes(out)


def blob_to_frames(data: bytes) -> list[bytes]:
    frames = []
    off = 0
    while off < len(data):
        (ln,) = struct.unpack_from(">I", data, off)
        off += 4
        frames.append(data[off : off + ln])
        off += ln
    return frames


def write_frame_file(path: str, frames: list[bytes]) -> None:
    """Capture-side helper: length-prefixed frames, durable atomic
    rename. The temp file is fsynced before the rename and the directory
    after it: the capture daemon acks the file's LSNs to Postgres as
    soon as this returns, so after an OS crash the file must be there,
    whole, or the slot has moved past events no file holds."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(frames_to_blob(frames))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dir_fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dir_fd)
    finally:
        os.close(dir_fd)


def read_frame_file(path: str) -> list[bytes]:
    with open(path, "rb") as f:
        return blob_to_frames(f.read())


def _capture_files(capture_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(capture_dir) if f.endswith(FRAME_FILE_SUFFIX)
    )


# An XLogData frame is 'w', wal_start, wal_end and the send time, then
# the pgoutput message: its tag byte at _MSG, its body after it.
_MSG = 25
_UNPACK_Q = struct.Struct(">q").unpack_from
_ROW_OPS = {73: "INSERT", 85: "UPDATE", 68: "DELETE"}  # 'I', 'U', 'D'
_UNIX_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_ONE_US = timedelta(microseconds=1)


class _MapColumn:
    """A ``map<string, string>`` column in Arrow's own layout: per row an
    offset into one flat key list and one flat value list, and a
    validity flag (a NULL image adds no entries)."""

    __slots__ = ("offsets", "valid", "keys", "values")

    def __init__(self) -> None:
        self.offsets = [0]
        self.valid: list[bool] = []
        self.keys: list[str] = []
        self.values: list[str | None] = []

    def add(self, keys, values) -> None:
        """One row's image; `values` None makes it NULL."""
        self.valid.append(values is not None)
        if values:
            self.keys.extend(keys)
            self.values.extend(values)
        self.offsets.append(len(self.keys))

    def to_arrow(self, pa, map_type):
        # pa.Array.from_buffers, because MapArray.from_arrays (pyarrow
        # 16) takes no validity mask
        entries = pa.StructArray.from_arrays(
            [pa.array(self.keys, pa.string()), pa.array(self.values, pa.string())],
            fields=[map_type.key_field, map_type.item_field],
        )
        nulls = self.valid.count(False)
        bitmap = pa.array(self.valid, pa.bool_()).buffers()[1] if nulls else None
        return pa.Array.from_buffers(
            map_type, len(self.valid),
            [bitmap, pa.array(self.offsets, pa.int32()).buffers()[1]],
            null_count=nulls, children=[entries],
        )


def _row_images(frame: bytes, op: str, relations: dict):
    """(relation, new values, old values) of a plain Insert, Update or
    Delete frame, with None for an absent image and an empty old image
    for an Update without an old tuple; None when the frame needs the
    reference decoder: an unknown relation, a body it cannot parse, or
    a tuple whose column count differs from the relation's."""
    try:
        rel = relations[_UNPACK_I(frame, _MSG + 1)[0]]
        off = _MSG + 5
        marker = frame[off]
        new = old = None
        if op == "UPDATE":
            old = ()
            if marker == 75 or marker == 79:  # 'K' / 'O' old tuple
                old, off = _tuple_data(frame, off + 1)
                marker = frame[off]
        elif op == "DELETE":
            if marker != 75 and marker != 79:
                return None
            old, _ = _tuple_data(frame, off + 1)
        if op != "DELETE":
            if marker != 78:  # 'N' new tuple
                return None
            new, _ = _tuple_data(frame, off + 1)
    except (KeyError, IndexError, struct.error, ValueError):
        return None
    n = len(rel.columns)
    if (new is not None and len(new) != n) or (old and len(old) != n):
        return None
    return rel, new, old


def _decode_frames(frames: list[bytes], state: DecoderState, events: set[str],
                   start_lsn: int):
    """One capture file's admitted events (op in `events`, lsn >
    `start_lsn`) as one ``pyarrow.RecordBatch`` in the Arrow form of
    CHANGE_SCHEMA, or None when it admits none.

    Each event is appended straight into column lists; no per-row dict
    is built on the hot path. Only the hot messages are decoded here:
    Begin, and Insert, Update and Delete outside a stream segment or a
    prepared transaction. Their `events` / `start_lsn` filter runs on
    the frame header before any image is built, so a row message the
    filter rejects is never decoded, and an error inside it is neither
    raised nor counted. Every other frame goes through the reference
    decoder, ``decode_xlogdata_stream``, one frame at a time: keepalives,
    Relation, Commit, TRUNCATE, protocol v2 streaming and v3 two-phase
    messages, Origin, Type, Message, a tuple whose column count differs
    from its relation's, and any frame the fast path cannot parse. Its
    rows land in the same columns, and it counts undecodable frames in
    ``state.parse_errors``. So the rows are the reference's rows for the
    same frames and filters, in the same order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    lsns, txids, stamps, schemas, tables, ops = [], [], [], [], [], []
    after, before = _MapColumn(), _MapColumn()
    relations = state.relations
    stamp_of = stamp = None  # the last state.commit_ts seen, in µs since 1970

    for frame in frames:
        tag = frame[_MSG] if len(frame) > _MSG and frame[0] == 119 else 0  # 'w'
        if tag == 66 and len(frame) >= _MSG + 21:  # 'B' Begin: lsn, ts, xid
            _final_lsn, ts, xid = _UNPACK_QQI(frame, _MSG + 1)
            state.txid = xid
            state.commit_ts = _pg_ts(ts)
            continue
        op = _ROW_OPS.get(tag)
        if op is not None and state.in_stream is None and state.in_prepare is None:
            (lsn,) = _UNPACK_Q(frame, 1)
            if op not in events or lsn <= start_lsn:
                continue
            images = _row_images(frame, op, relations)
            if images is not None:
                rel, new, old = images
                if state.commit_ts is not stamp_of:
                    stamp_of = state.commit_ts
                    stamp = None if stamp_of is None else (stamp_of - _UNIX_EPOCH) // _ONE_US
                lsns.append(lsn)
                txids.append(state.txid)
                stamps.append(stamp)
                schemas.append(rel.namespace)
                tables.append(rel.name)
                ops.append(op)
                after.add(rel.columns, new)
                before.add(rel.columns, old)
                continue
        for row in decode_xlogdata_stream([frame], state):
            if row["op"] in events and row["lsn"] > start_lsn:
                ts = row["commit_ts"]
                lsns.append(row["lsn"])
                txids.append(row["txid"])
                stamps.append(None if ts is None else (ts - _UNIX_EPOCH) // _ONE_US)
                schemas.append(row["schema"])
                tables.append(row["table"])
                ops.append(row["op"])
                for image, col in ((row["after"], after), (row["before"], before)):
                    col.add(image, None if image is None else image.values())
    if not lsns:
        return None
    schema = to_arrow_schema(CHANGE_SCHEMA)
    scalars = [lsns, txids, stamps, schemas, tables, ops]
    return pa.RecordBatch.from_arrays(
        [pa.array(vals, f.type) for vals, f in zip(scalars, schema)]
        + [after.to_arrow(pa, schema.field("after").type),
           before.to_arrow(pa, schema.field("before").type)],
        schema=schema,
    )


def _decode_files(capture_dir: str, names: list[str], events: set[str], start_lsn: int):
    """Yield one ``pyarrow.RecordBatch`` per capture file, built by
    ``_decode_frames``; a file that admits no event yields nothing.

    pyarrow is imported in the read path, not at module level: the
    capture daemon imports this module for the frame-file helpers and
    never reads."""
    state = DecoderState()
    for name in names:
        batch = _decode_frames(read_frame_file(os.path.join(capture_dir, name)),
                               state, events, start_lsn)
        if batch is not None:
            yield batch


class _Options:
    def __init__(self, options: dict) -> None:
        self.capture_dir = options.get("capture_dir") or options.get("path")
        if not self.capture_dir:
            raise ValueError("postgres_cdc requires option capture_dir")
        ev = options.get("events", "INSERT,UPDATE,DELETE,TRUNCATE")
        self.events = {e.strip().upper() for e in ev.split(",") if e.strip()}
        self.start_lsn = int(options.get("start_lsn", "0"))
        # micro-batch admission (SURVEY §2b backpressure): cap how many
        # capture files one trigger may consume; 0 = unbounded. The
        # reference has NO backpressure - a slow HandleFunc simply
        # blocks the socket read loop (postrack.go:343,383). Note on
        # Trigger.AvailableNow: Spark snapshots the first reported
        # offset for sources without SupportsTriggerAvailableNow, so a
        # capped source drains one cap per RUN - checkpoint-correct
        # bounded drains that converge over repeated runs; use
        # processingTime triggers for continuous pacing.
        self.max_files_per_trigger = int(options.get("maxFilesPerTrigger", "0"))


class CDCFilePartition(InputPartition):
    def __init__(self, names: list[str]):
        self.names = names


class PostgresCDCBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.opts = _Options(options)

    def partitions(self):
        # one partition per capture file: decode parallelism scales with
        # the capture roll interval, order restored downstream via lsn
        return [CDCFilePartition([n]) for n in _capture_files(self.opts.capture_dir)] or [
            CDCFilePartition([])
        ]

    def read(self, partition: CDCFilePartition):
        yield from _decode_files(
            self.opts.capture_dir, partition.names, self.opts.events, self.opts.start_lsn
        )


class PostgresCDCStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.opts = _Options(options)
        # high-water mark of offsets this reader has handed to Spark,
        # seeded from the ack log so a fresh reader (new run over an
        # existing checkpoint) paces from the last COMMITTED offset,
        # not from zero; floors at commit() thereafter
        self._emitted = self._last_acked()

    def _last_acked(self) -> int:
        """Highest offset this source has planned or committed, from
        the reader-side logs. commit() acks fire lazily (on the NEXT
        batch's planning), so single-batch runs never write one; the
        planning log (_progress.json, written in partitions()) covers
        that case. Seeding from planned-not-yet-committed offsets only
        affects PACING - Spark replays any uncommitted batch from its
        checkpoint, so no data is skipped."""
        best = 0
        ack = os.path.join(self.opts.capture_dir, "_acks.jsonl")
        try:
            with open(ack) as f:
                lines = [ln for ln in f.read().splitlines() if ln.strip()]
            best = max((json.loads(ln)["file_index"] for ln in lines), default=0)
        except FileNotFoundError:
            pass
        prog = os.path.join(self.opts.capture_dir, "_progress.json")
        try:
            with open(prog) as f:
                best = max(best, json.load(f)["file_index"])
        except (FileNotFoundError, ValueError, KeyError):
            pass
        return best

    def initialOffset(self) -> dict:
        return {"file_index": 0}

    def latestOffset(self) -> dict:
        total = len(_capture_files(self.opts.capture_dir))
        cap = self.opts.max_files_per_trigger
        nxt = min(total, self._emitted + cap) if cap > 0 else total
        self._emitted = max(self._emitted, nxt)
        return {"file_index": self._emitted}

    def partitions(self, start: dict, end: dict):
        # one partition per capture file, like the batch reader: decode
        # parallelism within a micro-batch scales with the number of
        # files the batch spans; WAL order is restored downstream via
        # the lsn column wherever order matters (SURVEY §4.2)
        names = _capture_files(self.opts.capture_dir)[start["file_index"] : end["file_index"]]
        self._emitted = max(self._emitted, end["file_index"])
        tmp = os.path.join(self.opts.capture_dir, "_progress.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"file_index": self._emitted}, f)
        os.replace(tmp, os.path.join(self.opts.capture_dir, "_progress.json"))
        return [CDCFilePartition([n]) for n in names] or [CDCFilePartition([])]

    def read(self, partition: CDCFilePartition):
        yield from _decode_files(
            self.opts.capture_dir, partition.names, self.opts.events, self.opts.start_lsn
        )

    def commit(self, end: dict) -> None:
        """Ack AFTER durable processing (the keepAlive analog; a live
        capture process reads this log and advances the slot's
        StandbyStatusUpdate)."""
        self._emitted = max(self._emitted, end["file_index"])
        ack = os.path.join(self.opts.capture_dir, "_acks.jsonl")
        with open(ack, "a") as f:
            f.write(json.dumps(end) + "\n")


class PostgresCDCDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "postgres_cdc"

    def schema(self):
        return CHANGE_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return PostgresCDCBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return PostgresCDCStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(PostgresCDCDataSource)
