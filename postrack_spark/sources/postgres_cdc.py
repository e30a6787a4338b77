"""`postgres_cdc` — a PySpark 4 Python DataSource exposing a captured
pgoutput stream as batch or streaming DataFrames with CHANGE_SCHEMA.

Architecture (north star, BASELINE.json): WAL capture runs OUTSIDE
Spark — a capture process (the Conn/bootstrap layer + live Postgres)
appends frame files to `capture_dir`. Spark reads those files, decodes
pgoutput (sources.pgoutput), and plans the rest declaratively.

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
columns instead of through PySpark's per-field tuple converters.

No ``pushFilters``: the reader always decodes every admitted event, and
``apply_changes`` scans it once per action instead. Push-down would be
unsafe on Spark 4.1.2 for two reasons. (a) ``PythonDataSourceV2`` keeps
one read plan per loaded relation, so every scan of one DataFrame gets
the reader pushed by its first scan, and two differently-filtered scans
of one DataFrame (say, in a union) lose rows. (b) A reader that implements ``pushFilters`` raises
``DATA_SOURCE_PUSHDOWN_DISABLED`` in any session without
``spark.sql.python.filterPushdown.enabled``; ``session.get_spark``
does not set it (only ``configure_session`` does).
``pydelta`` (sources.lakehouse_ds) does prune files from pushed
filters and carries defect (a).
"""

from __future__ import annotations

import json
import os
import struct

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from postrack_spark.cdc.envelope import CHANGE_SCHEMA
from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream

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
    """Capture-side helper: length-prefixed frames, atomic rename."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(frames_to_blob(frames))
    os.replace(tmp, path)


def read_frame_file(path: str) -> list[bytes]:
    with open(path, "rb") as f:
        return blob_to_frames(f.read())


def _capture_files(capture_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(capture_dir) if f.endswith(FRAME_FILE_SUFFIX)
    )


def _decode_files(capture_dir: str, names: list[str], events: set[str], start_lsn: int):
    """Yield one ``pyarrow.RecordBatch`` per capture file, holding its
    admitted events (op in `events`, lsn > `start_lsn`); a file that
    admits none yields nothing. Built column-wise against the Arrow form
    of CHANGE_SCHEMA: the decoder's image dicts become map values as
    they are (``{}`` stays an empty map, None stays NULL) and its
    UTC-aware commit times become ``timestamp[us, tz=UTC]``.

    pyarrow is imported here, not at module level: the capture daemon
    imports this module for the frame-file helpers and never reads."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(CHANGE_SCHEMA)
    state = DecoderState()
    for name in names:
        frames = read_frame_file(os.path.join(capture_dir, name))
        rows = [
            row
            for row in decode_xlogdata_stream(frames, state)
            if row["op"] in events and row["lsn"] > start_lsn
        ]
        if rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array([row[f.name] for row in rows], type=f.type) for f in schema],
                schema=schema,
            )


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
