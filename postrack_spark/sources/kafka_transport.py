"""Kafka-shaped transport for the capture daemon (SURVEY §2b names
"external capture → kafka" as the alternative to the ``.pgout`` file
contract; ref architecture: postrack.go:340-367's pump, re-targeted).

The writer reuses FrameFileWriter's ENTIRE rolling machine — commit-
boundary deferral, open-segment deferral, schema/stream seeding,
exactly-once-per-unit decode — and overrides only the ``_persist``
seam: each roll becomes ONE topic message, keyed by the roll sequence
number, carrying the same length-prefixed frame blob a ``.pgout`` file
would hold. Every delivery/ordering property proven for files in
tests/test_capture.py therefore transfers to messages verbatim, and a
consumer decodes each message with a fresh DecoderState exactly like
the DataSource decodes each file.

Delivery contract (mirrors ack-after-durable, capture.py module
docstring): ``producer.flush()`` must confirm broker acknowledgement
before ``_persist`` returns — only then does durable_lsn (and the
Postgres StandbyStatusUpdate) advance. A flush failure leaves
durable_lsn behind, the daemon retries the SAME seq, and consumers
dedupe on the seq key: at-least-once publish + idempotent read =
exactly-once rows.

No Kafka broker (or client package) ships in this container, so the
producer is a duck type: ``send(topic, key, value)`` + ``flush()`` (+
optional ``resume_seq(topic)``). ``KafkaProducerAdapter`` binds the
real kafka-python client when installed (import-gated), and
``FakeBroker`` (tests) implements the
contract in memory with failure injection.
"""

from __future__ import annotations

import struct

from postrack_spark.sources.capture import FrameFileWriter
from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream
from postrack_spark.sources.postgres_cdc import blob_to_frames, frames_to_blob


class KafkaFrameWriter(FrameFileWriter):
    """FrameFileWriter with the persistence seam re-targeted at a
    topic. One roll == one message: key = big-endian uint64 seq,
    value = the ``.pgout`` blob.

    Restart: the file transport rebuilds its schema/prepared caches
    from the newest flushed file (FrameFileWriter._rebuild_caches_from
    — the two-phase crash window: Postgres never resends a confirmed
    Prepare). This transport can't re-read its own sink without a
    consumer, so the caller passes the tail message's decoded frames
    as ``resume_frames`` (or a producer exposing ``resume_frames(
    topic)``) and they replay through the same cache rebuild. Omitting
    them on a restart across an open prepared transaction loses that
    transaction's rows — same class, now stated AND pluggable."""

    def __init__(self, producer, topic: str, max_frames: int = 4096,
                 max_bytes: int = 16 << 20, resume_seq: int | None = None,
                 resume_frames: list[bytes] | None = None):
        self.producer = producer
        self.topic = topic
        if resume_seq is None:
            resume = getattr(producer, "resume_seq", None)
            resume_seq = resume(topic) if resume is not None else 0
        # no out_dir scan: the resume point comes from the broker
        self._init_buffers(max_frames, max_bytes, resume_seq)
        if resume_frames is None and resume_seq:
            tail = getattr(producer, "resume_frames", None)
            resume_frames = tail(topic) if tail is not None else None
        if resume_frames:
            self._rebuild_caches(resume_frames)

    def _persist(self, frames: list[bytes]) -> None:
        key = struct.pack(">Q", self.seq)
        self.producer.send(self.topic, key=key, value=frames_to_blob(frames))
        self.producer.flush()  # broker ack BEFORE durable_lsn advances


def decode_topic_messages(messages) -> list[dict]:
    """Consumer side: exactly-once decode of a topic's (key, value)
    messages. Dedupes on the seq key (at-least-once producer retries
    re-send an identical blob under the same seq), orders by seq, and
    decodes each message with a FRESH DecoderState — the per-file
    parallel-decode contract, so committed rows emit exactly once no
    matter how rolls split transactions or v2 streams."""
    by_seq: dict[int, bytes] = {}
    for key, value in messages:
        (seq,) = struct.unpack(">Q", key)
        by_seq.setdefault(seq, value)  # duplicates carry identical blobs
    rows: list[dict] = []
    for seq in sorted(by_seq):
        state = DecoderState()
        rows.extend(
            decode_xlogdata_stream(blob_to_frames(by_seq[seq]), state)
        )
    return rows


class KafkaProducerAdapter:
    """Bind the real kafka-python client when installed (import-gated:
    no broker or client ships in the test container). acks='all' +
    synchronous flush implements the
    durable-before-ack contract."""

    def __init__(self, bootstrap_servers: str):
        try:
            from kafka import KafkaProducer  # type: ignore
        except ImportError as e:  # pragma: no cover - environment-dependent
            raise RuntimeError(
                "kafka sink needs kafka-python (pip install kafka-python) "
                "next to a broker; the Spark side never does"
            ) from e
        self._producer = KafkaProducer(
            bootstrap_servers=bootstrap_servers, acks="all"
        )

    def send(self, topic: str, key: bytes, value: bytes) -> None:  # pragma: no cover
        self._producer.send(topic, key=key, value=value)

    def flush(self) -> None:  # pragma: no cover
        self._producer.flush()
