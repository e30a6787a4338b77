#!/usr/bin/env python
"""Capture daemon CLI: run next to Postgres, write ``.pgout`` frame
files for the Spark side (the external half of the north-star split).

    python scripts/capture_daemon.py \
        --dsn postgres://user:pw@host/db --slot my_slot \
        --out /data/capture --table public.orders --table public.customer \
        --create --from-lsn 0

``--create`` provisions the slot and per-table publications through the
same api.Conn layer the library exposes (Bootstrap semantics,
postrack.go:320-338) before starting the pump. Resume by passing the
last durable LSN (tail of the Spark side's ack log, or just rerun with
--from-lsn taken from the daemon's own last log line).
"""

from __future__ import annotations

import argparse
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from postrack_spark.api import Conn, Table, create_publication_id
from postrack_spark.sources.pgwire import PgWireExecutor, parse_dsn, run_daemon_pgwire


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--dsn", required=True)
    ap.add_argument("--slot", required=True)
    ap.add_argument("--out", required=True, help="capture_dir for frame files")
    ap.add_argument("--table", action="append", default=[],
                    help="schema.table (repeatable); used with --create")
    ap.add_argument("--create", action="store_true",
                    help="provision slot + publications before streaming")
    ap.add_argument("--from-lsn", type=int, default=0)
    ap.add_argument("--proto-version", type=int, default=1, choices=(1, 2, 3))
    ap.add_argument("--streaming", action="store_true",
                    help="proto v2 in-progress transaction streaming")
    ap.add_argument("--two-phase", action="store_true",
                    help="proto v3 two-phase decoding (TWO_PHASE slot)")
    ap.add_argument("--sink", default="file", choices=("file", "kafka"),
                    help="where rolls go: .pgout files in --out (default) "
                         "or one message per roll on a Kafka topic "
                         "(--broker/--topic; needs kafka-python)")
    ap.add_argument("--broker", default=None,
                    help="Kafka bootstrap servers (with --sink kafka)")
    ap.add_argument("--topic", default=None,
                    help="Kafka topic for WAL rolls (with --sink kafka)")
    ap.add_argument("--ack-interval", type=float, default=5.0,
                    help="seconds between durable-flush + ack (ref: 5)")
    ap.add_argument("--max-frames", type=int, default=4096)
    ap.add_argument("--max-bytes", type=int, default=16 << 20)
    args = ap.parse_args()

    try:
        dsn = parse_dsn(args.dsn)
    except ValueError as e:
        ap.error(f"--dsn: {e}")

    if args.create:
        executor = PgWireExecutor(**dsn)
        try:
            conn = Conn(args.dsn, executor=executor)
            conn.set_slot(args.slot)
            for spec in args.table:
                schema, _, name = spec.partition(".")
                conn.set_publication(Table(schema, name))
        finally:
            executor.close()  # its walsender would hold a max_wal_senders seat

    stopping = {"flag": False}

    def handle(_sig, _frm):
        stopping["flag"] = True

    signal.signal(signal.SIGINT, handle)
    signal.signal(signal.SIGTERM, handle)

    common = dict(
        slot=args.slot, publication=create_publication_id(args.slot),
        start_lsn=args.from_lsn, proto_version=args.proto_version,
        streaming=args.streaming, two_phase=args.two_phase,
        ack_interval_s=args.ack_interval,
        max_frames=args.max_frames, max_bytes=args.max_bytes,
        stop=lambda: stopping["flag"],
    )
    if args.sink == "kafka":
        if not (args.broker and args.topic):
            ap.error("--sink kafka requires --broker and --topic")
        from postrack_spark.sources.kafka_transport import (
            KafkaFrameWriter,
            KafkaProducerAdapter,
        )

        common["writer"] = KafkaFrameWriter(
            KafkaProducerAdapter(args.broker), args.topic,
            max_frames=args.max_frames, max_bytes=args.max_bytes,
            resume_seq=0,
        )
    run_daemon_pgwire(out_dir=args.out, **dsn, **common)
    return 0


if __name__ == "__main__":
    sys.exit(main())
