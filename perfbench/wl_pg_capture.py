"""``pg_capture``: a live Postgres slot drained into capture files.

Layers: ``sources.pgwire`` (walsender protocol) and ``sources.capture``
(``capture_loop`` and ``FrameFileWriter``). No JVM is started: Spark and
every layer behind the capture files are bypassed.

Set-up starts a throwaway cluster (``initdb``; ``wal_level=logical``,
``fsync=off``) as an unprivileged user, creates the orders-shaped table,
one ``pgoutput`` slot per step, and then commits the seeded block of
changes: small single-statement transactions plus a few bulk ones, and
a one-row fence transaction. The timed step takes the next unused slot,
resumes ``START_REPLICATION`` after its LSN (``run_daemon_pgwire``) and
pumps the block into a fresh capture directory until the slot's
``confirmed_flush_lsn`` covers the fence commit. So every step decodes
and captures the same WAL, and no generator or server work runs between
steps. The check compares the
row messages in the step's files, byte for byte, with the pgoutput
encoding of the committed events, counts the commits, and checks last
commit LSN <= confirmed_flush_lsn <= the writer's durable_lsn (ack only
after the frames are durable).
"""

from __future__ import annotations

import os
import shutil
import signal
import socket
import struct
import subprocess
import time
from collections import Counter

from perfbench.gen import COLUMNS, INSERT, TABLE, UPDATE, OrdersChanges
from perfbench.harness import CheckFailed, Tracer, median

SLOT = "bench_slot"
PUBLICATION = "bench_pub"
USER = DATABASE = "postgres"


def parse_lsn(text: str) -> int:
    hi, lo = text.split("/")
    return (int(hi, 16) << 32) | int(lo, 16)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class PgServer:
    """A throwaway Postgres cluster under ``base``. Postgres refuses to
    run as root, so as root it runs in a user namespace that maps the
    caller to ``nobody``; its files stay owned by the caller."""

    def __init__(self, base: str, max_slots: int = 4) -> None:
        self.base = base
        self.max_slots = max_slots
        self.data = os.path.join(base, "data")
        self.port = _free_port()
        self.proc: subprocess.Popen | None = None
        self.host = "127.0.0.1"

    @staticmethod
    def _as_user() -> list[str]:
        if os.geteuid() != 0:
            return []
        return ["unshare", "--user", "--map-user=65534", "--map-group=65534"]

    def start(self) -> None:
        os.makedirs(self.base, exist_ok=True)
        initdb = shutil.which("initdb") or "/usr/local/bin/initdb"
        postgres = shutil.which("postgres") or "/usr/local/bin/postgres"
        subprocess.run(
            [*self._as_user(), initdb, "-D", self.data, "-A", "trust", "-U", USER,
             "-E", "UTF8", "--no-sync"],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
            timeout=60)
        settings = {
            "port": self.port, "listen_addresses": self.host,
            "unix_socket_directories": "", "wal_level": "logical",
            "fsync": "off", "synchronous_commit": "off",
            "full_page_writes": "off", "autovacuum": "off",
            "max_wal_size": "1GB", "max_replication_slots": self.max_slots,
            "max_wal_senders": 4,
        }
        args = [x for k, v in settings.items() for x in ("-c", f"{k}={v}")]
        with open(os.path.join(self.base, "server.log"), "wb") as log:
            self.proc = subprocess.Popen([*self._as_user(), postgres, "-D", self.data, *args],
                                         stdout=log, stderr=subprocess.STDOUT)
        from postrack_spark.sources.pgwire import PgError

        deadline = time.monotonic() + 30
        while True:
            try:
                self.connect().close()
                return
            except (OSError, PgError):  # not listening / still starting up
                if self.proc.poll() is not None or time.monotonic() > deadline:
                    raise RuntimeError("postgres did not start; see server.log")
                time.sleep(0.05)

    def connect(self, replication: bool = False):
        from postrack_spark.sources.pgwire import PgWireConnection

        return PgWireConnection(self.host, self.port, USER, DATABASE,
                                replication=replication)

    def stop(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.send_signal(signal.SIGINT)  # fast shutdown
            try:
                self.proc.wait(30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(30)
        self.proc = None
        shutil.rmtree(self.base, ignore_errors=True)


def _values(rows) -> str:
    return ",".join(f"({k},{c},'{s}',{a},{v})" for k, c, s, a, v in rows)


def txn_sql(txn: list[tuple]) -> str:
    """One transaction as BEGIN; <one statement per run of same-kind
    events on distinct keys>; COMMIT."""
    runs: list[tuple[str, list]] = []
    keys: set[int] = set()
    for kind, key, row in txn:
        if not runs or runs[-1][0] != kind or key in keys:
            runs.append((kind, []))
            keys = set()
        keys.add(key)
        runs[-1][1].append(row if row is not None else (key,))
    stmts = []
    for kind, rows in runs:
        if kind == INSERT:
            stmts.append(f"INSERT INTO {TABLE} VALUES {_values(rows)}")
        elif kind == UPDATE:
            stmts.append(
                f"UPDATE {TABLE} AS t SET customer=v.c, status=v.s, amount=v.a, "
                f"version=v.v FROM (VALUES {_values(rows)}) AS v(id,c,s,a,v) "
                f"WHERE t.id=v.id")
        else:
            stmts.append(f"DELETE FROM {TABLE} WHERE id IN "
                         f"({','.join(str(r[0]) for r in rows)})")
    return "BEGIN;" + ";".join(stmts) + ";COMMIT;"


def _tuple(values) -> bytes:
    out = [len(values).to_bytes(2, "big")]
    for v in values:
        if v is None:
            out.append(b"n")
        else:
            data = v.encode()
            out += (b"t", len(data).to_bytes(4, "big"), data)
    return b"".join(out)


def expected_messages(txns: list[list[tuple]], oid: int) -> Counter:
    """The pgoutput row messages a walsender sends for ``txns`` (text
    format, default replica identity: UPDATE carries only the new
    tuple, DELETE only the key)."""
    rel = struct.pack(">i", oid)
    out = Counter()
    for txn in txns:
        for kind, key, row in txn:
            if kind == INSERT:
                out[b"I" + rel + b"N" + _tuple(row)] += 1
            elif kind == UPDATE:
                out[b"U" + rel + b"N" + _tuple(row)] += 1
            else:
                out[b"D" + rel + b"K" + _tuple((str(key),) + (None,) * (len(COLUMNS) - 1))] += 1
    return out


class PgCapture:
    name = "pg_capture"
    warmup_steps = 1
    setup_repeats = 3
    # Each step drains the same block through a slot of its own, made
    # before the block was committed, so every step decodes the same WAL.
    max_steps = 150

    def __init__(self, seed: int, scale: float, work: str, tracer: Tracer) -> None:
        self.work = work
        self.tracer = tracer
        self.events_per_step = max(200, int(40_000 * scale))
        self.gen = OrdersChanges(seed, key_space=max(100, int(50_000 * scale)))
        self.server: PgServer | None = None
        self.conn = None
        self.slots: list[tuple[str, int]] = []
        self._slot: tuple[str, int] = ("", 0)
        self._dir = ""
        self._setup_walls: list[float] = []
        self._block: dict = {}

    def describe(self) -> str:
        return (f"events_per_step={self.events_per_step} "
                f"commits_per_step={self._block.get('commits')} jvm=no")

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        # The cluster set-up is cheap and its time varies, so it runs
        # setup_repeats times and setup_seconds() keeps the median.
        for r in range(self.setup_repeats):
            start = time.perf_counter()
            self._close_server()
            self.server = PgServer(os.path.join(self.work, f"pg{r}"),
                                   max_slots=self.warmup_steps + self.max_steps)
            self.server.start()
            self._provision()
            self._setup_walls.append(time.perf_counter() - start)
        self._create_slots(self.warmup_steps + self.max_steps)
        self._block = self._commit_block()

    def setup_seconds(self, total: float) -> float:
        return total - sum(self._setup_walls) + median(self._setup_walls)

    def _provision(self) -> None:
        self.conn = self.server.connect()
        self.conn.query(
            f"CREATE TABLE {TABLE} (id int PRIMARY KEY, customer int NOT NULL, "
            "status text NOT NULL, amount numeric(12,2) NOT NULL, version int NOT NULL);"
            "CREATE TABLE bench_fence (id int PRIMARY KEY, n int NOT NULL);"
            "INSERT INTO bench_fence VALUES (1, 0);"
            f"CREATE PUBLICATION {PUBLICATION} FOR TABLE {TABLE}, bench_fence")
        self.oid = int(self.conn.query(f"SELECT '{TABLE}'::regclass::oid")[0][0])

    def _create_slots(self, n: int) -> None:
        """``n`` pgoutput slots, each with the LSN a walsender resumes after."""
        rows = self.conn.query(
            "SELECT s.slot_name, s.lsn FROM generate_series(0, %d) k, "
            "LATERAL pg_create_logical_replication_slot('%s' || k, 'pgoutput') s"
            % (n - 1, SLOT))
        self.slots = [(name, parse_lsn(lsn)) for name, lsn in rows]
        self.slots.reverse()  # pop() hands them out in creation order

    def _commit_block(self) -> dict:
        """Generate the block every step drains and commit it: small
        single-statement transactions plus a few bulk ones, then a
        one-row fence transaction."""
        block = {"expected": Counter(), "events": 0, "commits": 1}
        while block["events"] < self.events_per_step:
            txns = self.gen.transactions(
                min(4000, self.events_per_step - block["events"]),
                small_max=32, homogeneous=True)
            self.conn.query("".join(txn_sql(t) for t in txns))
            block["expected"].update(expected_messages(txns, self.oid))
            block["events"] += sum(len(t) for t in txns)
            block["commits"] += len(txns)
        self.conn.query("UPDATE bench_fence SET n = n + 1")
        return block

    # -- steps ----------------------------------------------------------------

    def prepare(self, i: int) -> None:
        if not self.slots:
            raise RuntimeError("no replication slot left for this step")
        self._slot = self.slots.pop()
        self._dir = os.path.join(self.work, "capture", f"step{i}")

    def step(self, i: int) -> dict:
        from postrack_spark.sources import pgwire
        from postrack_spark.sources.capture import FrameFileWriter

        block, srv = self._block, self.server
        slot, start_lsn = self._slot
        writer = FrameFileWriter(self._dir)
        seen = {"commits": 0, "last_commit": 0}
        append = writer.append

        def counting_append(frame: bytes) -> None:
            append(frame)
            if frame[25:26] == b"C":
                seen["commits"] += 1
                seen["last_commit"] = int.from_bytes(frame[1:9], "big")

        writer.append = counting_append
        deadline = time.monotonic() + 60
        restore = self._instrument(pgwire.PgWireConnection, writer)
        try:
            pgwire.run_daemon_pgwire(
                srv.host, srv.port, USER, DATABASE, slot=slot,
                out_dir=self._dir, publication=PUBLICATION,
                start_lsn=start_lsn, writer=writer,
                stop=lambda: (seen["commits"] >= block["commits"]
                              or time.monotonic() > deadline))
            while True:  # the step ends when the server has the ack
                confirmed = self._confirmed_flush()
                if confirmed >= seen["last_commit"] or time.monotonic() > deadline:
                    break
                time.sleep(0.001)
        finally:
            restore()
        return {"writer": writer, "seen": seen, "confirmed": confirmed}

    def _confirmed_flush(self) -> int:
        rows = self.conn.query("SELECT confirmed_flush_lsn FROM pg_replication_slots "
                               f"WHERE slot_name = '{self._slot[0]}'")
        return parse_lsn(rows[0][0])

    def _instrument(self, conn_cls, writer):
        """While tracing: time the walsender reads, the writer's appends,
        flushes and acks of this step. Returns the undo function."""
        tracer = self.tracer
        if not tracer.enabled:
            return lambda: None
        read, status = conn_cls.read_replication_message, conn_cls.send_standby_status
        append, flush = writer.append, writer.flush
        clock = time.perf_counter

        def timed_read(conn, timeout=1.0):
            t = clock()
            msg = read(conn, timeout)
            tracer.add("pgwire.read_s", clock() - t)
            if msg is not None:
                tracer.add("pgwire.messages", 1)
                tracer.add("pgwire.bytes", len(msg.payload))
            return msg

        def timed_append(frame):
            t = clock()
            append(frame)
            tracer.add("capture.append_s", clock() - t)

        def timed_flush(force=False):
            with tracer.span("capture.flush"):
                flush(force)

        def timed_status(conn, flush_lsn, reply=0):
            with tracer.span("capture.ack"):
                status(conn, flush_lsn, reply)

        conn_cls.read_replication_message = timed_read
        conn_cls.send_standby_status = timed_status
        writer.append, writer.flush = timed_append, timed_flush

        def restore():
            conn_cls.read_replication_message = read
            conn_cls.send_standby_status = status

        return restore

    def check(self, i: int, out: dict) -> int:
        from postrack_spark.sources.capture import FRAME_FILE_SUFFIX, read_frame_file

        block, tracer = self._block, self.tracer
        if tracer.enabled:  # before the next block adds WAL
            lag = self.conn.query(
                "SELECT pg_current_wal_lsn() - confirmed_flush_lsn "
                f"FROM pg_replication_slots WHERE slot_name = '{self._slot[0]}'")
            tracer.add("capture.ack_lag_bytes", float(lag[0][0]))
        seen, writer = out["seen"], out["writer"]
        files = sorted(f for f in os.listdir(self._dir) if f.endswith(FRAME_FILE_SUFFIX))
        rel = struct.pack(">i", self.oid)
        got = Counter()
        for name in files:
            for frame in read_frame_file(os.path.join(self._dir, name)):
                if frame[25:26] in (b"I", b"U", b"D") and frame[26:30] == rel:
                    got[frame[25:]] += 1
        if tracer.enabled:
            tracer.add("capture.files", len(files))
            tracer.add("capture.bytes_written", sum(
                os.path.getsize(os.path.join(self._dir, f)) for f in files))
        shutil.rmtree(self._dir, ignore_errors=True)
        if seen["commits"] != block["commits"]:
            raise CheckFailed(f"{seen['commits']} commits captured, "
                              f"{block['commits']} committed")
        if got != block["expected"]:
            raise CheckFailed(f"captured row messages differ from the committed events "
                              f"({sum(got.values())} captured, {block['events']} committed)")
        if not seen["last_commit"] <= out["confirmed"] <= writer.durable_lsn:
            raise CheckFailed(
                f"ack order: last commit {seen['last_commit']:X}, confirmed "
                f"{out['confirmed']:X}, durable {writer.durable_lsn:X}")
        return block["events"]

    def layer_metrics(self, steps: list[int]) -> dict:
        t = self.tracer
        flush_spans = [(r["end"] - r["start"]) * 1e3 for r in t.spans
                       if r["name"] == "capture.flush" and r["step"] in set(steps)]

        def med(name: str, scale: float = 1.0) -> float:
            return median(t.counter(name, steps)) * scale

        return {
            "pgwire.read_ms": (med("pgwire.read_s", 1e3), "ms"),
            "pgwire.messages": (med("pgwire.messages"), "count"),
            "pgwire.bytes": (med("pgwire.bytes"), "bytes"),
            "capture.append_ms": (med("capture.append_s", 1e3), "ms"),
            "capture.flush_ms": (median(t.span_ms("capture.flush", steps)), "ms"),
            "capture.ack_ms": (median(t.span_ms("capture.ack", steps)), "ms"),
            "capture.files": (med("capture.files"), "count"),
            "capture.bytes_written": (med("capture.bytes_written"), "bytes"),
            "capture.file_p50_ms": (median(flush_spans), "ms"),
            "capture.ack_lag_bytes": (med("capture.ack_lag_bytes"), "bytes"),
        }

    def _close_server(self) -> None:
        if self.conn is not None:
            try:
                self.conn.close()
            except OSError:
                pass
        self.conn = None
        if self.server is not None:
            self.server.stop()
            self.server = None

    def close(self) -> None:
        self._close_server()
