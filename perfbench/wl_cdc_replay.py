"""``cdc_replay``: a fixed capture directory replayed into its final table.

Layers: ``sources.pgoutput`` (decode), ``sources.postgres_cdc`` (the
Python DataSource and its row hand-off to the JVM) and
``cdc.materialize.apply_changes`` (TRUNCATE cut and per-key compaction).
No server and no sink write: the output goes to the noop sink.

Set-up writes the capture directory once: the seeded generator's
UPDATE-heavy stream (many events per key, one TRUNCATE in the middle)
encoded as pgoutput frames and written by the program's own
``FrameFileWriter``, so the bytes are those a live capture writes. One
timed step is ``apply_changes(spark.read.format("postgres_cdc")...)``
written to the noop sink; the same action computes the row count and
the order-insensitive (key, after) digest of its output, which the
check compares with the generator's model.
"""

from __future__ import annotations

import os
import time

from perfbench import spark_env
from perfbench.gen import FrameEncoder, OrdersChanges, spark_digest_columns, state_digest
from perfbench.harness import CheckFailed, Tracer, median


class CdcReplay:
    name = "cdc_replay"
    warmup_steps = 4
    FILES = 4

    def __init__(self, seed: int, scale: float, work: str, tracer: Tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        # a step costs ~1.8 s of fixed overhead whatever its size, so the
        # stream is large enough for decode and compaction to weigh in
        self.n_events = max(500, int(60_000 * scale))
        self.key_space = max(50, int(9_000 * scale))
        self.capture_dir = os.path.join(work, "capture")
        self.spark = None
        self.expected: tuple[int, int] = (0, 0)
        self.n_files = 0
        self._traced: dict[int, dict] = {}
        self._calib: list[float] = []

    def describe(self) -> str:
        return (f"events_per_step={self.n_events} keys={self.key_space} "
                f"files={self.n_files} master=local[{spark_env.CORES}]")

    def setup(self) -> None:
        from postrack_spark.sources.capture import FrameFileWriter

        self.spark = spark_env.start_spark("perfbench-cdc_replay")
        gen = OrdersChanges(self.seed, self.key_space)
        txns = gen.transactions(self.n_events // 2)
        txns.append([gen.truncate()])
        txns += gen.transactions(self.n_events - sum(len(t) for t in txns))
        self.n_events = sum(len(t) for t in txns)
        self.expected = state_digest(gen.state)
        # FILES capture files of about equal size (two full waves of
        # local[4] tasks): flushed at transaction boundaries, the way the
        # capture loop flushes at its ack interval
        writer = FrameFileWriter(self.capture_dir, max_frames=1 << 30, max_bytes=1 << 40)
        encoder, done = FrameEncoder(), 0
        for txn in txns:
            for frame in encoder.frames([txn]):
                writer.append(frame)
            done += len(txn)
            if done * self.FILES >= (writer.seq + 1) * self.n_events:
                writer.flush()
        writer.close()
        self.n_files = len(os.listdir(self.capture_dir))
        self.tmp_before = spark_env.entries(os.environ["TMPDIR"])
        self._calib.append(spark_env.range_calibration_ms(self.spark))

    def setup_seconds(self, total: float) -> float:
        return total

    def _changes(self):
        return (self.spark.read.format("postgres_cdc")
                .option("capture_dir", self.capture_dir).load())

    def prepare(self, i: int) -> None:
        pass

    def step(self, i: int):
        from pyspark.sql import Observation

        from postrack_spark.cdc.materialize import apply_changes

        sc = self.spark.sparkContext
        sc.setJobGroup(f"step{i}", "cdc_replay step")
        obs = Observation(f"digest{i}")
        out = apply_changes(self._changes(), spark_env.key_expr())
        with self.tracer.span("materialize.apply"):
            out.observe(obs, *spark_digest_columns()).write.format("noop").mode(
                "overwrite").save()
        self._out = out
        return obs.get

    def check(self, i: int, digest: dict) -> int:
        if self.tracer.enabled:
            self._trace_step(i)
        got = (digest["rows"], digest["crc"])
        if got != self.expected:
            raise CheckFailed(f"(rows, digest) {got} != model {self.expected}")
        return self.n_events

    def _trace_step(self, i: int) -> None:
        """Untimed per-layer probes after a traced step."""
        from postrack_spark.sources.capture import read_frame_file
        from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream

        rec = dict(zip(("jobs", "stages", "tasks"),
                       spark_env.job_counts(self.spark, f"step{i}")))
        rec["scans"] = spark_env.plan_scans(self._out)
        start = time.perf_counter()
        self._changes().write.format("noop").mode("overwrite").save()
        rec["scan_ms"] = (time.perf_counter() - start) * 1e3
        files = sorted(os.listdir(self.capture_dir))
        start = time.perf_counter()
        decoded = 0
        for name in files:
            decoded += len(decode_xlogdata_stream(
                read_frame_file(os.path.join(self.capture_dir, name)), DecoderState()))
        rec["decode_ms"] = (time.perf_counter() - start) * 1e3
        rec["decoded"] = decoded
        rec["persisted"] = spark_env.persisted_rdds(self.spark)
        self._traced[i] = rec

    def layer_metrics(self, steps: list[int]) -> dict:
        recs = [self._traced[s] for s in steps if s in self._traced]
        self._calib.append(spark_env.range_calibration_ms(self.spark))

        def med(key: str) -> float:
            return median([r[key] for r in recs])

        return {
            "pgoutput.decode_ms": (med("decode_ms"), "ms"),
            "pgoutput.events_per_s_1thread": (
                median([r["decoded"] / (r["decode_ms"] / 1e3) for r in recs]), "events/s"),
            "postgres_cdc.scan_ms": (med("scan_ms"), "ms"),
            "postgres_cdc.scans_per_action": (med("scans"), "count"),
            "postgres_cdc.partitions": (float(self.n_files), "count"),
            "materialize.apply_ms": (median(self.tracer.span_ms("materialize.apply", steps)), "ms"),
            "materialize.jobs": (med("jobs"), "count"),
            "materialize.stages": (med("stages"), "count"),
            "materialize.tasks": (med("tasks"), "count"),
            "materialize.output_rows": (float(self.expected[0]), "count"),
            "session.persisted_rdds": (med("persisted"), "count"),
            "session.tmp_dirs_leaked": (float(len(
                spark_env.entries(os.environ["TMPDIR"]) - self.tmp_before)), "count"),
            "calib.range_ms": (median(self._calib), "ms"),
        }

    def close(self) -> None:
        if self.spark is not None:
            spark_env.stop_spark(self.spark)
            self.spark = None
