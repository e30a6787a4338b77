"""``cdc_stream_apply``: capture files landing in a live directory,
applied to a parquet view by the streaming CDC sink.

Layers: ``sources.postgres_cdc`` (stream reader), Structured Streaming
(``availableNow`` trigger, offset and commit logs) and
``streaming.sinks.foreach_batch_apply_changes`` (per-batch compaction,
merge with the base view, rewrite of a fresh version, pointer swap).
The scan per step is small; the cost is the fixed per-batch stream
overhead plus the O(view) base re-read and rewrite.

Set-up writes a base of ``base_keys`` INSERTs and applies it, so the
view is much larger than one batch. Untimed before each step, the
generator lands ``events_per_step`` UPDATE-heavy events as capture
files written by ``FrameFileWriter``. The timed step runs from the last
file's rename until ``_CURRENT`` names the new version: start the
stream over the same checkpoint, wait for it to drain. The check reads
the view and compares its row count and (key, after) digest with the
generator's model.
"""

from __future__ import annotations

import os

from perfbench import spark_env
from perfbench.gen import FrameEncoder, OrdersChanges, spark_digest_columns, state_digest
from perfbench.harness import CheckFailed, Tracer, median

_DURATIONS = ("latestOffset", "queryPlanning", "walCommit", "commitOffsets",
              "addBatch", "triggerExecution")


class CdcStreamApply:
    name = "cdc_stream_apply"
    warmup_steps = 3

    def __init__(self, seed: int, scale: float, work: str, tracer: Tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.base_keys = max(200, int(20_000 * scale))
        self.events_per_step = max(100, int(2_000 * scale))
        self.capture_dir = os.path.join(work, "capture")
        self.target = os.path.join(work, "view")
        self.checkpoint = os.path.join(work, "checkpoint")
        self.spark = None
        self.gen: OrdersChanges | None = None
        self.encoder = FrameEncoder()
        self.writer = None
        self._files_before = 0
        self._traced: dict[int, dict] = {}
        self._calib: list[float] = []

    def describe(self) -> str:
        return (f"events_per_step={self.events_per_step} view_rows~{self.base_keys} "
                f"master=local[{spark_env.CORES}]")

    def setup(self) -> None:
        from postrack_spark.sources.capture import FrameFileWriter

        self.spark = spark_env.start_spark("perfbench-cdc_stream_apply")
        self.writer = FrameFileWriter(self.capture_dir)
        # the base: every key inserted once, then applied as batch 0
        self.gen = OrdersChanges(self.seed, self.base_keys, mix=(1, 0, 0))
        self._land(self.base_keys)
        self.gen.mix = (1, 8, 1)
        self._apply()
        self.tmp_before = spark_env.entries(os.environ["TMPDIR"])
        self._calib.append(spark_env.range_calibration_ms(self.spark))

    def setup_seconds(self, total: float) -> float:
        return total

    def _land(self, n_events: int) -> None:
        for frame in self.encoder.frames(self.gen.transactions(n_events)):
            self.writer.append(frame)
        self.writer.flush()

    def _apply(self):
        from postrack_spark.streaming.sinks import foreach_batch_apply_changes

        stream = (self.spark.readStream.format("postgres_cdc")
                  .option("capture_dir", self.capture_dir).load())
        with self.tracer.span("stream.start"):
            _, query = foreach_batch_apply_changes(
                stream, spark_env.key_expr(), target_dir=self.target,
                checkpoint_dir=self.checkpoint)
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return query

    def prepare(self, i: int) -> None:
        self._files_before = len(os.listdir(self.capture_dir))
        self._land(self.events_per_step)

    def step(self, i: int):
        query = self._apply()
        # _CURRENT is "<checkpoint>\n<batch id>\n<version dir>" (streaming/sinks.py)
        with open(os.path.join(self.target, "_CURRENT")) as f:
            _, batch_id, version = f.read().splitlines()[:3]
        return query, int(batch_id), os.path.join(self.target, version)

    def check(self, i: int, out) -> int:
        from postrack_spark.streaming.sinks import read_view

        query, batch_id, version = out
        if not version or not version.endswith(f"v{batch_id:08d}"):
            raise CheckFailed(f"_CURRENT names {version} for batch {batch_id}")
        row = read_view(self.spark, self.target).agg(*spark_digest_columns()).first()
        got, want = (row["rows"], row["crc"]), state_digest(self.gen.state)
        if self.tracer.enabled:
            self._trace_step(i, query, version, got[0])
        if got != want:
            raise CheckFailed(f"view (rows, digest) {got} != model {want}")
        return self.events_per_step

    def _trace_step(self, i: int, query, version: str, view_rows: int) -> None:
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        rec = {k: sum(p["durationMs"].get(k, 0) for p in progress) for k in _DURATIONS}
        rec["batches"] = len(progress)
        rec["jobs"], rec["stages"], rec["tasks"] = spark_env.job_counts(
            self.spark, str(query.runId))
        rec["files"] = len(os.listdir(self.capture_dir)) - self._files_before
        rec["view_rows"] = view_rows
        rec["version_bytes"] = sum(
            os.path.getsize(os.path.join(version, f)) for f in os.listdir(version))
        rec["versions"] = sum(1 for f in os.listdir(self.target) if f.startswith("v"))
        rec["persisted"] = spark_env.persisted_rdds(self.spark)
        self._traced[i] = rec

    def layer_metrics(self, steps: list[int]) -> dict:
        recs = [self._traced[s] for s in steps if s in self._traced]
        self._calib.append(spark_env.range_calibration_ms(self.spark))

        def med(key: str) -> float:
            return median([float(r[key]) for r in recs])

        return {
            "postgres_cdc.partitions": (med("files"), "count"),
            "materialize.jobs": (med("jobs"), "count"),
            "materialize.stages": (med("stages"), "count"),
            "materialize.tasks": (med("tasks"), "count"),
            "materialize.output_rows": (med("view_rows"), "count"),
            "stream.start_ms": (median(self.tracer.span_ms("stream.start", steps)), "ms"),
            "stream.latest_offset_ms": (med("latestOffset"), "ms"),
            "stream.query_planning_ms": (med("queryPlanning"), "ms"),
            "stream.wal_commit_ms": (med("walCommit"), "ms"),
            "stream.commit_offsets_ms": (med("commitOffsets"), "ms"),
            "stream.trigger_ms": (med("triggerExecution"), "ms"),
            "stream.batches_per_step": (med("batches"), "count"),
            "sinks.add_batch_ms": (med("addBatch"), "ms"),
            "sinks.view_rows": (med("view_rows"), "count"),
            "sinks.version_bytes": (med("version_bytes"), "bytes"),
            "sinks.versions_retained": (med("versions"), "count"),
            "session.persisted_rdds": (med("persisted"), "count"),
            "session.tmp_dirs_leaked": (float(len(
                spark_env.entries(os.environ["TMPDIR"]) - self.tmp_before)), "count"),
            "calib.range_ms": (median(self._calib), "ms"),
        }

    def close(self) -> None:
        if self.spark is not None:
            for query in self.spark.streams.active:
                query.stop()
            spark_env.stop_spark(self.spark)
            self.spark = None
