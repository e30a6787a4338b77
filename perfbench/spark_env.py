"""Spark session and Spark-side probes shared by the Spark workloads."""

from __future__ import annotations

import os
import time

from perfbench.harness import median

CORES = 4  # local[4], spark.sql.shuffle.partitions=4 on every host


def start_spark(app: str):
    """A local[4] session from the program's own factory, with the
    postgres_cdc DataSource registered. Temp dirs, driver memory and
    console progress are pinned by run.py's environment."""
    from postrack_spark.session import get_spark
    from postrack_spark.sources.postgres_cdc import register

    spark = get_spark(app, cpus=CORES)
    register(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for every
    process this one started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.harness import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(process_tree()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``; stages
    AQE skipped have no info and are not counted."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return len(jobs), stages, tasks


def range_calibration_ms(spark, rounds: int = 3) -> float:
    """Median wall of a fixed spark.range job: host load, not code."""
    walls = []
    for _ in range(rounds):
        t = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=CORES).selectExpr("sum(id)").collect()
        walls.append((time.perf_counter() - t) * 1e3)
    return median(walls)


def persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def entries(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except FileNotFoundError:
        return set()


def plan_scans(df, source: str = "postgres_cdc") -> int:
    """BatchScan nodes of ``source`` in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "BatchScan" in line and source in line)


def key_expr():
    """The orders key out of an envelope row: after.id, or before.id for
    DELETEs (their after image is NULL)."""
    from pyspark.sql import functions as F

    from postrack_spark.cdc.envelope import typed_column

    return F.coalesce(typed_column("after", "id", "long"),
                      typed_column("before", "id", "long"))
