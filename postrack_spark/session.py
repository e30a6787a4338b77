"""SparkSession factory and table loading.

Scale notes (100 TB design): every query in this engine receives its
inputs from :func:`load_tables`, which registers plain parquet scans —
Catalyst handles column pruning / predicate pushdown / partition pruning
against them. On a real cluster the same code runs against a catalog
table or an object-store path; nothing here assumes local mode except
the defaults in :func:`get_spark` (which are only used by tests/bench —
the driver may hand us its own session).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "postrack-spark", cpus: int | None = None) -> SparkSession:
    """Local session tuned per the public Spark docs for local[N] mode."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # PySpark 4.1 defaults this to true: every pyspark.sql.functions
        # call then records its Python call site in the JVM (py4j round
        # trips plus an inspect stack walk). Off, errors still carry
        # their error class but no DataFrame call site.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_session(spark: SparkSession) -> None:
    """Pin runtime-settable confs that correctness/perf depend on.

    Called by every query entry point because the driver may hand us a
    session it built itself. All of these are runtime-settable.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # The driver's events.parquet has stored ts as TIMESTAMP(NANOS) in
    # some rounds and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others;
    # handle both. Nanos: read as long and rebuild micro-precision
    # timestamps in load_tables (matches DuckDB, which truncates ns->us).
    # Micros without UTC adjustment: Spark would infer TIMESTAMP_NTZ,
    # which (a) rejects numeric casts queries rely on and (b) diverges
    # from the TZ type every other code path produces — infer LTZ
    # instead (identical wall-clock semantics under the UTC session tz,
    # and identical to DuckDB's naive reading of the same values).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Parquet FIELD-ID resolution, both directions: Delta column
    # mapping mode 'id' stamps parquet.field.id metadata at staging
    # (write path) and builds scan schemas carrying the ids (read path
    # matches columns by id, the mode's spec semantics). Both confs
    # only act on schemas that actually carry the metadata.
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")


# DataFrame handles per (session, sf_dir): building a scan DataFrame
# costs two footer reads (JVM schema inference + the pyarrow nanos
# probe) per table; repeated per-query calls were paying that ×10
# tables every time. The cached values are LAZY plans — no data is
# cached, Catalyst still plans pushdown/pruning against the raw scan.
_TABLES_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}

# session id -> sf_dir whose temp views are currently registered.
_CURRENT_VIEWS: dict[int, str] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver parquet table and register temp views.

    Plain `spark.read.parquet` scans so Catalyst's pushdown/pruning apply;
    do NOT cache data here — the engine's queries must plan against the
    scan (a 100 TB table cannot be cached). Only the DataFrame HANDLES
    are memoized per session.
    """
    configure_session(spark)  # cheap conf pinning; a driver-owned session
    # may have reset confs between calls, so run it even on cache hits.
    key = (id(spark), os.path.abspath(sf_dir))
    cached = _TABLES_CACHE.get(key)
    if cached is not None:
        # Temp views are session-global, so a later load_tables with a
        # DIFFERENT sf_dir repointed them; re-register if this call's
        # sf_dir is not the one whose views are current (spark.sql
        # queries read the views, not the returned handles).
        if _CURRENT_VIEWS.get(id(spark)) != key[1]:
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _CURRENT_VIEWS[id(spark)] = key[1]
        return cached
    tables: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        for col in _nanos_timestamp_columns(path):
            # long nanos -> micro-precision timestamp (DuckDB-equivalent)
            df = df.withColumn(
                col, F.timestamp_micros(F.floor(F.col(col) / F.lit(1000)).cast("long"))
            )
        df.createOrReplaceTempView(name)
        tables[name] = df
    _TABLES_CACHE[key] = tables
    _CURRENT_VIEWS[id(spark)] = key[1]
    return tables


# name -> persisted DataFrame. pin_small unpersists the previous pin of
# the same name so repeated query invocations (bench passes, sweeps)
# never accumulate cached relations; the LRU cap below bounds how many
# DISTINCT pins a long-running process (a full registry sweep) can hold
# at once.
_PINNED_SMALL: "dict[str, DataFrame]" = {}
_PINNED_ORDER: list[str] = []
# Registry mutations are guarded: query construction can run on several
# driver threads at once (a streaming foreachBatch hook assembling
# frames on the micro-batch thread while the main thread builds another
# query), and an unguarded remove/pop pair can either raise ValueError
# mid-build or leak a persisted frame with no registry entry. The
# persist/unpersist calls themselves stay outside the critical section
# (they are py4j round-trips; holding the lock across them would
# serialize all query construction on the slowest one).
import threading as _threading  # noqa: E402 — stdlib, trivial import

_PIN_LOCK = _threading.Lock()
# No single query pins more than ~5 frames; 16 keeps every pin of the
# current query (and usually the previous one) resident while a
# 500-query sweep steadily releases older queries' pins instead of
# accumulating hundreds of cached relations for process lifetime.
_PINNED_MAX = 16


def _unpersist_quietly(df: DataFrame) -> None:
    # The registry is module-global: a pin can outlive the session that
    # created it (session restarted between query constructions).
    # Unpersisting through a stopped SparkContext raises from py4j;
    # dropping the bookkeeping entry is all that matters then.
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — stopped/replaced session
        pass


def pin_small(name: str, df: DataFrame) -> DataFrame:
    """Persist a BOUNDED derived frame that multiple plan branches
    consume.

    Spark recomputes a shared subtree once PER CONSUMER — exchange
    reuse demonstrably does not fire for these shapes (pruning makes
    the subtrees canonically unequal; verified in executed plans, see
    operators/ranking.py and cdc/materialize.py) — so an O(groups)
    aggregate feeding three branches re-runs its full input scan three
    times. A lazy persist fixes that structurally: the analyzer swaps
    one InMemoryRelation in for every consumer, so the subtree computes
    exactly once per action, with no eager job at construction time
    (unlike the localCheckpoint determinism pins in operators/ranking).

    Only pin frames whose size is bounded by problem structure
    (per-language/per-day/per-key-threshold aggregates, candidate
    lists), never a relation that grows with the input — at 100 TB the
    pin must stay a footnote. Each invocation re-persists fresh lineage
    (results are never shared across RE-invocations of the same query:
    the re-pin unpersists the previous entry — including any canonical
    CacheManager alias — before persisting fresh). Known, accepted
    subtlety: two DIFFERENT pins whose plans are canonically identical
    (e.g. two queries deriving the same per-day aggregate) alias ONE
    CacheManager entry within a process, so the second persist is a
    no-op and an eviction under either name un-materializes both; this
    only ever costs a recompute, never a stale result, because every
    invocation re-registers its own fresh lineage."""
    from pyspark import StorageLevel

    # The OLD entry must be unpersisted BEFORE the fresh persist: a
    # re-invocation's plan is canonically identical to its predecessor,
    # so persisting first would alias the old CacheManager entry and the
    # subsequent unpersist would drop both (the pin would never
    # materialize). Eviction victims, by contrast, are released after
    # the insert — different names, and the cross-name canonical-alias
    # case only ever costs a recompute (docstring).
    with _PIN_LOCK:
        old = _PINNED_SMALL.pop(name, None)
        if name in _PINNED_ORDER:
            _PINNED_ORDER.remove(name)
    if old is not None:
        _unpersist_quietly(old)
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    to_release: list[DataFrame] = []
    with _PIN_LOCK:
        # another thread may have pinned the same name between the two
        # critical sections — displace its entry (latest wins) so the
        # order list never holds duplicates and nothing leaks.
        raced = _PINNED_SMALL.pop(name, None)
        if raced is not None and raced is not pinned:
            to_release.append(raced)
        if name in _PINNED_ORDER:
            _PINNED_ORDER.remove(name)
        while len(_PINNED_ORDER) >= _PINNED_MAX:
            evicted = _PINNED_ORDER.pop(0)
            dropped = _PINNED_SMALL.pop(evicted, None)
            if dropped is not None:
                to_release.append(dropped)
        _PINNED_SMALL[name] = pinned
        _PINNED_ORDER.append(name)
    for released in to_release:
        _unpersist_quietly(released)
    if raced is not None and raced is not pinned:
        # a same-name raced plan is canonically identical to ours, so
        # releasing it dropped the CacheManager entry both shared;
        # persist is a no-op when the pin is still cached
        pinned.persist(StorageLevel.MEMORY_AND_DISK)
    return pinned


def enable_runtime_filters(spark: SparkSession, application_side_min: str = "10GB") -> None:
    """Turn on runtime bloom-filter injection for shuffle joins: a
    selective filter on one join side builds a bloom filter that prunes
    the other side's scan BEFORE the shuffle — at 100 TB this is the
    difference between shuffling the full fact table and shuffling the
    ~matching fraction. `application_side_min` keeps the default 10GB
    floor in cluster use (the filter costs an extra aggregation, only
    worth it on big scans); tests pass "0" to validate the mechanism on
    local data."""
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_min,
    )


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Raise scan parallelism when a small input underfills the cluster.

    The driver's parquet files are single-row-group (TESTDATA.md), so a
    scan arrives as ONE partition and everything before the first
    shuffle — 16-lane minhash md5, CDC envelope map construction,
    mapInPandas batches — runs on one core. On a 100 TB table the scan
    already has thousands of splits (spark.sql.files.maxPartitionBytes),
    `getNumPartitions() >= target` holds, and this is a no-op: it never
    adds a shuffle to an already-parallel plan, so it is safe to leave
    in cluster code paths.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # The .rdd partition probe costs a plan conversion, so the result is
    # memoized on the input frame itself and dies with it.
    memo = df.__dict__.setdefault("_fan_out", {})
    if target not in memo:
        memo[target] = df.repartition(target) if df.rdd.getNumPartitions() < target else df
    return memo[target]


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) (read by Spark as long
    under spark.sql.legacy.parquet.nanosAsLong)."""
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
