"""Materialization: turn a change stream back into a table.

The single most important derived operator for a CDC engine
(SURVEY.md §2b "Window functions"): latest row per key =
row_number() over (partition by pk order by lsn desc) = 1, then drop
DELETE images. The reference leaves this entirely to the user callback
(postrack.go:35); here it is a first-class, scale-aware operator.

Scale: one source scan, one compaction shuffle on the key and one
shuffle of the compacted rows for the TRUNCATE watermark; at 100 TB
this runs incrementally inside foreachBatch (the sink folds the base
table into the same `apply_changes` call) — see
postrack_spark.streaming. TRUNCATE is an epoch barrier: a key whose
latest event is at or before its table's latest TRUNCATE lsn is
discarded. The watermark is one more aggregate of the same compaction
(TRUNCATE events are copied into every hash bucket of their table), so
the source is decoded once per action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from postrack_spark.cdc.envelope import DELETE, TRUNCATE


def latest_per_key(changes: DataFrame, key_cols: list, order_col: str = "lsn") -> DataFrame:
    """Keep the event with the highest `order_col` per key (WAL order —
    events are keyed by the WALStart LSN, postrack.go:366-367).

    Implemented as `max_by(struct(<other cols>), order_col)` rather than
    a `row_number() over (partition by key order by lsn desc)` window:
    the aggregate gets map-side partial aggregation, so each task
    pre-compacts its events to one row per key BEFORE the shuffle —
    shuffle volume is O(distinct keys per task), not O(events). At CDC
    scale (many updates per key) that is the difference between
    shuffling the WAL and shuffling the table. Physical note: because
    the payload struct carries map columns, max_by's declarative buffer
    is not hash-aggregable and Spark plans a SortAggregate (per-
    partition sort by group key); the partial/final split and the
    shuffle-volume win are unchanged, and the alternative max(struct)
    is unavailable (structs with maps are unorderable). LSNs are unique
    per key (WAL positions), so max_by's arbitrary tie-break is
    unreachable."""
    others = [c for c in changes.columns if c not in key_cols]
    agg = changes.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.max_by(F.struct(*[F.col(c) for c in others]), F.col(order_col)).alias("__latest")
    )
    return agg.select(
        *[
            F.col(c) if c in key_cols else F.col(f"__latest.{c}").alias(c)
            for c in changes.columns
        ]
    )


def snapshot_as_changes(
    snapshot: DataFrame, table: str, schema: str = "public", snapshot_lsn: int = 0
) -> DataFrame:
    """Wrap a batch snapshot as INSERT envelope events at `snapshot_lsn`.

    The 'initial load' half of snapshot+stream (SURVEY.md §2b sources):
    the reference makes the caller pick a starting LSN
    (postrack.go:320,337) and offers no snapshot; here a consistent
    snapshot taken at LSN L becomes INSERTs at L, and the live stream
    (all events with lsn > L) replays on top — `apply_changes` on the
    union reconstructs the current table."""
    from postrack_spark.cdc.envelope import null_map, str_map

    return snapshot.select(
        F.lit(snapshot_lsn).cast("long").alias("lsn"),
        F.lit(None).cast("long").alias("txid"),
        F.lit(None).cast("timestamp").alias("commit_ts"),
        F.lit(schema).alias("schema"),
        F.lit(table).alias("table"),
        F.lit("INSERT").alias("op"),
        str_map(snapshot.columns).alias("after"),
        null_map().alias("before"),
    )


def snapshot_with_changes(
    snapshot: DataFrame,
    changes: DataFrame,
    table: str,
    key_expr,
    key_name: str = "__key",
    snapshot_lsn: int = 0,
) -> DataFrame:
    """Initial load + incremental: snapshot (as INSERTs at
    `snapshot_lsn`) unioned with the change stream restricted to
    lsn > snapshot_lsn (events at or before the snapshot LSN are
    already reflected in it), then materialized."""
    base = snapshot_as_changes(snapshot, table, snapshot_lsn=snapshot_lsn)
    newer = changes.filter(F.col("lsn") > F.lit(snapshot_lsn))
    return apply_changes(base.unionByName(newer), key_expr, key_name=key_name)


def apply_changes(changes: DataFrame, key_expr, key_name: str = "__key") -> DataFrame:
    """Replay a change stream into its final state.

    1. latest event per (schema, table, key) — TRUNCATE events ride
       along with a NULL key
    2. drop keys whose surviving event is at or before the table's
       last TRUNCATE, and keys whose final event is DELETE

    Dropping a key whose latest event predates the TRUNCATE equals
    dropping every pre-TRUNCATE event before compaction: pgoutput
    events carry full row images, so a key's state is its latest event
    alone (if that event postdates the truncate the key was re-created
    and survives; if not, the key was wiped).

    `key_expr` extracts the primary key from an envelope row (typically
    ``typed_column("after", pk, t)`` coalesced with the before image,
    since DELETE events carry only `before` — postrack.go:399-406).

    Physical shape: ONE scan of `changes`. Every row event gets a bucket ``pmod(xxhash64(key), n)`` and every
    TRUNCATE is copied into all n buckets of its table (n is
    ``spark.sql.shuffle.partitions``; the result does not depend on
    it). The compaction groups by (schema, table, bucket, key) with
    map-side partial aggregation and computes two aggregates: the
    max_by survivor and the group's max TRUNCATE lsn. A window max over
    (schema, table, bucket) then hands each bucket its table's
    watermark — the second exchange moves compacted rows only, spread
    over n buckets instead of one task per table. A separate watermark
    branch would re-decode the whole source: Spark never reuses an
    exchange over a Python DataSource scan, and filter push-down into
    `postgres_cdc` is unsafe (see its module docstring).

    NULL keys: a malformed row event whose key extracts to NULL
    compacts with its table's TRUNCATEs in one bucket, but the
    watermark is its own aggregate, so it cannot hide a TRUNCATE; it
    survives (as a NULL-key row) only if it is newer than the table's
    last TRUNCATE.
    """
    from pyspark.sql import Window

    n = int(changes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    is_trunc = F.col("op") == TRUNCATE
    keyed = changes.withColumn(key_name, F.when(~is_trunc, key_expr))
    group = ["schema", "table", "__b", key_name]
    others = [c for c in keyed.columns if c not in group]
    bucket = F.explode(
        F.when(is_trunc, F.sequence(F.lit(0), F.lit(n - 1))).otherwise(
            F.array(F.pmod(F.xxhash64(F.col(key_name)), F.lit(n)).cast("int"))
        )
    )
    compacted = (
        keyed.withColumn("__b", bucket)
        .groupBy(*group)
        .agg(
            F.max_by(F.struct(*others), F.col("lsn")).alias("__latest"),
            F.max(F.when(is_trunc, F.col("lsn"))).alias("__t"),
        )
    )
    mark = F.max("__t").over(Window.partitionBy("schema", "table", "__b"))
    return (
        compacted.withColumn("__w", mark)
        .filter(F.col("__w").isNull() | (F.col("__latest.lsn") > F.col("__w")))
        .filter(~F.col("__latest.op").isin(TRUNCATE, DELETE))
        .select(  # the column order of the former join on (schema, table)
            "schema",
            "table",
            *[
                F.col(c) if c == key_name else F.col(f"__latest.{c}").alias(c)
                for c in keyed.columns
                if c not in ("schema", "table")
            ],
        )
    )


def resolve_unchanged(
    changes: DataFrame,
    key_expr,
    key_name: str = "__key",
    order_col: str = "lsn",
) -> DataFrame:
    """Materialize latest-per-key WITH unchanged-TOAST resolution.

    pgoutput marks a TOASTed column that did not change as kind 'u';
    the decoder surfaces it as the UNCHANGED sentinel (quirk q4 fix —
    the reference collapses it to "", postrack.go:381). The latest
    event alone is then NOT the full row: UNCHANGED columns take their
    value from the most recent earlier event where the column carried a
    real value. Fold per key, newest image first, filling UNCHANGED
    entries via map_zip_with — all JVM higher-order expressions.

    State per key is its version list (collect_list) — bounded by
    per-key churn within the replayed window, the same bound a MERGE
    into a base table needs. A column UNCHANGED in every captured event
    stays UNCHANGED (it is unresolvable from the stream alone; only a
    snapshot read can fill it — see snapshot_with_changes).
    Returns (schema, table, key, lsn, op, after) with `after` resolved.
    """
    from postrack_spark.sources.pgoutput import UNCHANGED

    evs = (
        changes.filter(F.col("op").isin("INSERT", "UPDATE"))
        .withColumn(key_name, key_expr)
        .filter(F.col("after").isNotNull())
    )
    # custom comparator: the version structs carry MAP columns, which
    # are unorderable, so array_sort's default struct ordering is
    # unavailable — compare the order field alone (descending)
    newest_first = lambda l, r: (  # noqa: E731
        F.when(l["o"] < r["o"], F.lit(1))
        .when(l["o"] > r["o"], F.lit(-1))
        .otherwise(F.lit(0))
    )
    per_key = evs.groupBy("schema", "table", key_name).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(order_col).alias("o"),
                    F.col("op").alias("op"),
                    F.col("after").alias("m"),
                )
            ),
            newest_first,
        ).alias("vs")
    )
    fill = lambda acc, v: F.map_zip_with(  # noqa: E731
        acc,
        v["m"],
        lambda _k, a, b: F.when(
            (a == F.lit(UNCHANGED)) & b.isNotNull() & (b != F.lit(UNCHANGED)), b
        ).otherwise(a),
    )
    return per_key.select(
        "schema",
        "table",
        key_name,
        F.col("vs")[0]["o"].alias(order_col),
        F.col("vs")[0]["op"].alias("op"),
        F.aggregate(
            F.expr("slice(vs, 2, greatest(size(vs) - 1, 0))"),
            F.col("vs")[0]["m"],
            fill,
        ).alias("after"),
    )


def apply_changes_asof(changes: DataFrame, key_expr, as_of_lsn, key_name: str = "__key") -> DataFrame:
    """Point-in-time reconstruction: table state AS OF `as_of_lsn` —
    the `FOR SYSTEM_TIME AS OF` capability a CDC-fed warehouse gets for
    free from the retained log. A map-side LSN filter (partition-
    prunable when the log is stored LSN-partitioned, cf.
    sources/layout.py) followed by the standard :func:`apply_changes`
    compaction; any historical state costs one replay, no extra
    storage. Cf. queries.cdc_queries.cdc_time_travel_asof (oracle-gated
    at all SFs)."""
    return apply_changes(changes.filter(F.col("lsn") <= as_of_lsn), key_expr, key_name)


def forget_keys(
    changes: DataFrame, purge_keys: DataFrame, key_expr, key_name: str = "__key"
) -> DataFrame:
    """Erasure propagation (right-to-be-forgotten): augment the change
    stream with synthetic DELETE envelopes — one per currently-live
    purged key — appended past the log head, so downstream replay,
    IVM folds and SCD2 histories all purge through their NORMAL delete
    path (deletion is data, not a bespoke code path). `purge_keys`
    must expose `key_name`; it is a deletion-request table and
    therefore small — its global ordering window is O(|requests|).
    Returns the augmented stream; apply/replay as usual. Cf.
    queries.cdc_queries.cdc_forget_keys_purge."""
    from pyspark.sql import Window as W

    from postrack_spark.cdc.envelope import null_map

    live = apply_changes(changes, key_expr, key_name)
    victims = live.join(
        F.broadcast(purge_keys.select(key_name).distinct()), key_name, "left_semi"
    )
    head = changes.agg(F.max("lsn").cast("long").alias("__head"))
    seq = F.row_number().over(W.orderBy(key_name))  # purge list is small
    dels = victims.crossJoin(F.broadcast(head)).select(
        (F.col("__head") + seq).cast("long").alias("lsn"),
        F.lit(None).cast("long").alias("txid"),
        F.lit(None).cast("timestamp").alias("commit_ts"),
        F.col("schema"),
        F.col("table"),
        F.lit(DELETE).alias("op"),
        null_map().alias("after"),
        F.col("after").alias("before"),
    )
    return changes.select(
        "lsn", "txid", "commit_ts", "schema", "table", "op", "after", "before"
    ).unionByName(dels)
