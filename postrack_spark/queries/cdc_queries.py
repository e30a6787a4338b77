"""CDC change-event queries — the reference's domain (postrack.go), as
batch DataFrames over the deterministic synthetic stream (FIXTURES.md
§B). The oracle re-derives the same stream in pure SQL (CTE `changes`
below mirrors fixtures.orders_changes rule-for-rule), so the comparison
validates the whole envelope round-trip: build map[string]string images
-> filter/materialize -> typed projection back out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from postrack_spark.cdc import (
    apply_changes,
    filter_events,
    mixed_changes,
    orders_changes,
    prune_images,
    typed_column,
)
from postrack_spark.queries.registry import query

# DuckDB CTE mirroring fixtures.orders_changes (B.1 script).
_CHANGES_CTE = """
    changes AS (
      SELECT o_orderkey*10+1 AS lsn, 'INSERT' AS op, o_orderkey AS okey,
             o_orderstatus AS status, o_totalprice AS price
      FROM orders
      UNION ALL
      SELECT o_orderkey*10+5, 'UPDATE', o_orderkey, 'F', round(o_totalprice*2, 2)
      FROM orders WHERE o_orderkey % 10 IN (1, 2, 3)
      UNION ALL
      SELECT o_orderkey*10+5, 'UPDATE', o_orderkey, o_orderstatus, round(o_totalprice+10, 2)
      FROM orders WHERE o_orderkey % 10 = 4
      UNION ALL
      SELECT o_orderkey*10+7, 'DELETE', o_orderkey, NULL, NULL
      FROM orders WHERE o_orderkey % 10 = 5
    )
"""


@query(
    "cdc_event_counts",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT op, count(*) AS n_events,
           min(lsn) AS min_lsn, max(lsn) AS max_lsn,
           count(DISTINCT okey) AS n_keys
    FROM changes
    GROUP BY op
    ORDER BY op
    """,
)
def cdc_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope integrity: per-op counts and LSN ranges over the stream.
    Consumes only (op, lsn, txid) — the capture-side column list keeps
    the images at the replica identity so the scan reads one column."""
    ch = orders_changes(spark, sf_dir, columns=["o_orderkey"])
    return (
        ch.groupBy("op")
        .agg(
            F.count("*").alias("n_events"),
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.countDistinct("txid").alias("n_keys"),
        )
        .orderBy("op")
    )


@query(
    "cdc_latest_per_key_materialize",
    oracle=f"""
    WITH {_CHANGES_CTE},
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY okey ORDER BY lsn DESC) AS rn
      FROM changes
    )
    SELECT okey AS o_orderkey, status AS o_orderstatus,
           round(price, 2) AS o_totalprice
    FROM ranked
    WHERE rn = 1 AND op <> 'DELETE'
    ORDER BY o_orderkey
    """,
)
def cdc_latest_per_key_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CDC materialization operator: replay the stream into final
    table state (latest event per key, deletes dropped) — what the
    reference's users hand-build in HandleFunc (postrack.go:35).
    The subscription passes a capture-side column list ≡ WithSelector
    (postrack.go:45-49): the source never builds images wider than the
    three consumed columns, so narrow maps cross the compaction shuffle
    AND map construction itself is 2x cheaper than build-wide-then-
    prune (measured; prune_images remains the post-source twin for
    shared-capture deployments and is tested separately)."""
    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    final = apply_changes(ch, key, key_name="o_orderkey")
    # no final orderBy: a global sort of a full materialized table is a
    # range-partition + sort pass that buys nothing at scale (consumers
    # re-sort their own slices); the driver's compare is order-insensitive
    return final.select(
        "o_orderkey",
        typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"),
        F.round(typed_column("after", "o_totalprice", "double"), 2).alias("o_totalprice"),
    )


@query(
    "cdc_typed_projection_sum",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT status AS o_orderstatus,
           count(*) AS n_events,
           round(sum(price), 2) AS total_price
    FROM changes
    WHERE op IN ('INSERT', 'UPDATE')
    GROUP BY status
    ORDER BY o_orderstatus
    """,
)
def cdc_typed_projection_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed projection out of the text envelope (after['col'] CAST t):
    text-encoded values re-acquire types, per SURVEY.md §1.2 — and the
    event-kind filter ≡ publish= (postrack.go:202-206)."""
    ch = filter_events(orders_changes(spark, sf_dir), ["INSERT", "UPDATE"])
    return (
        ch.groupBy(typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(typed_column("after", "o_totalprice", "double")), 2).alias(
                "total_price"
            ),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "cdc_before_image_flavors",
    oracle="""
    SELECT op, flavor, count(*) AS n
    FROM (
      SELECT 'INSERT' AS op, 'null' AS flavor, o_orderkey FROM orders
      UNION ALL
      SELECT 'UPDATE', 'full', o_orderkey FROM orders WHERE o_orderkey % 10 IN (1, 2, 3)
      UNION ALL
      SELECT 'UPDATE', 'empty', o_orderkey FROM orders WHERE o_orderkey % 10 = 4
      UNION ALL
      SELECT 'DELETE', 'full', o_orderkey FROM orders WHERE o_orderkey % 10 = 5
    )
    GROUP BY op, flavor
    ORDER BY op, flavor
    """,
)
def cdc_before_image_flavors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica-identity semantics: before is NULL on INSERT, EMPTY on
    default-identity UPDATE, FULL on identity-full UPDATE and DELETE —
    mirroring postrack.go:383-406 (old tuple nil unless REPLICA
    IDENTITY FULL, guarded at :388)."""
    ch = orders_changes(spark, sf_dir)
    flavor = (
        F.when(F.col("before").isNull(), "null")
        .when(F.size("before") == 0, "empty")
        .otherwise("full")
    )
    return (
        ch.groupBy("op", flavor.alias("flavor"))
        .agg(F.count("*").alias("n"))
        .orderBy("op", "flavor")
    )


@query(
    "cdc_truncate_epoch",
    oracle=f"""
    WITH {_CHANGES_CTE},
    t AS (SELECT CAST(floor(avg(o_orderkey) * 10) AS BIGINT) AS trunc_lsn FROM orders),
    survived AS (
      SELECT c.* FROM changes c, t WHERE c.lsn > t.trunc_lsn
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY okey ORDER BY lsn DESC) AS rn
      FROM survived
    )
    SELECT count(*) AS n_rows,
           round(sum(price), 2) AS total_price,
           count(DISTINCT status) AS n_statuses
    FROM ranked
    WHERE rn = 1 AND op <> 'DELETE'
    """,
)
def cdc_truncate_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE as an epoch barrier: events at or before the table's
    last TRUNCATE LSN are discarded before per-key compaction. Fixes
    reference bug q2 (postrack.go:407-410 emits TRUNCATE with a broken
    table-name lookup); here the name is correct and the semantics are
    explicit."""
    ch = mixed_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    final = apply_changes(ch, key, key_name="o_orderkey")
    return final.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(typed_column("after", "o_totalprice", "double")), 2).alias("total_price"),
        F.countDistinct(typed_column("after", "o_orderstatus", "string")).alias("n_statuses"),
    )


@query(
    "cdc_snapshot_plus_stream",
    oracle="""
    WITH snapshot AS (
      SELECT 0 AS lsn, 'INSERT' AS op, o_orderkey AS okey,
             o_orderstatus AS status, o_totalprice AS price
      FROM orders
    ),
    stream AS (
      SELECT o_orderkey*10+5 AS lsn, 'UPDATE' AS op, o_orderkey, 'F',
             round(o_totalprice*2, 2)
      FROM orders WHERE o_orderkey % 10 IN (1, 2, 3)
      UNION ALL
      SELECT o_orderkey*10+5, 'UPDATE', o_orderkey, o_orderstatus,
             round(o_totalprice+10, 2)
      FROM orders WHERE o_orderkey % 10 = 4
      UNION ALL
      SELECT o_orderkey*10+7, 'DELETE', o_orderkey, NULL, NULL
      FROM orders WHERE o_orderkey % 10 = 5
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY okey ORDER BY lsn DESC) AS rn
      FROM (SELECT * FROM snapshot UNION ALL SELECT * FROM stream)
    )
    SELECT count(*) AS n_rows,
           round(sum(price), 2) AS total_price,
           count(DISTINCT status) AS n_statuses
    FROM ranked WHERE rn = 1 AND op <> 'DELETE'
    """,
)
def cdc_snapshot_plus_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial load + incremental (SURVEY.md §2b 'Snapshot + stream'):
    a batch snapshot wrapped as INSERTs at LSN 0, unioned with the
    post-snapshot change stream (lsn > 0, UPDATE/DELETE only), then
    materialized — must reconstruct exactly the state that full-stream
    replay produces. The reference has no snapshot path at all (the
    caller picks a start LSN, postrack.go:320,337)."""
    from postrack_spark.cdc import INSERT, snapshot_with_changes
    from postrack_spark.session import load_tables

    snapshot = load_tables(spark, sf_dir)["orders"]
    stream = orders_changes(spark, sf_dir).filter(F.col("op") != INSERT)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    final = snapshot_with_changes(snapshot, stream, "orders", key, key_name="okey")
    return final.agg(
        F.count("*").alias("n_rows"),
        F.round(F.sum(typed_column("after", "o_totalprice", "double")), 2).alias(
            "total_price"
        ),
        F.countDistinct(typed_column("after", "o_orderstatus", "string")).alias(
            "n_statuses"
        ),
    )


@query(
    "cdc_lineitem_envelope_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_events,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def cdc_lineitem_envelope_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Envelope round-trip at VOLUME width: the full 16-column lineitem
    table through the map[string]string envelope (fixtures B.2,
    INSERT-only ≡ the base table) and back out via typed projection —
    the q1-shaped rollup must match the direct-scan oracle exactly.
    Exercises the text-encode/CAST path on the widest, largest driver
    table (600k rows × 16 map entries at sf0.1)."""
    from postrack_spark.cdc.fixtures import lineitem_changes

    ch = lineitem_changes(spark, sf_dir)
    return (
        ch.groupBy(
            typed_column("after", "l_returnflag", "string").alias("l_returnflag"),
            typed_column("after", "l_linestatus", "string").alias("l_linestatus"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(typed_column("after", "l_quantity", "double")).cast("bigint").alias("sum_qty"),
            F.round(F.sum(typed_column("after", "l_extendedprice", "double")), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "cdc_scd2_history",
    oracle=f"""
    WITH {_CHANGES_CTE},
    seq AS (
      SELECT *, lead(lsn) OVER (PARTITION BY okey ORDER BY lsn) AS valid_to_lsn
      FROM changes
    )
    SELECT okey AS o_orderkey, lsn AS valid_from_lsn, valid_to_lsn,
           status AS o_orderstatus, round(price, 2) AS o_totalprice,
           (valid_to_lsn IS NULL) AS is_current
    FROM seq
    WHERE op IN ('INSERT', 'UPDATE')
    ORDER BY o_orderkey, valid_from_lsn
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) view of the change stream:
    every INSERT/UPDATE becomes a version row with a [valid_from_lsn,
    valid_to_lsn) validity interval; a following DELETE closes the last
    version (its lsn becomes that row's valid_to) without emitting one.
    This is the standard warehouse consumption of CDC history that the
    reference leaves entirely to HandleFunc (postrack.go:35). One
    window per key — shuffles on the key exactly once at any scale;
    prune_images keeps only the consumed columns in that shuffle."""
    ch = prune_images(
        orders_changes(spark, sf_dir),
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    w = Window.partitionBy("o_orderkey").orderBy("lsn")
    return (
        ch.withColumn("o_orderkey", key)
        .withColumn("valid_to_lsn", F.lead("lsn").over(w))
        .filter(F.col("op").isin("INSERT", "UPDATE"))
        .select(
            "o_orderkey",
            F.col("lsn").alias("valid_from_lsn"),
            "valid_to_lsn",
            typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"),
            F.round(typed_column("after", "o_totalprice", "double"), 2).alias("o_totalprice"),
            F.col("valid_to_lsn").isNull().alias("is_current"),
        )
    )  # no global sort of the full history — see cdc_latest_per_key_materialize


@query(
    "cdc_txn_grouping",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT okey AS txid, count(*) AS n_events,
           count(DISTINCT op) AS n_ops,
           min(lsn) AS first_lsn, max(lsn) AS last_lsn
    FROM changes
    GROUP BY okey
    HAVING count(*) > 1
    ORDER BY txid
    """,
)
def cdc_txn_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-boundary grouping: events rolled up per txid. The
    reference DROPS Begin/Commit messages (postrack.go:368-411 has no
    case arms for them), so its consumers cannot reconstruct
    transactions; the envelope's txid column (quirk q5 fix) makes this
    a plain aggregation. Multi-event transactions only."""
    ch = orders_changes(spark, sf_dir)
    return (
        ch.groupBy("txid")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("op").alias("n_ops"),
            F.min("lsn").alias("first_lsn"),
            F.max("lsn").alias("last_lsn"),
        )
        .filter(F.col("n_events") > 1)
        .orderBy("txid")
    )


@query(
    "cdc_map_functions",
    oracle=f"""
    WITH {_CHANGES_CTE},
    rules AS (
      SELECT op,
             CASE WHEN op IN ('INSERT', 'UPDATE') THEN 6 END AS after_keys,
             CASE op
               WHEN 'UPDATE' THEN CASE WHEN okey % 10 = 4 THEN 0 ELSE 6 END
               WHEN 'DELETE' THEN 6
             END AS before_keys
      FROM changes
    )
    SELECT op, count(*) AS n_events,
           round(avg(after_keys), 4) AS avg_after_keys,
           round(avg(after_keys), 4) AS avg_after_nonnull,
           round(avg(before_keys), 4) AS avg_before_keys,
           CAST(count(after_keys) AS BIGINT) AS n_with_pk,
           min(CASE WHEN after_keys IS NOT NULL
               THEN 'o_custkey,o_orderdate,o_orderkey' END) AS first3_keys
    FROM rules
    GROUP BY op
    ORDER BY op
    """,
)
def cdc_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-function surface over the envelope (SURVEY §2b: map_keys /
    map_values / map_filter / map_contains_key are how consumers work
    with the reference's map[string]string row images). The oracle
    re-derives the expected key-set sizes from the stream's generation
    rules (9 order columns; the default-image UPDATE has an EMPTY
    before map, DELETE carries only before — postrack.go:383-406)."""
    ch = orders_changes(spark, sf_dir)
    return (
        ch.groupBy("op")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg(F.size(F.map_keys(F.col("after")))), 4).alias("avg_after_keys"),
            F.round(
                F.avg(F.size(F.map_filter(F.col("after"), lambda k, v: v.isNotNull()))), 4
            ).alias("avg_after_nonnull"),
            F.round(F.avg(F.size(F.map_values(F.col("before")))), 4).alias("avg_before_keys"),
            F.sum(
                F.when(F.map_contains_key(F.col("after"), "o_orderkey"), 1).otherwise(0)
            ).cast("bigint").alias("n_with_pk"),
            F.min(
                F.when(
                    F.col("after").isNotNull(),
                    F.array_join(F.slice(F.array_sort(F.map_keys(F.col("after"))), 1, 3), ","),
                )
            ).alias("first3_keys"),
        )
        .orderBy("op")
    )


@query(
    "cdc_op_transition_matrix",
    oracle=f"""
    WITH {_CHANGES_CTE},
    seq AS (
      SELECT okey, op, lag(op) OVER (PARTITION BY okey ORDER BY lsn) AS prev_op
      FROM changes
    )
    SELECT coalesce(prev_op, '<START>') AS from_op, op AS to_op,
           count(*) AS n
    FROM seq
    GROUP BY 1, 2
    ORDER BY from_op, to_op
    """,
)
def cdc_op_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-integrity analytics: the op-transition matrix per key
    (INSERT must start every key's history, DELETE must be terminal,
    UPDATE follows INSERT/UPDATE) — the validation view a CDC consumer
    runs to detect capture gaps. One lag window per key. Consumes only
    (key, lsn, op) — capture-side column list, so images never carry
    the five unread columns through the window shuffle."""
    ch = orders_changes(spark, sf_dir, columns=["o_orderkey"])
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    w = Window.partitionBy("__k").orderBy("lsn")
    return (
        ch.withColumn("__k", key)
        .withColumn("prev_op", F.lag("op").over(w))
        .groupBy(
            F.coalesce("prev_op", F.lit("<START>")).alias("from_op"),
            F.col("op").alias("to_op"),
        )
        .agg(F.count("*").alias("n"))
        .orderBy("from_op", "to_op")
    )


@query(
    "cdc_sequence_integrity",
    oracle=f"""
    WITH {_CHANGES_CTE},
    per_key AS (
      SELECT okey, min(lsn) AS min_lsn,
             min(CASE WHEN op = 'DELETE' THEN lsn END) AS del_lsn
      FROM changes GROUP BY okey
    ),
    firsts AS (
      SELECT c.okey, c.op FROM changes c
      JOIN per_key p ON p.okey = c.okey AND c.lsn = p.min_lsn
    )
    SELECT CAST((SELECT count(*) FROM per_key) AS BIGINT) AS n_keys,
           CAST((SELECT count(*) FROM changes) AS BIGINT) AS n_events,
           CAST((SELECT count(*) FROM firsts WHERE op <> 'INSERT') AS BIGINT)
             AS first_not_insert,
           CAST((SELECT count(*) FROM changes c JOIN per_key p ON p.okey = c.okey
                 WHERE p.del_lsn IS NOT NULL AND c.lsn > p.del_lsn) AS BIGINT)
             AS ops_after_delete,
           CAST((SELECT count(*) FROM (SELECT lsn FROM changes
                                       GROUP BY lsn HAVING count(*) > 1)) AS BIGINT)
             AS dup_lsns
    """,
)
def cdc_sequence_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-integrity CERTIFICATION: the boolean-grade counts a CDC
    consumer alarms on — keys whose history does not start with
    INSERT, operations sequenced after a key's DELETE, duplicate LSNs.
    cdc_op_transition_matrix describes the transition structure; this
    query certifies the three invariants are exactly zero on the
    captured stream (and the oracle recomputes them from the scripted
    generation rules, so a decode or replay bug that forges ops or
    reorders LSNs fails the hash gate, not just an eyeball check).
    Plan: one key-partitioned window + per-key aggregate sharing its
    exchange (folds keys/events/first-op/after-delete counters in a
    single pass, nothing pinned) + one lsn-pruned duplicate count."""
    # capture-side column list (the WithSelector twin, cf.
    # cdc_latest_per_key_materialize): this query consumes only
    # (key, lsn, op), so the envelope images are never built wider than
    # the replica identity — the main pass scans one parquet column
    # instead of six (before: full-width ReadSchema; Catalyst cannot
    # prune through the conditional map constructors).
    ch = orders_changes(spark, sf_dir, columns=["o_orderkey"])
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    # No pins (the previous shape pinned the full 3-column event stream
    # — an O(input) materialization forbidden by pin_small's contract).
    # The four per-key probes instead fold in ONE pass: a key-partitioned
    # window attaches each key's min lsn / first DELETE lsn to every
    # event, the per-key groupBy REUSES the window's partitioning (no
    # second exchange — guide §2.4), and a single global aggregate folds
    # the four counters. Duplicate-LSN detection needs an lsn-keyed
    # shuffle, so it stays a second pass — column-pruned to the lsn
    # alone (no envelope map is ever built on that branch).
    # Keyless envelopes (TRUNCATE) carry no per-key history to certify.
    ev = ch.select(key.alias("k"), "lsn", "op").filter(F.col("k").isNotNull())
    w = Window.partitionBy("k")
    ev2 = ev.select(
        "k",
        "lsn",
        "op",
        F.min("lsn").over(w).alias("min_lsn"),
        F.min(F.when(F.col("op") == "DELETE", F.col("lsn"))).over(w).alias("del_lsn"),
    )
    per_key_stats = ev2.groupBy("k").agg(
        F.count("*").alias("n_ev"),
        F.sum(
            F.when((F.col("lsn") == F.col("min_lsn")) & (F.col("op") != "INSERT"), 1)
            .otherwise(0)
        ).alias("n_first_not_insert"),
        F.sum(
            F.when(F.col("del_lsn").isNotNull() & (F.col("lsn") > F.col("del_lsn")), 1)
            .otherwise(0)
        ).alias("n_after_delete"),
    )
    main = per_key_stats.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_ev").cast("long").alias("n_events"),
        F.sum("n_first_not_insert").cast("long").alias("first_not_insert"),
        F.sum("n_after_delete").cast("long").alias("ops_after_delete"),
    )
    dups = (
        ch.select("lsn")
        .groupBy("lsn")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").cast("long").alias("dup_lsns"))
    )
    return main.crossJoin(F.broadcast(dups))  # 1-row combine


@query(
    "cdc_changed_columns",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT CASE WHEN okey % 10 IN (1, 2, 3) THEN
             CASE WHEN (SELECT o_orderstatus FROM orders o WHERE o.o_orderkey = okey) <> 'F'
                  THEN 'o_orderstatus,o_totalprice' ELSE 'o_totalprice' END
           END AS changed_cols,
           count(*) AS n_updates
    FROM changes
    WHERE op = 'UPDATE' AND okey % 10 IN (1, 2, 3)
    GROUP BY 1
    ORDER BY changed_cols
    """,
)
def cdc_changed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-vector extraction: for each full-identity UPDATE, the
    sorted set of columns whose after value differs from before
    (null-safe map comparison via map_filter) — the derived view
    downstream auditing/conditional-trigger consumers build from the
    reference's (new, old) images (postrack.go:385-398). Empty-before
    UPDATEs (default replica identity) are excluded: their change
    vector is unknowable, exactly the information the reference's
    REPLICA IDENTITY FULL requirement exists to provide."""
    ch = orders_changes(spark, sf_dir)
    changed = F.array_join(
        F.array_sort(
            F.map_keys(
                F.map_filter(
                    F.col("after"),
                    lambda k, v: ~v.eqNullSafe(F.element_at(F.col("before"), k)),
                )
            )
        ),
        ",",
    )
    return (
        ch.filter((F.col("op") == "UPDATE") & (F.size("before") > 0))
        .groupBy(changed.alias("changed_cols"))
        .agg(F.count("*").alias("n_updates"))
        .orderBy("changed_cols")
    )


@query(
    "cdc_incremental_agg",
    oracle=f"""
    WITH {_CHANGES_CTE},
    hist AS (
      SELECT *,
             lag(status) OVER w AS p_status,
             lag(price)  OVER w AS p_price
      FROM changes
      WINDOW w AS (PARTITION BY okey ORDER BY lsn)
    ),
    deltas AS (
      SELECT status   AS s,  1 AS sign, price   AS p FROM hist WHERE op = 'INSERT'
      UNION ALL
      SELECT status,          1,        price        FROM hist WHERE op = 'UPDATE'
      UNION ALL
      SELECT p_status,       -1,        p_price      FROM hist WHERE op = 'UPDATE'
      UNION ALL
      SELECT p_status,       -1,        p_price      FROM hist WHERE op = 'DELETE'
    )
    SELECT s AS o_orderstatus,
           CAST(sum(sign) AS BIGINT) AS n_rows,
           round(sum(sign * CAST(round(p * 100) AS BIGINT)) / 100.0, 2) AS total_price
    FROM deltas
    GROUP BY s
    HAVING sum(sign) > 0
    ORDER BY o_orderstatus
    """,
)
def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-status (count, sum(price))
    view maintained from the change stream ALONE — no base-table
    recompute. Each event becomes signed delta rows (+after / -before);
    sum(sign)/sum(sign*measure) per group equals the aggregate of the
    materialized table, at O(groups) shuffle cost instead of O(table)
    (the counting algorithm; see cdc/ivm.py). Default-replica-identity
    UPDATEs (empty before image, postrack.go:388-392) are first
    repaired by recover_before — the per-key previous event's after
    image IS the missing before image. Money sums ride integer cents
    (cross-engine fp association trap — see CLAUDE.md)."""
    from postrack_spark.cdc.ivm import incremental_agg, recover_before

    # capture-side column list (WithSelector): the view consumes only
    # status + price, so images are narrow from the source on.
    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    view = incremental_agg(
        repaired,
        dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
        measures={
            "cents": F.round(
                F.element_at(F.col("img"), "o_totalprice").cast("double") * 100
            ).cast("long")
        },
    )
    return view.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
    ).orderBy("o_orderstatus")


@query(
    "cdc_continuous_aggregate",
    oracle="""
    SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2)
             AS total_price
    FROM lineitem
    GROUP BY 1
    ORDER BY ship_month
    """,
)
def cdc_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate (the hypertable-rollup shape): a
    time-bucketed revenue/quantity view maintained from the change
    stream by the same signed-delta IVM machinery as
    cdc_incremental_agg — on an INSERT-only stream every delta is
    +after, so the maintained view IS the hourly/monthly rollup,
    updated at O(buckets) shuffle per batch rather than recomputed.
    The time dimension comes out of the image (commit-ts-bucketing on
    text envelopes casts back through typed projection)."""
    from postrack_spark.cdc.fixtures import lineitem_changes
    from postrack_spark.cdc.ivm import incremental_agg

    ch = lineitem_changes(spark, sf_dir)
    view = incremental_agg(
        ch,
        dims={
            "ship_month": F.date_format(
                F.date_trunc(
                    "month", F.element_at(F.col("img"), "l_shipdate").cast("timestamp")
                ),
                "yyyy-MM",
            )
        },
        measures={
            "total_qty": F.round(
                F.element_at(F.col("img"), "l_quantity").cast("double")
            ).cast("long"),
            "cents": F.round(
                F.element_at(F.col("img"), "l_extendedprice").cast("double") * 100
            ).cast("long"),
        },
    )
    return view.select(
        "ship_month",
        "n_rows",
        F.col("total_qty").cast("bigint").alias("total_qty"),
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
    ).orderBy("ship_month")


@query(
    "cdc_multi_table_demux",
    oracle=f"""
    WITH {_CHANGES_CTE},
    li AS (
      SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    per_stream AS (
      SELECT 'orders' AS tbl, op,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(lsn) AS BIGINT) AS min_lsn,
             CAST(max(lsn) AS BIGINT) AS max_lsn
      FROM changes GROUP BY op
      UNION ALL
      SELECT 'lineitem', 'INSERT',
             CAST((SELECT sum(n_lines) FROM li) AS BIGINT),
             CAST((SELECT min(l_orderkey * 1000 + 1) FROM li) AS BIGINT),
             CAST((SELECT max(l_orderkey * 1000 + n_lines) FROM li) AS BIGINT)
    )
    SELECT tbl, op, n_events, min_lsn, max_lsn
    FROM per_stream
    ORDER BY tbl, op
    """,
)
def cdc_multi_table_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table subscription demux: one combined change stream
    (orders script + lineitem volume stream) split back per (table,
    op) with event counts and LSN ranges — the `filter(col("table"))`
    fan-out a consumer of a multi-table publication runs. The lineitem
    LSN range is derived order-independently in the oracle (min/max of
    the per-order arithmetic), so the check does not depend on replay
    order. Scale: a single groupBy on (table, op); the unioned stream
    is never re-scanned per table."""
    from postrack_spark.cdc.fixtures import lineitem_changes

    combined = orders_changes(spark, sf_dir).unionByName(
        lineitem_changes(spark, sf_dir)
    )
    return (
        combined.groupBy(F.col("table").alias("tbl"), "op")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("lsn").cast("bigint").alias("min_lsn"),
            F.max("lsn").cast("bigint").alias("max_lsn"),
        )
        .orderBy("tbl", "op")
    )


@query(
    "cdc_idempotent_replay",
    oracle=f"""
    WITH {_CHANGES_CTE},
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY okey ORDER BY lsn DESC) AS rn
      FROM changes
    )
    SELECT okey AS o_orderkey, status AS o_orderstatus,
           round(price, 2) AS o_totalprice
    FROM ranked
    WHERE rn = 1 AND op <> 'DELETE'
    ORDER BY o_orderkey
    """,
)
def cdc_idempotent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once resilience: the stream UNIONED WITH ITSELF
    (simulating full redelivery, the failure mode of the reference's
    delivery semantics — its ack can fire before processing,
    postrack.go:366-367 vs :107-117) materializes to EXACTLY the state
    of the single stream: latest-per-key reduces duplicate (lsn, image)
    events to one survivor regardless of multiplicity, so replayed
    WAL segments are harmless. Same oracle as the clean materialization
    — that equality IS the assertion."""
    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    redelivered = ch.unionByName(ch)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    final = apply_changes(redelivered, key, key_name="o_orderkey")
    return final.select(
        "o_orderkey",
        typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"),
        F.round(typed_column("after", "o_totalprice", "double"), 2).alias("o_totalprice"),
    )


@query(
    "cdc_join_view_maintenance",
    oracle="""
    WITH o_final AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 10 IN (1, 2, 3)
                  THEN CAST(round(o_totalprice * 2 * 100) AS BIGINT)
                  WHEN o_orderkey % 10 = 4
                  THEN CAST(round((o_totalprice + 10) * 100) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS o_cents
      FROM orders WHERE o_orderkey % 10 <> 5
    ),
    l_final AS (
      SELECT l_orderkey,
             CAST(round(l_quantity) AS BIGINT)
               + CASE WHEN l_orderkey % 10 = 6 AND l_linenumber = 1
                      THEN 3 ELSE 0 END AS l_qty
      FROM lineitem
      WHERE NOT (l_orderkey % 10 = 7 AND l_linenumber = 1)
      UNION ALL
      SELECT l_orderkey, 1 AS l_qty
      FROM lineitem WHERE l_orderkey % 10 = 8 AND l_linenumber = 1
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_qty) AS BIGINT) AS sum_qty,
           CAST(sum(o_cents) AS BIGINT) AS sum_price_cents
    FROM o_final JOIN l_final ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def cdc_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view IVM (delta joins): a per-priority (rows, qty, revenue)
    view over orders ⋈ lineitem maintained from BOTH tables' change
    streams — the join extension of cdc_incremental_agg. The signed
    delta of the join is ΔA⋈B0 + A0⋈ΔB + ΔA⋈ΔB (sign products), each
    base-side term broadcasting the delta, so a refresh never shuffles
    a base table (cdc/ivm.py delta_join_terms). The reference leaves
    all derived state to the user callback (postrack.go:35); here the
    maintained view provably equals the direct join-aggregate of the
    final table states (the oracle). Default-identity UPDATEs (empty
    before image) are repaired by recover_before first; measures ride
    integer cents / integer quantities so signed addition is exact
    cross-engine."""
    from postrack_spark.cdc.fixtures import lineitem_delta_changes
    from postrack_spark.cdc.ivm import (
        incremental_join_agg,
        recover_before,
        signed_image_rows,
    )
    from postrack_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    img = lambda c: F.element_at(F.col("img"), c)  # noqa: E731

    # A side: orders snapshot + post-snapshot UPDATE/DELETE deltas.
    a0 = t["orders"].select(
        F.lit(1).alias("sign"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    och = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    okey = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    da = signed_image_rows(
        recover_before(och, okey).filter(F.col("op") != "INSERT"),
        {
            "o_orderkey": img("o_orderkey").cast("long"),
            "o_orderpriority": img("o_orderpriority"),
            "o_cents": F.round(img("o_totalprice").cast("double") * 100).cast("long"),
        },
    )

    # B side: lineitem snapshot + the B.4 scripted UPDATE/DELETE/INSERT
    # deltas (full before images — no recovery needed).
    b0 = t["lineitem"].select(
        F.lit(1).alias("sign"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.round(F.col("l_quantity")).cast("long").alias("l_qty"),
    )
    db = signed_image_rows(
        lineitem_delta_changes(spark, sf_dir),
        {
            "l_orderkey": img("l_orderkey").cast("long"),
            "l_qty": F.round(img("l_quantity").cast("double")).cast("long"),
        },
    )

    view = incremental_join_agg(
        a0, da, b0, db,
        on=[("o_orderkey", "l_orderkey")],
        dims={"o_orderpriority": F.col("o_orderpriority")},
        measures={"sum_qty": F.col("l_qty"), "sum_price_cents": F.col("o_cents")},
    )
    return view.orderBy("o_orderpriority")


@query(
    "cdc_join_view_three_way",
    oracle="""
    WITH o_final AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 IN (1, 2, 3)
                  THEN CAST(round(o_totalprice * 2 * 100) AS BIGINT)
                  WHEN o_orderkey % 10 = 4
                  THEN CAST(round((o_totalprice + 10) * 100) AS BIGINT)
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT)
             END AS o_cents
      FROM orders WHERE o_orderkey % 10 <> 5
    ),
    l_final AS (
      SELECT l_orderkey,
             CAST(round(l_quantity) AS BIGINT)
               + CASE WHEN l_orderkey % 10 = 6 AND l_linenumber = 1
                      THEN 3 ELSE 0 END AS l_qty
      FROM lineitem
      WHERE NOT (l_orderkey % 10 = 7 AND l_linenumber = 1)
      UNION ALL
      SELECT l_orderkey, 1 AS l_qty
      FROM lineitem WHERE l_orderkey % 10 = 8 AND l_linenumber = 1
    )
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_qty) AS BIGINT) AS sum_qty,
           CAST(sum(o_cents) AS BIGINT) AS sum_price_cents
    FROM o_final
    JOIN l_final ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def cdc_join_view_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-WAY join-view IVM by COMPOSITION: the signed-multiset
    algebra closes under joins, so (snapshot, delta) of A ⋈ B — built
    by _signed_join / delta_join_terms — is itself a valid signed
    relation pair, fed unchanged into a second incremental_join_agg
    against the customer dimension (static here: dimension tables
    change rarely; an empty delta is the degenerate case). No special
    n-way machinery: Δ(A⋈B⋈C) falls out of applying the binary rule
    twice. Same final-state oracle discipline as the two-way view."""
    from postrack_spark.cdc.fixtures import lineitem_delta_changes
    from postrack_spark.cdc.ivm import (
        _signed_join,
        delta_join_terms,
        incremental_join_agg,
        recover_before,
        signed_image_rows,
    )
    from postrack_spark.session import load_tables

    t = load_tables(spark, sf_dir)
    img = lambda c: F.element_at(F.col("img"), c)  # noqa: E731

    a0 = t["orders"].select(
        F.lit(1).alias("sign"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("o_cents"),
    )
    och = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_custkey", "o_totalprice"]
    )
    okey = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    da = signed_image_rows(
        recover_before(och, okey).filter(F.col("op") != "INSERT"),
        {
            "o_orderkey": img("o_orderkey").cast("long"),
            "o_custkey": img("o_custkey").cast("long"),
            "o_cents": F.round(img("o_totalprice").cast("double") * 100).cast("long"),
        },
    )
    b0 = t["lineitem"].select(
        F.lit(1).alias("sign"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.round(F.col("l_quantity")).cast("long").alias("l_qty"),
    )
    db = signed_image_rows(
        lineitem_delta_changes(spark, sf_dir),
        {
            "l_orderkey": img("l_orderkey").cast("long"),
            "l_qty": F.round(img("l_quantity").cast("double")).cast("long"),
        },
    )

    on_ab = [("o_orderkey", "l_orderkey")]
    ab0 = _signed_join(a0, b0, on_ab)
    dab = delta_join_terms(a0, da, b0, db, on_ab)
    c0 = t["customer"].select(
        F.lit(1).alias("sign"),
        F.col("c_custkey").cast("long").alias("c_custkey"),
        "c_mktsegment",
    )
    view = incremental_join_agg(
        ab0, dab, c0, c0.limit(0),
        on=[("o_custkey", "c_custkey")],
        dims={"c_mktsegment": F.col("c_mktsegment")},
        measures={"sum_qty": F.col("l_qty"), "sum_price_cents": F.col("o_cents")},
    )
    return view.orderBy("c_mktsegment")


@query(
    "cdc_distinct_minmax_view",
    oracle=f"""
    WITH {_CHANGES_CTE},
    last AS (
      SELECT okey,
             max_by(op, lsn) AS op,
             max_by(status, lsn) AS status,
             max_by(price, lsn) AS price
      FROM changes GROUP BY okey
    ),
    live AS (
      SELECT status, CAST(round(price * 100) AS BIGINT) AS cents
      FROM last WHERE op <> 'DELETE'
    )
    SELECT status AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct_cents,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM live GROUP BY status
    ORDER BY o_orderstatus
    """,
)
def cdc_distinct_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVM for NON-distributive aggregates: COUNT(DISTINCT), MIN and
    MAX cannot be maintained from signed scalar partials (a DELETE of
    the current minimum needs the runner-up), so the view keeps the
    textbook MULTIPLICITY inner view — per (group, value) live row
    counts, maintained by the same signed-delta counting machinery as
    cdc_incremental_agg — and the outer aggregate reads values whose
    multiplicity is positive. Deletes and updates flow through
    naturally: a value's count hitting zero removes it, resurfacing the
    runner-up min/max and shrinking the distinct count, with NO base
    recompute. State is O(live distinct (group, value)) — bounded by
    the view's own grain, not the stream; per-batch maintenance stays
    O(batch) map-side + O(touched groups) shuffle. The outer pass is
    O(state). Oracle replays the stream to final state (max_by per
    key) and aggregates directly."""
    from postrack_spark.cdc.ivm import incremental_agg, recover_before

    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    mult = incremental_agg(
        repaired,
        dims={
            "o_orderstatus": F.element_at(F.col("img"), "o_orderstatus"),
            "cents": F.round(
                F.element_at(F.col("img"), "o_totalprice").cast("double") * 100
            ).cast("long"),
        },
        measures={},
    )
    return (
        mult.groupBy("o_orderstatus")
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.countDistinct("cents").cast("long").alias("n_distinct_cents"),
            F.min("cents").cast("long").alias("min_cents"),
            F.max("cents").cast("long").alias("max_cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "cdc_time_travel_asof",
    oracle=f"""
    WITH {_CHANGES_CTE},
    cut AS (
      SELECT CAST(min(lsn) + (max(lsn) - min(lsn)) * 2 // 3 AS BIGINT) AS as_of
      FROM changes
    ),
    upto AS (SELECT c.* FROM changes c CROSS JOIN cut WHERE c.lsn <= cut.as_of),
    last AS (
      SELECT okey, max_by(op, lsn) AS op, max_by(status, lsn) AS status,
             max_by(price, lsn) AS price
      FROM upto GROUP BY okey
    )
    SELECT status AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM last WHERE op <> 'DELETE'
    GROUP BY status
    ORDER BY o_orderstatus
    """,
)
def cdc_time_travel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) reconstruction: the table state AS
    OF an LSN two-thirds into the captured WAL — replay only events at
    or below the cut, then the standard latest-per-key compaction. The
    capability a CDC-fed warehouse exposes as `FOR SYSTEM_TIME AS OF`:
    any historical state is a FILTER plus the same O(keys) compaction,
    no extra storage beyond the retained log. The cut is derived from
    the stream itself (min/max LSN scalar agg, broadcast back), so the
    query is self-contained at any SF. Scale: the LSN predicate
    prunes map-side (and prunes log partitions when the log is stored
    LSN-partitioned, cf. sources/layout.py); everything after is the
    audited max_by compaction shape."""
    from postrack_spark.cdc.materialize import apply_changes

    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    # `div`/`//`: integer division on both engines (double `/` + CAST
    # would hit the round-vs-truncate cast trap — see CLAUDE.md)
    cut = ch.agg(
        F.expr("min(lsn) + (max(lsn) - min(lsn)) * 2 div 3").cast("long").alias("as_of")
    )
    upto = ch.crossJoin(F.broadcast(cut)).filter(F.col("lsn") <= F.col("as_of"))
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    state = apply_changes(upto, key, key_name="o_orderkey")
    return (
        state.select(
            typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"),
            F.round(typed_column("after", "o_totalprice", "double") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "cdc_forget_keys_purge",
    oracle=f"""
    WITH {_CHANGES_CTE},
    last AS (
      SELECT okey, max_by(op, lsn) AS op, max_by(status, lsn) AS status,
             max_by(price, lsn) AS price
      FROM changes GROUP BY okey
    ),
    live AS (SELECT * FROM last WHERE op <> 'DELETE'),
    kept AS (SELECT * FROM live WHERE okey % 7 <> 0),
    purged AS (SELECT * FROM live WHERE okey % 7 = 0)
    SELECT status AS o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents,
           CAST((SELECT count(*) FROM purged) AS BIGINT) AS n_purged
    FROM kept
    GROUP BY status
    ORDER BY o_orderstatus
    """,
)
def cdc_forget_keys_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete propagation (right-to-be-forgotten): a purge list —
    here every 7th key, standing in for a deletion-request table —
    becomes synthetic DELETE envelopes appended past the head of the
    captured log; replaying the augmented stream yields the purged
    state through the SAME latest-per-key machinery users already run,
    and the audit count of actually-purged live rows rides along. This
    is how a CDC-fed lake honors erasure without a bespoke code path:
    deletion is DATA (late DELETE events), so every downstream view,
    IVM fold, and SCD2 history purges consistently by construction.
    Scale: the purge list joins map-side against the O(keys) compacted
    state; the synthetic deletes are O(|purge list|)."""
    from postrack_spark.cdc.envelope import null_map
    from postrack_spark.cdc.materialize import apply_changes

    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    from postrack_spark.session import pin_small

    head = ch.agg(F.max("lsn").cast("long").alias("head_lsn"))
    # current live state; purge membership is a pure key predicate.
    live = apply_changes(ch, key, key_name="o_orderkey")
    # The multi-consumer frame (audit count + synthetic deletes) is the
    # purged KEY LIST — O(|deletion requests|), the quantity the
    # forget_keys operator already documents as small — NOT the full
    # compacted table this query used to pin (an O(keys) MEMORY_AND_DISK
    # materialization that violated pin_small's bounded-frame contract
    # at 100 TB). The synthetic DELETE's before image carries exactly
    # the replica identity (the key): that is all replay needs to
    # tombstone — a DELETE's image never reaches the output (the
    # surviving op != DELETE filter), so the purged state is unchanged.
    purged_keys = pin_small(
        "fkp_purged_keys",
        live.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
    )
    n_purged = purged_keys.agg(F.count("*").cast("long").alias("n_purged"))
    # deletion requests as DATA: synthetic DELETE envelopes past head
    del_events = purged_keys.crossJoin(F.broadcast(head)).select(
        (F.col("head_lsn") + F.col("o_orderkey") + 1).cast("long").alias("lsn"),
        F.lit(None).cast("long").alias("txid"),
        F.lit(None).cast("timestamp").alias("commit_ts"),
        F.lit("public").alias("schema"),
        F.lit("orders").alias("table"),
        F.lit("DELETE").alias("op"),
        null_map().alias("after"),
        F.create_map(
            F.lit("o_orderkey"), F.col("o_orderkey").cast("string")
        ).alias("before"),
    )
    purged_state = apply_changes(
        ch.unionByName(del_events), key, key_name="o_orderkey"
    )
    return (
        purged_state.select(
            typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"),
            F.round(typed_column("after", "o_totalprice", "double") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .crossJoin(F.broadcast(n_purged))  # 1-row audit combine
        .orderBy("o_orderstatus")
    )


@query(
    "cdc_temporal_join_scd2",
    oracle=f"""
    WITH {_CHANGES_CTE},
    seq AS (
      SELECT *, lead(lsn) OVER (PARTITION BY okey ORDER BY lsn) AS valid_to_lsn
      FROM changes
    ),
    dim AS (
      SELECT okey, lsn AS valid_from_lsn, valid_to_lsn, status
      FROM seq WHERE op IN ('INSERT', 'UPDATE')
    ),
    facts AS (
      SELECT l_orderkey,
             l_orderkey * 10 + CASE l_linenumber % 3
                                 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 6 END AS obs_lsn,
             CAST(round(l_quantity) AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT d.status AS version_status,
           CAST(count(*) AS BIGINT) AS n_facts,
           CAST(sum(f.qty) AS BIGINT) AS total_qty,
           CAST(count(DISTINCT (d.okey, d.valid_from_lsn)) AS BIGINT) AS n_versions
    FROM facts f JOIN dim d
      ON d.okey = f.l_orderkey
     AND d.valid_from_lsn <= f.obs_lsn
     AND (d.valid_to_lsn IS NULL OR f.obs_lsn < d.valid_to_lsn)
    GROUP BY d.status
    ORDER BY version_status
    """,
)
def cdc_temporal_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (AS-OF interval) join of facts against SCD2 dimension
    VERSIONS: each lineitem observation carries the LSN at which it was
    seen and joins to the order version valid AT THAT LSN
    (valid_from <= obs < valid_to) — the bitemporal pattern that makes
    'revenue by the status the order had WHEN the line shipped' answerable,
    and the consumption query for cdc_scd2_history / streaming_scd2.
    Scale: an EQUI join on the dimension key with the interval predicate
    applied post-probe — each key's version list is short (version count
    per key, not history length of the table), so the per-row interval
    scan is O(versions/key); no range-join explosion. The version list
    shuffles once on the key, the same partitioning the SCD2 build
    already produced."""
    from postrack_spark.cdc.fixtures import lineitem_changes  # noqa: F401  (domain doc)

    dim = (
        prune_images(
            orders_changes(spark, sf_dir), ["o_orderkey", "o_orderstatus"]
        )
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    w = Window.partitionBy("okey").orderBy("lsn")
    versions = (
        dim.withColumn("okey", key)
        .withColumn("valid_to_lsn", F.lead("lsn").over(w))
        .filter(F.col("op").isin("INSERT", "UPDATE"))
        .select(
            "okey",
            F.col("lsn").alias("valid_from_lsn"),
            "valid_to_lsn",
            typed_column("after", "o_orderstatus", "string").alias("version_status"),
        )
    )
    from postrack_spark.session import load_tables

    li = load_tables(spark, sf_dir)["lineitem"]
    facts = li.select(
        "l_orderkey",
        (
            F.col("l_orderkey") * 10
            + F.when(F.col("l_linenumber") % 3 == 0, 2)
            .when(F.col("l_linenumber") % 3 == 1, 4)
            .otherwise(6)
        ).alias("obs_lsn"),
        F.round("l_quantity").cast("long").alias("qty"),
    )
    joined = facts.join(
        versions,
        (F.col("okey") == F.col("l_orderkey"))
        & (F.col("valid_from_lsn") <= F.col("obs_lsn"))
        & (F.col("valid_to_lsn").isNull() | (F.col("obs_lsn") < F.col("valid_to_lsn"))),
    )
    return (
        joined.groupBy("version_status")
        .agg(
            F.count("*").cast("long").alias("n_facts"),
            F.sum("qty").cast("long").alias("total_qty"),
            F.countDistinct("okey", "valid_from_lsn").cast("long").alias("n_versions"),
        )
        .orderBy("version_status")
    )


@query(
    "cdc_subject_access_export",
    oracle=f"""
    WITH {_CHANGES_CTE}
    SELECT okey,
           CAST(count(*) AS BIGINT) AS n_events,
           string_agg(
             CAST(lsn AS VARCHAR) || ':' || op || ':' ||
             coalesce(status, '-') || ':' ||
             coalesce(CAST(CAST(round(price * 100) AS BIGINT) AS VARCHAR), '-'),
             '|' ORDER BY lsn) AS history
    FROM changes
    WHERE okey % 1000 = 7
    GROUP BY okey
    ORDER BY okey
    """,
)
def cdc_subject_access_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-access export (GDPR right of access) — the governance
    complement to cdc_forget_keys_purge: assemble each requested key's
    COMPLETE change history from the log as one ordered text record
    (lsn:op:status:cents per event). The request set is a sparse
    deterministic key predicate (okey % 1000 = 7 — stands in for a
    broadcast request list), so the log scan filters map-side before
    the per-key fold; the in-group LISTAGG is bounded by per-key event
    count, never corpus-sized. Money renders as integer cents and all
    fields are integer/string — double formatting never touches the
    export, so the text is byte-identical cross-engine. At 100 TB the
    identical shape serves a million-key request batch: filter
    pushdown + one O(selected events) shuffle."""
    ch = orders_changes(spark, sf_dir).filter(F.col("txid") % 1000 == 7)
    line = F.concat_ws(
        ":",
        F.col("lsn").cast("string"),
        F.col("op"),
        F.coalesce(typed_column("after", "o_orderstatus", "string"), F.lit("-")),
        F.coalesce(
            F.round(typed_column("after", "o_totalprice", "double") * 100)
            .cast("long")
            .cast("string"),
            F.lit("-"),
        ),
    )
    return (
        ch.select(F.col("txid").alias("okey"), "lsn", line.alias("line"))
        .groupBy("okey")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr("listagg(line, '|') WITHIN GROUP (ORDER BY lsn)").alias("history"),
        )
        .orderBy("okey")
    )


_PHASED_CTE = """
    pchanges AS (
      SELECT 100000000 + o_orderkey AS lsn, 'INSERT' AS op,
             o_orderkey AS okey, o_orderstatus AS status,
             o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 NOT IN (8, 9)
      UNION ALL
      SELECT 200000000 + o_orderkey, 'UPDATE', o_orderkey, 'F',
             round(o_totalprice * 2, 2)
      FROM orders WHERE o_orderkey % 10 IN (1, 2)
      UNION ALL
      SELECT 300000000 + o_orderkey, 'UPDATE', o_orderkey, 'P',
             CASE WHEN o_orderkey % 10 = 2
                  THEN round(round(o_totalprice * 2, 2) + 10, 2)
                  ELSE round(round(o_totalprice + 10, 2), 2) END
      FROM orders WHERE o_orderkey % 10 IN (2, 3)
      UNION ALL
      SELECT 400000000 + o_orderkey, 'INSERT', o_orderkey, o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 10 IN (8, 9)
      UNION ALL
      SELECT 500000000 + o_orderkey, 'DELETE', o_orderkey, NULL, NULL
      FROM orders WHERE o_orderkey % 10 = 5
    )
"""


@query(
    "cdc_version_diff",
    oracle=f"""
    WITH {_PHASED_CTE},
    s1 AS (
      SELECT okey, max_by(op, lsn) AS op, max_by(status, lsn) AS status,
             CAST(round(max_by(price, lsn) * 100) AS BIGINT) AS cents
      FROM pchanges WHERE lsn <= 300000000 GROUP BY okey
    ),
    a1 AS (SELECT okey, status, cents FROM s1 WHERE op <> 'DELETE'),
    s2 AS (
      SELECT okey, max_by(op, lsn) AS op, max_by(status, lsn) AS status,
             CAST(round(max_by(price, lsn) * 100) AS BIGINT) AS cents
      FROM pchanges GROUP BY okey
    ),
    a2 AS (SELECT okey, status, cents FROM s2 WHERE op <> 'DELETE'),
    j AS (
      SELECT CASE
               WHEN a1.okey IS NULL THEN 'added'
               WHEN a2.okey IS NULL THEN 'removed'
               WHEN a1.status <> a2.status OR a1.cents <> a2.cents
                 THEN 'changed'
               ELSE 'unchanged'
             END AS change_kind,
             a1.cents AS c1, a2.cents AS c2,
             CASE WHEN a1.status <> a2.status THEN 1 ELSE 0 END AS st_chg,
             CASE WHEN a1.cents <> a2.cents THEN 1 ELSE 0 END AS pr_chg
      FROM a1 FULL OUTER JOIN a2 ON a1.okey = a2.okey
    )
    SELECT change_kind,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(coalesce(c1, 0)) AS BIGINT) AS cents_t1,
           CAST(sum(coalesce(c2, 0)) AS BIGINT) AS cents_t2,
           CAST(sum(st_chg) AS BIGINT) AS n_status_changed,
           CAST(sum(pr_chg) AS BIGINT) AS n_price_changed
    FROM j
    GROUP BY change_kind
    ORDER BY change_kind
    """,
)
def cdc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-diff between two time-travel states of the SAME change
    log: reconstruct the table as-of two LSN cuts, full-outer join on
    the key, and report added / removed / changed / unchanged key
    counts with per-column change counts and the value totals on each
    side — the reconciliation report a CDC-fed warehouse runs to audit
    what a deploy or backfill changed between two versions, without
    storing either version (both sides are filters over the retained
    log). Uses the PHASED fixture (cdc/fixtures.py B.6) whose LSN
    bands interleave keys like real WAL, so a cut lands mid-flight for
    every key class at once and all four diff categories are
    populated. Scale: the two states are the audited O(keys)
    latest-per-key compactions; the diff join is key-partitioned (one
    shuffle each side); the report is O(4) rows. All money integer
    cents."""
    from postrack_spark.cdc.fixtures import PHASE, orders_phased_changes
    from postrack_spark.cdc.materialize import apply_changes

    ch = orders_phased_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )

    def state_asof(bounded: DataFrame) -> DataFrame:
        s = apply_changes(bounded, key, key_name="okey")
        return s.select(
            "okey",
            typed_column("after", "o_orderstatus", "string").alias("status"),
            F.round(typed_column("after", "o_totalprice", "double") * 100)
            .cast("long")
            .alias("cents"),
        )

    a1 = state_asof(ch.filter(F.col("lsn") <= F.lit(3 * PHASE))).withColumnsRenamed(
        {"okey": "k1", "status": "st1", "cents": "c1"}
    )
    a2 = state_asof(ch).withColumnsRenamed(
        {"okey": "k2", "status": "st2", "cents": "c2"}
    )
    j = a1.join(a2, a1["k1"] == a2["k2"], "full_outer").select(
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("removed"))
        .when(
            (F.col("st1") != F.col("st2")) | (F.col("c1") != F.col("c2")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_kind"),
        "c1", "c2",
        F.when(F.col("st1") != F.col("st2"), 1).otherwise(0).alias("st_chg"),
        F.when(F.col("c1") != F.col("c2"), 1).otherwise(0).alias("pr_chg"),
    )
    return (
        j.groupBy("change_kind")
        .agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum(F.coalesce("c1", F.lit(0))).cast("long").alias("cents_t1"),
            F.sum(F.coalesce("c2", F.lit(0))).cast("long").alias("cents_t2"),
            F.sum("st_chg").cast("long").alias("n_status_changed"),
            F.sum("pr_chg").cast("long").alias("n_price_changed"),
        )
        .orderBy("change_kind")
    )


@query(
    "cdc_pgoutput_two_phase_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_txids
    FROM orders
    WHERE o_custkey % 2 = 0
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_pgoutput_two_phase_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL pgoutput decode path, driver-gated end to end with
    protocol-v3 two-phase framing: every order becomes a prepared
    transaction encoded as genuine wire bytes (BeginPrepare / Insert /
    Prepare, then CommitPrepared for even custkeys, RollbackPrepared
    for odd) — encoding runs DISTRIBUTED (one Arrow-batched
    mapInPandas pass writes one self-contained .pgout frame file per
    partition, each headed by its Relation frame per the capture
    contract), and decoding runs through the postgres_cdc DataSource
    (one partition per file). Only committed gids may surface: the
    rollup must equal the even-custkey half of orders, with
    n_txids pinning exactly-once emission per prepared transaction.
    Other cdc_* queries use the envelope-level fixture; this one gates
    the byte layer + DataSource + two-phase buffering in the driver
    artifact itself."""
    import tempfile as _tf

    from collections.abc import Iterator

    import pandas as pd

    from postrack_spark.session import fan_out, load_tables
    from postrack_spark.sources.postgres_cdc import register

    base = fan_out(load_tables(spark, sf_dir)["orders"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cap_dir = _tf.mkdtemp(prefix="pgout_2pc_q_")

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os
        import uuid as _uuid
        from datetime import datetime, timezone

        from postrack_spark.sources.pgoutput import (
            encode_begin_prepare,
            encode_commit_prepared,
            encode_insert,
            encode_prepare,
            encode_relation,
            encode_rollback_prepared,
            wrap_xlogdata,
        )
        from postrack_spark.sources.postgres_cdc import write_frame_file

        ts = datetime(2024, 3, 1, 12, 0, 0, tzinfo=timezone.utc)
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        frames = [wrap_xlogdata(encode_relation(1, "public", "orders", cols), 1)]
        n = 0
        for pdf in it:
            for row in pdf.itertuples(index=False):
                okey = int(row.o_orderkey)
                xid, gid, lsn = okey % (1 << 31), f"g{okey}", okey * 10
                vals = [str(okey), str(int(row.o_custkey)),
                        str(row.o_orderstatus), f"{row.o_totalprice:.2f}"]
                frames.append(wrap_xlogdata(
                    encode_begin_prepare(lsn, lsn + 1, ts, xid, gid), lsn))
                frames.append(wrap_xlogdata(encode_insert(1, vals), lsn + 1))
                frames.append(wrap_xlogdata(
                    encode_prepare(lsn, lsn + 1, ts, xid, gid), lsn + 2))
                if int(row.o_custkey) % 2 == 0:
                    frames.append(wrap_xlogdata(
                        encode_commit_prepared(lsn + 3, lsn + 4, ts, xid, gid),
                        lsn + 3))
                else:
                    frames.append(wrap_xlogdata(
                        encode_rollback_prepared(lsn + 3, lsn + 4, ts, ts,
                                                 xid, gid), lsn + 3))
                n += 1
        if n:  # empty partitions write no file
            write_frame_file(
                _os.path.join(cap_dir, f"{_uuid.uuid4().hex}.pgout"), frames)
        yield pd.DataFrame({"n": [n]})

    encoded = base.mapInPandas(encode, "n long").agg(F.sum("n")).collect()
    assert encoded[0][0] is not None  # files durably written before read
    register(spark)
    env = (
        spark.read.format("postgres_cdc")
        .option("capture_dir", cap_dir)
        .load()
        .filter("op = 'INSERT'")
    )
    return (
        env.select(
            F.col("after.o_orderstatus").alias("o_orderstatus"),
            F.element_at("after", "o_totalprice").cast("double").alias("price"),
            "txid",
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.round(F.col("price") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
            F.countDistinct("txid").cast("long").alias("n_txids"),
        )
        .orderBy("o_orderstatus")
    )
