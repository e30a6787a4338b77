"""Streaming queries — real Structured Streaming runs (file source →
watermarked ops → memory/foreachBatch sink, Trigger.availableNow), with
batch-SQL oracles: on a finite input the streaming result must equal
the batch result, so these stay fully hash-checkable.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postrack_spark.cdc import orders_changes, typed_column
from postrack_spark.queries.registry import query
from postrack_spark.streaming import (
    envelope_stream,
    events_stream,
    foreach_batch_apply_changes,
    hourly_window_counts,
    read_view,
    run_to_memory,
    session_window_stats,
    stream_dedup,
    stream_static_join,
    stream_stream_interval_join,
)


def _qname(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


@query(
    "streaming_hourly_windows",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def streaming_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows over a real stream; equals the
    batch rollup on finite input (complete mode emits all windows,
    including those still open at end-of-input)."""
    ev = events_stream(spark, sf_dir)
    agg = hourly_window_counts(ev)
    out = run_to_memory(agg, _qname("hourly"), output_mode="complete")
    return out.orderBy("hour", "event_type")


@query(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) on a real stream ≡ the batch
    lag+cumsum sessionization (same gap semantics: a session extends
    while consecutive events are <= 30 min apart)."""
    ev = events_stream(spark, sf_dir)
    sess = session_window_stats(ev, gap="30 minutes")
    out = run_to_memory(sess, _qname("sessions"), output_mode="complete")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_ids
    FROM events
    """,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark over a stream that delivers every
    event twice (two file-source passes) — output must equal the
    distinct id count."""
    from postrack_spark.session import load_tables

    ev_batch = load_tables(spark, sf_dir)["events"]
    doubled = ev_batch.unionByName(ev_batch)
    stream = envelope_stream(spark, doubled, name="dedup")
    deduped = stream_dedup(stream, ["event_id"], watermark="1 hour")
    out = run_to_memory(deduped.select("event_id"), _qname("dedup"), output_mode="append")
    return out.agg(
        F.count("*").alias("n_rows"), F.countDistinct("event_id").alias("n_ids")
    )


@query(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful op (applyInPandasWithState): per-user running
    totals in explicit group state; the final emission per key must
    equal the batch aggregate."""
    from postrack_spark.streaming.stateful import running_user_totals

    ev = events_stream(spark, sf_dir)
    totals = running_user_totals(ev)
    out = run_to_memory(totals, _qname("stateful"), output_mode="update")
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_topk_per_type",
    oracle="""
    WITH ranked AS (
      SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rn
      FROM events
    )
    SELECT event_type, round(sum(value), 2) AS topk_sum,
           count(*) AS k
    FROM ranked WHERE rn <= 3
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k in bounded state (k pairs per key, ever): the
    final emission per event_type must equal the batch window-rank
    top-3."""
    from postrack_spark.streaming.stateful import streaming_topk_events

    ev = events_stream(spark, sf_dir)
    topk = streaming_topk_events(ev, k=3)
    out = run_to_memory(topk, _qname("topk"), output_mode="update")
    final = out.groupBy("event_type").agg(
        F.max_by("topk_sum", "n_seen").alias("topk_sum"),
        F.size(F.max_by("topk_ids", "n_seen")).cast("bigint").alias("k"),
    )
    return final.orderBy("event_type")


@query(
    "streaming_static_join_segments",
    oracle="""
    SELECT c_mktsegment AS segment,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY segment
    """,
)
def streaming_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension (events stream × customer table,
    broadcast by Catalyst) then streamed aggregation — equals the batch
    join on finite input."""
    from postrack_spark.session import load_tables

    ev = events_stream(spark, sf_dir)
    cust = load_tables(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
    joined = stream_static_join(ev, cust, ev.user_id == cust.c_custkey)
    out = run_to_memory(
        joined.select("c_mktsegment", "value"), _qname("ssj"), output_mode="append"
    )
    return (
        out.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("segment")
    )


@query(
    "streaming_stream_stream_join",
    oracle="""
    SELECT count(*) AS n_pairs,
           count(DISTINCT v.user_id) AS n_users,
           round(sum(p.value), 2) AS purchase_value
    FROM events v JOIN events p ON v.user_id = p.user_id
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
      AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ stream: purchases within 1 h of a view by the same
    user. Watermarks on both sides + the interval condition bound the
    buffered state; append-mode inner join equals the batch self-join."""
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    )
    joined = stream_stream_interval_join(
        views, purchases, key="user_id", left_ts="v_ts", right_ts="p_ts", interval="1 hour"
    )
    out = run_to_memory(
        joined.select("user_id", "p_value"), _qname("ssjoin"), output_mode="append"
    )
    return out.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("p_value"), 2).alias("purchase_value"),
    )


@query(
    "streaming_cdc_apply",
    oracle="""
    WITH changes AS (
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
    ),
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
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CDC pipeline: envelope stream -> foreachBatch
    compact-then-merge -> materialized parquet table. The streaming
    twin of cdc_latest_per_key_materialize — MUST produce the exact
    same final state (the driver hash-checks it does)."""
    changes = orders_changes(spark, sf_dir)
    stream = envelope_stream(spark, changes, name="cdc_apply")
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    target, q = foreach_batch_apply_changes(stream, key, key_name="o_orderkey")
    q.awaitTermination()
    final = read_view(spark, target)
    return final.select(
        "o_orderkey",
        typed_column("after", "o_orderstatus", "string").alias("o_orderstatus"),
        F.round(typed_column("after", "o_totalprice", "double"), 2).alias("o_totalprice"),
    ).orderBy("o_orderkey")


@query(
    "streaming_sliding_windows",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts) - g.k * INTERVAL '1 hour',
                    '%Y-%m-%d %H:00') AS win_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events, unnest(generate_series(0, 1)) g(k)
    GROUP BY 1, 2
    ORDER BY win_start, event_type
    """,
)
def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 2-hour/1-hour sliding windows on a real stream —
    each event counted in both overlapping windows; equals the batch
    sliding rollup (events_sliding_window_rollup) on finite input."""
    from postrack_spark.streaming.ops import sliding_window_counts

    ev = events_stream(spark, sf_dir)
    agg = sliding_window_counts(ev)
    out = run_to_memory(agg, _qname("sliding"), output_mode="complete")
    return out.orderBy("win_start", "event_type")


@query(
    "streaming_incremental_agg",
    oracle="""
    WITH changes AS (
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
    ),
    hist AS (
      SELECT *, lag(status) OVER w AS p_status, lag(price) OVER w AS p_price
      FROM changes WINDOW w AS (PARTITION BY okey ORDER BY lsn)
    ),
    deltas AS (
      SELECT status AS s,  1 AS sign, price AS p FROM hist WHERE op = 'INSERT'
      UNION ALL SELECT status,    1, price   FROM hist WHERE op = 'UPDATE'
      UNION ALL SELECT p_status, -1, p_price FROM hist WHERE op = 'UPDATE'
      UNION ALL SELECT p_status, -1, p_price FROM hist WHERE op = 'DELETE'
    )
    SELECT s AS o_orderstatus,
           CAST(sum(sign) AS BIGINT) AS n_rows,
           round(sum(sign * CAST(round(p * 100) AS BIGINT)) / 100.0, 2) AS total_price
    FROM deltas GROUP BY s
    HAVING sum(sign) > 0
    ORDER BY o_orderstatus
    """,
)
def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVM: the per-status (count, sum) view maintained across
    REAL micro-batches (maxFilesPerTrigger=4 forces multi-batch
    admission) — must equal the batch IVM and the recomputed aggregate.
    Before-image repair runs PRE-STREAM (capture-side, where order is
    known); from there the signed-delta fold is a commutative monoid,
    so arbitrary batch splits — including splits that separate a key's
    INSERT from its UPDATE — converge to the same view."""
    from postrack_spark.cdc.ivm import recover_before
    from postrack_spark.streaming import foreach_batch_incremental_agg

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    stream = envelope_stream(
        spark, repaired, name="ivm", options={"maxFilesPerTrigger": "4"}
    )
    target, q = foreach_batch_incremental_agg(
        stream,
        dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
        measures={
            "cents": F.round(
                F.element_at(F.col("img"), "o_totalprice").cast("double") * 100
            ).cast("long")
        },
    )
    q.awaitTermination()
    view = read_view(spark, target).filter(F.col("n_rows") > 0)
    return view.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
    ).orderBy("o_orderstatus")


@query(
    "streaming_join_view_maintenance",
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
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(o_cents) AS BIGINT) AS sum_price_cents
    FROM o_final JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def streaming_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming join-view IVM: the per-priority view over
    orders ⋈ lineitem maintained across REAL micro-batches of the
    orders change stream (maxFilesPerTrigger=4) joined against the
    static lineitem side — per batch the view delta is exactly
    ΔA ⋈ B (broadcast delta, O(groups) shuffle), folded into the
    versioned view. With full before-images the fold is a commutative
    monoid, so any admission split converges to the batch answer:
    the direct join-aggregate of the final orders state (the oracle).
    Before-image repair runs pre-stream (capture-side), as in
    streaming_incremental_agg."""
    from postrack_spark.cdc.ivm import recover_before
    from postrack_spark.session import load_tables
    from postrack_spark.streaming import foreach_batch_incremental_join_agg

    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    stream = envelope_stream(
        spark, repaired, name="ivmjoin", options={"maxFilesPerTrigger": "4"}
    )
    img = lambda c: F.element_at(F.col("img"), c)  # noqa: E731
    b0 = load_tables(spark, sf_dir)["lineitem"].select(
        F.lit(1).alias("sign"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.round(F.col("l_quantity")).cast("long").alias("l_qty"),
    )
    target, q = foreach_batch_incremental_join_agg(
        stream,
        stream_cols={
            "o_orderkey": img("o_orderkey").cast("long"),
            "o_orderpriority": img("o_orderpriority"),
            "o_cents": F.round(img("o_totalprice").cast("double") * 100).cast("long"),
        },
        static_signed=b0,
        on=[("o_orderkey", "l_orderkey")],
        dims={"o_orderpriority": F.col("o_orderpriority")},
        measures={"sum_qty": F.col("l_qty"), "sum_price_cents": F.col("o_cents")},
    )
    q.awaitTermination()
    view = read_view(spark, target).filter(F.col("n_rows") > 0)
    return view.select(
        "o_orderpriority", "n_rows", "sum_qty", "sum_price_cents"
    ).orderBy("o_orderpriority")


@query(
    "streaming_log_structured_view",
    oracle="""
    WITH changes AS (
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
    ),
    hist AS (
      SELECT *, lag(status) OVER w AS p_status, lag(price) OVER w AS p_price
      FROM changes WINDOW w AS (PARTITION BY okey ORDER BY lsn)
    ),
    deltas AS (
      SELECT status AS s,  1 AS sign, price AS p FROM hist WHERE op = 'INSERT'
      UNION ALL SELECT status,    1, price   FROM hist WHERE op = 'UPDATE'
      UNION ALL SELECT p_status, -1, p_price FROM hist WHERE op = 'UPDATE'
      UNION ALL SELECT p_status, -1, p_price FROM hist WHERE op = 'DELETE'
    )
    SELECT s AS o_orderstatus,
           CAST(sum(sign) AS BIGINT) AS n_rows,
           round(sum(sign * CAST(round(p * 100) AS BIGINT)) / 100.0, 2) AS total_price
    FROM deltas GROUP BY s
    HAVING sum(sign) > 0
    ORDER BY o_orderstatus
    """,
)
def streaming_log_structured_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-status IVM view maintained through the LOG-STRUCTURED
    sink: each micro-batch persists only its O(batch groups) partial
    aggregate; compaction (forced mid-run here via compact_every=3,
    plus an explicit final compact) folds partials into a fresh base —
    the LSM/Delta-log pattern that keeps per-batch cost independent of
    view size. Must equal the rewrite-sink view (streaming_incremental
    _agg's oracle, identical)."""
    from postrack_spark.cdc.ivm import recover_before
    from postrack_spark.streaming import (
        compact_log_view,
        foreach_batch_incremental_agg_log,
        read_log_view,
    )

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    stream = envelope_stream(
        spark, repaired, name="ivmlog", options={"maxFilesPerTrigger": "4"}
    )
    target, q = foreach_batch_incremental_agg_log(
        stream,
        dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
        measures={
            "cents": F.round(
                F.element_at(F.col("img"), "o_totalprice").cast("double") * 100
            ).cast("long")
        },
        compact_every=3,
    )
    q.awaitTermination()
    compact_log_view(spark, target)  # final fold: reader sees one base
    view = read_log_view(spark, target).filter(F.col("n_rows") > 0)
    return view.select(
        "o_orderstatus",
        "n_rows",
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
    ).orderBy("o_orderstatus")


@query(
    "streaming_cascaded_view_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CASE WHEN o_orderkey % 10 IN (1, 2, 3)
                          THEN CAST(round(o_totalprice * 2 * 100) AS BIGINT)
                          WHEN o_orderkey % 10 = 4
                          THEN CAST(round((o_totalprice + 10) * 100) AS BIGINT)
                          ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                     END) / 100.0, 2) AS total_price
    FROM orders WHERE o_orderkey % 10 <> 5
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def streaming_cascaded_view_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading IVM (view-of-a-view): V1 = per-(status, priority)
    aggregate maintained from the change stream through the
    log-structured sink, which publishes each batch's signed partial
    to a CHANGE FEED; V2 = per-priority rollup maintained by folding
    that feed as its own file stream — V2 never reads the raw change
    stream. Upstream UPDATE/DELETE corrections flow through as signed
    partials, so the cascade converges to the direct aggregate of the
    final table state (the oracle) under any batching on either level
    — the Materialize/DBSP dataflow-composition shape, on plain
    parquet + Structured Streaming."""
    import tempfile as _tf

    from postrack_spark.cdc.ivm import recover_before
    from postrack_spark.streaming import (
        foreach_batch_fold,
        foreach_batch_incremental_agg_log,
    )

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    stream = envelope_stream(
        spark, repaired, name="cascade", options={"maxFilesPerTrigger": "4"}
    )
    feed = _tf.mkdtemp(prefix="view_feed_")
    _, q1 = foreach_batch_incremental_agg_log(
        stream,
        dims={
            "o_orderstatus": F.element_at(F.col("img"), "o_orderstatus"),
            "o_orderpriority": F.element_at(F.col("img"), "o_orderpriority"),
        },
        measures={
            "cents": F.round(
                F.element_at(F.col("img"), "o_totalprice").cast("double") * 100
            ).cast("long")
        },
        feed_dir=feed,
    )
    q1.awaitTermination()

    feed_stream = (
        spark.readStream.schema(
            "o_orderstatus string, o_orderpriority string, n_rows bigint, cents bigint"
        )
        .option("maxFilesPerTrigger", "2")
        .parquet(feed)
    )
    v2_target, q2 = foreach_batch_fold(
        feed_stream, group_cols=["o_orderpriority"], sum_cols=["n_rows", "cents"]
    )
    q2.awaitTermination()
    view = read_view(spark, v2_target).filter(F.col("n_rows") > 0)
    return view.select(
        "o_orderpriority",
        "n_rows",
        F.round(F.col("cents") / 100.0, 2).alias("total_price"),
    ).orderBy("o_orderpriority")


def _dedup_index_oracle() -> str:
    """Uncapped batch MinHash+LSH as SQL: the streaming index applies
    degenerate-bucket caps at compaction epochs, not per batch, so its
    steady-state pair set equals the UNCAPPED banding (the batch
    query's oracle minus the bucket-size filter)."""
    from postrack_spark.queries.dedup_queries import (
        _BANDS_SQL,
        _SHINGLES_CTE,
        _SIG_CTE,
    )

    return f"""
    WITH {_SHINGLES_CTE},
    {_SIG_CTE},
    buckets AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
    ),
    sizes AS (SELECT doc, count(*) AS n_tok FROM shingles GROUP BY doc),
    inter AS (
      SELECT t1.doc AS doc_a, t2.doc AS doc_b, count(*) AS inter
      FROM shingles t1 JOIN shingles t2 ON t1.tok = t2.tok AND t1.doc < t2.doc
      JOIN cand c ON c.doc_a = t1.doc AND c.doc_b = t2.doc
      GROUP BY t1.doc, t2.doc
    )
    SELECT i.doc_a, i.doc_b,
           round(inter * 1.0 / (sa.n_tok + sb.n_tok - inter), 6) AS jaccard
    FROM inter i JOIN sizes sa ON sa.doc = i.doc_a
                 JOIN sizes sb ON sb.doc = i.doc_b
    WHERE round(inter * 1.0 / (sa.n_tok + sb.n_tok - inter), 6) >= 0.5
    ORDER BY doc_a, doc_b
    """


@query("streaming_dedup_index", oracle=_dedup_index_oracle())
def streaming_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection: documents arrive in micro-batches
    and a MinHash+LSH index is maintained incrementally — each batch
    probes the accumulated index by band bucket (new side broadcast),
    verifies candidates with exact shingle-set Jaccard, and emits each
    surviving pair exactly once, when its second member arrives. The
    union of all emitted pairs must equal the one-shot batch LSH over
    the full corpus (arrival order never matters: candidate membership
    old-vs-new partitions each pair uniquely). The training-pipeline
    shape: dedup a growing corpus without ever re-scanning it."""
    from postrack_spark.session import load_tables
    from postrack_spark.streaming import foreach_batch_dedup_index, read_dedup_pairs

    docs = load_tables(spark, sf_dir)["documents"].repartition(8)
    stream = envelope_stream(
        spark, docs, name="dedupidx", options={"maxFilesPerTrigger": "2"}
    )
    target, q = foreach_batch_dedup_index(stream)
    q.awaitTermination()
    return (
        read_dedup_pairs(spark, target)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _ann_index_oracle() -> str:
    from postrack_spark.queries.vector_queries import _LSH_BITS_SQL

    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, {_LSH_BITS_SQL} AS bk
      FROM embeddings
    ),
    sims AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS sim
      FROM e a JOIN e b USING (bk) WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, round(sim, 4) AS cos_sim
    FROM sims WHERE sim >= 0.35
    ORDER BY id_a, id_b
    """


@query("streaming_ann_index", oracle=_ann_index_oracle())
def streaming_ann_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming similarity index: embeddings arrive in micro-batches;
    a sign-LSH bucket index accumulates and each batch probes only its
    matching buckets (batch side broadcast), emitting cosine-similar
    pairs (>= 0.35) exactly once, when the second vector arrives. The
    union of emitted pairs equals the one-shot bucketed similarity
    join over the full corpus — the vector twin of
    streaming_dedup_index (embedding near-dup over a growing corpus
    without re-scanning it)."""
    from postrack_spark.functions.vector import as_double_array
    from postrack_spark.session import load_tables
    from postrack_spark.streaming import foreach_batch_ann_index, read_dedup_pairs

    emb = (
        load_tables(spark, sf_dir)["embeddings"]
        .select("vec_id", as_double_array("embedding").alias("vec"))
        .repartition(8)
    )
    stream = envelope_stream(
        spark, emb, name="annidx", options={"maxFilesPerTrigger": "2"}
    )
    target, q = foreach_batch_ann_index(stream)
    q.awaitTermination()
    return (
        read_dedup_pairs(spark, target)
        .select("id_a", "id_b", "cos_sim")
        .orderBy("id_a", "id_b")
    )


def _clusters_oracle() -> str:
    # identical closure to the batch clusters oracle (registered by the
    # dedup module import above in registry.load_all order; import it
    # directly here so decoration order doesn't matter)
    import postrack_spark.queries.dedup_queries  # noqa: F401
    from postrack_spark.queries.registry import QUERIES

    return QUERIES["dedup_duplicate_clusters"].oracle


@query("streaming_dedup_clusters", oracle=_clusters_oracle())
def streaming_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicate clusters: near-dup edges arrive in
    micro-batches and the transitive closure (doc -> min-member
    cluster label) is maintained by recomputing only AFFECTED
    components per batch — cross-batch merges included (an edge
    linking two existing clusters relabels both). The maintained
    labels must equal the one-shot connected components over all
    edges (the batch query's recursive-CTE oracle, verbatim). The
    last stage of streaming dedup: index emits pairs, this keeps the
    'one representative per duplicate group' mapping current."""
    from postrack_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from postrack_spark.session import fan_out, load_tables
    from postrack_spark.streaming import foreach_batch_cluster_maintenance

    t = load_tables(spark, sf_dir)
    docs = fan_out(t["documents"])
    shingles = doc_shingles(docs, "doc_id", "text", k=3)
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=16, tokens_df=shingles)
    cand = lsh_candidate_pairs(sigs, n_hashes=16, band_size=2, max_bucket_size=100)
    pairs = jaccard_pairs(shingles, pairs=cand, threshold=0.5).select("doc_a", "doc_b")

    stream = envelope_stream(
        spark,
        pairs.repartition(6),
        name="ccmaint",
        options={"maxFilesPerTrigger": "2"},
    )
    target, q = foreach_batch_cluster_maintenance(stream)
    q.awaitTermination()
    labels = read_view(spark, target)
    return (
        labels.groupBy("cluster")
        .agg(F.count("*").alias("n_docs"), F.max("doc").cast("bigint").alias("max_doc"))
        .orderBy("cluster")
    )


def _pipeline_clusters_oracle() -> str:
    # clusters over the UNCAPPED LSH pair graph (the streaming index's
    # steady-state pair set), closed with the recursive CTE
    from postrack_spark.queries.dedup_queries import (
        _BANDS_SQL,
        _SHINGLES_CTE,
        _SIG_CTE,
    )

    return f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    {_SIG_CTE},
    buckets AS ({_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
    ),
    sizes AS (SELECT doc, count(*) AS n_tok FROM shingles GROUP BY doc),
    inter AS (
      SELECT t1.doc AS doc_a, t2.doc AS doc_b, count(*) AS inter
      FROM shingles t1 JOIN shingles t2 ON t1.tok = t2.tok AND t1.doc < t2.doc
      JOIN cand c ON c.doc_a = t1.doc AND c.doc_b = t2.doc
      GROUP BY t1.doc, t2.doc
    ),
    pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i JOIN sizes sa ON sa.doc = i.doc_a
                   JOIN sizes sb ON sb.doc = i.doc_b
      WHERE round(inter * 1.0 / (sa.n_tok + sb.n_tok - inter), 6) >= 0.5
    ),
    bidir AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, root) AS (
      SELECT src, src FROM bidir
      UNION
      SELECT b.dst, r.root FROM reach r JOIN bidir b ON b.src = r.doc
    ),
    labeled AS (SELECT doc, min(root) AS cluster FROM reach GROUP BY doc)
    SELECT cluster, count(*) AS n_docs, CAST(max(doc) AS BIGINT) AS max_doc
    FROM labeled
    GROUP BY cluster
    ORDER BY cluster
    """


@query("streaming_dedup_pipeline", oracle=_pipeline_clusters_oracle())
def streaming_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming dedup: documents stream into the MinHash+
    LSH pair index, whose per-batch pair FEED (deterministic idempotent
    files) drives incremental cluster maintenance as a second file
    stream — three composed stages (docs -> pairs -> clusters), no
    stage ever re-reads an earlier stage's raw input. The final labels
    must equal the one-shot closure of the uncapped LSH pair graph
    over the whole corpus (recursive-CTE oracle). This is the
    production shape of corpus dedup at 100 TB: ingest keeps the pair
    index and cluster map current; the training-set builder just reads
    the representative per cluster."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming import (
        foreach_batch_cluster_maintenance,
        foreach_batch_dedup_index,
    )

    docs = load_tables(spark, sf_dir)["documents"].repartition(8)
    stream = envelope_stream(
        spark, docs, name="dpipe", options={"maxFilesPerTrigger": "2"}
    )
    feed = _tf.mkdtemp(prefix="pair_feed_")
    _, q1 = foreach_batch_dedup_index(stream, feed_dir=feed)
    q1.awaitTermination()

    feed_stream = (
        spark.readStream.schema("doc_a long, doc_b long, jaccard double")
        .option("maxFilesPerTrigger", "2")
        .parquet(feed)
    )
    target, q2 = foreach_batch_cluster_maintenance(feed_stream)
    q2.awaitTermination()
    labels = read_view(spark, target)
    return (
        labels.groupBy("cluster")
        .agg(F.count("*").alias("n_docs"), F.max("doc").cast("bigint").alias("max_doc"))
        .orderBy("cluster")
    )


def _ordered_envelope_stream(
    spark: SparkSession, changes: DataFrame, name: str, files: int = 8,
    options: dict | None = None, order_col: str = "lsn",
) -> DataFrame:
    """envelope_stream variant with LSN-ORDERED admission: scratch
    parquet is range-partitioned on lsn (part-00000 = smallest LSNs;
    the file source lists same-mtime files in path order), so
    micro-batches arrive in WAL order — the delivery order the real
    capture contract provides (daemon writes frame files sequentially)
    and that order-sensitive consumers (SCD2 stitching) require."""
    import tempfile as _tf

    import os as _os
    import time as _time

    scratch = _tf.mkdtemp(prefix=f"cdc_ostream_{name}_")
    (
        changes.repartitionByRange(files, order_col)
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(scratch)
    )
    # The file source admits by MODIFICATION TIME, and parallel part
    # writes finish in arbitrary order — stamp strictly increasing
    # mtimes in part order (range partition i = i-th LSN range) so
    # admission follows WAL order. The capture daemon needs no such
    # fix: it writes frame files one at a time, in order.
    base_ts = _time.time()
    parts = sorted(
        f for f in _os.listdir(scratch)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    for i, f in enumerate(parts):
        ts = base_ts + i
        _os.utime(_os.path.join(scratch, f), (ts, ts))
    schema = spark.read.parquet(scratch).schema
    reader = spark.readStream.schema(schema)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.parquet(scratch)


@query(
    "streaming_scd2_history",
    oracle="""
    WITH changes AS (
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
    ),
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
def streaming_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2: the type-2 history maintained incrementally
    across LSN-ordered micro-batches — each batch appends its version
    rows and closes the stored open row of every touched key at the
    key's first in-batch LSN. Must equal the one-shot lead()-window
    SCD2 over the full stream (the batch query's oracle, verbatim).
    Order-sensitive by nature (like before-image recovery), hence the
    WAL-ordered admission the capture contract guarantees."""
    from postrack_spark.cdc import prune_images
    from postrack_spark.streaming import foreach_batch_scd2

    ch = prune_images(
        orders_changes(spark, sf_dir),
        ["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    stream = _ordered_envelope_stream(
        spark, ch, name="scd2", options={"maxFilesPerTrigger": "2"}
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    target, q = foreach_batch_scd2(
        stream,
        key_expr=key,
        value_cols={
            "o_orderstatus": typed_column("after", "o_orderstatus", "string"),
            "o_totalprice": F.round(
                typed_column("after", "o_totalprice", "double"), 2
            ),
        },
    )
    q.awaitTermination()
    hist = read_view(spark, target)
    return hist.withColumn(
        "is_current", F.col("valid_to_lsn").isNull()
    ).orderBy("o_orderkey", "valid_from_lsn")


@query(
    "streaming_join_view_log",
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
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(o_cents) AS BIGINT) AS sum_price_cents
    FROM o_final JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def streaming_join_view_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-static join view maintained through the
    LOG-STRUCTURED protocol: per batch only the O(groups) join delta
    lands on disk; compaction (compact_every=3 forces a mid-run fold,
    plus a final one) folds partials into a fresh base. Same oracle as
    streaming_join_view_maintenance — the storage protocol must not
    change the view."""
    from postrack_spark.cdc.ivm import recover_before
    from postrack_spark.session import load_tables
    from postrack_spark.streaming import (
        compact_log_view,
        foreach_batch_incremental_join_agg_log,
        read_log_view,
    )

    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderpriority", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    stream = envelope_stream(
        spark, repaired, name="ivmjl", options={"maxFilesPerTrigger": "4"}
    )
    img = lambda c: F.element_at(F.col("img"), c)  # noqa: E731
    b0 = load_tables(spark, sf_dir)["lineitem"].select(
        F.lit(1).alias("sign"),
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.round(F.col("l_quantity")).cast("long").alias("l_qty"),
    )
    target, q = foreach_batch_incremental_join_agg_log(
        stream,
        stream_cols={
            "o_orderkey": img("o_orderkey").cast("long"),
            "o_orderpriority": img("o_orderpriority"),
            "o_cents": F.round(img("o_totalprice").cast("double") * 100).cast("long"),
        },
        static_signed=b0,
        on=[("o_orderkey", "l_orderkey")],
        dims={"o_orderpriority": F.col("o_orderpriority")},
        measures={"sum_qty": F.col("l_qty"), "sum_price_cents": F.col("o_cents")},
        compact_every=3,
    )
    q.awaitTermination()
    compact_log_view(spark, target)
    view = read_log_view(spark, target).filter(F.col("n_rows") > 0)
    return view.select(
        "o_orderpriority", "n_rows", "sum_qty", "sum_price_cents"
    ).orderBy("o_orderpriority")


def _bm25_oracle() -> str:
    from postrack_spark.queries.text_queries import _BM25_ORACLE

    return _BM25_ORACLE


def _richness_oracle() -> str:
    from postrack_spark.queries.stats_queries import RICHNESS_ORACLE

    return RICHNESS_ORACLE


def _survival_oracle() -> str:
    from postrack_spark.queries.stats_queries import SURVIVAL_ORACLE

    return SURVIVAL_ORACLE


def _aging_oracle() -> str:
    from postrack_spark.queries.stats_queries import AGING_ORACLE

    return AGING_ORACLE


@query("streaming_aging_buckets", oracle=_aging_oracle())
def streaming_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming order-book aging: per-(status, order-day) counts and
    cents fold additively through the exactly-once sink (state is
    O(statuses × days), calendar-bounded), and the aging report —
    horizon, age buckets, rollup — is re-derived at READ time from the
    maintained view via the SAME aging_from_daily as the batch twin
    (shared oracle). The point the twin pins: bucket membership is a
    function of the moving horizon, so it can never be part of
    streaming state — an order's bucket changes as the clock advances
    with NO new event for that order. Only the day-partial counts are
    state; everything horizon-relative is read-time."""
    from postrack_spark.queries.stats_queries import aging_from_daily
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    orders = (
        load_tables(spark, sf_dir)["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .repartition(8)
    )
    stream = envelope_stream(
        spark, orders, name="aging", options={"maxFilesPerTrigger": "2"}
    )
    rows = stream.select(
        "o_orderstatus",
        F.expr("unix_micros(o_orderdate) div 86400000000").alias("d"),
        F.lit(1).cast("long").alias("n"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    target, q = foreach_batch_fold(
        rows, group_cols=["o_orderstatus", "d"], sum_cols=["n", "cents"]
    )
    q.awaitTermination()
    return aging_from_daily(read_view(spark, target))


def _fisher_oracle() -> str:
    from postrack_spark.queries.stats_queries import FISHER_ORACLE

    return FISHER_ORACLE


def _cms_oracle() -> str:
    from postrack_spark.queries.stats_queries import CMS_ORACLE

    return CMS_ORACLE


def _lifecycle_oracle() -> str:
    from postrack_spark.queries.stats_queries import LIFECYCLE_ORACLE

    return LIFECYCLE_ORACLE


@query("streaming_lifecycle_stages", oracle=_lifecycle_oracle())
def streaming_lifecycle_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming growth-accounting: the deduped (user, week) activity
    relation is itself the sufficient state — maintained as a fold
    view (counts fold additively; the view's KEYS are the distinct
    relation), O(batch) per batch, and the staging lag + rollup run at
    READ time via the code shared with events_lifecycle_stages_weekly
    (same oracle). The subtle point the twin pins: a week's stage can
    CHANGE retroactively as late user-weeks arrive (a 'new' user-week
    becomes 'resurrected' if an earlier week shows up late), so
    staging can never be streamed state — only the projection can,
    the aging-buckets moral in lifecycle form."""
    from postrack_spark.queries.stats_queries import lifecycle_from_user_weeks
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("event_id", "user_id", "ts")
        .repartition(8)
    )
    stream = envelope_stream(
        spark, ev, name="lifecycle", options={"maxFilesPerTrigger": "2"}
    )
    rows = stream.select(
        "user_id",
        F.expr("unix_micros(ts) div 604800000000").alias("w"),
        F.lit(1).cast("long").alias("c"),
    )
    target, q = foreach_batch_fold(rows, group_cols=["user_id", "w"], sum_cols=["c"])
    q.awaitTermination()
    uw = read_view(spark, target).select("user_id", "w")
    return lifecycle_from_user_weeks(uw)


@query("streaming_cms_maintenance", oracle=_cms_oracle())
def streaming_cms_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch maintenance: the 4×256 md5-derived
    cell grid AND the per-user exact counts (for probe selection) fold
    additively through the exactly-once sink as one long-form view —
    O(batch) per batch, cell state CONSTANT (1024 rows) no matter how
    many keys stream past, which is the entire reason CMS exists. At
    read time the SAME cms_report as agg_count_min_sketch probes the
    maintained grid for the heaviest users (shared oracle — and since
    the hash rows are md5-portable, the streamed sketch's ESTIMATES
    hash-gate bit-for-bit, not just its error contract). The live use:
    heavy-hitter telemetry over an unbounded event stream with fixed
    memory."""
    from postrack_spark.queries.stats_queries import cms_report
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select(F.col("event_id"), F.col("user_id").cast("string").alias("k"))
        .repartition(8)
    )
    stream = envelope_stream(
        spark, ev, name="cms", options={"maxFilesPerTrigger": "2"}
    )
    from postrack_spark.queries.stats_queries import cms_bucket

    rs = F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    cell_rows = (
        stream.select("k", rs)
        .select(
            F.lit("cell").alias("kind"),
            F.col("r").cast("string").alias("k1"),
            cms_bucket(F.col("r"), F.col("k")).cast("string").alias("k2"),
            F.lit(1).cast("long").alias("c"),
        )
    )
    user_rows = stream.select(
        F.lit("user").alias("kind"),
        F.col("k").alias("k1"),
        F.lit("").alias("k2"),
        F.lit(1).cast("long").alias("c"),
    )
    target, q = foreach_batch_fold(
        cell_rows.unionByName(user_rows), group_cols=["kind", "k1", "k2"], sum_cols=["c"]
    )
    q.awaitTermination()

    view = read_view(spark, target)
    cells = view.filter(F.col("kind") == "cell").select(
        F.col("k1").cast("int").alias("r"),
        F.col("k2").cast("long").alias("bucket"),
        F.col("c"),
    )
    user_counts = view.filter(F.col("kind") == "user").select(
        F.col("k1").alias("k"), F.col("c").alias("true_count")
    )
    return cms_report(cells, user_counts)


@query("streaming_fisher_separation", oracle=_fisher_oracle())
def streaming_fisher_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Fisher class-separation monitoring: the per-
    (label, dim) moment cells (n, Σx, Σx²) over milli-quantized
    embeddings are ADDITIVE, so they fold through the exactly-once
    sink at O(batch·d) per batch with O(labels·d) state — the
    streaming Gram update's argument applied to labeled second
    moments. At read time the SAME fisher_from_cells as the batch twin
    assembles within/between scatter and the ratio (shared oracle):
    the Fisher RATIO is nonlinear and could never stream, but its
    sufficient statistics do — the recurring moral of this engine's
    streaming family (BM25, richness, survival, aging all factor the
    same way). Live use: embedding-drift alarms on class overlap as a
    labeling pipeline runs."""
    from postrack_spark.queries.stats_queries import fisher_from_cells
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    emb = (
        load_tables(spark, sf_dir)["embeddings"]
        .select("vec_id", "label", "embedding")
        .repartition(8)
    )
    stream = envelope_stream(
        spark, emb, name="fisher", options={"maxFilesPerTrigger": "2"}
    )
    from postrack_spark.queries.stats_queries import QUANTIZE_MILLI_EXPR

    cells = stream.select(
        "label",
        F.posexplode(F.expr(QUANTIZE_MILLI_EXPR)).alias("dim0", "x"),
    ).select(
        F.col("label").cast("int").alias("label"),
        (F.col("dim0") + 1).alias("dim"),
        F.lit(1).cast("long").alias("n"),
        F.col("x").alias("s"),
        (F.col("x") * F.col("x")).cast("long").alias("ss"),
    )
    target, q = foreach_batch_fold(
        cells, group_cols=["label", "dim"], sum_cols=["n", "s", "ss"]
    )
    q.awaitTermination()
    return fisher_from_cells(read_view(spark, target))


@query("streaming_survival_table", oracle=_survival_oracle())
def streaming_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming survival-table maintenance: the per-user lifetime
    bounds (first-seen day, last-seen day) — the sufficient statistics
    for the censoring-aware life table — are maintained incrementally
    through foreach_batch_merge_fold (min/max are mergeable, not
    additive: the OHLC monoid argument), O(batch) + O(users) per
    micro-batch, never re-reading event history. At read time the SAME
    life_table_from_spans pipeline as the batch
    events_user_survival_table runs over the maintained bounds view,
    so the streaming state must reproduce risk sets, churn counts,
    censoring, and the Nelson-Aalen hazard bit-for-bit (shared
    oracle). The ops use: a churn dashboard whose risk sets stay
    current as events arrive — note censoring is re-derived at READ
    time from the current corpus horizon, exactly as the batch
    definition requires (a user censored yesterday can churn today;
    only the bounds are state, never the classification)."""
    from postrack_spark.queries.stats_queries import life_table_from_spans
    from postrack_spark.session import load_tables
    from postrack_spark.streaming import foreach_batch_merge_fold

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("user_id", F.expr("unix_micros(ts) div 86400000000").alias("d"))
        .repartition(8)
    )
    stream = envelope_stream(
        spark, ev, name="survival", options={"maxFilesPerTrigger": "2"}
    )
    rows = stream.select(
        "user_id",
        F.col("d").alias("first_d"),
        F.col("d").alias("last_d"),
    )

    def reagg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.min("first_d").alias("first_d"), F.max("last_d").alias("last_d")
        )

    target, q = foreach_batch_merge_fold(rows, group_cols=["user_id"], reagg=reagg)
    q.awaitTermination()
    return life_table_from_spans(read_view(spark, target))


@query("streaming_vocabulary_richness", oracle=_richness_oracle())
def streaming_vocabulary_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vocabulary-richness maintenance: documents arrive in
    micro-batches and the per-source term-frequency relation
    (source, w, f) — the sufficient statistics for hapax counts,
    type-token ratio, and Yule's K — is folded incrementally through
    the versioned exactly-once fold sink, O(batch tokens) per batch,
    never re-scanning old documents. At read time the SAME
    richness_from_freq aggregation as the batch
    text_vocabulary_richness runs over the maintained view, so the
    streaming index must reproduce the batch statistics bit-for-bit
    (shared oracle). The curation use: hapax share and K drift as a
    corpus grows are the live data-quality signals; maintaining Σf and
    Σf² ingredients additively is what makes them streamable — Yule's
    K itself is NOT additive, its term-frequency relation is. Scale:
    state is O(sources × vocabulary); the fold is a commutative
    monoid, so admission batching is free to vary."""
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    docs = load_tables(spark, sf_dir)["documents"].repartition(8)
    stream = envelope_stream(
        spark, docs, name="vocab_rich", options={"maxFilesPerTrigger": "2"}
    )
    from postrack_spark.functions.text import tokens

    freq_rows = stream.select(
        "source",
        F.explode(tokens(F.col("text"))).alias("w"),
        F.lit(1).cast("long").alias("f"),
    )
    target, q = foreach_batch_fold(
        freq_rows, group_cols=["source", "w"], sum_cols=["f"]
    )
    q.awaitTermination()

    from postrack_spark.queries.stats_queries import richness_from_freq

    view = read_view(spark, target).filter(F.col("f") > 0)
    return richness_from_freq(view)


@query("streaming_bm25_index", oracle=_bm25_oracle())
def streaming_bm25_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming BM25 index maintenance: documents arrive in
    micro-batches and the sparse-retrieval index — term frequencies for
    the query vocabulary, per-document lengths, corpus totals — is
    maintained INCREMENTALLY as one long-form folded view ('tf' rows
    keyed (doc, term), 'doc' rows carrying each document's length),
    O(batch) work per batch through the versioned exactly-once fold
    sink. At read time the SAME scorer as the batch text_bm25_search
    runs against the maintained state: document frequencies are a
    grouped count OF THE INDEX (each (doc,term) is one stored row) and
    corpus stats a 1-row fold of the 'doc' rows — so the streaming
    index must reproduce the batch ranking bit-for-bit, which the
    shared oracle checks. The training-pipeline shape: keep a
    retrieval/decontamination index current while the corpus grows,
    never re-scanning old documents. Scale: stored state is
    O(docs x |query vocab| + docs) rows; per-batch shuffle O(batch
    tokens in vocab); commutative fold => admission order free."""
    from postrack_spark.queries.text_queries import _BM25_ALL, bm25_topk
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    docs = load_tables(spark, sf_dir)["documents"].repartition(8)
    stream = envelope_stream(
        spark, docs, name="bm25idx", options={"maxFilesPerTrigger": "2"}
    )
    tok_rows = stream.select(
        F.lit("tf").alias("kind"),
        F.col("doc_id").cast("string").alias("k1"),
        F.explode(F.split(F.col("text"), " ")).alias("k2"),
        F.lit(1).cast("long").alias("a"),
        F.lit(0).cast("long").alias("b"),
    ).filter(F.col("k2").isin(_BM25_ALL))
    doc_rows = stream.select(
        F.lit("doc").alias("kind"),
        F.col("doc_id").cast("string").alias("k1"),
        F.lit("").alias("k2"),
        F.lit(1).cast("long").alias("a"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("b"),
    )
    target, q = foreach_batch_fold(
        tok_rows.unionByName(doc_rows), group_cols=["kind", "k1", "k2"], sum_cols=["a", "b"]
    )
    q.awaitTermination()

    view = read_view(spark, target)
    doclen = view.filter(F.col("kind") == "doc").select(
        F.col("k1").cast("long").alias("doc_id"), F.col("b").alias("dl")
    )
    tf = (
        view.filter(F.col("kind") == "tf")
        .select(F.col("k1").cast("long").alias("doc_id"), F.col("k2").alias("term"),
                F.col("a").alias("tf"))
        .join(doclen, "doc_id")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("dfreq"))
    stats = doclen.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_tokens"),
    )
    return bm25_topk(spark, tf, dfreq, stats)


@query(
    "streaming_distinct_minmax_view",
    oracle="""
    WITH changes AS (
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
    ),
    last AS (
      SELECT okey, max_by(op, lsn) AS op, max_by(status, lsn) AS status,
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
def streaming_distinct_minmax_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of cdc_distinct_minmax_view: the MULTIPLICITY
    inner view — per (status, cents) live counts — is maintained across
    real micro-batches by the exactly-once incremental-agg sink
    (O(batch) per batch; zero-count groups kept in the stored partials
    because a negative partial may precede its positive under
    arbitrary admission splits, readers filter n_rows > 0), and the
    non-distributive outer aggregate (COUNT DISTINCT / MIN / MAX) is
    computed over the maintained state at read time. Deletes arriving
    in a LATER batch than the insert they cancel still converge — the
    commutative fold doesn't care where the batch boundary fell."""
    from postrack_spark.cdc.ivm import recover_before
    from postrack_spark.streaming import foreach_batch_incremental_agg

    ch = orders_changes(
        spark, sf_dir, columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    )
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    repaired = recover_before(ch, key)
    stream = envelope_stream(
        spark, repaired, name="dminmax", options={"maxFilesPerTrigger": "4"}
    )
    target, q = foreach_batch_incremental_agg(
        stream,
        dims={
            "o_orderstatus": F.element_at(F.col("img"), "o_orderstatus"),
            "cents": F.round(
                F.element_at(F.col("img"), "o_totalprice").cast("double") * 100
            ).cast("long"),
        },
        measures={},
    )
    q.awaitTermination()
    mult = read_view(spark, target).filter(F.col("n_rows") > 0)
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


def _gram_oracle() -> str:
    from postrack_spark.queries.vector_queries import vector_gram_matrix  # noqa: F401
    from postrack_spark.queries.registry import QUERIES

    return QUERIES["vector_gram_matrix"].oracle


@query("streaming_gram_update", oracle=_gram_oracle())
def streaming_gram_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Gram-matrix maintenance over an embedding STREAM:
    each micro-batch reduces to its own d x d int64 partial (the same
    one-pass mapInPandas reduction as vector_gram_matrix) and the
    partials fold additively into the maintained view through the
    exactly-once versioned sink — X'X is a commutative monoid over row
    blocks, so ANY admission split converges to the batch Gram, which
    the SHARED oracle checks bit-for-bit. This is the streaming-PCA /
    online-covariance shape: the model state a 100 TB pipeline keeps
    current without re-scanning the corpus; downstream power iteration
    reads the maintained d x d view. Per batch: O(batch) scan work +
    O(d^2) fold — state never grows with the stream."""
    import numpy as np
    import pandas as pd

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.sinks import foreach_batch_fold

    emb = load_tables(spark, sf_dir)["embeddings"].select("embedding").repartition(8)
    stream = envelope_stream(
        spark, emb, name="gramupd", options={"maxFilesPerTrigger": "2"}
    )

    def gram_partials(batches):
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * 1000000.0).astype(np.int64)
            g = q.T @ q
            acc = g if acc is None else acc + g
        if acc is not None:
            iu, ju = np.triu_indices(acc.shape[0])
            yield pd.DataFrame(
                {"i": (iu + 1).astype("int32"), "j": (ju + 1).astype("int32"),
                 "gram": acc[iu, ju]}
            )

    partials = stream.mapInPandas(gram_partials, "i int, j int, gram long")
    target, q = foreach_batch_fold(partials, group_cols=["i", "j"], sum_cols=["gram"])
    q.awaitTermination()
    return (
        read_view(spark, target)
        .select("i", "j", F.col("gram").cast("long").alias("gram"))
        .orderBy("i", "j")
    )


@query(
    "streaming_stream_stream_left_join",
    oracle="""
    WITH mx AS (SELECT max(ts) AS mts FROM events),
    v AS (SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT v.user_id, v.v_ts, p.p_ts, p.value
      FROM v LEFT JOIN p
        ON v.user_id = p.user_id
       AND p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 1 HOUR
    )
    SELECT CAST(count(p_ts) AS BIGINT) AS n_matched,
           CAST(count(*) FILTER (p_ts IS NULL
                                 AND v_ts + INTERVAL 2 HOUR < (SELECT mts FROM mx))
                AS BIGINT) AS n_unmatched_emitted,
           CAST(sum(CASE WHEN p_ts IS NOT NULL
                         THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS matched_cents
    FROM j
    """,
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream ⋈ stream — the join shape with the subtle
    state-eviction semantics: matched pairs emit immediately, but a
    view with NO purchase inside its 1 h window can only emit its null
    row once the watermark proves no match can still arrive, i.e. when
    watermark (= max event time - 1 h delay) passes v_ts + 1 h. The
    oracle REPLICATES that emission rule (v_ts + 2 h < max ts) rather
    than pretending the streaming result equals a plain batch left
    join — views too close to end-of-input stay buffered, and on a
    finite run their nulls are legitimately absent. Scale: watermarks
    on both sides + the interval condition bound state exactly as in
    the inner-join case; the outer side adds only the evicted-row
    emission."""
    views = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    )
    lw = views.withWatermark("v_ts", "1 hour")
    rw = purchases.withWatermark("p_ts", "1 hour")
    cond = (
        (lw["user_id"] == rw["user_id"])
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("interval 1 hour"))
    )
    joined = lw.join(rw, cond, "leftOuter").drop(rw["user_id"])
    out = run_to_memory(
        joined.select("user_id", "v_ts", "p_ts", "p_value"),
        _qname("ssleft"),
        output_mode="append",
    )
    return out.agg(
        F.count("p_ts").cast("long").alias("n_matched"),
        F.sum(F.when(F.col("p_ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unmatched_emitted"),
        F.sum(
            F.when(
                F.col("p_ts").isNotNull(),
                F.floor(F.col("p_value") * 100).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("matched_cents"),
    )


@query(
    "streaming_throttle_rate_limit",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    b AS (SELECT *, us // 5000000 AS bucket FROM e),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, bucket
                                   ORDER BY us, event_id) AS rn
      FROM b
    )
    SELECT CAST(user_id % 10 AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_emitted,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM r WHERE rn = 1
    GROUP BY band
    ORDER BY band
    """,
)
def streaming_throttle_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-user rate limiting over a REAL multi-batch stream:
    at most one event per user per 5-second epoch bucket, emitted the
    moment it arrives (streaming/stateful.py streaming_throttle_per_key
    — O(1) state per key: the last emitted bucket). First-arrival
    semantics are order-sensitive, so the harness replays the events
    with sequence-ordered admission (the same WAL-order contract the
    SCD2 consumer requires; ties inside a microsecond broken by
    event_id, encoded into one total-order column). The oracle is the
    event-time formulation: the (ts, event_id)-first event of every
    (user, bucket) — equal to first-arrival exactly because admission
    follows that order."""
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.stateful import streaming_throttle_per_key

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        # one int64 total-order key: (epoch micros - epoch-2020) * 2^15
        # + event_id mod 2^15 — headroom to ~year 2100
        (
            (F.expr("unix_micros(ts)") - F.lit(1_577_836_800_000_000)) * 32768
            + F.col("event_id") % 32768
        ).alias("lsn"),
        F.expr("unix_micros(ts) div 5000000").alias("bucket"),
    )
    stream = _ordered_envelope_stream(
        spark, ev, name="throttle", options={"maxFilesPerTrigger": "2"}
    )
    emitted = streaming_throttle_per_key(stream)
    out = run_to_memory(emitted, _qname("throttle"), output_mode="append")
    return (
        out.groupBy((F.col("user_id") % 10).cast("long").alias("band"))
        .agg(
            F.count("*").cast("long").alias("n_emitted"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .orderBy("band")
    )


from postrack_spark.queries.events_queries import _OHLC_ORACLE  # noqa: E402


@query("streaming_ohlc_candles", oracle=_OHLC_ORACLE)
def streaming_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained OHLC candles — the streaming twin of
    events_ohlc_daily, gated by the SAME oracle (registered below).
    Open/close are argmin/argmax aggregates: NOT invertible, but
    MERGEABLE once each partial carries its pick's order key, so the
    view folds through foreach_batch_merge_fold's monoid protocol
    (min_by over partials == global argmin; the same lift that makes
    map-side combine legal for min_by in batch). Each micro-batch does
    O(batch) scan work + O(view groups) merge — group count is days x
    types, calendar-bounded, so the maintained view never grows with
    the stream and no raw history is re-read. Admission order cannot
    matter (commutative monoid), which the multi-batch run exercises
    and the shared batch oracle checks bit-for-bit."""
    from postrack_spark.session import load_tables
    from postrack_spark.streaming import foreach_batch_merge_fold

    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("event_id", "ts", "event_type", "value")
        .repartition(8)
    )
    stream = envelope_stream(
        spark, ev, name="ohlc", options={"maxFilesPerTrigger": "2"}
    )
    ok = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    rows = stream.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("value").alias("open"),
        ok.alias("open_ok"),
        F.col("value").alias("high"),
        F.col("value").alias("low"),
        F.col("value").alias("close"),
        ok.alias("close_ok"),
        F.lit(1).cast("long").alias("n"),
        F.floor(F.col("value") * 1000).cast("long").alias("vol_milli"),
    )

    def reagg(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.min_by("open", "open_ok").alias("open"),
            F.min("open_ok").alias("open_ok"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "close_ok").alias("close"),
            F.max("close_ok").alias("close_ok"),
            F.sum("n").cast("long").alias("n"),
            F.sum("vol_milli").cast("long").alias("vol_milli"),
        )

    target, q = foreach_batch_merge_fold(rows, ["day", "event_type"], reagg)
    q.awaitTermination()
    return (
        read_view(spark, target)
        .select("day", "event_type", "open", "high", "low", "close", "n", "vol_milli")
        .orderBy("day", "event_type")
    )


from postrack_spark.queries.window_queries import _LOCF_ORACLE  # noqa: E402


@query("streaming_forward_fill", oracle=_LOCF_ORACLE)
def streaming_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING forward fill — the stateful twin of
    window_forward_fill_locf, gated by the SAME oracle: per-user LOCF
    where a gap's fill value may live in a PREVIOUS micro-batch, so
    the operator keeps O(1) explicit state (last observation + running
    counters) in applyInPandasWithState instead of buffering rows.
    Admission is time-ordered across batches (the capture-contract
    delivery order, via the range-partitioned mtime-stamped harness —
    same as streaming_scd2_history); within a batch the operator
    sorts its group slice. Counters are monotone, so the final
    summary per user is the emission with the largest n_rows."""
    from postrack_spark.session import load_tables
    from postrack_spark.streaming.stateful import forward_fill_locf

    ev = load_tables(spark, sf_dir)["events"]
    ok = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    rows = ev.select(
        "user_id",
        ok.alias("ok"),
        F.when(F.col("event_type") == "view", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    stream = _ordered_envelope_stream(
        spark, rows, name="locf", options={"maxFilesPerTrigger": "2"},
        order_col="ok",
    )
    out = run_to_memory(
        forward_fill_locf(stream), _qname("locf"), output_mode="update"
    )
    latest = out.groupBy("user_id").agg(
        F.max("n_rows").cast("long").alias("n_rows"),
        F.max_by("n_gaps", "n_rows").cast("long").alias("n_gaps"),
        F.max_by("n_leading", "n_rows").cast("long").alias("n_leading"),
        F.max_by("fill_milli", "n_rows").cast("long").alias("fill_milli"),
    )
    return latest.select(
        "user_id", "n_rows", "n_gaps", "n_leading", "fill_milli"
    ).orderBy("user_id")


@query(
    "streaming_late_data_accounting",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    cls AS (
      SELECT ts,
             (('0x' || substring(md5(event_id::VARCHAR), 1, 8))::BIGINT % 20 = 0
              AND ts < (SELECT m FROM mx) - INTERVAL 1 HOUR) AS is_late
      FROM events
    ),
    wm AS (SELECT m - INTERVAL 30 MINUTE AS w FROM mx),
    emitted AS (
      SELECT date_trunc('hour', ts) AS ws, count(*) AS c
      FROM cls, wm
      WHERE NOT is_late AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
      GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM emitted) AS BIGINT) AS n_windows,
           CAST((SELECT coalesce(sum(c), 0) FROM emitted) AS BIGINT) AS n_rows,
           CAST((SELECT count(DISTINCT date_trunc('hour', ts)) FROM cls, wm
                 WHERE is_late AND date_trunc('hour', ts) + INTERVAL 1 HOUR <= w)
                AS BIGINT) AS late_windows_dropped
    """,
)
def streaming_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data DROP accounting under append-mode watermarking — the
    semantics every streaming SLA document hand-waves, pinned to an
    exact oracle: a deterministic 5%-hash straggler cohort (all older
    than max-1h) is admitted in a FINAL batch after the on-time data,
    so the watermark (max event time - 30 min, already advanced by the
    on-time batches) drops every straggler window. The oracle models
    three engine facts measured empirically (see git history):
    (1) append emits a window once its END <= watermark, (2) the late
    filter tests the WINDOW END, not the row's event time, and
    (3) numRowsDroppedByWatermark counts dropped PARTIAL-AGGREGATE
    rows — i.e. DISTINCT late windows per batch, not raw rows, because
    the drop happens after map-side partial aggregation. The reported
    late_windows_dropped column is REAL engine telemetry
    (StreamingQueryProgress), hash-checked against the model — a
    regression in watermark semantics fails the gate. A mid-stream
    sentinel batch (the single oldest on-time event) sits between
    bulk and stragglers because the late filter uses the watermark
    with one extra batch of lag (eventTimeWatermarkForLateEvents vs
    ForEviction)."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from postrack_spark.session import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("event_id", "ts")
    mx = ev.agg(F.max("ts").alias("m"))
    hsel = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 20 == 0
    )
    evm = ev.crossJoin(F.broadcast(mx))
    is_late = hsel & (F.col("ts") < F.col("m") - F.expr("INTERVAL 1 HOUR"))
    late = evm.filter(is_late).select("event_id", "ts")
    ontime = evm.filter(~is_late).select("event_id", "ts")
    sentinel = ontime.orderBy("ts", "event_id").limit(1)
    bulk = ontime.join(sentinel.select(F.col("event_id").alias("sid")),
                       F.col("event_id") == F.col("sid"), "left_anti")

    scratch = _tf.mkdtemp(prefix="late_acct_")
    dest = _os.path.join(scratch, "all")
    _os.makedirs(dest)
    for i, df in enumerate((bulk, sentinel, late)):
        tmp = _os.path.join(scratch, f"t{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
        p = _os.path.join(dest, f"f{i:03d}.parquet")
        _shutil.copy(src, p)
        _os.utime(p, (1e9 + i, 1e9 + i))

    schema = spark.read.parquet(dest).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dest)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
    )
    name = _qname("lateacct")
    ckpt = _tf.mkdtemp(prefix=f"ckpt_{name}_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) or 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    out = spark.table(name)
    summary = out.agg(
        F.count("*").cast("long").alias("n_windows"),
        F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("n_rows"),
    )
    telemetry = spark.range(1).select(
        F.lit(int(dropped)).cast("long").alias("late_windows_dropped")
    )
    return summary.crossJoin(telemetry)


def _ordered_event_admission(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic ordered admission for event-time-timeout streaming
    queries: the events table written as eight equal TIME slices of
    [min ts, max ts] (a pure row function of event time — monotone, so
    per-user order holds across batches under any partitioning;
    mtime-stamped for ordered file admission) PLUS a 9th sentinel
    flush file (dummy key at max+1ms) that forces the final timeouts
    to fire in a guaranteed DATA batch — whether availableNow runs a
    trailing no-data micro-batch is a run-to-run race (measured
    flipping at sf0.1). Returns the directory to readStream. The file
    assignment deliberately avoids exact_ntile: feeding ranked output
    into an order-insensitive writer re-plans the internal sort and
    rank assignment goes shuffle-fetch-order nondeterministic (the
    operators/ranking trap, caught as inverted sessions on boundary
    rows). Shared by the applyInPandasWithState and TWS-timer session
    queries — one emission rule, one oracle shape."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from postrack_spark.session import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("user_id", "ts", "event_id")

    # File assignment must be a PURE ROW FUNCTION of event time: the
    # first attempt used exact_ntile octiles, but feeding its output
    # into an order-insensitive writer re-plans the internal sort and
    # the rank assignment goes shuffle-fetch-order nondeterministic
    # (the documented operators/ranking trap — caught here as inverted
    # sessions on ~1 in 1e5 boundary rows). Eight equal TIME slices of
    # [min ts, max ts] give the same ordered admission with zero
    # ranking: monotone in ts, deterministic under any partitioning.
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"), F.max(F.unix_micros("ts")).alias("hi")
    )
    bucketed = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "ts",
        (
            F.lit(1)
            + F.expr("CAST((unix_micros(ts) - lo) * 8 DIV (hi - lo + 1) AS INT)")
        ).alias("f"),
    )
    scratch = _tf.mkdtemp(prefix="sess_exp_")
    dest = _os.path.join(scratch, "all")
    _os.makedirs(dest)
    tmp = _os.path.join(scratch, "oct")
    (
        bucketed.repartition(8, "f")
        .write.partitionBy("f")
        .mode("overwrite")
        .parquet(tmp)
    )
    for i in range(1, 9):
        srcs = _glob.glob(_os.path.join(tmp, f"f={i}", "part-*.parquet"))
        assert len(srcs) == 1, f"expected one file per octile, got {srcs}"
        p = _os.path.join(dest, f"f{i:03d}.parquet")
        _shutil.copy(srcs[0], p)
        _os.utime(p, (1e9 + i, 1e9 + i))
    # Deterministic timeout flush: whether availableNow runs a trailing
    # NO-DATA micro-batch is a race (observed flipping run-to-run at
    # sf0.1), so the timeouts must fire in a guaranteed DATA batch. A
    # 9th file holds one sentinel event for a dummy key at max+1ms:
    # processing it uses watermark = real max - 30min (the one-batch
    # lag), firing every due timeout; the +1ms keeps any subsequent
    # racy no-data batch's watermark inside a 1ms band that cannot
    # change the emission set.
    flush = (
        load_tables(spark, sf_dir)["events"]
        .agg(F.max("ts").alias("mts"))
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            (F.col("mts") + F.expr("INTERVAL 1 MILLISECOND")).alias("ts"),
        )
    )
    ftmp = _os.path.join(scratch, "flush")
    flush.coalesce(1).write.mode("overwrite").parquet(ftmp)
    fsrc = _glob.glob(_os.path.join(ftmp, "part-*.parquet"))[0]
    fp = _os.path.join(dest, "f009.parquet")
    _shutil.copy(fsrc, fp)
    _os.utime(fp, (1e9 + 9, 1e9 + 9))
    return dest


@query(
    "streaming_session_expiry_timeout",
    oracle="""
    WITH ok AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ),
    cut AS (SELECT max(us) AS mx FROM ok),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ok
      WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id, sid,
             min(us) AS start_us, max(us) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events,
             max(sid) OVER (PARTITION BY user_id) AS last_sid
      FROM sess GROUP BY user_id, sid
    ),
    emitted AS (
      SELECT a.user_id, a.start_us, a.end_us, a.n_events
      FROM agg a CROSS JOIN cut
      WHERE a.sid < a.last_sid
         OR (a.end_us + 1800000000) // 1000 < cut.mx // 1000 - 1800000
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum((end_us - start_us) // 1000000) AS BIGINT) AS total_secs
    FROM emitted
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_session_expiry_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session expiry via GroupStateTimeout.EventTimeTimeout — the
    timeout half of the arbitrary-stateful API (the NoTimeout
    operators never exercise it): closed sessions emit from the data
    path, and each user's TRAILING open session emits only when the
    watermark passes its end + gap. The oracle replicates the
    emission rule exactly: admission is deterministic (files = eight
    equal TIME slices of the event-time span — a pure row function,
    monotone in ts, so per-user order holds across batches under any
    partitioning; mtime-stamped, 2 files per trigger), plus a
    sentinel flush file (dummy key at max+1ms)
    that forces a final DATA batch whose watermark is global max ts -
    30 min — the trailing no-data micro-batch that would otherwise
    fire the timeouts turned out to be a run-to-run RACE under
    availableNow, measured flipping at sf0.1. A trailing session
    emits iff its timeout millis lie below that watermark; sessions
    closer to end-of-input stay buffered — counted by neither side."""
    dest = _ordered_event_admission(spark, sf_dir)
    schema = spark.read.parquet(dest).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(dest)
        .withWatermark("ts", "30 minutes")
        .select("user_id", F.unix_micros("ts").alias("us"), "ts")
    )
    from postrack_spark.streaming.stateful import session_expiry_sessions

    out = run_to_memory(
        session_expiry_sessions(stream, gap_minutes=30),
        _qname("sessexp"),
        output_mode="append",
    )
    return (
        out.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.expr("(end_us - start_us) DIV 1000000")).cast("long").alias("total_secs"),
        )
        .orderBy("user_id")
    )


from postrack_spark.queries.cdc_queries import _CHANGES_CTE  # noqa: E402


@query(
    "streaming_latest_state_tws",
    oracle=f"""
    WITH {_CHANGES_CTE},
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY okey ORDER BY lsn DESC) AS rn
      FROM changes
    )
    SELECT okey AS o_orderkey, status, round(price, 2) AS price
    FROM ranked
    WHERE rn = 1 AND op <> 'DELETE'
    ORDER BY o_orderkey
    """,
)
def streaming_latest_state_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-per-key via transformWithStateInPandas — Spark 4's
    flagship arbitrary-state API, running for real (update-mode value
    state in RocksDB column families, protobuf state-server protocol).
    Where the container lacks google.protobuf, the vendored pure-stdlib
    pbstub runtime (postrack_spark/vendor/pbstub) supplies the wire
    protocol — certified byte-identical against protobuf-java in
    tests/test_pbstub.py. Equals the batch latest-per-key oracle on the
    same synthetic change relation (FIXTURES.md §B); the
    applyInPandasWithState twin covers the same semantics on the
    Spark-3 API (streaming_queries siblings).

    Scale: state is one row image per key in the state store (RocksDB,
    spillable), input shuffles once on the grouping key, per-batch
    updates stream out in update mode — no global sort, no collect.
    """
    from postrack_spark.streaming.stateful import (
        ensure_protobuf,
        latest_state_tws,
        rocksdb_state,
    )

    if not ensure_protobuf(spark):  # pragma: no cover - shim is stdlib
        raise RuntimeError("protobuf unavailable and pbstub failed to load")
    changes = orders_changes(spark, sf_dir)
    typed = changes.select(
        F.coalesce(
            typed_column("after", "o_orderkey", "long"),
            typed_column("before", "o_orderkey", "long"),
        ).alias("o_orderkey"),
        "lsn",
        "op",
        typed_column("after", "o_orderstatus", "string").alias("status"),
        typed_column("after", "o_totalprice", "double").alias("price"),
    )
    stream = envelope_stream(spark, typed, name=_qname("tws"))
    with rocksdb_state(spark):
        out = run_to_memory(
            latest_state_tws(stream), _qname("tws_sink"), output_mode="update"
        )
    # update mode logs one image per (key, batch-with-input); reduce to
    # the final image per key (ties on lsn carry identical images)
    final = out.groupBy("o_orderkey").agg(
        F.max_by(F.struct("op", "status", "price"), "lsn").alias("s")
    )
    return (
        final.filter(F.col("s.op") != "DELETE")
        .select(
            "o_orderkey",
            F.col("s.status").alias("status"),
            F.round("s.price", 2).alias("price"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "streaming_delta_log_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_delta_log_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events into a Delta-protocol table (streaming/
    delta_log.py: real _delta_log JSON commits, put-if-absent
    atomicity, txn-action idempotence under at-least-once foreachBatch)
    and aggregate the SNAPSHOT READ — on finite input this equals the
    batch rollup, so the whole sink/reader protocol sits inside the
    hash gate. Time travel, compaction, vacuum, and the crash-window
    invisibility of uncommitted files are pinned by
    tests/test_delta_log.py.

    Scale: the log is O(commits) metadata; the snapshot read plans a
    distributed parquet scan over exactly the live files. Money sums
    quantize to integer cents PER ROW before summing (identical IEEE
    multiply+floor on both engines; a double SUM would differ in
    association order — the portability trap in CLAUDE.md).
    """
    import tempfile

    from postrack_spark.session import fan_out
    from postrack_spark.streaming.delta_log import (
        foreach_batch_delta,
        read_delta,
    )
    from postrack_spark.streaming.runner import events_stream

    table = tempfile.mkdtemp(prefix="delta_rollup_")
    ckpt = tempfile.mkdtemp(prefix="delta_rollup_ckpt_")
    ev = events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    q = (
        ev.writeStream.foreachBatch(foreach_batch_delta(table, mode="append"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = fan_out(read_delta(spark, table))
    return (
        snap.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "cdc_delta_merge_materialize",
    oracle=f"""
    WITH {_CHANGES_CTE},
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY okey ORDER BY lsn DESC) AS rn
      FROM changes
    )
    SELECT okey AS o_orderkey, status, round(price, 2) AS price
    FROM ranked
    WHERE rn = 1 AND op <> 'DELETE'
    ORDER BY o_orderkey
    """,
)
def cdc_delta_merge_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse CDC pattern end-to-end: a change stream upserted
    into a Delta-protocol table by per-batch COPY-ON-WRITE MERGE
    (streaming/delta_log.merge_delta — only files containing affected
    keys are rewritten; tombstones retained as rows so batch order
    cannot resurrect stale images; lsn decides every conflict). The
    final snapshot read, DELETEs filtered, must equal the batch
    latest-per-key oracle. Replay idempotence and file-granular rewrite
    are pinned in tests/test_delta_log.py.

    Scale: merge cost per batch is proportional to AFFECTED files, not
    table size; the driver handles only metadata file lists; conflict
    resolution is one key-shuffle max_by."""
    import tempfile

    from postrack_spark.streaming.delta_log import (
        foreach_batch_delta_merge,
        read_delta,
    )

    changes = orders_changes(spark, sf_dir)
    typed = changes.select(
        F.coalesce(
            typed_column("after", "o_orderkey", "long"),
            typed_column("before", "o_orderkey", "long"),
        ).alias("o_orderkey"),
        "lsn",
        "op",
        typed_column("after", "o_orderstatus", "string").alias("status"),
        typed_column("after", "o_totalprice", "double").alias("price"),
    )
    table = tempfile.mkdtemp(prefix="delta_merge_")
    ckpt = tempfile.mkdtemp(prefix="delta_merge_ckpt_")
    stream = envelope_stream(spark, typed, name=_qname("dmerge"))
    q = (
        stream.writeStream.foreachBatch(
            foreach_batch_delta_merge(table, "o_orderkey", "lsn")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = read_delta(spark, table)
    return (
        snap.filter(F.col("op") != "DELETE")
        .select("o_orderkey", "status", F.round("price", 2).alias("price"))
        .orderBy("o_orderkey")
    )


@query(
    "streaming_delta_feed_incremental",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_delta_feed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta table as a STREAMING SOURCE (sources/delta_feed.py): the
    events table lands in the log as three append snapshots, then a
    stream tails the log with version-range offsets — each micro-batch
    reads exactly the files its commits added (no listings, no
    rescans; append-only enforced, rewrites raise). The drained rows
    aggregate to the batch rollup. Checkpoint-resume increments and
    admission pacing are pinned in tests/test_delta_feed.py.

    Scale: offset resolution is O(commits) driver-side metadata; each
    admitted file is an independent input partition."""
    import tempfile

    from postrack_spark.session import load_tables as _lt
    from postrack_spark.sources.delta_feed import register
    from postrack_spark.streaming.delta_log import write_delta

    ev = _lt(spark, sf_dir)["events"].select("user_id", "event_type")
    table = tempfile.mkdtemp(prefix="delta_feed_q_")
    ckpt = tempfile.mkdtemp(prefix="delta_feed_q_ckpt_")
    for bucket in range(3):
        write_delta(ev.filter(F.pmod(F.col("user_id"), 3) == bucket), table)
    register(spark)
    q = (
        spark.readStream.format("delta_feed")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName(_qname("feedq"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(q.name)
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_iceberg_feed_incremental",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_iceberg_feed_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg table as a STREAMING SOURCE (sources/iceberg_feed.py) —
    the incremental append scan Flink/Spark use to tail Iceberg,
    completing the lakehouse streaming matrix next to
    streaming_delta_feed_incremental: offsets are SNAPSHOT IDS, each
    micro-batch emits exactly the files its snapshots added (resolved
    by SET DIFFERENCE against the predecessor's live set — so a
    compaction REPLACE or a MOR delete mid-stream raises instead of
    double-counting or ghosting rows), and the drained union
    aggregates to the batch rollup. Checkpoint resume, snapshot
    pacing, the append-only guard, and NULL-filled evolved columns
    are pinned in tests/test_iceberg_feed.py."""
    import tempfile

    from postrack_spark.session import load_tables as _lt
    from postrack_spark.sources.iceberg_feed import register
    from postrack_spark.streaming.iceberg import append_iceberg

    ev = _lt(spark, sf_dir)["events"].select("user_id", "event_type")
    table = tempfile.mkdtemp(prefix="ice_feed_q_")
    ckpt = tempfile.mkdtemp(prefix="ice_feed_q_ckpt_")
    for bucket in range(3):
        append_iceberg(
            ev.filter(F.pmod(F.col("user_id"), 3) == bucket), table)
    register(spark)
    q = (
        spark.readStream.format("iceberg_feed")
        .option("path", table)
        .load()
        .writeStream.format("memory")
        .queryName(_qname("icefeedq"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(q.name)
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_tws_topk_state",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             user_id % 16 AS bucket
      FROM events
    ),
    topk AS (
      SELECT event_type, CAST(sum(cents) AS BIGINT) AS topk_cents
      FROM (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY cents DESC) AS rn
        FROM ev
      ) WHERE rn <= 3
      GROUP BY event_type
    )
    SELECT e.event_type,
           t.topk_cents,
           CAST(count(DISTINCT e.bucket) AS BIGINT) AS n_buckets,
           CAST(count(*) AS BIGINT) AS n_total
    FROM ev e JOIN topk t USING (event_type)
    GROUP BY e.event_type, t.topk_cents
    ORDER BY e.event_type
    """,
)
def streaming_tws_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with ALL THREE state kinds — the
    protocol legs latest_state_tws (ValueState only) never exercises:
    ListState put/get paging, MapState getValue/updateValue/containsKey
    and the Keys iterator with requireNextFetch, all over the pbstub
    protobuf runtime where google-protobuf is absent. Top-k is a monoid
    (top-k of a union == top-k of top-k ∪ batch) and counts are
    additive, so batch admission order cannot change the final images;
    the monotone n_total picks the final emission per key. Equals the
    batch rollup on finite input. Ties at the k boundary are safe: the
    top-k SUM over a value multiset is tie-invariant."""
    from postrack_spark.streaming.runner import events_stream
    from postrack_spark.streaming.stateful import (
        ensure_protobuf,
        rocksdb_state,
        tws_topk_profile,
    )

    if not ensure_protobuf(spark):  # pragma: no cover - shim is stdlib
        raise RuntimeError("protobuf unavailable and pbstub failed to load")
    ev = events_stream(spark, sf_dir).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.pmod(F.col("user_id"), F.lit(16)).cast("long").alias("bucket"),
    )
    with rocksdb_state(spark):
        out = run_to_memory(
            tws_topk_profile(ev, k=3), _qname("tws_topk"), output_mode="update"
        )
    final = out.groupBy("event_type").agg(
        F.max_by(F.struct("topk_cents", "n_buckets"), "n_total").alias("s"),
        F.max("n_total").alias("n_total"),
    )
    return final.select(
        "event_type",
        F.col("s.topk_cents").alias("topk_cents"),
        F.col("s.n_buckets").alias("n_buckets"),
        F.col("n_total").cast("long").alias("n_total"),
    ).orderBy("event_type")


@query(
    "cdc_delta_delete_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS rows_before,
           CAST((SELECT count(*) FROM base
                 WHERE o_custkey BETWEEN 40 AND 60) AS BIGINT) AS rows_deleted,
           CAST((SELECT count(*) FROM base
                 WHERE o_custkey NOT BETWEEN 40 AND 60) AS BIGINT) AS rows_after,
           CAST((SELECT sum(cents) FROM base
                 WHERE o_custkey NOT BETWEEN 40 AND 60) AS BIGINT) AS cents_after,
           true AS rewrite_was_partial
    FROM base LIMIT 1
    """,
)
def cdc_delta_delete_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE WHERE on the Delta transaction log
    (delta_log.delete_delta) with a TIME-TRAVEL audit: orders land in a
    custkey-range-partitioned Delta table, a custkey-range predicate is
    deleted, and the output certifies the full contract in one row —
    rows_before re-read by TIME TRAVEL to the pre-delete version (the
    deleted rows must still be visible there: a DELETE is a log
    transition, not history rewriting), rows_deleted/rows_after/
    cents_after from the post-delete snapshot, and the
    rewrite_was_partial certificate (0 < files_rewritten < files_total
    — range partitioning localizes the predicate so COW touches a
    strict subset; the 'gate the certificate' pattern since the oracle
    cannot know file counts). Scale notes in delete_delta's docstring:
    detection is a pushdown scan of file_path only, rewrite cost is
    match locality, never table size."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        delete_delta,
        read_delta,
        write_delta,
    )

    t = load_tables(spark, sf_dir)
    table = _tf.mkdtemp(prefix="delta_delete_q_")
    v_before = write_delta(
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartitionByRange(8, "o_custkey"),
        table,
    )
    _version, rewritten, total = delete_delta(
        spark, table, "o_custkey BETWEEN 40 AND 60"
    )
    before = read_delta(spark, table, version=v_before).agg(
        F.count("*").cast("long").alias("rows_before")
    )
    after = read_delta(spark, table).agg(
        F.count("*").cast("long").alias("rows_after"),
        F.sum("cents").cast("long").alias("cents_after"),
    )
    return before.crossJoin(after).select(
        "rows_before",
        (F.col("rows_before") - F.col("rows_after")).alias("rows_deleted"),
        "rows_after",
        "cents_after",
        F.lit(0 < rewritten < total).alias("rewrite_was_partial"),
    )


@query(
    "streaming_iceberg_cdc_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    latest AS (SELECT * FROM ranked WHERE rn = 1)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS one_row_per_key,
           true AS replay_skipped
    FROM latest GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_iceberg_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert STREAM into an Iceberg v2 table — the Flink Iceberg
    writer's architecture on Structured Streaming: events arrive in
    four WAL-ordered micro-batches (time slices, mtime-stamped,
    maxFilesPerTrigger=1), each batch folds to one image per user
    (max_by over (ts, event_id) — the CDC writer's per-checkpoint
    buffer) and commits as ONE snapshot holding an equality-delete
    file plus the replacement rows at the same sequence number. The
    table is therefore latest-per-key AT EVERY SNAPSHOT, with O(batch)
    write cost and no table scans — compare
    cdc_latest_per_key_materialize (batch max_by) and
    foreach_batch_delta_merge (COW rewrite of affected files): this is
    the cheapest write path of the three and pays at read time
    instead. Exactly-once: the batch id rides in the snapshot SUMMARY
    (the Flink checkpoint-id idiom) and the replay_skipped certificate
    re-applies batch 0 after the run, gating that it commits NOTHING
    (snapshot count unchanged). one_row_per_key gates the upsert
    invariant the oracle can't see structurally."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        foreach_batch_iceberg_upsert,
        read_iceberg,
    )

    ev = load_tables(spark, sf_dir)["events"].select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    # four equal TIME slices of [min ts, max ts] — a pure row function
    # of event time (monotone, deterministic under any partitioning;
    # the _ordered_event_admission rule), mtime-stamped so the file
    # source admits them in WAL order
    bounds = ev.agg(F.min(F.unix_micros("ts")).alias("lo"),
                    F.max(F.unix_micros("ts")).alias("hi"))
    bucketed = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id", "ts", "event_id", "event_type", "cents",
        (F.lit(1) + F.expr(
            "CAST((unix_micros(ts) - lo) * 4 DIV (hi - lo + 1) AS INT)")
         ).alias("f"))
    scratch = _tf.mkdtemp(prefix="ice_upsert_stream_")
    dest = _os.path.join(scratch, "slices")
    _os.makedirs(dest)
    tmp = _os.path.join(scratch, "quart")
    (bucketed.repartition(4, "f").write.partitionBy("f")
     .mode("overwrite").parquet(tmp))
    first_slice = None
    for i in range(1, 5):
        srcs = _glob.glob(_os.path.join(tmp, f"f={i}", "part-*.parquet"))
        assert len(srcs) == 1, f"expected one file per slice, got {srcs}"
        p = _os.path.join(dest, f"f{i:03d}.parquet")
        _shutil.copy(srcs[0], p)
        _os.utime(p, (1e9 + i, 1e9 + i))
        if i == 1:
            first_slice = p
    schema = spark.read.parquet(dest).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(dest))
    table = _tf.mkdtemp(prefix="ice_upsert_t_")
    hook = foreach_batch_iceberg_upsert(
        table, ["user_id"], ["ts", "event_id"], app_id="iceberg-cdc-upsert")
    ckpt = _tf.mkdtemp(prefix="ckpt_ice_upsert_")
    q = (stream.writeStream.foreachBatch(hook)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # replay certificate: re-applying an already-committed batch id
    # must commit NOTHING (at-least-once delivery, exactly-once state)
    snaps_before = len(_current_metadata(table)["snapshots"])
    hook(spark.read.schema(schema).parquet(first_slice), 0)
    replay_skipped = (
        len(_current_metadata(table)["snapshots"]) == snaps_before)
    final = read_iceberg(spark, table)
    chk = final.agg(
        (F.count("*") == F.countDistinct("user_id")).alias("ok")).collect()
    one_row_per_key = bool(chk[0]["ok"])
    return (final.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"))
        .select("event_type", "n_users", "cents",
                F.lit(one_row_per_key).alias("one_row_per_key"),
                F.lit(replay_skipped).alias("replay_skipped"))
        .orderBy("event_type"))


@query(
    "cdc_lakehouse_timestamp_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    ev AS (SELECT * FROM base WHERE o_orderkey % 2 = 0)
    SELECT CAST((SELECT count(*) FROM ev) AS BIGINT) AS rows_asof,
           CAST((SELECT sum(cents) FROM ev) AS BIGINT) AS cents_asof,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS rows_latest,
           CAST((SELECT sum(cents) FROM base) AS BIGINT) AS cents_latest,
           true AS engines_agree
    FROM base LIMIT 1
    """,
)
def cdc_lakehouse_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF across BOTH table formats — the time-travel
    surface users actually type: Delta resolves the newest commit
    whose commit-file mtime is at or before the instant (delta-spark's
    rule), Iceberg resolves through the snapshot log's timestamp-ms
    (the spec's rule). Even-key orders land first in both formats, a
    wall-clock instant is captured, odd keys land after it; reading
    TIMESTAMP AS OF that instant must return exactly the first commit
    in BOTH engines (engines_agree gates the cross-format identity of
    the as-of rollup), while the latest read sees everything. The
    resolution edge cases (clamp after last, raise before first,
    mutually-exclusive selectors) are pinned in
    tests/test_delta_log.py and tests/test_iceberg.py with explicit
    clocks."""
    import tempfile as _tf
    import time as _time

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import read_delta, write_delta
    from postrack_spark.streaming.iceberg import (
        append_iceberg,
        read_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    evens = base.filter(F.col("o_orderkey") % 2 == 0)
    odds = base.filter(F.col("o_orderkey") % 2 == 1)
    dt = _tf.mkdtemp(prefix="delta_ts_q_")
    it = _tf.mkdtemp(prefix="ice_ts_q_")
    write_delta(evens, dt)
    append_iceberg(evens, it)
    _time.sleep(0.05)
    ts_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    write_delta(odds, dt)
    append_iceberg(odds, it)

    d_asof = read_delta(spark, dt, timestamp_ms=ts_mid).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c")).collect()[0]
    i_asof = read_iceberg(spark, it, timestamp_ms=ts_mid).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("c")).collect()[0]
    agree = (d_asof["n"], d_asof["c"]) == (i_asof["n"], i_asof["c"])
    latest = read_delta(spark, dt).agg(
        F.count("*").cast("long").alias("rows_latest"),
        F.sum("cents").cast("long").alias("cents_latest"))
    return latest.select(
        F.lit(d_asof["n"]).cast("long").alias("rows_asof"),
        F.lit(d_asof["c"]).cast("long").alias("cents_asof"),
        "rows_latest", "cents_latest",
        F.lit(agree).alias("engines_agree"),
    )


@query(
    "streaming_delta_cdf_consume",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    final AS (
      SELECT o_custkey,
             CASE WHEN o_custkey % 6 = 2 THEN cents + 1 ELSE cents END
               AS cents
      FROM base WHERE o_custkey % 6 <> 1
      UNION ALL
      SELECT o_custkey, cents + 1 FROM base WHERE o_custkey % 6 = 2
    )
    SELECT o_custkey % 4 AS bucket,
           CAST(count(*) AS BIGINT) AS n_net,
           CAST(sum(cents) AS BIGINT) AS cents_net
    FROM final GROUP BY 1 ORDER BY 1
    """,
)
def streaming_delta_cdf_consume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING consumption of the Delta change feed
    (delta_feed with readChangeFeed=true) driving a SIGNED FOLD —
    the CDF-feeds-IVM identity: inserts and update_postimages add,
    deletes and update_preimages subtract, and the folded aggregate
    equals the final table state's rollup WITHOUT ever reading the
    table itself. This is how a downstream materialized view tracks a
    100 TB table: O(changes) per batch, no rescans — the lakehouse
    counterpart of the pgoutput signed-delta IVM (cdc/ivm.py), fed by
    the transaction log instead of the WAL. The upstream history is
    an append, a COW DELETE, and a COW MERGE (updates + inserts);
    the oracle recomputes the final state from source."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.sources.delta_feed import register
    from postrack_spark.streaming.delta_log import (
        delete_delta,
        enable_change_feed_delta,
        merge_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_cdfs_q_")
    write_delta(base.repartitionByRange(8, "o_custkey"), table)
    enable_change_feed_delta(table)
    delete_delta(spark, table, "o_custkey % 6 = 1")
    upd = base.filter(F.col("o_custkey") % 6 == 2)
    images = upd.select(
        "o_orderkey", "o_custkey", (F.col("cents") + 1).alias("cents")
    ).unionByName(upd.select(
        (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
        "o_custkey", (F.col("cents") + 1).alias("cents")))
    merge_delta(spark, table, images, "o_orderkey", "cents")

    register(spark)
    ckpt = _tf.mkdtemp(prefix="delta_cdfs_ckpt_")
    q = (
        spark.readStream.format("delta_feed")
        .option("path", table).option("readChangeFeed", "true")
        .load()
        .select(
            F.pmod(F.col("o_custkey"), F.lit(4)).alias("bucket"),
            F.when(F.col("_change_type").isin(
                "insert", "update_postimage"), F.lit(1))
            .otherwise(F.lit(-1)).alias("sign"),
            "cents",
        )
        .writeStream.format("memory")
        .queryName(_qname("cdffold"))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(q.name)
        .groupBy("bucket")
        .agg(
            F.sum("sign").cast("long").alias("n_net"),
            F.sum(F.col("sign") * F.col("cents")).cast("long")
            .alias("cents_net"),
        )
        .orderBy("bucket")
    )


@query(
    "cdc_delta_change_feed",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    upd AS (SELECT * FROM base WHERE o_custkey % 6 = 2)
    SELECT 'delete' AS change_type,
           CAST((SELECT count(*) FROM base WHERE o_custkey % 6 = 1)
                AS BIGINT) AS n_rows,
           CAST((SELECT sum(cents) FROM base WHERE o_custkey % 6 = 1)
                AS BIGINT) AS cents
    UNION ALL
    SELECT 'insert',
           CAST((SELECT count(*) FROM base) + (SELECT count(*) FROM upd)
                AS BIGINT),
           CAST((SELECT sum(cents) FROM base)
              + (SELECT sum(cents) + count(*) FROM upd) AS BIGINT)
    UNION ALL
    SELECT 'update_postimage',
           CAST((SELECT count(*) FROM upd) AS BIGINT),
           CAST((SELECT sum(cents) + count(*) FROM upd) AS BIGINT)
    UNION ALL
    SELECT 'update_preimage',
           CAST((SELECT count(*) FROM upd) AS BIGINT),
           CAST((SELECT sum(cents) FROM upd) AS BIGINT)
    ORDER BY change_type
    """,
)
def cdc_delta_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED — row-level change history from the log
    (delta.enableChangeDataFeed + _change_data files, the delta-spark
    design): appends synthesize 'insert' rows from their add actions
    at read time (zero write cost), while row-rewriting ops stage
    their change rows IN THE SAME COMMIT — a COW DELETE emits the
    deleted rows ('delete'), a COW MERGE emits
    update_preimage/update_postimage pairs for existing keys and
    'insert' for new ones. read_changes_delta(from, to) reconstructs
    the table's per-row history across the range, refusing commits
    that rewrote data before the feed was enabled (fabricating
    history is worse than raising). The rollup groups the full feed
    by change type; the oracle recomputes every class from source —
    pre/post cents differ by exactly the +1 the merge applied, so a
    swapped image direction hash-fails."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        delete_delta,
        enable_change_feed_delta,
        merge_delta,
        read_changes_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_cdf_q_")
    write_delta(base.repartitionByRange(8, "o_custkey"), table)     # v0
    enable_change_feed_delta(table)                                  # v1
    delete_delta(spark, table, "o_custkey % 6 = 1")                  # v2
    upd = base.filter(F.col("o_custkey") % 6 == 2)
    images = upd.select(
        "o_orderkey", "o_custkey", (F.col("cents") + 1).alias("cents")
    ).unionByName(upd.select(
        (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
        "o_custkey", (F.col("cents") + 1).alias("cents")))
    v_last = merge_delta(spark, table, images, "o_orderkey", "cents")  # v3
    return (
        read_changes_delta(spark, table, 0, v_last)
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("change_type")
    )


@query(
    "layout_delta_zorder_optimize",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS pruning_improved,
           true AS rows_identical
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_orderkey BETWEEN 100000 AND 300000
    """,
)
def layout_delta_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER on the Delta log — the layout family's Z-curve
    clustering (sources/layout.zorder_repartition) delivered through
    the table format's own stats-skipping lane: orders land in a
    deliberately SCATTERED layout (hash repartition — every file
    spans the full custkey range, so a 2-D rectangle predicate must
    open every file), then compact_delta(zorder_by=(o_custkey,
    o_orderkey)) rewrites the live set range-partitioned on the
    Morton interleave in ONE atomic dataChange=false commit. After
    the rewrite each file's footer stats are a tight rectangle in
    BOTH dimensions, and pruned_read_delta plans strictly fewer
    files for the same rectangle (pruning_improved gates
    after < before); rows_identical gates that the rewrite changed
    LAYOUT, not data (count + cents hash over the rectangle before
    vs after). At 100 TB this before/after file-count ratio IS the
    scan-cost ratio of every rectangle query thereafter."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        compact_delta,
        pruned_read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_zorder_q_")
    write_delta(base.repartition(16), table)  # scattered on purpose
    c_lo, c_hi, k_lo, k_hi = 100, 400, 100000, 300000

    def _rect():
        df, files_read, files_total = pruned_read_delta(
            spark, table, "o_custkey", c_lo, c_hi)
        agg = df.filter(
            F.col("o_custkey").between(c_lo, c_hi)
            & F.col("o_orderkey").between(k_lo, k_hi)
        ).agg(F.count("*").cast("long").alias("n"),
              F.sum("cents").cast("long").alias("c")).collect()[0]
        return (agg["n"], agg["c"]), files_read, files_total

    before_vals, files_before, _tot0 = _rect()
    compact_delta(spark, table, target_files=16,
                  zorder_by=("o_custkey", "o_orderkey"))
    after_vals, files_after, _tot1 = _rect()
    improved = files_after < files_before
    identical = before_vals == after_vals
    return spark.createDataFrame(
        [(after_vals[0], after_vals[1], improved, identical)],
        "n_rows long, cents long, pruning_improved boolean,"
        " rows_identical boolean")


@query(
    "layout_delta_clustered_optimize",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS pruning_improved,
           true AS rows_identical
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 400
      AND o_orderkey BETWEEN 100000 AND 300000
    """,
)
def layout_delta_clustered_optimize(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """DECLARED CLUSTERING (the liquid-clustering metadata shape):
    the clustering columns are TABLE metadata — a delta.clustering
    domainMetadata — and plain compact_delta(table) applies the
    Z-order rewrite on them without the maintenance job stating any
    layout at all. The sibling lane layout_delta_zorder_optimize
    passes zorder_by explicitly; here the table owns the policy, so
    at 100 TB every one of N independent OPTIMIZE jobs clusters it
    the same (right) way. Certificates: the 2-D rectangle prunes
    strictly fewer files after the declared-policy OPTIMIZE
    (pruning_improved), and the rewrite changed layout, not data
    (rows_identical)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        compact_delta,
        pruned_read_delta,
        set_clustering_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_cluster_q_")
    write_delta(base.repartition(16), table)  # scattered on purpose
    set_clustering_delta(table, ("o_custkey", "o_orderkey"))
    c_lo, c_hi, k_lo, k_hi = 100, 400, 100000, 300000

    def _rect():
        df, files_read, files_total = pruned_read_delta(
            spark, table, "o_custkey", c_lo, c_hi)
        agg = df.filter(
            F.col("o_custkey").between(c_lo, c_hi)
            & F.col("o_orderkey").between(k_lo, k_hi)
        ).agg(F.count("*").cast("long").alias("n"),
              F.sum("cents").cast("long").alias("c")).collect()[0]
        return (agg["n"], agg["c"]), files_read, files_total

    before_vals, files_before, _t0 = _rect()
    compact_delta(spark, table, target_files=16)  # NO layout stated
    after_vals, files_after, _t1 = _rect()
    return spark.createDataFrame(
        [(after_vals[0], after_vals[1],
          files_after < files_before, before_vals == after_vals)],
        "n_rows long, cents long, pruning_improved boolean,"
        " rows_identical boolean")


@query(
    "cdc_delta_schema_evolution",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    web AS (SELECT * FROM base WHERE o_orderkey % 1000 = 7)
    SELECT 'legacy' AS channel,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS n_rows,
           CAST((SELECT sum(cents) FROM base) AS BIGINT) AS cents,
           true AS drift_rejected, true AS old_schema_in_history
    UNION ALL
    SELECT 'web',
           CAST((SELECT count(*) FROM web) AS BIGINT),
           CAST((SELECT sum(cents) + count(*) FROM web) AS BIGINT),
           true, true
    ORDER BY channel
    """,
)
def cdc_delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta SCHEMA ENFORCEMENT + EVOLUTION — the contract that makes
    a lakehouse table trustworthy under CDC drift: a write whose
    schema drifted is REJECTED by default (drift_rejected gates the
    raise), and an explicit merge_schema=True append evolves the table
    by adding the new nullable column IN THE SAME COMMIT as its data —
    pre-evolution rows read back as NULL (grouped here under
    'legacy'), and time travel to the pre-evolution version still
    shows the OLD schema (old_schema_in_history gates it), because
    the schema is itself versioned log state, not a mutable side
    table. The pgoutput decoder handles the SOURCE side of schema
    drift (in-stream Relation frames); this is the SINK side."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_evo_q_")
    v0 = write_delta(base.repartition(4), table)
    evolved = base.filter(F.col("o_orderkey") % 1000 == 7).select(
        (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
        (F.col("cents") + 1).alias("cents"),
        F.lit("web").alias("channel"),
    )
    drift_rejected = False
    try:
        write_delta(evolved, table)  # no merge_schema: must raise
    except ValueError:
        drift_rejected = True
    write_delta(evolved, table, merge_schema=True)
    old_schema = read_delta(spark, table, version=v0).columns == [
        "o_orderkey", "cents"]
    return (
        read_delta(spark, table)
        .groupBy(F.coalesce("channel", F.lit("legacy")).alias("channel"))
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "channel", "n_rows", "cents",
            F.lit(drift_rejected).alias("drift_rejected"),
            F.lit(old_schema).alias("old_schema_in_history"),
        )
        .orderBy("channel")
    )


@query(
    "streaming_state_store_reader",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           true AS metadata_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_state_store_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE STORE BATCH READER (Spark 4's ``statestore`` /
    ``state-metadata`` formats — the streaming-state observability
    surface): run a streaming aggregation to completion, then read
    the checkpoint's OWN state store back as a DataFrame and prove it
    holds exactly the aggregate the batch oracle computes — state is
    data, not a black box (the debugging lane for 'why is my
    streaming agg wrong': inspect keys/values per shuffle partition
    without replaying the stream). metadata_ok gates the
    state-metadata listing (one stateful operator, partitioned store,
    batches recorded). At 100 TB of state this reads the store files
    directly — no stream replay, no driver materialization beyond
    this query's own rollup."""
    import tempfile as _tf
    import uuid as _uuid

    from postrack_spark.streaming.runner import events_stream

    ev = events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"))
    ckpt = _tf.mkdtemp(prefix="ckpt_ssr_")
    qname = f"ssr_{_uuid.uuid4().hex[:10]}"
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(qname).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    md = spark.read.format("state-metadata").load(ckpt).collect()
    metadata_ok = (len(md) == 1 and md[0]["numPartitions"] > 0
                   and md[0]["maxBatchId"] >= 0
                   and "stateStore" in md[0]["operatorName"])
    flat = state.select(F.col("key.*"), F.col("value.*"))
    val_col = flat.columns[-1]
    return (
        flat.select(
            "event_type",
            F.col(val_col).cast("long").alias("n_events"),
            F.lit(metadata_ok).alias("metadata_ok"),
        )
        .orderBy("event_type")
    )


@query(
    "profile_delta_history",
    oracle="""
    WITH u AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
      UNION ALL
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) + 1 FROM orders
    ), live AS (
      SELECT CAST(count(*) AS BIGINT) AS n FROM u WHERE NOT (cents % 7 = 3)
    )
    SELECT * FROM (VALUES
      (CAST(0 AS BIGINT), 'WRITE', true, true),
      (CAST(1 AS BIGINT), 'WRITE', false, true),
      (CAST(2 AS BIGINT), 'MERGE_OR_OVERWRITE', false, true),
      (CAST(3 AS BIGINT), 'OPTIMIZE', false, false)
    ) AS t(version, operation, metadata_changed, data_change)
    CROSS JOIN live ORDER BY version
    """,
)
def profile_delta_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY for the Delta log (delta_log.history_delta):
    one row per commit, synthesized from the actions themselves —
    operation class, action counts, dataChange flags, commit
    timestamps — O(log) driver metadata, zero data IO (the audit
    surface an operator reads before trusting a table). The lifecycle
    here: create (WRITE + metaData), append (WRITE), predicate DELETE
    (a COW rewrite: adds + dataChange removes), OPTIMIZE (adds +
    removes, dataChange=false — the flag that tells every consumer,
    including the change feed and the streaming source, that no
    logical rows moved). live-row count rides along from the table
    itself and matches the oracle's union-minus-deleted recompute."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        compact_delta,
        delete_delta,
        history_delta,
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    t = _tf.mkdtemp(prefix="delta_hist_q_")
    write_delta(base.repartition(2), t)                          # v0
    write_delta(base.select("o_orderkey",
                            (F.col("cents") + 1).alias("cents")), t)  # v1
    delete_delta(spark, t, "cents % 7 = 3")                      # v2
    compact_delta(spark, t, target_files=2)                      # v3
    live = read_delta(spark, t).groupBy().agg(
        F.count("*").cast("long").alias("n"))
    return (
        history_delta(spark, t)
        .select("version", "operation", "metadata_changed", "data_change")
        .crossJoin(live)
        .orderBy("version")
    )


@query(
    "source_delta_partition_pruning",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS pruned
    FROM orders
    WHERE year(o_orderdate) = 1995
    GROUP BY 1 ORDER BY 1
    """,
)
def source_delta_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta TABLE PARTITIONING (protocol partitionColumns +
    per-file partitionValues): the table partitions on a month column,
    every add action records its partition tuple, and a month-range
    read PRUNES FILES FROM THE LOG'S METADATA before any footer opens
    — read_delta(partition_filter=, scan_stats=), the Delta twin of
    the Iceberg hidden-partitioning lane (there the manifest walk
    prunes; here the log replay does — both O(files), zero directory
    listing, the shape that keeps a 100 TB scan from touching 99% of
    its files). Pruning is an optimization: the row filter still
    applies, and the ``pruned`` certificate gates
    0 < files_scanned < files_total via scan_stats."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderdate",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_part_q_")
    write_delta(base, table, partition_by=["month"])
    months = [f"1995-{m:02d}" for m in range(1, 13)]
    stats: dict = {}
    pruned = read_delta(spark, table,
                        partition_filter={"month": months},
                        scan_stats=stats)
    cert = 0 < stats["files_scanned"] < stats["files_total"]
    return (
        pruned
        .filter(F.year("o_orderdate") == 1995)
        .groupBy("month")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select("month", "n_orders", "cents", F.lit(cert).alias("pruned"))
        .orderBy("month")
    )


@query(
    "cdc_delta_column_mapping",
    oracle="""
    SELECT CAST(o_custkey % 10 AS BIGINT) AS custmod,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS amount_cents,
           true AS zero_rewrite,
           true AS old_names_in_history
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def cdc_delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING, name mode (PROTOCOL.md; VERDICT r6
    next-round item 3): RENAME and DROP COLUMN as metadata-only
    commits — every schema field carries a stable physical parquet
    name, the reader scans physical names and projects to logical
    ones, so a rename touches ZERO data bytes (at 100 TB the
    difference between an ALTER TABLE and a petabyte rewrite).
    Lifecycle exercised: write -> enable mapping -> rename cents to
    amount_cents -> drop the status column — then a rollup over the
    renamed column through PRE-RENAME parquet. Certificates the
    oracle can't see: zero_rewrite gates that the data file list is
    byte-identical across both ALTERs; old_names_in_history gates
    that time travel to v0 still shows the ORIGINAL names against the
    same files (the schema is versioned log state)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        drop_column_delta,
        enable_column_mapping_delta,
        read_delta,
        rename_column_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_cm_q_")
    write_delta(base.repartition(4), table)                  # v0
    import os as _os

    def _files():
        return sorted(f for f in _os.listdir(table)
                      if f.endswith(".parquet"))

    before = _files()
    enable_column_mapping_delta(table)                       # v1
    rename_column_delta(table, "cents", "amount_cents")      # v2
    drop_column_delta(table, "o_orderstatus")                # v3
    zero_rewrite = _files() == before
    old_names = read_delta(spark, table, version=0).columns == [
        "o_orderkey", "o_custkey", "o_orderstatus", "cents"]
    return (
        read_delta(spark, table)
        .groupBy((F.col("o_custkey") % 10).cast("long").alias("custmod"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("amount_cents").cast("long").alias("amount_cents"),
        )
        .select("custmod", "n_orders", "amount_cents",
                F.lit(zero_rewrite).alias("zero_rewrite"),
                F.lit(old_names).alias("old_names_in_history"))
        .orderBy("custmod")
    )


@query(
    "source_protobuf_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v100,
           CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def source_protobuf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROTOBUF event-log source: events encode to canonical proto3
    wire bytes (operators/protobuf.py — varint/zigzag/fixed64,
    ascending field order, implicit-presence defaults omitted; the
    byte layer is certified against protobuf-java's UnknownFieldSet
    in tests/test_protobuf.py) in the standard writeDelimitedTo
    framing, one self-contained .pbstream per partition via
    mapInPandas; the decode side fans out over the FILE LIST and
    parses distributed — no message ever visits the driver (the
    pgoutput-roundtrip pattern). The oracle compares the decoded
    rollup against the original table: any drift in either codec
    direction breaks the hash."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.operators.protobuf import (
        encode_delimited,
        iter_delimited,
    )
    from postrack_spark.session import load_tables

    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    outdir = _tf.mkdtemp(prefix="pbstream_q_")

    def _encode(batches):
        import pandas as _pd

        rows = []
        for pdf in batches:
            rows.extend(zip(pdf["event_id"], pdf["user_id"],
                            pdf["event_type"], pdf["value"], pdf["ts_us"]))
        if not rows:
            return
        blob = encode_delimited(
            (int(a), int(b), str(c), float(d), int(e))
            for a, b, c, d, e in rows)
        path = _os.path.join(outdir, f"part-{uuid.uuid4().hex}.pbstream")
        with open(path, "wb") as f:
            f.write(blob)
        yield _pd.DataFrame([{"path": path, "n_records": len(rows)}])

    written = (ev.repartition(8, "event_id")
               .mapInPandas(_encode, "path string, n_records long")
               .collect())  # O(files) descriptor rows only
    paths = [r["path"] for r in written]

    def _decode(batches):
        import pandas as _pd

        for pdf in batches:
            for p in pdf["path"]:
                with open(p, "rb") as f:
                    blob = f.read()
                recs = list(iter_delimited(blob))
                if recs:
                    yield _pd.DataFrame(
                        recs, columns=["event_id", "user_id", "event_type",
                                       "value", "ts_us"])

    decoded = (
        spark.createDataFrame([(p,) for p in paths], "path string")
        .repartition(len(paths))
        .mapInPandas(_decode, "event_id long, user_id long,"
                              " event_type string, value double,"
                              " ts_us long")
    )
    return (
        decoded
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
             .cast("long").alias("v100"),
            F.min("ts_us").cast("long").alias("first_us"),
            F.max("ts_us").cast("long").alias("last_us"),
        )
        .orderBy("event_type")
    )


@query(
    "source_arrow_ipc_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
)
def source_arrow_ipc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW IPC STREAM source/sink (the Feather-v2 wire format, the
    lingua franca between Spark's own Arrow-batched Python workers,
    pandas, DuckDB, and every Arrow-native tool): each partition
    serializes to one self-contained .arrows file via pyarrow's IPC
    writer inside mapInPandas — zero-copy from the worker's existing
    Arrow batches — and the decode side fans out over the FILE LIST
    (no row visits the driver). The oracle-gated rollup closes the
    loop: any drift through the IPC boundary breaks the hash. At
    100 TB this is the cheap interchange lane — IPC files are the
    batches Spark already materializes for Python, written as-is."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    outdir = _tf.mkdtemp(prefix="arrow_ipc_q_")

    def _encode(batches):
        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.ipc as _ipc

        path = _os.path.join(outdir, f"part-{uuid.uuid4().hex}.arrows")
        writer = None
        n = 0
        for pdf in batches:
            t = _pa.Table.from_pandas(pdf, preserve_index=False)
            if writer is None:
                writer = _ipc.new_stream(path, t.schema)
            writer.write_table(t)
            n += len(pdf)
        if writer is None:
            return
        writer.close()
        yield _pd.DataFrame([{"path": path, "n_records": n}])

    written = (li.repartition(8, "l_returnflag", "qty")
               .mapInPandas(_encode, "path string, n_records long")
               .collect())  # O(files) descriptor rows only
    paths = [r["path"] for r in written]

    def _decode(batches):
        import pyarrow.ipc as _ipc

        for pdf in batches:
            for p in pdf["path"]:
                with _ipc.open_stream(p) as reader:
                    for batch in reader:
                        yield batch.to_pandas()

    decoded = (
        spark.createDataFrame([(p,) for p in paths], "path string")
        .repartition(len(paths))
        .mapInPandas(_decode,
                     "l_returnflag string, cents long, qty long")
    )
    return (
        decoded
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("cents"),
            F.sum("qty").cast("long").alias("qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "cdc_delta_generated_columns",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS pruned
    FROM orders
    WHERE year(o_orderdate) IN (1995, 1996)
    GROUP BY 1 ORDER BY 1
    """,
)
def cdc_delta_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta GENERATED COLUMNS (PROTOCOL.md writer feature: the
    expression lives in field metadata as delta.generationExpression):
    the table declares o_year = year(o_orderdate) ONCE at creation and
    partitions on it; every writer afterwards just sends business
    columns — the table computes the partition value, records it in
    partitionValues, and validates any writer that does supply the
    column (null-safe equality, the implicit-CHECK rule). This is the
    100 TB ingestion shape: N independent pipelines write to one
    partitioned table and NONE of them can mispartition it, because
    the derivation is table metadata, not pipeline code. The ``pruned``
    certificate gates that a year-range read pruned files from log
    metadata alone (0 < files_scanned < files_total)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey", "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_gen_q_")
    # creating write declares the derivation; the second append proves
    # later writers inherit it without knowing the expression
    halves = base.withColumn("h", F.col("o_orderkey") % 2)
    write_delta(halves.filter("h = 0").drop("h"), table,
                generated={"o_year": "cast(year(o_orderdate) as bigint)"},
                partition_by=["o_year"])
    write_delta(halves.filter("h = 1").drop("h"), table)
    stats: dict = {}
    pruned = read_delta(spark, table,
                        partition_filter={"o_year": [1995, 1996]},
                        scan_stats=stats)
    cert = 0 < stats["files_scanned"] < stats["files_total"]
    return (
        pruned
        .filter(F.col("o_year").isin(1995, 1996))
        .groupBy("o_year")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select("o_year", "n_orders", "cents", F.lit(cert).alias("pruned"))
        .orderBy("o_year")
    )


@query(
    "cdc_delta_ict_time_travel",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS keymod,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS ict_resolved
    FROM orders
    WHERE o_orderkey % 2 = 0
    GROUP BY 1 ORDER BY 1
    """,
)
def cdc_delta_ict_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta IN-COMMIT TIMESTAMPS (PROTOCOL.md writer feature): each
    commit records its own monotonic timestamp in a commitInfo action,
    and TIMESTAMP AS OF resolves from that — not from commit-file
    mtimes, which storage migrations, backups, and bucket copies
    rewrite wholesale. The lane proves the independence adversarially:
    after enabling the feature and committing twice, it pushes EVERY
    log file's mtime into the far future and still time-travels to the
    middle state by in-commit timestamp (under the mtime rule that
    read would raise 'precedes the first commit'). At 100 TB the
    feature is what keeps years of TIMESTAMP AS OF audit queries
    stable across a storage-level table move."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        _commit_info_ict,
        _log_path,
        enable_in_commit_timestamps_delta,
        read_delta,
        version_at_timestamp_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_ict_q_")
    write_delta(base.filter("o_orderkey % 2 = 0"), table)   # v0
    enable_in_commit_timestamps_delta(table)                 # v1
    write_delta(base.filter("o_orderkey % 2 = 1"), table)   # v2
    ict_v2 = _commit_info_ict(table, 2)
    for v in range(3):                                       # mtime sabotage
        _os.utime(_log_path(table, v), (2**31, 2**31))
    cert = version_at_timestamp_delta(table, ict_v2 - 1) == 1
    return (
        read_delta(spark, table, timestamp_ms=ict_v2 - 1)
        .groupBy((F.col("o_orderkey") % 4).cast("long").alias("keymod"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select("keymod", "n_orders", "cents",
                F.lit(cert).alias("ict_resolved"))
        .orderBy("keymod")
    )


@query(
    "cdc_delta_row_tracking",
    oracle="""
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS keymod,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS ids_unique,
           true AS ids_stable
    FROM orders
    WHERE o_orderkey % 10 <> 3
    GROUP BY 1 ORDER BY 1
    """,
)
def cdc_delta_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta ROW TRACKING (PROTOCOL.md): stable 64-bit row ids —
    baseRowId per file + physical position for fresh rows, high-water
    mark in the delta.rowTracking domainMetadata, ids MATERIALIZED
    into a hidden physical column when OPTIMIZE rewrites files. The
    lane runs the full lifecycle: write, ENABLE (backfills live files
    with ids, zero data IO), append (fresh ids above the mark),
    deletion-vector delete (files never rewritten, so survivors keep
    their ids for free — the MOR synergy the feature exists for),
    then OPTIMIZE. Certificates the oracle can't see: ``ids_unique``
    gates distinctness after the whole lifecycle; ``ids_stable``
    gates that every surviving row carries the SAME id before and
    after compaction — the property that makes row ids usable as CDC
    join keys across table maintenance at 100 TB."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        compact_delta,
        enable_row_tracking_delta,
        read_delta_with_row_ids,
        write_delta,
    )
    from postrack_spark.streaming.deletion_vectors import delete_delta_dv

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_rt_q_")
    write_delta(base.filter("o_orderkey % 2 = 0"), table)   # pre-feature
    enable_row_tracking_delta(table)                         # backfill
    write_delta(base.filter("o_orderkey % 2 = 1"), table)   # fresh ids
    delete_delta_dv(spark, table, "o_orderkey % 10 = 3")    # ids survive
    mid = read_delta_with_row_ids(spark, table).select(
        "o_orderkey", F.col("_row_id").alias("_rid_before")).localCheckpoint()
    compact_delta(spark, table, target_files=4)              # materializes
    post = read_delta_with_row_ids(spark, table)
    n = post.count()
    ids_unique = post.select("_row_id").distinct().count() == n
    ids_stable = (
        post.join(mid, "o_orderkey")
        .filter(F.col("_row_id") != F.col("_rid_before")).count() == 0
        and mid.count() == n)
    return (
        post
        .groupBy((F.col("o_orderkey") % 4).cast("long").alias("keymod"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select("keymod", "n_orders", "cents",
                F.lit(ids_unique).alias("ids_unique"),
                F.lit(ids_stable).alias("ids_stable"))
        .orderBy("keymod")
    )


@query(
    "quality_delta_check_constraints",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_rows,
           CAST(sum(cents) + 1 AS BIGINT) AS cents,
           true AS bad_write_rejected,
           true AS lying_constraint_refused,
           true AS survives_log_cleanup
    FROM base
    """,
)
def quality_delta_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHECK CONSTRAINTS (delta.constraints.* in the table
    configuration — delta-spark's key scheme): declared quality gates
    that the TABLE enforces on every writer, batch or streaming,
    instead of hoping each pipeline remembered to validate. Three
    certificates the oracle can't see: (1) adding a constraint the
    EXISTING data violates is refused (a constraint that's already a
    lie must not commit); (2) a violating batch is rejected with the
    offending row named, while a clean one-row append (+1 cent — the
    rollup proves exactly it landed) passes; (3) the constraint
    SURVIVES checkpoint + log cleanup — the configuration map rides
    in the parquet checkpoint's declared schema, closing the
    pyarrow-drops-undeclared-keys trap for metaData the same way the
    DV descriptor closed it for add actions."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        add_check_constraint_delta,
        checkpoint_delta,
        clean_log_delta,
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_chk_q_")
    write_delta(base.repartition(4), table)
    lying_refused = False
    try:
        add_check_constraint_delta(spark, table, "rich", "cents >= 10000000")
    except ValueError:
        lying_refused = True
    add_check_constraint_delta(spark, table, "nonneg", "cents >= 0")
    bad_rejected = False
    try:
        write_delta(
            spark.createDataFrame([(1, -5)], "o_orderkey long, cents long"),
            table)
    except ValueError:
        bad_rejected = True
    checkpoint_delta(table)
    clean_log_delta(table)
    survives = False
    try:
        write_delta(
            spark.createDataFrame([(2, -7)], "o_orderkey long, cents long"),
            table)
    except ValueError:
        survives = True
    write_delta(
        spark.createDataFrame([(3, 1)], "o_orderkey long, cents long"),
        table)
    return read_delta(spark, table).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("cents"),
    ).select(
        "n_rows", "cents",
        F.lit(bad_rejected).alias("bad_write_rejected"),
        F.lit(lying_refused).alias("lying_constraint_refused"),
        F.lit(survives).alias("survives_log_cleanup"),
    )


@query(
    "cdc_delta_shallow_clone",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS rows_src,
           CAST((SELECT count(*) FROM base
                 WHERE o_custkey % 4 <> 1) AS BIGINT) AS rows_clone,
           CAST((SELECT sum(cents) FROM base
                 WHERE o_custkey % 4 <> 1) AS BIGINT) AS cents_clone,
           true AS zero_copy,
           true AS src_untouched
    FROM base LIMIT 1
    """,
)
def cdc_delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta SHALLOW CLONE (delta_log.clone_delta) — the zero-copy
    dev/test fork: the clone's version-0 commit references the source
    snapshot's parquet BY ABSOLUTE PATH (O(metadata), not one data
    byte copied — at 100 TB that is the difference between an instant
    fork and a day of copying), then a destructive COW DELETE runs
    against the CLONE while the source keeps serving. Two certificates
    the oracle can't see: zero_copy (the clone directory holds NO
    parquet at clone time — only the log) and src_untouched (the
    source's parquet file list is byte-identical after the clone's
    delete; the delete's rewrite landed in the clone and its removes
    popped the ABSOLUTE action keys — the _action_keys_for rule that
    makes COW correct on clones). Values certify the fork semantics:
    rows_src re-reads the source AFTER the clone's delete."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        clone_delta,
        delete_delta,
        read_delta,
        write_delta,
    )

    t = load_tables(spark, sf_dir)
    src = _tf.mkdtemp(prefix="delta_clone_src_")
    write_delta(
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartitionByRange(8, "o_custkey"),
        src,
    )

    def _parquets(d: str) -> list[tuple[str, int]]:
        return sorted(
            (f, _os.path.getsize(_os.path.join(d, f)))
            for f in _os.listdir(d) if f.endswith(".parquet"))

    src_files = _parquets(src)
    dst = _tf.mkdtemp(prefix="delta_clone_dst_")
    clone_delta(src, dst)
    zero_copy = _parquets(dst) == []
    delete_delta(spark, dst, "o_custkey % 4 = 1")
    src_untouched = _parquets(src) == src_files
    src_read = read_delta(spark, src).agg(
        F.count("*").cast("long").alias("rows_src"))
    clone_read = read_delta(spark, dst).agg(
        F.count("*").cast("long").alias("rows_clone"),
        F.sum("cents").cast("long").alias("cents_clone"),
    )
    return src_read.crossJoin(clone_read).select(
        "rows_src", "rows_clone", "cents_clone",
        F.lit(zero_copy).alias("zero_copy"),
        F.lit(src_untouched).alias("src_untouched"),
    )


@query(
    "cdc_delta_restore_rollforward",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS rows_v0,
           CAST((SELECT count(*) FROM base
                 WHERE o_custkey % 5 <> 2) AS BIGINT) AS rows_after_delete,
           CAST((SELECT count(*) FROM base) AS BIGINT) AS rows_restored,
           CAST((SELECT sum(cents) FROM base) AS BIGINT) AS cents_restored,
           true AS rolled_forward,
           true AS no_data_io
    FROM base LIMIT 1
    """,
)
def cdc_delta_restore_rollforward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE (delta_log.restore_delta) — the undo button every
    lakehouse operator reaches for after a bad write: a COW DELETE
    drops a customer slice, RESTORE rolls the table back to the
    pre-delete snapshot, and the certificate row proves the protocol's
    three restore laws. (1) Roll-FORWARD: restore commits a NEW
    version on top (rolled_forward gates latest == delete_version + 1
    AND that the deleted intermediate state is still time-travelable —
    history is append-only, so the incident itself stays auditable).
    (2) Exactness: rows/cents after restore hash-match the original
    table (the oracle recomputes them from source). (3) Zero data IO:
    the restore commit re-ADDS the original files by reference — the
    no_data_io certificate pins the post-restore live file set to the
    v0 file set byte-for-byte (file-level diff, O(metadata); the
    oracle cannot see files, so the query gates the certificate)."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        _snapshot_actions,
        delete_delta,
        read_delta,
        restore_delta,
        write_delta,
    )

    t = load_tables(spark, sf_dir)
    table = _tf.mkdtemp(prefix="delta_restore_q_")
    v0 = write_delta(
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartitionByRange(8, "o_custkey"),
        table,
    )

    def _live_files(version=None):
        acts, _s, _v = _snapshot_actions(table, version)
        return sorted(
            (p, _os.path.getsize(_os.path.join(table, p))) for p, _a in acts)

    files_v0 = _live_files(v0)
    v_del, _rw, _tot = delete_delta(spark, table, "o_custkey % 5 = 2")
    v_rst = restore_delta(table, v0)
    rolled_forward = v_rst == v_del + 1
    no_data_io = _live_files() == files_v0
    after_delete = read_delta(spark, table, version=v_del).agg(
        F.count("*").cast("long").alias("rows_after_delete"))
    v0_read = read_delta(spark, table, version=v0).agg(
        F.count("*").cast("long").alias("rows_v0"))
    restored = read_delta(spark, table).agg(
        F.count("*").cast("long").alias("rows_restored"),
        F.sum("cents").cast("long").alias("cents_restored"),
    )
    return v0_read.crossJoin(after_delete).crossJoin(restored).select(
        "rows_v0", "rows_after_delete", "rows_restored", "cents_restored",
        F.lit(rolled_forward).alias("rolled_forward"),
        F.lit(no_data_io).alias("no_data_io"),
    )


@query(
    "streaming_delta_gdpr_purge",
    oracle="""
    WITH forget AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o
    WHERE o.o_custkey NOT IN (SELECT user_id FROM forget)
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def streaming_delta_gdpr_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR purge against a Delta table: forget requests
    arrive as a STREAM (here: the user ids behind 'error' events) and
    each micro-batch is applied as a copy-on-write key DELETE
    (delta_log.foreach_batch_delta_delete — broadcast semi-join file
    detection, anti-join survivor rewrite, txn-marker idempotence under
    at-least-once replays; deletion is naturally idempotent, so the
    marker crash window degrades to at-least-once with identical
    effect). The final snapshot must equal the batch NOT IN — which
    also pins the cross-batch composition: keys purged in batch 1 must
    STAY purged while batch 2 rewrites other files.

    This is the lakehouse half of the governance story next to
    cdc_forget_keys_purge (versioned-view purge): at 100 TB the purge
    cost per batch is file-local (forget sets are human-scale and
    broadcast; only files containing a match rewrite), and the log
    retains pre-purge versions for exactly the vacuum retention the
    compliance window allows."""
    import tempfile as _tf

    from postrack_spark.session import fan_out, load_tables
    from postrack_spark.streaming.delta_log import (
        foreach_batch_delta_delete,
        read_delta,
        write_delta,
    )
    from postrack_spark.streaming.runner import events_stream

    t = load_tables(spark, sf_dir)
    table = _tf.mkdtemp(prefix="delta_gdpr_")
    ckpt = _tf.mkdtemp(prefix="delta_gdpr_ckpt_")
    write_delta(
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartitionByRange(8, "o_custkey"),
        table,
    )
    forget = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("o_custkey"))
    )
    q = (
        forget.writeStream.foreachBatch(
            foreach_batch_delta_delete(table, "o_custkey")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = fan_out(read_delta(spark, table))
    return (
        snap.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "streaming_delta_dv_purge",
    oracle="""
    WITH forget AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders o
    WHERE o.o_custkey NOT IN (SELECT user_id FROM forget)
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def streaming_delta_dv_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming GDPR purge via DELETION VECTORS — the merge-on-read
    twin of streaming_delta_gdpr_purge (same forget stream, SAME
    oracle): each micro-batch of forget keys lands as per-file roaring
    bitmaps (deletion_vectors.foreach_batch_delta_dv_delete) instead
    of a copy-on-write rewrite, so the purge cost per batch is
    O(matches) regardless of file count — the right half of the
    crossover when forget requests are frequent and scattered (the
    lakehouse stress lane's measured case). Cross-batch composition is
    bitmap UNION (keys purged in batch 1 stay purged while batch 2
    marks other rows of the same files — the COW twin proves the same
    property by rewrite); replays are no-ops via the txn marker, and
    the marker crash window degrades to at-least-once with identical
    effect because union is idempotent. The final snapshot reads
    through the DV filter and must equal the batch NOT IN."""
    import tempfile as _tf

    from postrack_spark.session import fan_out, load_tables
    from postrack_spark.streaming.delta_log import read_delta, write_delta
    from postrack_spark.streaming.deletion_vectors import (
        foreach_batch_delta_dv_delete,
    )
    from postrack_spark.streaming.runner import events_stream

    t = load_tables(spark, sf_dir)
    table = _tf.mkdtemp(prefix="delta_dv_gdpr_")
    ckpt = _tf.mkdtemp(prefix="delta_dv_gdpr_ckpt_")
    write_delta(
        t["orders"]
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .repartitionByRange(8, "o_custkey"),
        table,
    )
    forget = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("o_custkey"))
    )
    q = (
        forget.writeStream.foreachBatch(
            foreach_batch_delta_dv_delete(table, "o_custkey")
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = fan_out(read_delta(spark, table))
    return (
        snap.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("o_orderstatus")
    )


from postrack_spark.queries.stats_queries import FRIEDMAN_ORACLE as _FRIEDMAN_ORACLE  # noqa: E501


@query("streaming_friedman_state", oracle=_FRIEDMAN_ORACLE)
def streaming_friedman_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Friedman-test maintenance: the (day, event_type) count
    cells — the sufficient statistics of the whole blocked-rank family
    — are ADDITIVE, so they fold through the exactly-once versioned
    sink at O(batch) per batch with O(days x types) state; at read
    time the SAME block_ranks_from_daily + friedman_from_rk pipeline
    as the batch agg_friedman_test assembles midranks and the
    tie-corrected statistic (shared oracle: the statistic is
    nonlinear and could never stream, its count cells do — the
    fisher/richness/survival factoring). Live use: a 'did today's
    traffic mix shift across types' alarm maintained without
    re-scanning event history."""
    from postrack_spark.queries.stats_queries import (
        block_ranks_from_daily,
        friedman_from_rk,
    )
    from postrack_spark.streaming.runner import events_stream
    from postrack_spark.streaming.sinks import foreach_batch_fold

    ev = events_stream(spark, sf_dir)
    cells = ev.select(
        F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("day"),
        F.col("event_type").alias("g"),
        F.lit(1).cast("long").alias("c"),
    )
    target, q = foreach_batch_fold(cells, group_cols=["day", "g"], sum_cols=["c"])
    q.awaitTermination()
    daily = read_view(spark, target).filter(F.col("c") > 0)
    return friedman_from_rk(block_ranks_from_daily(spark, daily))


from postrack_spark.queries.stats_queries import COCHRAN_ORACLE as _COCHRAN_ORACLE  # noqa: E501


@query("streaming_cochran_state", oracle=_COCHRAN_ORACLE)
def streaming_cochran_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Cochran's Q maintenance — the MULTIPLICITY-VIEW trick
    (cdc_distinct_minmax_view's discipline) applied to a test
    statistic: Q needs the DISTINCT (user, type) success pairs, and
    distinct is not additive, but the pair MULTIPLICITY is — fold
    (user, type, +1) cells through the exactly-once sink and the
    distinct relation is the rows with c > 0 at read time (retractions
    would fold -1 through the same state). Assembly reuses the batch
    twin's cochran_q_from_pairs; shared oracle. State is O(users x
    types observed); each micro-batch costs O(batch) partial-agg."""
    from postrack_spark.queries.stats_queries import cochran_q_from_pairs
    from postrack_spark.streaming.runner import events_stream
    from postrack_spark.streaming.sinks import foreach_batch_fold

    ev = events_stream(spark, sf_dir)
    cells = ev.select(
        "user_id",
        F.col("event_type").alias("g"),
        F.lit(1).cast("long").alias("c"),
    )
    target, q = foreach_batch_fold(cells, group_cols=["user_id", "g"], sum_cols=["c"])
    q.awaitTermination()
    pu = (
        read_view(spark, target)
        .filter(F.col("c") > 0)
        .select("user_id", F.col("g").alias("event_type"))
    )
    return cochran_q_from_pairs(pu)


@query(
    "cdc_delta_checkpoint_replay",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    final AS (
      SELECT * FROM base
      WHERE o_orderkey % 4 <> 0 AND o_custkey NOT BETWEEN 40 AND 60
      UNION ALL
      SELECT * FROM base WHERE o_orderkey % 4 = 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS log_cleaned,
           true AS time_travel_blocked
    FROM final
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_delta_checkpoint_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-protocol CHECKPOINT lane, end to end: three appends build
    the table (orderkey mod 4 in 1..3), a copy-on-write DELETE removes
    a custkey range, a parquet checkpoint + ``_last_checkpoint`` is
    written and the covered JSON commits are CLEANED — so the final
    append (mod 4 = 0, deliberately overlapping the deleted custkey
    range: those rows must REAPPEAR because the delete preceded them)
    replays as checkpoint-seed + JSON tail. The rollup therefore can
    only be right if the reader truly reconstructs state from the
    checkpoint; two gated certificates ride along — log_cleaned (no
    JSON at or below the checkpoint survives) and time_travel_blocked
    (pre-checkpoint time travel raises, the protocol's honest answer
    after metadata cleanup). At 100 TB checkpoints turn snapshot
    resolution from O(all commits) into O(live files + recent tail) —
    the scale story is the metadata path, not the data path (which
    stays distributed parquet either way)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        _list_versions,
        checkpoint_delta,
        clean_log_delta,
        delete_delta,
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_cp_q_")
    for m in (1, 2, 3):
        write_delta(
            base.filter(F.col("o_orderkey") % 4 == m)
            .repartitionByRange(4, "o_custkey"),
            table,
        )
    delete_delta(spark, table, "o_custkey BETWEEN 40 AND 60")
    cp = checkpoint_delta(table)
    clean_log_delta(table)
    log_cleaned = all(v > cp for v in _list_versions(table))
    write_delta(base.filter(F.col("o_orderkey") % 4 == 0), table)
    try:
        read_delta(spark, table, version=0)
        time_travel_blocked = False
    except FileNotFoundError:
        time_travel_blocked = True
    return (
        read_delta(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "cents",
            F.lit(log_cleaned).alias("log_cleaned"),
            F.lit(time_travel_blocked).alias("time_travel_blocked"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "streaming_tws_session_timers",
    oracle="""
    WITH ok AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ),
    cut AS (SELECT max(us) AS mx FROM ok),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM ok
      WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    sess AS (
      SELECT user_id, us,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    agg AS (
      SELECT user_id, sid,
             min(us) AS start_us, max(us) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events,
             max(sid) OVER (PARTITION BY user_id) AS last_sid
      FROM sess GROUP BY user_id, sid
    ),
    emitted AS (
      SELECT a.user_id, a.start_us, a.end_us, a.n_events
      FROM agg a CROSS JOIN cut
      WHERE a.sid < a.last_sid
         OR (a.end_us + 1800000000) // 1000 < cut.mx // 1000 - 1800000
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum((end_us - start_us) // 1000000) AS BIGINT) AS total_secs
    FROM emitted
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_tws_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session expiry via transformWithStateInPandas EVENT-TIME TIMERS
    — the timer half of Spark 4's arbitrary-state API (RegisterTimer /
    DeleteTimer / handleExpiredTimer under timeMode='eventTime'),
    running for real over the pbstub protobuf runtime and RocksDB
    state store; the applyInPandasWithState twin is
    streaming_session_expiry_timeout and the EMISSION RULE AND ORACLE
    ARE IDENTICAL (closed sessions from the data path; the trailing
    session iff the final sentinel-batch watermark passed end + gap) —
    so the two stateful APIs are pinned to agree with each other
    through one shared relational model. Same deterministic admission
    (_ordered_event_admission: eight time slices + the sentinel flush
    file that forces timers to fire in a guaranteed DATA batch)."""
    from postrack_spark.streaming.stateful import (
        ensure_protobuf,
        rocksdb_state,
        session_expiry_tws,
    )

    if not ensure_protobuf(spark):  # pragma: no cover - shim is stdlib
        raise RuntimeError("protobuf unavailable and pbstub failed to load")
    dest = _ordered_event_admission(spark, sf_dir)
    schema = spark.read.parquet(dest).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(dest)
        .withWatermark("ts", "30 minutes")
        .select("user_id", F.unix_micros("ts").alias("us"), "ts")
    )
    with rocksdb_state(spark):
        out = run_to_memory(
            session_expiry_tws(stream, gap_minutes=30),
            _qname("tws_sess"),
            output_mode="append",
        )
    return (
        out.filter(F.col("user_id") >= 0)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum(F.expr("(end_us - start_us) DIV 1000000"))
            .cast("long")
            .alias("total_secs"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_chained_stateful_dedup_window",
    oracle="""
    WITH dedup AS (
      SELECT DISTINCT ON (event_id) event_id, event_type, ts
      FROM events
    )
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           CAST(count(*) AS BIGINT) AS n
    FROM dedup
    GROUP BY 1, 2
    ORDER BY event_type, hour
    """,
)
def streaming_chained_stateful_dedup_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED stateful operators in one streaming query —
    dropDuplicatesWithinWatermark feeding a tumbling-window aggregate
    (the multi-stateful pipeline Spark only supports in append mode,
    exercising cross-operator watermark propagation): every event
    arrives TWICE in the first batch, the dedup state must collapse
    the copies, and the window state downstream must count each id
    once. Emission is made RACE-FREE without modeling the eviction
    lag: two far-future sentinel batches (max+10h, then +1ms) advance
    the watermark past every real window's end — the second sentinel
    exists because eviction uses the PREVIOUS batch's watermark, and a
    racy trailing no-data batch can only move the watermark 1 ms,
    which cannot change the emission set (the _ordered_event_admission
    argument); sentinel windows themselves end above the final
    watermark and never emit, so the oracle is simply the full
    dedup-then-rollup with no boundary term. Scale: both state stores
    are keyed shuffles (id, then window x type); state is O(ids within
    the watermark horizon) + O(open windows) — the horizon is what
    dropDuplicatesWithinWatermark exists to bound."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from postrack_spark.session import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("event_id", "event_type", "ts")
    doubled = ev.unionByName(ev)
    mx = ev.agg(F.max("ts").alias("m"))
    s1 = mx.select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit("__flush").alias("event_type"),
        (F.col("m") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
    )
    s2 = mx.select(
        F.lit(-2).cast("long").alias("event_id"),
        F.lit("__flush").alias("event_type"),
        (F.col("m") + F.expr("INTERVAL 10 HOURS")
         + F.expr("INTERVAL 1 MILLISECOND")).alias("ts"),
    )
    scratch = _tf.mkdtemp(prefix="chained_")
    dest = _os.path.join(scratch, "all")
    _os.makedirs(dest)
    for i, df in enumerate((doubled, s1, s2)):
        tmp = _os.path.join(scratch, f"t{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
        p = _os.path.join(dest, f"f{i:03d}.parquet")
        _shutil.copy(src, p)
        _os.utime(p, (1e9 + i, 1e9 + i))
    schema = spark.read.parquet(dest).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dest)
        .withWatermark("ts", "30 minutes")
    )
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).count()
    out = run_to_memory(agg, _qname("chained"), output_mode="append")
    return (
        out.filter(F.col("event_type") != "__flush")
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("hour"),
            F.col("count").cast("long").alias("n"),
        )
        .orderBy("event_type", "hour")
    )


@query(
    "streaming_dynamic_gap_sessions",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN event_type = 'purchase' THEN 3600000000
                  ELSE 1800000000 END AS gap_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, us,
             CASE WHEN max(us + gap_us) OVER w IS NULL
                    OR us > max(us + gap_us) OVER w
                  THEN 1 ELSE 0 END AS new_s
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sess AS (
      SELECT user_id,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(count(DISTINCT sid) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window with a DYNAMIC per-event gap — purchases hold a
    session open for 60 minutes, everything else 30 (the
    engagement-weighted sessionization fixed-gap windows can't
    express): each event contributes the interval [ts, ts+gap(event))
    and overlapping intervals MERGE transitively. The oracle models
    exactly that interval-union semantics relationally: a session
    breaks before an event iff its time exceeds the running maximum of
    all previous interval ENDS (cumulative max over a ROWS frame with
    the event_id tie-break — the prefix_sums total-order rule; a plain
    lag-against-previous model is WRONG here because a long-gap event
    can bridge over short-gap successors). Merge-on-equality pinned:
    ties merge on both engines. Complete mode equals the batch
    interval union on finite input."""
    from postrack_spark.streaming.runner import events_stream

    ev = events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes"))
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_memory(sess, _qname("dyn_sessions"), output_mode="complete")
    return (
        out.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "streaming_union_watermark_policy",
    oracle="""
    WITH b AS (
      SELECT max(epoch_us(ts)) AS mx FROM events WHERE event_type <> 'purchase'
    ),
    wm AS (SELECT mx - 1800000000 AS w FROM b),
    win AS (
      SELECT event_type,
             epoch_us(date_trunc('hour', ts)) AS ws,
             epoch_us(date_trunc('hour', ts)) + 3600000000 AS we,
             count(*) AS c
      FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type,
           strftime(make_timestamp(ws), '%Y-%m-%d %H:00') AS hour,
           CAST(c AS BIGINT) AS n
    FROM win CROSS JOIN wm
    WHERE we <= wm.w
    ORDER BY event_type, hour
    """,
)
def streaming_union_watermark_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-watermark queries under the default MIN policy: purchases
    and non-purchases arrive as two independently-watermarked streams
    (2 h vs 30 min delay) unioned into one windowed aggregate — the
    global watermark is the MINIMUM of the inputs', so the slow
    stream gates emission for everyone (the operational surprise this
    query pins to an exact oracle). The boundary is made race-free by
    construction: after both data batches, two far-future sentinel
    batches advance only the PURCHASE stream's watermark — the min is
    the other stream's (max - 30 min) throughout, so neither the
    eviction lag nor a racy trailing batch can change the emission
    set. Emitted = windows whose END <= that min; later windows stay
    buffered — counted by neither side."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from postrack_spark.session import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("event_id", "event_type", "ts")
    pur = ev.filter(F.col("event_type") == "purchase")
    rest = ev.filter(F.col("event_type") != "purchase")
    mx = pur.agg(F.max("ts").alias("m"))
    s1 = mx.select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit("purchase").alias("event_type"),
        (F.col("m") + F.expr("INTERVAL 100 HOURS")).alias("ts"),
    )
    s2 = mx.select(
        F.lit(-2).cast("long").alias("event_id"),
        F.lit("purchase").alias("event_type"),
        (F.col("m") + F.expr("INTERVAL 100 HOURS")
         + F.expr("INTERVAL 1 MILLISECOND")).alias("ts"),
    )
    scratch = _tf.mkdtemp(prefix="wm_policy_")
    dirs = {}
    for lane, parts in (("pur", (pur, s1, s2)), ("rest", (rest,))):
        dest = _os.path.join(scratch, lane)
        _os.makedirs(dest)
        for i, df in enumerate(parts):
            tmp = _os.path.join(scratch, f"t_{lane}_{i}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
            p = _os.path.join(dest, f"f{i:03d}.parquet")
            _shutil.copy(src, p)
            _os.utime(p, (1e9 + i, 1e9 + i))
        dirs[lane] = dest
    schema = spark.read.parquet(dirs["pur"]).schema
    sp = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["pur"])
        .withWatermark("ts", "2 hours")
    )
    sr = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dirs["rest"])
        .withWatermark("ts", "30 minutes")
    )
    agg = sp.unionByName(sr).groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).count()
    out = run_to_memory(agg, _qname("wm_policy"), output_mode="append")
    # sentinel windows end far above the min watermark and never emit,
    # so no sentinel filtering is needed on the way out
    return out.select(
        "event_type",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00").alias("hour"),
        F.col("count").cast("long").alias("n"),
    ).orderBy("event_type", "hour")


_DS_PRUNE_ORACLE = """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS pruned,
           true AS parity
    FROM orders
    WHERE year(o_orderdate) = 1995
    GROUP BY 1 ORDER BY 1
"""


def _ds_month_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    from postrack_spark.session import load_tables

    return load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


_DS_MONTHS = [f"1995-{m:02d}" for m in range(1, 13)]


def _ds_prune_certified(spark: SparkSession, fmt: str, table: str,
                        lib_stats: dict, **prune) -> DataFrame:
    """Shared SQL-lane half of the DataSource pruning queries: register
    a TEMPORARY VIEW over the table USING the named Python source, with
    the library read's own pruning argument (``prune``: partition_filter
    or stats_filter) passed as a JSON view OPTION, aggregate through
    plain spark.sql with the month WHERE, and certify (a) the planner
    pruned (0 < scanned < total, from the scan_report side file the
    planner writes) and (b) PARITY — the DataSource pruned exactly the
    file set the library path pruned (lib_stats from
    read_delta/read_iceberg scan_stats). The count() materializes the
    plan so the report exists before the certificate reads it."""
    import json as _json
    import os as _os

    from postrack_spark.sources.lakehouse_ds import (
        register_lakehouse_sources,
    )

    register_lakehouse_sources(spark)
    rep = _os.path.join(table, f"_scan_report_{uuid.uuid4().hex}.json")
    view = f"lhds_{uuid.uuid4().hex}"
    opts = "".join(f", {k} '{_json.dumps(v)}'" for k, v in prune.items())
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} USING {fmt} "
        f"OPTIONS (path '{table}', scan_report '{rep}'{opts})")
    months = ", ".join(f"'{m}'" for m in _DS_MONTHS)
    sql_df = spark.sql(f"""
        SELECT month,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM {view}
        WHERE month IN ({months})
        GROUP BY month ORDER BY month
    """)
    sql_df.count()  # plan once: partitions() writes the scan report
    with open(rep) as f:
        r = _json.load(f)
    pruned = 0 < r["files_scanned"] < r["files_total"]
    parity = (r["files_total"] == lib_stats["files_total"]
              and r["files_scanned"] == lib_stats["files_scanned"])
    return sql_df.select(
        "month", "n_orders", "cents",
        F.lit(pruned).alias("pruned"), F.lit(parity).alias("parity"))


@query("sql_datasource_delta_pruning", oracle=_DS_PRUNE_ORACLE)
def sql_datasource_delta_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH DataSource + SQL lane over a partitioned Delta table
    (sources/lakehouse_ds.py pydelta; VERDICT r7 next-round item 1):
    the table is written through the library (write_delta
    partition_by=month), then read ENTIRELY through SQL —
    CREATE TEMPORARY VIEW … USING pydelta OPTIONS (partition_filter
    '{"month": [...]}') + a plain GROUP BY with a WHERE month IN (…).
    The option goes to delta_log.plan_scan_delta — read_delta's own
    planner — which prunes files from the log's partitionValues BEFORE
    any footer opens; the WHERE filters rows (pruning from Spark's
    pushed filters is unsound here, sources/lakehouse_ds.py explains
    why). Certificates: ``pruned`` gates
    0 < files_scanned < files_total from the planner's scan report;
    ``parity`` gates that the pruned file set EQUALS what the library
    path (read_delta partition_filter= + scan_stats=) plans — the SQL
    lane and the Python lane share one pruning semantics. At 100 TB
    the lane matters because a user's first touch of a lakehouse
    table is spark.sql, and a SQL lane that scanned all files while
    the library pruned would be a silent 100× regression."""
    import tempfile as _tf

    from postrack_spark.streaming.delta_log import read_delta, write_delta

    base = _ds_month_base(spark, sf_dir)
    table = _tf.mkdtemp(prefix="lhds_delta_q_")
    write_delta(base, table, partition_by=["month"])
    lib_stats: dict = {}
    prune = {"month": _DS_MONTHS}
    read_delta(spark, table, partition_filter=prune, scan_stats=lib_stats)
    return _ds_prune_certified(spark, "pydelta", table, lib_stats,
                               partition_filter=prune)


@query("sql_datasource_iceberg_pruning", oracle=_DS_PRUNE_ORACLE)
def sql_datasource_iceberg_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg half of the DataSource + SQL lane (pyiceberg):
    identity-partitioned append through the library, read through
    CREATE TEMPORARY VIEW … USING pyiceberg OPTIONS (partition_filter
    '{"month": [...]}') + plain SQL with the month WHERE. The option
    prunes during plan_scan_iceberg's manifest walk — the EXACT
    planner read_iceberg uses (shared by construction), which the
    ``parity`` certificate gates against the library path's
    scan_stats. The option names a partition FIELD, so hidden
    transforms (bucket/year) prune through it the same way."""
    import tempfile as _tf

    from postrack_spark.streaming.iceberg import append_iceberg, read_iceberg

    base = _ds_month_base(spark, sf_dir)
    table = _tf.mkdtemp(prefix="lhds_ice_q_")
    append_iceberg(base, table, partition_by=[("month", "identity")])
    lib_stats: dict = {}
    prune = {"month": _DS_MONTHS}
    read_iceberg(spark, table, partition_filter=prune, scan_stats=lib_stats)
    return _ds_prune_certified(spark, "pyiceberg", table, lib_stats,
                               partition_filter=prune)


@query(
    "cdc_delta_multipart_checkpoint",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS parts_on_disk,
           true AS log_cleaned
    FROM base
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_delta_multipart_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PART Delta checkpoint (protocol
    %020d.checkpoint.%010d.%010d.parquet; VERDICT r7 next-round item
    2): two appends build the table, checkpoint_delta(parts=3,
    spark=…) writes the part set FROM A DISTRIBUTED FRAME — each
    worker partition encodes and writes its own parquet parts, so no
    single process ever holds the full action table in columnar form
    (at 10⁵-10⁶ add actions with stats, the single-part driver pyarrow
    table is the metadata ceiling this removes) — and the covered JSON
    commits are cleaned, so the final rollup can only be right if
    replay truly reassembles state from ALL parts (adds spread
    round-robin; reading a subset would drop files — which is why an
    incomplete part set raises rather than partially loads).
    Certificates: parts_on_disk (exactly the declared 3-part set,
    pointer ``parts`` field included), log_cleaned (no covered JSON
    survives)."""
    import json as _json
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        _list_versions,
        checkpoint_delta,
        clean_log_delta,
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_mpcp_q_")
    write_delta(base.filter(F.col("o_orderkey") % 2 == 1)
                .repartitionByRange(4, "o_orderkey"), table)
    write_delta(base.filter(F.col("o_orderkey") % 2 == 0)
                .repartitionByRange(4, "o_orderkey"), table)
    cp = checkpoint_delta(table, parts=3, spark=spark)
    log = _os.path.join(table, "_delta_log")
    part_names = sorted(n for n in _os.listdir(log)
                        if ".checkpoint." in n and n.endswith(".parquet"))
    with open(_os.path.join(log, "_last_checkpoint")) as f:
        pointer = _json.load(f)
    parts_on_disk = (
        pointer.get("parts") == 3
        and part_names == [f"{cp:020d}.checkpoint.{i:010d}.{3:010d}.parquet"
                           for i in (1, 2, 3)])
    clean_log_delta(table)
    log_cleaned = all(v > cp for v in _list_versions(table))
    return (
        read_delta(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus", "n_orders", "cents",
            F.lit(parts_on_disk).alias("parts_on_disk"),
            F.lit(log_cleaned).alias("log_cleaned"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "cdc_delta_id_mapping_uniform_sync",
    oracle="""
    SELECT CAST(o_custkey % 8 AS BIGINT) AS custmod,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS amount_cents,
           true AS field_ids_stamped,
           true AS ids_match,
           true AS zero_rewrite
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def cdc_delta_id_mapping_uniform_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mapping mode 'id' + UniForm sync of a MAPPED table
    (VERDICT r7 next-round item 4, both halves): an id-mode Delta
    table (created empty, enabled, then written — delta-spark's
    new-tables-only rule) stamps parquet.field.id into every data
    file and reads resolve BY ID; after a rename (metadata-only), the
    table syncs to Iceberg metadata whose field-ids EQUAL the
    delta.columnMapping.id values — the two id systems meet — with
    the physical parquet names riding schema.name-mapping.default,
    and the final rollup reads THROUGH read_iceberg over the same
    bytes under the renamed logical column. Certificates:
    field_ids_stamped (a data file's parquet schema carries ids 1..n),
    ids_match (iceberg schema ids == delta mapping ids),
    zero_rewrite (the data file set is byte-identical across rename
    AND sync — ALTER + format interop at zero data IO, the whole
    point at 100 TB)."""
    import glob as _glob
    import json as _json
    import os as _os
    import tempfile as _tf

    import pyarrow.parquet as _pq

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        enable_column_mapping_delta,
        rename_column_delta,
        write_delta,
    )
    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        read_iceberg,
        sync_iceberg_from_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        (F.col("o_custkey") % 8).cast("long").alias("custmod"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_idmap_q_")
    write_delta(base.limit(0), table)
    enable_column_mapping_delta(table, mode="id")
    write_delta(base.repartition(4), table)

    def _files():
        return sorted(
            (f, _os.path.getsize(f))
            for f in _glob.glob(_os.path.join(table, "part-*.parquet"))
            if _pq.ParquetFile(f).metadata.num_rows > 0)

    before = _files()
    sch = _pq.ParquetFile(before[0][0]).schema_arrow
    field_ids_stamped = (
        all(n.startswith("col-") for n in sch.names)
        and {dict(f.metadata or {}).get(b"PARQUET:field_id")
             for f in sch} == {b"1", b"2"})
    rename_column_delta(table, "cents", "amount_cents")
    sync_iceberg_from_delta(spark, table)
    meta = _current_metadata(table)
    delta_ids = {"custmod": 1, "amount_cents": 2}
    ids_match = (
        {f["name"]: f["id"] for f in meta["schema"]["fields"]} == delta_ids
        and "schema.name-mapping.default" in meta["properties"])
    zero_rewrite = _files() == before
    return (
        read_iceberg(spark, table)
        .groupBy("custmod")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("amount_cents").cast("long").alias("amount_cents"),
        )
        .select(
            "custmod", "n_orders", "amount_cents",
            F.lit(bool(field_ids_stamped)).alias("field_ids_stamped"),
            F.lit(bool(ids_match)).alias("ids_match"),
            F.lit(bool(zero_rewrite)).alias("zero_rewrite"),
        )
        .orderBy("custmod")
    )


@query(
    "cdc_iceberg_v3_dv_delete",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS one_dv_per_file,
           true AS puffin_only,
           true AS zero_rewrite
    FROM base
    WHERE o_orderkey % 10 NOT IN (3, 7)
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_iceberg_v3_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FORMAT-VERSION 3 DELETION VECTORS (spec v3; VERDICT r7
    next-round item 5): on a v3 table, DELETE writes roaring bitmaps
    into PUFFIN files (streaming/puffin.py — deletion-vector-v1
    blobs, the same magic+roaring serialization Delta's DV format
    uses, which v3 adopted) instead of position-delete Avros; the
    manifest carries the spec's addressing triplet
    (referenced_data_file/content_offset/content_size_in_bytes) and
    the reader decodes vectors EXECUTOR-SIDE into the same (file,
    pos) anti-join the v2 path plans. Two overlapping deletes prove
    the spec's merge invariant: the second UNIONS each file's
    existing vector, so the snapshot holds at most ONE DV per data
    file (one_dv_per_file gates it), re-marked rows count zero, and
    no position-delete Avro ever appears (puffin_only). zero_rewrite
    gates that the data parquet set is byte-identical through both
    deletes — O(matches) bitmap bytes instead of a COW rewrite, the
    100 TB scattered-delete economics."""
    import glob as _glob
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        append_iceberg,
        delete_positions_iceberg,
        plan_scan_iceberg,
        read_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_v3_q_")
    append_iceberg(base.repartition(4), table, format_version=3)

    def _data_files():
        return sorted(
            (f, _os.path.getsize(f))
            for f in _glob.glob(_os.path.join(table, "data", "*.parquet")))

    before = _data_files()
    delete_positions_iceberg(spark, table, "o_orderkey % 10 = 3")
    delete_positions_iceberg(spark, table, "o_orderkey % 10 IN (3, 7)")
    plan = plan_scan_iceberg(table)
    refs = [d["referenced"] for d in plan["dv_descriptors"]]
    one_dv_per_file = len(refs) == len(set(refs)) and len(refs) > 0
    data_dir = _os.listdir(_os.path.join(table, "data"))
    puffin_only = (
        not [f for f in data_dir if f.startswith("delete-")]
        and [f for f in data_dir if f.endswith(".puffin")])
    zero_rewrite = _data_files() == before
    return (
        read_iceberg(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus", "n_orders", "cents",
            F.lit(bool(one_dv_per_file)).alias("one_dv_per_file"),
            F.lit(bool(puffin_only)).alias("puffin_only"),
            F.lit(bool(zero_rewrite)).alias("zero_rewrite"),
        )
        .orderBy("o_orderstatus")
    )


@query("sql_datasource_delta_write_roundtrip", oracle=_DS_PRUNE_ORACLE)
def sql_datasource_delta_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE half of the DataSource lane (round 8):
    ``df.write.format("pydelta")`` appends into a partitioned Delta
    table — workers stream their task's Arrow batches into staged
    parquet (stats harvested in the same pass, partitionValues
    recorded per file), the driver's commit() runs the library's OCC
    commit — and the result reads back through the SQL view with the
    same partition_filter option pruning as the library-written twin
    (sql_datasource_delta_pruning shares the oracle: byte-identical
    answers prove the two write lanes produce one table semantics).
    The creating seed uses write_delta(partition_by=) because
    partitioning is TABLE metadata declared at creation; the
    DataSource append INHERITS it, exactly like write_delta does."""
    import tempfile as _tf

    from postrack_spark.streaming.delta_log import read_delta, write_delta

    from postrack_spark.sources.lakehouse_ds import (
        register_lakehouse_sources,
    )

    register_lakehouse_sources(spark)
    base = _ds_month_base(spark, sf_dir)
    table = _tf.mkdtemp(prefix="lhds_dw_q_")
    # creating seed declares the partitioning; the DataSource append
    # carries the bulk of the rows through the Arrow write path
    write_delta(base.filter(F.col("o_orderkey") % 7 == 0), table,
                partition_by=["month"])
    (base.filter(F.col("o_orderkey") % 7 != 0)
     .write.format("pydelta").mode("append").save(table))
    lib_stats: dict = {}
    prune = {"month": _DS_MONTHS}
    read_delta(spark, table, partition_filter=prune, scan_stats=lib_stats)
    return _ds_prune_certified(spark, "pydelta", table, lib_stats,
                               partition_filter=prune)


@query(
    "streaming_datasource_delta_sink",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_datasource_delta_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WRITE through the DataSource lane (round 8):
    ``events.writeStream.format("pydelta")`` — no foreachBatch hook,
    the registered sink itself is the Delta writer. Workers stream
    each micro-batch's Arrow batches into staged parquet; the commit
    embeds the batch id in a protocol ``txn`` action (appId = table
    path), so replayed batches delete their staged files and commit
    nothing — the foreach_batch_delta idempotence rule, now behind
    Spark's own sink API. The rollup over the snapshot read equals
    the batch answer only if the sink was exactly-once, which is what
    the hash gate certifies. Scale: identical to the foreachBatch
    lane — O(commits) log metadata, distributed parquet both ways."""
    import tempfile

    from postrack_spark.session import fan_out
    from postrack_spark.sources.lakehouse_ds import (
        register_lakehouse_sources,
    )
    from postrack_spark.streaming.delta_log import read_delta
    from postrack_spark.streaming.runner import events_stream

    register_lakehouse_sources(spark)
    table = tempfile.mkdtemp(prefix="ds_sink_q_")
    ckpt = tempfile.mkdtemp(prefix="ds_sink_q_ckpt_")
    ev = events_stream(spark, sf_dir).select("user_id", "event_type", "value")
    q = (
        ev.writeStream.format("pydelta")
        .option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = fan_out(read_delta(spark, table))
    return (
        snap.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "cdc_iceberg_v3_row_lineage",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS ids_dense,
           true AS ids_stable,
           true AS counter_advanced
    FROM base
    WHERE o_orderkey % 10 <> 3
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_iceberg_v3_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 ROW LINEAGE (spec v3 — the second half of the v3
    line, after deletion vectors): every data file's manifest entry
    records first_row_id (field-id 142), assigned at commit from the
    metadata's next-row-id counter and never reused, and
    read_iceberg(with_row_ids=True) serves each row's STABLE id as
    first_row_id + physical position — an O(files) broadcast map plus
    arithmetic, the Delta row-tracking twin in id-space style.
    Certificates the oracle can't see: ids_dense (two appends yield
    exactly 0..N-1 across files), ids_stable (after a Puffin DV
    delete, every surviving row keeps the id it was born with — the
    property GDPR/lineage pipelines depend on), counter_advanced
    (metadata next-row-id equals total rows ever appended). The
    rollup itself reads through the id-serving scan, so the deletes
    compose with the lineage join inside the hash gate."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        append_iceberg,
        delete_positions_iceberg,
        read_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_rl_q_")
    append_iceberg(base.filter(F.col("o_orderkey") % 2 == 0)
                   .repartition(3), table, format_version=3)
    append_iceberg(base.filter(F.col("o_orderkey") % 2 != 0)
                   .repartition(2), table, format_version=3)
    n_total = _current_metadata(table)["next-row-id"]
    before = read_iceberg(spark, table, with_row_ids=True)
    pre = before.agg(
        F.count("*").alias("n"),
        F.countDistinct("_row_id").alias("n_ids"),
        F.min("_row_id").alias("lo"),
        F.max("_row_id").alias("hi")).collect()[0]
    ids_dense = (pre["n"] == pre["n_ids"] == n_total
                 and pre["lo"] == 0 and pre["hi"] == n_total - 1)
    delete_positions_iceberg(spark, table, "o_orderkey % 10 = 3")
    after = read_iceberg(spark, table, with_row_ids=True)
    # stability: the surviving (key, id) pairs are a SUBSET of the
    # pre-delete pairs — one distributed anti-join, no collect
    moved = (after.select("o_orderkey", "_row_id")
             .join(before.select("o_orderkey", "_row_id"),
                   ["o_orderkey", "_row_id"], "left_anti").count())
    ids_stable = moved == 0
    counter_advanced = (
        _current_metadata(table)["next-row-id"] == n_total)
    return (
        after.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus", "n_orders", "cents",
            F.lit(bool(ids_dense)).alias("ids_dense"),
            F.lit(bool(ids_stable)).alias("ids_stable"),
            F.lit(bool(counter_advanced)).alias("counter_advanced"),
        )
        .orderBy("o_orderstatus")
    )


@query("sql_datasource_iceberg_write_roundtrip", oracle=_DS_PRUNE_ORACLE)
def sql_datasource_iceberg_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Iceberg WRITE half of the DataSource lane:
    ``df.write.format("pyiceberg")`` appends through append_iceberg's
    staged-entries path (workers write parquet + harvest footer
    bounds; the commit binds them to field-ids), and the SQL read
    prunes from those harvested STATS BOUNDS through the view's
    stats_filter option ('{"month": [min, max]}') — no partitioning
    at all: the write was range-clustered on month, so the manifest
    min/max alone prove most files empty. parity gates the pruned
    file set against read_iceberg(stats_filter=(min, max)) — the
    library twin of the same closed-range proof."""
    import tempfile as _tf

    from postrack_spark.sources.lakehouse_ds import (
        register_lakehouse_sources,
    )
    from postrack_spark.streaming.iceberg import read_iceberg

    register_lakehouse_sources(spark)
    base = _ds_month_base(spark, sf_dir)
    table = _tf.mkdtemp(prefix="lhds_iw_q_")
    (base.repartitionByRange(8, "month")
     .write.format("pyiceberg").mode("append").save(table))
    lib_stats: dict = {}
    prune = {"month": (_DS_MONTHS[0], _DS_MONTHS[-1])}
    read_iceberg(spark, table, stats_filter=prune, scan_stats=lib_stats)
    return _ds_prune_certified(spark, "pyiceberg", table, lib_stats,
                               stats_filter=prune)


@query(
    "cdc_delta_log_compaction",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    final AS (
      SELECT * FROM base
      WHERE o_orderkey % 3 <> 0 AND o_custkey NOT BETWEEN 40 AND 60
      UNION ALL
      SELECT * FROM base WHERE o_orderkey % 3 = 0
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS compacted_lane_used
    FROM final
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_delta_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta LOG COMPACTION lane (PROTOCOL.md "Log Compaction Files"):
    two appends, a copy-on-write DELETE, and a final append build a
    4-commit log; compact_log_delta writes
    ``<0>.<3>.compacted.json`` — the reconciled range (last
    add-or-remove per path, newest metaData) — and the query then
    DELETES two raw JSON commits inside the range before reading, so
    the rollup can only be right if replay actually consumes the
    compacted file (the load-bearing certificate, not a smoke test).
    The final append deliberately re-adds rows inside the deleted
    custkey range: a reconciliation that mis-ordered the remove/add
    fold would double-count or drop them. At 100 TB this is the
    between-checkpoints metadata answer: checkpoints are O(live
    files), compaction files are O(files touched in the range) — CDC
    tables taking thousands of small commits a day stop paying one
    open()+parse per commit at every snapshot resolution."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        _log_path,
        compact_log_delta,
        delete_delta,
        read_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_logc_q_")
    for m in (1, 2):
        write_delta(base.filter(F.col("o_orderkey") % 3 == m), table)
    delete_delta(spark, table, "o_custkey BETWEEN 40 AND 60")
    write_delta(base.filter(F.col("o_orderkey") % 3 == 0), table)
    out = compact_log_delta(table)
    _os.remove(_log_path(table, 1))
    _os.remove(_log_path(table, 2))
    used = (
        out is not None
        and _os.path.exists(out)
        and not _os.path.exists(_log_path(table, 1))
    )
    return (
        read_delta(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "cents",
            F.lit(used).alias("compacted_lane_used"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_iceberg_rewrite_manifests",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS manifests_merged,
           true AS replace_op
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def source_iceberg_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rewrite_manifests (metadata-only manifest compaction):
    three appends and an equality delete build a 4-manifest snapshot;
    the delete (sequence 3) hits a custkey slice of the FIRST append,
    and the final append re-inserts exactly those rows (sequence 4).
    rewrite_manifests_iceberg then merges the three data manifests
    into one with per-entry EXPLICIT sequence numbers — the rollup
    equals plain ``SELECT * FROM orders`` only if the merged manifest
    preserves each file's original sequence: inheriting one manifest
    seq would either resurrect the deleted rows (duplicates) or kill
    the re-inserted ones (missing). Certificates ride along:
    manifests_merged (fewer manifests after) and replace_op (the
    snapshot is summary-labeled 'replace', so iceberg_feed rides
    through it as a logical no-op). At 100 TB this keeps scan planning
    O(merged manifests), not O(commits) — the Iceberg dual of Delta's
    log compaction lane."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        _snapshot,
        append_iceberg,
        delete_keys_iceberg,
        read_iceberg,
        rewrite_manifests_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_rm_q_")
    for m in (1, 2):
        append_iceberg(
            base.filter(F.col("o_orderkey") % 3 == m), table,
            format_version=2)
    hit = F.col("o_custkey").between(40, 60)
    delete_keys_iceberg(
        spark, table,
        base.filter((F.col("o_orderkey") % 3 == 1) & hit)
        .select("o_orderkey"))
    append_iceberg(
        base.filter(
            (F.col("o_orderkey") % 3 == 0)
            | ((F.col("o_orderkey") % 3 == 1) & hit)),
        table, format_version=2)
    sid, nb, na = rewrite_manifests_iceberg(table)
    meta = _current_metadata(table)
    replace_op = (
        _snapshot(meta, sid)["summary"]["operation"] == "replace"
        and meta["current-snapshot-id"] == sid
    )
    return (
        read_iceberg(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "cents",
            F.lit(na < nb).alias("manifests_merged"),
            F.lit(replace_op).alias("replace_op"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "sql_datasource_insert_into",
    oracle="""
    WITH r AS (
      SELECT o_orderstatus,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_orderstatus
    )
    SELECT fmt, o_orderstatus, n_orders, cents
    FROM r CROSS JOIN (VALUES ('pydelta'), ('pyiceberg')) AS f(fmt)
    ORDER BY fmt, o_orderstatus
    """,
)
def sql_datasource_insert_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML through the DataSource write lane, both formats: half
    the orders land via ``df.write.format(...)``, the OTHER half via a
    plain ``INSERT INTO <view> SELECT …`` statement against the
    CREATE TEMPORARY VIEW … USING pydelta/pyiceberg relation — Spark
    routes the SQL insert into the same DataSourceArrowWriter commit
    path (staged parquet + transactional commit_delta/append_iceberg),
    so the rollup is right only if the SQL-injected rows went through
    the exact gate-and-commit machinery the Python lane uses. This
    closes the DML loop on VERDICT r7 item 1: a SQL-first user can now
    CREATE VIEW, SELECT, and INSERT without touching a library call.
    Reads happen through the same views — one format name per table
    format covers batch read + write + SQL both ways."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.sources.lakehouse_ds import register_lakehouse_sources

    register_lakehouse_sources(spark)
    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    src = f"ins_src_{uuid.uuid4().hex}"
    base.createOrReplaceTempView(src)
    outs = []
    for fmt in ("pydelta", "pyiceberg"):
        table = _tf.mkdtemp(prefix=f"sql_ins_{fmt}_")
        (base.filter(F.col("o_orderkey") % 2 == 0)
         .write.format(fmt).mode("append").save(table))
        view = f"ins_{fmt}_{uuid.uuid4().hex}"
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {view} USING {fmt} "
            f"OPTIONS (path '{table}')")
        spark.sql(
            f"INSERT INTO {view} "
            f"SELECT o_orderkey, o_orderstatus, cents FROM {src} "
            f"WHERE o_orderkey % 2 = 1")
        outs.append(spark.sql(f"""
            SELECT '{fmt}' AS fmt, o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(cents) AS BIGINT) AS cents
            FROM {view} GROUP BY o_orderstatus
        """))
    out = outs[0].unionByName(outs[1])
    return out.orderBy("fmt", "o_orderstatus")


@query(
    "profile_iceberg_partition_stats",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_rows,
           true AS files_positive,
           true AS registered
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def profile_iceberg_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg PARTITION STATISTICS file (the spec's per-partition
    summary registered under metadata ``partition-statistics``): two
    identity-partitioned appends build the table,
    write_partition_stats_iceberg aggregates the manifests into one
    parquet row per partition, and the query reads THE STATS FILE
    (read_partition_stats_iceberg) — so n_rows per month matches the
    raw data only if the manifest walk aggregated correctly.
    Certificates: files_positive (every partition counts >= 1 data
    file) and registered (the metadata entry points at the file read).
    At 100 TB this file is what external planners read INSTEAD of
    walking every manifest for partition-level stats — O(partitions)
    in one seek."""
    import os as _os
    import tempfile as _tf

    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        append_iceberg,
        read_partition_stats_iceberg,
        write_partition_stats_iceberg,
    )

    base = _ds_month_base(spark, sf_dir)
    table = _tf.mkdtemp(prefix="ice_pstats_q_")
    for m in (0, 1):
        append_iceberg(
            base.filter(F.col("o_orderkey") % 2 == m), table,
            format_version=2, partition_by=[("month", "identity")])
    rel = write_partition_stats_iceberg(table)
    meta = _current_metadata(table)
    registered = (
        _os.path.exists(_os.path.join(table, rel))
        and any(e.get("statistics-path") == rel
                for e in meta.get("partition-statistics") or [])
    )
    stats = read_partition_stats_iceberg(spark, table)
    return (
        stats.groupBy(F.col("partition.month").alias("month"))
        .agg(
            F.sum("data_record_count").cast("long").alias("n_rows"),
            F.min("data_file_count").alias("min_files"),
        )
        .select(
            "month",
            "n_rows",
            (F.col("min_files") >= 1).alias("files_positive"),
            F.lit(registered).alias("registered"),
        )
        .orderBy("month")
    )


@query(
    "cdc_delta_version_checksum",
    oracle="""
    WITH final AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_custkey NOT BETWEEN 40 AND 60
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS crc_validated,
           true AS tamper_detected
    FROM final
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_delta_version_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta VERSION CHECKSUM sidecars (`<v>.crc`, delta-spark's
    VersionChecksum): after appends and a copy-on-write DELETE,
    write_crc_delta records the snapshot digest {tableSizeBytes,
    numFiles, ...} and validate_crc_delta recomputes it from replay —
    the end-to-end guard that a log replay (checkpoint seed + JSON
    tail + compaction files) reconstructed EXACTLY the state the
    writer saw. Two certificates: crc_validated (the honest digest
    round-trips) and tamper_detected (a digest whose numFiles is off
    by one RAISES — the validation is the feature, not the file). At
    100 TB the digest is O(1) to read and O(files) to verify — the
    cheap invariant check a nightly maintenance job runs before
    trusting a snapshot for compaction or clone."""
    import json as _json
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        delete_delta,
        read_delta,
        validate_crc_delta,
        write_crc_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_crc_q_")
    for m in (0, 1):
        write_delta(base.filter(F.col("o_orderkey") % 2 == m), table)
    delete_delta(spark, table, "o_custkey BETWEEN 40 AND 60")
    path = write_crc_delta(table)
    try:
        validate_crc_delta(table)
        crc_validated = True
    except (ValueError, FileNotFoundError):
        crc_validated = False
    with open(path) as f:
        crc = _json.load(f)
    crc["numFiles"] += 1
    with open(path, "w") as f:
        _json.dump(crc, f)
    try:
        validate_crc_delta(table)
        tamper_detected = False
    except ValueError:
        tamper_detected = True
    return (
        read_delta(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "cents",
            F.lit(crc_validated).alias("crc_validated"),
            F.lit(tamper_detected).alias("tamper_detected"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "cdc_delta_default_columns",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'store' ELSE 'web' END
               AS channel,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM tagged GROUP BY channel ORDER BY channel
    """,
)
def cdc_delta_default_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DEFAULT COLUMNS (PROTOCOL.md "Default value expressions",
    CURRENT_DEFAULT field metadata): the creating write declares
    ``channel`` defaulting to 'store' and OMITS the column entirely —
    the writer fills it; a second append PROVIDES channel='web', which
    wins untouched (a default is a fill-in, not a constraint — the
    contract difference from generated columns, which validate). The
    by-channel rollup is right only if both the fill and the
    provided-wins paths landed correct values through the gate-and-
    commit machinery. Declarations ride schemaString (checkpoint-safe)
    and rename/drop of a column referenced by a default expression is
    refused — the same unresolvable-metadata hazard rule as generated
    columns and CHECK constraints."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import read_delta, write_delta

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_dflt_q_")
    write_delta(
        base.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderkey"),
        table, defaults={"channel": "'store'"})
    write_delta(
        base.filter(F.col("o_orderkey") % 2 == 1)
        .select("cents", F.lit("web").alias("channel")),
        table, mode="append")
    return (
        read_delta(spark, table)
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("channel")
    )


@query(
    "cdc_delta_identity_columns",
    oracle="""
    WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
    SELECT n_rows,
           n_rows AS n_distinct_rid,
           CAST(100 AS BIGINT) AS min_rid,
           CAST(100 + 3 * (n_rows - 1) AS BIGINT) AS max_rid
    FROM n
    """,
)
def cdc_delta_identity_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta IDENTITY columns (PROTOCOL.md "Identity Columns",
    delta.identity.* field metadata): the creating write declares
    ``rid`` GENERATED ALWAYS (start=100, step=3) and two appends land
    all orders WITHOUT ever providing the column — the writer assigns
    dense values from the table-tracked high-water mark, bumped in the
    SAME commit that lands the rows. The rollup (count, distinct
    count, min, max) equals the closed form 100..100+3(n-1) only if
    (a) every row got a value, (b) no two commits collided (the
    hwm-OCC rule: a racer that moved the mark forces a restage), and
    (c) the second append resumed EXACTLY where the first stopped.
    Values are assigned via the distributed global row number — no
    driver loop, no collect; the hwm metadata ride-along is O(1) per
    commit."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import read_delta, write_delta

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_idy_q_")
    write_delta(base.filter(F.col("o_orderkey") % 2 == 0), table,
                identity={"rid": {"start": 100, "step": 3}})
    write_delta(base.filter(F.col("o_orderkey") % 2 == 1), table,
                mode="append")
    return read_delta(spark, table).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct("rid").cast("long").alias("n_distinct_rid"),
        F.min("rid").cast("long").alias("min_rid"),
        F.max("rid").cast("long").alias("max_rid"),
    )


@query(
    "source_iceberg_rewrite_pos_deletes",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS merged,
           true AS replace_op
    FROM orders
    WHERE o_custkey NOT BETWEEN 10 AND 25
      AND o_custkey NOT BETWEEN 40 AND 55
      AND o_custkey NOT BETWEEN 70 AND 85
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def source_iceberg_rewrite_pos_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rewrite_position_delete_files: three separate MOR
    deletes each write their own position-delete Avros + manifests;
    the rewrite merges them into ONE deduplicated sorted delete file
    under one manifest, superseding the three — and the rollup equals
    the three-slice-filtered orders only if the merged (file, pos) set
    is exactly the union of the originals (a dropped pair resurrects a
    row; a mangled one kills a live row). Decode and rewrite run
    distributed (_pos_delete_frame + per-target mapInPandas writer);
    certificates: merged (fewer delete files after) and replace_op
    (feed rides through). The day-2 MOR economics at 100 TB: deletes
    stay O(matches) when they happen, and the per-read cost of N tiny
    delete-file opens is repaid here, once, without touching data
    files (compact_iceberg's full rewrite is the heavier tool)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        _snapshot,
        append_iceberg,
        delete_positions_iceberg,
        read_iceberg,
        rewrite_position_deletes_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_rpd_q_")
    append_iceberg(base.repartition(4), table, format_version=2)
    for lo, hi in ((10, 25), (40, 55), (70, 85)):
        delete_positions_iceberg(
            spark, table, f"o_custkey BETWEEN {lo} AND {hi}")
    sid, nb, na = rewrite_position_deletes_iceberg(spark, table)
    meta = _current_metadata(table)
    replace_op = (
        _snapshot(meta, sid)["summary"]["operation"] == "replace"
        and meta["current-snapshot-id"] == sid
    )
    return (
        read_iceberg(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            "cents",
            F.lit(na < nb).alias("merged"),
            F.lit(replace_op).alias("replace_op"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "source_iceberg_v3_default_values",
    oracle="""
    WITH tagged AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'pre' ELSE 'post' END
               AS segment,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           true AS lanes_agree
    FROM tagged GROUP BY segment ORDER BY segment
    """,
)
def source_iceberg_v3_default_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 DEFAULT VALUES (spec "Default values"): half the
    orders land BEFORE ``segment`` exists; add_column_iceberg then
    declares it with initial-default 'pre' (what reads return for
    pre-add rows) and write-default 'post' (what fills writers that
    omit it); the second half appends WITHOUT the column. The
    by-segment rollup is exactly the orderkey-parity split only if
    both defaults resolved per the spec — and the certificate
    lanes_agree gates that the pyiceberg DataSource (SQL lane) returns
    the SAME multiset as the library read, because a default
    representation wired into one lane only silently serves NULLs in
    the other (the N9 both-lanes rule). Fill routing is plan-time
    metadata: pre-add files are recognized by data sequence, so the
    scan adds one broadcast O(files) flag join, nothing per-row in
    Python."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.sources.lakehouse_ds import register_lakehouse_sources
    from postrack_spark.streaming.iceberg import (
        add_column_iceberg,
        append_iceberg,
        read_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_v3d_q_")
    append_iceberg(base.filter(F.col("o_orderkey") % 2 == 0), table,
                   format_version=3)
    add_column_iceberg(table, "segment", "string",
                       initial_default="pre", write_default="post")
    append_iceberg(base.filter(F.col("o_orderkey") % 2 == 1), table,
                   format_version=3)
    lib = read_iceberg(spark, table).groupBy("segment").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
    register_lakehouse_sources(spark)
    ds = (
        spark.read.format("pyiceberg").load(table)
        .groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    lanes_agree = (
        lib.exceptAll(ds).limit(1).count() == 0
        and ds.exceptAll(lib).limit(1).count() == 0
    )
    return lib.select(
        "segment", "n_orders", "cents",
        F.lit(lanes_agree).alias("lanes_agree"),
    ).orderBy("segment")


@query(
    "cdc_delta_table_features",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS features_survive_checkpoint,
           true AS unknown_feature_refused
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def cdc_delta_table_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta TABLE FEATURES protocol (PROTOCOL.md "Table Features"):
    the table upgrades to minReaderVersion 3 / minWriterVersion 7 with
    explicit readerFeatures/writerFeatures — the representation every
    modern delta-spark table actually carries — then checkpoints and
    CLEANS its JSON log, so the rollup reads through a
    checkpoint-seeded replay whose gate must re-derive the feature
    set from the checkpoint's protocol column (the declared-schema
    trap: an undeclared feature-list column silently downgrades the
    gate). Certificates: features_survive_checkpoint (the resolved
    protocol still lists the declared features after clean_log) and
    unknown_feature_refused (a hand-committed protocol requiring a
    feature this engine lacks makes the read RAISE — the spec's
    unknown-reader-feature rule, the difference between refusing and
    silently returning wrong rows)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        _current_protocol,
        checkpoint_delta,
        clean_log_delta,
        commit_delta,
        latest_version,
        read_delta,
        upgrade_protocol_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_tf_q_")
    write_delta(base, table)
    upgrade_protocol_delta(
        table, reader_features=("columnMapping", "deletionVectors"),
        writer_features=("checkConstraints",))
    checkpoint_delta(table)
    clean_log_delta(table)
    p = _current_protocol(table)
    survived = (
        p.get("minReaderVersion") == 3
        and {"columnMapping", "deletionVectors"}
        <= set(p.get("readerFeatures") or [])
    )
    out = (
        read_delta(spark, table)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    rows = out.collect()  # materialize BEFORE the poisoning commit
    commit_delta(table, latest_version(table) + 1, [{"protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["futureMagic"], "writerFeatures": []}}])
    try:
        read_delta(spark, table).collect()
        refused = False
    except ValueError:
        refused = True
    return spark.createDataFrame(
        [(r["o_orderstatus"], r["n_orders"], r["cents"], survived, refused)
         for r in rows],
        "o_orderstatus string, n_orders long, cents long,"
        " features_survive_checkpoint boolean,"
        " unknown_feature_refused boolean",
    ).orderBy("o_orderstatus")


@query(
    "profile_delta_detail",
    oracle="""
    SELECT 'delta' AS format,
           'month' AS partition_col,
           true AS files_positive,
           true AS size_positive,
           3 AS reader_version,
           true AS has_mapping_feature,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    """,
)
def profile_delta_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE DETAIL for the Delta log (delta_log.detail_delta): the
    one-row operational card — format/id/location, created/modified
    times (ICT-aware), partition + declared-clustering columns, live
    file count and bytes, table properties, and the RESOLVED protocol
    including table-feature lists. Synthesized from O(files) replay
    metadata, zero data IO. The query partitions orders by month,
    upgrades to a features protocol, and gates the stable facts: the
    partition column round-trips, file/size counts are live-positive,
    and the protocol card shows minReaderVersion 3 with the declared
    feature — alongside the table's row count read back through
    read_delta (detail and data must describe the SAME snapshot)."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.delta_log import (
        detail_delta,
        read_delta,
        upgrade_protocol_delta,
        write_delta,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="delta_detail_q_")
    write_delta(base, table, partition_by=["month"])
    upgrade_protocol_delta(table, reader_features=("columnMapping",))
    d = detail_delta(spark, table).collect()[0]
    n = read_delta(spark, table).count()
    return spark.createDataFrame(
        [(
            d["format"],
            (d["partitionColumns"] or [None])[0],
            d["numFiles"] >= 1,
            d["sizeInBytes"] > 0,
            d["minReaderVersion"],
            "columnMapping" in (d["readerFeatures"] or []),
            n,
        )],
        "format string, partition_col string, files_positive boolean,"
        " size_positive boolean, reader_version int,"
        " has_mapping_feature boolean, n_rows long",
    )


@query(
    "sql_datasource_cdf_read",
    oracle="""
    WITH final AS (
      SELECT o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_custkey NOT BETWEEN 40 AND 60
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def sql_datasource_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CHANGE DATA FEED through the SQL lane:
    ``CREATE TEMPORARY VIEW … USING pydelta OPTIONS (readChangeFeed
    'true', startingVersion '0')`` then a plain spark.sql SIGNED FOLD
    over the change stream (insert/update_postimage +,
    delete/update_preimage -) — which reconstructs the final table
    state exactly iff the DataSource serves the same per-commit
    change semantics as read_changes_delta (change files verbatim,
    append synthesis for plain adds, refusal on pre-enable rewrites).
    The fold-equals-state identity is the CDF contract itself, so the
    oracle is just the final filtered rollup. SQL users get
    table_changes()-style history without a library call — offsets
    are commit versions, partitions are one per change file."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.sources.lakehouse_ds import register_lakehouse_sources
    from postrack_spark.streaming.delta_log import (
        delete_delta,
        enable_change_feed_delta,
        write_delta,
    )

    register_lakehouse_sources(spark)
    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ds_cdf_q_")
    write_delta(base.filter(F.col("o_orderkey") % 2 == 0), table)
    enable_change_feed_delta(table)
    write_delta(base.filter(F.col("o_orderkey") % 2 == 1), table,
                mode="append")
    delete_delta(spark, table, "o_custkey BETWEEN 40 AND 60")
    view = f"cdf_{uuid.uuid4().hex}"
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW {view} USING pydelta "
        f"OPTIONS (path '{table}', readChangeFeed 'true',"
        f" startingVersion '0')")
    return spark.sql(f"""
        SELECT o_orderstatus,
               CAST(sum(CASE WHEN _change_type IN
                               ('insert', 'update_postimage')
                             THEN 1 ELSE -1 END) AS BIGINT) AS n_orders,
               CAST(sum(CASE WHEN _change_type IN
                               ('insert', 'update_postimage')
                             THEN cents ELSE -cents END) AS BIGINT) AS cents
        FROM {view}
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """)


@query(
    "source_iceberg_changelog_fold",
    oracle="""
    WITH final AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_custkey NOT BETWEEN 40 AND 60
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def source_iceberg_changelog_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg CHANGELOG SCAN (changelog_iceberg — the
    create_changelog_view concept): two appends, a MOR position
    delete of a custkey slice, and a data-free compaction build the
    history; the query reads the CHANGELOG (insert/delete rows per
    snapshot, 'replace' compaction skipped) and reconstructs the
    final by-status rollup with a SIGNED FOLD — +count/+cents on
    inserts, - on deletes. Fold == final state is the changelog
    contract itself: a missed delete leaves ghost revenue, a
    double-counted re-add inflates it, and an emission from the
    compaction snapshot would double everything. The Iceberg twin of
    the Delta CDF lane; deletes materialize from the referenced
    parent files only (pairs exceptAll diff — O(changed rows), not
    O(table))."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        append_iceberg,
        changelog_iceberg,
        compact_iceberg,
        delete_positions_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_cl_q_")
    for m in (0, 1):
        append_iceberg(
            base.filter(F.col("o_orderkey") % 2 == m), table,
            format_version=2)
    delete_positions_iceberg(spark, table, "o_custkey BETWEEN 40 AND 60")
    compact_iceberg(spark, table, target_files=4)
    cl = changelog_iceberg(spark, table)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    return (
        cl.groupBy("o_orderstatus")
        .agg(
            F.sum(sign).cast("long").alias("n_orders"),
            F.sum(sign * F.col("cents")).cast("long").alias("cents"),
        )
        .filter(F.col("n_orders") > 0)
        .orderBy("o_orderstatus")
    )


@query(
    "layout_iceberg_zorder_optimize",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           true AS pruned
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 300
      AND CAST(round(o_totalprice * 100) AS BIGINT)
            BETWEEN 5000000 AND 15000000
    """,
)
def layout_iceberg_zorder_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg OPTIMIZE ZORDER (compact_iceberg zorder_by=): the
    orders land key-shuffled (worst-case layout for range reads), the
    Z-order rewrite range-partitions on the Morton interleave of
    (custkey, cents), and a 2-D rectangle read then prunes files from
    the MANIFEST bounds alone (stats_filter + scan_stats certificate:
    files_scanned < files_total) while the row filter keeps the
    rollup exact. The Delta compact_delta(zorder_by=) twin through
    Iceberg's field-id bounds — at 100 TB the difference between a
    rectangle query opening every footer and opening the Z-curve's
    corner."""
    import tempfile as _tf

    from postrack_spark.session import load_tables
    from postrack_spark.streaming.iceberg import (
        append_iceberg,
        compact_iceberg,
        read_iceberg,
    )

    base = load_tables(spark, sf_dir)["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    table = _tf.mkdtemp(prefix="ice_zord_q_")
    append_iceberg(base.repartition(8, "o_orderkey"), table,
                   format_version=2)
    compact_iceberg(spark, table, target_files=16,
                    zorder_by=("o_custkey", "cents"))
    stats: dict = {}
    got = read_iceberg(
        spark, table,
        stats_filter={"o_custkey": (100, 300),
                      "cents": (5_000_000, 15_000_000)},
        scan_stats=stats,
    ).filter(
        F.col("o_custkey").between(100, 300)
        & F.col("cents").between(5_000_000, 15_000_000)
    )
    pruned = 0 < stats["files_scanned"] < stats["files_total"]
    return got.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    ).select("n_orders", "cents", F.lit(pruned).alias("pruned"))
