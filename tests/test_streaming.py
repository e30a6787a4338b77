"""Streaming semantics: checkpoint/resume (≡ the reference's lsn+1
resume, postrack.go:297) and incremental foreachBatch CDC apply across
micro-batches (the base-merge path, delete tombstones, idempotency).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from postrack_spark.cdc import orders_changes, typed_column
from postrack_spark.streaming.sinks import foreach_batch_apply_changes, read_view


def _key():
    return F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )


def test_incremental_apply_across_batches(spark, sf_dir):
    """Two availableNow runs over a growing directory with a SHARED
    checkpoint: run 1 sees only inserts; run 2 must process only the
    new files (updates+deletes) and merge into the existing base —
    proving both checkpoint resume and the base-merge path."""
    ch = orders_changes(spark, sf_dir).cache()
    inserts = ch.filter(F.col("op") == "INSERT")
    rest = ch.filter(F.col("op") != "INSERT")

    src = tempfile.mkdtemp(prefix="cdc_src_")
    target = tempfile.mkdtemp(prefix="cdc_tgt_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ckpt_")

    inserts.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        _, q = foreach_batch_apply_changes(
            stream, _key(), target_dir=target, key_name="o_orderkey", checkpoint_dir=ckpt
        )
        q.awaitTermination()

    run_once()
    assert read_view(spark, target).count() == inserts.count()

    rest.write.mode("append").parquet(src)
    run_once()
    final = read_view(spark, target)

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    expected = orders.count() - orders.filter(F.col("o_orderkey") % 10 == 5).count()
    assert final.count() == expected
    # updates applied: %10 in (1,2,3) all carry the new status
    not_updated = final.filter(
        (F.col("o_orderkey") % 10).isin(1, 2, 3)
        & (typed_column("after", "o_orderstatus", "string") != "F")
    ).count()
    assert not_updated == 0
    ch.unpersist()


def test_apply_is_idempotent_on_replay(spark, sf_dir):
    """Replaying the whole stream (fresh checkpoint, same target) must
    not duplicate rows — per-key compaction makes the sink idempotent,
    the pairing for at-least-once delivery (the reference is
    at-least-once with a lost-in-flight race, SURVEY.md §1.1 q3; we
    keep at-least-once + idempotent apply)."""
    ch = orders_changes(spark, sf_dir)
    src = tempfile.mkdtemp(prefix="cdc_src2_")
    ch.write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    target = tempfile.mkdtemp(prefix="cdc_tgt2_")

    for _ in range(2):  # two full replays with fresh checkpoints
        stream = spark.readStream.schema(schema).parquet(src)
        _, q = foreach_batch_apply_changes(
            stream, _key(), target_dir=target, key_name="o_orderkey"
        )
        q.awaitTermination()

    final = read_view(spark, target)
    assert final.count() == final.select("o_orderkey").distinct().count()


def test_latest_state_tws_matches_batch(spark, sf_dir):
    """transformWithStateInPandas latest-per-key == batch materialization.
    Skipped where google.protobuf (the TWS state protocol dependency)
    is absent; latest_state_tws itself is importable everywhere."""
    import pytest

    from postrack_spark.cdc import orders_changes, typed_column
    from postrack_spark.streaming import envelope_stream, run_to_memory
    from postrack_spark.streaming.stateful import (
        latest_state_tws,
        rocksdb_state,
        tws_available,
    )

    if not tws_available(spark):
        pytest.skip("google.protobuf unavailable: transformWithState cannot run here")

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
    stream = envelope_stream(spark, typed, name="tws_test")
    with rocksdb_state(spark):
        out = run_to_memory(
            latest_state_tws(stream), "tws_test_sink", output_mode="update"
        )
    got = {
        r["o_orderkey"]: (r["status"], round(r["price"], 2))
        for r in out.filter(F.col("op") != "DELETE").collect()
    }
    from postrack_spark.cdc import apply_changes

    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    want = {
        r["o_orderkey"]: (r["status"], round(r["price"], 2))
        for r in apply_changes(changes, key, key_name="o_orderkey")
        .select(
            "o_orderkey",
            typed_column("after", "o_orderstatus", "string").alias("status"),
            typed_column("after", "o_totalprice", "double").alias("price"),
        )
        .collect()
    }
    assert got == want


def test_rate_source_smoke(spark):
    """The rate test source (SURVEY §2b sources): a trigger-once read
    must deliver monotonically increasing values with the declared
    schema."""
    import tempfile

    stream = spark.readStream.format("rate").option("rowsPerSecond", "100").load()
    agg = stream.selectExpr("value", "timestamp")
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            agg.writeStream.format("memory")
            .queryName("rate_smoke")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
    out = spark.sql("select count(*) n, min(value) lo, max(value) hi from rate_smoke").collect()[0]
    assert out["n"] >= 0
    if out["n"]:
        assert out["hi"] - out["lo"] == out["n"] - 1


def test_versioned_batch_skips_replayed_batch(spark):
    """At-least-once crash-replay (ADVICE r2): re-delivering an applied
    (lineage, batch_id) must be a no-op — signed deltas would otherwise
    double-count. Drives the versioned protocol directly with fake
    micro-batches."""
    from postrack_spark.streaming.sinks import _versioned_batch

    target = tempfile.mkdtemp(prefix="vb_")

    def merge(base, batch_df):
        part = batch_df.groupBy("k").agg(F.sum("x").cast("bigint").alias("x"))
        if base is None:
            return part
        return base.unionByName(part).groupBy("k").agg(
            F.sum("x").cast("bigint").alias("x")
        )

    apply = _versioned_batch(target, "ckpt-A", merge)
    b0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, x int")
    b1 = spark.createDataFrame([("a", 10)], "k string, x int")

    apply(b0, 0)
    apply(b0, 0)  # crash-replay of batch 0: must be skipped
    apply(b1, 1)
    apply(b1, 1)  # crash-replay of batch 1: must be skipped
    view = {r["k"]: r["x"] for r in read_view(spark, target).collect()}
    assert view == {"a": 11, "b": 2}

    # a FRESH lineage is a new stream: batch ids restart, no skipping
    apply2 = _versioned_batch(target, "ckpt-B", merge)
    apply2(b1, 0)
    view = {r["k"]: r["x"] for r in read_view(spark, target).collect()}
    assert view == {"a": 21, "b": 2}


def test_versioned_batch_schema_drift_raises(spark):
    """Schema drift on the base must RAISE, not silently reset the view
    (the old bare-except + column check discarded all prior state)."""
    import pytest as _pytest

    from postrack_spark.streaming.sinks import _versioned_batch

    target = tempfile.mkdtemp(prefix="vb2_")

    def merge(base, batch_df):
        if base is not None and set(base.columns) != set(batch_df.columns):
            raise ValueError("view schema drift")
        return batch_df

    apply = _versioned_batch(target, "ckpt-A", merge)
    apply(spark.createDataFrame([("a", 1)], "k string, x int"), 0)
    with _pytest.raises(ValueError, match="schema drift"):
        apply(spark.createDataFrame([(1.5,)], "y double"), 1)
    # the committed view is untouched by the failed batch
    assert read_view(spark, target).count() == 1


_ENVELOPE = (
    "lsn long, txid long, commit_ts timestamp, schema string, table string, "
    "op string, after map<string,string>, before map<string,string>"
)


def _drift_sink(spark, root, sink, target, wide):
    """Start the real ``foreach_batch_<sink>`` over a one-file stream
    into ``target``; ``wide`` gives the view one more column."""
    from postrack_spark.streaming import sinks

    def stream(rows, schema):
        src = os.path.join(root, f"src_{sink}_{wide}")
        spark.createDataFrame(rows, schema).write.parquet(src)
        return spark.readStream.schema(schema).parquet(src)

    def img(c):
        return F.element_at(F.col("img"), c)

    ckpt = os.path.join(root, f"ckpt_{sink}_{wide}")
    changes = [
        (1, 1, None, "public", "t", "INSERT", {"k": "1", "s": "a", "v": "10"}, None),
        (2, 2, None, "public", "t", "INSERT", {"k": "2", "s": "b", "v": "5"}, None),
    ]
    if sink == "apply_changes":
        schema = _ENVELOPE + (", extra long" if wide else "")
        rows = [(*r, 0) for r in changes] if wide else changes
        return sinks.foreach_batch_apply_changes(
            stream(rows, schema), F.element_at(F.col("after"), "k"),
            target_dir=target, checkpoint_dir=ckpt,
        )
    if sink == "scd2":
        values = {"s": F.element_at(F.col("after"), "s")}
        if wide:
            values["v"] = F.element_at(F.col("after"), "v")
        return sinks.foreach_batch_scd2(
            stream(changes, _ENVELOPE), F.element_at(F.col("after"), "k"),
            values, key_name="k", target_dir=target, checkpoint_dir=ckpt,
        )
    measures = {"v": img("v").cast("long")}
    if sink == "incremental_agg":
        if wide:
            measures["w"] = img("v").cast("long")
        return sinks.foreach_batch_incremental_agg(
            stream(changes, _ENVELOPE), {"s": img("s")}, measures,
            target_dir=target, checkpoint_dir=ckpt,
        )
    if sink == "incremental_join_agg":
        static = spark.createDataFrame(
            [(1, 1, "x"), (1, 2, "y")], "sign int, bk long, label string"
        )
        join_measures = {"v": F.col("v")}
        if wide:
            join_measures["w"] = F.col("v") * 2
        return sinks.foreach_batch_incremental_join_agg(
            stream(changes, _ENVELOPE),
            {"k": img("k").cast("long"), "v": img("v").cast("long")},
            static, [("k", "bk")], {"label": F.col("label")}, join_measures,
            target_dir=target, checkpoint_dir=ckpt,
        )
    partials = stream([("a", 1, 10), ("b", 1, 5)], "g string, n long, v long")
    if sink == "fold":
        return sinks.foreach_batch_fold(
            partials, ["g"], ["n", "v"] if wide else ["n"],
            target_dir=target, checkpoint_dir=ckpt,
        )
    aggs = [F.max("v").alias("v"), *([F.min("v").alias("w")] if wide else [])]
    return sinks.foreach_batch_merge_fold(
        partials, ["g"], lambda df: df.groupBy("g").agg(*aggs),
        target_dir=target, checkpoint_dir=ckpt,
    )


@pytest.mark.parametrize(
    "sink",
    ["apply_changes", "incremental_agg", "incremental_join_agg", "fold",
     "merge_fold", "scd2"],
)
def test_real_sink_schema_drift_raises(spark, tmp_path, sink):
    """Each versioned sink's own merge raises on schema drift: a second
    stream into the same view with a different column set fails its
    batch with the drift ValueError, and the committed view stays as
    the first stream left it."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    target = str(tmp_path / "view")
    _, q = _drift_sink(spark, str(tmp_path), sink, target, wide=False)
    q.awaitTermination()
    committed = sorted(read_view(spark, target).toJSON().collect())
    assert committed

    _, q = _drift_sink(spark, str(tmp_path), sink, target, wide=True)
    with pytest.raises(
        StreamingQueryException, match=r"ValueError: (view|history) schema drift"
    ):
        q.awaitTermination()
    assert sorted(read_view(spark, target).toJSON().collect()) == committed


def test_versioned_time_travel_and_lineage_restart_gc(spark):
    """read_view(version=N) reads a retained snapshot; and when a FRESH
    lineage restarts batch ids at 0, GC must never delete the live
    version even though it sorts lexicographically oldest."""
    from postrack_spark.streaming.sinks import (
        _versioned_batch,
        list_versions,
        read_view,
    )

    target = tempfile.mkdtemp(prefix="vt_")

    def merge(base, batch_df):
        part = batch_df.groupBy("k").agg(F.sum("x").cast("bigint").alias("x"))
        if base is None:
            return part
        return base.unionByName(part).groupBy("k").agg(
            F.sum("x").cast("bigint").alias("x")
        )

    apply = _versioned_batch(target, "ckpt-A", merge, keep_depth=3)
    for i in range(4):
        apply(spark.createDataFrame([("a", 1)], "k string, x int"), i)
    # keep_depth=3: versions 1,2,3 retained, 0 collected
    assert list_versions(target) == [1, 2, 3]
    assert read_view(spark, target).collect()[0]["x"] == 4      # live (v3)
    assert read_view(spark, target, version=2).collect()[0]["x"] == 3
    with pytest.raises(FileNotFoundError, match="not retained"):
        read_view(spark, target, version=0)

    # fresh lineage restarts at batch 0 -> v0 is live but sorts oldest
    apply_b = _versioned_batch(target, "ckpt-B", merge, keep_depth=2)
    apply_b(spark.createDataFrame([("a", 10)], "k string, x int"), 0)
    assert 0 in list_versions(target), "GC deleted the live version"
    assert read_view(spark, target).collect()[0]["x"] == 14


def test_log_structured_sink_protocol(spark):
    """Log-structured IVM sink: replay skip, O(batch) delta appends,
    auto-compaction folding deltas into a fresh base, GC of
    unreferenced dirs, and read-correctness at every point."""
    import os

    from postrack_spark.streaming.sinks import (
        _log_structured_batch,
        _read_pointer_log,
        compact_log_view,
        read_log_view,
    )

    target = tempfile.mkdtemp(prefix="lsb_")
    dims = {"s": F.element_at(F.col("img"), "s")}
    measures = {"v": F.element_at(F.col("img"), "v").cast("long")}
    apply = _log_structured_batch(target, "ckpt-A", dims, measures, compact_every=3)

    def env(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, after map<string,string>, before map<string,string>"
        )

    b0 = env([(1, "INSERT", {"s": "a", "v": "10"}, None),
              (2, "INSERT", {"s": "b", "v": "5"}, None)])
    b1 = env([(3, "UPDATE", {"s": "a", "v": "12"}, {"s": "a", "v": "10"})])
    b2 = env([(4, "DELETE", None, {"s": "b", "v": "5"})])

    apply(b0, 0)
    apply(b0, 0)  # crash replay: skipped (no duplicate delta dir entry)
    assert _read_pointer_log(target)[4] == ["d00000000"]
    apply(b1, 1)
    view = {r["s"]: (r["n_rows"], r["v"])
            for r in read_log_view(spark, target).collect()}
    assert view == {"a": (1, 12), "b": (1, 5)}

    apply(b2, 2)  # third delta -> auto-compaction fires
    lineage, bid, base, sums, deltas = _read_pointer_log(target)
    assert deltas == [] and base == "v00000002" and bid == 2
    assert sums == ["n_rows", "v"]
    # deltas GC'd; compacted base (and only protocol dirs) remain
    names = {n for n in os.listdir(target) if n.startswith(("d", "v"))}
    assert names == {"v00000002"}
    view = {r["s"]: (r["n_rows"], r["v"])
            for r in read_log_view(spark, target)
            .filter(F.col("n_rows") > 0).collect()}
    assert view == {"a": (1, 12)}  # b deleted: count 0 filtered

    compact_log_view(spark, target)  # idempotent on empty delta list
    apply(b1, 1)  # stale replay after compaction: still skipped
    assert _read_pointer_log(target)[4] == []


def test_log_sink_change_feed_idempotent_publish(spark):
    """feed_dir contract: one deterministic parquet file per applied
    batch; crash-replayed batches republish NOTHING (skip check) and a
    retried un-committed batch overwrites its own file — downstream
    consumers never see duplicate partials."""
    import os

    from postrack_spark.streaming.sinks import _log_structured_batch

    target = tempfile.mkdtemp(prefix="lsbf_")
    feed = tempfile.mkdtemp(prefix="feed_")
    apply = _log_structured_batch(
        target, "ckpt-A",
        dims={"s": F.element_at(F.col("img"), "s")},
        measures={"v": F.element_at(F.col("img"), "v").cast("long")},
        compact_every=100, feed_dir=feed,
    )

    def env(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, after map<string,string>, before map<string,string>"
        )

    apply(env([(1, "INSERT", {"s": "a", "v": "10"}, None)]), 0)
    apply(env([(1, "INSERT", {"s": "a", "v": "10"}, None)]), 0)  # replay
    apply(env([(2, "DELETE", None, {"s": "a", "v": "10"})]), 1)
    files = sorted(os.listdir(feed))
    assert files == ["d00000000.parquet", "d00000001.parquet"]
    fed = spark.read.parquet(feed).groupBy("s").agg(
        F.sum("n_rows").alias("n"), F.sum("v").alias("v")
    ).collect()
    assert [(r["s"], r["n"], r["v"]) for r in fed] == [("a", 0, 0)]


def test_dedup_index_replay_and_resume(spark):
    """Streaming dedup index protocol: a crash-replayed batch neither
    re-emits pairs nor duplicates index entries, and a resumed stream
    (same checkpoint lineage) continues finding cross-batch pairs
    against the accumulated index."""
    from postrack_spark.streaming.sinks import (
        _live_dirs,
        _read_pointer,
        foreach_batch_dedup_index,
        read_dedup_pairs,
    )
    import os

    # three docs: 1 and 2 near-identical (share shingles), 3 disjoint
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "one two three four five six seven eight nine"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = tempfile.mkdtemp(prefix="didx_src_")
    # file per doc -> 1-file batches; doc 2 arrives AFTER doc 1
    for i, r in enumerate(rows):
        spark.createDataFrame([r], "doc_id long, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"f{i}"))
    schema = "doc_id long, text string"
    target = tempfile.mkdtemp(prefix="didx_t_")
    ckpt = tempfile.mkdtemp(prefix="didx_c_")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    t1, q1 = foreach_batch_dedup_index(
        stream, target_dir=target, checkpoint_dir=ckpt
    )
    q1.awaitTermination()
    pairs = {(r["doc_a"], r["doc_b"]) for r in read_dedup_pairs(spark, t1).collect()}
    assert pairs == {(1, 2)}
    _, applied, base = _read_pointer(target)
    n_index_dirs = len(_live_dirs(os.path.join(target, "index"), base, applied))

    # resume on the same checkpoint with no new files: nothing replays
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    t2, q2 = foreach_batch_dedup_index(
        stream2, target_dir=target, checkpoint_dir=ckpt
    )
    q2.awaitTermination()
    assert {(r["doc_a"], r["doc_b"]) for r in read_dedup_pairs(spark, t2).collect()} == {(1, 2)}
    _, applied2, base2 = _read_pointer(target)
    assert len(_live_dirs(os.path.join(target, "index"), base2, applied2)) == n_index_dirs


def test_pair_index_compaction(spark):
    """compact_pair_index folds per-batch index/pairs dirs into c-bases
    (crash-safe write-then-swap), results unchanged, later batches keep
    probing the compacted base, and re-compaction is a no-op."""
    import os

    from postrack_spark.streaming.sinks import (
        _live_dirs,
        _read_pointer,
        compact_pair_index,
        foreach_batch_dedup_index,
        read_dedup_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "alpha beta gamma delta epsilon zeta theta iota"),
    ]
    schema = "doc_id long, text string"
    src = tempfile.mkdtemp(prefix="cpi_src_")
    for i, r in enumerate(rows[:2]):
        spark.createDataFrame([r], schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"f{i}"))
    target = tempfile.mkdtemp(prefix="cpi_t_")
    ckpt = tempfile.mkdtemp(prefix="cpi_c_")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    _, q = foreach_batch_dedup_index(stream, target_dir=target, checkpoint_dir=ckpt)
    q.awaitTermination()
    before = {(r["doc_a"], r["doc_b"]) for r in read_dedup_pairs(spark, target).collect()}
    assert before == {(1, 2)}

    compact_pair_index(spark, target)
    _, applied, base = _read_pointer(target)
    assert base == f"c{applied:08d}"
    assert len(_live_dirs(os.path.join(target, "index"), base, applied)) == 1
    assert {(r["doc_a"], r["doc_b"]) for r in read_dedup_pairs(spark, target).collect()} == before
    compact_pair_index(spark, target)  # idempotent no-op at same id
    assert _read_pointer(target)[2] == base

    # doc 3 arrives AFTER compaction: cross-batch pairs still found
    # against the compacted base
    spark.createDataFrame([rows[2]], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(src, "f2"))
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    _, q2 = foreach_batch_dedup_index(stream2, target_dir=target, checkpoint_dir=ckpt)
    q2.awaitTermination()
    after = {(r["doc_a"], r["doc_b"]) for r in read_dedup_pairs(spark, target).collect()}
    assert after == {(1, 2), (1, 3), (2, 3)}


def test_cluster_maintenance_cross_batch_merge(spark):
    """Incremental connected components: a later batch's edge linking
    two existing clusters must merge them (both components relabeled
    to the global min), while untouched clusters carry over."""
    from postrack_spark.streaming.sinks import (
        _versioned_batch,  # noqa: F401  (protocol exercised via sink)
        foreach_batch_cluster_maintenance,
    )

    import os

    schema = "doc_a long, doc_b long"
    src = tempfile.mkdtemp(prefix="ccm_src_")
    batches = [
        [(1, 2), (10, 11)],   # clusters {1,2}, {10,11}
        [(20, 21)],           # untouched third cluster
        [(2, 10)],            # merges {1,2} with {10,11}
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"f{i}"))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    target, q = foreach_batch_cluster_maintenance(stream)
    q.awaitTermination()
    labels = {r["doc"]: r["cluster"] for r in read_view(spark, target).collect()}
    assert labels == {1: 1, 2: 1, 10: 1, 11: 1, 20: 20, 21: 20}


def test_ann_index_compaction(spark):
    """compact_pair_index works on the ANN layout too (identical
    protocol): emitted pairs stable across the fold, later batches
    probe the compacted base."""
    import os

    from postrack_spark.streaming.sinks import (
        compact_pair_index,
        foreach_batch_ann_index,
        read_dedup_pairs,
    )

    schema = "vec_id long, vec array<double>"
    rows1 = [(1, [1.0, 0.5, 0.2, 0.1]), (2, [0.9, 0.55, 0.25, 0.1])]
    rows2 = [(3, [0.95, 0.5, 0.22, 0.12])]
    src = tempfile.mkdtemp(prefix="aic_src_")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        os.path.join(src, "f0")
    )
    target = tempfile.mkdtemp(prefix="aic_t_")
    ckpt = tempfile.mkdtemp(prefix="aic_c_")

    def run():
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        _, q = foreach_batch_ann_index(
            stream, target_dir=target, checkpoint_dir=ckpt,
            threshold=0.9, lsh_dims=[1, 2, 3, 4],
        )
        q.awaitTermination()

    run()
    assert {(r["id_a"], r["id_b"]) for r in read_dedup_pairs(spark, target).collect()} == {(1, 2)}
    compact_pair_index(spark, target)
    assert {(r["id_a"], r["id_b"]) for r in read_dedup_pairs(spark, target).collect()} == {(1, 2)}
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        os.path.join(src, "f1")
    )
    run()
    got = {(r["id_a"], r["id_b"]) for r in read_dedup_pairs(spark, target).collect()}
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_merge_fold_argminmax_monoid(spark):
    """foreach_batch_merge_fold's contract is a commutative monoid over
    row blocks: argmin/argmax partials carrying their keys must merge
    to the global pick regardless of the batch split, and replays must
    skip. Drives the versioned protocol directly with the same reagg
    shape streaming_ohlc_candles uses."""
    from postrack_spark.streaming.sinks import _versioned_batch, read_view

    target = tempfile.mkdtemp(prefix="mf_")

    def reagg(df):
        return df.groupBy("g").agg(
            F.min_by("open", "ok").alias("open"),
            F.min("ok").alias("ok"),
            F.max("hi").alias("hi"),
            F.sum("n").cast("bigint").alias("n"),
        )

    def merge(base, batch_df):
        part = reagg(batch_df)
        return part if base is None else reagg(base.unionByName(part))

    apply = _versioned_batch(target, "ckpt-mf", merge)
    schema = "g string, open double, ok string, hi double, n long"
    # rows arrive out of event order across batches: the key decides
    b0 = spark.createDataFrame([("a", 5.0, "t2", 5.0, 1), ("a", 9.0, "t3", 9.0, 1)], schema)
    b1 = spark.createDataFrame([("a", 7.0, "t1", 7.0, 1), ("b", 1.0, "t9", 1.0, 1)], schema)
    apply(b0, 0)
    apply(b0, 0)  # replay: no-op
    apply(b1, 1)
    got = {r["g"]: (r["open"], r["ok"], r["hi"], r["n"])
           for r in read_view(spark, target).collect()}
    # open for 'a' is the value at the SMALLEST key t1 (arrived last)
    assert got == {"a": (7.0, "t1", 9.0, 3), "b": (1.0, "t9", 1.0, 1)}


def test_ordered_admission_includes_sentinel_flush_file(spark):
    """Regression: a refactor once dropped the copy of the sentinel
    flush parquet (f009) into the admission dir — trailing-session
    emission then depended on whether availableNow runs a trailing
    no-data micro-batch, a measured run-to-run race. Pin that the
    9th file exists, holds exactly the one dummy-key row at global
    max ts + 1ms, and sorts (by name and mtime) after the 8 slices."""
    import glob as _glob
    import os as _os

    from postrack_spark.queries.streaming_queries import _ordered_event_admission

    dest = _ordered_event_admission(spark, "/root/testdata/sf0.001")
    files = sorted(_glob.glob(_os.path.join(dest, "f*.parquet")))
    assert len(files) == 9
    assert _os.path.basename(files[-1]) == "f009.parquet"
    mtimes = [_os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and mtimes[-1] > mtimes[-2]
    sent = spark.read.parquet(files[-1]).collect()
    assert len(sent) == 1 and sent[0]["user_id"] == -1
    from pyspark.sql import functions as F

    mx = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .agg(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    import datetime

    assert sent[0]["ts"] == mx + datetime.timedelta(milliseconds=1)
