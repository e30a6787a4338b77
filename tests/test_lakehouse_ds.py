"""Batch DataSource + SQL lane over the lakehouse tables
(sources/lakehouse_ds.py): spark.read.format / CREATE TEMPORARY VIEW …
USING / spark.sql must read exactly what the library paths
(read_delta / read_iceberg) read — including column mapping, deletion
vectors, MOR position + equality deletes, time travel. Files prune
only from the load's partition_filter / stats_filter options, with
PARITY against the library pruners (scan_report vs scan_stats); a
WHERE alone filters rows but never selects files, so differently
filtered scans of one loaded relation stay sound."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from postrack_spark.sources.lakehouse_ds import register_lakehouse_sources
from postrack_spark.streaming.delta_log import read_delta, write_delta
from postrack_spark.streaming.iceberg import append_iceberg, read_iceberg


@pytest.fixture()
def lh(spark):
    register_lakehouse_sources(spark)
    return spark


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        (F.col("id") % 4).cast("string").alias("g"))


# ------------------------------------------------------------ pydelta


def test_pydelta_roundtrip_and_sql_lane(lh):
    t = tempfile.mkdtemp(prefix="lhds_d_")
    write_delta(_df(lh, 0, 50).repartition(4), t)
    df = lh.read.format("pydelta").load(t)
    assert df.columns == ["k", "v", "g"]
    assert sorted(r["k"] for r in df.collect()) == list(range(50))
    # the SQL lane: USING resolves the registered Python source
    lh.sql(f"CREATE OR REPLACE TEMPORARY VIEW lhd_v USING pydelta "
           f"OPTIONS (path '{t}')")
    got = lh.sql("SELECT g, CAST(sum(v) AS BIGINT) AS s FROM lhd_v "
                 "GROUP BY g ORDER BY g").collect()
    lib = (read_delta(lh, t).groupBy("g")
           .agg(F.sum("v").cast("long").alias("s"))
           .orderBy("g").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in lib]


def test_pydelta_version_time_travel(lh):
    t = tempfile.mkdtemp(prefix="lhds_dtt_")
    write_delta(_df(lh, 0, 10), t)
    write_delta(_df(lh, 10, 20), t)
    v0 = lh.read.format("pydelta").option("version", "0").load(t)
    assert sorted(r["k"] for r in v0.collect()) == list(range(10))


def test_pydelta_partition_pruning_parity(lh):
    t = tempfile.mkdtemp(prefix="lhds_dp_")
    write_delta(_df(lh, 0, 200), t, partition_by=["g"])
    rep = os.path.join(t, "scan_report.json")
    ds = (lh.read.format("pydelta").option("scan_report", rep)
          .option("partition_filter", json.dumps({"g": "1"}))
          .load(t).filter("g = '1'"))
    got = sorted(r["k"] for r in ds.collect())
    stats: dict = {}
    lib = read_delta(lh, t, partition_filter={"g": "1"}, scan_stats=stats)
    assert got == sorted(r["k"] for r in lib.collect())
    with open(rep) as f:
        r = json.load(f)
    # PARITY: the DataSource prunes exactly what the library prunes
    assert r == {"files_total": stats["files_total"],
                 "files_scanned": stats["files_scanned"]}
    assert 0 < r["files_scanned"] < r["files_total"]


_SOUNDNESS_SHAPES = {
    "two_filtered": lambda lh, df: df.filter("g = '1'").union(
        df.filter("g = '2'")).count(),
    "whole_and_filtered": lambda lh, df: df.union(
        df.filter("g = '1'")).count(),
    "sql_view_union": lambda lh, df: lh.sql(
        "SELECT count(*) AS n FROM (SELECT * FROM lhs_v WHERE g = '1' "
        "UNION ALL SELECT * FROM lhs_v WHERE g = '2')").collect()[0]["n"],
}


@pytest.mark.parametrize("shape,want", [
    ("two_filtered", 100), ("whole_and_filtered", 250),
    ("sql_view_union", 100)])
@pytest.mark.parametrize("fmt", ["pydelta", "pyiceberg"])
def test_pydelta_two_scans_of_one_frame_keep_their_own_filters(
        lh, fmt, shape, want):
    """Spark 4.1.2 keeps one read plan per loaded relation, so a
    reader that pruned files from pushed filters served every scan of
    one frame (or one SQL view) the first scan's files."""
    t = tempfile.mkdtemp(prefix="lhds_2s_")
    if fmt == "pydelta":
        write_delta(_df(lh, 0, 200), t, partition_by=["g"])
    else:
        append_iceberg(_df(lh, 0, 200), t, partition_by=[("g", "identity")])
    df = lh.read.format(fmt).load(t)
    lh.sql(f"CREATE OR REPLACE TEMPORARY VIEW lhs_v USING {fmt} "
           f"OPTIONS (path '{t}')")
    assert _SOUNDNESS_SHAPES[shape](lh, df) == want


def test_pydelta_stats_pruning_from_pushed_range(lh):
    t = tempfile.mkdtemp(prefix="lhds_ds_")
    # range-partitioned files give disjoint k bounds per file
    write_delta(_df(lh, 0, 400).repartitionByRange(8, "k"), t)
    rep = os.path.join(t, "scan_report.json")
    ds = (lh.read.format("pydelta").option("scan_report", rep)
          .load(t).filter("k >= 390"))
    assert sorted(r["k"] for r in ds.collect()) == list(range(390, 400))
    with open(rep) as f:
        r = json.load(f)
    # a WHERE alone never selects files (pushed filters are unsound
    # here); Delta stats pruning stays on pruned_read_delta
    assert r["files_scanned"] == r["files_total"]


def test_pydelta_column_mapping_and_dv(lh):
    from postrack_spark.streaming.delta_log import (
        enable_column_mapping_delta,
        rename_column_delta,
    )
    from postrack_spark.streaming.deletion_vectors import delete_delta_dv

    t = tempfile.mkdtemp(prefix="lhds_dm_")
    write_delta(_df(lh, 0, 40).repartition(2), t)
    enable_column_mapping_delta(t)
    rename_column_delta(t, "v", "val")
    delete_delta_dv(lh, t, "k % 5 = 0")
    df = lh.read.format("pydelta").load(t)
    assert df.columns == ["k", "val", "g"]
    got = sorted(r["k"] for r in df.collect())
    assert got == [k for k in range(40) if k % 5 != 0]
    # values project through the physical indirection
    row = df.filter("k = 7").collect()[0]
    assert row["val"] == 14


def test_pydelta_schema_evolution_nulls_old_files(lh):
    t = tempfile.mkdtemp(prefix="lhds_de_")
    write_delta(_df(lh, 0, 10), t)
    evolved = _df(lh, 10, 20).withColumn("extra", F.col("k") * 10)
    write_delta(evolved, t, merge_schema=True)
    df = lh.read.format("pydelta").load(t)
    got = {r["k"]: r["extra"] for r in df.collect()}
    assert got[5] is None and got[15] == 150


# ---------------------------------------------------------- pyiceberg


def test_pyiceberg_roundtrip_and_sql_lane(lh):
    t = tempfile.mkdtemp(prefix="lhds_i_")
    append_iceberg(_df(lh, 0, 30).repartition(3), t)
    df = lh.read.format("pyiceberg").load(t)
    assert sorted(r["k"] for r in df.collect()) == list(range(30))
    lh.sql(f"CREATE OR REPLACE TEMPORARY VIEW lhi_v USING pyiceberg "
           f"OPTIONS (path '{t}')")
    got = lh.sql("SELECT CAST(sum(v) AS BIGINT) AS s FROM lhi_v").collect()
    assert got[0]["s"] == sum(2 * k for k in range(30))


def test_pyiceberg_snapshot_time_travel(lh):
    t = tempfile.mkdtemp(prefix="lhds_itt_")
    s1 = append_iceberg(_df(lh, 0, 10), t)
    append_iceberg(_df(lh, 10, 20), t)
    old = (lh.read.format("pyiceberg")
           .option("snapshot_id", str(s1)).load(t))
    assert sorted(r["k"] for r in old.collect()) == list(range(10))


def test_pyiceberg_mor_position_and_equality_deletes(lh):
    from postrack_spark.streaming.iceberg import (
        delete_keys_iceberg,
        delete_positions_iceberg,
    )

    t = tempfile.mkdtemp(prefix="lhds_im_")
    append_iceberg(_df(lh, 0, 40).repartition(4), t, format_version=2)
    delete_positions_iceberg(lh, t, "k % 10 = 3")
    keys = lh.createDataFrame([(8,), (24,)], "k long")
    delete_keys_iceberg(lh, t, keys)
    ds = lh.read.format("pyiceberg").load(t)
    lib = read_iceberg(lh, t)
    want = sorted(r["k"] for r in lib.collect())
    assert sorted(r["k"] for r in ds.collect()) == want
    assert 3 not in want and 8 not in want and 24 not in want


def test_pyiceberg_identity_partition_pushdown_parity(lh):
    t = tempfile.mkdtemp(prefix="lhds_ip_")
    append_iceberg(_df(lh, 0, 200), t, partition_by=[("g", "identity")])
    rep = os.path.join(t, "scan_report.json")
    ds = (lh.read.format("pyiceberg").option("scan_report", rep)
          .option("partition_filter", json.dumps({"g": "2"}))
          .load(t).filter("g = '2'"))
    got = sorted(r["k"] for r in ds.collect())
    stats: dict = {}
    lib = read_iceberg(lh, t, partition_filter={"g": "2"}, scan_stats=stats)
    assert got == sorted(r["k"] for r in lib.collect())
    with open(rep) as f:
        r = json.load(f)
    assert r == {"files_total": stats["files_total"],
                 "files_scanned": stats["files_scanned"]}
    assert 0 < r["files_scanned"] < r["files_total"]


def test_pyiceberg_stats_pruning_from_pushed_range(lh):
    t = tempfile.mkdtemp(prefix="lhds_is_")
    append_iceberg(_df(lh, 0, 400).repartitionByRange(8, "k"), t)
    rep = os.path.join(t, "scan_report.json")
    ds = (lh.read.format("pyiceberg").option("scan_report", rep)
          .option("stats_filter", json.dumps({"k": [None, 19]}))
          .load(t).filter("k < 20"))
    assert sorted(r["k"] for r in ds.collect()) == list(range(20))
    with open(rep) as f:
        r = json.load(f)
    assert 0 < r["files_scanned"] < r["files_total"]


# ---------------------------------------------------------- write lanes


def test_pydelta_write_create_append_overwrite(lh):
    t = tempfile.mkdtemp(prefix="lhds_w_")
    _df(lh, 0, 30).repartition(3).write.format("pydelta").mode(
        "append").save(t)
    assert read_delta(lh, t).count() == 30
    _df(lh, 30, 40).write.format("pydelta").mode("append").save(t)
    assert sorted(r["k"] for r in read_delta(lh, t).collect()) == list(
        range(40))
    _df(lh, 100, 103).write.format("pydelta").mode("overwrite").save(t)
    assert sorted(r["k"] for r in read_delta(lh, t).collect()) == [
        100, 101, 102]
    # time travel still sees the pre-overwrite snapshot
    assert read_delta(lh, t, version=1).count() == 40
    # and the library writer composes on the same log
    write_delta(_df(lh, 200, 205), t)
    assert read_delta(lh, t).count() == 8


def test_pydelta_write_partitioned_and_row_tracking(lh):
    from postrack_spark.streaming.delta_log import (
        enable_row_tracking_delta,
        read_delta_with_row_ids,
    )

    t = tempfile.mkdtemp(prefix="lhds_wp_")
    write_delta(_df(lh, 0, 40), t, partition_by=["g"])
    _df(lh, 40, 80).write.format("pydelta").mode("append").save(t)
    stats: dict = {}
    got = read_delta(lh, t, partition_filter={"g": "1"}, scan_stats=stats)
    assert sorted(r["k"] for r in got.collect()) == [
        k for k in range(80) if k % 4 == 1]
    assert 0 < stats["files_scanned"] < stats["files_total"]
    t2 = tempfile.mkdtemp(prefix="lhds_wrt_")
    write_delta(_df(lh, 0, 20), t2)
    enable_row_tracking_delta(t2)
    _df(lh, 20, 40).write.format("pydelta").mode("append").save(t2)
    ids = read_delta_with_row_ids(lh, t2).select("_row_id")
    assert ids.distinct().count() == 40  # fresh ids, no collisions


def test_pydelta_write_honest_seams(lh):
    from postrack_spark.streaming.delta_log import (
        add_check_constraint_delta,
        set_table_property_delta,
    )
    from pyspark.sql.utils import AnalysisException

    t = tempfile.mkdtemp(prefix="lhds_ws_")
    write_delta(_df(lh, 0, 10), t)
    add_check_constraint_delta(lh, t, "k_pos", "k >= 0")
    with pytest.raises(AnalysisException, match="use write_delta"):
        _df(lh, 10, 20).write.format("pydelta").mode("append").save(t)
    t2 = tempfile.mkdtemp(prefix="lhds_wa_")
    write_delta(_df(lh, 0, 10), t2)
    set_table_property_delta(t2, "delta.appendOnly", "true")
    with pytest.raises(AnalysisException, match="appendOnly"):
        _df(lh, 0, 5).write.format("pydelta").mode("overwrite").save(t2)
    # schema drift refuses (no silent evolution)
    with pytest.raises(AnalysisException, match="schema enforcement"):
        (_df(lh, 0, 5).withColumn("extra", F.lit(1))
         .write.format("pydelta").mode("append").save(t2))


def test_pydelta_write_mapped_table_stamps_physical(lh):
    import glob

    import pyarrow.parquet as pq

    from postrack_spark.streaming.delta_log import (
        enable_column_mapping_delta,
        rename_column_delta,
    )

    t = tempfile.mkdtemp(prefix="lhds_wm_")
    write_delta(_df(lh, 0, 10).limit(0), t)
    enable_column_mapping_delta(t, mode="id")
    _df(lh, 0, 20).write.format("pydelta").mode("append").save(t)
    rename_column_delta(t, "v", "val")
    got = {r["k"]: r["val"] for r in read_delta(lh, t).collect()}
    assert got == {k: 2 * k for k in range(20)}
    data = [f for f in glob.glob(t + "/part-*.parquet")
            if pq.ParquetFile(f).metadata.num_rows > 0]
    sch = pq.ParquetFile(data[0]).schema_arrow
    assert all(n.startswith("col-") for n in sch.names)
    assert {dict(f.metadata or {}).get(b"PARQUET:field_id")
            for f in sch} == {b"1", b"2", b"3"}


def test_pyiceberg_write_append_and_refusals(lh):
    from pyspark.sql.utils import AnalysisException

    from postrack_spark.streaming.iceberg import (
        _current_metadata,
        append_iceberg,
    )

    t = tempfile.mkdtemp(prefix="lhds_wi_")
    _df(lh, 0, 30).repartition(2).write.format("pyiceberg").mode(
        "append").save(t)
    _df(lh, 30, 40).write.format("pyiceberg").mode("append").save(t)
    assert sorted(r["k"] for r in read_iceberg(lh, t).collect()) == list(
        range(40))
    meta = _current_metadata(t)
    assert len(meta["snapshots"]) == 2
    # harvested bounds skip like library appends
    stats: dict = {}
    read_iceberg(lh, t, stats_filter={"k": (0, 1)}, scan_stats=stats)
    assert 0 < stats["files_scanned"] < stats["files_total"]
    # library appends compose on the same metadata
    append_iceberg(_df(lh, 40, 45), t)
    assert read_iceberg(lh, t).count() == 45
    with pytest.raises(AnalysisException, match="append-only"):
        _df(lh, 0, 5).write.format("pyiceberg").mode("overwrite").save(t)
    t2 = tempfile.mkdtemp(prefix="lhds_wis_")
    append_iceberg(_df(lh, 0, 10), t2, sort_by=["k"])
    with pytest.raises(AnalysisException, match="write order"):
        _df(lh, 10, 20).write.format("pyiceberg").mode("append").save(t2)


def test_pyiceberg_v3_deletion_vectors_apply_via_datasource(lh):
    """A v3 table's Puffin deletion vectors must mask rows in the SQL
    lane exactly as in the library read — silently resurrecting
    deleted rows would be the worst possible failure of the lane."""
    from postrack_spark.streaming.iceberg import (
        delete_positions_iceberg,
    )

    t = tempfile.mkdtemp(prefix="lhds_iv3_")
    append_iceberg(_df(lh, 0, 40).repartition(4), t, format_version=3)
    delete_positions_iceberg(lh, t, "k % 10 = 3")
    ds = lh.read.format("pyiceberg").load(t)
    lib = read_iceberg(lh, t)
    want = sorted(r["k"] for r in lib.collect())
    assert sorted(r["k"] for r in ds.collect()) == want
    assert 3 not in want and 13 not in want


def test_pydelta_stream_writer_exactly_once(lh):
    """writeStream.format('pydelta'): txn-action idempotence — a
    restart from the same checkpoint (and a manual replay of an
    already-committed batch id) commits nothing twice."""
    from postrack_spark.streaming.delta_log import last_txn_version

    src = tempfile.mkdtemp(prefix="lhds_sw_src_")
    for i in range(3):
        (_df(lh, i * 10, (i + 1) * 10).coalesce(1)
         .write.mode("append").parquet(src))
    t = tempfile.mkdtemp(prefix="lhds_sw_t_")
    cp = tempfile.mkdtemp(prefix="lhds_sw_cp_")
    schema = lh.read.parquet(src).schema

    def run():
        q = (lh.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.format("pydelta").option("path", t)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    assert read_delta(lh, t).count() == 30
    assert last_txn_version(t) is not None
    run()  # restart on the same checkpoint: replay-safe
    assert read_delta(lh, t).count() == 30
    # no stray staged files survive the replayed batches
    import glob

    parts = glob.glob(os.path.join(t, "part-*.parquet"))
    from postrack_spark.streaming.delta_log import _snapshot_actions

    acts, _s, _v = _snapshot_actions(t, None)
    referenced = {os.path.join(t, p) for p, _a in acts}
    assert set(parts) == referenced


def test_pyiceberg_stream_writer_exactly_once(lh):
    from postrack_spark.streaming.iceberg import _current_metadata

    src = tempfile.mkdtemp(prefix="lhds_swi_src_")
    for i in range(3):
        (_df(lh, i * 10, (i + 1) * 10).coalesce(1)
         .write.mode("append").parquet(src))
    t = tempfile.mkdtemp(prefix="lhds_swi_t_")
    cp = tempfile.mkdtemp(prefix="lhds_swi_cp_")
    schema = lh.read.parquet(src).schema

    def run():
        q = (lh.readStream.schema(schema)
             .option("maxFilesPerTrigger", "1").parquet(src)
             .writeStream.format("pyiceberg").option("path", t)
             .option("checkpointLocation", cp)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    run()
    assert read_iceberg(lh, t).count() == 30
    n_snaps = len(_current_metadata(t)["snapshots"])
    run()  # restart: replay-safe, no new snapshots
    assert read_iceberg(lh, t).count() == 30
    assert len(_current_metadata(t)["snapshots"]) == n_snaps
    # summaries carry the replay-protection ids
    assert any("batch-id" in (s.get("summary") or {})
               for s in _current_metadata(t)["snapshots"])


def test_one_format_name_serves_stream_reads(lh):
    """readStream.format('pydelta'/'pyiceberg') resolves to the
    change-feed / incremental-append sources behind the SAME names the
    batch lanes use — the delta-spark one-format surface."""
    t = tempfile.mkdtemp(prefix="lhds_sr_d_")
    write_delta(_df(lh, 0, 20), t)
    write_delta(_df(lh, 20, 30), t)
    cp = tempfile.mkdtemp(prefix="lhds_sr_cp_")
    seen: list[int] = []
    q = (lh.readStream.format("pydelta").option("path", t).load()
         .writeStream.foreachBatch(lambda b, i: seen.append(b.count()))
         .option("checkpointLocation", cp)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert sum(seen) == 30
    t2 = tempfile.mkdtemp(prefix="lhds_sr_i_")
    append_iceberg(_df(lh, 0, 15), t2)
    cp2 = tempfile.mkdtemp(prefix="lhds_sr_cp2_")
    seen2: list[int] = []
    q2 = (lh.readStream.format("pyiceberg").option("path", t2).load()
          .writeStream.foreachBatch(lambda b, i: seen2.append(b.count()))
          .option("checkpointLocation", cp2)
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    assert sum(seen2) == 15


def test_batch_cdf_read_through_datasource(spark):
    """spark.read.format('pydelta').option('readChangeFeed', 'true'):
    the SQL-lane batch CDF read equals read_changes_delta row for row
    — change files, append synthesis, and the pre-enable refusal."""
    import tempfile

    from pyspark.sql import functions as F

    from postrack_spark.sources.lakehouse_ds import register_lakehouse_sources
    from postrack_spark.streaming.delta_log import (
        delete_delta,
        enable_change_feed_delta,
        read_changes_delta,
        write_delta,
    )

    register_lakehouse_sources(spark)
    t = tempfile.mkdtemp(prefix="ds_cdf_")
    df = spark.range(0, 8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_delta(df, t)                                     # v0
    enable_change_feed_delta(t)                            # v1
    write_delta(spark.range(8, 10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        t, mode="append")                                  # v2
    delete_delta(spark, t, "k < 2")                        # v3 (change files)

    lib = read_changes_delta(spark, t, 0)
    ds = (spark.read.format("pydelta")
          .option("readChangeFeed", "true")
          .option("startingVersion", "0").load(t))
    key = lambda r: (r["_commit_version"], r["_change_type"], r["k"])  # noqa: E731
    assert sorted(map(key, lib.collect())) == sorted(map(key, ds.collect()))
    # range option works
    ds23 = (spark.read.format("pydelta")
            .option("readChangeFeed", "true")
            .option("startingVersion", "2")
            .option("endingVersion", "2").load(t))
    assert {r["_commit_version"] for r in ds23.collect()} == {2}
    assert {r["_change_type"] for r in ds23.collect()} == {"insert"}
    # pre-enable rewrites refuse through the SQL lane too
    t2 = tempfile.mkdtemp(prefix="ds_cdf2_")
    write_delta(df, t2)
    delete_delta(spark, t2, "k < 2")
    import pytest as _pytest
    with _pytest.raises(Exception, match="change files"):
        (spark.read.format("pydelta")
         .option("readChangeFeed", "true")
         .option("startingVersion", "0").load(t2).collect())


def test_datasource_write_refuses_identity_tables(spark):
    """GENERATED ALWAYS cannot survive the DataSource lane: schema
    enforcement would force explicit identity values and the commit
    would never bump the high-water mark — the lane refuses (review
    finding: the SQL INSERT INTO path must not bypass write_delta's
    identity contract)."""
    import tempfile

    import pytest as _pytest
    from pyspark.sql import functions as F

    from postrack_spark.sources.lakehouse_ds import register_lakehouse_sources
    from postrack_spark.streaming.delta_log import write_delta

    register_lakehouse_sources(spark)
    t = tempfile.mkdtemp(prefix="ds_idy_")
    write_delta(
        spark.range(0, 3).select(F.col("id").alias("k")),
        t, identity={"rid": {"start": 1, "step": 1}})
    with _pytest.raises(Exception, match="identity"):
        (spark.range(3, 5).select(F.col("id").alias("k"),
                                  (F.col("id") + 10).alias("rid"))
         .write.format("pydelta").mode("append").save(t))
