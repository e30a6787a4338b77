"""postgres_cdc DataSource end-to-end: capture files -> batch + stream
DataFrames -> materialization; offset resume across restarts; the
full Conn.bootstrap path with foreachBatch."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from postrack_spark.streaming.sinks import read_view
from postrack_spark.api import Conn, Table
from postrack_spark.cdc import typed_column
from postrack_spark.sources.postgres_cdc import register, write_frame_file
from tests.test_pgoutput import ORDERS_COLS, TS, golden_frames
from postrack_spark.sources.pgoutput import (
    encode_begin,
    encode_commit,
    encode_delete,
    encode_insert,
    encode_relation,
    encode_truncate,
    encode_update,
    wrap_xlogdata,
)


def _capture_dir_with_golden() -> str:
    d = tempfile.mkdtemp(prefix="capture_")
    write_frame_file(os.path.join(d, "000001.pgout"), golden_frames())
    return d


def _more_inserts(start_lsn: int, keys: list[int]) -> list[bytes]:
    frames = [wrap_xlogdata(encode_relation(101, "public", "orders", ORDERS_COLS), start_lsn)]
    frames.append(wrap_xlogdata(encode_begin(start_lsn, TS, 900), start_lsn))
    for i, k in enumerate(keys):
        frames.append(wrap_xlogdata(encode_insert(101, [str(k), "O", "50.0"]), start_lsn + 1 + i))
    frames.append(wrap_xlogdata(encode_commit(start_lsn + 99, start_lsn + 99, TS), start_lsn + 99))
    return frames


def _orders_key():
    return F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )


def _postgres_cdc_scans(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for ln in plan.splitlines() if "BatchScan postgres_cdc" in ln)


def test_batch_read(spark):
    d = _capture_dir_with_golden()
    register(spark)
    df = spark.read.format("postgres_cdc").option("capture_dir", d).load()
    rows = df.orderBy("lsn").collect()
    assert [r["op"] for r in rows] == ["INSERT", "UPDATE", "UPDATE", "INSERT", "DELETE", "TRUNCATE"]
    assert rows[0]["after"]["o_orderkey"] == "1"
    assert rows[0]["txid"] == 777
    assert rows[5]["table"] == "scratch"


def test_event_filter_and_start_lsn(spark):
    d = _capture_dir_with_golden()
    register(spark)
    df = (
        spark.read.format("postgres_cdc")
        .option("capture_dir", d)
        .option("events", "INSERT,DELETE")
        .option("start_lsn", "12")
        .load()
    )
    ops = [r["op"] for r in df.orderBy("lsn").collect()]
    assert ops == ["INSERT", "DELETE"]  # lsn 12 excluded (resume at lsn+1)


def test_stream_resume_across_restarts(spark):
    """File-offset resume ≡ the reference's lsn+1 restart semantics
    (postrack.go:297): run 2 on the same checkpoint reads only new
    capture files."""
    d = _capture_dir_with_golden()
    register(spark)
    ckpt = tempfile.mkdtemp(prefix="cdc_ds_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="cdc_ds_out_")

    def run_once():
        stream = spark.readStream.format("postgres_cdc").option("capture_dir", d).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out_dir).count() == 6

    write_frame_file(os.path.join(d, "000002.pgout"), _more_inserts(100, [10, 11]))
    run_once()
    final = spark.read.parquet(out_dir)
    assert final.count() == 8  # only the 2 new inserts appended
    # ack log written after each committed batch (keepAlive analog)
    assert os.path.exists(os.path.join(d, "_acks.jsonl"))


def test_bootstrap_foreachbatch(spark):
    """Conn.bootstrap ≡ postrack.go:320-338: configure + start, batches
    delivered to the HandleFunc-equivalent."""
    d = _capture_dir_with_golden()
    seen: list[int] = []

    def handle(batch_df, batch_id):
        seen.append(batch_df.count())

    conn = Conn("postgres://ignored", executor=None)
    q = conn.bootstrap(
        spark,
        "slot1",
        [Table("public", "orders")],
        ["INSERT", "UPDATE", "DELETE", "TRUNCATE"],
        lsn=0,
        handle_func=handle,
        capture_dir=d,
    )
    q.awaitTermination()
    assert sum(seen) == 6


def test_datasource_to_materialization(spark):
    """Decode -> typed projection -> latest-per-key materialization over
    the golden stream: key 1 deleted, key 2 survives. The action decodes
    the capture once: its plan has a single postgres_cdc scan (the
    TRUNCATE watermark is an aggregate of the same compaction, not a
    second branch)."""
    d = _capture_dir_with_golden()
    register(spark)
    df = spark.read.format("postgres_cdc").option("capture_dir", d).load()
    from postrack_spark.cdc import apply_changes

    final = apply_changes(df, _orders_key(), key_name="o_orderkey")
    assert _postgres_cdc_scans(final) == 1
    rows = final.orderBy("o_orderkey").collect()
    assert [r["o_orderkey"] for r in rows] == [2]


def test_max_files_per_trigger_bounds_each_batch(spark):
    """maxFilesPerTrigger (SURVEY §2b backpressure - the admission
    control the reference lacks): with a cap of 1 file, each
    AvailableNow RUN drains exactly one capture file (Spark snapshots
    the first reported offset), and repeated runs over one checkpoint
    converge to the full unbounded read - bounded, checkpoint-correct
    drains."""
    import tempfile

    d = _capture_dir_with_golden()
    # roll two more capture files so one trigger CAN span several
    write_frame_file(os.path.join(d, "000002.pgout"), _more_inserts(1000, [31, 32]))
    write_frame_file(os.path.join(d, "000003.pgout"), _more_inserts(2000, [41]))
    register(spark)
    batches: list[int] = []
    stream = (
        spark.readStream.format("postgres_cdc")
        .option("capture_dir", d)
        .option("maxFilesPerTrigger", "1")
        .load()
    )
    with tempfile.TemporaryDirectory() as ckpt:
        runs = 0
        while runs < 6:
            before = sum(batches)
            q = (
                stream.writeStream.foreachBatch(
                    lambda df, bid: batches.append(df.count())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            runs += 1
            if sum(batches) == before:  # drained
                break
    total_unbounded = (
        spark.read.format("postgres_cdc").option("capture_dir", d).load().count()
    )
    assert sum(batches) == total_unbounded
    assert len([b for b in batches if b > 0]) >= 2, batches


def test_incremental_view_via_conn(spark):
    """Conn.incremental_view: the packaged IVM consumer over the
    golden capture stream — the view equals the aggregate of the
    decoded events' signed deltas."""
    from pyspark.sql import functions as F

    d = _capture_dir_with_golden()
    conn = Conn("postgres://ignored", executor=None)
    target, q = conn.incremental_view(
        spark,
        "slot_ivm",
        [Table("public", "orders")],
        dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
        # try_cast: the golden stream carries an UNCHANGED-TOAST sentinel
        # (resolve_unchanged is the full fix; IVM measures must tolerate it)
        measures={
            "cents": F.round(
                F.expr("try_cast(element_at(img, 'o_totalprice') AS DOUBLE)") * 100
            ).cast("long")
        },
        capture_dir=d,
    )
    q.awaitTermination()
    view = {
        r["o_orderstatus"]: (r["n_rows"], r["cents"])
        for r in read_view(spark, target).filter("n_rows > 0").collect()
    }
    # golden stream (test_golden_sequence): after replay the live rows
    # and their prices determine the maintained view; recompute the
    # expectation from the decoded envelope directly.
    from postrack_spark.cdc.envelope import CHANGE_SCHEMA
    from postrack_spark.cdc.ivm import incremental_agg
    from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream

    rows = decode_xlogdata_stream(golden_frames(), DecoderState())
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in CHANGE_SCHEMA.fields) for r in rows], CHANGE_SCHEMA
    )
    expect = {
        r["o_orderstatus"]: (r["n_rows"], r["cents"])
        for r in incremental_agg(
            df,
            dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
            measures={
                "cents": F.round(
                    F.expr("try_cast(element_at(img, 'o_totalprice') AS DOUBLE)") * 100
                ).cast("long")
            },
        ).collect()
    }
    assert view == expect and view


def test_incremental_join_view_via_conn(spark):
    """Conn.incremental_join_view: the packaged stream-static join IVM
    over the golden capture stream — per-status totals weighted by a
    static per-key dimension must equal the signed fold computed
    directly from the decoded envelope joined to the same dimension."""
    from pyspark.sql import functions as F

    d = _capture_dir_with_golden()
    static = spark.createDataFrame(
        [(1, 1, 3), (1, 2, 5)], "sign int, dim_key long, weight long"
    )
    conn = Conn("postgres://ignored", executor=None)
    target, q = conn.incremental_join_view(
        spark,
        "slot_ivmj",
        [Table("public", "orders")],
        stream_cols={
            "o_orderkey": F.expr(
                "try_cast(element_at(img, 'o_orderkey') AS BIGINT)"
            ),
            "o_orderstatus": F.element_at(F.col("img"), "o_orderstatus"),
        },
        static_signed=static,
        on=[("o_orderkey", "dim_key")],
        dims={"o_orderstatus": F.col("o_orderstatus")},
        measures={"w": F.col("weight")},
        capture_dir=d,
    )
    q.awaitTermination()
    view = {
        r["o_orderstatus"]: (r["n_rows"], r["w"])
        for r in read_view(spark, target).filter("n_rows > 0").collect()
    }
    # golden stream: key 1 INSERT(O), UPDATE(O->F, full old image),
    # UPDATE(F, EMPTY old image - default replica identity), DELETE(F);
    # key 2 INSERT(O). Without capture-side before-image recovery
    # (recover_before is documented as pre-stream, order-sensitive) the
    # empty-before UPDATE contributes +F with no matching -F, so key 1
    # leaves an F residue; key 2 survives as one O row with weight 5.
    assert view == {"O": (1, 5), "F": (1, 3)}


def test_scd2_history_via_conn(spark):
    """Conn.scd2_history: the packaged type-2 history over the golden
    capture stream — key 1's three versions chain validity intervals
    and its DELETE closes the last; key 2 stays current."""
    from pyspark.sql import functions as F

    d = _capture_dir_with_golden()
    conn = Conn("postgres://ignored", executor=None)
    target, q = conn.scd2_history(
        spark,
        "slot_scd2",
        [Table("public", "orders")],
        # DELETE events carry the key only in the before image
        key_expr=F.coalesce(
            F.expr("try_cast(element_at(after, 'o_orderkey') AS BIGINT)"),
            F.expr("try_cast(element_at(before, 'o_orderkey') AS BIGINT)"),
        ),
        value_cols={
            "status": F.element_at(F.col("after"), "o_orderstatus"),
        },
        capture_dir=d,
    )
    q.awaitTermination()
    hist = sorted(
        (r["key"], r["valid_from_lsn"], r["valid_to_lsn"], r["status"])
        for r in read_view(spark, target).collect()
    )
    # golden stream LSNs: key 1 INSERT@12, UPDATE@13, UPDATE@14,
    # DELETE@16; key 2 INSERT@15
    assert hist == [
        (1, 12, 13, "O"),
        (1, 13, 14, "F"),
        (1, 14, 16, "F"),
        (2, 15, None, "O"),
    ]


def _non_ascii_frames(lsn: int) -> list[bytes]:
    return [
        wrap_xlogdata(encode_relation(101, "public", "orders", ORDERS_COLS), lsn),
        wrap_xlogdata(encode_begin(lsn, TS, 901), lsn),
        wrap_xlogdata(encode_insert(101, ["7", "Ø", "ユニコード €"]), lsn + 1),
        wrap_xlogdata(encode_update(101, ["7", "ß", None], ["7", "Ø", "ユニコード €"]), lsn + 2),
        wrap_xlogdata(encode_commit(lsn + 3, lsn + 3, TS), lsn + 3),
    ]


def _truncate_only_frames(lsn: int) -> list[bytes]:
    return [
        wrap_xlogdata(encode_relation(102, "public", "scratch", ["x"]), lsn),
        wrap_xlogdata(encode_begin(lsn, TS, 902), lsn),
        wrap_xlogdata(encode_truncate([102]), lsn + 1),
        wrap_xlogdata(encode_commit(lsn + 2, lsn + 2, TS), lsn + 2),
    ]


def _decoded_rows(d: str, events: set, start_lsn: int) -> list[tuple]:
    """What the decoder itself yields per capture file (one decoder
    state per file, as one read partition holds one file)."""
    from datetime import datetime, timedelta, timezone

    from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream
    from postrack_spark.sources.postgres_cdc import read_frame_file

    epoch = datetime(1970, 1, 1, tzinfo=timezone.utc)
    out = []
    for name in sorted(n for n in os.listdir(d) if n.endswith(".pgout")):
        for r in decode_xlogdata_stream(read_frame_file(os.path.join(d, name)), DecoderState()):
            if r["op"] in events and r["lsn"] > start_lsn:
                ts = r["commit_ts"]
                micros = None if ts is None else (ts - epoch) // timedelta(microseconds=1)
                out.append((r["lsn"], r["txid"], micros, r["schema"], r["table"], r["op"],
                            r["after"], r["before"]))
    return sorted(out, key=lambda t: t[0])


def _spark_rows(df) -> list[tuple]:
    cols = ["lsn", "txid", F.unix_micros("commit_ts"), "schema", "table", "op",
            "after", "before"]
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=lambda t: t[0])


@pytest.mark.parametrize("layout", ["full", "empty_dir"])
@pytest.mark.parametrize("options", [{}, {"events": "INSERT,UPDATE,DELETE", "start_lsn": "12"}])
def test_arrow_handoff_equals_decoder_rows(spark, tmp_path, layout, options):
    """The Arrow batches both readers hand to the JVM carry exactly the
    decoder's rows: NULL values, the UNCHANGED sentinel, the EMPTY
    before image of a default-identity UPDATE (not NULL), DELETE and
    TRUNCATE images, non-ASCII text and commit_ts — under the events /
    start_lsn options, with a file whose rows are all filtered out
    (under the options) and over an empty capture dir."""
    d = str(tmp_path / "capture")
    os.makedirs(d)
    if layout == "full":
        write_frame_file(os.path.join(d, "000001.pgout"), golden_frames())
        write_frame_file(os.path.join(d, "000002.pgout"), _non_ascii_frames(200))
        write_frame_file(os.path.join(d, "000003.pgout"), _truncate_only_frames(300))
    events = {e.strip() for e in options.get("events", "INSERT,UPDATE,DELETE,TRUNCATE").split(",")}
    want = _decoded_rows(d, events, int(options.get("start_lsn", "0")))
    if layout == "full":
        ops = {t[5] for t in want}
        assert ops == events and len(want) >= 4
        assert any(t[7] == {} for t in want)  # default-identity UPDATE
    register(spark)

    batch = spark.read.format("postgres_cdc").option("capture_dir", d).options(**options).load()
    assert _spark_rows(batch) == want

    seen: list[tuple] = []
    stream = spark.readStream.format("postgres_cdc").option("capture_dir", d).options(**options).load()
    q = (
        stream.writeStream.foreachBatch(lambda df, _bid: seen.extend(_spark_rows(df)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(seen, key=lambda t: t[0]) == want


def test_sink_truncate_mid_stream_equals_batch_apply(spark, tmp_path):
    """foreach_batch_apply_changes over three capture files, one per
    micro-batch, with a TRUNCATE in the second: the view equals
    apply_changes over the whole capture dir."""
    from postrack_spark.cdc import apply_changes
    from postrack_spark.streaming.sinks import foreach_batch_apply_changes

    def txn(lsn, *msgs):
        return [
            wrap_xlogdata(encode_relation(101, "public", "orders", ORDERS_COLS), lsn),
            wrap_xlogdata(encode_begin(lsn, TS, lsn), lsn),
            *[wrap_xlogdata(m, lsn + 1 + i) for i, m in enumerate(msgs)],
            wrap_xlogdata(encode_commit(lsn + 50, lsn + 50, TS), lsn + 50),
        ]

    d = str(tmp_path / "capture")
    os.makedirs(d)
    write_frame_file(os.path.join(d, "000001.pgout"), txn(
        100, *[encode_insert(101, [str(k), "O", "1.0"]) for k in (1, 2, 3)]))
    write_frame_file(os.path.join(d, "000002.pgout"), txn(
        200, encode_update(101, ["2", "F", "2.0"]), encode_truncate([101]),
        encode_insert(101, ["6", "O", "6.0"]), encode_insert(101, ["7", "O", "7.0"])))
    write_frame_file(os.path.join(d, "000003.pgout"), txn(
        300, encode_delete(101, ["7", "O", "7.0"]), encode_update(101, ["6", "F", "6.5"])))
    register(spark)
    target, ckpt = str(tmp_path / "view"), str(tmp_path / "ckpt")
    for _ in range(3):
        stream = (
            spark.readStream.format("postgres_cdc").option("capture_dir", d)
            .option("maxFilesPerTrigger", "1").load()
        )
        _, q = foreach_batch_apply_changes(
            stream, _orders_key(), target_dir=target, key_name="o_orderkey",
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
    whole = spark.read.format("postgres_cdc").option("capture_dir", d).load()
    want = apply_changes(whole, _orders_key(), key_name="o_orderkey")

    def image(df):
        return sorted((r["o_orderkey"], r["lsn"], r["after"]["o_totalprice"]) for r in df.collect())

    assert image(read_view(spark, target)) == image(want) == [(6, 302, "6.5")]
