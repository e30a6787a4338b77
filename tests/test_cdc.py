"""Envelope invariants mirroring the reference's per-op semantics
(postrack.go:383-410) + materialization round-trip."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from postrack_spark.cdc import (
    CHANGE_SCHEMA,
    apply_changes,
    latest_per_key,
    orders_changes,
    typed_column,
)


def test_envelope_schema(spark, sf_dir):
    ch = orders_changes(spark, sf_dir)
    got = [(f.name, f.dataType) for f in ch.schema.fields]
    want = [(f.name, f.dataType) for f in CHANGE_SCHEMA.fields]
    assert got == want


def test_op_image_invariants(spark, sf_dir):
    """INSERT (after, null) / UPDATE (after, before) / DELETE (null,
    before) — postrack.go:383,385-398,399-406."""
    ch = orders_changes(spark, sf_dir).cache()
    bad_insert = ch.filter(
        (F.col("op") == "INSERT") & (F.col("after").isNull() | F.col("before").isNotNull())
    ).count()
    bad_update = ch.filter(
        (F.col("op") == "UPDATE") & (F.col("after").isNull() | F.col("before").isNull())
    ).count()
    bad_delete = ch.filter(
        (F.col("op") == "DELETE") & (F.col("after").isNotNull() | F.col("before").isNull())
    ).count()
    assert (bad_insert, bad_update, bad_delete) == (0, 0, 0)
    ch.unpersist()


def test_lsn_unique_and_ordered(spark, sf_dir):
    ch = orders_changes(spark, sf_dir)
    n = ch.count()
    assert ch.select("lsn").distinct().count() == n


def test_materialize_roundtrip_counts(spark, sf_dir):
    """apply_changes(orders_changes) == orders minus deleted keys."""
    from postrack_spark.session import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    n_orders = orders.count()
    n_deleted = orders.filter(F.col("o_orderkey") % 10 == 5).count()
    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    final = apply_changes(ch, key, key_name="o_orderkey")
    assert final.count() == n_orders - n_deleted
    # updated keys carry the new status
    updated = final.filter(
        (F.col("o_orderkey") % 10).isin(1, 2, 3)
        & (typed_column("after", "o_orderstatus", "string") != "F")
    ).count()
    assert updated == 0


def test_latest_per_key_picks_max_lsn(spark, sf_dir):
    ch = orders_changes(spark, sf_dir)
    latest = latest_per_key(ch.withColumn("k", F.col("txid")), ["k"])
    # every surviving row's lsn is the max lsn for its txid
    expected = ch.groupBy("txid").agg(F.max("lsn").alias("max_lsn"))
    joined = latest.join(expected, "txid").filter(F.col("lsn") != F.col("max_lsn"))
    assert joined.count() == 0


def test_scd2_current_slice_equals_materialization(spark, sf_dir):
    """Cross-operator invariant: the is_current rows of the SCD2
    history must be exactly the latest-per-key materialization (same
    keys, same final status/price) — two independent plans over the
    same stream agreeing on 'current state'."""
    from postrack_spark.queries import load_all

    specs = load_all()
    current = (
        specs["cdc_scd2_history"].fn(spark, sf_dir)
        .filter(F.col("is_current"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    materialized = specs["cdc_latest_per_key_materialize"].fn(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    assert current.exceptAll(materialized).count() == 0
    assert materialized.exceptAll(current).count() == 0


def test_prune_images_preserves_image_flavors(spark, sf_dir):
    """prune_images (≡ WithSelector) must filter map keys without
    disturbing replica-identity semantics: NULL images stay NULL,
    empty images stay empty, full images keep exactly the listed keys."""
    from postrack_spark.cdc import prune_images

    ch = orders_changes(spark, sf_dir)
    pruned = prune_images(ch, ["o_orderkey"])

    def flavor_counts(df, img):
        f = (
            F.when(F.col(img).isNull(), "null")
            .when(F.size(img) == 0, "empty")
            .otherwise("full")
        )
        return {r["f"]: r["n"] for r in df.groupBy(f.alias("f")).agg(F.count("*").alias("n")).collect()}

    for img in ("after", "before"):
        assert flavor_counts(ch, img) == flavor_counts(pruned, img)
    full = pruned.filter(F.size("after") > 0)
    assert full.filter(F.size("after") != 1).count() == 0
    assert full.filter(~F.map_contains_key("after", "o_orderkey")).count() == 0


def test_resolve_unchanged_fills_toast_columns(spark):
    """UNCHANGED ('u' kind) columns in the latest image must resolve to
    the most recent earlier real value; columns unchanged in every
    captured event stay UNCHANGED (only a snapshot can fill them)."""
    from postrack_spark.cdc.envelope import CHANGE_SCHEMA
    from postrack_spark.cdc.materialize import resolve_unchanged
    from postrack_spark.sources.pgoutput import UNCHANGED

    rows = [
        (1, None, None, "public", "t", "INSERT", {"a": "x", "big": "payload-1"}, None),
        (2, None, None, "public", "t", "UPDATE", {"a": "y", "big": UNCHANGED}, None),
        (3, None, None, "public", "t", "UPDATE", {"a": "z", "big": UNCHANGED}, None),
        # key 2: TOAST column unchanged in every captured event
        (5, None, None, "public", "t", "UPDATE", {"a": "q", "big": UNCHANGED}, None),
    ]
    ch = spark.createDataFrame(rows, CHANGE_SCHEMA)
    key = F.when(F.col("lsn") <= 3, 1).otherwise(2)  # events 1-3 are key 1
    out = {r["__key"]: r["after"] for r in resolve_unchanged(ch, key).collect()}
    assert out[1] == {"a": "z", "big": "payload-1"}
    assert out[2] == {"a": "q", "big": UNCHANGED}


def test_incremental_agg_equals_recompute(spark, sf_dir):
    """IVM invariant (the counting algorithm's correctness property):
    the incrementally-maintained aggregate equals the same aggregate
    recomputed from the fully materialized table."""
    from postrack_spark.cdc.ivm import incremental_agg, recover_before

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    cents = lambda img: F.round(  # noqa: E731
        F.element_at(F.col(img), "o_totalprice").cast("double") * 100
    ).cast("long")
    ivm = {
        (r["o_orderstatus"]): (r["n_rows"], r["cents"])
        for r in incremental_agg(
            recover_before(ch, key),
            dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
            measures={"cents": cents("img")},
        ).collect()
    }
    table = apply_changes(ch, key, key_name="o_orderkey")
    full = {
        r["o_orderstatus"]: (r["n_rows"], r["cents"])
        for r in table.groupBy(
            typed_column("after", "o_orderstatus", "string").alias("o_orderstatus")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(cents("after")).alias("cents"),
        )
        .collect()
    }
    assert ivm == full


def test_recover_before_fills_empty_update_images(spark, sf_dir):
    """Default-replica-identity UPDATEs (empty before map) must acquire
    the per-key previous event's after image; full-identity events are
    untouched."""
    from postrack_spark.cdc.ivm import recover_before

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    rec = recover_before(ch, key)
    # kind-2 updates (okey % 10 == 4) had empty before; now every UPDATE
    # has a full before image whose o_totalprice equals the INSERT's.
    fixed = rec.filter((F.col("op") == "UPDATE") & (F.size("before") == 0)).count()
    assert fixed == 0
    k4 = rec.filter(
        (F.col("op") == "UPDATE") & (typed_column("after", "o_orderkey", "long") % 10 == 4)
    )
    mismatched = k4.filter(
        typed_column("before", "o_totalprice", "double")
        != typed_column("after", "o_totalprice", "double") - 10
    ).count()
    assert mismatched == 0
    # full-identity (kind-1) before images unchanged: status differs or
    # price halves, never the recovered-price shape
    untouched = ch.filter((F.col("op") == "UPDATE") & (F.size("before") > 0)).count()
    still = rec.filter((F.col("op") == "UPDATE") & (F.size("before") > 0)).count()
    assert untouched <= still  # empties were filled, none were emptied


@contextmanager
def _shuffle_partitions(spark, n: int):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_apply_changes_is_delivery_order_invariant(spark, sf_dir):
    """Materialization must not depend on DELIVERY order, only on LSN
    (real capture pipelines reorder across partitions): applying the
    stream repartitioned by an order-destroying hash yields the exact
    same final state. Holds because the compaction reduces with max_by
    over the LSN — a commutative/associative fold. Nor may it depend on
    the shuffle partition count, which sets apply_changes' bucket
    count."""
    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    shuffled = ch.repartition(17, F.md5(F.col("lsn").cast("string")))

    def final(changes):
        return {
            r["o_orderkey"]: r["after"]
            for r in apply_changes(changes, key, key_name="o_orderkey").collect()
        }

    a = final(ch)
    with _shuffle_partitions(spark, 7):
        b = final(shuffled)
    with _shuffle_partitions(spark, 1):
        c = final(ch)
    assert a == b == c and a


def _ev(lsn: int, table: str, op: str, k: int | None = None, v: str | None = None):
    """One envelope row: row images carry (id, v); UPDATEs have the
    default-identity empty before image, TRUNCATEs no image."""
    img = None if k is None else {"id": str(k), "v": v}
    after = img if op in ("INSERT", "UPDATE") else None
    before = img if op == "DELETE" else ({} if op == "UPDATE" else None)
    return (lsn, 1, None, "public", table, op, after, before)


def _mixed_stream() -> list[tuple]:
    """Two tables: `b` truncated once, `a` twice. b.1 is re-created
    after its TRUNCATE, a.3 is created between a's TRUNCATEs (and so
    wiped), a.5 and b.3 end in DELETE, and a.10-a.49 spread the live
    keys over several hash buckets."""
    evs = [
        _ev(1, "a", "INSERT", 1, "a1"), _ev(2, "a", "INSERT", 2, "a2"),
        _ev(3, "b", "INSERT", 1, "b1"), _ev(4, "b", "INSERT", 2, "b2"),
        _ev(5, "a", "UPDATE", 1, "a1'"), _ev(6, "b", "TRUNCATE"),
        _ev(7, "a", "TRUNCATE"), _ev(8, "b", "INSERT", 1, "b1 again"),
        _ev(9, "a", "INSERT", 3, "a3"), _ev(10, "a", "TRUNCATE"),
        _ev(11, "a", "INSERT", 5, "a5"), _ev(12, "b", "INSERT", 3, "b3"),
        _ev(13, "a", "DELETE", 5, "a5"), _ev(14, "b", "DELETE", 3, "b3"),
    ]
    lsn = 100
    for k in range(10, 50):
        evs.append(_ev(lsn, "a", "INSERT", k, f"a{k}"))
        if k % 3 == 0:
            evs.append(_ev(lsn + 1, "a", "UPDATE", k, f"a{k}'"))
        if k % 5 == 0:
            evs.append(_ev(lsn + 2, "a", "DELETE", k, f"a{k}'"))
        lsn += 3
    return evs


_STREAMS = {
    "mixed": _mixed_stream,
    "truncate_only": lambda: [_ev(1, "a", "TRUNCATE"), _ev(2, "b", "TRUNCATE"),
                              _ev(3, "a", "TRUNCATE")],
    "empty": lambda: [],
}


def _model_apply(events: list[tuple]) -> dict:
    """Python model of apply_changes: a key's latest event survives if
    it is newer than its table's last TRUNCATE and is not a DELETE."""
    mark: dict = {}
    last: dict = {}
    for lsn, _tx, _ts, schema, table, op, after, before in sorted(events):
        if op == "TRUNCATE":
            mark[(schema, table)] = lsn
        else:
            last[(schema, table, int((after or before)["id"]))] = (lsn, op, after)
    return {
        k: v for k, v in last.items()
        if v[1] != "DELETE" and v[0] > mark.get(k[:2], -1)
    }


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("stream", sorted(_STREAMS))
def test_apply_changes_matches_model_under_partition_counts(spark, stream, parts):
    """TRUNCATE epochs per table, re-creation after a TRUNCATE, final
    DELETEs, TRUNCATE-only and empty streams: apply_changes equals the
    Python model whatever the shuffle partition (= bucket) count."""
    events = _STREAMS[stream]()
    key = F.coalesce(
        typed_column("after", "id", "long"), typed_column("before", "id", "long")
    )
    with _shuffle_partitions(spark, parts):
        out = apply_changes(spark.createDataFrame(events, CHANGE_SCHEMA), key, "k")
        rows = out.collect()
    assert out.columns == [
        "schema", "table", "lsn", "txid", "commit_ts", "op", "after", "before", "k"
    ]
    got = {(r["schema"], r["table"], r["k"]): (r["lsn"], r["op"], r["after"]) for r in rows}
    assert len(got) == len(rows)
    assert got == _model_apply(events)
    if stream == "mixed":
        assert ("public", "b", 1) in got and ("public", "a", 3) not in got


def test_incremental_join_agg_equals_recompute(spark, sf_dir):
    """Delta-join IVM invariant: the maintained join-view aggregate
    equals the same aggregate recomputed from the two FINAL table
    states joined directly — for all three ops on both sides (orders
    UPDATE/DELETE incl. empty-before recovery; lineitem
    UPDATE/DELETE/INSERT from the B.4 script)."""
    from postrack_spark.queries.registry import load_all

    view = load_all()["cdc_join_view_maintenance"].fn(spark, sf_dir)
    got = {
        r["o_orderpriority"]: (r["n_rows"], r["sum_qty"], r["sum_price_cents"])
        for r in view.collect()
    }

    # Direct recompute of the final states (mirrors the oracle in Spark).
    t = __import__("postrack_spark.session", fromlist=["load_tables"]).load_tables(
        spark, sf_dir
    )
    okey = F.col("o_orderkey")
    o_final = t["orders"].filter(okey % 10 != 5).select(
        okey.cast("long").alias("o_orderkey"),
        "o_orderpriority",
        F.when(
            (okey % 10).isin(1, 2, 3),
            F.round(F.col("o_totalprice") * 2 * 100),
        )
        .when(okey % 10 == 4, F.round((F.col("o_totalprice") + 10) * 100))
        .otherwise(F.round(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("o_cents"),
    )
    lkey = F.col("l_orderkey")
    li = t["lineitem"]
    l_final = li.filter(~((lkey % 10 == 7) & (F.col("l_linenumber") == 1))).select(
        lkey.cast("long").alias("l_orderkey"),
        (
            F.round(F.col("l_quantity")).cast("long")
            + F.when((lkey % 10 == 6) & (F.col("l_linenumber") == 1), 3).otherwise(0)
        ).alias("l_qty"),
    ).unionByName(
        li.filter((lkey % 10 == 8) & (F.col("l_linenumber") == 1)).select(
            lkey.cast("long").alias("l_orderkey"), F.lit(1).cast("long").alias("l_qty")
        )
    )
    want = {
        r["o_orderpriority"]: (r["n_rows"], r["sum_qty"], r["sum_price_cents"])
        for r in o_final.join(l_final, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("l_qty").alias("sum_qty"),
            F.sum("o_cents").alias("sum_price_cents"),
        )
        .collect()
    }
    assert got == want


def test_incremental_join_agg_group_vanishes(spark):
    """A group whose maintained joined-row count reaches zero must drop
    out of the view (count=0 ≡ nonexistent, the signed-multiset
    invariant) — exercised with a delta that deletes the only A-side
    row of one group and leaves another intact."""
    from postrack_spark.cdc.ivm import incremental_join_agg

    a0 = spark.createDataFrame(
        [(1, 10, "gone", 5), (1, 20, "stays", 7)], "sign int, ak long, grp string, am long"
    )
    da = spark.createDataFrame([(-1, 10, "gone", 5)], "sign int, ak long, grp string, am long")
    b0 = spark.createDataFrame(
        [(1, 10, 2), (1, 20, 3)], "sign int, bk long, bm long"
    )
    db = spark.createDataFrame([], "sign int, bk long, bm long")
    out = incremental_join_agg(
        a0, da, b0, db,
        on=[("ak", "bk")],
        dims={"grp": F.col("grp")},
        measures={"m": F.col("am") * F.col("bm")},
    ).collect()
    assert {r["grp"]: (r["n_rows"], r["m"]) for r in out} == {"stays": (1, 21)}


def test_apply_changes_asof_equals_manual_filter(spark, sf_dir):
    from pyspark.sql import functions as F

    from postrack_spark.cdc import apply_changes, typed_column
    from postrack_spark.cdc.fixtures import orders_changes
    from postrack_spark.cdc.materialize import apply_changes_asof

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    cut = ch.agg(F.expr("min(lsn) + (max(lsn) - min(lsn)) div 2")).collect()[0][0]
    got = apply_changes_asof(ch, key, cut, key_name="k")
    want = apply_changes(ch.filter(F.col("lsn") <= cut), key, key_name="k")
    assert got.select("k").subtract(want.select("k")).count() == 0
    assert want.select("k").subtract(got.select("k")).count() == 0
    assert got.count() == want.count() > 0


def test_forget_keys_purges_exactly_the_requested_live_keys(spark, sf_dir):
    from pyspark.sql import functions as F

    from postrack_spark.cdc import apply_changes, typed_column
    from postrack_spark.cdc.fixtures import orders_changes
    from postrack_spark.cdc.materialize import forget_keys

    ch = orders_changes(spark, sf_dir)
    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    before = apply_changes(ch, key, key_name="k")
    purge = before.filter(F.col("k") % 3 == 0).select("k")
    n_purged = purge.count()
    assert n_purged > 0
    augmented = forget_keys(ch, purge, key, key_name="k")
    after = apply_changes(augmented, key, key_name="k")
    assert after.filter(F.col("k") % 3 == 0).count() == 0
    assert after.count() == before.count() - n_purged
    # idempotent: forgetting again changes nothing
    again = apply_changes(forget_keys(augmented, purge, key, key_name="k"), key, "k")
    assert again.count() == after.count()
