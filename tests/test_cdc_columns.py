"""Spark-free parity of ``postgres_cdc``'s column-wise decode with the
reference decoder.

``_decode_frames`` appends hot row messages straight into Arrow column
lists and sends every other frame through ``decode_xlogdata_stream``.
Each test here decodes the same frames both ways and requires the
batch's ``to_pylist()`` to equal the reference's rows under the same
``events`` / ``start_lsn`` filter, and ``parse_errors`` to match.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta, timezone

import pytest

from postrack_spark.sources import postgres_cdc
from postrack_spark.sources.pgoutput import (
    UNCHANGED,
    DecoderState,
    decode_xlogdata_stream,
    encode_begin,
    encode_begin_prepare,
    encode_commit,
    encode_commit_prepared,
    encode_delete,
    encode_insert,
    encode_logical_message,
    encode_origin,
    encode_prepare,
    encode_relation,
    encode_rollback_prepared,
    encode_stream_abort,
    encode_stream_commit,
    encode_stream_start,
    encode_stream_stop,
    encode_truncate,
    encode_type,
    encode_update,
    keepalive_frame,
    with_stream_xid,
    wrap_xlogdata,
)
from postrack_spark.sources.postgres_cdc import _decode_files, _decode_frames, write_frame_file
from tests.test_pgoutput import ORDERS_COLS, TS

ALL = frozenset({"INSERT", "UPDATE", "DELETE", "TRUNCATE"})
w = wrap_xlogdata


def _key_identity(msg: bytes) -> bytes:
    """An Update or Delete whose old tuple is marked 'K' (replica
    identity key) instead of the encoder's 'O' (REPLICA IDENTITY FULL)."""
    assert msg[5:6] == b"O"
    return msg[:5] + b"K" + msg[6:]


def _reference(frames, events, start_lsn):
    state = DecoderState()
    rows = [
        r for r in decode_xlogdata_stream(frames, state)
        if r["op"] in events and r["lsn"] > start_lsn
    ]
    for r in rows:
        for image in ("after", "before"):
            if r[image] is not None:
                r[image] = list(r[image].items())  # Arrow maps list their entries
    return rows, state.parse_errors


def _columnar(frames, events, start_lsn):
    state = DecoderState()
    batch = _decode_frames(frames, state, set(events), start_lsn)
    return ([] if batch is None else batch.to_pylist()), state.parse_errors


def assert_parity(frames, events=ALL, start_lsn=0):
    got, got_errors = _columnar(frames, events, start_lsn)
    want, want_errors = _reference(frames, events, start_lsn)
    assert got == want
    assert got_errors == want_errors
    return got


def test_plain_transactions_take_the_fast_path(monkeypatch):
    """NULL, UNCHANGED, empty and non-ASCII values; an Update with no
    old tuple (empty, not NULL, before image), with a 'K' and with an
    'O' old tuple; Deletes with 'K' and 'O'; keepalives. No Begin,
    Insert, Update or Delete reaches the reference decoder."""
    frames = [
        w(encode_relation(101, "public", "orders", ORDERS_COLS), 10),
        keepalive_frame(wal_end=10),
        w(encode_begin(100, TS, 777), 11),
        w(encode_insert(101, ["1", "O", "100.5"]), 12),
        w(encode_insert(101, ["2", "", None]), 13),
        keepalive_frame(wal_end=13, reply_requested=True),
        w(encode_update(101, ["1", "F", UNCHANGED]), 14),
        w(_key_identity(encode_update(101, ["1", "ß", "1"], ["1", None, None])), 15),
        w(encode_update(101, ["2", "ユニコード €", "2"], ["2", "", None]), 16),
        w(_key_identity(encode_delete(101, ["1", None, None])), 17),
        w(encode_delete(101, ["2", "ユニコード €", "2"]), 18),
        w(encode_commit(19, 19, TS), 19),
    ]
    seen = []

    def reference(frs, state):
        seen.extend(chr(f[25]) for f in frs if f[:1] == b"w")
        return decode_xlogdata_stream(frs, state)

    monkeypatch.setattr(postgres_cdc, "decode_xlogdata_stream", reference)
    rows = assert_parity(frames)
    assert seen == ["R", "C"]
    assert [r["op"] for r in rows] == ["INSERT", "INSERT", "UPDATE", "UPDATE", "UPDATE",
                                       "DELETE", "DELETE"]
    assert rows[2]["before"] == [] and rows[0]["before"] is None and rows[5]["after"] is None
    assert rows[0]["txid"] == 777 and rows[0]["commit_ts"] == TS


def test_streamed_transactions_with_subtransaction_abort():
    """Protocol v2: two streamed transactions interleave with each other
    and with a plain one; a subtransaction abort drops its rows; the
    survivors come out at StreamCommit with its txid and timestamp."""
    cts = TS + timedelta(minutes=5)
    frames = [
        w(encode_relation(1, "public", "orders", ORDERS_COLS), 0),
        w(encode_stream_start(900, True), 10),
        w(with_stream_xid(encode_insert(1, ["1", "O", "10.00"]), 900), 11),
        w(encode_stream_stop(), 12),
        w(encode_stream_start(950, True), 13),
        w(with_stream_xid(encode_insert(1, ["5", "O", "50.00"]), 950), 14),
        w(with_stream_xid(encode_update(1, ["5", "F", "55.00"], ["5", "O", "50.00"]), 950), 15),
        w(encode_stream_stop(), 16),
        w(encode_begin(20, TS, 555), 20),
        w(encode_insert(1, ["7", "F", "70.00"]), 21),
        w(encode_commit(22, 23, TS), 22),
        w(encode_stream_start(900, False), 30),
        w(with_stream_xid(encode_insert(1, ["2", "O", "20.00"]), 901), 31),
        w(with_stream_xid(encode_delete(1, ["1", "O", "10.00"]), 900), 32),
        w(encode_stream_stop(), 33),
        w(encode_stream_abort(900, 901), 34),
        w(encode_stream_commit(950, 35, 36, cts), 35),
        w(encode_stream_commit(900, 40, 41, cts), 40),
    ]
    rows = assert_parity(frames)
    assert [(r["lsn"], r["txid"]) for r in rows] == [(21, 555), (14, 950), (15, 950), (11, 900),
                                                    (32, 900)]
    assert assert_parity(frames, {"INSERT"}, 12) == [rows[0], rows[1]]


def test_two_phase_commit_and_rollback_prepared():
    cts = TS + timedelta(hours=3)
    frames = [
        w(encode_relation(1, "public", "orders", ORDERS_COLS), 0),
        w(encode_begin_prepare(10, 11, TS, 800, "gtx1"), 10),
        w(encode_insert(1, ["1", "O", "10.00"]), 11),
        w(encode_update(1, ["1", "F", "11.00"]), 12),
        w(encode_prepare(10, 11, TS, 800, "gtx1"), 13),
        w(encode_begin(20, TS, 555), 20),
        w(encode_insert(1, ["7", "F", "70.00"]), 21),
        w(encode_commit(22, 23, TS), 22),
        w(encode_begin_prepare(30, 31, TS, 801, "gtx2"), 30),
        w(encode_delete(1, ["7", "F", "70.00"]), 31),
        w(encode_prepare(30, 31, TS, 801, "gtx2"), 32),
        w(encode_rollback_prepared(33, 34, TS, cts, 801, "gtx2"), 33),
        w(encode_commit_prepared(40, 41, cts, 800, "gtx1"), 40),
    ]
    rows = assert_parity(frames)
    assert [(r["lsn"], r["txid"], r["commit_ts"]) for r in rows] == [
        (21, 555, TS), (11, 800, cts), (12, 800, cts)]


def test_binary_column_multi_relation_truncate_and_side_channels():
    """A binary ('b') column, Type, Origin and logical Message frames,
    and one TRUNCATE naming two relations."""
    frames = [
        w(encode_type(9001, "public", "mood"), 1),
        w(encode_relation(300, "public", "blobs", ["id", "data"]), 2),
        w(encode_relation(301, "audit", "log", ["x"]), 3),
        w(encode_origin(4, "upstream"), 4),
        w(encode_begin(10, TS, 42), 5),
        w(encode_insert(300, ["7", b"\x01\xff\x00A"]), 6),
        w(encode_logical_message("app", b"mark"), 7),
        w(encode_update(300, ["7", b""], ["7", b"\x01\xff\x00A"]), 8),
        w(encode_insert(301, ["x1"]), 9),
        w(encode_truncate([300, 301]), 10),
        w(encode_commit(11, 11, TS), 11),
    ]
    rows = assert_parity(frames)
    assert rows[0]["after"] == [("id", "7"), ("data", "\\x01ff0041")]
    assert [(r["table"], r["op"]) for r in rows[-2:]] == [("blobs", "TRUNCATE"), ("log", "TRUNCATE")]
    assert assert_parity(frames, {"TRUNCATE", "UPDATE"}) == [rows[1], rows[3], rows[4]]


def test_relation_redefined_mid_file():
    """A Relation re-sent with more columns: tuples of the new width
    decode against it, and tuples whose column count differs from the
    cached relation's (too few, too many) keep the reference's
    zip-to-the-shorter semantics."""
    frames = [
        w(encode_relation(5, "public", "t", ["id", "v"]), 1),
        w(encode_begin(10, TS, 1), 2),
        w(encode_insert(5, ["1", "a"]), 3),
        w(encode_relation(5, "public", "t", ["id", "v", "extra"]), 4),
        w(encode_insert(5, ["2", "b", "y"]), 5),
        w(encode_update(5, ["1", "a", "z"], ["1", "a"]), 6),
        w(encode_insert(5, ["3", "c"]), 7),
        w(encode_insert(5, ["4", "d", "e", "f"]), 8),
        w(encode_delete(5, ["2", "b", "y"]), 9),
        w(encode_commit(10, 10, TS), 10),
    ]
    rows = assert_parity(frames)
    assert rows[2]["before"] == [("id", "1"), ("v", "a")]
    assert rows[3]["after"] == [("id", "3"), ("v", "c")]
    assert rows[4]["after"] == [("id", "4"), ("v", "d"), ("extra", "e")]


def _frames_with_bad_ones():
    ins = w(encode_insert(101, ["1", "O", "100.5"]), 12)
    upd = w(encode_update(101, ["1", "F", "1"]), 17)
    return [
        w(encode_relation(101, "public", "orders", ORDERS_COLS), 10),
        w(encode_begin(100, TS, 777), 11),
        ins,
        b"w" + b"\x00" * 10,  # header too short
        b"",
        keepalive_frame(wal_end=12),
        w(encode_begin(100, TS, 777), 13)[:40],  # Begin cut short
        w(encode_insert(999, ["1"]), 14),  # relation not in the cache
        w(encode_insert(101, ["2", "O", "9"]), 15)[:-4],  # cut inside a length field
        w(encode_insert(101, ["3", "O", "99.25"]), 16)[:-2],  # cut inside the last value
        upd[:30] + b"X" + upd[31:],  # no 'N' new tuple
        w(encode_delete(101, ["1", "F", "1"]), 18)[:30] + b"N" + ins[31:],  # no old tuple
        w(encode_commit(19, 19, TS), 19),
        w(encode_truncate([101]), 20)[:-2],  # cut inside its oid list
        w(encode_insert(101, ["4", "O", "4"]), 21),
    ]


@pytest.mark.parametrize(("events", "start_lsn", "errors"), [
    (ALL, 0, 7),
    # a row message the filter rejects is never decoded, so an error in
    # it is not counted: the short header, the short Begin and the
    # short TRUNCATE always count
    ({"INSERT", "UPDATE", "DELETE"}, 15, 5),
    ({"TRUNCATE"}, 0, 3),
    ({"INSERT"}, 0, 5),
])
def test_undecodable_frames_are_skipped_and_counted(events, start_lsn, errors):
    frames = _frames_with_bad_ones()
    got, got_errors = _columnar(frames, events, start_lsn)
    want, want_errors = _reference(frames, events, start_lsn)
    assert got == want
    assert want_errors == 7 and got_errors == errors
    if events == ALL:
        # the value cut short decodes to a shorter value on both paths
        assert [r["lsn"] for r in got] == [12, 16, 21]
        assert got[1]["after"][-1] == ("o_totalprice", "99.")


def test_unknown_tuple_kind_raises_like_the_reference():
    frames = [
        w(encode_relation(101, "public", "orders", ORDERS_COLS), 10),
        w(encode_insert(101, ["1", "O", "1"]).replace(b"t\x00\x00\x00\x01O", b"x\x00\x00\x00\x01O"), 11),
    ]
    with pytest.raises(ValueError, match="unknown TupleData kind"):
        decode_xlogdata_stream(frames)
    with pytest.raises(ValueError, match="unknown TupleData kind"):
        _decode_frames(frames, DecoderState(), set(ALL), 0)


def _random_stream(rng: random.Random, lsn: int) -> list[bytes]:
    """Relations (one re-sent wider), plain, streamed and prepared
    transactions of random Inserts, Updates (no old tuple, 'K', 'O'),
    Deletes and TRUNCATEs over random text, NULL, UNCHANGED and
    binary values."""
    rels = {1: ["id", "a", "b"], 2: ["k", "payload"]}
    frames = [w(encode_relation(oid, "public", f"t{oid}", cols), lsn) for oid, cols in rels.items()]

    def value():
        return rng.choice([None, UNCHANGED, "", "x", "ü€", str(rng.randrange(10**6)),
                           bytes(rng.randrange(256) for _ in range(3))])

    def row_msg():
        oid = rng.choice(list(rels))

        def vals():
            return [value() for _ in rels[oid]]

        kind = rng.randrange(6)
        if kind == 0:
            return encode_insert(oid, vals())
        if kind == 1:
            return encode_update(oid, vals())
        if kind == 2:
            return encode_update(oid, vals(), vals())
        if kind == 3:
            return _key_identity(encode_update(oid, vals(), vals()))
        if kind == 4:
            return encode_delete(oid, vals())
        return _key_identity(encode_delete(oid, vals()))

    for txn in range(40):
        xid = 1000 + txn
        lsn += 10
        body = [row_msg() for _ in range(rng.randrange(1, 6))]
        if rng.random() < 0.1:
            body.append(encode_truncate(rng.sample(list(rels), rng.randrange(1, 3))))
        style = rng.choice(["plain", "plain", "plain", "stream", "prepared"])
        if style == "stream":
            frames.append(w(encode_stream_start(xid), lsn))
            frames += [w(with_stream_xid(m, xid), lsn + 1 + i) for i, m in enumerate(body)]
            frames += [w(encode_stream_stop(), lsn + 8), w(encode_stream_commit(xid, lsn + 9, lsn + 9, TS), lsn + 9)]
        elif style == "prepared":
            gid = f"g{xid}"
            frames.append(w(encode_begin_prepare(lsn, lsn + 9, TS, xid, gid), lsn))
            frames += [w(m, lsn + 1 + i) for i, m in enumerate(body)]
            frames += [w(encode_prepare(lsn, lsn + 9, TS, xid, gid), lsn + 8),
                       w(encode_commit_prepared(lsn + 9, lsn + 9, TS + timedelta(seconds=txn), xid, gid),
                         lsn + 9)]
        else:
            frames.append(w(encode_begin(lsn + 9, TS + timedelta(seconds=txn), xid), lsn))
            frames += [w(m, lsn + 1 + i) for i, m in enumerate(body)]
            frames.append(w(encode_commit(lsn + 9, lsn + 9, TS), lsn + 9))
        if txn == 20:
            rels[1] = rels[1] + ["c"]
            frames.append(w(encode_relation(1, "public", "t1", rels[1]), lsn + 9))
        if rng.random() < 0.2:
            frames.append(keepalive_frame(wal_end=lsn + 9))
    return frames


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize(("events", "start_lsn"), [(ALL, 0), ({"UPDATE", "TRUNCATE"}, 150)])
def test_random_capture_dir_matches_reference_per_file(tmp_path, seed, events, start_lsn):
    """``_decode_files`` over a capture dir yields one batch per file
    that admits an event, equal to the reference's rows for that file
    (one decoder state per read partition, as the readers use it)."""
    rng = random.Random(seed)
    names, ops = [], set()
    for i in range(3):
        names.append(f"{i:06d}.pgout")
        write_frame_file(os.path.join(tmp_path, names[-1]), _random_stream(rng, 1000 * i))
    for name in names:
        frames = postgres_cdc.read_frame_file(os.path.join(tmp_path, name))
        want, want_errors = _reference(frames, events, start_lsn)
        assert want_errors == 0
        batches = list(_decode_files(str(tmp_path), [name], events, start_lsn))
        assert [b.to_pylist() for b in batches] == ([want] if want else [])
        ops |= {r["op"] for r in want}
    assert ops == events


def test_commit_ts_is_utc_microseconds():
    """commit_ts is typed timestamp[us, tz=UTC] and keeps microseconds
    on both the fast path and the reference path (TRUNCATE)."""
    ts = TS + timedelta(microseconds=123457)
    frames = [
        w(encode_relation(101, "public", "orders", ORDERS_COLS), 1),
        w(encode_begin(9, ts, 5), 2),
        w(encode_insert(101, ["1", "O", "1"]), 3),
        w(encode_truncate([101]), 4),
    ]
    batch = _decode_frames(frames, DecoderState(), set(ALL), 0)
    assert str(batch.schema.field("commit_ts").type) == "timestamp[us, tz=UTC]"
    unix_us = (ts - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(microseconds=1)
    assert batch.column("commit_ts").cast("int64").to_pylist() == [unix_us, unix_us]
    assert batch.to_pylist()[1]["op"] == "TRUNCATE"
