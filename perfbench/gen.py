"""Seeded change-stream generator with a Python model of the final table.

Every workload draws its inputs from :class:`OrdersChanges`: an
orders-shaped table ``public.bench_orders(id, customer, status, amount,
version)`` changed by a seeded mix of INSERT, UPDATE and DELETE events,
grouped into transactions. The generator keeps the table state the
changes lead to, so each step's output can be checked against it:

* :func:`state_digest` is an order-insensitive digest (row count and
  the sum of CRC-32s of ``id|customer|status|amount|version``) of a
  table state; :func:`spark_digest_columns` computes the same digest
  inside Spark, so a materialized view can be checked without
  collecting it.
* :class:`FrameEncoder` encodes transactions as the pgoutput XLogData
  frames a live capture receives, so ``FrameFileWriter`` writes the same
  bytes a live capture would.

All values are the text forms Postgres prints for the column types
(``int``, ``text``, ``numeric(12,2)``), so events decoded from a live
server compare equal to the generated ones.
"""

from __future__ import annotations

import random
import zlib
from datetime import datetime, timedelta, timezone

SCHEMA = "public"
TABLE = "bench_orders"
COLUMNS = ("id", "customer", "status", "amount", "version")
RELATION_OID = 16500
STATUSES = ("O", "F", "P")

INSERT, UPDATE, DELETE, TRUNCATE = "INSERT", "UPDATE", "DELETE", "TRUNCATE"


def _amount(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def row_digest(row: tuple) -> int:
    return zlib.crc32("|".join(row).encode())


def state_digest(state: dict) -> tuple[int, int]:
    """(row count, sum of row CRC-32s): order-insensitive."""
    return len(state), sum(row_digest(r) for r in state.values())


class OrdersChanges:
    """Seeded transactions over ``bench_orders`` plus the resulting state.

    ``mix`` weighs INSERT / UPDATE / DELETE. Keys come from
    ``1..key_space``: an INSERT takes a key that is not live, so once
    the table is full INSERTs turn into UPDATEs and the stream becomes
    UPDATE-heavy with many events per key. ``homogeneous`` transactions
    hold one kind of event on distinct keys (one SQL statement each);
    otherwise a transaction may mix kinds and touch a key twice.
    """

    def __init__(self, seed: int, key_space: int,
                 mix: tuple[int, int, int] = (2, 7, 1)) -> None:
        self.rng = random.Random(seed)
        self.key_space = key_space
        self.mix = mix
        self.state: dict[int, tuple] = {}
        self._live: list[int] = []
        self._pos: dict[int, int] = {}
        self._free: list[int] = list(range(key_space, 0, -1))
        self._version = 0
        self._n_txns = 0

    # -- state bookkeeping ------------------------------------------------

    def _add(self, key: int) -> None:
        self._pos[key] = len(self._live)
        self._live.append(key)

    def _remove(self, key: int) -> None:
        i = self._pos.pop(key)
        last = self._live.pop()
        if last != key:
            self._live[i] = last
            self._pos[last] = i

    def _row(self, key: int) -> tuple:
        r = self.rng.random
        self._version += 1
        return (str(key), str(1 + int(r() * 9_999)), STATUSES[int(r() * 3)],
                _amount(100 + int(r() * 9_999_900)), str(self._version))

    # -- events -------------------------------------------------------------

    def _pick_kind(self) -> str:
        kind = self.rng.choices((INSERT, UPDATE, DELETE), self.mix)[0]
        if kind == INSERT and not self._free:
            kind = UPDATE
        if kind != INSERT and not self._live:
            kind = INSERT
        return kind

    def event(self, kind: str, exclude: set | None = None) -> tuple | None:
        """Apply one event of ``kind`` to the state and return
        ``(kind, key, row)`` (row is None for DELETE), or None when no
        key is available for it."""
        if kind == INSERT:
            if not self._free:
                return None
            free = self._free
            j = int(self.rng.random() * len(free))
            free[j], free[-1] = free[-1], free[j]
            key = free.pop()
            row = self._row(key)
            self.state[key] = row
            self._add(key)
            return kind, key, row
        if not self._live:
            return None
        key = self._live[int(self.rng.random() * len(self._live))]
        if exclude is not None and key in exclude:
            return None
        if kind == UPDATE:
            row = self._row(key)
            self.state[key] = row
            return kind, key, row
        del self.state[key]
        self._remove(key)
        self._free.append(key)
        return kind, key, None

    def truncate(self) -> tuple:
        for key in self._live:
            self._free.append(key)
        self.state.clear()
        self._live.clear()
        self._pos.clear()
        return TRUNCATE, None, None

    def transactions(self, n_events: int, small_max: int = 16,
                     bulk_every: int = 400, bulk_size: int = 2000,
                     homogeneous: bool = False) -> list[list[tuple]]:
        """About ``n_events`` events as transactions: mostly small ones
        of 1..small_max events, with every ``bulk_every``-th one a bulk
        transaction of ``bulk_size`` events."""
        txns: list[list[tuple]] = []
        done = 0
        while done < n_events:
            bulk = self._n_txns % bulk_every == bulk_every - 1
            size = bulk_size if bulk else self.rng.randint(1, small_max)
            size = min(size, n_events - done)
            txn = (self._bulk_txn(size) if bulk or not homogeneous
                   else self._homogeneous_txn(size))
            if txn:
                txns.append(txn)
                done += len(txn)
                self._n_txns += 1
        return txns

    def _bulk_txn(self, size: int) -> list[tuple]:
        out = []
        for _ in range(size):
            ev = self.event(self._pick_kind())
            if ev is not None:
                out.append(ev)
        return out

    def _homogeneous_txn(self, size: int) -> list[tuple]:
        kind = self._pick_kind()
        out, seen = [], set()
        for _ in range(size):
            ev = self.event(kind, exclude=seen)
            if ev is None:
                continue
            seen.add(ev[1])
            out.append(ev)
        return out


# -- pgoutput encoding -------------------------------------------------------

_TS0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


class FrameEncoder:
    """Encode transactions as XLogData frames with increasing LSNs, the
    way a walsender streams them (Relation first, then Begin / rows /
    Commit per transaction)."""

    def __init__(self) -> None:
        from postrack_spark.sources import pgoutput

        self.pg = pgoutput
        self.lsn = 0x1000000
        self.xid = 1000
        self._relation_sent = False

    def _wrap(self, payload: bytes) -> bytes:
        self.lsn += 64
        return self.pg.wrap_xlogdata(payload, self.lsn)

    def frames(self, txns: list[list[tuple]]) -> list[bytes]:
        pg = self.pg
        out = []
        if not self._relation_sent:
            out.append(self._wrap(pg.encode_relation(
                RELATION_OID, SCHEMA, TABLE, list(COLUMNS))))
            self._relation_sent = True
        for txn in txns:
            self.xid += 1
            ts = _TS0 + timedelta(microseconds=self.lsn)
            out.append(self._wrap(pg.encode_begin(self.lsn + 64 * (len(txn) + 2),
                                                  ts, self.xid)))
            for kind, key, row in txn:
                if kind == INSERT:
                    out.append(self._wrap(pg.encode_insert(RELATION_OID, list(row))))
                elif kind == UPDATE:
                    out.append(self._wrap(pg.encode_update(RELATION_OID, list(row))))
                elif kind == DELETE:
                    out.append(self._wrap(pg.encode_delete(
                        RELATION_OID, [str(key), None, None, None, None])))
                else:
                    out.append(self._wrap(pg.encode_truncate([RELATION_OID])))
            commit_lsn = self.lsn + 64
            out.append(self._wrap(pg.encode_commit(commit_lsn, commit_lsn + 64, ts)))
        return out


def spark_digest_columns(image: str = "after"):
    """Spark aggregate columns computing :func:`state_digest` over a
    frame of envelope rows (one row per live key)."""
    from pyspark.sql import functions as F

    line = F.concat_ws("|", *[F.col(image)[c] for c in COLUMNS])
    return [F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.sum(F.crc32(line)), F.lit(0)).alias("crc")]
