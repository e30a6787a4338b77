"""Name-for-name parity layer for the reference's public API
(SURVEY.md §2c; postrack.go:17-338), in Pythonic form.

Go surface -> here:
  New(dsn, opts...)            -> Conn(dsn, events=..., lsn=...)
  NewTable(schema, name, opts) -> Table(schema, name, selector=...,
                                        condition=..., keep_existing=...)
  WithSelector (":45-49")      -> Table(selector=[...]) — column list
  WithCondition (":51-55")     -> Table(condition="...") — row filter
  WithOverride (":57-61")      -> Table(keep_existing=True). The Go
      option is named "Override" but actually means "leave an existing
      publication table untouched" (it is passed as AlterPublication's
      noOverride param, postrack.go:195); we keep the capability under
      an honest name (quirk q1).
  CreatePublicationId (":63")  -> create_publication_id
  Bootstrap (":320-338")       -> Conn.bootstrap
  Changes (":287-310")         -> Conn.changes
  SetSlot/AddSlot/DropSlot (":258-285")          -> Conn.{set,add,drop}_slot
  SetPublication/Add/Alter/Drop/Replace (":188-256") -> Conn.*_publication
  PublicationExists/PublicationTableExists/SlotExists (":119-186")
                               -> Conn.*_exists
  SetEvents/SetLSN (":312-318")-> Conn.set_events / Conn.set_lsn
  INSERT/UPDATE/DELETE/TRUNCATE (":38-43") -> cdc.envelope constants

Postgres I/O goes through an injected `executor` (query/command/
replication_command) so everything is unit-testable without a server;
the live executor is sources/pgwire.PgWireExecutor. SQL
uses identifier quoting rather than the reference's raw interpolation
(its CREATE PUBLICATION is an injection surface, postrack.go:206).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession

from postrack_spark.cdc.envelope import DELETE, EVENT_KINDS, INSERT, TRUNCATE, UPDATE

__all__ = [
    "INSERT",
    "UPDATE",
    "DELETE",
    "TRUNCATE",
    "Table",
    "Conn",
    "create_publication_id",
    "as_row_sink",
]


def create_publication_id(slot_name: str) -> str:
    """postrack.go:63-65: slot -> publication_<slot>."""
    return f"publication_{slot_name}"


def as_row_sink(handle_func: Callable) -> Callable:
    """Adapt a reference-shaped callback
    ``fn(lsn, table_name, event, new_values, old_values)``
    (HandleFunc, postrack.go:35) into a ``writeStream.foreach`` row
    function — the row-at-a-time form closest to the reference's
    synchronous per-event dispatch (postrack.go:383,397,405,409).

    foreachBatch (Conn.bootstrap's default) is the idiomatic/faster
    path; this exists for drop-in parity with consumers written against
    the reference's one-event-at-a-time contract. Maps arrive as plain
    dicts (None for absent images, matching INSERT/DELETE semantics).
    """

    def process(row) -> None:
        handle_func(
            row.lsn,
            row.table,
            row.op,
            dict(row.after) if row.after is not None else None,
            dict(row.before) if row.before is not None else None,
        )

    return process


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


@dataclass
class Table:
    """Per-table subscription spec (postrack.go:27-32,76-84)."""

    schema: str
    name: str
    selector: list[str] | None = None  # column list -> source-side projection
    condition: str | None = None  # row filter (WHERE ...) -> source-side predicate
    keep_existing: bool = False  # Go's WithOverride (inverted semantics, q1)

    def qualified(self) -> str:
        return f"{_quote_ident(self.schema)}.{_quote_ident(self.name)}"

    def clause(self) -> str:
        """The publication table clause: name [(cols)] [WHERE (...)] —
        mirrors how WithSelector/WithCondition text ends up in the DDL
        (postrack.go:47-48,53-54,206)."""
        out = self.qualified()
        if self.selector:
            out += " (" + ", ".join(_quote_ident(c) for c in self.selector) + ")"
        if self.condition:
            cond = self.condition.strip()
            if cond.upper().startswith("WHERE"):
                cond = cond[5:].strip()
            out += f" WHERE ({cond})"
        return out


class Executor(Protocol):
    """Minimal Postgres access surface. query() runs catalog SQL over a
    pooled connection (postrack.go:93); command() runs DDL; and
    replication_command() speaks the replication protocol
    (postrack.go:98: second conn with ?replication=database)."""

    def query(self, sql: str, params: tuple = ()) -> list[tuple]: ...
    def command(self, sql: str) -> None: ...
    def replication_command(self, cmd: str) -> None: ...


class Conn:
    """Connection + subscription state (postrack.go:20-25)."""

    def __init__(
        self,
        dsn: str,
        events: list[str] | None = None,
        lsn: int = 0,
        executor: Executor | None = None,
    ) -> None:
        self.dsn = dsn
        self.events = list(events) if events else list(EVENT_KINDS)
        self.lsn = lsn
        self.slot: str | None = None
        self.executor = executor

    # -- setters (postrack.go:312-318) --------------------------------
    def set_events(self, events: list[str]) -> None:
        bad = set(events) - set(EVENT_KINDS)
        if bad:
            raise ValueError(f"unknown event kinds: {sorted(bad)}")
        self.events = list(events)

    def set_lsn(self, lsn: int) -> None:
        self.lsn = lsn

    # -- catalog probes (postrack.go:119-186) -------------------------
    def publication_exists(self, publication_id: str) -> bool:
        rows = self.executor.query(
            "SELECT TRUE FROM pg_publication WHERE pubname = %s", (publication_id,)
        )
        return bool(rows)

    def publication_table_exists(self, publication_id: str, table: Table) -> bool:
        rows = self.executor.query(
            "SELECT TRUE FROM pg_publication_tables "
            "WHERE pubname = %s AND schemaname = %s AND tablename = %s",
            (publication_id, table.schema, table.name),
        )
        return bool(rows)

    def slot_exists(self, slot_name: str) -> bool:
        rows = self.executor.query(
            "SELECT TRUE FROM pg_replication_slots WHERE slot_name = %s", (slot_name,)
        )
        return bool(rows)

    # -- slot management (postrack.go:258-285) ------------------------
    def set_slot(self, slot_name: str) -> None:
        """Upsert: adopt an existing slot, else create (durable)."""
        if not self.slot_exists(slot_name):
            self.add_slot(slot_name)
        self.slot = slot_name

    def add_slot(self, slot_name: str, two_phase: bool = False) -> None:
        # durable slot (Temporary: false, postrack.go:272); TWO_PHASE
        # (PG15+) lets pgoutput decode prepared transactions at PREPARE
        opt = " (TWO_PHASE)" if two_phase else ""
        self.executor.replication_command(
            f"CREATE_REPLICATION_SLOT {_quote_ident(slot_name)} LOGICAL pgoutput{opt}"
        )

    def drop_slot(self, slot_name: str) -> None:
        self.executor.replication_command(f"DROP_REPLICATION_SLOT {_quote_ident(slot_name)}")

    # -- publication management (postrack.go:188-256) -----------------
    def set_publication(self, table: Table) -> None:
        """Upsert (postrack.go:188-198): create the publication if
        missing, else reconcile the table into it."""
        pub = create_publication_id(self.slot)
        if self.publication_exists(pub):
            self.alter_publication(table, keep_existing=table.keep_existing)
        else:
            self.add_publication(table)

    def add_publication(self, table: Table) -> None:
        """CREATE PUBLICATION ... WITH (publish=...) — the only place
        the event-kind filter reaches the server (postrack.go:202-206)."""
        pub = create_publication_id(self.slot)
        publish = ", ".join(e.lower() for e in self.events if e != TRUNCATE) + (
            ", truncate" if TRUNCATE in self.events else ""
        )
        self.executor.command(
            f"CREATE PUBLICATION {_quote_ident(pub)} FOR TABLE {table.clause()} "
            f"WITH (publish = '{publish}')"
        )

    def alter_publication(self, table: Table, keep_existing: bool = False) -> None:
        """postrack.go:213-239 semantics, plus fix for quirk q7: the
        publish= event list is re-applied on alter (the reference never
        updates it)."""
        pub = create_publication_id(self.slot)
        pub_q = _quote_ident(pub)
        if self.publication_table_exists(pub, table):
            if keep_existing:
                return
            self.executor.command(f"ALTER PUBLICATION {pub_q} DROP TABLE {table.qualified()}")
        self.executor.command(f"ALTER PUBLICATION {pub_q} ADD TABLE {table.clause()}")
        publish = ", ".join(e.lower() for e in self.events if e != TRUNCATE) + (
            ", truncate" if TRUNCATE in self.events else ""
        )
        self.executor.command(f"ALTER PUBLICATION {pub_q} SET (publish = '{publish}')")

    def publication_schema_exists(self, publication_id: str, schema: str) -> bool:
        """Catalog probe for a SCHEMA-level publication member (the
        PG15 pg_publication_namespace catalog — the schema analogue of
        pg_publication_tables)."""
        rows = self.executor.query(
            "SELECT TRUE FROM pg_publication_namespace pn "
            "JOIN pg_publication p ON p.oid = pn.pnpubid "
            "JOIN pg_namespace n ON n.oid = pn.pnnspid "
            "WHERE p.pubname = %s AND n.nspname = %s",
            (publication_id, schema),
        )
        return bool(rows)

    def set_schema_publication(self, schema: str) -> None:
        """Upsert a PG15 SCHEMA-level subscription: ``FOR TABLES IN
        SCHEMA`` publishes every table in the schema — INCLUDING tables
        created after the publication (the property table lists can't
        give you; the reference, postrack.go:200-211, only supports
        per-table clauses). Column lists and row filters don't apply
        at schema scope (server rule), so there is no Table spec
        here."""
        pub = create_publication_id(self.slot)
        publish = ", ".join(e.lower() for e in self.events if e != TRUNCATE) + (
            ", truncate" if TRUNCATE in self.events else ""
        )
        if not self.publication_exists(pub):
            self.executor.command(
                f"CREATE PUBLICATION {_quote_ident(pub)} FOR TABLES IN SCHEMA "
                f"{_quote_ident(schema)} WITH (publish = '{publish}')"
            )
            return
        pub_q = _quote_ident(pub)
        if not self.publication_schema_exists(pub, schema):
            self.executor.command(
                f"ALTER PUBLICATION {pub_q} ADD TABLES IN SCHEMA "
                f"{_quote_ident(schema)}"
            )
        self.executor.command(f"ALTER PUBLICATION {pub_q} SET (publish = '{publish}')")

    def drop_publication(self) -> None:
        """Drops the whole publication (the reference's version takes a
        table arg it ignores — postrack.go:241-248; we drop the arg)."""
        pub = create_publication_id(self.slot)
        self.executor.command(f"DROP PUBLICATION IF EXISTS {_quote_ident(pub)}")

    def replace_publication(self, table: Table) -> None:
        self.drop_publication()
        self.add_publication(table)

    # -- the stream (postrack.go:287-310, 320-338) --------------------
    def changes(self, spark: SparkSession, capture_dir: str) -> DataFrame:
        """The change stream as a Structured Streaming DataFrame.

        Resume semantics: Spark's checkpoint replaces the caller-held
        LSN (the reference restarts at lsn+1, postrack.go:297; a Spark
        restart continues after the last committed offset). Capture is
        external (north star): `capture_dir` receives pgoutput frame
        files from the capture process.
        """
        from postrack_spark.sources.postgres_cdc import register

        register(spark)
        reader = (
            spark.readStream.format("postgres_cdc")
            .option("capture_dir", capture_dir)
            .option("events", ",".join(self.events))
            .option("start_lsn", str(self.lsn))
        )
        return reader.load()

    def bootstrap(
        self,
        spark: SparkSession,
        slot_name: str,
        tables: list[Table],
        events: list[str],
        lsn: int,
        handle_func: Callable[[DataFrame, int], None] | None = None,
        capture_dir: str | None = None,
        checkpoint_dir: str | None = None,
        row_handler: Callable | None = None,
    ):
        """The end-to-end entry point (postrack.go:320-338): configure
        events+lsn, ensure slot and publications, start the stream and
        deliver micro-batches to `handle_func(batch_df, batch_id)` —
        the foreachBatch form of HandleFunc (postrack.go:35). Pass
        `row_handler=fn(lsn, table, event, new, old)` instead for the
        reference's literal one-event-at-a-time contract (see
        :func:`as_row_sink`).

        Returns the StreamingQuery (caller stops it; the reference
        returns while its handler goroutine keeps running — same
        lifecycle shape).
        """
        import tempfile

        if (handle_func is None) == (row_handler is None):
            raise ValueError("pass exactly one of handle_func / row_handler")
        self.set_events(events)
        self.set_lsn(lsn)
        if self.executor is not None:
            self.set_slot(slot_name)
            for table in tables:
                self.set_publication(table)
        else:
            self.slot = slot_name
        stream = self.changes(spark, capture_dir)
        writer = (
            stream.writeStream.foreach(as_row_sink(row_handler))
            if row_handler is not None
            else stream.writeStream.foreachBatch(handle_func)
        )
        return (
            writer
            .option(
                "checkpointLocation",
                checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{slot_name}_"),
            )
            .trigger(availableNow=True)
            .start()
        )

    def incremental_view(
        self,
        spark: SparkSession,
        slot_name: str,
        tables: list[Table],
        dims: dict,
        measures: dict,
        lsn: int = 0,
        capture_dir: str | None = None,
        target_dir: str | None = None,
        checkpoint_dir: str | None = None,
    ):
        """Maintain a grouped aggregate view from the change stream —
        the consumer the reference's users hand-write inside HandleFunc
        (postrack.go:35), packaged: subscribe (slot + publications,
        with each table's column list/row filter compiled capture-side
        exactly like WithSelector/WithCondition), stream, and fold
        signed deltas into the view per micro-batch (cdc/ivm.py;
        O(groups) shuffle per batch). `dims`/`measures` are expressions
        over the image map column ``img``. Returns (target_dir,
        StreamingQuery); read the view with
        ``postrack_spark.streaming.read_view(spark, target_dir)
        .filter("n_rows > 0")`` (the sink keeps atomically-swapped
        versioned snapshots under target_dir).
        """
        from postrack_spark.streaming.sinks import foreach_batch_incremental_agg

        self.set_events(["INSERT", "UPDATE", "DELETE"])
        self.set_lsn(lsn)
        if self.executor is not None:
            self.set_slot(slot_name)
            for table in tables:
                self.set_publication(table)
        else:
            self.slot = slot_name
        stream = self.changes(spark, capture_dir)
        return foreach_batch_incremental_agg(
            stream,
            dims=dims,
            measures=measures,
            target_dir=target_dir,
            checkpoint_dir=checkpoint_dir,
        )

    def incremental_join_view(
        self,
        spark: SparkSession,
        slot_name: str,
        tables: list[Table],
        stream_cols: dict,
        static_signed,
        on: list,
        dims: dict,
        measures: dict,
        lsn: int = 0,
        capture_dir: str | None = None,
        target_dir: str | None = None,
        checkpoint_dir: str | None = None,
    ):
        """Maintain a grouped aggregate over CHANGE STREAM ⋈ STATIC —
        the join extension of :meth:`incremental_view` (cdc/ivm.py
        delta-join rule, stream-static case): per micro-batch the
        view's delta is exactly ΔA ⋈ B, broadcast-joined and folded at
        O(groups) shuffle. `stream_cols` projects image maps to typed
        signed rows; `static_signed` is the dimension/base side as a
        (sign=1, **cols) DataFrame; `on` is [(stream_col, static_col)].
        Returns (target_dir, StreamingQuery); read with
        ``streaming.read_view(...).filter("n_rows > 0")``."""
        from postrack_spark.streaming.sinks import (
            foreach_batch_incremental_join_agg,
        )

        self.set_events(["INSERT", "UPDATE", "DELETE"])
        self.set_lsn(lsn)
        if self.executor is not None:
            self.set_slot(slot_name)
            for table in tables:
                self.set_publication(table)
        else:
            self.slot = slot_name
        stream = self.changes(spark, capture_dir)
        return foreach_batch_incremental_join_agg(
            stream,
            stream_cols=stream_cols,
            static_signed=static_signed,
            on=on,
            dims=dims,
            measures=measures,
            target_dir=target_dir,
            checkpoint_dir=checkpoint_dir,
        )

    def scd2_history(
        self,
        spark: SparkSession,
        slot_name: str,
        tables: list[Table],
        key_expr,
        value_cols: dict,
        key_name: str = "key",
        lsn: int = 0,
        capture_dir: str | None = None,
        target_dir: str | None = None,
        checkpoint_dir: str | None = None,
    ):
        """Maintain a type-2 slowly-changing-dimension history from the
        change stream (the warehouse consumption of CDC the reference
        leaves to HandleFunc): every INSERT/UPDATE appends a version
        row with a [valid_from_lsn, valid_to_lsn) interval, the key's
        next event closes it, DELETE closes without emitting. Requires
        the capture contract's WAL-ordered delivery (the daemon writes
        frame files sequentially). Returns (target_dir,
        StreamingQuery); read with ``streaming.read_view`` —
        ``is_current`` = valid_to_lsn IS NULL."""
        from postrack_spark.streaming.sinks import foreach_batch_scd2

        self.set_events(["INSERT", "UPDATE", "DELETE"])
        self.set_lsn(lsn)
        if self.executor is not None:
            self.set_slot(slot_name)
            for table in tables:
                self.set_publication(table)
        else:
            self.slot = slot_name
        stream = self.changes(spark, capture_dir)
        return foreach_batch_scd2(
            stream,
            key_expr=key_expr,
            value_cols=value_cols,
            key_name=key_name,
            target_dir=target_dir,
            checkpoint_dir=checkpoint_dir,
        )


def time_travel(changes: DataFrame, key_expr, as_of_lsn, key_name: str = "__key") -> DataFrame:
    """Module-level convenience for point-in-time reconstruction over a
    captured change DataFrame — see cdc.materialize.apply_changes_asof.
    (The reference exposes no historical reads; its consumers replay
    from a saved LSN, postrack.go:297 — this is that capability made
    first-class.)"""
    from postrack_spark.cdc.materialize import apply_changes_asof

    return apply_changes_asof(changes, key_expr, as_of_lsn, key_name)


def forget(changes: DataFrame, purge_keys: DataFrame, key_expr, key_name: str = "__key") -> DataFrame:
    """Module-level convenience for erasure propagation — see
    cdc.materialize.forget_keys. Returns the augmented change stream;
    replay it through any existing consumer (materialization, IVM,
    SCD2) to purge consistently."""
    from postrack_spark.cdc.materialize import forget_keys

    return forget_keys(changes, purge_keys, key_expr, key_name)
