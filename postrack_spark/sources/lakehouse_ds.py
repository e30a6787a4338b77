"""Batch PySpark DataSources over the repo's OWN lakehouse tables —
the SQL/`spark.read.format` lane the library functions
(streaming/delta_log.read_delta, streaming/iceberg.read_iceberg) did
not have (VERDICT r7 next-round item 1): a user's first touch of a
lakehouse table is `spark.read.format("pydelta").load(path)` or
`CREATE TEMPORARY VIEW t USING pydelta OPTIONS (path '…')` followed by
plain `spark.sql`, not a Python library call.

Two sources register (``register_lakehouse_sources``):

- ``pydelta``   — Delta-log tables written by streaming/delta_log.py
  (options: path, version, timestamp_ms, partition_filter). Planning
  is streaming/delta_log.plan_scan_delta — the SAME log replay and
  partitionValues pruner read_delta uses. Handles column mapping
  (scans physical names, projects logical) and per-file deletion
  vectors (the roaring payload rides its file's InputPartition and
  masks rows by row index on the worker).
- ``pyiceberg`` — Iceberg v1/v2 tables written by streaming/iceberg.py
  (options: path, snapshot_id, ref, timestamp_ms, partition_filter,
  stats_filter). Planning is streaming/iceberg.plan_scan_iceberg —
  the SAME manifest walk the library read uses. Position deletes and
  sequence-scoped equality deletes apply on the workers
  (merge-on-read), with a per-process decode cache so N file
  partitions decode each delete Avro once per executor, not N times.

FILE PRUNING comes only from the load's options, never from Spark's
pushed filters. ``partition_filter`` is JSON {column: value or list}
(a partition column for Delta, a partition FIELD name for Iceberg);
``stats_filter`` is JSON {column: [lo, hi]}, null for an open bound.
Both are the library readers' own arguments, handed to the shared
planners, so a SQL read prunes exactly as read_delta / read_iceberg
do BY CONSTRUCTION. Pruning is an optimization: the query's WHERE
still filters rows. One load is one relation, so a per-load file set
is sound. Pushed filters are not: Spark 4.1.2's PythonDataSourceV2
plans the partitions in the same worker call that receives the pushed
filters and keeps that ONE plan for every later scan of the loaded
relation, so pruning from them made
``df.filter("g='1'").union(df.filter("g='2'"))`` lose the second
branch's files (tests/test_lakehouse_ds.py pins both formats and the
SQL-view shape).

The ``scan_report`` option names a JSON file the planner writes
{"files_total", "files_scanned"} into — the certification hook that
lets queries gate DataSource-lane pruning against the library path's
scan_stats (parity, not trust).

Scale: planning is the library planners' O(files) driver metadata
walk; reads are one InputPartition per data file (scan parallelism =
file count), workers stream pyarrow record batches (Arrow transfer,
never row-at-a-time Python), and per-partition state is O(that file):
only its own DV payload rides a Delta partition. The Iceberg delete
side (O(delete files) paths + O(eq keys) tuples) ships once per task
via the reader — the same metadata the library read broadcasts.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import StructType

# ---------------------------------------------------------------- arrow


def _arrow_type(name: str):
    """Spark/Delta primitive type name -> pyarrow type (the lattice the
    repo's writers emit). Imported lazily so the module stays cheap to
    pickle into workers."""
    import pyarrow as pa

    table = {
        "long": pa.int64(), "bigint": pa.int64(),
        "integer": pa.int32(), "int": pa.int32(),
        "short": pa.int16(), "byte": pa.int8(),
        "double": pa.float64(), "float": pa.float32(),
        "string": pa.string(), "boolean": pa.bool_(),
        "binary": pa.binary(), "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }
    if name not in table:
        raise NotImplementedError(
            f"lakehouse DataSource: column type {name!r} out of the "
            "primitive lattice (nested/decimal stay on the library path)")
    return table[name]


def _project(tbl, out_names: list[str], src_names: list[str],
             type_names: list[str]):
    """Reorder/rename/cast a pyarrow table of PHYSICAL columns into the
    LOGICAL output schema; missing columns (pre-evolution files)
    surface as typed nulls — the same projection rule as _scan_logical."""
    import pyarrow as pa

    n = tbl.num_rows
    arrays = []
    for src, tname in zip(src_names, type_names):
        target = _arrow_type(tname)
        if src in tbl.column_names:
            col = tbl.column(src)
            if col.type != target:
                col = col.cast(target)
            arrays.append(col)
        else:
            arrays.append(pa.nulls(n, type=target))
    return pa.Table.from_arrays(arrays, names=out_names)


# ----------------------------------------------------------- options


def _json_option(options: dict, key: str):
    raw = options.get(key)
    return json.loads(raw) if raw else None


def _delta_time_travel_kw(options: dict) -> dict:
    return {k: int(options[k]) for k in ("version", "timestamp_ms")
            if options.get(k) is not None}


def _write_scan_report(options: dict, stats: dict) -> None:
    path = options.get("scan_report")
    if not path:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f)  # {files_total, files_scanned}
    os.replace(tmp, path)


# ------------------------------------------------------------- pydelta


class DeltaFilePart(InputPartition):
    """Carries EVERYTHING read() needs: Spark pickles the reader for
    executors BEFORE partitions() runs, so planning-time mutations to
    the reader object are invisible on the read side (verified
    empirically). The projection spec is O(columns) per partition;
    the DV payload is that file's own compressed bitmap only."""

    def __init__(self, rel: str, dv_payload: bytes | None,
                 src_names: list[str], out_names: list[str],
                 type_names: list[str]):
        self.rel = rel
        self.dv_payload = dv_payload
        self.src_names = src_names
        self.out_names = out_names
        self.type_names = type_names


class DeltaCdfPart(InputPartition):
    """One CHANGE-DATA-FEED piece: a commit's change file (kind
    'cdc', parquet carries _change_type) or an append-synthesis add
    file (kind 'insert'). Same pickling rule as DeltaFilePart."""

    def __init__(self, version: int, kind: str, rel: str,
                 src_names: list[str], out_names: list[str],
                 type_names: list[str]):
        self.version = version
        self.kind = kind
        self.rel = rel
        self.src_names = src_names
        self.out_names = out_names
        self.type_names = type_names


class PyDeltaReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.table = options.get("path") or options.get("table")
        if not self.table:
            raise ValueError("pydelta needs a 'path' option")
        self.options = dict(options)

    def partitions(self):
        from postrack_spark.streaming.delta_log import (
            _column_mapping,
            plan_scan_delta,
        )
        from postrack_spark.streaming.deletion_vectors import load_dv_bytes

        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            return self._cdf_partitions()
        rep: dict = {}
        kept, schema_string, config = plan_scan_delta(
            self.table,
            partition_filter=_json_option(self.options, "partition_filter"),
            scan_stats=rep, **_delta_time_travel_kw(self.options))
        _write_scan_report(self.options, rep)
        mapping = _column_mapping(schema_string, config) or {}
        fields = json.loads(schema_string)["fields"]
        out_names = [f["name"] for f in fields]
        src_names = [mapping.get(f["name"], f["name"]) for f in fields]
        type_names = [f["type"] for f in fields]
        dv_bytes = load_dv_bytes(self.table, kept)
        return [DeltaFilePart(p, dv_bytes.get(p),
                              src_names, out_names, type_names)
                for p, _a in kept]

    def _cdf_partitions(self):
        """Batch CDF planning — the SQL-lane twin of
        read_changes_delta, same per-commit rules: a commit WITH cdc
        actions contributes exactly its change files; one without
        contributes dataChange adds as synthesized inserts; a
        dataChange rewrite without change files raises (pre-enable
        history is not reconstructible)."""
        import json as _json

        from postrack_spark.streaming.delta_log import (
            _column_mapping,
            _log_path,
            _replay,
            latest_version,
        )

        if self.options.get("startingversion") is None:
            raise ValueError(
                "readChangeFeed needs option('startingVersion', ...)")
        from_v = int(self.options["startingversion"])
        to_v = (int(self.options["endingversion"])
                if self.options.get("endingversion") is not None
                else latest_version(self.table))
        _l, schema_string, _v, _t, config = _replay(self.table, None)
        mapping = _column_mapping(schema_string, config) or {}
        fields = _json.loads(schema_string)["fields"]
        out_names = [f["name"] for f in fields]
        src_names = [mapping.get(f["name"], f["name"]) for f in fields]
        type_names = [f["type"] for f in fields]
        parts: list[DeltaCdfPart] = []
        for v in range(from_v, to_v + 1):
            path = _log_path(self.table, v)
            if not os.path.exists(path):
                raise FileNotFoundError(
                    f"commit {v} not in log (cleaned below a checkpoint?)")
            with open(path) as f:
                actions = [_json.loads(ln) for ln in f if ln.strip()]
            cdc = [a["cdc"]["path"] for a in actions if "cdc" in a]
            if cdc:
                parts.extend(DeltaCdfPart(v, "cdc", p, src_names,
                                          out_names, type_names)
                             for p in cdc)
                continue
            if any("remove" in a and a["remove"].get("dataChange", True)
                   for a in actions):
                raise ValueError(
                    f"commit {v} rewrites data without change files — "
                    "enable_change_feed_delta before row-rewriting ops")
            parts.extend(
                DeltaCdfPart(v, "insert", a["add"]["path"], src_names,
                             out_names, type_names)
                for a in actions
                if "add" in a and a["add"].get("dataChange", True))
        return parts

    def _read_cdf(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(os.path.join(self.table, partition.rel))
        have = set(pf.schema_arrow.names)
        want = [c for c in partition.src_names if c in have]
        if partition.kind == "cdc" and "_change_type" in have:
            want = want + ["_change_type"]
        tbl = pf.read(columns=want)
        out = _project(tbl, partition.out_names, partition.src_names,
                       partition.type_names)
        n = out.num_rows
        if partition.kind == "cdc" and "_change_type" in tbl.column_names:
            ct = tbl.column("_change_type").cast(pa.string())
        else:
            ct = pa.array(["insert"] * n, type=pa.string())
        out = out.append_column("_change_type", ct)
        out = out.append_column(
            "_commit_version",
            pa.array([partition.version] * n, type=pa.int32()))
        yield from out.to_batches(max_chunksize=1 << 16)

    def read(self, partition):
        import numpy as np
        import pyarrow.parquet as pq

        from postrack_spark.streaming.roaring import RoaringArray64

        if isinstance(partition, DeltaCdfPart):
            yield from self._read_cdf(partition)
            return
        pf = pq.ParquetFile(os.path.join(self.table, partition.rel))
        have = set(pf.schema_arrow.names)
        # request only the columns the file HAS (column pruning at the
        # parquet reader); _project nulls the rest — pre-evolution
        # files lack later columns' physical names
        tbl = pf.read(columns=[c for c in partition.src_names if c in have])
        if partition.dv_payload is not None:
            bm = RoaringArray64.deserialize(partition.dv_payload, 4)
            dead = np.asarray(bm.values(), dtype=np.int64)
            mask = np.ones(tbl.num_rows, dtype=bool)
            mask[dead[dead < tbl.num_rows]] = False
            tbl = tbl.filter(mask)
        out = _project(tbl, partition.out_names, partition.src_names,
                       partition.type_names)
        yield from out.to_batches(max_chunksize=1 << 16)


class PyDeltaDataSource(DataSource):
    """spark.read.format("pydelta").option(...).load(table_root)."""

    @classmethod
    def name(cls) -> str:
        return "pydelta"

    def schema(self):
        from postrack_spark.streaming.delta_log import plan_scan_delta

        table = self.options.get("path") or self.options.get("table")
        _kept, schema_string, _c = plan_scan_delta(
            table, **_delta_time_travel_kw(self.options))
        base = StructType.fromJson(json.loads(schema_string))
        if str(self.options.get("readchangefeed", "false")).lower() == "true":
            # the STREAM read's CDF shape (sources/delta_feed.py)
            from pyspark.sql.types import IntegerType, StringType

            return base.add("_change_type", StringType()).add(
                "_commit_version", IntegerType())
        return base

    def reader(self, schema) -> DataSourceReader:
        return PyDeltaReader(self.options)

    def streamReader(self, schema):
        # readStream.format("pydelta"): the change-feed source
        # (sources/delta_feed.py) behind the SAME format name — one
        # name covers batch read, batch/stream write, and stream read,
        # the delta-spark surface
        from postrack_spark.sources.delta_feed import DeltaFeedStreamReader

        return DeltaFeedStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return PyDeltaWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return PyDeltaStreamWriter(self.options, schema, overwrite)


# ----------------------------------------------------------- pyiceberg

# per-process decode cache, BOUNDED: one entry per table root, keyed
# by that root's LATEST-seen delete set — each new snapshot generation
# replaces the previous entry instead of accumulating beside it (a
# long-lived executor must not grow O(generations) position arrays).
# N data-file partitions of one scan still decode each delete file
# ONCE (the jpeg fixture-cache pattern).
_POS_DELETE_CACHE: dict = {}


def _pos_deletes_for(root: str, delete_files: tuple,
                     dv_descriptors: tuple = ()) -> dict:
    """Positions-to-drop per data file, merged from v2 position-delete
    Avros AND v3 Puffin deletion-vector blobs (descriptor tuples of
    (puffin path, offset, length, referenced file))."""
    key = (delete_files, dv_descriptors)
    cached = _POS_DELETE_CACHE.get(root)
    if cached is not None and cached[0] == key:
        return cached[1]
    import numpy as np

    from postrack_spark.sources.avro_codec import read_avro

    by_file: dict[str, list[int]] = {}
    for rel in delete_files:
        with open(os.path.join(root, rel), "rb") as f:
            rows, _schema = read_avro(f.read())
        for r in rows:
            by_file.setdefault(r["file_path"], []).append(r["pos"])
    if dv_descriptors:
        from postrack_spark.streaming.puffin import decode_dv_blob

        # many DVs collocate per Puffin: read each file's bytes once
        by_path: dict = {}
        for path, off, ln, ref in dv_descriptors:
            by_path.setdefault(path, []).append((int(off), int(ln), ref))
        for path, blobs in by_path.items():
            with open(os.path.join(root, path), "rb") as f:
                data = f.read()
            for off, ln, ref in blobs:
                by_file.setdefault(ref, []).extend(
                    decode_dv_blob(data, off, ln).values())
    out = {fp: np.unique(np.asarray(ps, dtype=np.int64))
           for fp, ps in by_file.items()}
    _POS_DELETE_CACHE[root] = (key, out)
    return out


class IceFilePart(InputPartition):
    """Same reader-pickling rule as DeltaFilePart: everything read()
    needs rides the partition. The delete sides are the SAME O(delete
    files) path list + O(eq keys) tuples the library read broadcasts;
    the per-process cache below deduplicates the pos-delete decode."""

    def __init__(self, rel: str, seq: int, out_names: list[str],
                 src_names: list[str], type_names: list[str],
                 pos_delete_files: tuple, eq_deletes: list,
                 dv_descriptors: tuple = (), init_fills: tuple = ()):
        self.rel = rel
        self.seq = seq
        self.out_names = out_names
        self.src_names = src_names
        self.type_names = type_names
        self.pos_delete_files = pos_delete_files
        self.eq_deletes = eq_deletes
        self.dv_descriptors = dv_descriptors
        self.init_fills = init_fills


class PyIcebergReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.table = options.get("path") or options.get("table")
        if not self.table:
            raise ValueError("pyiceberg needs a 'path' option")
        self.options = dict(options)

    def _time_travel_kw(self) -> dict:
        kw: dict = {}
        if self.options.get("snapshot_id") is not None:
            kw["snapshot_id"] = int(self.options["snapshot_id"])
        if self.options.get("ref") is not None:
            kw["ref"] = self.options["ref"]
        if self.options.get("timestamp_ms") is not None:
            kw["timestamp_ms"] = int(self.options["timestamp_ms"])
        return kw

    def partitions(self):
        from postrack_spark.streaming.iceberg import plan_scan_iceberg

        rep: dict = {}
        plan = plan_scan_iceberg(
            self.table,
            partition_filter=_json_option(self.options, "partition_filter"),
            stats_filter=_json_option(self.options, "stats_filter"),
            scan_stats=rep, **self._time_travel_kw())
        _write_scan_report(self.options, rep)
        fields = plan["meta"]["schema"]["fields"]
        ice_to_py = {"long": "long", "int": "integer", "double": "double",
                     "float": "float", "string": "string",
                     "boolean": "boolean", "binary": "binary",
                     "date": "date", "timestamptz": "timestamp"}
        out_names = [f["name"] for f in fields]
        # schema.name-mapping.default (UniForm-synced column-mapping
        # tables): parquet stores the mapped physical names
        from postrack_spark.streaming.iceberg import _name_mapping_property

        nm = _name_mapping_property(plan["meta"]) or {}
        src_names = [nm.get(f["id"], f["name"]) for f in fields]
        type_names = [ice_to_py[f["type"]] for f in fields]
        pos_delete_files = tuple(sorted(plan["pos_delete_files"]))
        dv_descriptors = tuple(sorted(
            (d["path"], int(d["offset"]), int(d["length"]),
             d["referenced"]) for d in plan["dv_descriptors"]))
        eq_deletes = [
            (list(names), sorted(bucket.items()))
            for names, bucket in sorted(plan["eq_deletes"].items())]
        # v3 initial-default fills: per-file, plan-time metadata (the
        # library read's rule — wired into BOTH lanes, the N9 lesson)
        init_by_file: dict = {}
        for f in fields:
            if "initial-default" in f and f.get("_added_at_seq") is not None:
                for p, s in plan["paths"]:
                    if s <= f["_added_at_seq"]:
                        init_by_file.setdefault(p, []).append(
                            (f["name"], f["initial-default"]))
        return [IceFilePart(p, s, out_names, src_names, type_names,
                            pos_delete_files, eq_deletes, dv_descriptors,
                            tuple(init_by_file.get(p, ())))
                for p, s in plan["paths"]]

    def read(self, partition: IceFilePart):
        import numpy as np
        import pyarrow.parquet as pq

        root = os.path.abspath(self.table)
        pf = pq.ParquetFile(os.path.join(root, partition.rel))
        have = set(pf.schema_arrow.names)
        # request only the schema's columns the file HAS (column
        # pruning at the parquet reader — evolved-away extras skipped;
        # _project nulls missing ones), mirroring the pydelta reader
        tbl = pf.read(columns=[c for c in partition.src_names
                               if c in have])
        if partition.pos_delete_files or partition.dv_descriptors:
            dead = _pos_deletes_for(
                root, partition.pos_delete_files,
                partition.dv_descriptors).get(partition.rel)
            if dead is not None and len(dead):
                mask = np.ones(tbl.num_rows, dtype=bool)
                mask[dead[dead < tbl.num_rows]] = False
                tbl = tbl.filter(mask)
        # v3 initial-default fill BEFORE the eq-delete filter: a
        # delete keyed on a defaulted column must match the effective
        # value, not a NULL (review finding; mirrors the library lane)
        for name, val in getattr(partition, "init_fills", ()) or ():
            if name not in tbl.column_names:
                import pyarrow as _pa
                tbl = tbl.append_column(
                    name, _pa.array([val] * tbl.num_rows))
        for names, items in partition.eq_deletes:
            # sequence scoping: a delete at seq S hits files STRICTLY
            # below S (the library read's spec rule)
            live = [tuple(k) for k, s in items if partition.seq < s]
            if not live:
                continue
            import pandas as _pd

            # vectorized membership: pandas MultiIndex isin, never a
            # per-row Python loop (the module's Arrow-only rule)
            cols = {n: (tbl.column(n).to_pandas()
                        if n in tbl.column_names
                        else _pd.Series([None] * tbl.num_rows))
                    for n in names}
            idx = _pd.MultiIndex.from_arrays([cols[n] for n in names])
            keep = ~idx.isin(live)
            tbl = tbl.filter(np.asarray(keep))
        out = _project(tbl, partition.out_names, partition.src_names,
                       partition.type_names)
        for name, val in getattr(partition, "init_fills", ()) or ():
            import pyarrow as pa
            i = out.column_names.index(name)
            fld = out.schema.field(i)
            out = out.set_column(
                i, fld, pa.array([val] * out.num_rows, type=fld.type))
        yield from out.to_batches(max_chunksize=1 << 16)


class PyIcebergDataSource(DataSource):
    """spark.read.format("pyiceberg").option(...).load(table_root)."""

    @classmethod
    def name(cls) -> str:
        return "pyiceberg"

    def schema(self):
        from postrack_spark.streaming.iceberg import (
            _ICE_TO_SPARK,
            _current_metadata,
        )

        table = self.options.get("path") or self.options.get("table")
        meta = _current_metadata(table)
        if meta is None:
            raise FileNotFoundError(f"no iceberg metadata under {table}")
        return ", ".join(f"{f['name']} {_ICE_TO_SPARK[f['type']]}"
                         for f in meta["schema"]["fields"])

    def reader(self, schema) -> DataSourceReader:
        return PyIcebergReader(self.options)

    def streamReader(self, schema):
        # readStream.format("pyiceberg"): the incremental-append feed
        # (sources/iceberg_feed.py) behind the same format name
        from postrack_spark.sources.iceberg_feed import (
            IcebergFeedStreamReader,
        )

        return IcebergFeedStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return PyIcebergWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return PyIcebergStreamWriter(self.options, schema, overwrite)


def register_lakehouse_sources(spark) -> None:
    """Idempotent registration of both batch sources."""
    spark.dataSource.register(PyDeltaDataSource)
    spark.dataSource.register(PyIcebergDataSource)


# -------------------------------------------------------- write lanes
#
# df.write.format("pydelta").mode("append"|"overwrite").save(root) and
# df.write.format("pyiceberg").mode("append").save(root): the batch
# WRITE half of the lane. Workers stream their task's Arrow batches
# into staged parquet files (stats/footer bounds harvested in the same
# pass); the driver-side commit() assembles the metadata transaction
# through the library's own commit machinery (commit_delta / the
# append_iceberg staged-entries lane), so OCC, protocol actions, and
# row-tracking stamping are shared, not re-implemented. A failed job
# calls abort(), which deletes the staged files; files orphaned by a
# crash between write and commit are invisible (never referenced) and
# reclaimable by vacuum / the orphan sweep — the crash-window property
# the library writers already pin.
#
# Honest seams (raise, never silently skip): tables with CHECK
# constraints or generated columns need row-level gates the commit
# hook cannot re-run post-staging — use write_delta; Iceberg writes
# into partitioned specs / declared write orders need the DataFrame
# lane's shuffle+sort. Column mapping (name AND id modes, field-id
# stamping), partitioned DELTA tables, appendOnly, and row tracking
# are fully supported.


from dataclasses import dataclass, field as _dc_field

from pyspark.sql.datasource import (  # noqa: E402
    DataSourceArrowWriter,
    WriterCommitMessage,
)


@dataclass
class StagedFiles(WriterCommitMessage):
    adds: list = _dc_field(default_factory=list)


def _arrow_physical(tbl, mapping: dict | None, ids: dict | None):
    """Rename an arrow table's columns to physical names and attach
    parquet field ids (column mapping, both modes) — the worker-side
    twin of delta_log._to_physical."""
    import pyarrow as pa

    if not mapping:
        return tbl
    fields = []
    for f in tbl.schema:
        meta = None
        if ids and ids.get(f.name) is not None:
            meta = {b"PARQUET:field_id": str(ids[f.name]).encode()}
        fields.append(pa.field(mapping.get(f.name, f.name), f.type,
                               f.nullable, metadata=meta))
    return pa.Table.from_arrays(tbl.columns, schema=pa.schema(fields))


class PyDeltaWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        from postrack_spark.streaming.delta_log import (
            _cm_ids,
            _column_mapping,
            _generated_exprs,
            _guard_append_only,
            _partition_columns,
            _replay,
            latest_version,
        )

        self.table = options.get("path") or options.get("table")
        if not self.table:
            raise ValueError("pydelta needs a 'path' option")
        self.schema = schema
        self.overwrite = bool(overwrite)
        self.pcols: list[str] = []
        self.mapping: dict | None = None
        self.ids: dict | None = None
        self.gated_at: tuple | None = None
        if latest_version(self.table) is not None:
            from postrack_spark.streaming.delta_log import _identity_specs

            _l, schema_string, _v, _t, config = _replay(self.table, None)
            if _generated_exprs(schema_string) or any(
                    k.startswith("delta.constraints.") for k in config):
                raise NotImplementedError(
                    "this table declares CHECK constraints or generated "
                    "columns — row-level gates cannot re-run after "
                    "staging; use write_delta")
            if _identity_specs(schema_string):
                # GENERATED ALWAYS: schema enforcement would force the
                # writer to PROVIDE identity values (exactly what the
                # contract forbids) and the commit would never bump the
                # high-water mark — later write_delta appends would
                # assign colliding ids
                raise NotImplementedError(
                    "this table declares identity columns — value "
                    "allocation needs write_delta's high-water-mark "
                    "commit; the DataSource lane refuses")
            if self.overwrite:
                _guard_append_only(config, "mode='overwrite'")
            want = [(f.name, f.dataType.simpleString()) for f in
                    StructType.fromJson(
                        json.loads(schema_string)).fields]
            got = [(f.name, f.dataType.simpleString())
                   for f in schema.fields]
            if want != got:
                raise ValueError(
                    f"schema enforcement: table has {want}, write brings "
                    f"{got} (no evolution in the DataSource lane — use "
                    "write_delta(merge_schema=True))")
            self.pcols = _partition_columns(self.table)
            self.mapping = _column_mapping(schema_string, config)
            self.ids = _cm_ids(schema_string, config)
            self.gated_at = (schema_string, tuple(sorted(config.items())))

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa

        import pyarrow.parquet as pq

        from postrack_spark.streaming.delta_log import _file_stats_json

        batches = list(iterator)
        if not batches:
            return StagedFiles([])
        tbl = pa.Table.from_batches(batches)
        groups: list[tuple[dict, object]] = []
        if self.pcols:
            # one file per partition tuple in this task (the library
            # writer's repartition already clusters tuples; a stray
            # multi-tuple task just writes several files)
            import pandas as _pd

            key_cols = [tbl.column(c) for c in self.pcols]
            keys = _pd.DataFrame(
                {c: col.to_pandas().astype(str)
                 for c, col in zip(self.pcols, key_cols)})
            codes, uniques = _pd.factorize(
                _pd.Series(zip(*[keys[c] for c in self.pcols])))
            import numpy as _np

            for ui, tup in enumerate(uniques):
                mask = _np.asarray(codes == ui)
                groups.append((dict(zip(self.pcols, tup)),
                               tbl.filter(mask)))
        else:
            groups.append(({}, tbl))
        adds = []
        for pvals, part in groups:
            if any(v == "None" for v in pvals.values()):
                raise NotImplementedError(
                    "NULL partition values out of scope (the library "
                    "writer's rule)")
            name = f"part-{_uuid.uuid4().hex}.parquet"
            path = os.path.join(self.table, name)
            pq.write_table(_arrow_physical(part, self.mapping, self.ids),
                           path)
            add = {
                "path": name,
                "partitionValues": pvals,
                "size": os.path.getsize(path),
                "modificationTime": int(__import__("time").time() * 1000),
                "dataChange": True,
            }
            stats = _file_stats_json(path)
            if stats is not None:
                add["stats"] = stats
            adds.append(add)
        return StagedFiles(adds)

    def commit(self, messages) -> None:
        import time as _time

        from postrack_spark.streaming.delta_log import (
            DeltaCommitConflict,
            _PROTOCOL,
            _meta_action,
            _replay,
            _rt_enabled,
            _snapshot,
            _stamp_row_ids,
            commit_delta,
            latest_version,
        )

        adds = [{"add": a} for m in messages if m is not None
                for a in m.adds]
        for _ in range(10):
            current = latest_version(self.table)
            version = 0 if current is None else current + 1
            actions: list[dict] = []
            rt_actions: list[dict] = []
            removes: list[dict] = []
            if version == 0:
                actions.append({"protocol": dict(_PROTOCOL)})
                actions.append(_meta_action(self.schema.json(), {}, []))
            else:
                _l, s_now, _v, _t, cfg_now = _replay(self.table, None)
                now = (s_now, tuple(sorted(cfg_now.items())))
                if now != self.gated_at:
                    # staged parquet was gated (schema, mapping, ids,
                    # partitioning) against OTHER metadata — a creating
                    # writer that lost the v0 race, or a concurrent
                    # ALTER. Rows cannot be re-gated post-staging, so
                    # conflict instead of committing unvalidated bytes.
                    raise DeltaCommitConflict(
                        "concurrent metadata change under a DataSource "
                        "write: rewrite the batch")
                if self.overwrite and version > 0:
                    paths, _s, _v2 = _snapshot(self.table, None)
                    removes = [{"remove": {
                        "path": p,
                        "deletionTimestamp": int(_time.time() * 1000),
                        "dataChange": True,
                    }} for p in paths]
                if _rt_enabled(cfg_now):
                    rt_actions = _stamp_row_ids(
                        self.table, adds, version)
            try:
                commit_delta(self.table, version,
                             actions + removes + adds + rt_actions)
                return
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"lost 10 commit races on {self.table}")

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for a in m.adds:
                try:
                    os.remove(os.path.join(self.table, a["path"]))
                except OSError:
                    pass


class PyIcebergWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        from postrack_spark.streaming.iceberg import (
            _current_metadata,
            _sort_orders,
        )

        self.table = options.get("path") or options.get("table")
        if not self.table:
            raise ValueError("pyiceberg needs a 'path' option")
        if overwrite:
            raise NotImplementedError(
                "pyiceberg writes are append-only (Iceberg overwrite is "
                "a snapshot-replace operation — use the library lane)")
        self.schema = schema
        meta = _current_metadata(self.table)
        self.format_version = (meta["format-version"] if meta is not None
                               else int(options.get("format_version", 1)))
        if meta is not None:
            orders, default_oid = _sort_orders(meta)
            if orders.get(default_oid):
                raise NotImplementedError(
                    "table declares a default write order — staged "
                    "DataSource files cannot be sorted post-hoc; use "
                    "append_iceberg")

    def write(self, iterator):
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from postrack_spark.streaming.iceberg import _footer_bounds

        batches = list(iterator)
        if not batches:
            return StagedFiles([])
        tbl = pa.Table.from_batches(batches)
        os.makedirs(os.path.join(self.table, "data"), exist_ok=True)
        rel = os.path.join("data", f"ds-{_uuid.uuid4().hex}.parquet")
        path = os.path.join(self.table, rel)
        pq.write_table(tbl, path)
        lower, upper = _footer_bounds(path)
        return StagedFiles([{
            "file_path": rel,
            "record_count": tbl.num_rows,
            "file_size_in_bytes": os.path.getsize(path),
            "raw_bounds": (lower, upper),
        }])

    def commit(self, messages) -> None:
        from postrack_spark.streaming.iceberg import ADDED, append_iceberg

        entries = [{
            "status": ADDED, "snapshot_id": 0,
            "data_file": {
                "file_path": d["file_path"], "file_format": "PARQUET",
                "record_count": d["record_count"],
                "file_size_in_bytes": d["file_size_in_bytes"],
                "_raw_bounds": tuple(d["raw_bounds"]),
                "lower_bounds": [], "upper_bounds": [],
                "sort_order_id": 0,
            }} for m in messages if m is not None for d in m.adds]
        append_iceberg(None, self.table,
                       format_version=self.format_version,
                       staged_entries=entries, staged_schema=self.schema)

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for d in m.adds:
                try:
                    os.remove(os.path.join(self.table, d["file_path"]))
                except OSError:
                    pass


from pyspark.sql.datasource import DataSourceStreamArrowWriter  # noqa: E402


class PyDeltaStreamWriter(PyDeltaWriter, DataSourceStreamArrowWriter):
    """df.writeStream.format("pydelta").start(root): the streaming
    sink half of the lane. Reuses the batch writer's staging
    (Arrow-batched parquet + stats, mapping/field ids, partitioned
    tables) and makes the commit EXACTLY-ONCE via the protocol's txn
    action — the same appId/batch-id idempotence rule
    foreach_batch_delta implements, so a replayed micro-batch whose
    id is at or below the recorded one deletes its staged files and
    commits nothing."""

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        if overwrite:
            raise NotImplementedError(
                "streaming pydelta writes are append-mode only "
                "(complete-mode overwrites need the versioned-sink or "
                "foreachBatch lanes)")
        super().__init__(options, schema, overwrite=False)

    def commit(self, messages, batchId: int) -> None:
        from postrack_spark.streaming.delta_log import (
            DeltaCommitConflict,
            _PROTOCOL,
            _meta_action,
            _replay,
            _rt_enabled,
            _stamp_row_ids,
            commit_delta,
            last_txn_version,
            latest_version,
        )

        last = last_txn_version(self.table)
        if last is not None and batchId <= last:
            self.abort(messages, batchId)  # replayed batch: no-op
            return
        adds = [{"add": a} for m in messages if m is not None
                for a in m.adds]
        txn = {"txn": {"appId": os.path.abspath(self.table),
                       "version": batchId}}
        for _ in range(10):
            current = latest_version(self.table)
            version = 0 if current is None else current + 1
            actions: list[dict] = [txn]
            rt_actions: list[dict] = []
            if version == 0:
                actions = [{"protocol": dict(_PROTOCOL)},
                           _meta_action(self.schema.json(), {}, [])] + actions
            else:
                _l, s_now, _v, _t, cfg_now = _replay(self.table, None)
                if (s_now, tuple(sorted(cfg_now.items()))) != self.gated_at:
                    raise DeltaCommitConflict(
                        "concurrent metadata change under a streaming "
                        "DataSource write: restart the query")
                if _rt_enabled(cfg_now):
                    rt_actions = _stamp_row_ids(self.table, adds, version)
            try:
                commit_delta(self.table, version,
                             actions + adds + rt_actions)
                return
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"lost 10 commit races on {self.table}")

    def abort(self, messages, batchId: int) -> None:
        PyDeltaWriter.abort(self, messages)


class PyIcebergStreamWriter(PyIcebergWriter, DataSourceStreamArrowWriter):
    """df.writeStream.format("pyiceberg").start(root): append-only
    streaming sink. Staging is the batch writer's; each micro-batch
    commits ONE snapshot whose summary carries app-id/batch-id (the
    Flink checkpoint idiom last_committed_batch_iceberg reads), so a
    replayed batch deletes its staged files and commits nothing."""

    def __init__(self, options: dict, schema, overwrite: bool) -> None:
        if overwrite:
            raise NotImplementedError(
                "streaming pyiceberg writes are append-mode only")
        super().__init__(options, schema, overwrite=False)

    def commit(self, messages, batchId: int) -> None:
        from postrack_spark.streaming.iceberg import (
            ADDED,
            append_iceberg,
            last_committed_batch_iceberg,
        )

        app_id = os.path.abspath(self.table)
        last = last_committed_batch_iceberg(self.table, app_id)
        if last is not None and batchId <= last:
            self.abort(messages, batchId)  # replayed batch: no-op
            return
        entries = [{
            "status": ADDED, "snapshot_id": 0,
            "data_file": {
                "file_path": d["file_path"], "file_format": "PARQUET",
                "record_count": d["record_count"],
                "file_size_in_bytes": d["file_size_in_bytes"],
                "_raw_bounds": tuple(d["raw_bounds"]),
                "lower_bounds": [], "upper_bounds": [],
                "sort_order_id": 0,
            }} for m in messages if m is not None for d in m.adds]
        append_iceberg(None, self.table,
                       format_version=self.format_version,
                       staged_entries=entries, staged_schema=self.schema,
                       summary_extra={"app-id": app_id,
                                      "batch-id": str(batchId)})

    def abort(self, messages, batchId: int) -> None:
        PyIcebergWriter.abort(self, messages)
