"""Delta-Lake-transaction-log sink and reader, pure protocol.

SURVEY §2b's sink row mentions ``format("delta")``; the container has
no delta-spark jar, but the Delta transaction-log PROTOCOL is public
(https://github.com/delta-io/delta/blob/master/PROTOCOL.md) and simple
at its core: a table is a directory of parquet files plus a
``_delta_log/`` of numbered JSON commits, each a list of actions —
``protocol``, ``metaData`` (schema as Spark's StructType JSON),
``add`` (file became live), ``remove`` (file left the table). The live
snapshot at version V is the replay of commits 0..V; commit atomicity
is put-if-absent creation of the next version's log file.

This module implements that protocol with stdlib + Spark:

* ``commit_delta`` — atomic commit via ``O_CREAT | O_EXCL`` (the
  protocol's put-if-absent rule on a local/HDFS-like store); a loser
  of a commit race gets ``DeltaCommitConflict`` and must rebase.
* ``write_delta`` / ``foreach_batch_delta`` — batch and streaming
  writers. Append mode adds files; complete mode rewrites the table
  as remove-all + add-new IN ONE COMMIT (readers never see a gap —
  the same atomic-swap guarantee the versioned-dir sink provides with
  its ``_CURRENT`` pointer, here expressed in Delta's vocabulary).
* ``read_delta`` — snapshot read of the latest or any historical
  version (time travel), by replaying the log and reading only live
  files. Uncommitted parquet (a writer that crashed before its log
  commit) is INVISIBLE: replay never references it — the crash-window
  property test_sink_faults.py proves for the pointer sink holds here
  by construction.
* ``compact_delta`` — OPTIMIZE-shaped bin-packing: rewrites the live
  file set and commits remove+add atomically; concurrent readers of
  older versions still resolve (files are only deleted by
  ``vacuum_delta`` past a retention horizon).

* ``checkpoint_delta`` / ``clean_log_delta`` — the protocol's
  CHECKPOINT lane: a single-part parquet checkpoint
  (``_delta_log/<v>.checkpoint.parquet`` with the protocol's
  protocol/metaData/txn/add/remove action columns) plus the
  ``_last_checkpoint`` pointer file, written driver-side with pyarrow
  (the checkpoint is O(live files) metadata, never data-sized).
  Replay then seeds from the newest checkpoint at-or-below the target
  version and reads only the JSON tail — at 100 TB this is the
  difference between O(total commits) and O(live files + recent
  commits) per snapshot resolution. ``clean_log_delta`` deletes JSON
  commits covered by the checkpoint (the protocol's metadata-cleanup
  rule), after which the checkpoint is REQUIRED, not an optimization —
  tests prove reads still resolve and pre-checkpoint time travel
  degrades to the protocol's honest FileNotFoundError.

Interop caveat, stated honestly: real delta-spark also writes CRC
sidecars, multi-part/v2 checkpoints, and feature flags; this writer
pins ``minReaderVersion=1 / minWriterVersion=2`` and single-part
classic checkpoints. Remove tombstones are not carried into
checkpoints (vacuum here is version-based and resolves references by
replaying kept snapshots, so expired tombstones are dead weight); the
reader rejects tables requiring features beyond protocol (1, 2).

Scale: the log is O(commits) JSON lines, never data-sized; snapshot
resolution is driver-side metadata work proportional to live-file
count (delta-spark pays the same), and data stays in distributed
parquet scans over exactly the live files — no full-table rewrite on
append, compaction amortized.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOG_DIR = "_delta_log"
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}


class DeltaCommitConflict(RuntimeError):
    """Another writer committed this version first (put-if-absent lost)."""


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:020d}.checkpoint.parquet")


def _checkpoint_part_path(table: str, version: int,
                          part: int, parts: int) -> str:
    """Multi-part checkpoint file name (the protocol's
    %020d.checkpoint.%010d.%010d.parquet scheme; part is 1-based)."""
    return os.path.join(
        table, _LOG_DIR,
        f"{version:020d}.checkpoint.{part:010d}.{parts:010d}.parquet")


def _checkpoint_files(table: str, version: int) -> list[str]:
    """Resolve the checkpoint at ``version`` to its parquet file set:
    the classic single-part file, or the complete multi-part set (the
    _last_checkpoint ``parts`` field is advisory — the file names are
    authoritative, per the protocol). An INCOMPLETE part set raises:
    reading half a checkpoint would silently drop live files."""
    single = _checkpoint_path(table, version)
    if os.path.exists(single):
        return [single]
    log = os.path.join(table, _LOG_DIR)
    prefix = f"{version:020d}.checkpoint."
    found: dict[int, dict[int, str]] = {}  # parts-count -> part -> path
    declared: set[int] = set()
    v2: list[str] = []
    for name in os.listdir(log) if os.path.isdir(log) else []:
        if not (name.startswith(prefix) and name.endswith(".parquet")):
            continue
        bits = name[len(prefix):-len(".parquet")].split(".")
        if len(bits) == 1 and bits[0] and not bits[0].isdigit():
            # V2 spec checkpoint: %020d.checkpoint.<uniqueStr>.parquet
            # — one top-level file (non-file actions + sidecarFile
            # pointers); its add/remove actions live in _sidecars/
            v2.append(os.path.join(log, name))
            continue
        if len(bits) != 2 or not all(b.isdigit() for b in bits):
            continue
        found.setdefault(int(bits[1]), {})[int(bits[0])] = (
            os.path.join(log, name))
        declared.add(int(bits[1]))
    if v2:
        # any complete v2 checkpoint serves; two racing writers both
        # produce complete files — pick deterministically
        return [sorted(v2)[0]]
    if not found:
        raise FileNotFoundError(
            f"no checkpoint parquet for version {version} under {table}")
    # multiple part-count sets can coexist (a maintenance re-run with a
    # tuned parts setting checkpoints the same version twice) — every
    # COMPLETE set describes the same snapshot, so serve any one,
    # deterministically; only an all-incomplete state raises
    for n in sorted(declared):
        parts_map = found[n]
        if not set(range(1, n + 1)) - set(parts_map):
            return [parts_map[i] for i in range(1, n + 1)]
    raise ValueError(
        f"multi-part checkpoint {version} incomplete: no declared part "
        f"count {sorted(declared)} has its full file set")


def _last_checkpoint_path(table: str) -> str:
    return os.path.join(table, _LOG_DIR, "_last_checkpoint")


def _list_versions(table: str) -> list[int]:
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(log)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _compacted_name(start: int, end: int) -> str:
    return "%020d.%020d.compacted.json" % (start, end)


def _compacted_ranges(table: str) -> dict[int, tuple[int, str]]:
    """LOG COMPACTION files (PROTOCOL.md "Log Compaction Files",
    ``<x>.<y>.compacted.json``): start version -> (largest covered end,
    absolute path). Readers use these to replay a whole commit range
    from one file; the raw JSON commits stay authoritative (compaction
    never deletes them — checkpoints do, via clean_log_delta)."""
    log = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log):
        return {}
    out: dict[int, tuple[int, str]] = {}
    for f in os.listdir(log):
        parts = f.split(".")
        if (len(parts) == 4 and parts[2] == "compacted" and parts[3] == "json"
                and parts[0].isdigit() and parts[1].isdigit()):
            s, e = int(parts[0]), int(parts[1])
            if s not in out or e > out[s][0]:
                out[s] = (e, os.path.join(log, f))
    return out


def _covering_compacted(comp: dict, v: int,
                        version: int) -> tuple[int, str] | None:
    """Largest compacted range containing ``v`` and ending at or below
    ``version``, as (end, path) — the lookup every log walker uses for
    a missing raw commit."""
    best: tuple[int, str] | None = None
    for s, (e, path) in comp.items():
        if s <= v <= e <= version and (best is None or e > best[0]):
            best = (e, path)
    return best


def _tail_actions(table: str, start: int, version: int):
    """Yield log actions for versions [start, version]: raw commits
    preferred, COMPACTION files consumed for missing raw commits (any
    covering range — re-folding versions already seen raw is safe for
    every last-action-wins consumer: the compacted file holds the
    range's NET state). Versions with neither are skipped, matching
    the historical tolerant behavior of the column-pruned walkers
    (_partition_columns and friends); _replay keeps its own stricter
    loop because snapshot resolution must RAISE on unresolvable
    holes. This helper is THE one place tail-walking understands
    compaction — keep new metadata readers on it (the five-copies
    review finding)."""
    comp = _compacted_ranges(table)
    v = start
    while v <= version:
        p = _log_path(table, v)
        if os.path.exists(p):
            with open(p) as f:
                for ln in f:
                    if ln.strip():
                        yield json.loads(ln)
            v += 1
            continue
        best = _covering_compacted(comp, v, version)
        if best is not None:
            with open(best[1]) as f:
                for ln in f:
                    if ln.strip():
                        yield json.loads(ln)
            v = best[0] + 1
            continue
        v += 1


def _read_last_checkpoint(table: str) -> int | None:
    """Version of the newest checkpoint per the ``_last_checkpoint``
    pointer (the protocol's discovery shortcut), or None."""
    try:
        with open(_last_checkpoint_path(table)) as f:
            return int(json.load(f)["version"])
    except (FileNotFoundError, ValueError, KeyError):
        return None


def latest_version(table: str) -> int | None:
    versions = _list_versions(table)
    cp = _read_last_checkpoint(table)
    if versions:
        return versions[-1] if cp is None else max(versions[-1], cp)
    return cp


_ICT_KEY = "delta.enableInCommitTimestamps"


def _commit_info_ict(table: str, version: int) -> int | None:
    """inCommitTimestamp of ``version``'s commitInfo (the protocol
    writes it as the FIRST action), or None."""
    path = _log_path(table, version)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        first = f.readline()
    try:
        return (json.loads(first).get("commitInfo") or {}).get(
            "inCommitTimestamp")
    except (ValueError, AttributeError):
        return None


def _ict_for_commit(table: str, version: int, actions: list[dict]) -> int | None:
    """IN-COMMIT TIMESTAMP for this commit (PROTOCOL.md "In-Commit
    Timestamps"): monotonic max(prev ICT + 1, wall clock) once the
    feature is on, else None. A metaData action in THIS commit decides
    authoritatively (that's how enablement itself gets the first
    stamp); otherwise the previous commit's commitInfo does; when the
    previous JSON was cleaned below a checkpoint, the checkpoint's
    configuration does (monotonicity across that boundary then rests
    on the wall clock — delta-spark carries the last ICT in CRC
    sidecars, out of scope here, stated honestly)."""
    meta = next((a["metaData"] for a in actions if "metaData" in a), None)
    prev_ict: int | None = None
    if version > 0:
        prev_ict = _commit_info_ict(table, version - 1)
    if meta is not None:
        on = (meta.get("configuration") or {}).get(_ICT_KEY) == "true"
    elif prev_ict is not None:
        on = True
    else:
        on = False
        if version > 0 and not os.path.exists(_log_path(table, version - 1)):
            cp = _read_last_checkpoint(table)
            if cp is not None and cp < version:
                _live, _s, _t, _p, cfg = _read_checkpoint_state(table, cp)
                on = cfg.get(_ICT_KEY) == "true"
    if not on:
        return None
    return max(int(time.time() * 1000), (prev_ict or 0) + 1)


def commit_delta(table: str, version: int, actions: list[dict]) -> None:
    """Atomically create commit ``version`` (put-if-absent). Raises
    DeltaCommitConflict when the version already exists. When the
    table has in-commit timestamps enabled, a commitInfo action
    carrying the monotonic inCommitTimestamp is prepended — the
    commit's PUBLIC timestamp, independent of file mtimes (which
    storage migrations rewrite)."""
    os.makedirs(os.path.join(table, _LOG_DIR), exist_ok=True)
    ict = _ict_for_commit(table, version, actions)
    if ict is not None:
        actions = [{"commitInfo": {"inCommitTimestamp": ict}}] + list(actions)
    payload = "\n".join(json.dumps(a, separators=(",", ":")) for a in actions)
    path = _log_path(table, version)
    try:
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        raise DeltaCommitConflict(f"version {version} already committed")
    with os.fdopen(fd, "w") as f:
        f.write(payload + "\n")
        f.flush()
        os.fsync(f.fileno())


def _metadata_action(df: DataFrame,
                     partition_columns: list[str] | None = None,
                     generated: dict[str, str] | None = None,
                     defaults: dict[str, str] | None = None,
                     identity: dict[str, dict] | None = None) -> dict:
    schema_json = df.schema.json()
    if generated or defaults or identity:
        # GENERATED COLUMNS (PROTOCOL.md "Generated Columns") live in
        # field metadata under delta.generationExpression; DEFAULT
        # columns (PROTOCOL.md "Default value expressions") under
        # CURRENT_DEFAULT — both declared once at table creation
        sch = json.loads(schema_json)
        for f in sch["fields"]:
            if f["name"] in (generated or {}):
                md = dict(f.get("metadata") or {})
                md[_GEN_KEY] = generated[f["name"]]
                f["metadata"] = md
            if f["name"] in (defaults or {}):
                md = dict(f.get("metadata") or {})
                md[_DEFAULT_KEY] = defaults[f["name"]]
                f["metadata"] = md
            if f["name"] in (identity or {}):
                # IDENTITY (PROTOCOL.md "Identity Columns"): start/step
                # at creation; the high-water mark is bumped per commit
                md = dict(f.get("metadata") or {})
                md[_ID_START] = int(identity[f["name"]]["start"])
                md[_ID_STEP] = int(identity[f["name"]]["step"])
                md[_ID_ALLOW] = False
                f["metadata"] = md
        schema_json = json.dumps(sch, separators=(",", ":"))
    return {"metaData": {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_json,
        "partitionColumns": list(partition_columns or []),
        "configuration": {},
        "createdTime": int(time.time() * 1000),
    }}


def _meta_action(schema_string: str, config: dict | None,
                 pcols: list[str] | None) -> dict:
    """metaData action for a METADATA-ONLY commit. Every such commit
    must re-state the FULL table metadata — replay takes the newest
    metaData action verbatim, so a property change that writes
    partitionColumns=[] (or configuration={}) silently erases the
    table's partitioning (or its CHECK constraints / CDF flag). All
    metadata-only writers go through here so the carry is uniform."""
    return {"metaData": {
        "id": str(uuid.uuid4()),
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": list(pcols or []),
        "configuration": dict(config or {}),
        "createdTime": int(time.time() * 1000),
    }}


def _partition_columns(table: str, version: int | None = None) -> list[str]:
    """partitionColumns from the newest metaData action at-or-below
    ``version`` — resolved the way _replay resolves schema (checkpoint
    seed + JSON tail), tracked separately so the widely-shared _replay
    tuple shape stays put."""
    newest = latest_version(table)
    if newest is None:
        return []
    if version is None:
        version = newest
    cols: list[str] = []
    start = 0
    cp = _read_last_checkpoint(table)
    if cp is not None and cp <= version:
        import pyarrow.parquet as pq

        for path in _checkpoint_files(table, cp):
            t = pq.read_table(path, columns=["metaData"])
            for row in t.to_pylist():
                md = row.get("metaData")
                if md is not None:
                    cols = list(md.get("partitionColumns") or [])
        start = cp + 1
    for a in _tail_actions(table, start, version):
        if "metaData" in a:
            cols = list(a["metaData"].get("partitionColumns") or [])
    return cols


def _file_stats_json(path: str) -> str | None:
    """Per-file column statistics in Delta's ``stats`` JSON shape
    (numRecords / minValues / maxValues / nullCount), harvested from
    the parquet footer's row-group statistics — a metadata-only read.
    Only top-level primitive columns with footer stats participate."""
    import pyarrow.parquet as pq

    try:
        pf = pq.ParquetFile(path)
    except Exception:
        return None
    md = pf.metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        for ci in range(md.num_columns):
            col = md.row_group(rg).column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested: out of stats scope
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                continue  # binary min/max not representable in JSON
            mins[name] = mn if name not in mins else min(mins[name], mn)
            maxs[name] = mx if name not in maxs else max(maxs[name], mx)
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    stats = {"numRecords": md.num_rows, "minValues": mins,
             "maxValues": maxs, "nullCount": nulls}
    try:
        return json.dumps(stats, default=str, separators=(",", ":"))
    except TypeError:  # pragma: no cover - unexpected stat type
        return None


def _write_data_files(df: DataFrame, table: str,
                      partition_cols: list[str] | None = None) -> list[dict]:
    """Write the batch as parquet under a scratch name, move the parts
    into the table root, return their add actions (uncommitted until a
    log commit references them). Each add carries Delta's ``stats``
    JSON so readers can file-prune on predicates (data skipping — the
    table-format sibling of the zone-map family, sources/layout.py).

    ``partition_cols`` records each file's ``partitionValues`` (the
    protocol's string-valued map) and guarantees one partition tuple
    per file. Simplification stated: partition columns stay IN the
    parquet bytes (the staging duplicates them into throwaway hive
    columns so the originals survive; delta-spark strips them, leaving
    the log authoritative) and files lie FLAT under the table root —
    the log, not the directory tree, is the source of truth either
    way, and pruning runs on the O(files) partitionValues metadata."""
    scratch = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    if partition_cols:
        from urllib.parse import unquote

        staging = [f"_pd{i}" for i in range(len(partition_cols))]
        aug = df
        for sc, c in zip(staging, partition_cols):
            aug = aug.withColumn(sc, F.col(c).cast("string"))
        (aug.repartition(*[F.col(c) for c in staging])
         .write.partitionBy(*staging).mode("overwrite").parquet(scratch))
        adds = []
        for root_dir, _dirs, files in os.walk(scratch):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel = os.path.relpath(root_dir, scratch)
                raw = dict(seg.split("=", 1)
                           for seg in rel.split(os.sep) if "=" in seg)
                pvals: dict = {}
                for sc, c in zip(staging, partition_cols):
                    v = unquote(raw[sc])
                    if v == "__HIVE_DEFAULT_PARTITION__":
                        raise NotImplementedError(
                            "NULL partition values out of scope")
                    pvals[c] = v
                final = f"part-{uuid.uuid4().hex}.parquet"
                os.replace(os.path.join(root_dir, fn),
                           os.path.join(table, final))
                add = {
                    "path": final,
                    "partitionValues": pvals,
                    "size": os.path.getsize(os.path.join(table, final)),
                    "modificationTime": int(time.time() * 1000),
                    "dataChange": True,
                }
                stats = _file_stats_json(os.path.join(table, final))
                if stats is not None:
                    add["stats"] = stats
                adds.append({"add": add})
        shutil.rmtree(scratch, ignore_errors=True)
        adds.sort(key=lambda a: a["add"]["path"])
        return adds
    df.write.mode("overwrite").parquet(scratch)
    adds = []
    for name in sorted(os.listdir(scratch)):
        if not name.endswith(".parquet"):
            continue
        final = f"part-{uuid.uuid4().hex}.parquet"
        os.replace(os.path.join(scratch, name), os.path.join(table, final))
        add = {
            "path": final,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(table, final)),
            "modificationTime": int(time.time() * 1000),
            "dataChange": True,
        }
        stats = _file_stats_json(os.path.join(table, final))
        if stats is not None:
            add["stats"] = stats
        adds.append({"add": add})
    shutil.rmtree(scratch, ignore_errors=True)
    return adds


def pruned_read_delta(spark: SparkSession, table: str, column: str,
                      lo, hi) -> tuple[DataFrame, int, int]:
    """Data-skipping snapshot read: plan only the live files whose
    [min, max] stats for ``column`` intersect [lo, hi]. Returns
    (DataFrame, files_read, files_total). Files without stats for the
    column are conservatively read. The predicate itself is NOT applied
    — callers add their own filter; pruning only removes files that
    cannot contain matches, so the result set is identical to a full
    read + filter (the zone-map contract)."""
    live, schema_string, _v, _txns, config = _replay(table, None)
    paths = list(live.items())
    schema = StructType.fromJson(json.loads(schema_string))
    mapping = _column_mapping(schema_string, config)
    # add-action stats are keyed by the PHYSICAL parquet names
    stats_col = mapping.get(column, column) if mapping else column
    keep = []
    for p, add in paths:
        st = add.get("stats")
        if st:
            s = json.loads(st)
            mn = s.get("minValues", {}).get(stats_col)
            mx = s.get("maxValues", {}).get(stats_col)
            try:
                if mn is not None and mx is not None and (mx < lo or mn > hi):
                    continue  # provably disjoint: skip
            except TypeError:
                # stats stored via the default=str fallback (e.g. a
                # date column) against numeric bounds: incomparable ->
                # conservative read, never an error (the no-stats rule)
                pass
        keep.append(p)
    if not keep:
        return spark.createDataFrame([], schema), 0, len(paths)
    phys = _physical_struct(schema, mapping,
                            _cm_ids(schema_string, config))
    df = spark.read.schema(phys).parquet(
        *[os.path.join(table, p) for p in keep])
    adds = dict(paths)
    kept_acts = [(p, adds[p]) for p in keep]
    if any(a.get("deletionVector") for _p, a in kept_acts):
        # a pruned file may still carry a deletion vector: apply it or
        # deleted rows resurrect through the skipping path
        from postrack_spark.streaming.deletion_vectors import (
            dv_filter,
            load_dv_bytes,
        )

        df = dv_filter(df, table, load_dv_bytes(table, kept_acts), phys)
    if mapping:
        df = df.select(*[F.col(mapping.get(f.name, f.name)).alias(f.name)
                         for f in schema.fields])
    return df, len(keep), len(paths)


# TABLE FEATURES (PROTOCOL.md "Table Features"): reader features this
# engine actually implements — a minReaderVersion-3 table listing only
# these is readable; ANY unknown feature refuses (the spec's rule: an
# unrecognized reader feature means silently-wrong results, never a
# best-effort read). vacuumProtocolCheck requires no reader behavior.
_READER_FEATURES_SUPPORTED = {
    "columnMapping", "deletionVectors", "v2Checkpoint",
    "vacuumProtocolCheck",
}
# writer features with an implementation here (for upgrade validation
# — declaring a feature no writer in this engine honors would be a lie)
_WRITER_FEATURES_SUPPORTED = {
    "appendOnly", "checkConstraints", "generatedColumns",
    "allowColumnDefaults", "identityColumns", "changeDataFeed",
    "columnMapping", "deletionVectors", "rowTracking",
    "inCommitTimestamp", "domainMetadata", "v2Checkpoint",
    "vacuumProtocolCheck", "invariants",
}


def _gate_protocol(p: dict) -> None:
    """READ gate. Protocol 1 is the legacy floor; 2 adds column
    mapping (implemented here); 3 switches to explicit readerFeatures,
    accepted iff every listed feature is implemented. Unknown writer
    features never block a READ (the spec's asymmetry)."""
    mrv = p.get("minReaderVersion", 1)
    if mrv <= 2:
        return
    if mrv == 3:
        unknown = set(p.get("readerFeatures") or []) \
            - _READER_FEATURES_SUPPORTED
        if unknown:
            raise ValueError(
                f"table requires unsupported reader features "
                f"{sorted(unknown)}")
        return
    raise ValueError(f"unknown minReaderVersion {mrv}: {p}")


def _replay(table: str, version: int | None):
    """Resolve a snapshot: seed from the newest checkpoint at-or-below
    the target version (if any), then replay the JSON tail. Returns
    (live add-actions by path, schemaString, resolved version,
    latest txn version by appId). Raises FileNotFoundError when a
    needed JSON commit is gone (time travel below a cleaned
    checkpoint — the protocol's honest answer)."""
    newest = latest_version(table)
    if newest is None:
        raise FileNotFoundError(f"no _delta_log under {table}")
    if version is None:
        version = newest
    have = set(_list_versions(table))
    live: dict[str, dict] = {}
    schema_string: str | None = None
    txns: dict[str, int] = {}
    config: dict[str, str] = {}
    start = 0
    cp = _read_last_checkpoint(table)
    if cp is not None and cp <= version:
        live, schema_string, txns, protocol, config = _read_checkpoint_state(
            table, cp)
        _gate_protocol(protocol)
        start = cp + 1
    comp = _compacted_ranges(table)
    v = start
    while v <= version:
        c = comp.get(v)
        if c is not None and c[0] <= version:
            path, end_v = c[1], c[0]  # one file replays [v, end_v]
        elif v in have:
            path, end_v = _log_path(table, v), v
        else:
            best = _covering_compacted(comp, v, version)
            if best is None:
                raise FileNotFoundError(
                    f"version {v} not in {table} log (requested {version};"
                    " cleaned below the checkpoint, or never committed)")
            # a hole mid-range: re-folding the covering range's net
            # state after its earlier raw commits is order-safe
            end_v, path = best
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _gate_protocol(action["protocol"])
                elif "metaData" in action:
                    schema_string = action["metaData"]["schemaString"]
                    config = dict(
                        action["metaData"].get("configuration") or {})
                elif "add" in action:
                    live[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "txn" in action:
                    t = action["txn"]
                    prev = txns.get(t["appId"])
                    txns[t["appId"]] = (t["version"] if prev is None
                                        else max(prev, t["version"]))
        v = end_v + 1
    return live, schema_string, version, txns, config


def _snapshot_actions(table: str, version: int | None):
    """Snapshot as (path, add_action) pairs."""
    live, schema_string, v, _txns, _cfg = _replay(table, version)
    return list(live.items()), schema_string, v


def _snapshot(table: str, version: int | None):
    """Snapshot as (live add-paths, schemaString, resolved version)."""
    live, schema_string, v, _txns, _cfg = _replay(table, version)
    return list(live), schema_string, v


_CP_COLUMNS = ("protocol", "metaData", "txn", "domainMetadata", "add")


def checkpoint_delta(table: str, version: int | None = None,
                     parts: int | None = None, spark=None,
                     v2: bool = False) -> int:
    """Write a parquet checkpoint of the snapshot at ``version``
    (default: latest) and point ``_last_checkpoint`` at it. Returns
    the checkpointed version.

    Default: the classic SINGLE-PART checkpoint, driver-side pyarrow —
    O(live files + txn apps) metadata rows. ``parts=N`` (N>1) writes
    the protocol's MULTI-PART checkpoint instead
    (%020d.checkpoint.%010d.%010d.parquet): part 1 carries the
    non-file actions (protocol/metaData/txn/domainMetadata), add
    actions spread round-robin across all N parts, and the
    ``_last_checkpoint`` pointer records the ``parts`` field. This is
    the 100× metadata path (VERDICT r7 #2): at 10⁵-10⁶ add actions
    with stats a single driver pyarrow table is the metadata ceiling —
    with ``spark`` passed, the parts are WRITTEN DISTRIBUTED (each
    worker partition encodes and writes its own part files through the
    same declared arrow schema), so no single process ever holds the
    whole action table in columnar form; without a session the parts
    write sequentially driver-side (same layout, same readers).

    Crash safety: every part lands tmp+rename, and the pointer swaps
    LAST — a crash mid-write leaves orphan part files behind a pointer
    that still names the previous checkpoint (harmless debris, never a
    torn read; readers resolve the file set from the names and REFUSE
    incomplete sets)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    live, schema_string, v, txns, config = _replay(table, version)
    pcols = _partition_columns(table, v)
    rows: list[dict] = [
        # the TABLE'S protocol, not the legacy pin: a features-shaped
        # protocol (minReaderVersion 3 + feature lists) must survive
        # checkpoint + clean_log or the read gate under-enforces
        {"protocol": _current_protocol(table, v)},
        {"metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            # partitionColumns + CONFIG MUST RIDE ALONG: pyarrow
            # silently drops dict keys absent from the declared schema
            # (the documented checkpoint trap) — losing either here
            # would erase CHECK constraints / table partitioning at
            # clean_log_delta
            "partitionColumns": pcols,
            "configuration": config,
            "createdTime": int(time.time() * 1000),
        }},
    ]
    rows += [{"txn": {"appId": a, "version": bv}}
             for a, bv in sorted(txns.items())]
    rows += [{"domainMetadata": {"domain": d, "configuration": c,
                                 "removed": False}}
             for d, c in sorted(_domain_configs(table, v).items())]
    rows += [{"add": dict(add)} for _p, add in sorted(live.items())]
    schema = pa.schema([
        # readerFeatures/writerFeatures MUST be declared or pyarrow
        # silently drops them (the checkpoint declared-schema trap) —
        # a features-protocol table would lose its feature lists at
        # clean_log and the read gate would under-enforce
        ("protocol", pa.struct([("minReaderVersion", pa.int32()),
                                ("minWriterVersion", pa.int32()),
                                ("readerFeatures", pa.list_(pa.string())),
                                ("writerFeatures", pa.list_(pa.string()))])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string())])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ])),
        ("txn", pa.struct([("appId", pa.string()),
                           ("version", pa.int64())])),
        ("domainMetadata", pa.struct([
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            # row tracking: these MUST ride the checkpoint (pyarrow
            # silently drops dict keys absent from the declared schema
            # — the documented DV trap) or ids are lost at clean_log
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
            ("deletionVector", pa.struct([
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int64()),
                ("sizeInBytes", pa.int64()),
                ("cardinality", pa.int64()),
            ])),
        ])),
    ])
    def _write_rows(part_rows: list[dict], path: str) -> None:
        cols = {name: [r.get(name) for r in part_rows]
                for name in _CP_COLUMNS}
        batch = pa.table(
            {name: pa.array(cols[name], type=schema.field(name).type)
             for name in _CP_COLUMNS},
            schema=schema,
        )
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(batch, tmp)
        os.replace(tmp, path)

    pointer: dict = {"version": v, "size": len(rows)}
    if v2:
        # V2 SPEC CHECKPOINT (PROTOCOL.md "V2 spec checkpoints"): one
        # uuid-named top-level file holding the non-file actions, a
        # checkpointMetadata action, and sidecarFile pointers; the add
        # actions land in _delta_log/_sidecars/ parquet files —
        # written FIRST (tmp+rename each), so the top file only ever
        # references complete sidecars and a crash mid-write leaves
        # orphan sidecars behind the old pointer, never a torn read.
        side_dir = os.path.join(table, _LOG_DIR, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        n_side = max(1, int(parts or 1))
        n_head = len(rows) - len(live)
        head_rows = rows[:n_head]
        add_rows = rows[n_head:]
        buckets = [add_rows[i::n_side] for i in range(n_side)]
        side_schema = pa.schema([("add", schema.field("add").type)])
        sidecar_actions: list[dict] = []
        for bucket in buckets:
            name = f"{uuid.uuid4().hex}.parquet"
            sp = os.path.join(side_dir, name)
            tmp = sp + f".tmp.{uuid.uuid4().hex}"
            pq.write_table(pa.table(
                {"add": pa.array([r.get("add") for r in bucket],
                                 type=side_schema.field("add").type)},
                schema=side_schema), tmp)
            os.replace(tmp, sp)
            sidecar_actions.append({"sidecarFile": {
                "path": name,
                "sizeInBytes": os.path.getsize(sp),
                "modificationTime": int(time.time() * 1000),
            }})
        top_rows = ([{"checkpointMetadata": {"version": v}}]
                    + head_rows + sidecar_actions)
        top_cols = ("checkpointMetadata", "protocol", "metaData", "txn",
                    "domainMetadata", "sidecarFile")
        top_schema = pa.schema(
            [("checkpointMetadata", pa.struct([("version", pa.int64())]))]
            + [(c, schema.field(c).type) for c in _CP_COLUMNS
               if c != "add"]
            + [("sidecarFile", pa.struct([
                ("path", pa.string()),
                ("sizeInBytes", pa.int64()),
                ("modificationTime", pa.int64()),
            ]))])
        top_path = os.path.join(
            table, _LOG_DIR,
            f"{v:020d}.checkpoint.{uuid.uuid4().hex}.parquet")
        tmp = top_path + f".tmp.{uuid.uuid4().hex}"
        pq.write_table(pa.table(
            {c: pa.array([r.get(c) for r in top_rows],
                         type=top_schema.field(c).type)
             for c in top_cols},
            schema=top_schema), tmp)
        os.replace(tmp, top_path)
    elif parts is not None and parts > 1:
        n = int(parts)
        # part 1: non-file actions + its share of adds; adds spread
        # round-robin (the protocol lets actions land in any part)
        n_head = len(rows) - len(live)
        buckets: list[list[dict]] = [[] for _ in range(n)]
        buckets[0].extend(rows[:n_head])
        for i, r in enumerate(rows[n_head:]):
            buckets[i % n].append(r)
        targets = [(_checkpoint_part_path(table, v, i + 1, n), b)
                   for i, b in enumerate(buckets)]
        if spark is not None:
            # distributed encode+write: ship (path, rows-as-json) one
            # row per part; each worker partition encodes and writes
            # its own parquet parts through the SAME declared schema
            # (_write_rows and the schema ride the task closure)
            payload = [(p, json.dumps(b)) for p, b in targets]
            pdf = spark.createDataFrame(payload, "path string, body string")

            def _emit(batches):
                import pandas as _pd

                for chunk in batches:
                    for path, body in zip(chunk["path"], chunk["body"]):
                        _write_rows(json.loads(body), path)
                    yield _pd.DataFrame({"done": [len(chunk)]})

            (pdf.repartition(n)
             .mapInPandas(_emit, "done long")
             .groupBy().sum("done").collect())
        else:
            for p, b in targets:
                _write_rows(b, p)
        pointer["parts"] = n
    else:
        _write_rows(rows, _checkpoint_path(table, v))
    lc_tmp = _last_checkpoint_path(table) + f".tmp.{uuid.uuid4().hex}"
    with open(lc_tmp, "w") as f:
        json.dump(pointer, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(lc_tmp, _last_checkpoint_path(table))
    return v


def _read_checkpoint_state(table: str, cp_version: int):
    """Load a checkpoint parquet back into replay state:
    (live adds by path, schemaString, txns by appId, protocol,
    configuration)."""
    import pyarrow.parquet as pq

    rows: list[dict] = []
    for path in _checkpoint_files(table, cp_version):
        for row in pq.read_table(path).to_pylist():
            sf = row.get("sidecarFile") if isinstance(row, dict) else None
            if sf is not None and sf.get("path"):
                # V2 spec checkpoint: the sidecar (under
                # _delta_log/_sidecars/) carries the file actions
                side = os.path.join(table, _LOG_DIR, "_sidecars",
                                    sf["path"])
                rows.extend(pq.read_table(side).to_pylist())
            else:
                rows.append(row)
    live: dict[str, dict] = {}
    schema_string: str | None = None
    txns: dict[str, int] = {}
    protocol: dict = dict(_PROTOCOL)
    config: dict[str, str] = {}
    for row in rows:
        if row.get("protocol") is not None:
            protocol = {k: v for k, v in row["protocol"].items()
                        if v is not None}
        elif row.get("metaData") is not None:
            schema_string = row["metaData"]["schemaString"]
            # pyarrow maps round-trip as (key, value) tuple lists
            config = dict(row["metaData"].get("configuration") or [])
        elif row.get("txn") is not None:
            txns[row["txn"]["appId"]] = row["txn"]["version"]
        elif row.get("add") is not None:
            add = {k: v for k, v in row["add"].items() if v is not None}
            dv = add.get("deletionVector")
            if dv is not None:
                dv = {k: v for k, v in dv.items() if v is not None}
                if dv:
                    add["deletionVector"] = dv
                else:
                    add.pop("deletionVector", None)
            # pyarrow maps round-trip as (key, value) tuple lists
            add["partitionValues"] = dict(add.get("partitionValues") or [])
            live[add["path"]] = add
    return live, schema_string, txns, protocol, config


def clean_log_delta(table: str) -> list[str]:
    """Metadata cleanup: delete JSON commits at or below the newest
    checkpoint (they are fully covered by it). After this the
    checkpoint is load-bearing — snapshot reads seed from it, and time
    travel below it raises FileNotFoundError. Returns deleted names."""
    cp = _read_last_checkpoint(table)
    if cp is None:
        return []
    deleted = []
    for v in _list_versions(table):
        if v <= cp:
            # change files referenced ONLY by this commit become
            # unreadable once its JSON goes (read_changes_delta reads
            # the JSON tail) — reclaim them in the same sweep
            with open(_log_path(table, v)) as f:
                for ln in f:
                    if not ln.strip():
                        continue
                    a = json.loads(ln)
                    if "cdc" in a:
                        cpath = os.path.join(table, a["cdc"]["path"])
                        if os.path.exists(cpath):
                            os.remove(cpath)
                            deleted.append(a["cdc"]["path"])
            os.remove(_log_path(table, v))
            deleted.append(os.path.basename(_log_path(table, v)))
    # compaction files fully at-or-below the checkpoint can never be
    # chosen by replay again (seeding starts at cp+1) — reclaim them,
    # and version-checksum sidecars of cleaned commits go with them
    log = os.path.join(table, _LOG_DIR)
    for f in list(os.listdir(log)):
        parts = f.split(".")
        if (len(parts) == 4 and parts[2] == "compacted" and parts[3] == "json"
                and parts[0].isdigit() and parts[1].isdigit()
                and int(parts[1]) <= cp):
            os.remove(os.path.join(log, f))
            deleted.append(f)
        elif (len(parts) == 2 and parts[1] == "crc" and parts[0].isdigit()
                and int(parts[0]) < cp):  # the cp version itself stays
            # readable through the checkpoint, so its digest stays too
            os.remove(os.path.join(log, f))
            deleted.append(f)
    return deleted


def compact_log_delta(table: str, start: int | None = None,
                      end: int | None = None) -> str | None:
    """Write a LOG COMPACTION file ``<start>.<end>.compacted.json``
    (PROTOCOL.md "Log Compaction Files"): the reconciled action set of
    the commit range — last add-or-remove per file path, newest
    protocol/metaData, max txn per appId, newest domainMetadata per
    domain; commitInfo/cdc actions are dropped (CDF readers and ICT
    resolution stay on the raw JSON commits, which compaction never
    deletes). Replay (_replay) then consumes the whole range from ONE
    file — the metadata answer between checkpoints: a checkpoint
    rewrites ALL live adds (O(table files)); a compaction file is
    O(files touched in the range), so frequent small commits (CDC
    appends) stop costing replay one open()+parse per commit without
    paying full-checkpoint writes. Defaults: start = checkpoint+1 (or
    0), end = newest commit. Returns the written path, or None when
    the range is empty/degenerate. Raises when a commit in the range
    is missing (cannot compact over a hole)."""
    cp = _read_last_checkpoint(table)
    if start is None:
        start = 0 if cp is None else cp + 1
    if end is None:
        newest = latest_version(table)
        end = -1 if newest is None else newest
    if end <= start:  # a 1-commit "range" saves nothing
        return None
    have = set(_list_versions(table))
    protocol = None
    meta = None
    txns: dict[str, dict] = {}
    domains: dict[str, dict] = {}
    per_path: dict[str, dict] = {}
    for v in range(start, end + 1):
        if v not in have:
            raise FileNotFoundError(
                f"cannot compact [{start},{end}] of {table}:"
                f" version {v} missing")
        with open(_log_path(table, v)) as f:
            for ln in f:
                if not ln.strip():
                    continue
                a = json.loads(ln)
                if "protocol" in a:
                    protocol = a
                elif "metaData" in a:
                    meta = a
                elif "add" in a:
                    per_path[a["add"]["path"]] = a
                elif "remove" in a:
                    per_path[a["remove"]["path"]] = a
                elif "txn" in a:
                    t = a["txn"]
                    prev = txns.get(t["appId"])
                    if prev is None or t["version"] >= prev["txn"]["version"]:
                        txns[t["appId"]] = a
                elif "domainMetadata" in a:
                    dm = a["domainMetadata"]
                    if dm.get("domain"):
                        domains[dm["domain"]] = a
    actions = ([protocol] if protocol else []) \
        + ([meta] if meta else []) \
        + list(txns.values()) + list(domains.values()) \
        + list(per_path.values())
    out = os.path.join(table, _LOG_DIR, _compacted_name(start, end))
    tmp = out + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, out)  # idempotent content: last-writer-wins is fine
    return out


def _schema_pairs(schema_string: str) -> list[tuple[str, str]]:
    sch = StructType.fromJson(json.loads(schema_string))
    return [(f.name, f.dataType.simpleString()) for f in sch.fields]


def _reconcile_schema(schema_string: str, df: DataFrame,
                      merge_schema: bool, config: dict,
                      pcols: list[str] | None = None) -> dict | None:
    """Schema ENFORCEMENT + optional EVOLUTION (Delta's write contract):
    same column set -> no action; a type conflict or a missing column
    always raises; NEW columns raise unless ``merge_schema`` — then a
    metaData action appends them (nullable) to the table schema, and
    readers fill them with NULL for pre-evolution files (parquet scans
    with a wider schema do this natively). The action CARRIES the
    current table configuration — dropping it would silently erase
    CHECK constraints."""
    cur = _schema_pairs(schema_string)
    new_pairs = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    cur_d, new_d = dict(cur), dict(new_pairs)
    conflicts = [f"{n}: {cur_d[n]} -> {t}"
                 for n, t in new_pairs if n in cur_d and cur_d[n] != t]
    if conflicts:
        raise ValueError("schema type conflict on " + "; ".join(conflicts))
    missing = [n for n, _t in cur if n not in new_d]
    if missing:
        raise ValueError(f"write is missing table columns {missing}")
    extra = [n for n, _t in new_pairs if n not in cur_d]
    if not extra:
        return None
    if not merge_schema:
        raise ValueError(
            f"schema drift: new columns {extra} — pass merge_schema=True "
            "to evolve (Delta's enforcement-by-default rule)")
    merged = StructType.fromJson(json.loads(schema_string))
    from pyspark.sql.types import StructField

    new_config = dict(config)
    next_id = int(config.get(_CM_MAXID, "0") or 0)
    mapped = config.get(_CM_MODE) in ("name", "id")
    for f in df.schema.fields:
        if f.name in set(extra):
            md = None
            if mapped:
                # evolved columns on a column-mapping table get a
                # fresh id and a uuid physical name (PROTOCOL.md:
                # physical names never collide with any past logical
                # name, so a later rename-to-this-name stays safe)
                next_id += 1
                md = {_CM_ID: next_id,
                      _CM_PHYS: f"col-{uuid.uuid4().hex[:12]}"}
            merged = merged.add(StructField(f.name, f.dataType, True,
                                            metadata=md))
    if mapped:
        new_config[_CM_MAXID] = str(next_id)
    return _meta_action(merged.json(), new_config, pcols)


_CONSTRAINT_PREFIX = "delta.constraints."

# ---------------------------------------------------------------------------
# COLUMN MAPPING (PROTOCOL.md "Column Mapping", mode 'name'): every
# schema field carries metadata keys delta.columnMapping.id and
# delta.columnMapping.physicalName; parquet files store PHYSICAL
# names, so RENAME and DROP COLUMN are metadata-only commits — zero
# data rewrite. On upgrade (enable_column_mapping_delta) physical
# names equal the then-current logical names (existing parquet was
# written with them — delta-spark's upgrade rule); columns added
# after upgrade get uuid physical names. Readers scan under the
# physical schema and project to logical names; writers map logical
# frames to physical names at the staging boundary. Time travel uses
# each version's OWN metaData, so pre-rename reads see pre-rename
# names against the same bytes.

_CM_MODE = "delta.columnMapping.mode"
_CM_MAXID = "delta.columnMapping.maxColumnId"
_CM_ID = "delta.columnMapping.id"
_CM_PHYS = "delta.columnMapping.physicalName"


def _column_mapping(schema_string: str, config: dict) -> dict | None:
    """{logical name: physical parquet name}, or None when column
    mapping is off. BOTH modes ('name' and 'id') maintain physical
    names — id mode ADDITIONALLY stamps parquet field ids (below), the
    spec's authoritative resolution key for that mode."""
    if (config or {}).get(_CM_MODE) not in ("name", "id"):
        return None
    fields = json.loads(schema_string)["fields"]
    return {f["name"]: (f.get("metadata") or {}).get(_CM_PHYS, f["name"])
            for f in fields}


_PQ_FIELD_ID = "parquet.field.id"


def _cm_ids(schema_string: str, config: dict) -> dict | None:
    """{logical name: delta.columnMapping.id} in id mode, else None.
    The ids are written INTO the parquet schema (parquet.field.id
    field metadata — Spark's fieldId write path) and reads resolve by
    them (fieldId read path), so a renamed column keeps matching its
    bytes by id even though no physical name appears anywhere in the
    resolution — mode 'id' semantics per PROTOCOL.md."""
    if (config or {}).get(_CM_MODE) != "id":
        return None
    fields = json.loads(schema_string)["fields"]
    return {f["name"]: (f.get("metadata") or {}).get(_CM_ID)
            for f in fields}


def _physical_struct(schema: StructType, mapping: dict | None,
                     ids: dict | None = None) -> StructType:
    # always a FRESH StructType: StructType.add mutates in place, so
    # returning the input when mapping is off would let callers'
    # .add("_change_type") corrupt the caller's schema object
    from pyspark.sql.types import StructField

    m = mapping or {}
    i = ids or {}
    return StructType([
        StructField(m.get(f.name, f.name), f.dataType, f.nullable,
                    metadata=({_PQ_FIELD_ID: i[f.name]}
                              if i.get(f.name) is not None else None))
        for f in schema.fields])


def _to_physical(df: DataFrame, mapping: dict | None,
                 ids: dict | None = None) -> DataFrame:
    """Rename a logical frame's columns to physical names for staging
    (columns outside the mapping — e.g. _change_type — pass through).
    In id mode (``ids``) each mapped column also carries its
    parquet.field.id metadata so the staged parquet files record the
    spec's resolution ids."""
    if not mapping:
        return df
    i = ids or {}
    return df.select(*[
        F.col(c).alias(mapping.get(c, c),
                       metadata={_PQ_FIELD_ID: i[c]})
        if i.get(c) is not None
        else F.col(c).alias(mapping.get(c, c))
        for c in df.columns])


def _scan_logical(spark: SparkSession, table: str, rel_paths: list[str],
                  schema_string: str, config: dict,
                  extra_cols: list | None = None) -> DataFrame:
    """Scan live parquet under the PHYSICAL schema and project to
    logical names (identity when mapping is off). ``extra_cols``
    (e.g. _metadata projections) are appended in the SAME select so
    they resolve directly on the scan relation."""
    schema = StructType.fromJson(json.loads(schema_string))
    mapping = _column_mapping(schema_string, config)
    # id mode: the scan schema carries parquet.field.id metadata, so
    # with spark.sql.parquet.fieldId.read.enabled the parquet columns
    # resolve BY ID (the mode's spec semantics); name resolution would
    # also work here because physical names are maintained either way
    phys = _physical_struct(schema, mapping, _cm_ids(schema_string, config))
    df = spark.read.schema(phys).parquet(
        *[os.path.join(table, p) for p in rel_paths])
    cols = [F.col(mapping.get(f.name, f.name) if mapping else f.name)
            .alias(f.name) for f in schema.fields]
    return df.select(*(cols + list(extra_cols or [])))


def _guard_constraint_refs(config: dict, column: str, op: str) -> None:
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(column)}\b")
    for key in sorted(config):
        if key.startswith(_CONSTRAINT_PREFIX) and pat.search(config[key]):
            raise ValueError(
                f"cannot {op} column {column!r}: CHECK constraint "
                f"{key[len(_CONSTRAINT_PREFIX):]!r} references it "
                f"({config[key]}) — drop the constraint first")


def _guard_generated_refs(schema_string: str, column: str, op: str) -> None:
    """A generation expression referencing ``column`` blocks its
    rename/drop — otherwise the stored expression would go unresolvable
    and EVERY subsequent write fails with no way to clear the metadata
    (the same rule CHECK constraints already enforce). Renaming or
    dropping the generated column ITSELF is fine: its metadata moves
    or leaves with the field."""
    import re as _re

    pat = _re.compile(rf"\b{_re.escape(column)}\b")
    for name, expr in sorted(_generated_exprs(schema_string).items()):
        if name != column and pat.search(expr):
            raise ValueError(
                f"cannot {op} column {column!r}: generated column "
                f"{name!r} derives from it ({expr})")
    # default-value expressions are the same hazard class: a stored
    # CURRENT_DEFAULT referencing a renamed/dropped column would make
    # every subsequent defaulted write unresolvable
    for name, expr in sorted(_default_exprs(schema_string).items()):
        if name != column and pat.search(expr):
            raise ValueError(
                f"cannot {op} column {column!r}: default of column "
                f"{name!r} references it ({expr})")


def enable_column_mapping_delta(table: str, mode: str = "name") -> int:
    """Upgrade the table to column mapping (metadata-only commit;
    idempotent per mode). Returns the committed (or current, when
    already enabled) version.

    mode='name' (any table): physical names are frozen at the CURRENT
    logical names — exactly what the existing parquet contains — so
    the upgrade rewrites nothing and every prior file stays readable.

    mode='id' (EMPTY tables only — delta-spark's new-tables-only rule,
    enforced here as no-live-files): columns get uuid physical names
    AND parquet field ids; every subsequent write stamps the ids into
    its parquet schema (parquet.field.id) and reads resolve BY ID, the
    mode's authoritative key. Existing data files could never satisfy
    that contract (their parquet lacks ids), hence the restriction."""
    if mode not in ("name", "id"):
        raise ValueError("mode must be 'name' or 'id'")
    for _ in range(10):
        live, schema_string, read_v, _t, config = _replay(table, None)
        if config.get(_CM_MODE) == mode:
            return read_v
        if config.get(_CM_MODE) is not None:
            raise ValueError(
                f"table already maps with mode {config[_CM_MODE]!r} — "
                "mode changes are out of scope (they would re-key every "
                "file's resolution)")
        if mode == "id":
            # a creating write may have staged zero-row part files —
            # those never face id resolution (no column chunks); any
            # file with ROWS (or without provable stats) blocks
            def _rows(a: dict):
                try:
                    return json.loads(a.get("stats") or "")["numRecords"]
                except (ValueError, KeyError):
                    return None

            if any(_rows(a) != 0 for a in live.values()):
                raise NotImplementedError(
                    "mode 'id' on a table with data is out of scope: "
                    "existing parquet carries no field ids, so id "
                    "resolution could never read it (delta-spark allows "
                    "id mode on new tables only — create, enable, then "
                    "write)")
        if _partition_columns(table, read_v):
            raise NotImplementedError(
                "column mapping on a PARTITIONED table is out of scope "
                "(partitionValues are keyed by column name; renaming a "
                "partition column would orphan them) — the same boundary "
                "write_delta enforces from the other direction")
        sch = json.loads(schema_string)
        for i, f in enumerate(sch["fields"], start=1):
            md = dict(f.get("metadata") or {})
            md[_CM_ID] = i
            md[_CM_PHYS] = (f["name"] if mode == "name"
                            else f"col-{uuid.uuid4().hex[:12]}")
            f["metadata"] = md
        new_config = dict(config)
        new_config[_CM_MODE] = mode
        new_config[_CM_MAXID] = str(len(sch["fields"]))
        actions = [_meta_action(
            json.dumps(sch, separators=(",", ":")), new_config, [])]
        if mode == "id":
            # retire the proven-zero-row staging files in the SAME
            # commit: they carry no field ids, and an id-resolving scan
            # refuses id-less files rather than guessing by name
            actions += [{"remove": {
                "path": p, "deletionTimestamp": int(time.time() * 1000),
                "dataChange": False,
            }} for p in sorted(live)]
        try:
            commit_delta(table, read_v + 1, actions)
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def rename_column_delta(table: str, old: str, new: str) -> int:
    """ALTER TABLE RENAME COLUMN — metadata-only under column mapping
    (the physical name and id never change, so ZERO parquet is
    rewritten and old change files keep resolving). Requires
    enable_column_mapping_delta first; refuses name collisions and
    columns referenced by CHECK constraints."""
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        if config.get(_CM_MODE) not in ("name", "id"):
            raise ValueError(
                "rename needs column mapping: run "
                "enable_column_mapping_delta first (renaming without a "
                "physical-name/id indirection would orphan every data file)")
        _guard_constraint_refs(config, old, "rename")
        _guard_generated_refs(schema_string, old, "rename")
        sch = json.loads(schema_string)
        names = [f["name"] for f in sch["fields"]]
        if old not in names:
            raise KeyError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for f in sch["fields"]:
            if f["name"] == old:
                f["name"] = new
        action = _meta_action(
            json.dumps(sch, separators=(",", ":")), config,
            _partition_columns(table, read_v))
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def drop_column_delta(table: str, column: str) -> int:
    """ALTER TABLE DROP COLUMN — metadata-only under column mapping:
    the field leaves the schema, the physical bytes stay (readers
    simply never project them; time travel to a pre-drop version
    still sees the column). Refuses the last column and columns
    referenced by CHECK constraints."""
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        if config.get(_CM_MODE) not in ("name", "id"):
            raise ValueError(
                "drop needs column mapping: run "
                "enable_column_mapping_delta first")
        _guard_constraint_refs(config, column, "drop")
        _guard_generated_refs(schema_string, column, "drop")
        sch = json.loads(schema_string)
        names = [f["name"] for f in sch["fields"]]
        if column not in names:
            raise KeyError(f"no column {column!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        sch["fields"] = [f for f in sch["fields"] if f["name"] != column]
        action = _meta_action(
            json.dumps(sch, separators=(",", ":")), config,
            _partition_columns(table, read_v))
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def _enforce_constraints(df: DataFrame, config: dict) -> None:
    """CHECK constraints (stored under delta.constraints.<name> in the
    table configuration, delta-spark's own key scheme): a write is
    rejected if ANY row evaluates the expression to FALSE — NULL
    passes, the SQL CHECK rule. One limit(1) job per constraint per
    write, on the batch only."""
    for key in sorted(config):
        if not key.startswith(_CONSTRAINT_PREFIX):
            continue
        expr = config[key]
        bad = df.filter(
            ~F.coalesce(F.expr(expr), F.lit(True))).limit(1).collect()
        if bad:
            raise ValueError(
                f"CHECK constraint {key[len(_CONSTRAINT_PREFIX):]!r}"
                f" ({expr}) violated, e.g. by {bad[0].asDict()}")


_GEN_KEY = "delta.generationExpression"


def _generated_exprs(schema_string: str) -> dict[str, str]:
    """{column: generation expression} from field metadata (empty when
    the table has no generated columns)."""
    fields = json.loads(schema_string)["fields"]
    return {f["name"]: (f.get("metadata") or {})[_GEN_KEY]
            for f in fields if _GEN_KEY in (f.get("metadata") or {})}


_DEFAULT_KEY = "CURRENT_DEFAULT"

# IDENTITY columns (PROTOCOL.md "Identity Columns"): delta-spark's
# public field-metadata keys. GENERATED ALWAYS semantics — explicit
# inserts refused (allowExplicitInsert=false is the only mode here).
_ID_START = "delta.identity.start"
_ID_STEP = "delta.identity.step"
_ID_HWM = "delta.identity.highWaterMark"
_ID_ALLOW = "delta.identity.allowExplicitInsert"


def _identity_specs(schema_string: str) -> dict[str, dict]:
    """{column: {start, step, hwm?}} from field metadata."""
    out: dict[str, dict] = {}
    for f in json.loads(schema_string)["fields"]:
        md = f.get("metadata") or {}
        if _ID_START in md:
            sp = {"start": int(md[_ID_START]), "step": int(md[_ID_STEP])}
            if _ID_HWM in md:
                sp["hwm"] = int(md[_ID_HWM])
            out[f["name"]] = sp
    return out


def _apply_identity(df: DataFrame,
                    specs: dict[str, dict]) -> tuple[DataFrame, dict]:
    """Assign identity values: hwm+step, hwm+2*step, … (start-based on
    a fresh table). Returns (df with identity columns, {col: new hwm}).
    Values are dense within one write — assignment order rides a
    monotonically_increasing_id made total by global_row_number's
    eager pin, so the staged files see ONE stable assignment; across
    concurrent writers uniqueness comes from the high-water-mark OCC
    conflict (a racer that moved the hwm forces a restage). Explicit
    values for an identity column are refused (GENERATED ALWAYS)."""
    if not specs:
        return df, {}
    provided = [c for c in specs if c in df.columns]
    if provided:
        raise ValueError(
            f"identity columns {provided} are GENERATED ALWAYS — "
            "writers cannot provide values")
    from postrack_spark.operators.ranking import global_row_number

    df = df.withColumn("__id_mid", F.monotonically_increasing_id())
    df = global_row_number(df, ["__id_mid"], rank_col="__id_rn")
    n = df.count()  # frame is pinned: one cheap metadata-ish action
    new_hwms: dict[str, int] = {}
    for name, sp in sorted(specs.items()):
        base = sp["hwm"] + sp["step"] if "hwm" in sp else sp["start"]
        df = df.withColumn(
            name,
            (F.lit(base) + (F.col("__id_rn") - 1) * F.lit(sp["step"]))
            .cast("long"))
        if n > 0:
            new_hwms[name] = base + sp["step"] * (n - 1)
    return df.drop("__id_mid", "__id_rn"), new_hwms


def _identity_bump_schema(schema_string: str, new_hwms: dict) -> str:
    """schemaString with each identity column's highWaterMark moved to
    its new value."""
    sch = json.loads(schema_string)
    for f in sch["fields"]:
        if f["name"] in new_hwms:
            md = dict(f.get("metadata") or {})
            md[_ID_HWM] = new_hwms[f["name"]]
            f["metadata"] = md
    return json.dumps(sch, separators=(",", ":"))


def _default_exprs(schema_string: str) -> dict[str, str]:
    """{column: default-value expression} from field metadata (the
    protocol's Default Columns writer feature: CURRENT_DEFAULT)."""
    fields = json.loads(schema_string)["fields"]
    return {f["name"]: (f.get("metadata") or {})[_DEFAULT_KEY]
            for f in fields if _DEFAULT_KEY in (f.get("metadata") or {})}


def _apply_defaults(df: DataFrame, dflt: dict[str, str],
                    schema_string: str | None = None) -> DataFrame:
    """Default Columns write contract (PROTOCOL.md "Default value
    expressions"): a defaulted column MISSING from the batch is filled
    from its expression, cast to the table's declared type; a provided
    column WINS untouched — unlike generated columns there is no
    equality validation, the default is a fill-in, not a constraint."""
    if not dflt:
        return df
    types = {}
    if schema_string:
        sch = StructType.fromJson(json.loads(schema_string))
        types = {f.name: f.dataType for f in sch.fields}
    for name, expr in sorted(dflt.items()):
        if name not in df.columns:
            col = F.expr(expr)
            if name in types:
                col = col.cast(types[name])
            df = df.withColumn(name, col)
    return df


def _apply_generated(df: DataFrame, gen: dict[str, str]) -> DataFrame:
    """Delta's generated-column write contract: a generated column
    MISSING from the batch is computed from its expression; one the
    writer provided must MATCH it on every row (null-safe equality —
    delta-spark enforces the same as an implicit CHECK), validated
    with one limit(1) job per provided column."""
    for name, expr in sorted(gen.items()):
        if name not in df.columns:
            df = df.withColumn(name, F.expr(expr))
        else:
            bad = df.filter(
                ~F.col(name).eqNullSafe(F.expr(expr))).limit(1).collect()
            if bad:
                raise ValueError(
                    f"generated column {name!r} must equal {expr},"
                    f" violated e.g. by {bad[0].asDict()}")
    return df


def write_delta(df: DataFrame, table: str, mode: str = "append",
                merge_schema: bool = False,
                partition_by: list[str] | None = None,
                generated: dict[str, str] | None = None,
                defaults: dict[str, str] | None = None,
                identity: dict[str, dict] | None = None) -> int:
    """Batch write; returns the committed version. ``overwrite``
    replaces the whole live set in one atomic commit. Writes are
    SCHEMA-ENFORCED against the table's current metaData (drift
    raises; ``merge_schema=True`` evolves by appending new nullable
    columns in the same commit) and validated against any CHECK
    constraints in the table configuration.

    ``partition_by`` on the CREATING write declares partitionColumns
    (the protocol's table-level partitioning); every file's add action
    then records its partitionValues and readers prune files from
    O(files) metadata (read_delta's partition_filter). Later writes
    inherit the table's partitioning automatically; passing a
    CONFLICTING partition_by raises (repartitioning is a rewrite, not
    a write option).

    ``generated`` on the CREATING write declares GENERATED COLUMNS
    ({name: SQL expression}, stored as delta.generationExpression
    field metadata — the protocol's writer feature): every later
    write computes a missing generated column from its expression and
    VALIDATES one the writer provided (null-safe equality, delta's
    implicit-CHECK rule). Generated columns may be partition columns
    — the classic date-derived partitioning — and the expressions
    ride schemaString through checkpoints untouched."""
    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be append|overwrite")
    os.makedirs(table, exist_ok=True)
    gated_at: tuple | None = None
    evo_action: dict | None = None
    staged_mapping: dict | None = None
    staged_ids: dict | None = None
    pcols = list(partition_by or [])
    creating = latest_version(table) is None
    if not creating:
        _l, schema_string, _v, _t, config = _replay(table, None)
        gen = _generated_exprs(schema_string)
        if generated is not None and generated != gen:
            raise ValueError(
                "generated columns are declared at table creation "
                f"(table has {gen}, write asked {generated})")
        df = _apply_generated(df, gen)
        dflt = _default_exprs(schema_string)
        if defaults is not None and defaults != dflt:
            raise ValueError(
                "column defaults are declared at table creation "
                f"(table has {dflt}, write asked {defaults})")
        df = _apply_defaults(df, dflt, schema_string)
        ids_spec = _identity_specs(schema_string)
        if identity is not None and identity != {
                k: {kk: vv for kk, vv in v.items() if kk != "hwm"}
                for k, v in ids_spec.items()}:
            raise ValueError(
                "identity columns are declared at table creation "
                f"(table has {ids_spec}, write asked {identity})")
        df, id_hwms = _apply_identity(df, ids_spec)
        if mode == "overwrite":
            _guard_append_only(config, "mode='overwrite'")
        table_pcols = _partition_columns(table)
        evo_action = _reconcile_schema(schema_string, df, merge_schema,
                                       config, table_pcols)
        _enforce_constraints(df, config)
        gated_at = (schema_string, tuple(sorted(config.items())))
        # parquet stores PHYSICAL names under column mapping; the
        # effective mapping includes any evolution-assigned names
        eff = evo_action["metaData"] if evo_action else None
        staged_mapping = _column_mapping(
            eff["schemaString"] if eff else schema_string,
            eff["configuration"] if eff else config)
        staged_ids = _cm_ids(
            eff["schemaString"] if eff else schema_string,
            eff["configuration"] if eff else config)
        if partition_by is not None and list(partition_by) != table_pcols:
            raise ValueError(
                f"table is partitioned by {table_pcols}, write asked "
                f"{list(partition_by)} — repartitioning needs a rewrite")
        pcols = table_pcols
    else:
        # compute generated columns BEFORE the partition check: the
        # classic declaration partitions by a column writers never send
        df = _apply_generated(df, generated or {})
        df = _apply_defaults(df, defaults or {})
        for name, sp in (identity or {}).items():
            if set(sp) != {"start", "step"} or int(sp["step"]) == 0:
                raise ValueError(
                    f"identity spec for {name!r} must be "
                    "{'start': int, 'step': nonzero int}")
        df, id_hwms = _apply_identity(df, identity or {})
    if pcols:
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns {missing} not in the batch")
        if staged_mapping:
            raise NotImplementedError(
                "partitioned writes on a column-mapping table are out "
                "of scope (physical-name partition dirs)")
    adds = _write_data_files(_to_physical(df, staged_mapping,
                                          staged_ids), table,
                             partition_cols=pcols)
    for attempt in range(10):
        current = latest_version(table)
        version = 0 if current is None else current + 1
        actions: list[dict] = []
        if version == 0:
            actions.append({"protocol": dict(_PROTOCOL)})
            act0 = _metadata_action(df, pcols, generated, defaults,
                                    identity)
            if id_hwms:
                act0["metaData"]["schemaString"] = _identity_bump_schema(
                    act0["metaData"]["schemaString"], id_hwms)
            actions.append(act0)
        else:
            _l, schema_string, _v, _t, config = _replay(table, None)
            now = (schema_string, tuple(sorted(config.items())))
            if now != gated_at:  # a concurrent commit moved the
                # schema/constraints under us: re-gate against it
                win_ids = _identity_specs(schema_string)
                staged_ids_spec = (_identity_specs(gated_at[0])
                                   if gated_at is not None else {})
                if win_ids != staged_ids_spec or (
                        gated_at is None and (identity or win_ids)):
                    # staged identity values were assigned under a
                    # DIFFERENT high-water mark (or a creating write
                    # lost the v0 race around an identity table) —
                    # committing them could collide; restage
                    raise DeltaCommitConflict(
                        "concurrent identity change: restage")
                win_dflt = _default_exprs(schema_string)
                staged_dflt = (_default_exprs(gated_at[0])
                               if gated_at is not None else (defaults or {}))
                if win_dflt != staged_dflt:
                    # staged parquet was filled under OTHER defaults —
                    # notably a winner declaring a NEW defaulted column
                    # the staged files simply lack
                    raise DeltaCommitConflict(
                        "concurrent default-column change: restage")
                win_gen = _generated_exprs(schema_string)
                staged_gen = (_generated_exprs(gated_at[0])
                              if gated_at is not None else (generated or {}))
                if win_gen != staged_gen:
                    # staged parquet was computed/validated under OTHER
                    # expressions (an existing-table write gated against
                    # the old schema, or a CREATING write that lost the
                    # v0 race to a winner declaring different generated
                    # columns) — committing it would violate the live
                    # declaration
                    raise DeltaCommitConflict(
                        "concurrent generated-column change: restage")
                evo_action = _reconcile_schema(
                    schema_string, df, merge_schema, config,
                    _partition_columns(table))
                _enforce_constraints(df, config)
                if mode == "overwrite":
                    # a concurrent appendOnly enablement must stop an
                    # in-flight overwrite (the gates-re-run rule)
                    _guard_append_only(config, "mode='overwrite'")
                gated_at = now
                eff = evo_action["metaData"] if evo_action else None
                if _column_mapping(
                        eff["schemaString"] if eff else schema_string,
                        eff["configuration"] if eff else config,
                ) != staged_mapping:
                    # staged parquet carries the OLD physical names —
                    # committing it under the new mapping would orphan
                    # or mislabel columns
                    raise DeltaCommitConflict(
                        "concurrent column-mapping change: restage")
                if _partition_columns(table) != pcols:
                    # staged adds carry partitionValues for the OLD
                    # layout (or none — a creating write that lost the
                    # v0 race to a partitioned creator), so a
                    # partition-filtered read would silently fail open
                    # on every such file
                    raise DeltaCommitConflict(
                        "concurrent partitioning change: restage")
            meta_act = evo_action
            if id_hwms:
                # bump the identity high-water marks in the SAME commit
                # that lands the assigned values (one metaData action,
                # full re-statement — the _meta_action rule)
                s_base = (meta_act["metaData"]["schemaString"]
                          if meta_act else schema_string)
                bumped = _identity_bump_schema(s_base, id_hwms)
                if meta_act:
                    meta_act = {"metaData": {**meta_act["metaData"],
                                             "schemaString": bumped}}
                else:
                    meta_act = _meta_action(bumped, config,
                                            _partition_columns(table))
            if meta_act is not None:
                actions.append(meta_act)
        removes: list[dict] = []
        if mode == "overwrite" and version > 0:
            paths, _, _ = _snapshot(table, None)
            removes = [{"remove": {
                "path": p, "deletionTimestamp": int(time.time() * 1000),
                "dataChange": True,
            }} for p in paths]
        rt_actions: list[dict] = []
        if version > 0 and _rt_enabled(config):
            # fresh rows get fresh ids: stamp per attempt (the high-
            # water mark moves with concurrent commits)
            rt_actions = _stamp_row_ids(table, adds, version)
        try:
            commit_delta(table, version,
                         actions + removes + adds + rt_actions)
            return version
        except DeltaCommitConflict:
            continue  # rebase: recompute version (and removes) and retry
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def add_check_constraint_delta(spark: SparkSession, table: str,
                               name: str, expr: str) -> int:
    """ALTER TABLE ADD CONSTRAINT (CHECK): validates the EXISTING rows
    first (one scan — the price delta-spark also pays, because a
    constraint that current data already violates is a lie), then
    commits a metadata-only version storing the expression under
    delta.constraints.<name>. Every subsequent write_delta /
    foreach_batch_delta batch is validated against it. Returns the
    committed version."""
    bad = read_delta(spark, table).filter(
        ~F.coalesce(F.expr(expr), F.lit(True))).limit(1).collect()
    if bad:
        raise ValueError(
            f"existing rows violate {name!r} ({expr}),"
            f" e.g. {bad[0].asDict()}")
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        new_config = dict(config)
        new_config[_CONSTRAINT_PREFIX + name] = expr
        action = _meta_action(schema_string, new_config,
                              _partition_columns(table, read_v))
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def drop_check_constraint_delta(table: str, name: str) -> int:
    """ALTER TABLE DROP CONSTRAINT — metadata-only commit without the
    key. Dropping an absent constraint raises (matching delta-spark)."""
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        key = _CONSTRAINT_PREFIX + name
        if key not in config:
            raise KeyError(f"no CHECK constraint {name!r} on {table}")
        new_config = {k: v for k, v in config.items() if k != key}
        action = _meta_action(schema_string, new_config,
                              _partition_columns(table, read_v))
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def enable_in_commit_timestamps_delta(table: str) -> int:
    """Turn on IN-COMMIT TIMESTAMPS (PROTOCOL.md writer feature):
    from this version on every commit records its own monotonic
    timestamp in a commitInfo action, and TIMESTAMP AS OF resolves
    from that instead of commit-file mtimes — the timestamps become
    part of the table's durable history, immune to storage-level
    mtime churn (backup/restore, bucket migration). Idempotent;
    returns the enabling (or current) version."""
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        if config.get(_ICT_KEY) == "true":
            return read_v
        new_config = dict(config)
        new_config[_ICT_KEY] = "true"
        new_config["delta.inCommitTimestampEnablementVersion"] = str(
            read_v + 1)
        action = _meta_action(schema_string, new_config,
                              _partition_columns(table, read_v))
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def version_at_timestamp_delta(table: str, ts_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit
    timestamp is at or before ``ts_ms``. A version's timestamp is its
    commitInfo inCommitTimestamp when present (the protocol's rule
    once the feature is enabled — versions before enablement keep
    using mtimes, exactly delta-spark's mixed-history behavior), else
    the commit file's modification time. A timestamp before the first
    commit raises; one after the last resolves to the last (the
    protocol's clamp)."""
    versions = _list_versions(table)
    if not versions:
        raise FileNotFoundError(f"no _delta_log under {table}")
    best = None
    for v in versions:
        ts = _commit_info_ict(table, v)
        if ts is None:
            ts = int(os.path.getmtime(_log_path(table, v)) * 1000)
        if ts <= ts_ms:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts_ms} precedes the first commit of {table}")
    return best


def plan_scan_delta(table: str,
                    version: int | None = None,
                    timestamp_ms: int | None = None,
                    partition_filter: dict | None = None,
                    scan_stats: dict | None = None,
                    ) -> tuple[list[tuple[str, dict]], str, dict]:
    """The log-replay PLANNING half of read_delta, shared with the
    batch DataSource lane (sources/lakehouse_ds.py pydelta) so SQL
    reads prune identically to library reads by construction — the
    Delta twin of iceberg.plan_scan_iceberg. Returns (live
    [(rel path, add action)], schema_string, config). O(files) driver
    metadata; no data file is opened.

    ``partition_filter`` ({partition column: value or list}) prunes
    FILES from the log's partitionValues metadata before any footer
    opens. Values compare as the protocol's partition STRINGS
    (str(v)); files without a recorded value fail open. Pruning is an
    OPTIMIZATION — callers still apply the row filter. ``scan_stats``
    (out-param) receives files_total / files_scanned so callers can
    certify."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError("pass version or timestamp_ms, not both")
        version = version_at_timestamp_delta(table, timestamp_ms)
    live, schema_string, _v, _txns, config = _replay(table, version)
    acts = list(live.items())
    kept = acts
    if partition_filter:
        kept = []
        for p, a in acts:
            pv = a.get("partitionValues") or {}
            pruned = False
            for col, allowed in partition_filter.items():
                if col not in pv:
                    continue  # fail open
                vals = (allowed if isinstance(allowed, (list, tuple, set))
                        else [allowed])
                if pv[col] not in {str(v) for v in vals}:
                    pruned = True
                    break
            if not pruned:
                kept.append((p, a))
    if scan_stats is not None:
        scan_stats["files_total"] = len(acts)
        scan_stats["files_scanned"] = len(kept)
    return kept, schema_string, config


def read_delta(spark: SparkSession, table: str,
               version: int | None = None,
               timestamp_ms: int | None = None,
               partition_filter: dict | None = None,
               scan_stats: dict | None = None) -> DataFrame:
    """Snapshot read (latest, or time travel to ``version``). Live
    files carrying deletion vectors read through the DV filter
    (streaming/deletion_vectors.py) — marked rows drop at scan time;
    DV-free snapshots keep the plain pushdown-friendly scan.

    Files plan through plan_scan_delta (``partition_filter`` prunes
    from partitionValues; ``scan_stats`` certifies it)."""
    acts, schema_string, config = plan_scan_delta(
        table, version=version, timestamp_ms=timestamp_ms,
        partition_filter=partition_filter, scan_stats=scan_stats)
    schema = StructType.fromJson(json.loads(schema_string))
    if not acts:
        return spark.createDataFrame([], schema)
    mapping = _column_mapping(schema_string, config)
    phys = _physical_struct(schema, mapping,
                            _cm_ids(schema_string, config))
    df = spark.read.schema(phys).parquet(
        *[os.path.join(table, p) for p, _a in acts])
    if any(a.get("deletionVector") for _p, a in acts):
        from postrack_spark.streaming.deletion_vectors import (
            dv_filter,
            load_dv_bytes,
        )

        # the DV filter needs the scan's _metadata — apply it on the
        # physical frame, project to logical names after
        df = dv_filter(df, table, load_dv_bytes(table, acts), phys)
    if not mapping:
        return df
    return df.select(*[F.col(mapping.get(f.name, f.name)).alias(f.name)
                       for f in schema.fields])


def foreach_batch_delta(table: str, mode: str = "append",
                        log_compaction_every: int | None = None):
    """foreachBatch hook: exactly-once via Delta's own idempotence rule
    — the commit embeds the batch id in a ``txn`` action (appId =
    table path), and a replayed batch whose id is <= the recorded one
    is a no-op (the streaming-sink contract delta-spark implements).

    ``log_compaction_every=N`` enables COORDINATED LOG COMPACTION
    (delta-spark's every-10-commits idiom): after a commit lands
    version v with (v+1) % N == 0, the hook writes the
    ``<v-N+1>.<v>.compacted.json`` range — so a long-running CDC
    stream keeps snapshot resolution O(checkpoint + N-bounded tail
    files) without ever pausing for a full checkpoint. Compaction is
    best-effort maintenance: a racing writer breaking the range is
    ignored (the raw commits stay authoritative)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_txn_version(table)
        if last is not None and batch_id <= last:
            return  # replay of an already-committed batch
        os.makedirs(table, exist_ok=True)
        batch_mapping: dict | None = None
        batch_ids: dict | None = None
        batch_pcols: list[str] = []
        rt_on = False
        gated_at: tuple | None = None
        if latest_version(table) is not None:
            # schema enforcement + CHECK constraints, like write_delta
            # (no evolution in the streaming hook — a drifting stream
            # should fail loudly, not mutate the table schema mid-run)
            _l, schema_string, _v, _t, config = _replay(table, None)
            if _identity_specs(schema_string):
                raise NotImplementedError(
                    "identity tables need write_delta (per-commit "
                    "high-water-mark allocation); the streaming hook "
                    "refuses rather than committing colliding ids")
            batch_df = _apply_generated(batch_df,
                                        _generated_exprs(schema_string))
            batch_df = _apply_defaults(batch_df,
                                       _default_exprs(schema_string),
                                       schema_string)
            _reconcile_schema(schema_string, batch_df, False, config)
            _enforce_constraints(batch_df, config)
            if mode == "overwrite":
                _guard_append_only(config, "streaming mode='overwrite'")
            batch_mapping = _column_mapping(schema_string, config)
            batch_ids = _cm_ids(schema_string, config)
            batch_pcols = _partition_columns(table)
            rt_on = _rt_enabled(config)
            gated_at = (schema_string, tuple(sorted(config.items())))
        adds = _write_data_files(
            _to_physical(batch_df, batch_mapping, batch_ids),
            table, partition_cols=batch_pcols)
        for _ in range(10):
            current = latest_version(table)
            version = 0 if current is None else current + 1
            actions = [{"txn": {"appId": os.path.abspath(table),
                                "version": batch_id}}]
            if version == 0:
                actions = ([{"protocol": dict(_PROTOCOL)},
                            _metadata_action(batch_df)] + actions)
            elif version > 0:
                # re-gate the config-driven guards per attempt (the
                # write_delta rule): a concurrent appendOnly or
                # row-tracking enablement must be honored by the retry
                # — stale rt_on would commit files WITHOUT baseRowId
                # onto a row-tracking table
                _l2, s_now, _v2, _t2, cfg_now = _replay(table, None)
                now = (s_now, tuple(sorted(cfg_now.items())))
                if now != gated_at:
                    # a concurrent commit moved the metadata — notably a
                    # CREATING attempt that lost the v0 race must re-run
                    # the FULL gate set against the winner's table, or
                    # logical-named / unvalidated parquet would land on
                    # a column-mapped / constrained / generated table
                    # with no enforcement at all
                    staged_gen = (_generated_exprs(gated_at[0])
                                  if gated_at is not None else {})
                    if _generated_exprs(s_now) != staged_gen:
                        raise DeltaCommitConflict(
                            "concurrent generated-column change: restage")
                    staged_dflt = (_default_exprs(gated_at[0])
                                   if gated_at is not None else {})
                    if _default_exprs(s_now) != staged_dflt:
                        raise DeltaCommitConflict(
                            "concurrent default-column change: restage")
                    if _identity_specs(s_now):
                        raise NotImplementedError(
                            "a concurrent writer made this an identity "
                            "table; the streaming hook refuses")
                    _reconcile_schema(s_now, batch_df, False, cfg_now)
                    _enforce_constraints(batch_df, cfg_now)
                    if _column_mapping(s_now, cfg_now) != batch_mapping:
                        raise DeltaCommitConflict(
                            "concurrent column-mapping change: restage")
                    if _partition_columns(table) != batch_pcols:
                        # staged adds carry partitionValues for the OLD
                        # layout (or none at all)
                        raise DeltaCommitConflict(
                            "concurrent partitioning change: restage")
                    gated_at = now
                if mode == "overwrite":
                    _guard_append_only(cfg_now, "streaming mode='overwrite'")
                rt_on = _rt_enabled(cfg_now)
            removes = []
            if mode == "overwrite" and version > 0:
                paths, _, _ = _snapshot(table, None)
                removes = [{"remove": {
                    "path": p,
                    "deletionTimestamp": int(time.time() * 1000),
                    "dataChange": True,
                }} for p in paths]
            rt_actions = (_stamp_row_ids(table, adds, version)
                          if rt_on and version > 0 else [])
            try:
                commit_delta(table, version,
                             actions + removes + adds + rt_actions)
                if (log_compaction_every
                        and (version + 1) % log_compaction_every == 0):
                    start = version - log_compaction_every + 1
                    if start >= 0:
                        try:
                            compact_log_delta(table, start=start,
                                              end=version)
                        except (FileNotFoundError, OSError):
                            pass  # a cleaned/racing range: maintenance
                            # is best-effort, commits stay authoritative
                return
            except DeltaCommitConflict:
                continue
        raise DeltaCommitConflict(f"lost 10 commit races on {table}")

    return apply_batch


def last_txn_version(table: str) -> int | None:
    """Highest streaming batch id committed to this table (txn actions
    with appId == table path), per the protocol's idempotent-writes
    rule."""
    try:
        _live, _s, _v, txns, _cfg = _replay(table, None)
    except FileNotFoundError:
        return None
    return txns.get(os.path.abspath(table))


_CDF_KEY = "delta.enableChangeDataFeed"
_CHANGE_DIR = "_change_data"


def set_table_property_delta(table: str, key: str, value: str | None) -> int:
    """Metadata-only commit updating one table property (None deletes
    it). The generic form behind enable_change_feed_delta; CHECK
    constraints keep their dedicated add/drop API (they also validate
    data)."""
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        new_config = {k: v for k, v in config.items() if k != key}
        if value is not None:
            new_config[key] = value
        action = _meta_action(schema_string, new_config,
                              _partition_columns(table, read_v))
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def enable_change_feed_delta(table: str) -> int:
    """Turn on the CHANGE DATA FEED (delta.enableChangeDataFeed, the
    delta-spark property): from this version on, row-rewriting ops
    (delete_delta / delete_keys_delta / merge_delta) also stage
    row-level change files under ``_change_data/`` in the SAME commit,
    and read_changes_delta can reconstruct per-row history across
    them. Appends never need change files — inserts are synthesized
    from their add actions at read time (delta's own rule)."""
    return set_table_property_delta(table, _CDF_KEY, "true")


def _cdf_enabled(config: dict) -> bool:
    return str(config.get(_CDF_KEY, "")).lower() == "true"


def _write_change_files(df: DataFrame, table: str) -> list[dict]:
    """Stage ``df`` (carrying _change_type) as cdc actions. Change
    files live under _change_data/ — OUTSIDE the live data set, so
    snapshot reads and vacuum never see them (the protocol's cdc
    action is dataChange=false by definition)."""
    os.makedirs(os.path.join(table, _CHANGE_DIR), exist_ok=True)
    scratch = os.path.join(table, f"_staging_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(scratch)
    actions = []
    for name in sorted(os.listdir(scratch)):
        if not name.endswith(".parquet"):
            continue
        final = os.path.join(_CHANGE_DIR, f"cdc-{uuid.uuid4().hex}.parquet")
        os.replace(os.path.join(scratch, name), os.path.join(table, final))
        actions.append({"cdc": {
            "path": final, "partitionValues": {},
            "size": os.path.getsize(os.path.join(table, final)),
            "dataChange": False,
        }})
    shutil.rmtree(scratch, ignore_errors=True)
    return actions


def read_changes_delta(spark: SparkSession, table: str,
                       from_version: int,
                       to_version: int | None = None) -> DataFrame:
    """Batch CHANGE DATA FEED read over the commit range
    [from_version, to_version]: returns the table's columns plus
    ``_change_type`` ('insert' / 'delete' / 'update_preimage' /
    'update_postimage') and ``_commit_version``. Per the protocol:
    a commit WITH cdc actions contributes exactly its change files; a
    commit without them contributes its dataChange=true adds as
    inserts (append synthesis); a commit that rewrites data
    (dataChange=true removes) WITHOUT change files raises — history
    before enable_change_feed_delta cannot be reconstructed, and
    guessing would fabricate rows.

    Contract notes for merge_delta commits: change rows are
    CHANGED-ROWS-ONLY (a batch key whose table row won against a
    stale image emits nothing — no no-op pre/post pairs), and because
    merge RETAINS op='DELETE' tombstones as table rows, a tombstone
    for a brand-new key surfaces as _change_type='insert' of that
    op='DELETE' row and a tombstone superseding a live key as an
    update to it — the feed mirrors the table's rows; consumers apply
    the same op filter they apply to the table."""
    if to_version is None:
        to_version = latest_version(table)
    _l, schema_string, _v, _t, _cfg = _replay(table, None)
    schema = StructType.fromJson(json.loads(schema_string))
    cdf_schema = StructType.fromJson(json.loads(schema_string)).add(
        "_change_type", "string")
    # change files store PHYSICAL names under column mapping — the
    # indirection is exactly what keeps pre-rename change files
    # resolving after a rename (zero rewrite)
    mapping = _column_mapping(schema_string, _cfg)
    cm_ids = _cm_ids(schema_string, _cfg)
    phys_cdf = _physical_struct(schema, mapping, cm_ids).add(
        "_change_type", "string")
    logical_cols = [F.col(mapping.get(f.name, f.name) if mapping else f.name)
                    .alias(f.name) for f in schema.fields]
    pieces = []
    for v in range(from_version, to_version + 1):
        path = _log_path(table, v)
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"commit {v} not in log (cleaned below a checkpoint?)")
        with open(path) as f:
            actions = [json.loads(ln) for ln in f if ln.strip()]
        cdc = [a["cdc"] for a in actions if "cdc" in a]
        if cdc:
            df = spark.read.schema(phys_cdf).parquet(
                *[os.path.join(table, c["path"]) for c in cdc])
            pieces.append(
                df.select(*(logical_cols + [F.col("_change_type")]))
                .withColumn("_commit_version", F.lit(v)))
            continue
        rewrites = [a for a in actions
                    if "remove" in a and a["remove"].get("dataChange", True)]
        if rewrites:
            raise ValueError(
                f"commit {v} rewrites data without change files — "
                "enable_change_feed_delta before row-rewriting ops to "
                "read changes across them")
        adds = [a["add"]["path"] for a in actions
                if "add" in a and a["add"].get("dataChange", True)]
        if adds:
            df = spark.read.schema(
                _physical_struct(schema, mapping, cm_ids)).parquet(
                *[os.path.join(table, p) for p in adds])
            pieces.append(
                df.select(*logical_cols)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v)))
    if not pieces:
        return spark.createDataFrame([], cdf_schema.add(
            "_commit_version", "int"))
    out = pieces[0]
    for df in pieces[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def compact_delta(spark: SparkSession, table: str,
                  target_files: int = 1,
                  zorder_by: tuple[str, str] | None = None) -> int:
    """OPTIMIZE-shaped bin-packing: rewrite the live set into
    ``target_files`` files and commit remove+add atomically
    (dataChange=false — readers see identical rows before and after).

    Snapshot-pinned OCC (shared by every copy-on-write op here): the
    rewrite is computed from a READ VERSION and committed at exactly
    read_version + 1 — if any other commit lands in between, the
    commit loses put-if-absent and the WHOLE rewrite recomputes from
    the new snapshot. Retrying stale actions at a later version (the
    pre-fix behavior) silently resurrects concurrently-deleted rows:
    a delete at S+1 removes file X, a compaction computed at S would
    re-add X's rows at S+2. Conservative vs delta-spark (which allows
    logically-disjoint concurrent commits through) but never wrong;
    orphaned staged files from lost attempts are unreferenced and
    vacuumable.

    ``zorder_by=(x, y)`` makes this OPTIMIZE ZORDER: the rewrite
    range-partitions on the Morton interleave of (x, y)
    (sources/layout.zorder_repartition), so each output file's footer
    stats become a tight rectangle in BOTH dimensions and the
    ``stats``-based pruned_read_delta skips most files for 2-D range
    predicates — the layout family's zone-map result delivered
    through the table format's own stats-skipping lane."""
    for _ in range(10):
        live_map, schema_string, read_v, _t, config = _replay(table, None)
        _dv_acts = list(live_map.items())
        paths = [p for p, _a in _dv_acts]
        if not paths:
            return latest_version(table) or 0
        rt = _rt_enabled(config)
        if rt:
            # OPTIMIZE must PRESERVE row ids: materialize each
            # surviving row's id into the physical column (it lives in
            # the parquet, never in the table schema; readers coalesce
            # it ahead of baseRowId + row_index)
            df = read_delta_with_row_ids(spark, table, version=read_v)
            df = df.withColumnRenamed(
                "_row_id", config.get(_RT_MAT_KEY, "_row_id"))
        else:
            df = read_delta(spark, table, version=read_v)  # logical names
        zb = zorder_by
        if zb is None:
            declared = _clustering_columns(table, read_v)
            if declared:  # the table's own layout policy drives OPTIMIZE
                zb = (declared[0], declared[1])
        if zb is not None:
            from postrack_spark.sources.layout import zorder_repartition

            df = zorder_repartition(
                df, zb[0], zb[1],
                num_partitions=target_files).drop("__z")
        else:
            df = df.coalesce(target_files)
        adds = _write_data_files(
            _to_physical(df, _column_mapping(schema_string, config),
                         _cm_ids(schema_string, config)), table,
            partition_cols=_partition_columns(table))
        for a in adds:
            a["add"]["dataChange"] = False
        removes = [{"remove": {
            "path": p, "deletionTimestamp": int(time.time() * 1000),
            "dataChange": False,
        }} for p in paths]
        rt_actions = (_stamp_row_ids(table, adds, read_v + 1) if rt else [])
        try:
            commit_delta(table, read_v + 1, removes + adds + rt_actions)
            return read_v + 1
        except DeltaCommitConflict:
            continue  # recompute from the new snapshot
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def history_delta(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE HISTORY: one row per commit still present in the JSON
    log (commits cleaned below a checkpoint are gone — the protocol's
    honest answer), synthesized from the actions themselves: version,
    timestamp (the commitInfo inCommitTimestamp when the table has the
    feature on, else commit-file mtime — the TIMESTAMP AS OF rule),
    action counts, dataChange flags, and an
    OPERATION inferred from the action shape (append / overwrite-or-
    rewrite split by dataChange / delete / metadata / txn-only).
    O(log) driver-side metadata, zero data IO."""
    rows = []
    for v in _list_versions(table):
        with open(_log_path(table, v)) as f:
            actions = [json.loads(ln) for ln in f if ln.strip()]
        n_add = sum(1 for a in actions if "add" in a)
        n_remove = sum(1 for a in actions if "remove" in a)
        n_cdc = sum(1 for a in actions if "cdc" in a)
        # domainMetadata-only commits (set_clustering_delta, row-
        # tracking hwm writers) are real metadata operations — classify
        # them as SET_METADATA, not EMPTY
        has_meta = any("metaData" in a or "domainMetadata" in a
                       for a in actions)
        has_txn = any("txn" in a for a in actions)
        data_change = any(
            a.get("add", {}).get("dataChange", False)
            or a.get("remove", {}).get("dataChange", False)
            for a in actions)
        if n_add and n_remove and not data_change:
            op = "OPTIMIZE"
        elif n_add and n_remove:
            op = "MERGE_OR_OVERWRITE"
        elif n_add:
            op = "WRITE"
        elif n_remove:
            op = "DELETE"
        elif has_meta:
            op = "SET_METADATA"
        else:
            op = "TXN" if has_txn else "EMPTY"
        ts = next((a["commitInfo"].get("inCommitTimestamp")
                   for a in actions if "commitInfo" in a), None)
        if ts is None:
            ts = int(os.path.getmtime(_log_path(table, v)) * 1000)
        rows.append((v, ts,
                     op, n_add, n_remove, n_cdc, has_meta, has_txn,
                     data_change))
    return spark.createDataFrame(
        rows, "version long, timestamp_ms long, operation string,"
              " n_add long, n_remove long, n_cdc long,"
              " metadata_changed boolean, has_txn boolean,"
              " data_change boolean")


def vacuum_delta(table: str, retain_versions: int = 2,
                 dry_run: bool = False) -> list[str]:
    """Delete data files unreferenced by the last ``retain_versions``
    snapshots (the protocol's retention rule, version- rather than
    clock-based for determinism in tests). ``dry_run=True`` returns
    the would-delete list WITHOUT removing anything — delta-spark's
    VACUUM DRY RUN, the answer every operator wants before the first
    real vacuum of a production table. Returns (would-be) deleted
    paths."""
    versions = _list_versions(table)
    cp = _read_last_checkpoint(table)
    if cp is not None:
        versions = sorted(set(versions) | {cp})  # cp may be the only snapshot
    keep = versions[-retain_versions:] if retain_versions else versions[-1:]
    referenced: set[str] = set()
    for v in keep:
        acts, _, _ = _snapshot_actions(table, v)
        for p, a in acts:
            referenced.add(p)
            dv = a.get("deletionVector")
            if dv:
                referenced.add(dv["pathOrInlineDv"])
    deleted = []
    for name in os.listdir(table):
        is_data = name.endswith(".parquet")
        is_dv = name.startswith("dv-") and name.endswith(".bin")
        if (is_data or is_dv) and name not in referenced:
            if not dry_run:
                os.remove(os.path.join(table, name))
            deleted.append(name)
    return deleted


def _action_keys_for(table: str, action_paths: list[str],
                     affected_fps: list[str]) -> list[str]:
    """Map scan-reported file URIs back to their LOG ACTION KEYS — the
    exact path strings adds committed and removes must repeat. Keys
    are table-relative for ordinary tables but ABSOLUTE for shallow
    clones (clone_delta references source files by absolute path);
    normpath(join(table, key)) canonicalizes both, so COW writers stay
    correct on clones (a relpath-based remove would emit '../…' and
    never pop the absolute-keyed live entry — the deleted file would
    silently resurrect)."""

    def _local(fp: str) -> str:
        # _metadata.file_path is a URI ("file:/tmp/.." or "file:///..")
        if fp.startswith("file:"):
            fp = fp[len("file:"):]
            while fp.startswith("//"):
                fp = fp[1:]
        return fp

    by_abs = {os.path.normpath(os.path.join(table, p)): p
              for p in action_paths}
    return sorted(by_abs[os.path.normpath(_local(fp))]
                  for fp in affected_fps)


def clone_delta(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE (the Delta CLONE command's zero-copy form): ``dst``
    becomes a full Delta table whose version-0 commit references the
    SOURCE snapshot's data files by ABSOLUTE path — no byte of data is
    copied, the clone is O(metadata). From then on the tables evolve
    independently: writes/deletes/merges on the clone land files in
    the CLONE's directory and remove-by-reference the absolute source
    paths; the source never sees any of it. DV descriptors are carried
    verbatim with their paths absolutized, so a clone of a MOR state
    reads identically.

    The dev/test workflow this unlocks at 100 TB: clone production,
    run a destructive experiment against the clone, drop it — total
    cost O(experiment's own writes). Two honesty notes, both matching
    delta-spark's documented behavior: vacuum on the CLONE only ever
    removes clone-local files (absolute source paths are not under the
    clone root, and vacuum walks the clone root); vacuum on the SOURCE
    can remove files a shallow clone still references — clones are
    scoped to the source's retention window. Returns the clone's
    committed version (always 0)."""
    live, schema_string, src_v, _txns, src_config = _replay(src, version)
    acts = list(live.items())
    if latest_version(dst) is not None:
        raise FileExistsError(f"{dst} is already a delta table")
    src_abs = os.path.abspath(src)
    os.makedirs(dst, exist_ok=True)
    actions: list[dict] = [
        # the SOURCE's protocol carries (a features-protocol table's
        # clone needs the same reader gate)
        {"protocol": _current_protocol(src, src_v)},
        # CLONE carries table properties and partitioning (delta's
        # rule) — without the configuration a clone of a column-mapped
        # table would scan logical names against physical-named parquet
        _meta_action(schema_string, src_config,
                     _partition_columns(src, src_v)),
    ]
    # domain metadata rides too: without the delta.rowTracking high-
    # water mark a clone of a row-tracking table would restart id
    # assignment at 0 and collide with the cloned files' baseRowIds
    actions += [{"domainMetadata": {
        "domain": d, "configuration": c, "removed": False,
    }} for d, c in sorted(_domain_configs(src, src_v).items())]
    for p, a in sorted(acts, key=lambda pa: pa[0]):
        add = dict(a)
        add["path"] = os.path.join(src_abs, p)
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "p":
            dv = dict(dv)
            dv["pathOrInlineDv"] = os.path.join(
                src_abs, dv["pathOrInlineDv"])
            add["deletionVector"] = dv
        actions.append({"add": add})
    commit_delta(dst, 0, actions)
    return 0


def restore_delta(table: str, version: int) -> int:
    """RESTORE TABLE ... VERSION AS OF — make the CURRENT state equal
    the snapshot at ``version`` by committing a NEW version (the
    protocol's roll-forward rule: history is append-only, so restore
    never rewinds the log — time travel still sees every version,
    including the bad ones being undone; that is what makes restore
    itself auditable and restorable).

    The diff is computed at the FILE level, O(live files) metadata and
    zero data IO: re-ADD files live at the target but not now — with
    their ORIGINAL add actions, so per-file stats AND deletionVector
    descriptors ride along (restoring across a DV delete revives
    exactly the DV-filtered view, not the raw file) — and REMOVE files
    live now but absent at the target. A file live in both whose
    action changed (e.g. a DV stacked onto it since) re-adds with the
    target's action: add replaces the live entry on replay. Every
    restored data/DV file is existence-checked BEFORE the commit —
    restoring past a vacuum horizon raises instead of committing a
    snapshot with holes. Snapshot-pinned OCC like every COW op.
    Returns the committed version (read version if already equal)."""
    target_live, target_schema, _tv, _txns, target_config = _replay(
        table, version)
    target = dict(target_live)
    missing = [p for p in target
               if not os.path.exists(os.path.join(table, p))]
    for p, a in target.items():
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") == "p" and not os.path.exists(
                os.path.join(table, dv["pathOrInlineDv"])):
            missing.append(dv["pathOrInlineDv"])
    if missing:
        raise FileNotFoundError(
            f"restore to version {version} needs vacuumed files: "
            f"{sorted(missing)[:5]}{'...' if len(missing) > 5 else ''}")
    for _ in range(10):  # snapshot-pinned OCC — see compact_delta
        cur_live, cur_schema, read_v, _ctxns, cur_config = _replay(
            table, None)
        _guard_append_only(cur_config, "restore_delta")
        cur = dict(cur_live)
        adds = [{"add": a} for p, a in sorted(target.items())
                if cur.get(p) != a]
        removes = [{"remove": {
            "path": p, "deletionTimestamp": int(time.time() * 1000),
            "dataChange": True,
        }} for p in sorted(cur) if p not in target]
        actions: list[dict] = []
        # metaData restores the TARGET's schema AND configuration
        # (delta-spark RESTORE semantics: the whole snapshot comes
        # back, not just the file set). Emitting configuration:{}
        # here used to silently erase CHECK constraints and the CDF
        # flag across a schema-changing restore (ADVICE r6).
        if target_schema != cur_schema or target_config != cur_config:
            actions.append({"metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": target_schema,
                "partitionColumns": _partition_columns(table, version),
                "configuration": dict(target_config),
                "createdTime": int(time.time() * 1000),
            }})
        actions += adds + removes
        if not actions:
            return read_v  # already at the target state
        try:
            commit_delta(table, read_v + 1, actions)
            return read_v + 1
        except DeltaCommitConflict:
            continue  # recompute the diff against the new snapshot
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def merge_delta(spark: SparkSession, table: str, images: DataFrame,
                key_col: str, order_col: str) -> int:
    """Copy-on-write MERGE — the lakehouse CDC-upsert pattern: fold a
    batch of change images (rows carrying ``key_col``, an ``order_col``
    deciding recency, and whatever payload — including op='DELETE'
    tombstones as ordinary rows) into the table, rewriting ONLY the
    data files that contain an affected key.

    Per-key winner is max_by(order_col) across the affected files' rows
    plus the batch — so merges are ORDER-INSENSITIVE across batches
    (the foreach_batch_apply_changes rule: the order column decides,
    not arrival). Tombstones are RETAINED as rows: dropping a key
    outright would let a later batch with an older image resurrect it;
    readers filter op='DELETE' (exactly the apply_changes contract,
    cdc/materialize.py).

    Scale: the driver touches only the metadata file list; matching is
    one semi-join of live data against the (broadcast) batch keys using
    the scan's ``_metadata.file_path``; rewrite cost is proportional to
    AFFECTED files, never table size. Returns the committed version.
    """
    if latest_version(table) is None:
        write_delta(images, table, mode="append")
        return 0
    _l0, schema0, _v0, _t0, _c0 = _replay(table, None)
    # generated columns: compute-or-validate batch images like any
    # other write (expressions are creation-frozen, so once is enough)
    images = _apply_generated(images, _generated_exprs(schema0))
    for _ in range(10):  # snapshot-pinned OCC — see compact_delta
        live_map, schema_string, read_v, _t, config = _replay(table, None)
        _guard_append_only(config, "a row-deleting rewrite")
        _guard_row_tracking(config, "a copy-on-write rewrite")
        _dv_acts = list(live_map.items())
        paths = [p for p, _a in _dv_acts]
        mapping = _column_mapping(schema_string, config)
        cm_ids = _cm_ids(schema_string, config)
        live = _scan_logical(
            spark, table, paths, schema_string, config,
            extra_cols=[F.col("_metadata.file_path").alias("_fp")])
        keys = images.select(key_col).distinct()
        affected_fps = [
            r["_fp"]
            for r in live.join(F.broadcast(keys), key_col, "left_semi")
            .select("_fp").distinct().collect()
        ]  # metadata-sized (file list), not a data-path collect

        rel_affected = set(_action_keys_for(table, paths, affected_fps))
        from postrack_spark.streaming.deletion_vectors import guard_no_dvs

        guard_no_dvs(_dv_acts, sorted(rel_affected), "merge_delta")
        survivors = None
        if rel_affected:
            survivors = _scan_logical(
                spark, table, sorted(rel_affected), schema_string, config)
        merged = images if survivors is None else survivors.unionByName(images)
        cols = [c for c in merged.columns if c != key_col]
        winner = merged.groupBy(key_col).agg(
            F.max_by(F.struct(*cols), order_col).alias("_w"))
        flat = winner.select(key_col,
                             *[F.col(f"_w.{c}").alias(c) for c in cols])
        adds = _write_data_files(_to_physical(flat, mapping, cm_ids), table,
                                 partition_cols=_partition_columns(table))
        cdc_actions: list[dict] = []
        if _cdf_enabled(config):
            # change rows for the BATCH's keys only (unchanged keys in
            # affected files are rewritten bytes, not logical changes):
            # existing keys emit update_preimage (every old row — a
            # stated simplification when history kept several) +
            # update_postimage (the winner); brand-new keys emit insert
            keyset = images.select(key_col).distinct()
            old_rows = (survivors.join(F.broadcast(keyset), key_col,
                                       "left_semi")
                        if survivors is not None else None)
            if old_rows is not None:
                old_keys = old_rows.select(key_col).distinct()
                post_cand = flat.join(
                    F.broadcast(keyset), key_col, "left_semi"
                ).join(F.broadcast(old_keys), key_col, "left_semi")
                # changed-rows-only (the delta-spark CDF contract,
                # ADVICE r6): a key whose TABLE row won against a
                # stale batch image is rewritten bytes, not a logical
                # change — emitting pre+post for it would make the
                # feed claim updates that never happened. A key is
                # changed iff some old row differs from the winner
                # (null-safe, all columns); multiple old rows
                # collapsing into one winner count as changed.
                all_cols = [key_col] + cols
                eq = None
                for c in all_cols:
                    term = old_rows[c].eqNullSafe(post_cand[c])
                    eq = term if eq is None else (eq & term)
                changed_keys = (old_rows.join(F.broadcast(post_cand), eq,
                                              "left_anti")
                                .select(key_col).distinct())
                pre = old_rows.join(
                    F.broadcast(changed_keys), key_col, "left_semi"
                ).withColumn("_change_type", F.lit("update_preimage"))
                post = post_cand.join(
                    F.broadcast(changed_keys), key_col, "left_semi"
                ).withColumn("_change_type", F.lit("update_postimage"))
                ins = flat.join(F.broadcast(keyset), key_col, "left_semi"
                                ).join(F.broadcast(old_keys), key_col,
                                       "left_anti").withColumn(
                    "_change_type", F.lit("insert"))
                changes = pre.unionByName(post).unionByName(ins)
            else:
                changes = flat.withColumn("_change_type", F.lit("insert"))
            cdc_actions = _write_change_files(
                _to_physical(changes, mapping, cm_ids), table)
        removes = [{"remove": {
            "path": p, "deletionTimestamp": int(time.time() * 1000),
            "dataChange": True,
        }} for p in sorted(rel_affected)]
        try:
            commit_delta(table, read_v + 1, removes + adds + cdc_actions)
            return read_v + 1
        except DeltaCommitConflict:
            continue  # recompute winners from the new snapshot
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def delete_delta(spark: SparkSession, table: str,
                 condition: str) -> tuple[int, int, int]:
    """Copy-on-write DELETE WHERE — the lakehouse point-delete next to
    merge_delta's CDC fold: physically remove the rows matching
    ``condition`` (a SQL boolean expression over the table's columns),
    rewriting ONLY the data files that contain a match. Returns
    (committed version, files_rewritten, files_total).

    Semantics are SQL DELETE: a row is removed iff the predicate is
    TRUE — NULL-evaluating rows SURVIVE (the filter keeps
    ``NOT coalesce(cond, false)``). Unlike merge_delta's retained
    op='DELETE' tombstones (which defend CDC folds against late stale
    images), a user DELETE is a state transition at a log version:
    time travel to the prior version still sees the rows, replay-safety
    comes from the log itself, and no tombstone rows are needed.

    Scale: affected-file detection is one predicate-pushdown scan
    projecting only ``_metadata.file_path`` (parquet row-group stats
    already skip non-matching groups); the rewrite reads and writes
    only affected files, so cost is proportional to matches' file
    locality, never table size — the reason engines Z-order before
    bulk GDPR deletes (layout family)."""
    for _ in range(10):  # snapshot-pinned OCC — see compact_delta
        live_map, schema_string, read_v, _t, config = _replay(table, None)
        _guard_append_only(config, "a row-deleting rewrite")
        _guard_row_tracking(config, "a copy-on-write rewrite")
        _dv_acts = list(live_map.items())
        paths = [p for p, _a in _dv_acts]
        mapping = _column_mapping(schema_string, config)
        cm_ids = _cm_ids(schema_string, config)
        live = _scan_logical(
            spark, table, paths, schema_string, config,
            extra_cols=[F.col("_metadata.file_path").alias("_fp")])
        cond = F.coalesce(F.expr(condition), F.lit(False))
        affected_fps = [
            r["_fp"]
            for r in live.filter(cond).select("_fp").distinct().collect()
        ]  # metadata-sized (file list), not a data-path collect

        rel_affected = _action_keys_for(table, paths, affected_fps)
        from postrack_spark.streaming.deletion_vectors import guard_no_dvs

        guard_no_dvs(_dv_acts, rel_affected, "delete_delta")
        if not rel_affected:
            return latest_version(table) or 0, 0, len(paths)
        affected_full = _scan_logical(
            spark, table, list(rel_affected), schema_string, config)
        survivors = affected_full.filter(
            ~F.coalesce(F.expr(condition), F.lit(False)))
        adds = _write_data_files(_to_physical(survivors, mapping, cm_ids), table,
                                 partition_cols=_partition_columns(table))
        cdc_actions: list[dict] = []
        if _cdf_enabled(config):
            # the CHANGE FEED rides in the SAME commit: the matched
            # rows, tagged 'delete', staged under _change_data/
            cdc_actions = _write_change_files(
                _to_physical(
                    affected_full.filter(
                        F.coalesce(F.expr(condition), F.lit(False))
                    ).withColumn("_change_type", F.lit("delete")),
                    mapping, cm_ids), table)
        removes = [{"remove": {
            "path": p, "deletionTimestamp": int(time.time() * 1000),
            "dataChange": True,
        }} for p in rel_affected]
        try:
            commit_delta(table, read_v + 1, removes + adds + cdc_actions)
            return read_v + 1, len(rel_affected), len(paths)
        except DeltaCommitConflict:
            continue  # recompute matches from the new snapshot
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def delete_keys_delta(spark: SparkSession, table: str, keys: DataFrame,
                      key_col: str) -> tuple[int, int, int]:
    """Copy-on-write DELETE by key set — the GDPR-purge shape
    (cdc_forget_keys_purge's lakehouse sibling): physically remove
    every row whose ``key_col`` appears in ``keys``, rewriting only the
    files that contain one. The key frame is BROADCAST into a semi-join
    for affected-file detection and an anti-join for the survivor
    rewrite, so a purge batch of any realistic size (forget requests
    are human-scale) costs one pushdown scan + affected-file rewrite.
    Returns (version, files_rewritten, files_total); an empty or
    non-matching key set commits nothing."""
    for _ in range(10):  # snapshot-pinned OCC — see compact_delta
        live_map, schema_string, read_v, _t, config = _replay(table, None)
        _guard_append_only(config, "a row-deleting rewrite")
        _guard_row_tracking(config, "a copy-on-write rewrite")
        _dv_acts = list(live_map.items())
        paths = [p for p, _a in _dv_acts]
        mapping = _column_mapping(schema_string, config)
        cm_ids = _cm_ids(schema_string, config)
        live = _scan_logical(
            spark, table, paths, schema_string, config,
            extra_cols=[F.col("_metadata.file_path").alias("_fp")])
        kdf = keys.select(key_col).distinct()
        affected_fps = [
            r["_fp"]
            for r in live.join(F.broadcast(kdf), key_col, "left_semi")
            .select("_fp").distinct().collect()
        ]  # metadata-sized (file list), not a data-path collect

        rel_affected = _action_keys_for(table, paths, affected_fps)
        from postrack_spark.streaming.deletion_vectors import guard_no_dvs

        guard_no_dvs(_dv_acts, rel_affected, "delete_keys_delta")
        if not rel_affected:
            return latest_version(table) or 0, 0, len(paths)
        affected_full = _scan_logical(
            spark, table, list(rel_affected), schema_string, config)
        survivors = affected_full.join(F.broadcast(kdf), key_col, "left_anti")
        adds = _write_data_files(_to_physical(survivors, mapping, cm_ids), table,
                                 partition_cols=_partition_columns(table))
        cdc_actions: list[dict] = []
        if _cdf_enabled(config):
            cdc_actions = _write_change_files(
                _to_physical(
                    affected_full.join(F.broadcast(kdf), key_col,
                                       "left_semi")
                    .withColumn("_change_type", F.lit("delete")),
                    mapping, cm_ids), table)
        removes = [{"remove": {
            "path": p, "deletionTimestamp": int(time.time() * 1000),
            "dataChange": True,
        }} for p in rel_affected]
        try:
            commit_delta(table, read_v + 1, removes + adds + cdc_actions)
            return read_v + 1, len(rel_affected), len(paths)
        except DeltaCommitConflict:
            continue  # recompute matches from the new snapshot
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def foreach_batch_delta_delete(table: str, key_col: str):
    """foreachBatch hook: streaming GDPR purge — each micro-batch is a
    set of forget keys to DELETE from ``table``. Same txn-action
    idempotence as foreach_batch_delta (replayed batches are no-ops;
    the marker rides in a metadata-only follow-up commit because
    delete_keys_delta commits data actions itself, the merge pattern).
    Deletion is idempotent by nature, so the crash window between the
    data commit and the marker commit is at-least-once with identical
    effect — the foreach_batch_delta_merge argument verbatim."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_txn_version(table)
        if last is not None and batch_id <= last:
            return
        spark = batch_df.sparkSession
        version, _rw, _tot = delete_keys_delta(spark, table, batch_df, key_col)
        _append_txn(table, version, batch_id)

    return apply_batch


def foreach_batch_delta_merge(table: str, key_col: str, order_col: str):
    """foreachBatch hook: per-batch copy-on-write MERGE with the same
    txn-action idempotence as foreach_batch_delta. Replays are skipped;
    cross-batch conflicts resolve by ``order_col``, so admission order
    cannot change the final table."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_txn_version(table)
        if last is not None and batch_id <= last:
            return
        spark = batch_df.sparkSession
        # fold the batch to one image per key first (cheap pre-shrink)
        cols = [c for c in batch_df.columns if c != key_col]
        folded = batch_df.groupBy(key_col).agg(
            F.max_by(F.struct(*cols), order_col).alias("_w"))
        folded = folded.select(
            key_col, *[F.col(f"_w.{c}").alias(c) for c in cols])
        version = merge_delta(spark, table, folded, key_col, order_col)
        # stamp the txn action onto the just-committed version
        _append_txn(table, version, batch_id)

    return apply_batch


def _append_txn(table: str, version: int, batch_id: int) -> None:
    """Record the streaming txn action for ``version``. merge_delta
    commits data actions itself, so the txn marker rides in a
    metadata-only follow-up commit (allowed by the protocol; readers
    ignore txn actions)."""
    for _ in range(10):
        current = latest_version(table)
        v = (current or 0) + 1
        try:
            commit_delta(table, v, [{"txn": {
                "appId": os.path.abspath(table), "version": batch_id}}])
            return
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


# ---------------------------------------------------------------------------
# ROW TRACKING (PROTOCOL.md "Row Tracking"): every row gets a STABLE
# 64-bit id. Fresh rows get "fresh" ids — the add action's baseRowId
# plus the row's physical position in its file — with the table-wide
# high-water mark carried in a domainMetadata action under the
# delta.rowTracking domain (the protocol's own mechanism; replayed
# newest-wins per domain and carried through checkpoints). Rewrites
# that must PRESERVE ids (OPTIMIZE) materialize them into a physical
# column (delta.rowTracking.materializedRowIdColumnName) that lives
# in the parquet but never in the table schema; readers resolve
# coalesce(materialized, baseRowId + row_index). Deletion-vector
# deletes never rewrite files, so ids survive them for free — the
# MOR synergy row tracking exists for. Copy-on-write merge/delete
# are REFUSED on row-tracking tables (they would need per-survivor
# materialization): use the DV path, then compact. At 100 TB the id
# assignment is O(files) driver metadata (numRecords from the stats
# already in each add action) and id resolution ships an O(files)
# descriptor map with the scan task — no join, no shuffle.

_RT_KEY = "delta.enableRowTracking"
_RT_MAT_KEY = "delta.rowTracking.materializedRowIdColumnName"
_RT_DOMAIN = "delta.rowTracking"


def _rt_enabled(config: dict) -> bool:
    return str((config or {}).get(_RT_KEY, "")).lower() == "true"


def _domain_configs(table: str, version: int | None = None) -> dict[str, str]:
    """Newest non-removed domainMetadata configuration per domain at
    ``version`` — checkpoint-seeded like _partition_columns (kept out
    of _replay's widely-shared tuple on purpose)."""
    newest = latest_version(table)
    if newest is None:
        return {}
    if version is None:
        version = newest
    domains: dict[str, str] = {}
    start = 0
    cp = _read_last_checkpoint(table)
    if cp is not None and cp <= version:
        import pyarrow.parquet as pq

        rows = []
        try:
            for path in _checkpoint_files(table, cp):
                rows.extend(pq.read_table(
                    path, columns=["domainMetadata"]).to_pylist())
        except Exception:  # pre-domain checkpoints lack the column
            rows = []
        for row in rows:
            dm = row.get("domainMetadata")
            if dm and dm.get("domain"):
                if dm.get("removed"):
                    domains.pop(dm["domain"], None)
                else:
                    domains[dm["domain"]] = dm.get("configuration") or ""
        start = cp + 1
    for a in _tail_actions(table, start, version):
        dm = a.get("domainMetadata")
        if dm and dm.get("domain"):
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration") or ""
    return domains


def _row_id_high_water_mark(table: str, version: int | None = None) -> int:
    cfg = _domain_configs(table, version).get(_RT_DOMAIN)
    if not cfg:
        return -1
    return int(json.loads(cfg).get("rowIdHighWaterMark", -1))


def _add_num_records(table: str, add: dict) -> int:
    st = add.get("stats")
    if st:
        try:
            return int(json.loads(st)["numRecords"])
        except (ValueError, KeyError, TypeError):
            pass
    import pyarrow.parquet as pq

    return pq.ParquetFile(
        os.path.join(table, add["path"])).metadata.num_rows


def _stamp_row_ids(table: str, adds: list[dict],
                   commit_version: int) -> list[dict]:
    """Assign baseRowId + defaultRowCommitVersion to fresh add actions
    and return the domainMetadata action advancing the high-water
    mark. Called INSIDE OCC loops (the mark moves with concurrent
    commits); idempotent — re-stamps from the current mark each
    attempt."""
    hwm = _row_id_high_water_mark(table)
    for a in adds:
        add = a["add"]
        n = _add_num_records(table, add)
        add["baseRowId"] = hwm + 1
        add["defaultRowCommitVersion"] = commit_version
        hwm += n
    return [{"domainMetadata": {
        "domain": _RT_DOMAIN,
        "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
        "removed": False,
    }}]


_APPEND_ONLY_KEY = "delta.appendOnly"


def _guard_append_only(config: dict, op: str) -> None:
    """delta.appendOnly=true (the protocol's table property): any
    operation that would remove live data is refused — appends and
    OPTIMIZE (dataChange=false rewrites) stay legal. The property an
    audit-log or CDC-archive table sets so no pipeline can destroy
    history."""
    if str((config or {}).get(_APPEND_ONLY_KEY, "")).lower() == "true":
        raise ValueError(
            f"{op} is not allowed: table is delta.appendOnly=true "
            "(unset the property first if this is intentional)")


def _guard_row_tracking(config: dict, op: str) -> None:
    if _rt_enabled(config):
        raise NotImplementedError(
            f"{op} on a row-tracking table is out of scope: a "
            "copy-on-write rewrite would need to materialize the id of "
            "every surviving row — use the deletion-vector path "
            "(delete_delta_dv / delete_keys_delta_dv), which preserves "
            "ids by never rewriting files, then compact_delta (which "
            "materializes)")


def enable_row_tracking_delta(table: str) -> int:
    """Turn on ROW TRACKING: one commit that (1) sets the feature +
    materialized-column-name properties, (2) BACKFILLS every live file
    with a baseRowId (dataChange=false re-adds — zero data IO, the
    protocol's backfill shape), and (3) records the row-id high-water
    mark in the delta.rowTracking domainMetadata. Idempotent."""
    for _ in range(10):
        live, schema_string, read_v, _t, config = _replay(table, None)
        if _rt_enabled(config):
            return read_v
        names = [f["name"] for f in json.loads(schema_string)["fields"]]
        if "_row_id" in names:
            raise ValueError(
                "table already has a _row_id column — the materialized "
                "row-id name would collide")
        version = read_v + 1
        new_config = dict(config)
        new_config[_RT_KEY] = "true"
        new_config[_RT_MAT_KEY] = "_row_id"
        actions: list[dict] = [_meta_action(
            schema_string, new_config, _partition_columns(table, read_v))]
        hwm = -1
        for p in sorted(live):
            add = dict(live[p])
            n = _add_num_records(table, add)
            add["baseRowId"] = hwm + 1
            add["defaultRowCommitVersion"] = version
            add["dataChange"] = False
            hwm += n
            actions.append({"add": add})
        actions.append({"domainMetadata": {
            "domain": _RT_DOMAIN,
            "configuration": json.dumps({"rowIdHighWaterMark": hwm}),
            "removed": False,
        }})
        try:
            commit_delta(table, version, actions)
            return version
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


# latest broadcast of (baseRowId map, DV payloads) per table root:
# repeated id-resolving reads of one snapshot reuse ONE broadcast, and
# a new snapshot REPLACES the entry (dropping our reference lets
# Spark's context cleaner reclaim it once no DataFrame still holds it
# — an eager destroy would break live frames' recompute).
_RT_BC_CACHE: dict = {}


def read_delta_with_row_ids(spark: SparkSession, table: str,
                            version: int | None = None) -> DataFrame:
    """Snapshot read plus a ``_row_id`` column:
    coalesce(materialized id, baseRowId + physical row_index), with
    deletion vectors applied in the same Arrow-batched pass (a DV'd
    row disappears; every survivor keeps the id it was born with).
    The per-file descriptor maps (baseRowId, DV payload) are a
    BROADCAST — O(files) metadata shipped once per executor, not once
    per task — and the pass is fully vectorized (numpy isin for the DV
    mask, per-file-group base+row_index fill), VERDICT r7 finding 1:
    the old per-row Python loop cost a measured 1.3× over a plain
    scan; this one is columnar end to end."""
    from pyspark.sql.types import LongType, StructField

    from postrack_spark.streaming.deletion_vectors import (
        RoaringArray64,
        _local_path,
        load_dv_bytes,
    )

    live, schema_string, _v, _t, config = _replay(table, version)
    if not _rt_enabled(config):
        raise ValueError(f"row tracking is not enabled on {table}")
    acts = list(live.items())
    schema = StructType.fromJson(json.loads(schema_string))
    logical_out = StructType(
        list(schema.fields) + [StructField("_row_id", LongType(), False)])
    if not acts:
        return spark.createDataFrame([], logical_out)
    mat = config.get(_RT_MAT_KEY, "_row_id")
    mapping = _column_mapping(schema_string, config)
    phys = _physical_struct(schema, mapping,
                            _cm_ids(schema_string, config))
    scan_schema = StructType(
        list(phys.fields) + [StructField(mat, LongType(), True)])
    out_schema = StructType(
        list(phys.fields) + [StructField("_row_id", LongType(), False)])
    root = os.path.abspath(table)
    base_map = {os.path.normpath(os.path.join(root, p)): a.get("baseRowId")
                for p, a in acts}
    dv_bytes = {os.path.normpath(os.path.join(root, k)): v
                for k, v in load_dv_bytes(table, acts).items()}
    # descriptor maps grow with the table's file count: broadcast once
    # per executor instead of riding every task closure; cached per
    # (session, resolved version) so repeated reads don't leak one
    # broadcast per call
    bc_key = (id(spark), _v, len(acts))
    cached = _RT_BC_CACHE.get(root)
    if cached is not None and cached[0] == bc_key:
        bc = cached[1]
    else:
        bc = spark.sparkContext.broadcast((base_map, dv_bytes))
        _RT_BC_CACHE[root] = (bc_key, bc)
    df = spark.read.schema(scan_schema).parquet(
        *[os.path.join(table, p) for p, _a in acts])
    phys_cols = [f.name for f in phys.fields]
    tagged = df.select(
        *phys_cols,
        F.col(mat).alias("_mat"),
        F.col("_metadata.file_path").alias("_fp"),
        F.col("_metadata.row_index").alias("_ri"),
    )

    def fn(batches):
        import numpy as _np
        import pandas as _pd

        b_map, d_bytes = bc.value
        # rel -> (sorted dead-position array | None, baseRowId | None)
        cache: dict = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ri = pdf["_ri"].to_numpy(dtype="int64")
            m = pdf["_mat"]
            isna = m.isna().to_numpy()
            ids = _np.empty(n, dtype="int64")
            if (~isna).any():
                ids[~isna] = m[~isna].to_numpy(dtype="int64")
            keep = _np.ones(n, dtype=bool)
            codes, uniques = _pd.factorize(pdf["_fp"], sort=False)
            for ui, fp in enumerate(uniques):
                rel = _local_path(fp)
                entry = cache.get(rel)
                if entry is None:
                    raw = d_bytes.get(rel)
                    dead = (_np.asarray(
                        RoaringArray64.deserialize(raw, 4).values(),
                        dtype="int64") if raw is not None else None)
                    entry = (dead, b_map.get(rel))
                    cache[rel] = entry
                dead, base = entry
                grp = codes == ui
                if dead is not None and dead.size:
                    keep[grp] = keep[grp] & ~_np.isin(ri[grp], dead)
                need = grp & isna
                if need.any():
                    if base is None:
                        raise ValueError(
                            f"row tracking: no baseRowId for {rel} "
                            "(file added before enablement?)")
                    ids[need] = int(base) + ri[need]
            out = pdf.loc[keep, phys_cols].copy()
            out["_row_id"] = ids[keep]
            yield out

    got = tagged.mapInPandas(fn, out_schema)
    cols = [F.col(mapping.get(f.name, f.name) if mapping else f.name)
            .alias(f.name) for f in schema.fields]
    return got.select(*(cols + [F.col("_row_id")]))


# ---------------------------------------------------------------------------
# DECLARED CLUSTERING (the liquid-clustering metadata shape): the
# table OWNS its layout policy — clustering columns live in a
# delta.clustering domainMetadata, and OPTIMIZE applies the Z-order
# rewrite on them without every maintenance pipeline re-stating the
# layout. At 100 TB the point is organizational as much as physical:
# N jobs call compact_delta(table) and none of them can cluster the
# table the wrong way, because the policy is table metadata.

_CLUSTERING_DOMAIN = "delta.clustering"


def _clustering_columns(table: str,
                        version: int | None = None) -> list[str] | None:
    cfg = _domain_configs(table, version).get(_CLUSTERING_DOMAIN)
    if not cfg:
        return None
    cols = [c[0] for c in json.loads(cfg).get("clusteringColumns", [])]
    return cols or None


def set_clustering_delta(table: str, columns) -> int:
    """Declare the table's CLUSTERING COLUMNS (stored as the
    protocol's delta.clustering domainMetadata, clusteringColumns as
    an array of name paths). compact_delta then Z-orders on them by
    default. Exactly two top-level columns here — the 2-D Morton plan
    sources/layout.py implements; re-declare to change the policy."""
    cols = list(columns)
    if len(cols) != 2:
        raise ValueError(
            "declared clustering here is the 2-D Z-order plan: pass "
            f"exactly two columns (got {cols})")
    for _ in range(10):
        _l, schema_string, read_v, _t, _cfg = _replay(table, None)
        names = [f["name"] for f in json.loads(schema_string)["fields"]]
        missing = [c for c in cols if c not in names]
        if missing:
            raise KeyError(
                f"clustering columns {missing} not in schema {names}")
        action = {"domainMetadata": {
            "domain": _CLUSTERING_DOMAIN,
            "configuration": json.dumps(
                {"clusteringColumns": [[c] for c in cols]},
                separators=(",", ":")),
            "removed": False,
        }}
        try:
            commit_delta(table, read_v + 1, [action])
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def _crc_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, "%020d.crc" % version)


def write_crc_delta(table: str, version: int | None = None) -> str:
    """VERSION CHECKSUM file (`<version>.crc`, the delta-spark
    VersionChecksum sidecar — public OSS surface): a JSON snapshot
    digest {tableSizeBytes, numFiles, numMetadata, numProtocol,
    inCommitTimestamp?} computed from replay at ``version`` (default
    latest). Readers use it to cross-check snapshot reconstruction
    (validate_crc_delta) — the cheap end-to-end guard against a torn
    or mis-merged log replay. Computation is one O(files) metadata
    replay; written atomically (tmp+rename; deterministic content, so
    last-writer-wins is fine). Returns the written path."""
    live, _schema, v, _txns, _cfg = _replay(table, version)
    crc = {
        "tableSizeBytes": sum(int(a.get("size") or 0) for a in live.values()),
        "numFiles": len(live),
        "numMetadata": 1,
        "numProtocol": 1,
    }
    ict = _commit_info_ict(table, v)
    if ict is not None:
        crc["inCommitTimestamp"] = ict
    path = _crc_path(table, v)
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(crc, f, separators=(",", ":"))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return path


def validate_crc_delta(table: str, version: int | None = None) -> dict:
    """Recompute the snapshot digest at ``version`` and compare it to
    the recorded ``.crc`` file. Returns the validated digest; raises
    FileNotFoundError when no checksum was written for the version and
    ValueError on any mismatch (a torn replay, a hand-edited log, or a
    checksum from different state — the validation IS the feature)."""
    live, _schema, v, _txns, _cfg = _replay(table, version)
    with open(_crc_path(table, v)) as f:
        recorded = json.load(f)
    actual = {
        "tableSizeBytes": sum(int(a.get("size") or 0) for a in live.values()),
        "numFiles": len(live),
    }
    bad = [k for k, want in actual.items() if recorded.get(k) != want]
    if bad:
        raise ValueError(
            f"version checksum mismatch at {table}@{v} on {bad}: "
            f"recorded {[recorded.get(k) for k in bad]}, "
            f"actual {[actual[k] for k in bad]}")
    ict = _commit_info_ict(table, v)
    if (ict is not None and "inCommitTimestamp" in recorded
            and recorded["inCommitTimestamp"] != ict):
        raise ValueError(
            f"version checksum ICT mismatch at {table}@{v}")
    return recorded


def _current_protocol(table: str, version: int | None = None) -> dict:
    """Newest protocol action at-or-below ``version`` — resolved the
    _partition_columns way (checkpoint seed + JSON tail; the widely-
    shared _replay tuple stays put)."""
    newest = latest_version(table)
    if newest is None:
        return dict(_PROTOCOL)
    if version is None:
        version = newest
    proto = dict(_PROTOCOL)
    start = 0
    cp = _read_last_checkpoint(table)
    if cp is not None and cp <= version:
        import pyarrow.parquet as pq

        for path in _checkpoint_files(table, cp):
            t = pq.read_table(path, columns=["protocol"])
            for row in t.to_pylist():
                pr = row.get("protocol")
                if pr is not None and pr.get("minReaderVersion") is not None:
                    proto = {k: v for k, v in pr.items() if v is not None}
        start = cp + 1
    for a in _tail_actions(table, start, version):
        if "protocol" in a:
            proto = a["protocol"]
    return proto


def upgrade_protocol_delta(table: str,
                           reader_features: tuple = (),
                           writer_features: tuple = ()) -> int:
    """PROTOCOL UPGRADE to table features (PROTOCOL.md "Table
    Features"): commit a protocol action carrying minReaderVersion 3 /
    minWriterVersion 7 with explicit readerFeatures/writerFeatures —
    the representation every modern delta-spark table uses. Existing
    declared features are MERGED (upgrades only ever add); legacy
    version-implied features are preserved by the version floor.
    Declaring a reader feature this engine cannot read, or a writer
    feature nothing here implements, raises — a protocol that lies
    about its own engine is worse than a legacy one. Returns the
    committed version."""
    bad_r = set(reader_features) - _READER_FEATURES_SUPPORTED
    if bad_r:
        raise ValueError(
            f"cannot declare reader features {sorted(bad_r)}: this "
            "engine could not read its own table back")
    bad_w = set(writer_features) - _WRITER_FEATURES_SUPPORTED
    if bad_w:
        raise ValueError(
            f"cannot declare writer features {sorted(bad_w)}: no "
            "writer here implements them")
    for _ in range(10):
        _l, schema_string, read_v, _t, config = _replay(table, None)
        cur = _current_protocol(table, read_v)
        rf = sorted(set(cur.get("readerFeatures") or [])
                    | set(reader_features))
        wf = sorted(set(cur.get("writerFeatures") or [])
                    | set(writer_features) | set(rf))
        proto = {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": rf, "writerFeatures": wf}
        actions = [{"protocol": proto},
                   _meta_action(schema_string, config,
                                _partition_columns(table, read_v))]
        try:
            commit_delta(table, read_v + 1, actions)
            return read_v + 1
        except DeltaCommitConflict:
            continue
    raise DeltaCommitConflict(f"lost 10 commit races on {table}")


def detail_delta(spark: SparkSession, table: str) -> DataFrame:
    """DESCRIBE DETAIL (delta-spark's table-detail surface) as a
    1-row DataFrame synthesized from replay + the resolved protocol:
    format, id (newest metaData id), location, createdTime (v0
    metaData), lastModified (newest commit's ICT or mtime),
    partitionColumns, clusteringColumns (declared-clustering domain),
    numFiles, sizeInBytes, properties, minReaderVersion/
    minWriterVersion (+ feature lists when the table runs on table
    features). O(files) metadata, no data IO — the operational
    at-a-glance card every maintenance job checks first."""
    live, schema_string, v, _txns, config = _replay(table, None)
    proto = _current_protocol(table, v)
    created = None
    p0 = _log_path(table, 0)
    if os.path.exists(p0):
        with open(p0) as f:
            for ln in f:
                if not ln.strip():
                    continue
                a = json.loads(ln)
                if "metaData" in a:
                    created = a["metaData"].get("createdTime")
    meta_id = None
    # newest metaData id rides _replay's schema fold only as the
    # string; re-resolve it the _partition_columns way
    start, cp = 0, _read_last_checkpoint(table)
    if cp is not None:
        import pyarrow.parquet as pq

        for path in _checkpoint_files(table, cp):
            for row in pq.read_table(path, columns=["metaData"]).to_pylist():
                md = row.get("metaData")
                if md is not None and md.get("id"):
                    meta_id = md["id"]
        start = cp + 1
    for a in _tail_actions(table, start, v):
        if "metaData" in a and a["metaData"].get("id"):
            meta_id = a["metaData"]["id"]
    last_mod = _commit_info_ict(table, v)
    if last_mod is None:
        try:
            last_mod = int(os.path.getmtime(_log_path(table, v)) * 1000)
        except OSError:
            last_mod = None
    clustering = None
    try:
        dom = _domain_configs(table, v).get("delta.clustering")
        if dom:
            clustering = list(json.loads(dom).get("clusteringColumns") or [])
    except (ValueError, AttributeError):
        clustering = None
    row = {
        "format": "delta",
        "id": meta_id,
        "location": os.path.abspath(table),
        "createdAt": created,
        "lastModified": last_mod,
        "partitionColumns": _partition_columns(table, v),
        "clusteringColumns": clustering or [],
        "numFiles": len(live),
        "sizeInBytes": sum(int(a.get("size") or 0) for a in live.values()),
        "properties": dict(config),
        "minReaderVersion": int(proto.get("minReaderVersion", 1)),
        "minWriterVersion": int(proto.get("minWriterVersion", 2)),
        "readerFeatures": sorted(proto.get("readerFeatures") or []),
        "writerFeatures": sorted(proto.get("writerFeatures") or []),
    }
    return spark.createDataFrame(
        [(row["format"], row["id"], row["location"], row["createdAt"],
          row["lastModified"], row["partitionColumns"],
          row["clusteringColumns"], row["numFiles"], row["sizeInBytes"],
          row["properties"], row["minReaderVersion"],
          row["minWriterVersion"], row["readerFeatures"],
          row["writerFeatures"])],
        "format string, id string, location string, createdAt long,"
        " lastModified long, partitionColumns array<string>,"
        " clusteringColumns array<string>, numFiles long,"
        " sizeInBytes long, properties map<string,string>,"
        " minReaderVersion int, minWriterVersion int,"
        " readerFeatures array<string>, writerFeatures array<string>")
