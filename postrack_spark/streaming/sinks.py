"""Streaming sinks: foreachBatch CDC apply — the engine's equivalent of
the reference's HandleFunc (postrack.go:35), with stronger semantics:
offsets commit AFTER the batch is durably applied (checkpoint), fixing
the reference's ack-before-process race (conn.lsn advanced at :367,
read by keepAlive at :110 with no ordering w.r.t. the callback).

Durability model (round 3): foreachBatch is AT-LEAST-ONCE — a crash
between applying a batch and committing the checkpoint re-delivers the
same (batch_id, data) on restart. Every sink therefore commits through
a ``_CURRENT`` pointer file, swapped atomically (tmp file +
os.replace), in one of three layouts:

* versioned (:func:`_versioned_batch`) — apply_changes,
  incremental_agg, incremental_join_agg, fold, merge_fold,
  cluster_maintenance and scd2 write the whole view per batch::

    target/
      _CURRENT        # "<checkpoint>\\n<batch_id>\\n<version dir>"
      v00000007/      # parquet written by batch 7 (fresh dir per batch)

* log-structured (:func:`_log_structured_batch`) — the ``*_log`` sinks
  append each batch's partial aggregate as a ``d`` dir and fold the
  deltas into a ``v`` base on compaction (layout at that section);
* pair index (:func:`_pair_index_batch`) — dedup_index and ann_index
  append ``index/d<batch>`` and ``pairs/d<batch>`` dirs; compaction
  folds them into ``c<batch>`` bases named on the pointer's third line.

which yields exactly-once EFFECTS from at-least-once DELIVERY:

* A re-delivered batch (same checkpoint lineage, batch_id <= applied)
  is SKIPPED — the signed-delta double-apply flaw is gone.
* Each batch writes a FRESH version directory and only then swaps the
  pointer: the base being read is never the directory being written,
  so there is no read-modify-overwrite window (the old cache()+count()
  barrier could recompute mid-delete under memory pressure).
* Crash before the pointer swap -> restart recomputes from the old
  version and rewrites the same vN dir. Crash after the swap -> the
  replayed batch is skipped. Either way the view is correct.
* A DIFFERENT checkpoint (fresh stream lineage) intentionally does NOT
  skip: batch ids restart from 0 in a new lineage, so skipping on ids
  alone would silently drop real data. Replaying the same source with
  a fresh checkpoint into a live incremental-agg view double-counts by
  construction — that is a pipeline-wiring error, not a sink property.

Read failures and schema drift on the base RAISE (they used to reset
the view to empty); only a missing pointer means "first batch".

At warehouse scale the same protocol is MERGE INTO + transactional
snapshot pinning in Delta/Iceberg; the pointer file is the moral
equivalent of their metadata-log tip on plain parquet.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postrack_spark.cdc.envelope import TRUNCATE
from postrack_spark.cdc.materialize import apply_changes

_POINTER = "_CURRENT"


def _pointer_lines(target: str) -> list[str] | None:
    path = os.path.join(target, _POINTER)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return f.read().splitlines()


def _write_pointer(target: str, *lines) -> None:
    """Atomically repoint _CURRENT (POSIX rename within the dir)."""
    tmp = os.path.join(target, f".{_POINTER}.tmp")
    with open(tmp, "w") as f:
        f.write("".join(f"{line}\n" for line in lines))
    os.replace(tmp, os.path.join(target, _POINTER))


def _read_pointer(target: str) -> tuple[str | None, int, str | None]:
    """(checkpoint lineage, applied batch id, version dir name) or
    (None, -1, None) when the view has no committed version yet. A pair
    index stores its compacted base name there, empty (None) until the
    first compaction."""
    lines = _pointer_lines(target)
    if lines is None:
        return None, -1, None
    version = lines[2] if len(lines) > 2 and lines[2] else None
    return lines[0], int(lines[1]), version


def _swap_pointer(target: str, lineage: str, batch_id: int,
                  version: str | None) -> None:
    _write_pointer(target, lineage, batch_id, version or "")


def _version_names(target: str) -> list[str]:
    return sorted(
        name for name in os.listdir(target)
        if name.startswith("v") and name[1:].isdigit()
    )


def _gc_versions(target: str, keep_depth: int, live: str) -> None:
    """Retain the LIVE version unconditionally plus the newest
    ``keep_depth`` dirs (predecessor kept so a concurrent read_view
    started pre-swap finishes clean; extra depth = time-travel
    window). The live dir is pinned by name, not by sort order: a
    fresh lineage restarts batch ids at 0, so the live version can be
    lexicographically OLDEST."""
    versions = _version_names(target)
    keep = set(versions[-keep_depth:]) if keep_depth else set()
    keep.add(live)
    for name in versions:
        if name not in keep:
            shutil.rmtree(os.path.join(target, name), ignore_errors=True)


def read_view(spark: SparkSession, target: str,
              version: int | None = None) -> DataFrame:
    """Read a sink-maintained view: the live version by default, or a
    specific retained ``version`` (batch id) — parquet-native time
    travel over the version directories the sink keeps (``keep_depth``
    of them; the moral equivalent of a Delta/Iceberg snapshot read)."""
    if version is not None:
        path = os.path.join(target, f"v{version:08d}")
        if not os.path.isdir(path):
            raise FileNotFoundError(
                f"version {version} not retained under {target}; "
                f"available: {list_versions(target)}"
            )
        return spark.read.parquet(path)
    _, _, live = _read_pointer(target)
    if live is None:
        raise FileNotFoundError(f"no committed version under {target}")
    return spark.read.parquet(os.path.join(target, live))


def list_versions(target: str) -> list[int]:
    """Batch ids of the retained version snapshots (ascending)."""
    return sorted(int(name[1:]) for name in _version_names(target))


def _versioned_batch(target: str, lineage: str, merge, keep_depth: int = 2):
    """Wrap ``merge(base_df_or_None, batch_df) -> merged_df`` in the
    versioned skip/write/swap protocol. Exposed for direct unit tests
    of replay idempotence (tests/test_streaming.py)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(target, exist_ok=True)
        applied_lineage, applied_id, version = _read_pointer(target)
        if applied_lineage == lineage and batch_id <= applied_id:
            return  # at-least-once re-delivery of an applied batch
        spark = batch_df.sparkSession
        base = (
            spark.read.parquet(os.path.join(target, version))
            if version is not None else None
        )
        merged = merge(base, batch_df)
        vname = f"v{batch_id:08d}"
        merged.write.mode("overwrite").parquet(os.path.join(target, vname))
        _swap_pointer(target, lineage, batch_id, vname)
        _gc_versions(target, keep_depth, vname)

    return apply_batch


def _dirs(target_dir: str | None, checkpoint_dir: str | None,
          prefix: str) -> tuple[str, str]:
    """The sink's (target, checkpoint) dirs: the caller's, or fresh
    temp dirs named after the sink."""
    return (
        target_dir or tempfile.mkdtemp(prefix=f"{prefix}_"),
        checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{prefix}_"),
    )


def _start(stream: DataFrame, target: str, checkpoint: str,
           apply_batch) -> tuple[str, object]:
    """Run ``apply_batch`` on each micro-batch of everything available
    now, checkpointed at ``checkpoint`` (the apply functions take the
    same path as their lineage); returns (target_dir, streaming_query)."""
    query = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return target, query


def _check_drift(target: str, base: DataFrame, batch_cols,
                 what: str = "view") -> None:
    if set(base.columns) != set(batch_cols):
        raise ValueError(
            f"{what} schema drift under {target}: "
            f"base={sorted(base.columns)} batch={sorted(batch_cols)}"
        )


def _resum(group_cols, sum_cols):
    """``df -> df.groupBy(group_cols)`` re-sum of ``sum_cols``, each
    cast to bigint: the re-aggregation of every additive view."""

    def reagg(df: DataFrame) -> DataFrame:
        return df.groupBy(*[F.col(c) for c in group_cols]).agg(
            *[F.sum(c).cast("bigint").alias(c) for c in sum_cols]
        )

    return reagg


def _fold_merge(target: str, partial, reagg):
    """The versioned merge of every fold sink: the batch's partial
    aggregate ``partial(batch)`` starts the view; later batches fold
    into it as ``reagg(base ∪ partial)`` — a MERGE INTO on the group
    columns at warehouse scale."""

    def merge(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        part = partial(batch_df)
        if base is None:
            return part
        _check_drift(target, base, part.columns)
        return reagg(base.unionByName(part))

    return merge


def _signed_partial(dims: dict, measures: dict, count_name: str):
    """``batch -> partial``: the batch's signed delta rows (cdc/ivm's
    delta_rows) aggregated to per-group (count, sums). Map-side partial
    aggregation compacts the signed rows before the exchange, so the
    shuffle is O(groups), never O(events)."""
    from postrack_spark.cdc.ivm import delta_rows

    def partial(batch_df: DataFrame) -> DataFrame:
        return (
            delta_rows(batch_df)
            .select(
                *[expr.alias(n) for n, expr in dims.items()], "sign",
                F.col("img").alias("img"),
            )
            .groupBy(*[F.col(n) for n in dims])
            .agg(
                F.sum("sign").cast("bigint").alias(count_name),
                *[
                    F.sum(F.col("sign") * expr).cast("bigint").alias(n)
                    for n, expr in measures.items()
                ],
            )
        )

    return partial


def _join_partial(stream_cols: dict, static_signed: DataFrame, on: list,
                  dims: dict, measures: dict, count_name: str):
    """``batch -> partial`` of a STREAM ⋈ STATIC view: the view delta
    is exactly ΔA ⋈ B, so the batch's (tiny) signed rows are broadcast
    into the static side and partially aggregated."""
    from postrack_spark.cdc.ivm import _signed_agg, _signed_join, signed_image_rows

    def partial(batch_df: DataFrame) -> DataFrame:
        da = signed_image_rows(batch_df, stream_cols)
        joined = _signed_join(F.broadcast(da), static_signed, on)
        return _signed_agg(joined, dims, measures, count_name)

    return partial


def _write_batch(df: DataFrame, path: str, feed_dir: str | None = None) -> None:
    """Write one batch's dir (overwrite: a crash-retried batch rewrites
    its own dir). With ``feed_dir``, the dir is one parquet file, also
    published as ``feed_dir/<dir name>.parquet`` — a change feed for
    downstream consumers, idempotent under crash-retry (deterministic
    name + atomic rename)."""
    if feed_dir is not None:
        df = df.coalesce(1)  # one deterministic feed file per batch
    df.write.mode("overwrite").parquet(path)
    if feed_dir is None:
        return
    os.makedirs(feed_dir, exist_ok=True)
    name = os.path.basename(path)
    src = next(
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if f.startswith("part-") and f.endswith(".parquet")
    )
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    shutil.copyfile(src, tmp)
    os.replace(tmp, os.path.join(feed_dir, f"{name}.parquet"))


def foreach_batch_apply_changes(
    changes_stream: DataFrame,
    key_expr,
    target_dir: str | None = None,
    key_name: str = "__key",
    checkpoint_dir: str | None = None,
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Incrementally materialize a CDC stream into a parquet view.

    Per micro-batch (the compact-then-merge pattern, SURVEY.md §4.3):
      1. replay base ∪ batch through :func:`apply_changes` — the base
         rows are the view's live events (key column dropped and
         re-derived), so the batch's DELETE tombstones and TRUNCATE
         watermarks cut the base exactly as they cut the batch, and the
         batch is decoded once (one compaction, no watermark branch)
      2. commit as a fresh version + atomic pointer swap (see module
         docstring — replayed batches are skipped, base never
         overwritten in place)

    Per-key compaction additionally makes apply idempotent under
    re-delivery of the DATA itself (new lineage replays converge).
    Returns (target_dir, streaming_query); read with ``read_view``.
    """
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "cdc_materialized")

    def merge(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        if base is None:
            return apply_changes(batch_df, key_expr, key_name)
        _check_drift(target, base, {*batch_df.columns, key_name})
        return apply_changes(
            base.drop(key_name).unionByName(batch_df), key_expr, key_name
        )

    return _start(changes_stream, target, checkpoint,
                  _versioned_batch(target, checkpoint, merge, keep_depth))


def foreach_batch_incremental_agg(
    changes_stream: DataFrame,
    dims: dict,
    measures: dict,
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    count_name: str = "n_rows",
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Maintain a grouped aggregate view incrementally across
    micro-batches (streaming IVM; see cdc/ivm.py for the batch form).

    Per micro-batch: derive signed delta rows, partially aggregate them
    to per-group (count, sums), and fold into the running view by
    union + re-sum — a MERGE INTO on (dims) at warehouse scale. With
    full before-images the signed-delta aggregate is a commutative
    monoid: ANY partitioning of the stream into batches yields the same
    view, so no cross-batch ordering is required. (Missing-before
    repair — recover_before — is the one order-sensitive step; it
    belongs capture-side or pre-stream, mirroring how real connectors
    resolve REPLICA IDENTITY.) Groups whose running count is zero are
    KEPT in the stored partials (a negative partial may precede its
    positive under arbitrary batch splits); readers filter count > 0.

    Signed deltas are NOT idempotent under re-application, so the
    versioned-batch protocol (module docstring) is what makes this
    sink safe under at-least-once foreachBatch: a crash-replayed batch
    is detected by (lineage, batch_id) and skipped instead of
    double-counted.

    Shuffle cost per batch: O(groups), never O(events) — map-side
    partial aggregation compacts the signed rows before the exchange.
    Returns (target_dir, streaming_query); read with ``read_view``.
    """
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "ivm_agg")
    merge = _fold_merge(
        target, _signed_partial(dims, measures, count_name),
        _resum(dims, [count_name, *measures]),
    )
    return _start(changes_stream, target, checkpoint,
                  _versioned_batch(target, checkpoint, merge, keep_depth))


def foreach_batch_incremental_join_agg(
    changes_stream: DataFrame,
    stream_cols: dict,
    static_signed: DataFrame,
    on: list,
    dims: dict,
    measures: dict,
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    count_name: str = "n_rows",
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Maintain a grouped aggregate over STREAM ⋈ STATIC incrementally —
    the streaming twin of cdc/ivm.incremental_join_agg for the
    stream-static case (only A changes): per micro-batch the signed
    delta of the view is exactly ΔA ⋈ B, so each batch broadcasts its
    (tiny) signed delta rows into the static side, partially aggregates,
    and folds into the running view by union + re-sum.

    `stream_cols` projects the batch's image maps to typed signed rows
    (signed_image_rows expressions over ``img``); `static_signed` is
    the B side as a (sign=1, **cols) frame; `dims`/`measures` are
    expressions over the joined row.

    Scale: the per-batch static-side scan is the cost to watch at
    100 TB — it is partition-prunable on the join key (bucketed/
    partitioned base, or a runtime bloom filter built from the
    broadcast delta keys), and the shuffle is O(groups) per batch
    regardless. Signed deltas are not idempotent, so this rides the
    same versioned skip/write/swap protocol as the other sinks.
    Returns (target_dir, streaming_query); read with ``read_view``.
    """
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "ivm_join")
    merge = _fold_merge(
        target,
        _join_partial(stream_cols, static_signed, on, dims, measures, count_name),
        _resum(dims, [count_name, *measures]),
    )
    return _start(changes_stream, target, checkpoint,
                  _versioned_batch(target, checkpoint, merge, keep_depth))


# ---------------------------------------------------------------------------
# Log-structured IVM sink: per-batch delta partials + periodic compaction.
#
# The rewrite sinks above re-write the WHOLE view every batch — O(view)
# per micro-batch, fine for small/medium aggregates, wrong at 100 TB
# when the view itself is large (e.g. per-user rollups). The
# log-structured protocol writes only the batch's partial aggregate
# (O(batch groups)) and amortizes the view-sized work into periodic
# compaction — the LSM / Delta-log pattern on plain parquet:
#
#     target/
#       _CURRENT      # lineage \n batch_id \n base dir or "-" \n
#                     # sums:<sum col list> \n <delta dir list>
#       v00000007/    # compacted base (whole view as of batch 7)
#       d00000009/    # delta partials appended by batch 9
#
# Readers fold base ∪ deltas by one groupBy re-sum (read amplification
# = #deltas, bounded by compact_every). Every mutation writes fresh
# dirs then swaps the pointer atomically; a replayed batch is detected
# by (lineage, batch_id) and skipped, and a crash mid-write leaves the
# pointer on the old state with only an orphaned dir to overwrite on
# retry — the same exactly-once-effects argument as the rewrite sinks.
# ---------------------------------------------------------------------------


def _read_pointer_log(target: str):
    lines = _pointer_lines(target)
    if lines is None:
        return None, -1, None, [], []
    lineage, batch_id, base = lines[0], int(lines[1]), lines[2]
    sums = lines[3].removeprefix("sums:").split(",") if len(lines) > 3 else []
    deltas = [d for d in (lines[4].split(",") if len(lines) > 4 else []) if d]
    return lineage, batch_id, (None if base == "-" else base), sums, deltas


def _swap_pointer_log(target, lineage, batch_id, base, sums, deltas):
    _write_pointer(
        target, lineage, batch_id, base or "-",
        f"sums:{','.join(sums)}", ",".join(deltas),
    )


def read_log_view(spark: SparkSession, target: str) -> DataFrame:
    """Read a log-structured view: compacted base ∪ delta partials,
    folded by one groupBy re-sum (dims = every non-sum column)."""
    _, _, base, sums, deltas = _read_pointer_log(target)
    if base is None and not deltas:
        raise FileNotFoundError(f"no committed state under {target}")
    parts = [os.path.join(target, d) for d in deltas]
    if base is not None:
        parts.insert(0, base if os.path.isabs(base) else os.path.join(target, base))
    df = spark.read.parquet(*parts)
    return _resum([c for c in df.columns if c not in sums], sums)(df)


def compact_log_view(spark: SparkSession, target: str) -> None:
    """Fold the current base ∪ deltas into a fresh compacted base and
    swap the pointer to it (empty delta list). Idempotent and crash-
    safe: the fold is written to a new version dir named after the
    last applied batch; a crash before the swap leaves the old state
    live. Dirs unreferenced by the new pointer are GC'd (the previous
    base is kept one round for concurrent readers)."""
    lineage, batch_id, base, sums, deltas = _read_pointer_log(target)
    if not deltas:
        return
    merged = read_log_view(spark, target)
    vname = f"v{batch_id:08d}"
    merged.write.mode("overwrite").parquet(os.path.join(target, vname))
    _swap_pointer_log(target, lineage, batch_id, vname, sums, [])
    keep = {vname, _POINTER}
    if base is not None:
        keep.add(os.path.basename(base))  # concurrent pre-swap readers
    for name in os.listdir(target):
        if (name.startswith("v") or name.startswith("d")) and name not in keep:
            shutil.rmtree(os.path.join(target, name), ignore_errors=True)


def _log_structured_batch(
    target: str,
    lineage: str,
    dims: dict,
    measures: dict,
    count_name: str = "n_rows",
    compact_every: int = 8,
    feed_dir: str | None = None,
    partial_fn=None,
):
    """The log-structured apply function (exposed for direct protocol
    tests, mirroring _versioned_batch).

    With ``feed_dir`` set, each batch's signed partial is ALSO published
    there as one parquet file with a deterministic per-batch name — a
    CHANGE FEED of the view itself, consumable as a plain file stream.
    Downstream views maintained from this feed never touch the raw
    stream: IVM composes into cascades (view-of-a-view), the
    Materialize/DBSP dataflow shape. Publication is idempotent under
    crash-retry (deterministic name + atomic rename), and a batch
    skipped by the (lineage, batch_id) check is never republished.

    ``partial_fn(batch_df) -> partial DataFrame`` overrides how a
    batch's signed partial aggregate is derived (default: signed delta
    rows of a change-envelope batch) — the seam that lets join-view
    deltas, or any other signed partial producer, ride the same
    log-structured protocol."""
    partial = partial_fn or _signed_partial(dims, measures, count_name)
    sums = [count_name, *measures]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(target, exist_ok=True)
        applied_lineage, applied_id, base, _, deltas = _read_pointer_log(target)
        if applied_lineage == lineage and batch_id <= applied_id:
            return  # at-least-once re-delivery of an applied batch
        dname = f"d{batch_id:08d}"
        _write_batch(partial(batch_df), os.path.join(target, dname), feed_dir)
        new_deltas = deltas + [dname]
        _swap_pointer_log(target, lineage, batch_id, base, sums, new_deltas)
        if len(new_deltas) >= compact_every:
            compact_log_view(batch_df.sparkSession, target)

    return apply_batch


def foreach_batch_incremental_agg_log(
    changes_stream: DataFrame,
    dims: dict,
    measures: dict,
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    count_name: str = "n_rows",
    compact_every: int = 8,
    feed_dir: str | None = None,
) -> tuple[str, object]:
    """Log-structured streaming IVM: per micro-batch write ONLY the
    batch's signed partial aggregate (O(batch groups), not O(view));
    auto-compact once ``compact_every`` deltas accumulate. Same view
    semantics as foreach_batch_incremental_agg — readers use
    :func:`read_log_view` and filter count > 0. ``feed_dir`` publishes
    each partial as a view change feed (see _log_structured_batch)."""
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "ivm_log")
    return _start(changes_stream, target, checkpoint, _log_structured_batch(
        target, checkpoint, dims, measures, count_name, compact_every,
        feed_dir=feed_dir,
    ))


def foreach_batch_fold(
    partials_stream: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Fold a stream of ALREADY-SIGNED partial aggregate rows into a
    maintained view: per batch, groupBy(group_cols) re-sum(sum_cols)
    against the stored view (versioned exactly-once protocol) — the
    :func:`foreach_batch_merge_fold` of a re-sum.

    This is the downstream half of a view CASCADE: the upstream log
    sink's ``feed_dir`` emits its per-batch partials; folding those
    partials — signed, so upstream DELETE/UPDATE corrections flow
    through — maintains any SUM/COUNT rollup of the upstream view
    without ever re-reading the raw stream. Commutative monoid ⇒ any
    feed-file batching converges to the same view.
    Returns (target_dir, streaming_query); read with ``read_view``."""
    return foreach_batch_merge_fold(
        partials_stream, group_cols, _resum(group_cols, sum_cols),
        target_dir, checkpoint_dir, keep_depth,
    )


def foreach_batch_merge_fold(
    partials_stream: DataFrame,
    group_cols: list[str],
    reagg,
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Generalization of :func:`foreach_batch_fold` from additive sums
    to any MERGEABLE aggregate: ``reagg(df) -> DataFrame`` must be a
    groupBy(group_cols) re-aggregation that is a commutative monoid
    over row blocks — ``reagg(A ∪ B) == reagg(reagg(A) ∪ reagg(B))``
    (min/max, argmin/argmax carrying their keys, sums, counts all
    qualify; averages must be kept as sum+count pairs). Per batch:
    reagg the batch to its partial, union with the stored view, reagg
    once more — O(batch) + O(view groups) work, versioned exactly-once
    protocol, read with ``read_view``."""
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "mfold")
    return _start(partials_stream, target, checkpoint, _versioned_batch(
        target, checkpoint, _fold_merge(target, reagg, reagg), keep_depth
    ))


# ---------------------------------------------------------------------------
# Streaming near-dup index: MinHash+LSH maintained incrementally.
# ---------------------------------------------------------------------------


def _bands_of(sigs: DataFrame, n_hashes: int, band_size: int) -> DataFrame:
    n_bands = n_hashes // band_size
    cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat(*[F.col(f"h{i}") for i in range(b * band_size, (b + 1) * band_size)])
            ).alias("bh"),
        )
        for b in range(n_bands)
    ]
    return sigs.select("doc", F.explode(F.array(*cols)).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )


def _live_dirs(root: str, base: str | None, applied_id: int) -> list[str]:
    """Compacted base (if any) + delta dirs newer than it, up to the
    applied id — orphans from a crashed batch (id > applied) and
    deltas already folded into the base (id <= base_id) excluded.

    Live state is defined by the pointer's (applied id, base) alone, so
    compaction is one atomic pointer swap to a freshly-written
    ``c<id>`` base, never an in-place rewrite."""
    if not os.path.isdir(root):
        return []
    base_id = int(base[1:]) if base else -1
    out = []
    if base and os.path.isdir(os.path.join(root, base)):
        out.append(os.path.join(root, base))
    out += [
        os.path.join(root, n)
        for n in sorted(os.listdir(root))
        if n.startswith("d") and n[1:].isdigit()
        and base_id < int(n[1:]) <= applied_id
    ]
    return out


def _pair_index_batch(target: str, lineage: str, index_rows, pairs_of_batch,
                      feed_dir: str | None = None):
    """The pair-index apply function (dedup and ANN indexes). Per batch:
    ``index_rows(batch_df)`` is written to ``index/d<batch>`` and read
    back (storage pins the frame for its multiple uses);
    ``pairs_of_batch(new, old)`` — ``old`` is the live index before
    this batch, or None — is written to ``pairs/d<batch>``; then the
    pointer moves to the batch and keeps the compacted base.
    Crash-retried batches overwrite their own deterministic dirs and
    replayed batches are skipped, so both the index and the emitted
    pair set are exactly-once."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        os.makedirs(target, exist_ok=True)
        applied_lineage, applied_id, base = _read_pointer(target)
        if applied_lineage == lineage and batch_id <= applied_id:
            return  # at-least-once re-delivery of an applied batch
        spark = batch_df.sparkSession
        dname = f"d{batch_id:08d}"
        new_path = os.path.join(target, "index", dname)
        index_rows(batch_df).write.mode("overwrite").parquet(new_path)
        old_dirs = _live_dirs(os.path.join(target, "index"), base, applied_id)
        old = spark.read.parquet(*old_dirs) if old_dirs else None
        pairs = pairs_of_batch(spark.read.parquet(new_path), old)
        _write_batch(pairs, os.path.join(target, "pairs", dname), feed_dir)
        _swap_pointer(target, lineage, batch_id, base)

    return apply_batch


def compact_pair_index(spark: SparkSession, target: str) -> None:
    """Compact a streaming pair-index target (dedup or ANN): fold the
    live index and pairs dirs into fresh ``c<applied>`` bases and swap
    the pointer — the same LSM discipline as compact_log_view, bounding
    both read amplification and small-file count. Crash-safe: a crash
    before the swap leaves orphan c-dirs and the old state live; after
    the swap, superseded dirs are GC'd (a production deployment would
    retain one epoch for concurrent readers)."""
    lineage, applied_id, base = _read_pointer(target)
    if applied_id < 0:
        return
    cname = f"c{applied_id:08d}"
    if base == cname:
        return  # already compacted to the applied id
    for sub in ("index", "pairs"):
        live = _live_dirs(os.path.join(target, sub), base, applied_id)
        if not live:
            continue
        spark.read.parquet(*live).write.mode("overwrite").parquet(
            os.path.join(target, sub, cname)
        )
    _swap_pointer(target, lineage, applied_id, cname)
    for sub in ("index", "pairs"):
        root = os.path.join(target, sub)
        if not os.path.isdir(root):
            continue
        for n in os.listdir(root):
            if n != cname and (
                (n.startswith("d") and n[1:].isdigit() and int(n[1:]) <= applied_id)
                or (n.startswith("c") and n[1:].isdigit())
            ):
                shutil.rmtree(os.path.join(root, n), ignore_errors=True)


def foreach_batch_dedup_index(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    threshold: float = 0.5,
    n_hashes: int = 16,
    band_size: int = 2,
    shingle_k: int = 3,
    feed_dir: str | None = None,
) -> tuple[str, object]:
    """Streaming near-duplicate detection: a MinHash+LSH index
    maintained incrementally from a document stream, emitting each
    verified pair EXACTLY ONCE — when its second member arrives.

    Per micro-batch:
      1. one fused aggregation per new doc: exact shingle set + the
         n_hashes signature lanes (written to ``index/d<batch>`` and
         read back — storage pins the frame for its multiple uses)
      2. candidates = new-vs-INDEX band-bucket equi-join (new side
         broadcast — a batch is tiny vs the accumulated index) plus
         new-vs-new banding; never all-pairs
      3. exact Jaccard verification over the stored shingle sets;
         survivors land in ``pairs/d<batch>``
      4. atomic pointer swap; crash-retried batches overwrite their own
         deterministic dirs and replayed batches are skipped, so both
         the index and the emitted pair set are exactly-once.

    A pair is found once because membership (old, new) is disjoint
    across batches: (a, b) with b arriving later is emitted by b's
    batch only. At 100 TB the index is stored partitioned by (band,
    bh) so the per-batch probe prunes to touched buckets, and
    degenerate-bucket caps are applied at compaction epochs (the batch
    path's max_bucket_size); the local layout keeps per-batch dirs.
    ``feed_dir`` publishes each batch's pairs as a change feed for
    downstream consumers — e.g. incremental cluster maintenance.
    Read results with :func:`read_dedup_pairs`."""
    from postrack_spark.functions.text import minhash_expr
    from postrack_spark.operators.dedup import (
        doc_shingles,
        jaccard_pairs_from_arrays,
        lsh_candidate_pairs,
    )

    target, checkpoint = _dirs(target_dir, checkpoint_dir, "dedup_idx")
    lanes = [f"h{i}" for i in range(n_hashes)]

    def index_rows(batch_df: DataFrame) -> DataFrame:
        shingles = doc_shingles(
            batch_df.select(id_col, text_col), id_col, text_col, k=shingle_k
        )
        return shingles.groupBy("doc").agg(
            F.collect_set("tok").alias("toks"),
            *[F.min(minhash_expr(F.col("tok"), i)).alias(f"h{i}") for i in range(n_hashes)],
        )

    def pairs_of_batch(new: DataFrame, old: DataFrame | None) -> DataFrame:
        cand = lsh_candidate_pairs(
            new.select("doc", *lanes), n_hashes=n_hashes, band_size=band_size,
            max_bucket_size=1 << 30,
        )
        sets_ = new.select("doc", "toks")
        if old is not None:
            cross = (
                _bands_of(old.select("doc", *lanes), n_hashes, band_size)
                .join(
                    F.broadcast(
                        _bands_of(new.select("doc", *lanes), n_hashes, band_size)
                        .withColumnRenamed("doc", "doc_new")
                    ),
                    ["band", "bh"],
                )
                .select(
                    F.least("doc", "doc_new").alias("doc_a"),
                    F.greatest("doc", "doc_new").alias("doc_b"),
                )
                .distinct()
            )
            cand = cand.unionByName(cross).distinct()
            sets_ = sets_.unionByName(old.select("doc", "toks"))
        verified = jaccard_pairs_from_arrays(sets_, cand, threshold=threshold)
        return verified.select("doc_a", "doc_b", "jaccard")

    return _start(docs_stream, target, checkpoint, _pair_index_batch(
        target, checkpoint, index_rows, pairs_of_batch, feed_dir
    ))


def read_dedup_pairs(spark: SparkSession, target: str) -> DataFrame:
    """All near-dup pairs the streaming index has emitted so far
    (committed batches only — orphan dirs from a crashed batch are
    excluded by the pointer's applied id)."""
    _, applied_id, base = _read_pointer(target)
    dirs = _live_dirs(os.path.join(target, "pairs"), base, applied_id)
    if not dirs:
        raise FileNotFoundError(f"no committed pairs under {target}")
    return spark.read.parquet(*dirs)


def foreach_batch_ann_index(
    vectors_stream: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    threshold: float = 0.35,
    lsh_dims: list[int] | None = None,
) -> tuple[str, object]:
    """Streaming similarity index: the vector twin of
    :func:`foreach_batch_dedup_index`. Embeddings arrive in
    micro-batches; each batch sign-LSH-bucketizes its vectors, probes
    the accumulated index within matching buckets only (batch side
    broadcast — never all-pairs), and emits cosine-similar pairs
    (>= threshold) exactly once, when the second vector arrives.
    Same exactly-once protocol as the dedup index: deterministic
    per-batch dirs + atomic pointer swap, replayed batches skipped.
    At 100 TB the index is stored partitioned by bucket key so the
    per-batch probe prunes to touched buckets. Read results with
    :func:`read_dedup_pairs` (same layout: id_a, id_b, cos_sim)."""
    from postrack_spark.operators.similarity import cosine, sign_lsh_key

    dims = lsh_dims or list(range(1, 9))
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "ann_idx")

    def pairs_of(left: DataFrame, right: DataFrame, same_batch: bool) -> DataFrame:
        l = left.select(
            F.col("id").alias("id_l"), F.col("v").alias("v_l"), "bk"
        )
        r = right.select(
            F.col("id").alias("id_r"), F.col("v").alias("v_r"), "bk"
        )
        cond = F.col("id_l") < F.col("id_r") if same_batch else F.col("id_l") != F.col("id_r")
        return (
            l.join(F.broadcast(r), "bk").filter(cond)
            .select(
                F.least("id_l", "id_r").alias("id_a"),
                F.greatest("id_l", "id_r").alias("id_b"),
                cosine(F.col("v_l"), F.col("v_r")).alias("sim"),
            )
        )

    def index_rows(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).withColumn("bk", sign_lsh_key(F.col("v"), dims))

    def pairs_of_batch(new: DataFrame, old: DataFrame | None) -> DataFrame:
        sims = pairs_of(new, new, same_batch=True)
        if old is not None:
            sims = sims.unionByName(pairs_of(old, new, same_batch=False))
        return (
            sims.filter(F.col("sim") >= threshold)
            .select("id_a", "id_b", F.round("sim", 4).alias("cos_sim"))
            .distinct()
        )

    return _start(vectors_stream, target, checkpoint, _pair_index_batch(
        target, checkpoint, index_rows, pairs_of_batch
    ))


def foreach_batch_cluster_maintenance(
    edges_stream: DataFrame,
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Incremental CONNECTED COMPONENTS: maintain duplicate-cluster
    labels (doc -> cluster = min member id) across micro-batches of
    near-dup edges — the downstream half of streaming dedup (pair
    index emits edges; this sink keeps the transitive closure current).

    Per batch, only AFFECTED components are recomputed: the batch
    edges' endpoints name their current clusters, every member of
    those clusters joins the batch subgraph (each old cluster enters
    as member->root star edges, so cross-cluster merges propagate),
    and min-label propagation runs to convergence on that subgraph
    alone — O(batch + affected members), never O(graph). Unaffected
    labels are carried over by anti-join. Versioned exactly-once
    protocol as the other sinks; read with ``read_view``.

    Correctness: any path in the accumulated graph between two nodes
    either lies inside carried-over components or crosses a batch
    edge; every crossed component is affected and fully present in
    the subgraph, so the subgraph closure equals the true closure."""
    from postrack_spark.operators.dedup import connected_components

    target, checkpoint = _dirs(target_dir, checkpoint_dir, "clusters")

    def merge(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        edges = batch_df.select("doc_a", "doc_b").distinct()
        if base is None:
            return connected_components(edges)
        nodes = (
            edges.select(F.col("doc_a").alias("doc"))
            .unionByName(edges.select(F.col("doc_b").alias("doc")))
            .distinct()
        )
        touched_roots = (
            base.join(F.broadcast(nodes), "doc")
            .select("cluster")
            .distinct()
        )
        affected = base.join(F.broadcast(touched_roots), "cluster")
        star_edges = affected.select(
            F.col("doc").alias("doc_a"), F.col("cluster").alias("doc_b")
        ).filter(F.col("doc_a") != F.col("doc_b"))
        sub_labels = connected_components(edges.unionByName(star_edges))
        carried = base.join(sub_labels.select("doc"), "doc", "left_anti")
        return carried.unionByName(sub_labels)

    return _start(edges_stream, target, checkpoint,
                  _versioned_batch(target, checkpoint, merge, keep_depth))


def foreach_batch_scd2(
    changes_stream: DataFrame,
    key_expr,
    value_cols: dict,
    key_name: str = "o_orderkey",
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    keep_depth: int = 2,
) -> tuple[str, object]:
    """Maintain a TYPE-2 slowly-changing-dimension history from the
    change stream across micro-batches: every INSERT/UPDATE appends a
    version row with a [valid_from_lsn, valid_to_lsn) interval; the
    key's next event closes it (DELETE closes without emitting).

    Cross-batch stitching: each batch closes the base's OPEN row of
    every touched key at that key's first in-batch LSN (one broadcast
    of the batch's per-key min-LSN frame against the stored history) —
    so per batch the work is O(batch) plus one pass over the history
    union, and the merged result equals the one-shot lead()-window
    SCD2 over the whole stream. REQUIRES per-key LSN-ordered delivery
    across batches — exactly what the capture contract provides (the
    daemon writes frame files in WAL order; sources/postgres_cdc.py
    admits them in order). ``value_cols`` are expressions over the
    event row (its ``after`` image). Read with ``read_view``;
    ``is_current`` = valid_to_lsn IS NULL."""
    from pyspark.sql import Window

    target, checkpoint = _dirs(target_dir, checkpoint_dir, "scd2")

    def merge(base: DataFrame | None, batch_df: DataFrame) -> DataFrame:
        ev = batch_df.filter(F.col("op") != TRUNCATE).withColumn(key_name, key_expr)
        w = Window.partitionBy(key_name).orderBy("lsn")
        vers = (
            ev.withColumn("valid_to_lsn", F.lead("lsn").over(w))
            .filter(F.col("op").isin("INSERT", "UPDATE"))
            .select(
                key_name,
                F.col("lsn").alias("valid_from_lsn"),
                "valid_to_lsn",
                *[expr.alias(n) for n, expr in value_cols.items()],
            )
        )
        if base is None:
            return vers
        _check_drift(target, base, vers.columns, what="history")
        firsts = ev.groupBy(key_name).agg(F.min("lsn").alias("__first_lsn"))
        closed = (
            base.join(F.broadcast(firsts), key_name, "left")
            .withColumn(
                "valid_to_lsn",
                F.when(
                    F.col("valid_to_lsn").isNull() & F.col("__first_lsn").isNotNull(),
                    F.col("__first_lsn"),
                ).otherwise(F.col("valid_to_lsn")),
            )
            .drop("__first_lsn")
        )
        return closed.unionByName(vers)

    return _start(changes_stream, target, checkpoint,
                  _versioned_batch(target, checkpoint, merge, keep_depth))


def foreach_batch_incremental_join_agg_log(
    changes_stream: DataFrame,
    stream_cols: dict,
    static_signed: DataFrame,
    on: list,
    dims: dict,
    measures: dict,
    target_dir: str | None = None,
    checkpoint_dir: str | None = None,
    count_name: str = "n_rows",
    compact_every: int = 8,
) -> tuple[str, object]:
    """Stream-static JOIN-view IVM through the LOG-STRUCTURED protocol:
    per micro-batch the view delta (ΔA ⋈ B, delta broadcast) is
    written as an O(batch groups) delta partial and auto-compacted —
    the combination of foreach_batch_incremental_join_agg's join
    maintenance with foreach_batch_incremental_agg_log's storage
    (right when the maintained join view itself is large). Read with
    :func:`read_log_view`, filter count > 0."""
    target, checkpoint = _dirs(target_dir, checkpoint_dir, "ivm_joinlog")
    return _start(changes_stream, target, checkpoint, _log_structured_batch(
        target, checkpoint, dims, measures, count_name, compact_every,
        partial_fn=_join_partial(
            stream_cols, static_signed, on, dims, measures, count_name
        ),
    ))
