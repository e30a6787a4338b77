"""Crash-window fault injection for the exactly-once sinks (VERDICT r4
item 4). The replay tests in test_streaming.py prove a re-delivered
batch is skipped; these kill the writer INSIDE the protocol — after the
version-dir write but before the pointer swap, after the swap but
before GC, and mid-compaction — then "restart" (re-deliver per
at-least-once) and assert two invariants:

1. CONVERGENCE: the view ends up exactly as if no crash happened, with
   no double-applied effects (signed sums double on a double-apply, so
   the merge used here makes that failure loud).
2. NO TORN READS: at every interleaving point, read_view/read_log_view
   returns a complete committed state — the pre-crash one before the
   swap lands, the new one after — never a half-written directory, and
   a reader holding the pre-swap version path can still finish (GC
   keeps the predecessor).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import postrack_spark.streaming.sinks as sinks


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _merge(base, batch_df):
    """Signed-sum fold: base ∪ batch re-summed per key. NOT idempotent —
    applying the same batch twice doubles v, so the tests below detect
    any double-apply, not just row-count drift."""
    part = batch_df.groupBy("k").agg(F.sum("v").alias("v"))
    if base is None:
        return part
    return base.unionByName(part).groupBy("k").agg(F.sum("v").alias("v"))


def _view(spark, target):
    return {
        (r.k, r.v) for r in sinks.read_view(spark, target).collect()
    }


def test_crash_between_version_write_and_pointer_swap(spark, tmp_path, monkeypatch):
    target = str(tmp_path / "view")
    apply_batch = sinks._versioned_batch(target, "lineageA", _merge)

    apply_batch(_batch(spark, [("a", 1), ("b", 2)]), 0)
    assert _view(spark, target) == {("a", 1), ("b", 2)}

    # inject: batch 1 writes v00000001 fully, then dies pre-swap
    def crash_swap(*a, **k):
        raise RuntimeError("injected crash: power loss before pointer swap")

    monkeypatch.setattr(sinks, "_swap_pointer", crash_swap)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(_batch(spark, [("a", 10)]), 1)
    monkeypatch.undo()

    # torn-read check: the orphaned v00000001 exists on disk, but the
    # pointer still commits batch 0 — readers see only the old state
    assert os.path.isdir(os.path.join(target, "v00000001"))
    assert _view(spark, target) == {("a", 1), ("b", 2)}
    assert sinks._read_pointer(target)[1] == 0

    # restart: at-least-once re-delivers batch 1; the pointer says 0 so
    # it must RE-APPLY (not skip), overwriting its own orphan dir
    apply_batch(_batch(spark, [("a", 10)]), 1)
    assert _view(spark, target) == {("a", 11), ("b", 2)}

    # and a post-crash replay of the now-committed batch IS skipped
    apply_batch(_batch(spark, [("a", 10)]), 1)
    assert _view(spark, target) == {("a", 11), ("b", 2)}, "double-applied batch 1"


def test_crash_after_swap_before_gc(spark, tmp_path, monkeypatch):
    target = str(tmp_path / "view")
    apply_batch = sinks._versioned_batch(target, "lineageA", _merge)
    apply_batch(_batch(spark, [("a", 1)]), 0)

    # inject: batch 1 commits (swap succeeds) but dies during GC
    def crash_gc(*a, **k):
        raise RuntimeError("injected crash: died during version GC")

    monkeypatch.setattr(sinks, "_gc_versions", crash_gc)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(_batch(spark, [("a", 10)]), 1)
    monkeypatch.undo()

    # the swap landed: new state is live despite the GC crash
    assert _view(spark, target) == {("a", 11)}
    assert sinks._read_pointer(target)[1] == 1

    # restart re-delivery of batch 1 must now SKIP (committed), so the
    # signed sum must not double
    apply_batch(_batch(spark, [("a", 10)]), 1)
    assert _view(spark, target) == {("a", 11)}, "replayed committed batch re-applied"

    # next real batch proceeds normally and GC runs clean
    apply_batch(_batch(spark, [("b", 5)]), 2)
    assert _view(spark, target) == {("a", 11), ("b", 5)}


def test_concurrent_reader_survives_swap_and_gc(spark, tmp_path):
    """A reader that resolved the pointer just before a swap must be
    able to finish reading that version: GC retains the newest
    keep_depth dirs, so the immediate predecessor is always present."""
    target = str(tmp_path / "view")
    apply_batch = sinks._versioned_batch(target, "lineageA", _merge, keep_depth=2)
    apply_batch(_batch(spark, [("a", 1)]), 0)

    # reader resolves the live version path (pre-swap snapshot)...
    pre_swap_path = os.path.join(target, sinks._read_pointer(target)[2])
    # ...writer commits the next batch (swap + GC) underneath it
    apply_batch(_batch(spark, [("a", 10)]), 1)
    # ...reader finishes from the old version: still complete on disk
    old = {(r.k, r.v) for r in spark.read.parquet(pre_swap_path).collect()}
    assert old == {("a", 1)}

    # the retention bound is keep_depth, not forever: two more commits
    # push v00000000 out of the window
    apply_batch(_batch(spark, [("a", 100)]), 2)
    apply_batch(_batch(spark, [("a", 1000)]), 3)
    assert not os.path.isdir(os.path.join(target, "v00000000"))
    assert _view(spark, target) == {("a", 1111)}


def _log_view(spark, target):
    return {
        (r.k, r.n, r.s)
        for r in sinks.read_log_view(spark, target)
        .select("k", "n", "s")
        .collect()
    }


def _log_apply(target):
    """Log-structured apply over plain (k, v) batches: partial = per-key
    (count, sum) — signed-sum semantics, double-apply doubles both."""

    def partial(batch_df):
        return batch_df.groupBy("k").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("s"),
        )

    return sinks._log_structured_batch(
        target,
        "lineageL",
        dims={"k": F.col("k")},
        measures={"s": F.col("v")},
        count_name="n",
        compact_every=3,
        partial_fn=partial,
    )


def test_log_sink_crash_before_pointer_swap(spark, tmp_path, monkeypatch):
    target = str(tmp_path / "log")
    apply_batch = _log_apply(target)
    apply_batch(_batch(spark, [("a", 1), ("b", 2)]), 0)
    assert _log_view(spark, target) == {("a", 1, 1), ("b", 1, 2)}

    # inject: delta dir d00000001 written, then death before the swap
    def crash_swap(*a, **k):
        raise RuntimeError("injected crash before log pointer swap")

    monkeypatch.setattr(sinks, "_swap_pointer_log", crash_swap)
    with pytest.raises(RuntimeError, match="injected"):
        apply_batch(_batch(spark, [("a", 10)]), 1)
    monkeypatch.undo()

    # orphan delta exists; pointer unmoved; reads see only batch 0
    assert os.path.isdir(os.path.join(target, "d00000001"))
    assert sinks._read_pointer_log(target)[1] == 0
    assert _log_view(spark, target) == {("a", 1, 1), ("b", 1, 2)}

    # restart: re-delivery re-applies (overwrites its orphan), commits
    apply_batch(_batch(spark, [("a", 10)]), 1)
    assert _log_view(spark, target) == {("a", 2, 11), ("b", 1, 2)}
    # replay of the committed batch is skipped — no doubling
    apply_batch(_batch(spark, [("a", 10)]), 1)
    assert _log_view(spark, target) == {("a", 2, 11), ("b", 1, 2)}


def test_log_sink_crash_mid_compaction(spark, tmp_path, monkeypatch):
    """Batch 2 trips compact_every=3. Its own commit swap succeeds;
    the COMPACTION's swap then dies. The pointer must still describe
    the correct state (old base + all three deltas), and a later
    compaction must converge and GC the orphaned compacted dir."""
    target = str(tmp_path / "log")
    apply_batch = _log_apply(target)
    apply_batch(_batch(spark, [("a", 1)]), 0)
    apply_batch(_batch(spark, [("b", 2)]), 1)

    real_swap = sinks._swap_pointer_log
    state = {"armed": False}

    def swap_gate(*a, **k):
        if state["armed"]:
            state["armed"] = False
            raise RuntimeError("injected crash during compaction swap")
        return real_swap(*a, **k)

    monkeypatch.setattr(sinks, "_swap_pointer_log", swap_gate)

    # arm AFTER batch 2's own swap: the batch apply calls swap once,
    # then compaction calls it again — fail only the second call
    orig_compact = sinks.compact_log_view

    def arming_compact(spark_, target_):
        state["armed"] = True
        return orig_compact(spark_, target_)

    monkeypatch.setattr(sinks, "compact_log_view", arming_compact)
    with pytest.raises(RuntimeError, match="compaction"):
        apply_batch(_batch(spark, [("a", 100)]), 2)
    monkeypatch.undo()

    # batch 2 is committed (its swap preceded the compaction crash);
    # the view folds base + 3 deltas and is fully correct
    lineage, bid, base, sums, deltas = sinks._read_pointer_log(target)
    assert bid == 2 and len(deltas) == 3 and base is None
    assert _log_view(spark, target) == {("a", 2, 101), ("b", 1, 2)}
    # the orphaned compacted dir may exist; it is unreferenced
    # restart path: re-delivered batch 2 is skipped, next compaction
    # converges and empties the delta list
    apply_batch(_batch(spark, [("a", 100)]), 2)
    sinks.compact_log_view(spark, target)
    lineage, bid, base, sums, deltas = sinks._read_pointer_log(target)
    assert deltas == [] and base is not None
    assert _log_view(spark, target) == {("a", 2, 101), ("b", 1, 2)}

    # and the post-compaction view keeps accepting batches
    apply_batch(_batch(spark, [("b", 5)]), 3)
    assert _log_view(spark, target) == {("a", 2, 101), ("b", 2, 7)}
