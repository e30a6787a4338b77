"""Distributed exact global ranking — no single-partition window.

``row_number()`` / ``ntile(k)`` over an UNPARTITIONED window force the
whole frame through one task (Spark's ``WindowExec: No Partition
Defined`` warning): correct at sf0.1, dead at 100 TB. The reference has
no window analogue (postrack.go is a CDC client); this operator exists for
the analytics surface the engine adds on top.

The classic scalable replacement (same trick Spark's own
``zipWithIndex`` uses, lifted to DataFrames):

1. ``repartitionByRange`` on the sort key — range partitions are
   totally ordered ACROSS partitions (partition 0 holds the smallest
   keys), and the shuffle is the only data-sized cost: O(n) with no
   single-task stage.
2. ``sortWithinPartitions`` + ``monotonically_increasing_id`` — mid
   encodes (partition id << 33) | row-offset-in-partition, assigned in
   iterator (= sorted) order. Per-row we recover (pid, seq) with bit
   ops, all JVM-side.
3. Per-partition row counts (tiny frame: one row per range partition,
   P = a *configuration* constant — spark.sql.shuffle.partitions — not
   a function of data size).
4. Offsets = exclusive prefix sum over those P rows, computed as a
   broadcast non-equi self-join (O(P²) comparisons, config-bounded,
   ~10⁸ even on a 10⁴-partition cluster) — deliberately NOT a window,
   so plans using this operator contain zero WindowExec nodes.
5. rank = offset(pid) + seq + 1, joined back via broadcast (P rows).

Measured (round 4, local[32], with a since-deleted stress script; the
10x lane is now ``bench.py --factor 10``): exact_ntile over the
per-customer revenue frame takes 1.7 s at sf0.1 and 2.9 s on the 10x
key-shifted union — 1.7x wall for 10x rows, i.e. the fixed per-stage
overheads still dominate and the only data-sized term is the one range
shuffle, exactly the scaling shape the design predicts.

Correctness requires the sort key to be a TOTAL order (add a unique
tie-break column); ties that cross a range boundary would otherwise
get nondeterministic ranks.

DETERMINISTIC BY CONSTRUCTION (round 4): the enumerated
``(row, pid, seq)`` frame is pinned with ``localCheckpoint(eager=True)``
INSIDE the operator, at a moment when no downstream consumer exists yet
— so no consumer plan can ever displace the in-partition sort that
``monotonically_increasing_id`` numbers. History that forced this:
rounds 2-3 relied on a manual consumer discipline, and two real
incidents broke it anyway: (a) referencing the output from two subplans
let the optimizer drop the in-partition sort under the
order-insensitive consumer, numbering rows in shuffle-fetch order
(agg_weighted_median_rank was pulled, now restored —
window_queries.py); (b) even a SINGLE consumer that imposes its own
sort (``write.partitionBy`` sorts each task by the partition column)
displaced the sort and misnumbered ~1e-5 of boundary rows
(streaming_session_expiry_timeout, round 3). With the internal pin,
the count path, the rank path, and every consumer — aggregates, joins,
sort-imposing writers, multi-subplan references — read the SAME frozen
rows; nothing rides on ReuseExchange or on Catalyst declining to
eliminate a sort. Adversarial regression: tests/test_ranking.py
re-runs tied-key frames under a ``write.partitionBy`` consumer plus an
aggregate+join double reference, 5x each.

Cost of the pin: one O(n) write to executor-local disk (NOT the
driver; rows are never collected). That is the same shuffle-sized I/O
class as the range exchange the operator already pays, so the asymptotic
story at 100 TB is unchanged; measured at sf0.1 the riding queries moved
<15% (bench.py medians). On a real cluster localCheckpoint blocks live
in executor storage: an executor loss during the job fails the query
(retry re-pins) rather than silently recomputing a possibly-different
enumeration — the correct failure direction for an exactness operator.

``prefix_sum_by_key`` / ``prefix_sums_by_key`` carry the SAME pin, for
a subtler reason found in round 4 by reading the executed plan: their
totals path and window path were assumed to share one range exchange
via ReuseExchange/AQE stage reuse — but column pruning makes the two
subtrees structurally UNEQUAL (the totals path prunes the value
column differently), so neither reuse mechanism fires and the plan
holds THREE separate range exchanges. Values still matched because
RangePartitioner's reservoir sampling is seeded per partition index —
identical boundaries as long as each instantiation's partitions
arrive in identical ORDER. That holds for deterministic scans in
local mode and breaks the moment the operator's input is itself a
shuffle output (fetch order is a network race on a real cluster):
divergent sampled boundaries would silently mis-join offsets to
partitions. The eager pin materializes ONE range-partitioned frame
with its ``spark_partition_id`` frozen as data; both paths and all
consumers read it. tests/test_ranking.py value-checks against window
cumsums over repeated runs either way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MID_BITS = 33  # monotonically_increasing_id: pid in the upper bits


def global_row_number(
    df: DataFrame,
    order_cols: list[Column | str],
    rank_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + a 1-based exact global row number over ``order_cols``.

    ``order_cols`` must define a total order (unique composite key).
    Plan shape: one range exchange over the data + two tiny broadcast
    joins; no WindowExec, no collect.
    """
    spark = df.sparkSession
    if num_partitions:
        nparts = num_partitions
    else:
        conf = spark.conf.get("spark.sql.shuffle.partitions", "200")
        # the conf may be "auto" under some AQE setups; fall back to
        # the cluster's default parallelism
        nparts = int(conf) if conf.isdigit() else spark.sparkContext.defaultParallelism
    part = df.repartitionByRange(nparts, *order_cols).sortWithinPartitions(*order_cols)
    mid = part.withColumn("__mid", F.monotonically_increasing_id())
    keyed = (
        mid.withColumn("__pid", F.shiftrightunsigned("__mid", _MID_BITS))
        .withColumn("__seq", F.col("__mid").bitwiseAND(F.lit((1 << _MID_BITS) - 1)))
        .drop("__mid")
        # Determinism pin — see module docstring. Eager, so the sort →
        # mid enumeration executes NOW, before any consumer plan exists
        # that could displace it; every reader below (counts, offsets,
        # final join) and every caller sees one frozen enumeration.
        .localCheckpoint(eager=True)
    )

    counts = keyed.groupBy("__pid").agg(F.count("*").alias("__cnt"))
    a, b = counts.alias("a"), counts.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__cnt"), F.lit(0)).alias("__offset"))
    )
    return (
        keyed.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, (F.col("__offset") + F.col("__seq") + F.lit(1)))
        .drop("__pid", "__seq", "__offset")
    )


def exact_ntile(
    df: DataFrame,
    k: int,
    order_cols: list[Column | str],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + SQL-exact ``ntile(k) OVER (ORDER BY order_cols)`` — same
    position-based semantics (first n%k buckets get one extra row),
    computed from the distributed global row number plus one tiny
    total-count broadcast. Zero WindowExec nodes in the plan."""
    if k < 1:
        raise ValueError(f"ntile bucket count must be >= 1, got {k}")
    ranked = global_row_number(df, order_cols, rank_col="__rn",
                               num_partitions=num_partitions)
    total = ranked.groupBy().agg(F.count("*").alias("__n"))
    rn, n = F.col("__rn"), F.col("__n")
    q = F.floor(n / k)  # base bucket size
    r = n % k           # first r buckets hold q+1 rows
    big = r * (q + 1)   # rows covered by the oversized buckets
    bucket = (
        F.when(rn <= big, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - big - 1) / q) + 1)
        .cast("int")
    )
    return (
        ranked.join(F.broadcast(total))
        .withColumn(out_col, bucket)
        .drop("__rn", "__n")
    )


def prefix_sum_by_key(
    df: DataFrame,
    order_cols: list[Column | str],
    value_col: str,
    out_col: str,
    inclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """df + exact running sum of ``value_col`` over the total order
    ``order_cols`` — the distributed prefix sum, with NO unpartitioned
    window.

    Plan shape: one range exchange over the data, eagerly pinned (see
    module docstring — the totals path and the window path must see
    the SAME partition boundaries, and exchange reuse does not fire
    across their differently-pruned subtrees); per-partition totals
    (P rows, P = a configuration constant); exclusive offset prefix via
    the same config-bounded O(P²) broadcast self-join the ranking
    operator uses; the within-partition running sum is a Window
    PARTITIONED BY the range-partition id — every window task sees one
    range partition, never the whole frame.

    ``inclusive=False`` (default) yields the EXCLUSIVE prefix (sum of
    strictly-preceding rows) — the form cumulative-distribution
    consumers (exact AUC, CDF, quantile lookup) want."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if num_partitions:
        nparts = num_partitions
    else:
        conf = spark.conf.get("spark.sql.shuffle.partitions", "200")
        nparts = int(conf) if conf.isdigit() else spark.sparkContext.defaultParallelism
    part = df.repartitionByRange(nparts, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)

    totals = part.groupBy("__pid").agg(F.sum(value_col).alias("__tot"))
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(F.coalesce(F.sum("b.__tot"), F.lit(0)).alias("__offset"))
    )
    upper = -1 if not inclusive else Window.currentRow
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        part.withColumn("__within", F.coalesce(F.sum(value_col).over(w), F.lit(0)))
        .join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__offset") + F.col("__within"))
        .drop("__pid", "__within", "__offset")
    )


def count_inversions(
    ranks: DataFrame,
    rx_col: str = "rx",
    ry_col: str = "ry",
    n_parts: int = 32,
    n_buckets: int = 256,
) -> DataFrame:
    """EXACT inversion count of a permutation, distributed: given rows
    carrying dense ranks (rx, ry) ∈ 1..n (a total order on x and the
    permutation value on y), count pairs with rx_a < rx_b and
    ry_a > ry_b — the discordant-pair count behind Kendall's tau.
    Returns a 1-row DataFrame (n, inversions).

    Decomposition (every pair counted exactly once):
      * p = rx-range block, k = ry-range bucket (both ARITHMETIC on the
        dense ranks — no extra shuffle to assign)
      * same-p pairs: per-block merge-count (Arrow applyInPandas,
        O(m log m) per block, m ≈ n/n_parts — config-bounded)
      * cross-p, same-k pairs: per-bucket merge-count over rows sorted
        by (p, ry) — same-p pairs sort ascending so contribute zero;
        m ≈ n/n_buckets per bucket
      * cross-p, cross-k pairs: Σ c[p,k]·S[p,k] on the (n_parts ×
        n_buckets) count matrix, S = prefix-over-p of suffix-over-k —
        tiny-frame windows (partitioned), no per-row work at all.

    The ranks frame is consumed by three subplans — callers MUST pin it
    (localCheckpoint) per the ranking-operator consumer contract; the
    helper below does. At cluster scale n_parts/n_buckets scale with
    the cluster so each Python group stays memory-bounded."""
    import pandas as pd  # noqa: F401

    spark = ranks.sparkSession
    nf = ranks.agg(F.count("*").cast("long").alias("n"))
    work = (
        ranks.crossJoin(F.broadcast(nf))
        .select(
            F.col(rx_col).alias("rx"),
            F.col(ry_col).alias("ry"),
            ((F.col(rx_col) - 1) * n_parts / F.col("n")).cast("long").alias("p"),
            ((F.col(ry_col) - 1) * n_buckets / F.col("n")).cast("long").alias("k"),
        )
        .localCheckpoint()
    )

    def _inv(a):
        import numpy as np

        if len(a) <= 1:
            return 0
        m = len(a) // 2
        left, right = a[:m], a[m:]
        c = _inv(left) + _inv(right)
        return c + int(np.searchsorted(np.sort(right), left, side="left").sum())

    def block_inv(pdf):
        import numpy as np
        import pandas as pd

        y = pdf.sort_values("rx")["ry"].to_numpy(dtype=np.int64)
        return pd.DataFrame({"inv": [_inv(y)]})

    def bucket_inv(pdf):
        import numpy as np
        import pandas as pd

        y = pdf.sort_values(["p", "ry"])["ry"].to_numpy(dtype=np.int64)
        return pd.DataFrame({"inv": [_inv(y)]})

    same_p = work.groupBy("p").applyInPandas(block_inv, "inv long")
    same_k = work.groupBy("k").applyInPandas(bucket_inv, "inv long")

    # DENSE (n_parts x n_buckets) grid: the prefix/suffix windows must
    # see zero cells too, else cross terms through empty cells vanish
    grid = (
        spark.range(n_parts)
        .select(F.col("id").alias("p"))
        .crossJoin(spark.range(n_buckets).select(F.col("id").alias("k")))
    )
    c = grid.join(
        work.groupBy("p", "k").agg(F.count("*").cast("long").alias("c")),
        ["p", "k"],
        "left",
    ).withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    from pyspark.sql import Window

    wp = Window.partitionBy("k").orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    wk = (
        Window.partitionBy("p")
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    coarse = (
        c.withColumn("a", F.coalesce(F.sum("c").over(wp), F.lit(0)))
        .withColumn("s", F.coalesce(F.sum("a").over(wk), F.lit(0)))
        .agg(F.sum(F.col("c") * F.col("s")).cast("long").alias("inv"))
    )

    total = (
        same_p.select("inv")
        .unionByName(same_k.select("inv"))
        .unionByName(coarse)
        .agg(F.sum("inv").cast("long").alias("inversions"))
    )
    return nf.crossJoin(F.broadcast(total))  # 1-row scalar combine


def prefix_sums_by_key(
    df: DataFrame,
    order_cols: list[Column | str],
    values: dict[str, str],
    inclusive: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-column :func:`prefix_sum_by_key`: running sums of several
    value columns over ONE total order, paying the range shuffle once
    (the two-sample-CDF shape — e.g. Kolmogorov–Smirnov needs both
    samples' cumulative counts at every distinct value). ``values``
    maps output column -> input column. Eagerly pinned like
    :func:`prefix_sum_by_key` (module docstring)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    if num_partitions:
        nparts = num_partitions
    else:
        conf = spark.conf.get("spark.sql.shuffle.partitions", "200")
        nparts = int(conf) if conf.isdigit() else spark.sparkContext.defaultParallelism
    part = df.repartitionByRange(nparts, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    totals = part.groupBy("__pid").agg(
        *[F.sum(src).alias(f"__t_{out}") for out, src in values.items()]
    )
    a, b = totals.alias("a"), totals.alias("b")
    offsets = (
        a.join(F.broadcast(b), F.col("b.__pid") < F.col("a.__pid"), "left")
        .groupBy(F.col("a.__pid").alias("__pid"))
        .agg(
            *[
                F.coalesce(F.sum(f"b.__t_{out}"), F.lit(0)).alias(f"__o_{out}")
                for out in values
            ]
        )
    )
    upper = Window.currentRow if inclusive else -1
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    out_df = part
    for out, src in values.items():
        out_df = out_df.withColumn(
            f"__w_{out}", F.coalesce(F.sum(src).over(w), F.lit(0))
        )
    out_df = out_df.join(F.broadcast(offsets), "__pid")
    for out in values:
        out_df = out_df.withColumn(
            out, F.col(f"__o_{out}") + F.col(f"__w_{out}")
        ).drop(f"__o_{out}", f"__w_{out}")
    return out_df.drop("__pid")
