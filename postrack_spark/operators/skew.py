"""Skew-mitigation operators: salting for hot keys.

At 100 TB a handful of hot keys (a viral document source, a mega
customer, the empty-string fingerprint) can pin a whole aggregation or
join onto one reducer. AQE's skew-join split handles sort-merge joins
at runtime; these helpers cover the two places AQE does not:

  salted_agg   — two-phase aggregation: group by (key, salt) first so
                 a hot key's rows spread over `n_salts` reducers, then
                 re-aggregate by key. Only works for algebraic
                 aggregates (sum/count/min/max — anything with a merge
                 step); the caller supplies both phases explicitly so
                 the composition stays visibly correct.
  salted_join  — replicate the small side `n_salts` times with an added
                 salt column, salt the big side with pmod(hash), join on
                 (key, salt). Spreads a hot key over n_salts tasks while
                 keeping an equi-join (no cartesian blow-up); use when
                 the small side is too big to broadcast outright but a
                 hot-key shuffle join would straggle.

Both are semantically invisible: output equals the unsalted plan
row-for-row (tests/oracle gate this), only the shuffle layout changes.
The reference has no aggregation at all (SURVEY.md §2b); these exist
for the 100 TB north star (BASELINE.json:6).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, salt_col: str = "__salt") -> DataFrame:
    """Add a uniform salt in [0, n_salts) — deterministic per row where
    possible is NOT required (salting is semantically invisible), so use
    a cheap random draw; `rand` is seeded per-partition by Spark."""
    return df.withColumn(salt_col, (F.rand(seed=42) * n_salts).cast("int"))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    partial_aggs: list[Column],
    final_aggs: list[Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over (key, salt) then (key).

    `partial_aggs` run per (key, salt); `final_aggs` merge the partials
    per key and must reference the partials' output names, e.g.::

        salted_agg(df, ["k"],
                   [F.sum("x").alias("s"), F.count("*").alias("c")],
                   [F.sum("s").alias("sum_x"), F.sum("c").alias("n")])

    Spark's own hash aggregate already does partial aggregation
    map-side, which absorbs most skew for low-cardinality keys; salting
    additionally spreads the REDUCE side, which matters when a hot key's
    partial states are themselves huge (collect_list/collect_set,
    percentile buffers) or when AQE is off.
    """
    salted = with_salt(df, n_salts)
    partial = salted.groupBy(*group_cols, "__salt").agg(*partial_aggs)
    return partial.groupBy(*group_cols).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big side's hot keys spread over `n_salts`
    tasks: big rows get a salt derived from the WHOLE row; the small
    side is replicated once per salt value (explode of a literal range —
    a `n_salts`× blow-up of the SMALL side only), and the join key
    becomes (on…, salt). Join semantics are unchanged for inner/left
    joins: each big row matches exactly the one small replica carrying
    its salt.

    The salt MUST NOT be a function of the join key alone — round 4's
    measured skew harness (a since-deleted stress script; output
    equality is gated in tests/test_scale_ops.py) caught exactly
    that bug here: pmod(hash(join_key)) gives every row of a hot key
    the SAME salt, so the hot key still lands on one reducer and the
    "salted" join straggles identically to the plain one. Hashing all
    big-side columns spreads a hot key's rows across salts whenever any
    non-key attribute varies (duplicate FULL rows still co-locate —
    acceptable, dedup them upstream if that is the hotness).
    """
    salted_big = big.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in big.columns], F.lit(7)),
               F.lit(n_salts)).cast("int"),
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted_big.join(replicated_small, [*on, "__salt"], how).drop("__salt")
