#!/usr/bin/env python
"""The registry runner: build registered queries and hand each one to a
mode's action.

    python bench.py [NAME ...] [--factor N]             # timed noop writes
    python bench.py plans TAG [NAME ...] [--factor N]   # formatted explains
    python bench.py scan-audit [NAME ...]               # duplicate-scan audit
    python bench.py oracle [NAME ...] [--streaming]     # DuckDB oracle compare

Every mode reads the tables at $SPARK_GRAFT_SF_DIR (default sf0.1).
`--factor N` first writes a key-shifted N x copy of those tables into a
temporary directory (see write_scaled_copy), runs the mode over that
copy and removes it at exit. Default NAMEs: the HEADLINE set for timing
and plans, every registered query for the scan audit, and every
oracle-gated query (streaming_* only with --streaming) for the oracle.

Timed mode (the default) prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes fully via the noop sink (no driver collect skew).
Timing is the PER-QUERY MEDIAN of three full passes (round 3): single
runs moved +-25% on machine noise between rounds (BENCH_r01 vs r02's
sample_hash_deterministic), drowning real regressions; three
round-robin passes (full set each pass, so repetitions of one query
are spread across the wall-clock of the whole bench) give a median
that is stable under transient load while still costing <1 minute.

plans writes plans/$PLANS_ROUND/<name>_<TAG>.txt (round default r09) —
an optimization round's plan evidence. scan-audit prints one FLAG line
per query that scans a table >= FLAG_AT times (see scan_counts); plan
shape is SF-independent, so run it at sf0.01 to keep eager construction
cheap. oracle exits 1 if any query disagrees with its DuckDB oracle;
the driver gates at sf0.01, and a sweep at sf0.1 catches scale-dependent
divergences (it found a cross-engine round-half boundary sf0.01 never
hits).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import re
import sys
import tempfile
import time
import traceback
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from postrack_spark.queries import load_all
from postrack_spark.session import TABLE_NAMES, get_spark

REPO = os.path.dirname(os.path.abspath(__file__))

HEADLINE = [
    # batch relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "join_inner_orders_per_nation",
    "window_topk_orders_per_customer",
    "sessionize_user_events",
    "scalar_higher_order_arrays",
    "agg_salted_hot_keys",
    # CDC materialization (the reference's domain)
    "cdc_latest_per_key_materialize",
    # LLM-pipeline operator families
    "dedup_minhash_lsh",
    "vector_knn_bruteforce",
    "text_language_id",
    "sample_hash_deterministic",
    # round-2 additions: IVM, graph, repetition screening. BASELINE.md
    # records the round-1-comparable subtotal (the first 15) separately
    # from the full total so cross-round numbers stay comparable.
    "cdc_incremental_agg",
    "graph_triangle_count",
    "text_repetition_filter",
    # round-3 additions: distributed exact ranking family
    "window_revenue_deciles",
    "agg_exact_percentile_rank",
    # round-3 session-3 additions: distributed linear algebra (one-pass
    # Gram partials + power iteration), prefix-sum ABC, BM25 retrieval
    "vector_pca_power_iteration",
    "agg_pareto_abc",
    "text_bm25_search",
    # round-3 session-4 additions: mining family (thresholded-relation
    # association rules) and single-pass OHLC resampling
    "assoc_basket_rules",
    "events_ohlc_daily",
    # round-4 additions: space-filling-curve layout certification (the
    # Hilbert chain is 12 unrolled CASE levels — the heaviest of the
    # layout family) and the temperature-flattened training mixture
    "layout_hilbert_vs_zorder_seams",
    "sample_temperature_mixture",
]
R1_COMPARABLE = 15  # first N entries = round-1 headline set

MODES = ("plans", "scan-audit", "oracle")

# Key columns shifted by copy x stride in each replicated table of the
# scaled copy. Every foreign key shares its primary key's stride, so a
# join keeps its per-copy fan-out instead of multiplying it. Tables not
# listed (session.BROADCAST_TABLES: region, nation, supplier) are written
# once, and the keys into them (l_suppkey, c_nationkey, s_nationkey)
# stay unshifted.
SHIFTED_KEYS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# A table scanned this many times by one query is flagged by scan-audit.
FLAG_AT = 3


def run_each(
    spark: SparkSession,
    names: list[str],
    sf_dir: str,
    action: Callable[[str, DataFrame], None],
    on_error: Callable[[str, Exception], None] | None = None,
) -> dict[str, float]:
    """Build each named query over sf_dir and pass it to action.

    Returns wall seconds per query, construction included (ranking
    queries run eager jobs while they are built). A query that raises
    goes to on_error, and the loop moves on; without on_error the
    exception propagates.
    """
    specs = load_all()
    secs: dict[str, float] = {}
    for name in names:
        start = time.perf_counter()
        try:
            action(name, specs[name].fn(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001 — a sweep reports, never aborts
            if on_error is None:
                raise
            on_error(name, ex)
            continue
        secs[name] = time.perf_counter() - start
    return secs


def write_scaled_copy(src_dir: str, dst_dir: str, factor: int) -> None:
    """Write `factor` key-shifted copies of the tables at src_dir into
    dst_dir: one file per table with the source schema (so
    TIMESTAMP(NANOS) columns still get load_tables' conversion), one row
    group per copy.

    Copy c adds c x stride to every SHIFTED_KEYS column, where stride is
    the power of ten above the largest such key. Copies therefore have
    disjoint key spaces with identical per-key structure: join fan-out,
    dedup density and per-key event counts are preserved rather than
    multiplied, and key % 10 (which the CDC fixtures branch on) is
    unchanged. Tables outside SHIFTED_KEYS are written once.
    """
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tables = {
        name: pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        for name in TABLE_NAMES
        if os.path.exists(os.path.join(src_dir, f"{name}.parquet"))
    }
    largest = max(
        pc.max(tables[name][col]).as_py() or 0
        for name, cols in SHIFTED_KEYS.items()
        if name in tables
        for col in cols
    )
    stride = 10 ** len(str(largest))
    for name, table in tables.items():
        copies = factor if name in SHIFTED_KEYS else 1
        with pq.ParquetWriter(os.path.join(dst_dir, f"{name}.parquet"), table.schema) as out:
            for copy in range(copies):
                shifted = table
                for col in SHIFTED_KEYS.get(name, []):
                    i = table.schema.get_field_index(col)
                    shifted = shifted.set_column(
                        i, table.schema.field(i), pc.add(table[col], copy * stride)
                    )
                out.write_table(shifted, row_group_size=max(1, table.num_rows))


def explain(df: DataFrame) -> str:
    """The formatted physical plan, as df.explain("formatted") prints it."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


# A physical-plan tree line: "<indent>+- <Name> (<id>)", with ":- " for
# a non-last child and "* " before a whole-stage-codegen operator.
_TREE_NODE = re.compile(r"^(?P<indent>[\s:]*(?:\+- |:- )?)(?:\* )?(?P<name>\S.*?)\s*\((?P<id>\d+)\)$")
_DETAIL_HEAD = re.compile(r"^\((\d+)\) Scan parquet")
_LOCATION = re.compile(r"Location:.*\[[^\]]*/([^/\]]+)\.parquet\]?")


def scan_counts(plan: str) -> dict[str, int]:
    """Distinct non-cached Scan-parquet operator ids per table in a
    formatted explain.

    A scan beneath an InMemoryRelation is discounted: a pinned/cached
    subtree materializes once per action however many consumers render
    it. The same cache entry can render under several consumers, but it
    keeps one operator id per cached plan object, so counting distinct
    ids already dedupes it. A table counted >= FLAG_AT times means one
    action reads the same parquet bytes that often — the duplicate-
    subtree class session.pin_small removes; a flagged query is either
    still fixable or inherently multi-pass.
    """
    lines = plan.splitlines()
    # --- tree section: find scans and whether an ancestor is an IMR ---
    try:
        start = next(i for i, ln in enumerate(lines) if "Physical Plan" in ln) + 1
    except StopIteration:
        return {}
    stack: list[tuple[int, str]] = []  # (depth, node name)
    scans: dict[str, bool] = {}  # id -> under_imr
    for ln in lines[start:]:
        if not ln.strip():
            break
        m = _TREE_NODE.match(ln)
        if not m:
            continue
        depth, name, op_id = len(m.group("indent")), m.group("name"), m.group("id")
        while stack and stack[-1][0] >= depth:
            stack.pop()
        under_imr = any(n.startswith("InMemoryRelation") for _, n in stack)
        stack.append((depth, name))
        if name.startswith("Scan parquet"):
            # distinct ids dedupe a cache entry rendered twice
            scans[op_id] = scans.get(op_id, True) and under_imr
    # --- details section: map scan id -> table name ---
    table_of: dict[str, str] = {}
    cur: str | None = None
    for ln in lines:
        dm = _DETAIL_HEAD.match(ln)
        if dm:
            cur = dm.group(1)
            continue
        if cur is not None:
            lm = _LOCATION.search(ln)
            if lm:
                table_of[cur] = lm.group(1)
                cur = None
    out: dict[str, int] = {}
    for op_id, under in scans.items():
        if under:
            continue
        tbl = table_of.get(op_id, f"id{op_id}")
        out[tbl] = out.get(tbl, 0) + 1
    return out


def _noop_write(name: str, df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark: SparkSession, names: list[str], sf_dir: str, args) -> int:
    # Warm-up pass: run every query once at the smallest SF so
    # whole-stage-codegen compilation (janino) and JIT happen outside
    # the timed region — the timed sf0.1 runs then measure data
    # processing, not per-plan compile (~1-2 s/query on this machine,
    # i.e. it would dominate and hide real regressions). Generated code
    # does not embed file paths, so the sf0.001 plans hit the same
    # codegen cache entries as the sf0.1 runs.
    warm_dir = os.path.join(os.path.dirname(args.src_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    run_each(spark, names, warm_dir, _noop_write)
    # One run at the timed SF so its parquet footers are cached too.
    run_each(spark, names[:1], sf_dir, _noop_write)

    passes = [run_each(spark, names, sf_dir, _noop_write) for _ in range(3)]
    timings = {
        name: round(sorted(p[name] for p in passes)[1], 3) for name in names
    }
    best = {name: round(min(p[name] for p in passes), 3) for name in names}

    total = round(sum(timings.values()), 3)
    r1_names = [n for n in HEADLINE[:R1_COMPARABLE] if n in timings]
    sf = args.src_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "r1_comparable_subtotal": round(sum(timings[n] for n in r1_names), 3),
                "timing": "median_of_3_round_robin_passes",
                # supplementary: best-of-3, the fair analog of a lucky
                # single-pass number from earlier rounds
                "queries_best": best,
                "r1_comparable_subtotal_best": round(sum(best[n] for n in r1_names), 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # Scaling observability (additions only — every earlier
                # key is unchanged): the driver benches at several core
                # counts; echoing the session's actual master string and
                # scheduler parallelism makes "honored but
                # overhead-bound" distinguishable from "ignored" in the
                # bench line itself.
                "cpus_env": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "cpus_effective": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
                "pgoutput_decode_events_per_sec_1thread": _decode_rate(),
                "factor": args.factor,
            }
        )
    )
    return 0


def capture_plans(spark: SparkSession, names: list[str], sf_dir: str, args) -> int:
    out_dir = os.path.join(REPO, "plans", os.environ.get("PLANS_ROUND", "r09"))
    os.makedirs(out_dir, exist_ok=True)

    def capture(name: str, df: DataFrame) -> None:
        with open(os.path.join(out_dir, f"{name}_{args.tag}.txt"), "w") as fh:
            fh.write(explain(df))
        print(name, "ok", flush=True)

    run_each(spark, names, sf_dir, capture)
    return 0


def scan_audit(spark: SparkSession, names: list[str], sf_dir: str, args) -> int:
    flagged: list[str] = []

    def audit(name: str, df: DataFrame) -> None:
        hot = {t: c for t, c in scan_counts(explain(df)).items() if c >= FLAG_AT}
        if hot:
            flagged.append(name)
            desc = " ".join(f"{t}={c}" for t, c in sorted(hot.items()))
            print(f"{name}\tFLAG\t{desc}", flush=True)

    def error(name: str, ex: Exception) -> None:
        last = traceback.format_exception_only(type(ex), ex)[-1].strip()
        print(f"{name}\tERROR\t{last}", flush=True)

    run_each(spark, names, sf_dir, audit, error)
    print(f"# flagged: {len(flagged)}")
    return 0


def oracle_sweep(spark: SparkSession, names: list[str], sf_dir: str, args) -> int:
    from tests.oracle_harness import compare, duckdb_connection

    specs = load_all()
    con = duckdb_connection(sf_dir)
    bad: list[tuple[str, str]] = []

    def check(name: str, df: DataFrame) -> None:
        r = compare(name, df, con, specs[name].oracle)
        if not r.ok:
            bad.append((name, r.detail[:120]))

    t0 = time.time()
    run_each(spark, names, sf_dir, check, lambda name, ex: bad.append((name, f"EXCEPTION {ex}"[:120])))
    con.close()
    print(f"{len(names) - len(bad)}/{len(names)} ok at {sf_dir} in {round(time.time() - t0)}s")
    for name, detail in bad:
        print("FAIL", name, detail)
    return 1 if bad else 0


ACTIONS = {
    "time": time_queries,
    "plans": capture_plans,
    "scan-audit": scan_audit,
    "oracle": oracle_sweep,
}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("words", nargs="*", metavar="[MODE] [TAG] NAME")
    p.add_argument("--factor", type=int, default=1,
                   help="run over a key-shifted N x copy of the tables")
    p.add_argument("--streaming", action="store_true",
                   help="oracle mode: include the streaming_* queries")
    args = p.parse_intermixed_args(argv)
    words = list(args.words)
    args.mode = words.pop(0) if words and words[0] in MODES else "time"
    if args.mode == "plans":
        if not words:
            p.error("plans needs a TAG")
        args.tag = words.pop(0)
    if args.factor < 1:
        p.error("--factor must be >= 1")
    specs = load_all()
    unknown = [n for n in words if n not in specs]
    if unknown:
        p.error(f"unknown queries: {' '.join(unknown)}")
    if args.mode == "oracle":
        ungated = [n for n in words if specs[n].oracle is None]
        if ungated:
            p.error(f"no oracle for: {' '.join(ungated)}")
        args.names = words or sorted(
            n for n, s in specs.items()
            if s.oracle is not None and (args.streaming or not n.startswith("streaming_"))
        )
    elif args.mode == "scan-audit":
        args.names = words or list(specs)
    else:
        args.names = words or [n for n in HEADLINE if n in specs]
    args.src_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    spark = get_spark("postrack-bench")
    with contextlib.ExitStack() as scope:
        sf_dir = args.src_dir
        if args.factor > 1:
            sf_dir = scope.enter_context(tempfile.TemporaryDirectory(prefix="bench-scaled-"))
            write_scaled_copy(args.src_dir, sf_dir, args.factor)
        try:
            return ACTIONS[args.mode](spark, args.names, sf_dir, args)
        finally:
            spark.stop()


def _decode_rate(n: int = 100_000) -> int:
    """Single-thread pgoutput decode throughput (events/s) — the
    counterpart of the reference's one-goroutine handler loop
    (postrack.go:343-412). In the Spark DataSource this decoder runs
    per-partition in parallel Python workers, so aggregate capture
    throughput scales with partitions; the single-thread number is the
    honest per-lane comparison."""
    from datetime import datetime, timezone

    from postrack_spark.sources.pgoutput import (
        decode_xlogdata_stream,
        encode_begin,
        encode_commit,
        encode_insert,
        encode_relation,
        wrap_xlogdata,
    )

    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    frames = [wrap_xlogdata(encode_relation(1, "public", "orders", list("abcdef")), 0)]
    lsn = 1
    for i in range(n):
        if i % 100 == 0:
            frames.append(wrap_xlogdata(encode_begin(lsn, ts, i), lsn))
            lsn += 1
        frames.append(
            wrap_xlogdata(
                encode_insert(1, [str(i), "x" * 10, "3.14", "2024-01-01", "P", str(i * 2)]),
                lsn,
            )
        )
        lsn += 1
        if i % 100 == 99:
            frames.append(wrap_xlogdata(encode_commit(lsn, lsn, ts), lsn))
            lsn += 1
    start = time.perf_counter()
    rows = decode_xlogdata_stream(frames)
    assert len(rows) == n
    return int(n / (time.perf_counter() - start))


if __name__ == "__main__":
    sys.exit(main())
