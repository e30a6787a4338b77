"""Scale-path operators: salting (skew) and bucketed co-located joins,
plus the row-at-a-time HandleFunc sink adapter.

Salting and bucketing must be semantically invisible — each test checks
output equality against the plain form — and the bucketing test also
asserts the plan property that justifies its existence (no Exchange on
either join side)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from postrack_spark.operators.skew import salted_agg, salted_join, with_salt
from postrack_spark.session import load_tables
from postrack_spark.sources.bucketed import cobucketed_join, write_bucketed


def test_salted_agg_equals_plain(spark, sf_dir):
    events = load_tables(spark, sf_dir)["events"]
    salted = salted_agg(
        events,
        ["event_type"],
        partial_aggs=[F.count("*").alias("__n"), F.sum("value").alias("__s")],
        final_aggs=[F.sum("__n").alias("n"), F.round(F.sum("__s"), 2).alias("s")],
        n_salts=16,
    )
    plain = events.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salt_distribution_spreads_hot_key(spark, sf_dir):
    events = load_tables(spark, sf_dir)["events"]
    n_groups = (
        with_salt(events, 16)
        .filter(F.col("event_type") == "click")
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_groups > 8  # a hot key occupies most of the 16 salt lanes


def test_salted_join_equals_plain(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    events = t["events"]
    cust = t["customer"].select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    salted = salted_join(events, cust, on=["user_id"], n_salts=8)
    plain = events.join(cust, "user_id")
    assert salted.count() == plain.count()
    s = salted.groupBy("c_mktsegment").count().collect()
    p = plain.groupBy("c_mktsegment").count().collect()
    assert sorted(map(tuple, s)) == sorted(map(tuple, p))


def test_cobucketed_join_has_no_exchange(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    write_bucketed(
        t["orders"], "b_orders", ["o_orderkey"], n_buckets=4, sort_cols=["o_orderkey"]
    )
    write_bucketed(
        t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        n_buckets=4,
        sort_cols=["o_orderkey"],
    )
    # Force the shuffle-join path (tiny test tables would broadcast,
    # which hides the property bucketing exists to prove: a fact⋈fact
    # join too big to broadcast, running with no shuffle on either side).
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cobucketed_join(spark, "b_orders", "b_lineitem", on=["o_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        plain = t["orders"].join(
            t["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_scan(spark, sf_dir):
    from postrack_spark.operators.skew import with_salt  # noqa: F401  (module import check)
    from postrack_spark.sources.layout import write_partitioned

    events = load_tables(spark, sf_dir)["events"]
    out = tempfile.mkdtemp(prefix="part_events_") + "/events"
    write_partitioned(events, out, ["event_type"])
    back = spark.read.parquet(out)
    clicks = back.filter(F.col("event_type") == "click")
    plan = clicks._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1][:200], plan
    assert clicks.count() == events.filter(F.col("event_type") == "click").count()


def test_clustered_write_row_group_stats(spark, sf_dir):
    """Clustered files: each file covers a narrow user_id range, so a
    point predicate's min/max pruning can skip most files/row-groups.
    Verified via parquet footer stats (non-overlapping ranges), not
    timing."""
    import pyarrow.parquet as pq

    from postrack_spark.sources.layout import write_clustered

    events = load_tables(spark, sf_dir)["events"]
    out = tempfile.mkdtemp(prefix="clust_events_") + "/events"
    write_clustered(events, out, ["user_id"], n_files=4)
    ranges = []
    for name in os.listdir(out):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, name)).metadata
        col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("user_id")
        st = md.row_group(0).column(col_idx).statistics
        ranges.append((st.min, st.max))
    ranges.sort()
    assert len(ranges) >= 3
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # files cover disjoint key ranges
    assert spark.read.parquet(out).count() == events.count()


def test_row_sink_receives_handlefunc_shape(spark):
    """foreach row sink: each change event reaches a reference-shaped
    callback (lsn, table, event, new, old). Executor-side side effects
    aren't visible to the driver, so the callback appends to files in a
    temp dir (local mode shares the FS)."""
    from postrack_spark.api import Conn
    from postrack_spark.sources.postgres_cdc import write_frame_file
    from tests.test_pgoutput import golden_frames

    capture = tempfile.mkdtemp(prefix="capture_rows_")
    write_frame_file(os.path.join(capture, "000001.pgout"), golden_frames())
    outdir = tempfile.mkdtemp(prefix="rows_out_")

    def handle(lsn, table, event, new, old):
        with open(os.path.join(outdir, f"{lsn}"), "w") as f:
            f.write(f"{table}|{event}|{(new or {}).get('o_orderkey', '')}")

    conn = Conn("postgresql://ignored")
    q = conn.bootstrap(
        spark, "slot_rows", tables=[], events=["INSERT", "UPDATE", "DELETE", "TRUNCATE"],
        lsn=0, capture_dir=capture, row_handler=handle,
    )
    q.awaitTermination(60)
    got = sorted(os.listdir(outdir), key=int)
    assert len(got) == 6
    first = open(os.path.join(outdir, got[0])).read()
    assert first == "orders|INSERT|1"


def test_connected_components_transitive_closure(spark):
    from postrack_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 1)],
        "doc_a long, doc_b long",
    )
    got = {r["doc"]: r["cluster"] for r in connected_components(edges).collect()}
    # 1-2-3-9-8-7 form one component (via 9-1); 5-6 another
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 8: 1, 9: 1, 5: 5, 6: 5}


def test_minhash_array_path_equals_exploded(spark, sf_dir):
    """The zero-shuffle array variants must produce identical signatures
    and verified pairs as the exploded path (they back shuffle-bound
    deployments; the registered queries use the codegen-friendly
    exploded form — see operators/dedup.py docstrings)."""
    from postrack_spark.operators.dedup import (
        doc_shingle_arrays,
        doc_shingles,
        jaccard_pairs,
        jaccard_pairs_from_arrays,
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_signatures_from_arrays,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    shingles = doc_shingles(docs, "doc_id", "text", k=3)
    arrays = doc_shingle_arrays(docs, "doc_id", "text", k=3)
    sig_a = minhash_signatures(docs, "doc_id", "text", n_hashes=8, tokens_df=shingles)
    sig_b = minhash_signatures_from_arrays(arrays, n_hashes=8)
    assert sorted(map(tuple, sig_a.collect())) == sorted(map(tuple, sig_b.collect()))
    cand = lsh_candidate_pairs(sig_b, n_hashes=8, band_size=2, max_bucket_size=100)
    va = jaccard_pairs(shingles, pairs=cand, threshold=0.5).select("doc_a", "doc_b", "jaccard")
    vb = jaccard_pairs_from_arrays(arrays, pairs=cand, threshold=0.5).select(
        "doc_a", "doc_b", "jaccard"
    )
    assert sorted(map(tuple, va.collect())) == sorted(map(tuple, vb.collect()))


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """enable_runtime_filters: a selective dim-side filter must inject
    a bloom filter that pre-prunes the fact side of a shuffle join
    (validated with the size floor zeroed; in cluster use the 10GB
    default keeps the extra aggregation off small scans)."""
    from postrack_spark.plans import explain_string
    from postrack_spark.session import enable_runtime_filters, load_tables

    t = load_tables(spark, sf_dir)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        enable_runtime_filters(spark, application_side_min="0")
        sel = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
        j = t["lineitem"].join(sel, t["lineitem"].l_orderkey == sel.o_orderkey)
        assert "bloom_filter_agg" in explain_string(j, "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )


def test_fan_out_raises_parallelism_only_when_needed(spark, sf_dir):
    """fan_out must repartition a single-partition scan up to the
    session default parallelism, and leave an already-parallel plan
    untouched (no extra shuffle on cluster-shaped inputs)."""
    from postrack_spark.session import fan_out, load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    assert docs.rdd.getNumPartitions() == 1
    out = fan_out(docs)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # idempotent via the memo cache: same handle back
    assert fan_out(docs) is out
    # already-parallel input: returned as-is, no repartition node
    assert fan_out(out) is out


def test_zorder_write_skips_on_both_columns(spark, tmp_path):
    """write_zordered: after Morton clustering on (a, b), a selective
    range filter on EITHER column must touch only a minority of files
    (single-column clustering can only serve one of the two)."""
    from postrack_spark.sources.layout import write_zordered

    n = 1 << 14
    df = spark.range(n).selectExpr(
        "CAST(id % 128 AS LONG) AS a",
        "CAST(pmod(hash(id), 128) AS LONG) AS b",
        "id AS payload",
    )
    path = str(tmp_path / "zorder")
    write_zordered(df, path, "a", "b", n_files=16, bits=7)
    back = spark.read.parquet(path)
    total = len(back.inputFiles())
    assert total >= 8

    def files_touched(pred):
        rows = back.filter(pred).selectExpr("input_file_name() f").distinct().collect()
        return len(rows)

    touched_a = files_touched("a < 16")   # 1/8 of the a-range
    touched_b = files_touched("b < 16")   # 1/8 of the b-range
    # Morton layout: a 1/8 slab in either dimension intersects ~sqrt
    # fraction of tiles; assert it's well under all files for BOTH.
    assert touched_a <= total / 2, (touched_a, total)
    assert touched_b <= total / 2, (touched_b, total)


def test_mllib_minhash_lsh_agrees_with_custom_pipeline(spark, sf_dir):
    """Cross-validation of the custom MinHash+LSH tier against MLlib's
    MinHashLSH (SURVEY §2b maps near-dup to it): every >= 0.8-Jaccard
    pair our exact verifier emits must also be surfaced by MLlib's
    approxSimilarityJoin at the matching distance threshold. (The
    custom tier is the registered path because its md5 hashing is
    oracle-checkable; MLlib's seeded murmur hashes are not.)"""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    from postrack_spark.operators.dedup import doc_tokens
    from postrack_spark.operators.dedup import jaccard_pairs
    from postrack_spark.session import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    toks = doc_tokens(docs, "doc_id", "text")
    exact = (
        jaccard_pairs(toks, pairs=None, threshold=0.8)
        .select("doc_a", "doc_b")
        .collect()
    )
    want = {(r["doc_a"], r["doc_b"]) for r in exact}
    if not want:
        import pytest

        pytest.skip("no >=0.8 unigram-Jaccard pairs at this SF")

    tokened = docs.select("doc_id", F.split("text", " ").alias("words"))
    cv = CountVectorizer(inputCol="words", outputCol="features", binary=True).fit(tokened)
    feats = cv.transform(tokened)
    model = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42).fit(
        feats
    )
    got_rows = (
        model.approxSimilarityJoin(feats, feats, 0.2 + 1e-9, distCol="jd")
        .selectExpr("datasetA.doc_id AS a", "datasetB.doc_id AS b")
        .filter(F.col("a") < F.col("b"))
        .collect()
    )
    got = {(r["a"], r["b"]) for r in got_rows}
    assert want <= got, f"MLlib missed {sorted(want - got)[:5]}"


def test_misra_gries_guarantees_hold_on_adversarial_partitioning(spark):
    """MG theorems on a skewed key under several partitionings: every
    heavy key (true > N/(k+1)) is a candidate, est <= true, and
    true - est <= N/(k+1). The sketch CONTENTS legitimately vary with
    partitioning; the guarantees must not."""
    from pyspark.sql import functions as F

    from postrack_spark.operators.stats import misra_gries_candidates

    n = 20000
    base = spark.range(n).select(
        F.expr("CAST(floor(sqrt(CAST(id % 2500 AS DOUBLE))) AS BIGINT)").alias("key")
    )
    exact = {
        r["key"]: r["cnt"]
        for r in base.groupBy("key").agg(F.count("*").alias("cnt")).collect()
    }
    for k in (8, 32):
        for parts in (1, 7, 32):
            cand = {
                r["key"]: r["est"]
                for r in misra_gries_candidates(
                    base.repartition(parts), "key", k
                ).collect()
            }
            assert len(cand) <= k
            bound = n // (k + 1)
            for key, true_n in exact.items():
                est = cand.get(key, 0)
                assert est <= true_n
                assert true_n - est <= bound, (k, parts, key, true_n, est)
                if true_n > bound:
                    assert key in cand


def test_star_cc_transitive_closure(spark):
    from postrack_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 1)],
        "doc_a long, doc_b long",
    )
    got = {r["doc"]: r["cluster"]
           for r in connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 8: 1, 9: 1, 5: 5, 6: 5}


def test_star_cc_matches_propagation_on_copurchase_graph(spark):
    """The O(log n) large-star/small-star form must produce the exact
    labeling of the fixed-round propagation baseline on the real
    co-purchase graph the dedup/graph queries run on."""
    from postrack_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )
    from postrack_spark.queries.graph_queries import _edges

    e = _edges(spark, "/root/testdata/sf0.001").select(
        F.col("pa").alias("doc_a"), F.col("pb").alias("doc_b"))
    base = {r["doc"]: r["cluster"]
            for r in connected_components(e, max_iter=40).collect()}
    stats: dict = {}
    star = {r["doc"]: r["cluster"]
            for r in connected_components_star(e, stats=stats).collect()}
    assert star == base
    assert stats["rounds"] <= 8  # O(log n), not O(diameter)


def test_star_cc_path_graph_diameter_independence(spark):
    """A 64-node path is the propagation worst case (diameter 63 ->
    ~63 min-label rounds). Star alternation must finish in O(log n)
    rounds and still label every node with the component min; the
    unconverged-exhaustion path must RAISE, not return."""
    import pytest as _pytest

    from postrack_spark.operators.dedup import connected_components_star

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    stats: dict = {}
    got = {r["doc"]: r["cluster"]
           for r in connected_components_star(edges, stats=stats).collect()}
    assert got == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 10, f"rounds grew with diameter: {stats}"
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(edges, max_iter=1)


def test_star_cc_random_graphs_match_union_find(spark):
    """Seeded random graphs: star CC vs a driver-side union-find."""
    import random

    from postrack_spark.operators.dedup import connected_components_star

    rng = random.Random(20260815)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        want = {}
        for a, b in edges:
            for x in (a, b):
                r = find(x)
                want[r] = min(want.get(r, x), x)
        expect = {x: want[find(x)] for e in edges for x in e}
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["doc"]: r["cluster"]
               for r in connected_components_star(df).collect()}
        assert got == expect, f"trial {trial}"


def test_star_cc_matches_propagation_on_dedup_pair_graph(spark):
    """The dedup cluster pipeline context: star CC on the real
    MinHash-LSH >=0.5-Jaccard pair graph must label identically to
    the propagation operator the registered query uses."""
    from postrack_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        doc_shingles,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from postrack_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    sh = doc_shingles(docs, "doc_id", "text", k=3)
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=16,
                              tokens_df=sh)
    cand = lsh_candidate_pairs(sigs, n_hashes=16, band_size=2,
                               max_bucket_size=100)
    pairs = jaccard_pairs(sh, pairs=cand, threshold=0.5).select(
        "doc_a", "doc_b").localCheckpoint()
    assert pairs.count() > 0, "fixture needs near-dup pairs"
    base = {r["doc"]: r["cluster"]
            for r in connected_components(pairs).collect()}
    star = {r["doc"]: r["cluster"]
            for r in connected_components_star(pairs).collect()}
    assert star == base


def test_pin_small_concurrent_registry_safe(spark, sf_dir):
    """pin_small's registry is mutated from several driver threads at
    once in real runs (foreachBatch hooks building frames while the main
    thread constructs a query). Hammer it from 8 threads with colliding
    and distinct names past the LRU cap: no ValueError from racing
    remove/pop, and the registry stays internally consistent (order list
    matches the dict, size within the cap). The toy pins are released at
    the end so later tests in the shared session start without them."""
    import threading

    from postrack_spark import session as S

    t = load_tables(spark, sf_dir)
    errors: list[BaseException] = []
    with S._PIN_LOCK:
        before = set(S._PINNED_SMALL)

    def worker(tid: int) -> None:
        try:
            for i in range(30):
                # half the names collide across threads, half are unique
                name = f"pin_race_{i % 4}" if i % 2 == 0 else f"pin_race_{tid}_{i}"
                S.pin_small(name, t["nation"].select("n_nationkey"))
        except BaseException as ex:  # noqa: BLE001 — collect to re-raise
            errors.append(ex)

    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errors, errors
        with S._PIN_LOCK:
            assert len(S._PINNED_ORDER) <= S._PINNED_MAX
            assert sorted(S._PINNED_ORDER) == sorted(S._PINNED_SMALL.keys())
    finally:
        with S._PIN_LOCK:
            added = {n: S._PINNED_SMALL.pop(n) for n in set(S._PINNED_SMALL) - before}
            S._PINNED_ORDER[:] = [n for n in S._PINNED_ORDER if n not in added]
        for df in added.values():
            df.unpersist()


def test_pin_small_same_name_race_keeps_pin_cached(spark, monkeypatch):
    """Another thread pins the same name, with a canonically identical
    plan, between pin_small's two critical sections. Both persists
    share one CacheManager entry, so releasing the displaced raced
    frame dropped the survivor's cache too: the registered pin was
    never materialized. Injected deterministically by wrapping
    _PIN_LOCK so the raced entry lands as the second section opens."""
    from pyspark import StorageLevel

    from postrack_spark import session as S

    name = "pin_same_name_race"

    def frame():
        return spark.range(7).selectExpr("id * 2 AS x")

    real_lock = S._PIN_LOCK
    entered = []

    class InjectingLock:
        def __enter__(self):
            real_lock.acquire()
            entered.append(1)
            if len(entered) == 2:
                S._PINNED_SMALL[name] = frame().persist(
                    StorageLevel.MEMORY_AND_DISK)
                S._PINNED_ORDER.append(name)
            return self

        def __exit__(self, *exc):
            real_lock.release()

    monkeypatch.setattr(S, "_PIN_LOCK", InjectingLock())
    try:
        pinned = S.pin_small(name, frame())
        assert len(entered) == 2
        assert S._PINNED_SMALL[name] is pinned
        assert pinned.storageLevel != StorageLevel.NONE
    finally:
        monkeypatch.setattr(S, "_PIN_LOCK", real_lock)
        with S._PIN_LOCK:
            left = S._PINNED_SMALL.pop(name, None)
            S._PINNED_ORDER[:] = [n for n in S._PINNED_ORDER if n != name]
        if left is not None:
            left.unpersist()


def test_ivf_assign_unique_id_contract(spark):
    """ivf_assign carries the input's payload columns through the
    aggregate via first() — value-deterministic ONLY because ids are
    unique (the docstring contract). Pin the contract: on a unique-id
    input the output has exactly one row per input row with the payload
    intact, i.e. the first()-carry is equivalent to the re-join shape it
    replaced."""
    from postrack_spark.operators.similarity import ivf_assign

    rows = [(i, [float(i % 3), 1.0], f"p{i}") for i in range(12)]
    df = spark.createDataFrame(rows, "id long, v array<double>, payload string")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "label int, centroid array<double>"
    )
    out = ivf_assign(df, cents, "id", "v", out_col="bucket")
    got = {(r["id"], r["payload"]) for r in out.collect()}
    assert got == {(i, f"p{i}") for i in range(12)}  # 1 row/id, payload carried
    assert out.count() == df.count() == df.select("id").distinct().count()
