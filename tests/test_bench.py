"""The registry runner's pure parts: the scan audit's plan parser and the
key-shifted scaled copy behind `bench.py --factor N`."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import bench

PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


@pytest.mark.parametrize(
    "plan, expected",
    [
        ("sample_temperature_mixture_before", {"documents": 8}),
        ("sample_temperature_mixture_after", {}),
        ("text_bm25_search_before", {"documents": 3}),
        # the after plan renders its pinned tf chain twice under an
        # InMemoryRelation; only the uncached doc-length scan counts
        ("text_bm25_search_after", {"documents": 1}),
        ("cdc_latest_per_key_materialize_after", {"orders": 2}),
    ],
)
def test_scan_counts_on_committed_plans(plan, expected):
    with open(os.path.join(PLANS, "r08", f"{plan}.txt")) as fh:
        assert bench.scan_counts(fh.read()) == expected


def test_scaled_copy(spark, sf_dir, tmp_path):
    from postrack_spark.queries import load_all

    bench.write_scaled_copy(sf_dir, str(tmp_path), 2)
    for name in os.listdir(sf_dir):
        src = pq.ParquetFile(os.path.join(sf_dir, name))
        dst = pq.ParquetFile(os.path.join(tmp_path, name))
        table = name.removesuffix(".parquet")
        assert dst.schema_arrow.equals(src.schema_arrow, check_metadata=True), table
        copies = 2 if table in bench.SHIFTED_KEYS else 1
        assert dst.metadata.num_rows == copies * src.metadata.num_rows, table
        assert dst.metadata.num_row_groups == copies, table
        for col in bench.SHIFTED_KEYS.get(table, []):
            first = dst.read_row_group(0, columns=[col])[col]
            second = dst.read_row_group(1, columns=[col])[col]
            assert pc.max(first).as_py() < pc.min(second).as_py(), (table, col)

    join = load_all()["join_inner_orders_per_nation"].fn
    base = {r["n_name"]: r["n_orders"] for r in join(spark, sf_dir).collect()}
    scaled = {r["n_name"]: r["n_orders"] for r in join(spark, str(tmp_path)).collect()}
    assert base and scaled == {n: 2 * c for n, c in base.items()}


def test_parse_args_modes_and_defaults():
    from postrack_spark.queries import load_all

    specs = load_all()
    assert bench.parse_args([]).names == bench.HEADLINE
    args = bench.parse_args(["plans", "after", "q6_forecast_revenue", "--factor", "2"])
    assert (args.mode, args.tag, args.names, args.factor) == (
        "plans", "after", ["q6_forecast_revenue"], 2)
    assert bench.parse_args(["scan-audit"]).names == list(specs)
    gated = bench.parse_args(["oracle"]).names
    with_streaming = bench.parse_args(["oracle", "--streaming"]).names
    assert gated and not any(n.startswith("streaming_") for n in gated)
    assert set(gated) < set(with_streaming)
    assert all(specs[n].oracle is not None for n in with_streaming)
    for bad in (["no_such_query"], ["plans"], ["--factor", "0"]):
        with pytest.raises(SystemExit):
            bench.parse_args(bad)
