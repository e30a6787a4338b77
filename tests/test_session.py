"""Settings ``session.get_spark`` pins on the sessions it builds, and
the lifetime of ``session.fan_out``'s memo."""

from __future__ import annotations

import gc
import weakref

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F


def test_dataframe_call_site_capture_is_off(spark, monkeypatch):
    """PySpark's per-call origin capture is off in a ``get_spark``
    session, and analysis errors still carry their error class."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)  # re-read the conf
    assert error_utils.is_debugging_enabled() is False
    with pytest.raises(AnalysisException) as err:
        spark.range(1).select(F.col("no_such_column")).collect()
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")


def test_fan_out_memo_dies_with_its_frame(spark):
    """fan_out memoizes per input frame without a module-level cache:
    once the caller drops the input and the result, nothing keeps them
    alive, on the repartition path and on the no-op path."""
    from postrack_spark.session import fan_out

    for partitions in (1, 4):
        df = spark.range(0, 8, 1, partitions)
        out = fan_out(df, 2)
        assert fan_out(df, 2) is out
        assert (out is df) == (partitions >= 2)
        refs = [weakref.ref(df), weakref.ref(out)]
        del df, out
        gc.collect()
        assert [r() for r in refs] == [None, None]
