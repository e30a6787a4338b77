"""Settings ``session.get_spark`` pins on the sessions it builds."""

from __future__ import annotations

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
