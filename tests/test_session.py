"""The get_spark session: PySpark's DataFrame call-site capture is off
(a static conf, cached per process), and errors keep their class."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled


def test_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    spark.range(1).select("id")  # any DataFrame call reads the cached flag
    assert is_debugging_enabled() is False


def test_unresolved_column_still_raises_analysis_exception(spark):
    with pytest.raises(AnalysisException) as e:
        spark.range(1).select("no_such_column")
    assert e.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
