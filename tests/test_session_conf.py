"""The tuned session turns off PySpark's per-call call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``).  These tests pin that
the setting is on the session, that PySpark reads it, that analysis
errors keep their class without it, and that the PySpark internals the
setting relies on still exist under the same names."""

from __future__ import annotations

import inspect

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


@pytest.fixture
def debugging_cache():
    """PySpark caches the setting per process on first read; let a test
    force a re-read (None) or a value, and restore the cache after."""
    saved = error_utils._enable_debugging_cache
    yield
    error_utils._enable_debugging_cache = saved


def test_get_spark_turns_call_site_capture_off(spark, debugging_cache):
    assert spark.conf.get(DEBUG_CONF) == "false"
    error_utils._enable_debugging_cache = None  # re-read from the session
    assert error_utils.is_debugging_enabled() is False


def test_unresolved_column_error_class_same_without_capture(spark, debugging_cache):
    df = spark.range(1)
    seen = {}
    for capture in (True, False):
        error_utils._enable_debugging_cache = capture
        with pytest.raises(AnalysisException) as ei:
            df.select(F.col("no_such_column"))
        seen[capture] = ei.value.getCondition()
    assert seen[False] == seen[True]
    assert seen[False].startswith("UNRESOLVED_COLUMN")


def test_call_site_capture_pyspark_internals_are_pinned():
    """Fails loudly if PySpark renames the setting or the switch that
    reads it: the session setting would then silently stop working."""
    assert callable(error_utils.is_debugging_enabled)
    assert DEBUG_CONF in inspect.getsource(error_utils.is_debugging_enabled)
    assert "_enable_debugging_cache" in vars(error_utils)
    assert "is_debugging_enabled()" in inspect.getsource(error_utils._with_origin)
