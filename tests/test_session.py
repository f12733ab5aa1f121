"""Engine session settings (session.get_spark)."""

from __future__ import annotations

import pyspark.errors.utils as pyspark_errors
from pyspark.sql import functions as F


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """``get_spark`` switches PySpark's call-site capture off, so a
    Column call on the main thread, with the session active, records
    no Python call site. PySpark caches the setting process-wide at
    the first Column call; resetting that cache makes this call the
    first, so the result cannot depend on which thread or test ran
    before."""
    monkeypatch.setattr(pyspark_errors, "_enable_debugging_cache", None)
    captured = []
    monkeypatch.setattr(
        pyspark_errors, "_capture_call_site",
        lambda depth: captured.append(depth) or "",
    )
    F.col("a") + 1
    assert captured == []
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
