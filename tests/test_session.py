"""session.get_spark defaults that change what every plan build costs."""

from __future__ import annotations

from wellmeet_data_pipeline_spark.session import get_spark


def test_get_spark_turns_call_site_capture_off(spark):
    """get_spark sessions build plans without PySpark's per-call
    call-site capture (about four Py4J round trips per Column call)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert get_spark() is spark
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert spark.sparkContext.getConf().get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
