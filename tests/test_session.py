"""Static confs that ``get_spark`` sets when it creates the session."""

from __future__ import annotations

from pyspark.errors.utils import is_debugging_enabled

from dump1090_stream_parser_spark.session import apply_runtime_conf


def test_codegen_cache_sized_for_the_query_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_call_site_capture_is_off(spark):
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(key) == "false"
    assert not is_debugging_enabled()
    # static: every session of the context shares it, and
    # apply_runtime_conf neither needs nor can set it
    other = apply_runtime_conf(spark.newSession())
    assert other.conf.get(key) == "false"
