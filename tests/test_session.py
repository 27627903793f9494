"""Static confs that ``get_spark`` sets when it creates the session."""

from __future__ import annotations


def test_codegen_cache_sized_for_the_query_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
