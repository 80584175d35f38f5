"""Spark's generated-class cache holds a headline pass's working set."""

from __future__ import annotations

from bench import HEADLINE
from lk_data_test_spark import entry_queries, session
from tests.test_entry_oracle import SF_DIR


def test_second_headline_pass_compiles_no_class(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("LK_ANN_CACHE_DIR", str(tmp_path))
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def headline_pass():
        for q in HEADLINE:
            entry_queries.Q[q](spark, SF_DIR).collect()

    headline_pass()
    before = compiles.getCount()
    headline_pass()
    assert compiles.getCount() - before == 0
