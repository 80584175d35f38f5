"""The per-session parquet schema memo behind ``read_parquet``."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from lk_data_test_spark.sources import catalog
from lk_data_test_spark.sources.catalog import PartitionedTable, read_parquet


def _jobs(spark, fn):
    """(fn(), Spark jobs fn launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _write(spark, path, n, *exprs):
    spark.range(n).selectExpr(*(exprs or ("id", "id * 2 AS x"))).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _write_parts(spark, path, n):
    spark.range(n).selectExpr("id", "CAST(id % 2 AS int) AS part_id").write.partitionBy(
        "part_id"
    ).parquet(path)


def test_unchanged_files_reread_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 50)
    first, inferred = _jobs(spark, lambda: read_parquet(spark, path))
    again, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    plain = spark.read.parquet(path)
    assert inferred > 0  # the miss runs Spark's footer job
    assert jobs == 0
    assert again.schema == plain.schema == first.schema
    assert again.sameSemantics(plain)
    assert sorted(again.collect()) == sorted(plain.collect())


def test_racing_reads_agree(spark, tmp_path):
    """Readers racing on one path (more threads than cores, a short switch
    interval) all get Spark's schema, and the memo ends with one entry."""
    path = str(tmp_path / "t")
    _write(spark, path, 30)
    plain = spark.read.parquet(path).schema
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as ex:
            schemas = list(
                ex.map(lambda _: read_parquet(spark, path).schema, range(16), timeout=300)
            )
    finally:
        sys.setswitchinterval(interval)
    assert len(schemas) == 16 and all(s == plain for s in schemas)
    assert catalog._SCHEMAS[os.path.abspath(path)][1] == plain


def test_rewrite_with_another_schema_reinfers(spark, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, path, 20)
    read_parquet(spark, path)
    _write(spark, path, 20, "CAST(id AS string) AS name")
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["name"]
    # one entry per path: the rewrite replaced the old schema
    assert catalog._SCHEMAS[os.path.abspath(path)][1] == df.schema


def test_new_partition_is_listed_typed_and_pruned(spark, tmp_path):
    path = str(tmp_path / "seq")
    _write_parts(spark, path, 30)
    table = PartitionedTable(path)
    table.read(spark)
    _, jobs = _jobs(spark, lambda: table.read(spark))
    assert jobs == 0

    spark.range(7).selectExpr("id + 100 AS id").write.parquet(table.part_dir(5))
    df = table.read(spark)
    assert df.schema["part_id"].dataType == IntegerType()
    assert df.count() == 37
    pruned = table.read_partitions(spark, [5])
    scans = [
        ln
        for ln in pruned._jdf.queryExecution().executedPlan().toString().splitlines()
        if "PartitionFilters" in ln
    ]
    assert scans and all("part_id" in ln for ln in scans)
    assert sorted(r.id for r in pruned.collect()) == list(range(100, 107))
    assert pruned.filter(F.col("part_id") != 5).count() == 0


def test_corrupt_tolerant_read_skips_the_memo(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "seq")
    _write_parts(spark, path, 10)

    class Untouchable(dict):
        def get(self, *a):
            pytest.fail("the tolerant read consulted the schema memo")

        def __setitem__(self, *a):
            pytest.fail("the tolerant read stored a schema")

    monkeypatch.setattr(catalog, "_SCHEMAS", Untouchable())
    df, jobs = _jobs(spark, lambda: PartitionedTable(path, tolerate_corrupt=True).read(spark))
    assert jobs > 0  # mergeSchema inference, as before the memo
    assert df.count() == 10
