"""``sources.parquet_source.read_parquet``: the schema is inferred once
per file version, and every read returns what a plain
``spark.read.parquet`` returns."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from evidence_images_etl_airflow_spark import workload as W
from evidence_images_etl_airflow_spark.sources import parquet_source as P

TABLES = sorted(f.removesuffix(".parquet") for f in os.listdir(SF_DIR))


def test_file_rewritten_in_place_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert P.read_parquet(spark, path).columns == ["a"]
    assert P.read_parquet(spark, path).columns == ["a"]  # cached
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = P.read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def test_directory_that_gains_a_file_gets_a_new_key(spark, tmp_path):
    path = str(tmp_path / "d")
    spark.range(3).write.parquet(path)
    before = P._files_key(spark, path)
    assert P.read_parquet(spark, path).count() == 3
    spark.range(3, 5).write.mode("append").parquet(path)
    after = P._files_key(spark, path)
    assert before is not None and after is not None and before != after
    assert P.read_parquet(spark, path).count() == 5


def test_partitioned_index_falls_back_to_a_plain_read(spark, tmp_path):
    path = str(tmp_path / "idx")
    src = spark.range(10).selectExpr("id", "id % 3 AS cell")
    src.write.partitionBy("cell").parquet(path)
    assert P._files_key(spark, path) is None
    df = P.read_parquet(spark, path)
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


@pytest.mark.parametrize("table", TABLES)
def test_cached_read_equals_plain_read(spark, table):
    path = f"{SF_DIR}/{table}.parquet"
    P.read_parquet(spark, path)
    cached = P.read_parquet(spark, path)
    assert P._SCHEMAS[path][0] == P._files_key(spark, path)  # a cache hit
    plain = spark.read.parquet(path)
    assert cached.schema == plain.schema
    assert cached.exceptAll(plain).count() == 0
    assert plain.exceptAll(cached).count() == 0


def test_warm_table_read_runs_no_job(spark, jobs_in_group):
    W._t(spark, SF_DIR, "orders")
    started, grouped = jobs_in_group(
        "warm_t", lambda: W._t(spark, SF_DIR, "orders")
    )
    assert started == grouped == set()
    # the counter sees the schema job a plain read runs
    started, grouped = jobs_in_group(
        "plain_read", lambda: spark.read.parquet(f"{SF_DIR}/orders.parquet")
    )
    assert started and started == grouped
