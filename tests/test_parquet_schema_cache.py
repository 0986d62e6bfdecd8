"""``storage.read_parquet``: the schema is inferred once per version of
the file Spark infers it from, and every read returns what a plain
``spark.read.parquet`` returns."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR

from evidence_images_etl_airflow_spark import storage as P
from evidence_images_etl_airflow_spark import workload as W

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


def test_key_follows_the_inferring_file(spark, tmp_path):
    """A plain read of a directory infers from its first data file by
    sorted path: a file that sorts after it keeps the key and the cached
    schema, one that sorts before it changes the key, and so does a
    rename that makes another file first."""
    path = str(tmp_path / "d")
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1, 2]}), f"{path}/part-b.parquet")
    key = P._files_key(spark, path)
    assert key is not None and key[-3].endswith("/part-b.parquet")
    assert P.read_parquet(spark, path).count() == 2
    pq.write_table(pa.table({"a": [3]}), f"{path}/part-c.parquet")
    assert P._files_key(spark, path) == key
    assert P.read_parquet(spark, path).count() == 3
    pq.write_table(pa.table({"a": [4], "b": ["x"]}), f"{path}/part-a.parquet")
    assert P._files_key(spark, path) != key
    df = P.read_parquet(spark, path)
    assert df.columns == spark.read.parquet(path).columns == ["a", "b"]
    os.rename(f"{path}/part-a.parquet", f"{path}/part-d.parquet")
    assert P._files_key(spark, path) == key
    assert P.read_parquet(spark, path).columns == spark.read.parquet(path).columns == ["a"]


def test_summary_file_is_the_inferring_file(spark, tmp_path):
    """``_common_metadata``, else ``_metadata``, wins over the data files."""
    path = str(tmp_path / "d")
    os.makedirs(path)
    pq.write_table(pa.table({"a": [1]}), f"{path}/part-a.parquet")
    pq.write_metadata(pa.schema([("a", pa.int64()), ("m", pa.string())]), f"{path}/_metadata")
    assert P._files_key(spark, path)[-3].endswith("/_metadata")
    assert P.read_parquet(spark, path).columns == spark.read.parquet(path).columns == ["a", "m"]
    pq.write_metadata(pa.schema([("a", pa.int64()), ("c", pa.string())]), f"{path}/_common_metadata")
    assert P._files_key(spark, path)[-3].endswith("/_common_metadata")
    assert P.read_parquet(spark, path).columns == spark.read.parquet(path).columns == ["a", "c"]


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
