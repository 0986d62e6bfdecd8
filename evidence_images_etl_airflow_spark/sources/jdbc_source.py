"""S6 — JDBC reads (SURVEY.md §2.1).

The reference fetches five columns from the Postgres view
``public.image_urls`` with a cursor (add_image_data.py:54-64,73-77).
Spark's JDBC source replaces that with a pushdown-capable read: handing
the reader a subquery projects/filters on the remote server, and
``partitionColumn/lowerBound/upperBound/numPartitions`` split the read
across executors (the reference reads single-threaded into one worker).

Executed end-to-end in `tests/test_spark_jdbc_duckdb.py` (a real
`spark.read.jdbc` with subquery pushdown + partitioned scan through
the DuckDB JDBC driver, plus the `df.write.jdbc` append leg); the
Postgres-specific array wire dialect stays jar-gated in
`tests/test_spark_jdbc_live.py` until a postgresql jar is available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_jdbc_query(
    spark: SparkSession,
    url: str,
    query: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Read ``query`` (a full SELECT) over JDBC as a derived table, so
    projection and predicates run remotely — the Spark shape of
    add_image_data.py's cursor fetch."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"({query}) AS q")
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()
