"""Queries whose driver-side metadata rows once came from
``spark.createDataFrame([...])`` must plan no Python-backed scan: each
such scan runs one Python worker task per default-parallelism slot,
and in ``join_autoplan_strategy`` those tasks took about half the
query's wall time."""

from __future__ import annotations

import pytest
from conftest import SF_DIR

from evidence_images_etl_airflow_spark import workload as W


@pytest.mark.parametrize(
    "query",
    [
        "text_bpe_vocab",
        "join_autoplan_strategy",
        "join_autoplan_sketch",
        "join_chain_autoplan",
    ],
)
def test_metadata_rows_run_no_python_worker(spark, query):
    df = W.REGISTRY[query].fn(spark, SF_DIR)
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage, lineage
