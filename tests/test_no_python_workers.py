"""Queries whose driver-side rows once came from
``spark.createDataFrame([...])`` must plan no Python-backed scan: each
such scan runs one Python worker task per default-parallelism slot,
and in ``join_autoplan_strategy`` those tasks took about half the
query's wall time. ``ml_pr_threshold_sweep`` and
``ml_pr_sweep_precomputed`` cover the threshold grid of
``ml_curation.pr_threshold_sweep``.

The check reads the executed plan string, not the RDD lineage: a frame
under ``F.broadcast`` is collected by its own job, so its scan is
missing from ``toRdd().toDebugString()`` but present in the plan."""

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
        "ml_pr_threshold_sweep",
        "ml_pr_sweep_precomputed",
    ],
)
def test_metadata_rows_run_no_python_worker(spark, query):
    df = W.REGISTRY[query].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
