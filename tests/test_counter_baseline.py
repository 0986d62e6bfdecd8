"""Host-immune count gate: every headline query's executed jobs and
tasks at sf0.01 must equal the committed baseline.

Wall time on a shared host moves 20-40% between identical runs; these
counts repeat exactly. A plan change that adds (or removes) a job or a
task therefore shows up here, in the change that makes it, and the
baseline update is part of that change's diff.

Each query runs once as a warm-up (one-time scratch builds: the cold
``ep3_pipeline_curated`` run has 25 jobs against 23 warm), then once
counted, under a job group named after the query. Only stages that
completed tasks count; a skipped stage (its shuffle output already
exists) is listed by its job but runs nothing.
"""

from __future__ import annotations

import json
import os

from conftest import SF_DIR as SF_0001

from evidence_images_etl_airflow_spark import workload as W

SF_DIR = os.path.join(os.path.dirname(SF_0001), "sf0.01")
BASELINE = os.path.join(os.path.dirname(__file__), "counter_baseline.json")
REGENERATE = (
    "UPDATE_COUNTER_BASELINE=1 python -m pytest -q -p no:cacheprovider "
    "tests/test_counter_baseline.py"
)
# Its job count is not repeatable: 16/15/16 over three warm runs.
LEFT_OUT = {"text_bm25_search"}


def _counts(spark, q: str) -> dict[str, int]:
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(q))
    sc.setJobGroup(q, q)
    try:
        # the executed plan's RDD, not count(): a grouping-less global
        # aggregate answers count() without running its child
        jdf = W.REGISTRY[q].fn(spark, SF_DIR)._jdf
        jdf.queryExecution().executedPlan().execute().count()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(q)) - before
    sids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    ran = [i for i in map(tracker.getStageInfo, sids) if i and i.numCompletedTasks]
    return {"jobs": len(jobs), "tasks": sum(i.numCompletedTasks for i in ran)}


def test_headline_counts_match_baseline(spark):
    got = {}
    for q in sorted(set(W.headline_queries()) - LEFT_OUT):
        _counts(spark, q)  # warm-up
        got[q] = _counts(spark, q)
    if os.environ.get("UPDATE_COUNTER_BASELINE"):
        with open(BASELINE, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
            f.write("\n")
    with open(BASELINE) as f:
        want = json.load(f)
    diff = {
        q: {"baseline": want.get(q), "now": got.get(q)}
        for q in sorted(set(want) | set(got))
        if want.get(q) != got.get(q)
    }
    assert not diff, (
        f"executed job/task counts differ from {BASELINE}: "
        f"{json.dumps(diff, indent=1)}\nIf the change is intended, "
        f"regenerate the baseline with:\n  {REGENERATE}"
    )
