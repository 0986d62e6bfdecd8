"""Fresh-JVM measurement harness for registered queries and the repo's
A/B entry point: scale curves across corpus decades, and paired runs
against a base commit.

Protocol (each query, each point):
- a FRESH JVM per query — cross-query JVM pressure (GC, memory,
  codecache) inflated a later query's wall time 8x in one shared
  session (r08 finding; best-of-2 did not save it);
- one warm-up run of the query itself on the point's own sf_dir (JIT,
  classloading, one-time scratch builds). The query is its own warm-up
  because the corpora `scale_docs.py` writes hold only
  documents.parquet, so a fixed warm-up query cannot read them;
- best-of-2 with the repo cache registry released between runs;
- the executed jobs, stages and tasks of the last run, read from the
  status tracker under a job group named after the query. Only stages
  that completed tasks count: a skipped stage (its shuffle output
  already exists) made raw counts vary between identical runs. The
  counts are host-immune; wall time on a shared host is not.

A/B mode (`--base REV|DIR --pairs N`): each pair runs the child once on
this checkout (head) and once on the base, alternating which side runs
first. The base is a detached git worktree of REV, removed at exit, or
the given directory; the harness never writes to it. Per query and
point it prints every run, then per side the median, q1-q3 and min
seconds and the counts seen, and in how many pairs head was faster.

Usage:
    PYTHONPATH=. python tools/measure_scale.py QUERY[,QUERY...] \
        [label=sf_dir ...] [--base REV|DIR --pairs N]

    # a scale curve
    PYTHONPATH=. python tools/measure_scale.py \
        dedup_prefix_filter_pairs,curation_dsir_selection \
        1x=/root/testdata/sf0.1 10x=.scratch/sf1x_docs

    # head against its parent, 10 alternating pairs at sf0.1
    PYTHONPATH=. python tools/measure_scale.py graph_triangle_stats \
        --base HEAD~1 --pairs 10

With no sf_dir args, measures 1x=/root/testdata/sf0.1 only. Each
child is its own subprocess; the parent only collects lines, so an
OOM'd child never poisons the next JVM.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

_CHILD = r"""
import json, sys, time
repo, q, points = sys.argv[1], sys.argv[2], json.loads(sys.argv[3])
sys.path.insert(0, repo)
from evidence_images_etl_airflow_spark.session import get_session
from evidence_images_etl_airflow_spark import workload as W
from evidence_images_etl_airflow_spark import caching

spark = get_session("measure-" + q[:12])
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
sc = spark.sparkContext
tracker = sc.statusTracker()
bus = sc._jsc.sc().listenerBus()


def run(d):
    # hard release WITH the session: clearCache() is what actually
    # evicts plan-keyed SQL caches — without it, pass 2 of a query
    # that persists an intermediate re-attaches to pass 1's
    # InMemoryRelation and best-of-2 reports the warm-cache time
    # (observed r12: 1.9 s reported for a 23 s cold run).
    caching.release_all(spark, hard=True)
    before = set(tracker.getJobIdsForGroup(q))
    sc.setJobGroup(q, q)
    t0 = time.time()
    # count() is NOT a safe materializer for grouping-less global
    # aggregates: the optimizer knows such plans produce exactly one
    # row and answers without executing the child (observed r12:
    # ml_roc_auc "measured" 0.68 s at 100x while a collect() showed
    # the real 18 s). Counting the EXECUTED plan's RDD forces the
    # full physical plan while keeping rows JVM-side.
    jdf = W.REGISTRY[q].fn(spark, d)._jdf
    rows = jdf.queryExecution().executedPlan().execute().count()
    dt = time.time() - t0
    sc._jsc.clearJobGroup()
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(q)) - before
    sids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    ran = [i for i in map(tracker.getStageInfo, sids) if i and i.numCompletedTasks]
    return dt, rows, len(jobs), len(ran), sum(i.numCompletedTasks for i in ran)


for lbl, d in points:
    run(d)  # warm-up
    runs = [run(d) for _ in range(2)]
    out = (q, lbl, min(r[0] for r in runs)) + runs[-1][1:]
    print("POINT\t%s\t%s\t%.2f\t%d\t%d\t%d\t%d" % out, flush=True)
spark.stop()
"""

def _fmt(counts) -> str:
    """rows, jobs, stages, tasks as key=value."""
    return " ".join(f"{k}={v}" for k, v in zip(("rows", "jobs", "stages", "tasks"), counts))


def _child(repo: str, q: str, points: list[tuple[str, str]]) -> dict | None:
    """Run one fresh-JVM child; ``{label: (sec, rows, jobs, stages,
    tasks)}``, or None (with the stderr tail printed) on failure."""
    env = {**os.environ, "PYTHONPATH": repo, "PYTHONDONTWRITEBYTECODE": "1"}
    proc = subprocess.run(  # points travel as JSON [[label, sf_dir], ...]
        [sys.executable, "-c", _CHILD, repo, q, json.dumps(points)],
        capture_output=True,
        text=True,
        env=env,
    )
    got = {}
    for line in proc.stdout.splitlines():
        if line.startswith("POINT\t"):
            _, _, lbl, sec, *counts = line.split("\t")
            got[lbl] = (float(sec), *map(int, counts))
    if proc.returncode != 0 or len(got) != len(points):
        tail = "\n".join(proc.stderr.splitlines()[-5:])
        print(f"{q:32s} FAILED in {repo} (rc={proc.returncode})\n{tail}")
        return None
    return got


def _base_checkout(repo: str, base: str) -> str:
    """The base side's source tree: ``base`` itself if it is a
    directory, else a detached worktree of the revision, removed at
    exit."""
    if os.path.isdir(base):
        return os.path.abspath(base)
    tmp = tempfile.mkdtemp(prefix="measure-base-")
    tree = os.path.join(tmp, "tree")
    git = ["git", "-C", repo, "worktree"]
    subprocess.run(git + ["add", "--detach", tree, base], check=True, capture_output=True)
    # atexit runs last-registered first: unregister the worktree, then rm
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    atexit.register(subprocess.run, git + ["remove", "--force", tree], capture_output=True)
    return tree


def _spread(ts: list[float]) -> tuple[float, float, float, float]:
    """median, q1, q3, min."""
    q1, med, q3 = (
        statistics.quantiles(ts, n=4, method="inclusive") if len(ts) > 1 else ts * 3
    )
    return med, q1, q3, min(ts)


def _report(prefix: str, q: str, got: dict) -> None:
    for lbl, (sec, *counts) in got.items():
        print(f"{prefix}{q} {lbl}: {sec:.2f}s  {_fmt(counts)}", flush=True)


def _scale(repo: str, queries: list[str], points) -> int:
    failed = 0
    for q in queries:
        got = _child(repo, q, points)
        failed += got is None
        _report("", q, got or {})
    return 1 if failed else 0


def _ab(repo: str, base: str, queries: list[str], points, pairs: int) -> int:
    sides = {"head": repo, "base": _base_checkout(repo, base)}
    print(f"head = {repo}\nbase = {sides['base']}  ({base})")
    failed = 0
    for q in queries:
        runs: dict[str, list[dict]] = {"head": [], "base": []}
        for i in range(pairs):
            for side in ("head", "base")[:: 1 if i % 2 == 0 else -1]:
                got = _child(sides[side], q, points)
                if got is None:
                    break
                runs[side].append(got)
                _report(f"pair {i + 1:2d} {side} ", q, got)
            if got is None:
                failed += 1
                break
        n = min(len(runs["head"]), len(runs["base"]))
        if not n:
            continue
        for lbl, _ in points:
            secs = {s: [r[lbl][0] for r in runs[s][:n]] for s in runs}
            stats = {s: _spread(ts) for s, ts in secs.items()}
            print(f"\n{q} @ {lbl}, {n} pairs")
            for side, (med, q1, q3, lo) in stats.items():
                seen = sorted({r[lbl][1:] for r in runs[side][:n]})
                print(
                    f"  {side}: median {med:.2f}s  q1-q3 {q1:.2f}-{q3:.2f}s  "
                    f"min {lo:.2f}s  | " + "; ".join(map(_fmt, seen))
                )
            wins = sum(h < b for h, b in zip(secs["head"], secs["base"]))
            bmed, bq1, bq3, _ = stats["base"]
            print(
                f"  head faster in {wins} of {n} pairs; median head/base "
                f"{stats['head'][0] / bmed:.3f}; base q1-q3 spread "
                f"{(bq3 - bq1) / bmed:.3f} of its median"
            )
    return 1 if failed else 0


def main() -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("queries", help="comma-separated registered query names")
    ap.add_argument("points", nargs="*", metavar="label=sf_dir")
    ap.add_argument("--base", metavar="REV|DIR", help="A/B against this source tree")
    ap.add_argument("--pairs", type=int, default=5, help="A/B pairs (default 5)")
    args = ap.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    queries = args.queries.split(",")
    points = [p.split("=", 1) for p in args.points] or [
        ["1x", "/root/testdata/sf0.1"]
    ]
    points = [(lbl, os.path.abspath(d)) for lbl, d in points]
    if args.base is None:
        return _scale(repo, queries, points)
    return _ab(repo, args.base, queries, points, args.pairs)


if __name__ == "__main__":
    raise SystemExit(main())
