"""Repository benchmark: one seeded workload per run, against the engine's
public functions, in one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md for why each is here and what it should move):
``ingest_upsert`` (EP1 + image_urls, batch by batch into empty targets) and
``mart_curation`` (read-only mart joins and the LLM-data operators). Each
is a closed loop with one client: an operation starts when the previous one
has finished.

A run generates its inputs from the seed, starts a ``local[<cores>]``
session with a heap sized to the host, runs untimed warm-up passes, then
timed operations until ``--seconds`` would be exceeded, checking every
output.
Spark local dirs, scratch builds and targets live in a per-run directory
under ``.perfbench_run/`` that is removed at the end; traced runs leave their
spans in ``.perfbench_run/traces/``.

Stdout ends with a report line (samples, tails, per-layer detail) and, last,
the result line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "tools"))

import evidence_images_etl_airflow_spark  # noqa: E402,F401  fail fast without the program
import numpy as np  # noqa: E402

from ingest import IngestWorkload  # noqa: E402
from queries import QUERIES, QueryWorkload  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402

WORKLOADS = {
    "ingest_upsert": lambda rng, work: IngestWorkload(rng, work),
    "mart_curation": lambda rng, work: QueryWorkload(QUERIES, rng, work),
}
# Untimed passes before timing, from measured pass curves: ingest's first
# pass after the cold one still ran 10-40% slower than the rest, while one
# cold pass over the six queries left the next as fast as those after it.
WARMUP_PASSES = {"ingest_upsert": 2, "mart_curation": 1}
END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MiB", "ok_frac": "ratio"}
# ingest-only layers; the read-only workload reports 0
INGEST_LAYERS = {
    "sinks.append_useful_frac": "ratio",
    "sinks.bytes_written": "bytes",
    "sinks.write_amp": "ratio",
    "stored_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "traced_pass_s": "s",
    "build_s": "s",
    "plan_s": "s",
    "action_s": "s",
    **{k: "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count" for k in COUNTERS},
    "core_busy_frac": "ratio",
    **INGEST_LAYERS,
}


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """1 GiB, or an eighth of host memory if that is less: the inputs are
    small, and the engine's 32g default does not fit most hosts."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(1024, total_kb // 8192)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(samples: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    k = len(samples) - 10
    if k < 1:
        return None
    return {"value": sorted(samples)[k - 1], "percentile": 100 * k / len(samples), "n": len(samples)}


def start_session(cores: int, heap: int, work: str):
    """The engine's session on ``local[cores]``, its heap committed at the
    maximum from the start, which keeps peak RSS repeatable."""
    from evidence_images_etl_airflow_spark.session import get_session

    return get_session(
        "perfbench",
        cpus=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{heap}m",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def layer_metrics(tracer: Tracer, passes: list[dict], cores: int) -> tuple[dict, dict]:
    """Per-layer medians over the complete traced passes: the result-line
    metrics, and per span name (query or module) for the report."""
    selfs = tracer.self_times()
    pass_of = {op: i for i, p in enumerate(passes) for op in p["ops"]}
    per_pass = [dict.fromkeys(("build_s", "plan_s", "action_s", *COUNTERS), 0.0) for _ in passes]
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["op"] not in pass_of:  # a partial last pass
            continue
        i = pass_of[s["op"]]
        dur = s["end"] - s["start"]
        if s["kind"] == "op":
            for k in COUNTERS:
                per_pass[i][k] += s[k]
        else:
            per_pass[i][f"{s['kind']}_s"] += dur
        rows = by_name.setdefault(s["name"], [dict(s=0.0, self_s=0.0, **dict.fromkeys(COUNTERS, 0)) for _ in passes])
        rows[i]["s"] += dur
        rows[i]["self_s"] += selfs[s["id"]]
        for k in COUNTERS:
            rows[i][k] += s[k]
    for i, p in enumerate(passes):
        per_pass[i]["core_busy_frac"] = per_pass[i]["executor_run_s"] / (p["s"] * cores)
        per_pass[i].update({k: p["layers"].get(k, 0.0) for k in INGEST_LAYERS})
    metrics = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    report = {
        name: {k: statistics.median(r[k] for r in rows) for k in rows[0]} for name, rows in by_name.items()
    }
    return metrics, report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores, heap = host_cores(), heap_mb()
    run_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(run_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # scratch builds (tempfile), shuffle and checkpoint blocks stay in the run dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
    spark = wl = None
    try:
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](np.random.default_rng(args.seed), work)
        wl.generate()
        gen_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        spark = start_session(cores, heap, work)
        session_s = time.perf_counter() - t0
        checked: list[dict] = []
        check_s = 0.0

        def check(recs: list[dict]) -> None:
            nonlocal check_s
            t0 = time.perf_counter()
            wl.check(recs)
            check_s += time.perf_counter() - t0
            checked.extend(recs)

        names = wl.names
        warmup_s = []
        for w in range(WARMUP_PASSES[args.workload]):
            wl.reset()
            recs = [wl.run_op(spark, Tracer(spark, False), -1 - w, i) for i in range(len(names))]
            warmup_s.append(sum(r["s"] for r in recs))
            check(recs)
        tracer = Tracer(spark, bool(args.trace))
        setup_s = time.perf_counter() - T_START - gen_s - check_s

        # Timed operations, pass after pass in seed order, while the time
        # measured so far plus the next operation's median fits in
        # --seconds. The first pass always completes; the last may not.
        samples: dict[str, list[float]] = {n: [] for n in names}
        passes: list[list[dict]] = []
        used, i = 0.0, 0
        while not passes or (i != 0 and len(passes) == 1) or (
            used + statistics.median(samples[names[i]]) <= args.seconds
        ):
            if i == 0:
                if passes:
                    check(passes[-1])
                wl.reset()
                passes.append([])
            rec = wl.run_op(spark, tracer, len(passes) - 1, i)
            used += rec["s"]
            samples[rec["name"]].append(rec["s"])
            passes[-1].append(rec)
            i = (i + 1) % len(names)
        check(passes[-1])
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(jvm_pid)}

        # A pass's median time, taken operation by operation: the sum over
        # the pass's operations of each one's median. A partial last pass
        # adds samples to the operations it ran.
        pass_s = sum(statistics.median(samples[n]) for n in names)
        full = [
            {"s": sum(r["s"] for r in recs), "ops": [r["op"] for r in recs], "layers": wl.pass_layers(recs)}
            for recs in passes
            if len(recs) == len(names)
        ]
        full_samples = [p["s"] for p in full]
        op_samples = [s for v in samples.values() for s in v]
        failed = [r for r in checked if not r["ok"]]
        report = {
            "workload": args.workload, "seed": args.seed, "cores": cores, "heap_mb": heap,
            "run_seconds": args.seconds, "trace": args.trace, "check_s": check_s,
            "operations": names,
            "peak_rss_mb": rss,
            "setup": {"setup_s": setup_s, "session_s": session_s, "input_generation_s": gen_s,
                      "warmup_pass_s": warmup_s},
            "pass_s": {"value": pass_s, "timed_s": used, "n_ops": len(op_samples),
                       "full_passes": full_samples, "tail": tail(full_samples)},
            "op_s_by_pass": [{r["name"]: r["s"] for r in recs} for recs in passes],
            "pass_layers": [p["layers"] for p in full],
            "op_s": {"median": statistics.median(op_samples), "n": len(op_samples), "tail": tail(op_samples),
                     "by_name": {n: {"median": statistics.median(v), "n": len(v)} for n, v in samples.items()}},
            "failures": [{"op": r["op"], "error": r["error"]} for r in failed],
        }
        if args.trace:
            metrics, report["layers"] = layer_metrics(tracer, full, cores)
            metrics["traced_pass_s"] = pass_s
            report["trace_poll_s"] = tracer.poll_s
            os.makedirs(os.path.join(run_dir, "traces"), exist_ok=True)
            tracer.write(os.path.join(run_dir, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "peak_rss_mb": rss["python"] + rss["jvm"],
                "ok_frac": 1 - len(failed) / len(checked),
            }
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(report))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(checked),
                "failed": len(failed),
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
