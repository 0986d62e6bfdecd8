"""The read-only workload: registry queries over a seeded row permutation
of the bundled sf0.01 tables, each output checked against its DuckDB oracle.

Each operation is one query: the registry call (plan construction and any
eager driver pre-flight), forced physical planning, then ``toPandas`` as the
action. Outputs are compared after each pass, outside the timed region, with
``tools/parity.py``'s ``compare``.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import parity
import pyarrow.parquet as pq

from evidence_images_etl_airflow_spark.workload import REGISTRY

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# The mart queries, then the curation queries; README.md maps each to the
# operator modules it exercises and says why the workload holds these six.
QUERIES = [
    "flagship_image_urls",
    "ep5_mart_chain_planned",
    "join_autoplan_strategy",
    "ep3_pipeline_curated",
    "ann_pq_topk",
    "graph_pagerank_bipartite",
]


class _Frame:
    """A collected frame in the two shapes ``parity.compare`` reads: a Spark
    result (``toPandas``) and a DuckDB result (``fetchdf``)."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf.copy()

    fetchdf = toPandas


class _OracleCache:
    """A DuckDB connection that runs each oracle once per run."""

    def __init__(self, con):
        self.con = con
        self._frames: dict[str, _Frame] = {}

    def execute(self, sql: str) -> _Frame:
        if sql not in self._frames:
            self._frames[sql] = _Frame(self.con.execute(sql).fetchdf())
        return self._frames[sql]


class QueryWorkload:
    def __init__(self, names: list[str], rng: np.random.Generator, work: str):
        self.names = [names[i] for i in rng.permutation(len(names))]
        self.rng = rng
        self.sf_dir = os.path.join(work, "tables")
        self._oracles = _OracleCache(duckdb.connect())

    def generate(self) -> None:
        """Write every bundled table with its rows in a seeded order."""
        os.makedirs(self.sf_dir)
        for fname in sorted(os.listdir(DATA)):
            t = pq.read_table(os.path.join(DATA, fname))
            pq.write_table(t.take(self.rng.permutation(t.num_rows)), os.path.join(self.sf_dir, fname))
        for fname in os.listdir(self.sf_dir):
            self._oracles.con.execute(
                f"CREATE VIEW {fname.removesuffix('.parquet')} AS SELECT * FROM '{os.path.join(self.sf_dir, fname)}'"
            )

    def run_op(self, spark, tracer, p: int, i: int) -> dict:
        """Query ``i`` of pass ``p`` in seed order; returns its record with
        its wall time and collected result."""
        name = self.names[i]
        op = f"p{p}.{name}"
        tracer.set_group(op)
        rec = {"name": name, "op": op, "result": None, "error": None}
        t0 = time.perf_counter()
        try:
            with tracer.span(name, "op", op):
                with tracer.span(f"{name}.build", "build", op):
                    df = REGISTRY[name].fn(spark, self.sf_dir)
                with tracer.span(f"{name}.plan", "plan", op):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"{name}.exec", "action", op):
                    rec["result"] = df.toPandas()
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        rec["s"] = time.perf_counter() - t0
        return rec

    def check(self, ops: list[dict]) -> None:
        """Mark each operation ok or not against its oracle (or, for a query
        without one, a non-empty row count)."""
        for rec in ops:
            pdf = rec.pop("result")
            if rec["error"]:
                rec["ok"] = False
                continue
            oracle = REGISTRY[rec["name"]].oracle
            if oracle is None:
                rec["ok"], msg = len(pdf) > 0, f"{len(pdf)} rows, no oracle"
            else:
                rec["ok"], msg = parity.compare(rec["name"], _Frame(pdf), oracle, self._oracles)
            if not rec["ok"]:
                rec["error"] = f"output check: {msg}"[:500]

    def reset(self) -> None:
        pass

    def pass_layers(self, ops: list[dict]) -> dict:
        return {}

    def close(self) -> None:
        self._oracles.con.close()

