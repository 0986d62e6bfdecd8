"""Local oracle-parity harness: runs every workload query on Spark AND
its oracle SQL on DuckDB over the same parquet, then compares row
counts, column names, and values — a stand-in for the driver's
CORRECTNESS gate so mismatches surface before a round ends.

Usage: python tools/parity.py [--permute SEED] [sf_dir] [query ...]

``--permute SEED`` runs on a temporary copy of ``sf_dir`` whose tables
have their rows in a seeded random order and 97-row row groups, with
``spark.sql.shuffle.partitions=3``: a query whose output depends on
input order, file layout or partition count then shows as a mismatch.
The copy is removed at exit.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        # DuckDB DATE fetches as midnight Timestamp; collapse to date
        if v.hour == 0 and v.minute == 0 and v.second == 0 and v.microsecond == 0:
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float):
        # exact repr comparison; queries are expected to round upstream
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "tolist"):  # numpy arrays from array<> columns
        return tuple(_norm_cell(x) for x in v.tolist())
    return v


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = [tuple(_norm_cell(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def compare(name: str, spark_df, oracle: str, con) -> tuple[bool, str]:
    sp = spark_df.toPandas()
    du = con.execute(oracle).fetchdf()
    if sorted(c.lower() for c in sp.columns) != sorted(c.lower() for c in du.columns):
        return False, f"columns differ: spark={sorted(sp.columns)} duck={sorted(du.columns)}"
    sp.columns = [c.lower() for c in sp.columns]
    du.columns = [c.lower() for c in du.columns]
    if len(sp) != len(du):
        return False, f"row counts differ: spark={len(sp)} duck={len(du)}"
    a, b = _normalize(sp), _normalize(du)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return False, f"values differ; first diffs: {diffs}"
    return True, f"OK ({len(sp)} rows)"


def _permuted_copy(sf_dir: str, seed: int, out_dir: str) -> None:
    """Write every parquet table of ``sf_dir`` to ``out_dir`` with its
    rows permuted by ``seed`` and 97-row row groups."""
    import numpy as np
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(sf_dir, name))
            pq.write_table(
                t.take(rng.permutation(t.num_rows)),
                os.path.join(out_dir, name),
                row_group_size=97,
            )


def main():
    permute = None
    if "--permute" in sys.argv:
        i = sys.argv.index("--permute")
        permute = int(sys.argv[i + 1])
        del sys.argv[i : i + 2]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    if permute is None:
        run(sf_dir, only, shuffle_partitions=8)
        return
    tmp = tempfile.mkdtemp(prefix="parity-permuted-")
    try:
        _permuted_copy(sf_dir, permute, tmp)
        run(tmp, only, shuffle_partitions=3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run(sf_dir: str, only: set[str], shuffle_partitions: int) -> None:
    from evidence_images_etl_airflow_spark.session import get_session
    from evidence_images_etl_airflow_spark.workload import REGISTRY

    spark = get_session(
        "parity", cpus=8,
        extra_conf={"spark.sql.shuffle.partitions": str(shuffle_partitions)},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, q in REGISTRY.items():
        if only and name not in only:
            continue
        try:
            df = q.fn(spark, sf_dir)
            if q.oracle is None:
                n = df.count()
                print(f"{name:32s} rows-only: {n} rows")
                continue
            ok, msg = compare(name, df, q.oracle, con)
            print(f"{name:32s} {msg}")
            if not ok:
                failures.append(name)
        except Exception as e:
            print(f"{name:32s} ERROR: {str(e)[:300]}")
            failures.append(name)
    spark.stop()
    if failures:
        print(f"\nFAILED: {failures}")
        sys.exit(1)
    print("\nall queries match")


if __name__ == "__main__":
    main()
