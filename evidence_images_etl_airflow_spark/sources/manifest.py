"""File-level statistics manifest + data-skipping scans.

At 100 TB a predicate's cost is dominated by how many FILES it has to
open, not how many rows it keeps: parquet row-group stats only help
after the footer is fetched, and on object storage every footer is a
round trip. Table formats (Delta/Iceberg) solve this by keeping
per-file min/max stats in a manifest and pruning files before any I/O.
This module is that pattern on plain parquet directories:

- ``build_manifest``  — one pass over the data collects per-file
  min/max/count for chosen columns (the pass a table format does at
  write time; here it's explicit and incremental-friendly — rebuild
  only new files by globbing).
- ``prune_files``     — interval-overlap filter over the manifest
  (driver-side; the manifest has one row per FILE, so even a
  100 TB / 128 MB table is ~800k rows — trivially collectable).
- ``scan_pruned``     — reads only surviving files and re-applies the
  exact predicate (stats prune conservatively; the filter is still
  authoritative).

Skipping only pays when file ranges are TIGHT: ``cluster_by_range``
(writers) lays files out by repartitionByRange + sortWithinPartitions
so each file covers a narrow slice of the stat column — the
z-order-lite layout that turns a point/range query into touching
1-2 files instead of all of them.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.storage import hadoop_fs


def build_manifest(
    spark: SparkSession, path: str | list[str], cols: list[str]
) -> DataFrame:
    """Per-file stats manifest: one row per parquet file with
    ``n_rows`` and ``<col>_min`` / ``<col>_max`` per tracked column.
    One full scan, all stats in a single hash-agg keyed on the file
    name (map-side combined: each task sees few distinct files).
    ``path`` may be a directory/glob or an explicit file list (the
    incremental path `update_manifest` stats only new files)."""
    paths = [path] if isinstance(path, str) else list(path)
    df = spark.read.parquet(*paths)
    aggs: list[Column] = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return (
        df.select(F.input_file_name().alias("file"), *cols)
        .groupBy("file")
        .agg(*aggs)
    )


def update_manifest(
    spark: SparkSession,
    path: str,
    manifest: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Incremental manifest maintenance: stat ONLY the files that
    appeared in the directory since ``manifest`` was built and union
    them in; rows for files that vanished (compaction, vacuum) drop
    out. A table format updates its manifest transactionally at write
    time — on plain parquet directories the equivalent is this
    append-only refresh, which at 100 TB stats the day's new files
    instead of re-scanning ~800k existing ones. Listing is a pure
    filesystem operation (no data read); matching is by file NAME
    (`input_file_name` URI-encodes, FS listings don't). The stat
    columns must match the original manifest's."""
    hadoop_path, fs = hadoop_fs(spark, path)
    listed = {
        st.getPath().getName(): st.getPath().toString()
        for st in fs.listStatus(hadoop_path(path))
        if st.getPath().getName().endswith(".parquet")
    }
    # one row per file by construction — driver-collectable even at
    # 100 TB (module docstring), so the set diff is a local operation.
    # Manifest `file` values are input_file_name URIs (percent-encoded);
    # decode their basenames before diffing against the raw FS names or
    # a file with an escapable char re-stats as "new" on every call.
    decoded = {
        r.file: unquote(r.file.rsplit("/", 1)[-1])
        for r in manifest.select("file").collect()
    }
    known = set(decoded.values())
    new_files = [full for name, full in sorted(listed.items()) if name not in known]
    kept = manifest.filter(
        F.col("file").isin([f for f, name in decoded.items() if name in listed])
    )
    if not new_files:
        return kept
    return kept.unionByName(build_manifest(spark, new_files, cols))


def prune_files(manifest: DataFrame, intervals: dict[str, tuple]) -> list[str]:
    """Files whose [min, max] range overlaps EVERY queried interval
    (closed ranges; ``None`` bound = unbounded). Conservative: a file
    is kept unless its stats prove it cannot match. NULL stats (a file
    with all-NULL values for the column) keep the file, matching table
    formats' null-safe skipping."""
    cond = F.lit(True)
    for c, (lo, hi) in intervals.items():
        if lo is not None:
            cond &= F.col(f"{c}_max").isNull() | (F.col(f"{c}_max") >= F.lit(lo))
        if hi is not None:
            cond &= F.col(f"{c}_min").isNull() | (F.col(f"{c}_min") <= F.lit(hi))
    return [r.file for r in manifest.filter(cond).select("file").collect()]


def scan_pruned(
    spark: SparkSession,
    manifest: DataFrame,
    intervals: dict[str, tuple],
    schema=None,
) -> DataFrame:
    """Data-skipping scan: open only the files the manifest can't rule
    out, then re-apply the exact range predicate (stats are a superset
    filter, never the answer). Returns an empty frame with the right
    schema when everything is pruned — derived from any manifest file,
    or from ``schema`` when the manifest itself is EMPTY (zero files
    listed); with neither available there is nothing to describe the
    table, so raise a clear error instead of the bare
    ``spark.read.parquet()`` crash (round-4 ADVICE)."""
    files = prune_files(manifest, intervals)
    if not files:
        any_file = [r.file for r in manifest.select("file").limit(1).collect()]
        if any_file:
            empty = spark.read.parquet(*any_file).limit(0)
        elif schema is not None:
            empty = spark.createDataFrame([], schema)
        else:
            raise ValueError(
                "scan_pruned: manifest lists no files and no schema was "
                "given — pass schema= to get an empty typed frame"
            )
        return _apply_intervals(empty, intervals)
    return _apply_intervals(spark.read.parquet(*files), intervals)


def _apply_intervals(df: DataFrame, intervals: dict[str, tuple]) -> DataFrame:
    for c, (lo, hi) in intervals.items():
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    return df
