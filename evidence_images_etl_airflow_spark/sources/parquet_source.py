"""S1-S5 — pruned multi-source parquet scan (SURVEY.md §2.1).

The reference lists blobs under ``V2/Data/{IRMQ,IRSession}`` per
container, filters on ``last_modified`` date, downloads each blob,
decodes parquet via pyarrow, and unions in pandas
(common_helpers/blob_ingestion.py:9-35), fanned out over 10 containers
x 2 types = 20 Airflow tasks (evidence_images_processing.py:305-355).

Spark replaces all of that with ONE declarative scan:
- prefix/partition pruning  = the path(s)/glob handed to the reader (S2)
- modified-date pruning     = ``modifiedAfter``/``modifiedBefore``
  reader options, applied at file-listing time before any read (S3)
- parquet decode            = native vectorized reader (S5)
- 20-task fan-out + union   = one multi-path ``spark.read.parquet`` —
  file-level parallelism across all sources in a single stage, no
  union nodes in the plan at all (D3/U1)

At 100 TB the wins compound: listing is distributed, column pruning and
predicate pushdown reach every file, and there is no per-source
materialization boundary.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from evidence_images_etl_airflow_spark.operators.projection import filter_columns
from evidence_images_etl_airflow_spark.operators.union import concat_dfs


# --- S4: relative date-window computation -----------------------------------
def date_window(start: int = 0, stop: int = -1, today: dt.date | None = None) -> tuple[dt.date, dt.date]:
    """(today - start days, today - stop days) — get_dates.py:2-11.
    ``stop=-1`` yields tomorrow, i.e. "no upper cutoff". The pipeline
    default is ``start=15, stop=-1`` (evidence_images_processing.py:25-26):
    a 15-day lookback re-scanned daily, made idempotent by the
    conflict-skip upsert (J2)."""
    today = today or dt.date.today()
    return today - dt.timedelta(days=start), today - dt.timedelta(days=stop)


def _iso(ts: dt.date | dt.datetime | str) -> str:
    if isinstance(ts, str):
        return ts
    if isinstance(ts, dt.datetime):
        return ts.strftime("%Y-%m-%dT%H:%M:%S")
    return dt.datetime.combine(ts, dt.time.min).strftime("%Y-%m-%dT%H:%M:%S")


# --- S1+S2+S3+S5: the scan ---------------------------------------------------
def scan_parquet(
    spark: SparkSession,
    paths: str | Sequence[str],
    modified_after: dt.date | dt.datetime | str | None = None,
    modified_before: dt.date | dt.datetime | str | None = None,
    columns: Sequence[str] | None = None,
    schema=None,
) -> DataFrame:
    """One pruned scan over any number of path globs.

    ``modified_after``/``modified_before`` map to the reader's
    file-mtime filters — the exact semantics of the reference's
    ``start_date <= blob.last_modified.date() <= end_date`` check
    (blob_ingestion.py:19), applied before any byte is read.
    ``columns`` applies the case-insensitive keep-list (P1) so Catalyst
    prunes the scan to just those columns.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # tolerate schema drift across files (extra/missing columns)
        reader = reader.option("mergeSchema", "true")
    if modified_after is not None:
        reader = reader.option("modifiedAfter", _iso(modified_after))
    if modified_before is not None:
        reader = reader.option("modifiedBefore", _iso(modified_before))
    if isinstance(paths, str):
        paths = [paths]
    df = reader.parquet(*paths)
    if columns:
        df = filter_columns(df, columns)
    return df


# --- D3 replacement: config-driven source list --------------------------------
@dataclass
class SourceConfig:
    """One logical source (the analog of a (container, SAS, IRType)
    triple, evidence_images_processing.py:305-316) — a path glob plus
    optional constant columns (e.g. country code, recovered in the
    reference by reverse env-var lookup at :322-323)."""

    path: str
    constants: dict[str, str] = field(default_factory=dict)


def scan_sources(
    spark: SparkSession,
    sources: Sequence[SourceConfig],
    modified_after=None,
    modified_before=None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Scan many configured sources into one DataFrame.

    Sources with no per-source constant columns are merged into a single
    multi-path reader call (one scan stage); sources that tag rows
    (country code) read per-source then union by name — still lazy, and
    AQE coalesces the tiny partitions.
    """
    plain = [s for s in sources if not s.constants]
    tagged = [s for s in sources if s.constants]
    parts: list[DataFrame] = []
    if plain:
        parts.append(
            scan_parquet(
                spark,
                [s.path for s in plain],
                modified_after,
                modified_before,
                columns,
            )
        )
    for s in tagged:
        df = scan_parquet(spark, s.path, modified_after, modified_before, columns)
        for name, value in s.constants.items():
            from pyspark.sql import functions as F

            df = df.withColumn(name, F.lit(value))
        parts.append(df)
    return concat_dfs(parts, spark=spark)
