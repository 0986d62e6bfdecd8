"""P2 — the non-empty row filter (SURVEY.md §2.2). P3 and P4 are plain
inline predicates in the queries that use them.

A plain Catalyst predicate; when applied directly after a scan it
pushes down into the parquet reader (row-group skipping) — the reference
applies it only after full download + transform
(evidence_images_processing.py:416).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from evidence_images_etl_airflow_spark.functions.transforms import non_empty


def non_empty_rows(df: DataFrame, column: str = "EvidenceImageURL") -> DataFrame:
    """P2: keep rows with a non-empty-string image URL
    (evidence_images_processing.py:147-150). The reference compares
    ``!= ''`` only, so NULLs are *dropped* too (pandas NaN != '' is
    True, but in SQL NULL != '' is NULL -> row dropped; the reference's
    source encodes missing as '' so the distinction never bites there).
    We match the SQL semantics: NULL and '' both removed, documented.
    """
    return df.filter(non_empty(column))
