"""EP1 — the main evidence-images pipeline (SURVEY.md §3 EP1).

The reference runs this as 29 Airflow tasks serializing whole pandas
frames through XCom between every step
(evidence_images_processing.py:298-425). Here it is ONE lazy plan per
target table:

    scan (pruned, multi-path) -> unionByName -> case-insensitive
    projection -> bool coercion -> empty-URL filter -> split ->
    URL-qualify -> conflict-skip upsert write

The two post-processing UPDATE passes (T4 split at :230-260, T5
URL-qualify at :262-289 — each a full read-back of the target in the
reference) are fused *upstream* of the write: both derived arrays are
pure functions of columns already in flight (SURVEY §4.1
redundant-pass elimination). Each transform is one filter and one
projection built from column expressions, so building it analyses
the plan once, not once per column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark import schemas
from evidence_images_etl_airflow_spark.functions.transforms import (
    bool_to_int,
    non_empty,
    qualify_urls,
    session_length,
    split_names,
)


def _keep_columns(raw: DataFrame, keep: list[str]) -> dict[str, Column]:
    """The keep-list columns of ``raw`` by lowercase name (P1). Source
    casing -> DB casing: the reference's keep-lists are source cased
    while the DDL is lowercase; matching is case-insensitive
    (filter_columns.py:10). A keep-list column missing from ``raw``
    raises here, at build time, naming it."""
    by_lower = {c.lower(): c for c in raw.columns}
    missing = [c for c in keep if c.lower() not in by_lower]
    if missing:
        raise ValueError(f"keep-list columns missing from input: {missing}")
    return {c.lower(): F.col(by_lower[c.lower()]) for c in keep}


def transform_evidence_images(raw: DataFrame) -> DataFrame:
    """Raw IRMQ export -> evidence_images shape (pre-write), as one
    filter and one projection.

    Mirrors tasks at evidence_images_processing.py:404-425 in one plan:
    P1 projection (:366-378,404), T1 coercion (:408-410), P2 row filter
    (:416), then the fused T4 split (:248) and T5 URL-qualify (:278-284),
    with columns in the target DDL's order (:46-62).
    """
    c = _keep_columns(raw, schemas.IRMQ_KEEP)  # P1
    names = split_names(c["evidenceimagename"])  # T4
    c.update(
        reexportstatus=bool_to_int(c["reexportstatus"]),  # T1
        reprocessedstatus=bool_to_int(c["reprocessedstatus"]),
        formattedevidenceimagename=names,
        formattedevidenceimageurl=qualify_urls(c["evidenceimageurl"], names),  # T5
    )
    return raw.filter(non_empty(c["evidenceimageurl"])).select(  # P2
        [c[f.name].alias(f.name) for f in schemas.EVIDENCE_IMAGES.fields]
    )


# sessions-DDL column -> source column, where the names differ
# (keep-list :379-403 vs DDL :81-106)
_SESSION_SOURCES = {
    "session_start_date": "sessionstartdatetime",
    "session_end_date": "sessionenddatetime",
    "program_id": "programid",
    "program_name": "programname",
    "program_item_id": "programitemid",
    "program_item_name": "programitemname",
    "client_code": "clientcode",
    "sub_client_code": "subclientcode",
    "outlet_code": "outletcode",
    "outlet_name": "outletname",
    "country_code": "countrycode",
    "user_id": "userid",
    "user_profile": "userprofile",
}


def transform_sessions(raw: DataFrame) -> DataFrame:
    """Raw IRSession export -> sessions shape (pre-write) as one
    projection, including ``session_length`` = end - start, implementing
    the reference's TODO (evidence_images_processing.py:85,:183 — T8)."""
    c = _keep_columns(raw, schemas.SESSION_KEEP)  # P1 (:379-405)
    c["session_length"] = session_length(  # T8
        c["sessionenddatetime"], c["sessionstartdatetime"]
    )
    return raw.select([
        c[_SESSION_SOURCES.get(f.name, f.name)].alias(f.name)
        for f in schemas.SESSIONS.fields
    ])
