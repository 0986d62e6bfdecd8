"""Schema registry (SURVEY.md §1.2-1.3, §7 M0).

The reference creates its targets with fixed DDL
(``CREATE TABLE IF NOT EXISTS`` — evidence_images_processing.py:44-76,
78-115; learn/postgres_op.py:17-41) while inputs are schema-on-read
parquet. We mirror that: explicit ``StructType`` for every persistent
target, inference for raw inputs, and case-insensitive reconciliation
between the two (filter_columns.py:10).

Type mapping notes (SURVEY §1.2):
- Postgres UUID -> StringType (canonical lowercase-hyphenated).
- varchar(n)   -> StringType + a length limit recorded in
  ``VARCHAR_LIMITS`` enforced by sinks.validate_varchar_lengths, which
  replaces the reference's load-time STRING_DATA_RIGHT_TRUNCATION
  handler (evidence_images_processing.py:223-228).
- text[] / varchar(255)[] -> ArrayType(StringType()).
- interval     -> DayTimeIntervalType (session_length — the reference
  declares it at :85 and leaves computing it as a TODO at :183).
- bit-ish int  -> IntegerType ('True'/'False' strings coerced to 1/0,
  column_transformations.py:13-14).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- evidence_images target (evidence_images_processing.py:46-62) ----------
# PK (sessionuid, sceneuid) at :61; the two formatted* arrays are produced
# by the split / URL-qualify post-processing ops (:248, :278-284).
EVIDENCE_IMAGES = T.StructType(
    [
        T.StructField("sessionuid", T.StringType(), False),  # UUID
        T.StructField("sceneuid", T.StringType(), False),  # UUID
        T.StructField("scenetype", T.StringType(), True),  # varchar(50)
        T.StructField("subscenetype", T.StringType(), True),  # varchar(50)
        T.StructField("evidenceimageurl", T.StringType(), True),  # text
        T.StructField("evidenceimagename", T.StringType(), True),  # varchar(255)
        T.StructField("formattedevidenceimageurl", T.ArrayType(T.StringType()), True),
        T.StructField("formattedevidenceimagename", T.ArrayType(T.StringType()), True),
        T.StructField("createdontime", T.TimestampType(), True),
        T.StructField("reexportstatus", T.IntegerType(), True),  # bit-ish
        T.StructField("reexporttime", T.TimestampType(), True),
        T.StructField("reprocessedstatus", T.IntegerType(), True),
        T.StructField("reprocessedtime", T.TimestampType(), True),
    ]
)
EVIDENCE_IMAGES_PK = ["sessionuid", "sceneuid"]

# --- sessions target (evidence_images_processing.py:81-106) ----------------
SESSIONS = T.StructType(
    [
        T.StructField("sessionuid", T.StringType(), False),  # UUID
        T.StructField("session_start_date", T.TimestampType(), True),
        T.StructField("session_end_date", T.TimestampType(), True),
        T.StructField("session_length", T.DayTimeIntervalType(), True),  # :85
        T.StructField("program_id", T.IntegerType(), True),
        T.StructField("program_name", T.StringType(), True),
        T.StructField("program_item_id", T.IntegerType(), True),
        T.StructField("program_item_name", T.StringType(), True),
        T.StructField("client_code", T.StringType(), True),
        T.StructField("sub_client_code", T.StringType(), True),
        T.StructField("outlet_code", T.StringType(), True),
        T.StructField("outlet_name", T.StringType(), True),
        T.StructField("country_code", T.StringType(), True),
        T.StructField("user_id", T.StringType(), True),
        T.StructField("user_profile", T.StringType(), True),
        T.StructField("sessionstatus", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("cancelcallnote", T.StringType(), True),
        T.StructField("cancelcallreason", T.StringType(), True),
        T.StructField("cancelevidenceimageurl", T.StringType(), True),
        T.StructField("cancelevidenceimagename", T.StringType(), True),
        T.StructField("sessionendlatitude", T.DoubleType(), True),
        T.StructField("sessionendlongitude", T.DoubleType(), True),
    ]
)

# --- dag_run MERGE-upsert fixture (learn/postgres_op.py:20-27,33-40) -------
DAG_RUN = T.StructType(
    [
        T.StructField("dt", T.DateType(), False),
        T.StructField("dag_id", T.StringType(), False),
    ]
)
DAG_RUN_PK = ["dt", "dag_id"]

# --- column keep-lists (the reference's projections, source casing) --------
# IRMQ keep-list: evidence_images_processing.py:366-378 (11 columns)
IRMQ_KEEP = [
    "SessionUID",
    "SceneUID",
    "SceneType",
    "SubSceneType",
    "EvidenceImageURL",
    "EvidenceImageName",
    "CreatedOnTime",
    "ReExportStatus",
    "ReExportTime",
    "ReProcessedStatus",
    "ReProcessedTime",
]
# Session keep-list: evidence_images_processing.py:379-403 (23 columns)
SESSION_KEEP = [
    "Sessionuid",
    "sessionstartdatetime",
    "sessionenddatetime",
    "programid",
    "programname",
    "programitemid",
    "programitemname",
    "clientcode",
    "subclientcode",
    "outletcode",
    "outletname",
    "countrycode",
    "userid",
    "userprofile",
    "sessionstatus",
    "latitude",
    "longitude",
    "cancelcallnote",
    "cancelcallreason",
    "cancelevidenceimageurl",
    "cancelevidenceimagename",
    "sessionendlatitude",
    "sessionendlongitude",
]

# varchar(n) limits from the DDL, enforced pre-write (SURVEY §4.3c)
VARCHAR_LIMITS: dict[str, dict[str, int]] = {
    "evidence_images": {
        "scenetype": 50,
        "subscenetype": 50,
        "evidenceimagename": 255,
    },
    "sessions": {
        "program_name": 255,
        "program_item_name": 255,
        "client_code": 255,
        "sub_client_code": 255,
        "outlet_code": 255,
        "outlet_name": 255,
        "country_code": 10,
        "user_id": 255,
        "user_profile": 255,
        "sessionstatus": 255,
        "cancelcallnote": 255,
        "cancelcallreason": 255,
        "cancelevidenceimagename": 255,
    },
}

REGISTRY: dict[str, T.StructType] = {
    "evidence_images": EVIDENCE_IMAGES,
    "sessions": SESSIONS,
    "dag_run": DAG_RUN,
    "temp_dag_run": DAG_RUN,
}


# --- schema evolution (r10) -------------------------------------------------
# Safe-widening rules, Iceberg's evolution matrix: int family widens up,
# float->double, decimal grows precision at FIXED scale. Nothing lossy
# (long->double drops precision above 2^53 and is NOT allowed), nothing
# narrowing. A long-lived 100 TB table's readers see old files through
# the evolved schema, so only promotions every engine can apply at scan
# time belong here.
_INT_ORDER = ["byte", "short", "int", "long"]


def _widen_atomic(a: T.DataType, b: T.DataType) -> T.DataType | None:
    """Least common SAFELY-widened type of two atomic types, or None
    when no lossless promotion exists."""
    if a == b:
        return a
    sa, sb = a.simpleString(), b.simpleString()
    ints = {"tinyint": "byte", "smallint": "short", "integer": "int",
            "bigint": "long"}
    sa, sb = ints.get(sa, sa), ints.get(sb, sb)
    if sa in _INT_ORDER and sb in _INT_ORDER:
        return {
            "byte": T.ByteType(), "short": T.ShortType(),
            "int": T.IntegerType(), "long": T.LongType(),
        }[_INT_ORDER[max(_INT_ORDER.index(sa), _INT_ORDER.index(sb))]]
    if {sa, sb} == {"float", "double"}:
        return T.DoubleType()
    if isinstance(a, T.DecimalType) and isinstance(b, T.DecimalType):
        if a.scale == b.scale:
            return T.DecimalType(max(a.precision, b.precision), a.scale)
        return None
    return None


def merge_schemas(a: T.StructType, b: T.StructType) -> T.StructType:
    """Union of two schema versions with per-field safe widening:
    fields present in both must widen to a common type (ValueError
    otherwise — silent narrowing/coercion is how long-lived tables rot);
    fields in only one side come through nullable. Field order: a's
    fields first, then b's additions — deterministic, so repeated
    merges are stable."""
    out: list[T.StructField] = []
    b_by_name = {f.name.lower(): f for f in b.fields}
    seen = set()
    for f in a.fields:
        other = b_by_name.get(f.name.lower())
        if other is None:
            out.append(T.StructField(f.name, f.dataType, True))
        else:
            seen.add(f.name.lower())
            w = _widen_atomic(f.dataType, other.dataType)
            if w is None:
                raise ValueError(
                    f"no safe widening for {f.name!r}: "
                    f"{f.dataType.simpleString()} vs "
                    f"{other.dataType.simpleString()}"
                )
            out.append(
                T.StructField(f.name, w, f.nullable or other.nullable)
            )
    for f in b.fields:
        if f.name.lower() not in seen and f.name.lower() not in {
            x.name.lower() for x in a.fields
        }:
            out.append(T.StructField(f.name, f.dataType, True))
    return T.StructType(out)


def evolve_to(df, target: T.StructType):
    """Cast a frame to an evolved target schema: existing columns must
    widen safely (ValueError otherwise), missing columns are added as
    typed NULLs, extra columns are rejected (an unplanned column in a
    long-lived pipeline is a bug, not data — project it away
    explicitly upstream). Case-insensitive matching, same as the
    projection operator (reference filter_columns.py:10)."""
    from pyspark.sql import functions as F

    have = {c.lower(): c for c in df.columns}
    want = {f.name.lower() for f in target.fields}
    extra = [c for c in df.columns if c.lower() not in want]
    if extra:
        raise ValueError(f"unplanned columns {extra!r} — project away first")
    cols = []
    for f in target.fields:
        src = have.get(f.name.lower())
        if src is None:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        cur = df.schema[src].dataType
        if _widen_atomic(cur, f.dataType) != f.dataType:
            raise ValueError(
                f"cannot safely evolve {src!r} "
                f"{cur.simpleString()} -> {f.dataType.simpleString()}"
            )
        cols.append(F.col(src).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def union_evolved(frames):
    """Union frames written under different schema versions: merge all
    their schemas pairwise (safe widening + additions), evolve each
    frame to the merged shape, unionByName. The read-side half of
    schema evolution — how a decade of parquet vintages is scanned as
    one table."""
    frames = list(frames)
    if not frames:
        raise ValueError("union_evolved needs at least one frame")
    merged = frames[0].schema
    for f in frames[1:]:
        merged = merge_schemas(merged, f.schema)
    out = evolve_to(frames[0], merged)
    for f in frames[1:]:
        out = out.unionByName(evolve_to(f, merged))
    return out
