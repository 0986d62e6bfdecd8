"""Scalar / array column transformations — the reference's whole UDF
surface (SURVEY.md §2.4, T1-T9) re-expressed as native Catalyst column
expressions. None of these need Python UDFs: every one stays inside
whole-stage codegen, unlike the reference's cell-at-a-time pandas
``applymap`` / row loops (column_transformations.py:36,
evidence_images_processing.py:245-249, 278-284).

All helpers are pure Column -> Column (or DataFrame -> DataFrame)
functions so plans compose lazily and Catalyst can push/prune around
them.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --- T1: boolean-string -> bit coercion ------------------------------------
def coerce_bool_strings(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    """Replace literal strings 'True'/'False' with 1/0 in every (or the
    given) string column — column_transformations.py:5-14 does this with
    a whole-frame pandas ``replace``; here it is a per-column
    ``CASE WHEN`` that codegens. Columns whose every non-null value is
    boolean-like end up IntegerType (matching the reference's bit-ish
    ``int`` DDL columns, e.g. ReExportStatus); mixed columns keep their
    string type with '1'/'0' substituted, exactly like pandas replace.
    """
    target = list(columns) if columns is not None else [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    out = df
    for name in target:
        c = F.col(name)
        out = out.withColumn(
            name,
            F.when(c == "True", F.lit("1")).when(c == "False", F.lit("0")).otherwise(c),
        )
    return out


def bool_to_int(col: str | Column) -> Column:
    """Strict coercion for a column the target DDL declares as int:
    'True'->1, 'False'->0, numeric strings pass through the int cast,
    anything else -> NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == "True", F.lit(1))
        .when(c == "False", F.lit(0))
        # try_cast: ANSI-safe — non-numeric leftovers become NULL
        # instead of failing the job (Spark 4 ANSI default)
        .otherwise(c.try_cast(T.IntegerType()))
    )


def coerce_bool_columns_to_int(df: DataFrame, columns: Iterable[str]) -> DataFrame:
    """:func:`bool_to_int` over each of ``columns``, in one projection."""
    return df.withColumns({name: bool_to_int(name) for name in columns})


# --- T2: object -> string dtype cast ----------------------------------------
def cast_all_to_string(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    """column_transformations.py:20-23 casts every pandas ``object``
    column to ``string`` dtype. Spark columns are already typed, so this
    is only meaningful when ingesting loosely-typed sources: cast the
    given (default: all string-ish) columns to StringType explicitly."""
    target = list(columns) if columns is not None else [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
    ]
    out = df
    for name in target:
        out = out.withColumn(name, F.col(name).cast(T.StringType()))
    return out


# --- T3: NaT/NaN -> NULL normalization --------------------------------------
def normalize_nat(df: DataFrame) -> DataFrame:
    """column_transformations.py:27-39 applymaps the whole frame to turn
    pandas NaT/NaN into None whenever any datetime column exists. Spark
    nulls are native and parquet NaT decodes to NULL already, so the
    distributed path is the identity; we keep NaN->NULL for float
    columns (pandas' NaN sentinel leaking through Arrow) to preserve the
    reference's observable semantics."""
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            out = out.withColumn(
                f.name,
                F.when(F.isnan(F.col(f.name)), F.lit(None)).otherwise(F.col(f.name)),
            )
    return out


# --- P2: non-empty predicate -----------------------------------------------
def non_empty(col: str | Column) -> Column:
    """``col != ''``: true for a non-empty string. SQL semantics, so a
    NULL is dropped by a filter on it as well as ''
    (:func:`operators.filters.non_empty_rows`)."""
    c = F.col(col) if isinstance(col, str) else col
    return c != ""


# --- T4: comma-split string -> array ----------------------------------------
def split_names(col: str | Column, delim: str = ",") -> Column:
    """``F.split`` of the image-name list — the reference splits in a
    Python loop after re-reading the table (evidence_images_processing
    .py:230-260); fused upstream here. Single name -> 1-element array,
    matching the reference's explicit special case (:248). NULL -> NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    # F.split takes a regex; escape the delimiter literally.
    import re

    return F.split(c, re.escape(delim))


# --- T5: array-map URL qualification ----------------------------------------
def qualify_urls(url_col: str | Column, names_col: str | Column) -> Column:
    """Prepend the base URL to every split name — the reference's nested
    loop + UPDATE pass (evidence_images_processing.py:262-289) becomes a
    higher-order ``transform`` over the array, no second table scan."""
    url = F.col(url_col) if isinstance(url_col, str) else url_col
    names = F.col(names_col) if isinstance(names_col, str) else names_col
    return F.transform(names, lambda n: F.concat(url, n))


# --- T6: timestamp -> date ---------------------------------------------------
def session_date(col: str | Column) -> Column:
    """``DATE(s.session_start_date)`` (add_image_data.py:35)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_date(c)


# --- T7: 1-indexed array subscript ------------------------------------------
def first_element(col: str | Column, index: int = 1) -> Column:
    """``arr[1]`` in Postgres is 1-indexed (add_image_data.py:45-46);
    ``F.element_at`` is also 1-indexed, so the translation is direct."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(c, index)


# --- T8: interval arithmetic (the reference's open TODO) --------------------
def session_length(end_col: str | Column, start_col: str | Column) -> Column:
    """session_end_date - session_start_date -> DayTimeIntervalType.
    Declared in the DDL (evidence_images_processing.py:85) but never
    populated (TODO at :183); we implement it."""
    e = F.col(end_col) if isinstance(end_col, str) else end_col
    s = F.col(start_col) if isinstance(start_col, str) else start_col
    return e - s


def session_length_seconds(end_col: str | Column, start_col: str | Column) -> Column:
    """Interval as total seconds (DoubleType) — the oracle-comparable
    representation (DayTimeIntervalType has no stable cross-engine hash;
    SURVEY §7 hard-part 3)."""
    e = F.col(end_col) if isinstance(end_col, str) else end_col
    s = F.col(start_col) if isinstance(start_col, str) else start_col
    # timestampdiff works for TIMESTAMP and TIMESTAMP_NTZ alike and is
    # session-timezone-independent (a start→end difference, no epoch)
    return (F.timestamp_diff("MICROSECOND", s, e) / F.lit(1_000_000.0)).cast("double")


# --- T9: string fold ---------------------------------------------------------
def fold_concat(cols: Iterable[str | Column], sep: str = " and ") -> Column:
    """``reduce(lambda x, y: x + ' and ' + y, ...)``
    (learn/taskflow_api_dag.py:44) -> ``concat_ws``."""
    return F.concat_ws(sep, *[F.col(c) if isinstance(c, str) else c for c in cols])


def lit_rows(rows, schema: str) -> Column:
    """Driver-side ``rows`` (tuples in the DDL ``schema``'s column order)
    as one generator column to select over a 1-row frame such as
    ``spark.range(0, 1, 1, 1)``. Unlike ``spark.createDataFrame(rows)``,
    whose Python-backed scan runs one Python worker task per
    default-parallelism slot, the rows are plan literals: no Python
    worker runs."""
    st = T._parse_datatype_string(schema)
    return F.inline(
        F.array(*[
            F.struct(*[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ])
            for row in rows
        ]).cast(T.ArrayType(st))
    )
