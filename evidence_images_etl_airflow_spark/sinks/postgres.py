"""Postgres dialect + server-side upsert SQL generation (SURVEY.md
§4.3a/b; K1/K5/K6 — the reference's whole load side).

The reference's tables use Postgres array columns — ``text[]`` and
``varchar(255)[]`` (dags/evidence_images_processing.py:53-54) — which
Spark's built-in JDBC dialect cannot round-trip, and its idempotent
load is server-side ``INSERT ... ON CONFLICT(sessionuid, sceneuid) DO
NOTHING`` (dags/evidence_images_processing.py:169-171) plus a
staging-table MERGE (dags/learn/postgres_op.py:46-58). This module is
the pure-code half of that story — type mapping and SQL text — unit
-testable without a live database or driver jars:

- ``PG_DIALECT`` maps Catalyst types ⇄ Postgres types including the
  array columns, and emits the ``createTableColumnTypes`` /
  ``customSchema`` option strings that teach Spark's JDBC source the
  same mapping (the PySpark-reachable surface of a custom JdbcDialect;
  a JVM ``JdbcDialects.registerDialect`` needs a jar we can't ship
  here, and the option strings cover both directions for these tables).
- SQL builders generate the reference's exact statement shapes:
  CREATE TABLE DDL, INSERT..ON CONFLICT DO NOTHING, and the
  staging+MERGE trio, with identifiers quoted and parameter
  placeholders for executemany-style drivers.

At scale the write path is: df.write.jdbc appends into an UNLOGGED
staging table (parallel, one connection per partition), then ONE
server-side MERGE publishes atomically — the same two-phase shape as
``sinks.writers.merge_into_parquet`` (merged rows staged, then
``swap_parquet`` into place), with the conflict arbitration done by
the database exactly as the reference does it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
    VarcharType,
)


class PostgresDialect:
    """Catalyst ⇄ Postgres type mapping with array support.

    Spark's stock Postgres dialect reads ``text[]`` as an unsupported
    type and writes ArrayType as TEXT; this mapping keeps the array
    columns typed in both directions, mirroring the reference DDL
    (evidence_images_processing.py:46-61)."""

    _TO_PG: list[tuple[type, str]] = [
        (BooleanType, "boolean"),
        (ShortType, "smallint"),
        (IntegerType, "integer"),
        (LongType, "bigint"),
        (FloatType, "real"),
        (DoubleType, "double precision"),
        (DateType, "date"),
        (TimestampType, "timestamp"),
        (BinaryType, "bytea"),
        (StringType, "text"),
    ]

    def to_pg(self, dt: DataType) -> str:
        if isinstance(dt, VarcharType):
            return f"varchar({dt.length})"
        if isinstance(dt, DecimalType):
            return f"numeric({dt.precision},{dt.scale})"
        if isinstance(dt, ArrayType):
            return f"{self.to_pg(dt.elementType)}[]"
        for cls, name in self._TO_PG:
            if isinstance(dt, cls):
                return name
        raise TypeError(f"no Postgres mapping for Catalyst type {dt.simpleString()}")

    def to_spark(self, pg_type: str) -> DataType:
        t = pg_type.strip().lower()
        if t.endswith("[]"):
            return ArrayType(self.to_spark(t[:-2]))
        if t.startswith("varchar") or t.startswith("character varying"):
            # lengths surface as VARCHAR(n); Spark treats them as string
            # with a length check at write (writers.validate_varchar_lengths)
            return StringType()
        if t.startswith("numeric") or t.startswith("decimal"):
            if "(" in t:
                p, s = t[t.index("(") + 1 : t.rindex(")")].split(",")
                return DecimalType(int(p), int(s))
            return DecimalType(38, 18)
        scalar = {
            "boolean": BooleanType(),
            "smallint": ShortType(),
            "integer": IntegerType(),
            "int": IntegerType(),
            "bigint": LongType(),
            "real": FloatType(),
            "double precision": DoubleType(),
            "date": DateType(),
            "timestamp": TimestampType(),
            "timestamp without time zone": TimestampType(),
            "bytea": BinaryType(),
            "text": StringType(),
            "uuid": StringType(),
            "interval": StringType(),
        }
        if t in scalar:
            return scalar[t]
        raise TypeError(f"no Catalyst mapping for Postgres type {pg_type!r}")

    # --- Spark JDBC option strings -------------------------------------
    def create_table_column_types(
        self, schema: StructType, overrides: dict[str, str] | None = None
    ) -> str:
        """Value for ``.option("createTableColumnTypes", ...)`` on a
        JDBC write: per-column Postgres DDL types, e.g. the reference's
        ``FormattedEvidenceImageName varchar(255)[]``."""
        overrides = overrides or {}
        parts = [
            f"{f.name} {overrides.get(f.name, self.to_pg(f.dataType))}"
            for f in schema.fields
        ]
        return ", ".join(parts)

    def custom_schema(self, columns: dict[str, str]) -> str:
        """Value for ``.option("customSchema", ...)`` on a JDBC read:
        maps server types (e.g. ``text[]``) to Catalyst DDL so the scan
        decodes arrays instead of failing on an unknown type."""
        return ", ".join(
            f"{name} {self.to_spark(pg).simpleString()}" for name, pg in columns.items()
        )


PG_DIALECT = PostgresDialect()


def _q(ident: str) -> str:
    """Quote a Postgres identifier (lowercased, as the server folds)."""
    return '"' + ident.replace('"', '""') + '"'


def create_table_sql(
    table: str,
    schema: StructType,
    primary_key: Sequence[str] = (),
    if_not_exists: bool = True,
    type_overrides: dict[str, str] | None = None,
    unlogged: bool = False,
) -> str:
    """K4-style idempotent DDL (evidence_images_processing.py:44-61):
    CREATE TABLE IF NOT EXISTS with the dialect's column types and an
    optional composite PRIMARY KEY. ``unlogged`` builds the staging
    variant (no WAL — the right choice for a bulk-load scratch table)."""
    overrides = type_overrides or {}
    cols = [
        f"    {_q(f.name)} {overrides.get(f.name, PG_DIALECT.to_pg(f.dataType))}"
        for f in schema.fields
    ]
    if primary_key:
        cols.append(f"    PRIMARY KEY ({', '.join(_q(k) for k in primary_key)})")
    head = "CREATE"
    if unlogged:
        head += " UNLOGGED"
    head += " TABLE"
    if if_not_exists:
        head += " IF NOT EXISTS"
    body = ",\n".join(cols)
    return f"{head} {_q(table)} (\n{body}\n)"


def insert_on_conflict_sql(
    table: str,
    columns: Sequence[str],
    conflict_columns: Sequence[str],
    do_update: bool = False,
    update_columns: Sequence[str] | None = None,
) -> str:
    """J2/K1: the reference's idempotent insert
    (evidence_images_processing.py:146-172) —
    ``INSERT ... ON CONFLICT(keys) DO NOTHING`` — or the DO UPDATE
    variant for last-write-wins. ``%s`` placeholders match
    psycopg2/executemany batching."""
    collist = ", ".join(_q(c) for c in columns)
    ph = ", ".join(["%s"] * len(columns))
    keys = ", ".join(_q(c) for c in conflict_columns)
    sql = f"INSERT INTO {_q(table)} ({collist}) VALUES ({ph}) ON CONFLICT ({keys})"
    if not do_update:
        return sql + " DO NOTHING"
    upd = [
        c for c in (update_columns if update_columns is not None else columns)
        if c not in set(conflict_columns)
    ]
    sets = ", ".join(f"{_q(c)} = EXCLUDED.{_q(c)}" for c in upd)
    return sql + f" DO UPDATE SET {sets}"


def merge_sql(
    target: str,
    source: str,
    keys: Sequence[str],
    update_columns: Sequence[str],
    insert_columns: Sequence[str],
) -> str:
    """J3/K5: Postgres 15+ MERGE exactly as the reference stages it
    (learn/postgres_op.py:46-58): matched -> update, not matched ->
    insert. Unqualified assignment targets in UPDATE SET — the
    reference's comment notes qualifying them is a server error."""
    on = " AND ".join(f"target.{_q(k)} = source.{_q(k)}" for k in keys)
    sets = ", ".join(f"{_q(c)} = source.{_q(c)}" for c in update_columns)
    ins_cols = ", ".join(_q(c) for c in insert_columns)
    ins_vals = ", ".join(f"source.{_q(c)}" for c in insert_columns)
    return (
        f"MERGE INTO {_q(target)} AS target\n"
        f"USING {_q(source)} AS source\n"
        f"    ON {on}\n"
        f"WHEN MATCHED THEN\n"
        f"    UPDATE SET {sets}\n"
        f"WHEN NOT MATCHED THEN\n"
        f"    INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def staged_merge_statements(
    target: str,
    staging: str,
    schema: StructType,
    keys: Sequence[str],
    update_columns: Sequence[str] | None = None,
) -> list[str]:
    """The K5 two-phase load as an ordered statement list (the
    reference's temp-table DAG, learn/postgres_op.py:20-70): create
    UNLOGGED staging -> (df.write.jdbc appends into it, outside this
    function) -> one atomic MERGE -> drop staging. Returns the three
    server-side statements; run them before/after the Spark append."""
    non_keys = [f.name for f in schema.fields if f.name not in set(keys)]
    upd = list(update_columns) if update_columns is not None else non_keys
    all_cols = [f.name for f in schema.fields]
    return [
        create_table_sql(staging, schema, unlogged=True),
        merge_sql(target, staging, keys, upd, all_cols),
        f"DROP TABLE {_q(staging)}",
    ]


def mssql_keyed_update_sql(
    table: str = "[dbo].[View_ManualQuestions]",
    set_columns: Sequence[str] = ("EvidenceImageName", "EvidenceImageURL"),
    key_columns: Sequence[str] = ("OutletCode", "SubSceneType", "Date"),
) -> str:
    """J4/K6: the cross-engine keyed UPDATE the reference pushes to
    MSSQL (add_image_data.py:65-71) — parameterized on both the SET and
    WHERE sides (the original left the WHERE placeholders broken:
    ``WHERE ,[OutletCode] = {{}}`` — this is the corrected shape)."""
    sets = ", ".join(f"[{c}] = %s" for c in set_columns)
    where = " AND ".join(f"[{c}] = %s" for c in key_columns)
    return f"UPDATE {table} SET {sets} WHERE {where}"
