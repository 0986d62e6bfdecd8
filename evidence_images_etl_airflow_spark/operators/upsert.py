"""J2/J3 — upsert semantics (SURVEY.md §2.5).

Two idempotency mechanisms exist in the reference:

- J2 conflict-skip: ``INSERT ... ON CONFLICT(sessionuid, sceneuid) DO
  NOTHING`` (evidence_images_processing.py:169-171) — the PK silently
  drops rows whose key already exists, which is what makes the daily
  15-day-lookback re-run idempotent. Because rows insert sequentially,
  it also dedups *within* a batch, first-arrival-wins.
- J3 MERGE: matched-update / not-matched-insert
  (learn/postgres_op.py:46-58).

Spark has no in-place keyed table, so both become pure DataFrame
algebra: dedup + left-anti against existing keys (J2), or the batch
unioned with the target rows whose key the batch lacks (J3). Both
anti joins put the batch's keys on the build side: when the batch is
small, Spark broadcasts them and streams the target through the join,
so the target is never shuffled. A Delta/Iceberg MERGE would push this
into the table format (jars not present here — parquet rewrite path
instead).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_first_wins(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """In-batch PK dedup. The reference's sequential inserts keep the
    first row per key in arrival order; distributed data has no arrival
    order, so determinism requires an explicit ``order_by``. Without
    one, falls back to ``dropDuplicates`` (any row — fine when
    duplicates are exact copies)."""
    keys = list(keys)
    if not order_by:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in order_by])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def conflict_skip(
    new_df: DataFrame,
    existing: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """J2: rows of ``new_df`` whose key is NOT already in ``existing``,
    deduped within the batch — exactly the set ``ON CONFLICT DO
    NOTHING`` would insert. Compose with an append write for the full
    K1 sink."""
    keys = list(keys)
    batch = dedup_first_wins(new_df, keys, order_by)
    # Existing side only needs the keys: project before the anti join so
    # it reads keys, not whole rows. No dedup of those keys: a left anti
    # join drops a row on its first match, so duplicates cost nothing.
    return batch.join(existing.select(*keys), keys, "left_anti")


def keyed_update(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    set_cols: Sequence[str],
) -> DataFrame:
    """J4: the reference's cross-engine keyed UPDATE
    (add_image_data.py:65-71) — ``UPDATE target SET set_cols FROM
    source WHERE keys match`` — as a left join. Matched target rows
    take the source's values for ``set_cols``; unmatched target rows
    keep theirs; source rows with no target match are ignored (UPDATE
    never inserts). Plain ``=`` key matching, like the SQL it mirrors.

    ``source`` must be key-unique (the reference's executemany applies
    rows sequentially, so duplicates would be last-write-wins
    nondeterminism — enforce with dedup_first_wins upstream)."""
    keys = list(keys)
    missing = [c for c in set_cols if c not in target.columns]
    if missing:
        raise ValueError(f"set_cols not in target: {missing}")
    t = target.alias("t")
    s = (
        source.select(*keys, *set_cols)
        .withColumn("__s_present", F.lit(1))
        .alias("s")
    )
    joined = t.join(s, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in keys], "left")
    matched = F.col("s.__s_present").isNotNull()
    out_cols = []
    for c in target.columns:
        if c in set_cols:
            out_cols.append(
                F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    return joined.select(*out_cols)


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J3: MERGE WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT
    (learn/postgres_op.py:46-58) over immutable files, as
    ``source ∪ (target ▷ source keys)``: every source row, plus the
    target rows whose key no source row has. Returns the post-merge
    table contents, columns ``keys`` first, then the target's other
    columns in target order; a key or updated column is typed as the
    wider of its source and target types.

    Keys match null-safely (a NULL key matches a NULL key). The anti
    join's build side is the source's keys, which Spark broadcasts when
    they are small, so target rows stream through it unshuffled.
    ``update_cols`` defaults to every non-key column present in both
    sides; a target column outside it keeps the matched target row's
    value, read by a left join of the source to the target that exists
    only when there is such a column (and is NULL for an inserted row).

    Source must be key-unique (MERGE requires it; enforce with
    dedup_first_wins upstream). With duplicate keys in the target, a
    matched source row appears once when every non-key column is
    updated, where a full outer join would repeat it once per matched
    target row; with kept columns, the left join still gives one row
    per matched target row, each with that row's kept values.
    """
    keys = list(keys)
    non_keys = [c for c in target.columns if c not in keys]
    update_cols = list(update_cols) if update_cols is not None else [
        c for c in non_keys if c in source.columns
    ]
    kept = [c for c in non_keys if c not in update_cols]
    if kept:
        t = target.select(*keys, *kept).alias("t")
        cond = [F.col(f"s.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys]
        new_rows = source.alias("s").join(t, cond, "left").select(
            *[F.col(f"s.{k}") for k in keys],
            *[F.col(f"{'t' if c in kept else 's'}.{c}") for c in non_keys],
        )
    else:
        new_rows = source.select(*keys, *non_keys)
    # the anti join reads keys through their own aliases, so a source
    # derived from the target (a self join) still resolves each side
    t = target.alias("t")
    sk = source.select(*keys).alias("sk")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"sk.{k}")) for k in keys]
    untouched = t.join(sk, cond, "left_anti").select(*keys, *non_keys)
    return new_rows.union(untouched)
