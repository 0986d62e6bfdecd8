"""Versioned table publishing on plain parquet — atomic publish,
time travel, rollback.

The reference "publishes" by inserting into live Postgres tables
mid-DAG, so a half-failed run leaves readers seeing partial state
(the 15-day lookback + conflict-skip is the workaround, SURVEY §3).
Table formats solve this with a version pointer; this module is that
pattern reduced to its core, on any Hadoop-compatible filesystem:

    table/
      v=1/part-*.parquet
      v=2/part-*.parquet
      _LATEST            <- one line: "2"

Writers stage a full new version directory (never touching prior
versions), then flip ``_LATEST`` with a create-temp + rename — the
one atomic primitive object stores and HDFS both give. Readers
resolve the pointer first, so they see version N or N+1, never a mix.
Old versions stay readable (time travel) until vacuumed; rollback is
a pointer flip, no data movement.

At 100 TB this is exactly the Delta/Iceberg commit protocol minus
manifests/schema evolution — pair with `sources/manifest.py` for
file skipping within a version.
"""

from __future__ import annotations

from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.sinks.writers import (
    read_bytes,
    write_bytes_atomic,
)
from evidence_images_etl_airflow_spark.storage import hadoop_fs


def _flip_pointer(spark: SparkSession, table: str, value: int) -> None:
    """Point ``_LATEST`` at ``value`` with one atomic overwriting rename
    (``writers.write_bytes_atomic``): readers never see the pointer
    missing, and a failed rename raises and leaves the previous pointer
    in place."""
    write_bytes_atomic(spark, f"{table}/_LATEST", str(value).encode("utf-8"))


def list_versions(spark: SparkSession, table: str) -> list[int]:
    hadoop_path, fs = hadoop_fs(spark, table)
    root = hadoop_path(table)
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v="):
            out.append(int(name[2:]))
    return sorted(out)


def current_version(spark: SparkSession, table: str) -> int | None:
    """Resolve the published version. Primary source is the ``_LATEST``
    pointer; if the pointer is absent (a table written by an older
    delete-then-rename writer that crashed between the two steps), fall
    back to the newest staged version directory — for a single writer
    the newest complete ``v=N`` is exactly what the missing pointer was
    about to say."""
    data = read_bytes(spark, f"{table}/_LATEST")
    if data is None:
        versions = list_versions(spark, table)
        return versions[-1] if versions else None
    return int(data.decode("utf-8").strip())


def publish(spark: SparkSession, df: DataFrame, table: str) -> int:
    """Write ``df`` as the next version and atomically flip the
    pointer (overwriting rename — readers always see SOME pointer).
    Returns the published version number. A crash before the final
    rename leaves the previous version live and the staged data inert
    — re-running publishes cleanly. Single-writer protocol: two
    concurrent publishers can compute the same next version and race
    the flip (last rename wins, the loser's data directory is
    clobbered by neither but its version is skipped over); serialize
    publishers externally, as Delta/Iceberg do with their commit
    lock/CAS."""
    versions = list_versions(spark, table)
    v = (versions[-1] if versions else 0) + 1
    df.write.mode("overwrite").parquet(f"{table}/v={v}")
    _flip_pointer(spark, table, v)
    return v


def read_version(spark: SparkSession, table: str, version: int) -> DataFrame:
    return spark.read.parquet(f"{table}/v={version}")


def read_latest(spark: SparkSession, table: str) -> DataFrame:
    v = current_version(spark, table)
    if v is None:
        raise FileNotFoundError(f"no published version under {table}")
    return read_version(spark, table, v)


def rollback(spark: SparkSession, table: str, version: int) -> None:
    """Point ``_LATEST`` at an existing older version — no data moves,
    same atomic overwriting rename as publish."""
    if version not in list_versions(spark, table):
        raise ValueError(f"version {version} does not exist under {table}")
    _flip_pointer(spark, table, version)


def vacuum(spark: SparkSession, table: str, keep_last: int = 2) -> list[int]:
    """Delete version directories older than the newest ``keep_last``,
    never deleting the currently-pointed version. Returns removed
    version numbers."""
    versions = list_versions(spark, table)
    cur = current_version(spark, table)
    candidates = [v for v in versions[:-keep_last] if v != cur] if keep_last else []
    hadoop_path, fs = hadoop_fs(spark, table)
    for v in candidates:
        fs.delete(hadoop_path(f"{table}/v={v}"), True)
    return candidates


def delete_where(
    spark: SparkSession,
    table: str,
    condition,
    prune_intervals: dict[str, tuple] | None = None,
    manifest: DataFrame | None = None,
    verify_pruned: bool = False,
) -> dict:
    """Targeted row deletion (GDPR / takedown / retention path) as a
    new atomic version: rows where ``condition`` is TRUE disappear,
    everything else survives byte-identically. The 100 TB discipline
    is *touch only the files that contain matches*:

    1. one detection scan finds the files with >=1 matching row
       (``input_file_name`` distinct — with ``prune_intervals`` the
       scan opens only stat-overlapping files, the
       `sources/manifest.py` skip applied to a write. Pass the
       table's persisted ``manifest`` to skip for free — it is
       validated file-by-file against the current version dir and a
       stale one raises; without one the manifest is rebuilt, which
       itself full-scans the version, so pruning then only saves the
       rewrite, not the read);
    2. ONLY those files are decoded and rewritten without their
       matching rows;
    3. every untouched file is copied into the next version dir as raw
       bytes — no parquet decode/encode, no shuffle, object-store
       server-side copy where the FS supports it;
    4. the ``_LATEST`` pointer flips atomically (publish protocol) —
       readers see the pre-delete or post-delete table, never a mix,
       and the old version stays readable until vacuumed (audit trail:
       WHAT was deleted is the version diff).

    On a clustered layout (``writers.cluster_by_range`` on the delete
    key) a key-scoped delete rewrites 1-2 files out of thousands.
    NULL ``condition`` rows are kept (delete-on-TRUE, the SQL DELETE
    rule). Pruning is only sound when ``prune_intervals`` bounds
    ``condition``; ``verify_pruned=True`` re-scans the pruned-OUT
    files for matches and raises before publishing anything if the
    intervals missed rows — one extra read of the skipped files,
    worth it on a compliance path. Returns ``{version,
    files_rewritten, files_copied, rows_deleted}``; a no-match delete
    publishes nothing and returns the current version with zero
    counts."""
    from evidence_images_etl_airflow_spark.sources.manifest import (
        build_manifest,
        prune_files,
    )

    v = current_version(spark, table)
    if v is None:
        raise FileNotFoundError(f"no published version under {table}")
    vdir = f"{table}/v={v}"
    hadoop_path, fs = hadoop_fs(spark, table)
    all_files = [
        st.getPath().toString()
        for st in fs.listStatus(hadoop_path(vdir))
        if st.getPath().getName().endswith(".parquet")
    ]
    candidates = all_files
    if prune_intervals:
        if manifest is None:
            manifest = build_manifest(spark, vdir, list(prune_intervals))
        else:
            # A caller-supplied manifest must describe the CURRENT
            # version dir. A stale one (built on v=N-1, or missing
            # recently added files) silently mis-scopes the delete:
            # candidates point at prior-version paths, so a
            # same-basename file can be "rewritten" from old contents
            # while matching rows in unlisted files survive. Require
            # an exact basename match in both directions (decoded —
            # input_file_name URI-encodes, FS listings don't) and
            # refuse otherwise. Bounded collect: one row per file.
            man_names = {
                unquote(r["file"].rsplit("/", 1)[-1])
                for r in manifest.select("file").distinct().collect()
            }
            cur_names = {f.rsplit("/", 1)[-1] for f in all_files}
            if man_names != cur_names:
                raise ValueError(
                    "manifest does not match the current version dir "
                    f"{vdir}: files only in manifest="
                    f"{sorted(man_names - cur_names)}, only on disk="
                    f"{sorted(cur_names - man_names)}; rebuild the "
                    "manifest (or pass manifest=None) before delete_where"
                )
        candidates = prune_files(manifest, prune_intervals)
    cond = F.coalesce(condition, F.lit(False))
    if prune_intervals and verify_pruned:
        cand_names = {unquote(c.rsplit("/", 1)[-1]) for c in candidates}
        pruned_out = [
            f for f in all_files if f.rsplit("/", 1)[-1] not in cand_names
        ]
        if pruned_out:
            missed = spark.read.parquet(*pruned_out).filter(cond).count()
            if missed:
                raise ValueError(
                    f"prune_intervals do not bound the delete condition: "
                    f"{missed} matching row(s) in pruned-out files; "
                    f"delete aborted before publishing"
                )
    touched = (
        [
            r.f
            for r in spark.read.parquet(*candidates)
            .filter(cond)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ]
        if candidates
        else []
    )
    if not touched:
        return {
            "version": v,
            "files_rewritten": 0,
            "files_copied": 0,
            "rows_deleted": 0,
        }
    # input_file_name URI-encodes its path while FS listings return raw
    # names — decode before the set diff, or a file whose name contains
    # an escapable char (space, %, +, non-ASCII) lands in BOTH sets:
    # rewritten without its matching rows AND raw-copied with them
    # (duplicated survivors + undeleted rows on a GDPR path).
    touched_names = {unquote(t.rsplit("/", 1)[-1]) for t in touched}
    untouched = [f for f in all_files if f.rsplit("/", 1)[-1] not in touched_names]
    new_v = v + 1
    new_dir = f"{table}/v={new_v}"
    kept = spark.read.parquet(*touched).filter(~cond)
    n_before = spark.read.parquet(*touched).count()
    n_kept = kept.count()
    kept.write.mode("overwrite").parquet(new_dir)
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    file_util = spark.sparkContext._jvm.org.apache.hadoop.fs.FileUtil
    for f in untouched:
        src = hadoop_path(f)
        dst = hadoop_path(f"{new_dir}/{src.getName()}")
        file_util.copy(fs, src, fs, dst, False, True, conf)
    _flip_pointer(spark, table, new_v)
    return {
        "version": new_v,
        "files_rewritten": len(touched),
        "files_copied": len(untouched),
        "rows_deleted": n_before - n_kept,
    }


def merge_publish(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    keys: list[str],
    update_cols: list[str] | None = None,
) -> int:
    """Transactional MERGE: read the current version, apply the
    upsert batch (operators/upsert.merge_upsert — matched rows
    updated, new keys inserted), publish the result as the next
    version. Readers see the pre-merge or post-merge table, never an
    intermediate — the reference's staging+MERGE (K5) with the commit
    made atomic by the version pointer instead of a live-table swap.
    First call on an empty table publishes the batch as v1."""
    from evidence_images_etl_airflow_spark.operators.upsert import merge_upsert

    if current_version(spark, table) is None:
        return publish(spark, updates, table)
    merged = merge_upsert(read_latest(spark, table), updates, keys, update_cols)
    return publish(spark, merged, table)


def snapshot_diff(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
):
    """Change data feed between two published versions:
    ``operators/recon.table_diff`` over ``read_version`` of each — the
    time-travel question ("what changed between v3 and v7?") the
    pointer-file layout can answer without any change log, because
    every version's full snapshot is retained until vacuum."""
    from evidence_images_etl_airflow_spark.operators.recon import table_diff

    return table_diff(
        read_version(spark, table, v_from),
        read_version(spark, table, v_to),
        key_cols,
    )
