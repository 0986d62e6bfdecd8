"""Atomic versioned publish / time travel / rollback (sinks/versioned.py)."""

from __future__ import annotations

import pytest

from evidence_images_etl_airflow_spark.sinks import versioned as V
from evidence_images_etl_airflow_spark.sinks.writers import hadoop_fs


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, tag):
    return spark.createDataFrame([(i, tag) for i in range(5)], "id long, tag string")


def test_publish_read_latest_and_time_travel(spark, table):
    assert V.list_versions(spark, table) == []
    assert V.current_version(spark, table) is None

    v1 = V.publish(spark, _df(spark, "a"), table)
    v2 = V.publish(spark, _df(spark, "b"), table)
    assert (v1, v2) == (1, 2)
    assert V.current_version(spark, table) == 2
    assert {r.tag for r in V.read_latest(spark, table).collect()} == {"b"}
    # old version stays readable
    assert {r.tag for r in V.read_version(spark, table, 1).collect()} == {"a"}


def test_rollback_is_a_pointer_flip(spark, table):
    V.publish(spark, _df(spark, "a"), table)
    V.publish(spark, _df(spark, "b"), table)
    V.rollback(spark, table, 1)
    assert V.current_version(spark, table) == 1
    assert {r.tag for r in V.read_latest(spark, table).collect()} == {"a"}
    # next publish continues the version sequence past the rollback
    v3 = V.publish(spark, _df(spark, "c"), table)
    assert v3 == 3
    assert {r.tag for r in V.read_latest(spark, table).collect()} == {"c"}
    with pytest.raises(ValueError):
        V.rollback(spark, table, 99)


def test_vacuum_keeps_current_and_recent(spark, table):
    for tag in ["a", "b", "c", "d"]:
        V.publish(spark, _df(spark, tag), table)
    V.rollback(spark, table, 1)  # current = 1, an OLD version
    removed = V.vacuum(spark, table, keep_last=2)
    # 1 survives (current), 3 and 4 survive (newest two); only 2 goes
    assert removed == [2]
    assert V.list_versions(spark, table) == [1, 3, 4]
    assert {r.tag for r in V.read_latest(spark, table).collect()} == {"a"}


def test_merge_publish_upserts_atomically(spark, table):
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, val double"
    )
    batch = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], "id long, name string, val double"
    )
    assert V.merge_publish(spark, base, table, keys=["id"]) == 1
    assert V.merge_publish(spark, batch, table, keys=["id"]) == 2
    latest = {r.id: (r.name, r.val) for r in V.read_latest(spark, table).collect()}
    assert latest == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0)}
    # pre-merge state still queryable
    v1 = {r.id for r in V.read_version(spark, table, 1).collect()}
    assert v1 == {1, 2}


def _range_clustered(spark, table):
    """Publish v1 with ids 0..99 range-clustered into 4 files so a
    key-scoped delete can prove it touches only one file."""
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .select(F.col("id"), (F.col("id") * 2).alias("val"))
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    return V.publish(spark, df, table)


def _file_sizes(spark, table, version):
    hadoop_path, fs = hadoop_fs(spark, table)
    out = {}
    for st in fs.listStatus(hadoop_path(f"{table}/v={version}")):
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            out[name] = st.getLen()
    return out


def test_delete_where_rewrites_only_matching_files(spark, table):
    from pyspark.sql import functions as F

    _range_clustered(spark, table)
    before = _file_sizes(spark, table, 1)
    assert len(before) == 4
    res = V.delete_where(
        spark,
        table,
        F.col("id").between(10, 15),
        prune_intervals={"id": (10, 15)},
    )
    assert res["version"] == 2
    assert res["rows_deleted"] == 6
    assert res["files_rewritten"] == 1
    assert res["files_copied"] == 3
    ids = {r.id for r in V.read_latest(spark, table).collect()}
    assert ids == set(range(100)) - set(range(10, 16))
    # untouched files arrive byte-identical (raw copy, no re-encode)
    after = _file_sizes(spark, table, 2)
    carried = set(before) & set(after)
    assert len(carried) == 3
    assert all(before[n] == after[n] for n in carried)
    # audit trail: the pre-delete version still reads in full
    assert V.read_version(spark, table, 1).count() == 100


def test_delete_where_no_match_publishes_nothing(spark, table):
    from pyspark.sql import functions as F

    _range_clustered(spark, table)
    res = V.delete_where(spark, table, F.col("id") > 1000)
    assert res == {
        "version": 1,
        "files_rewritten": 0,
        "files_copied": 0,
        "rows_deleted": 0,
    }
    assert V.current_version(spark, table) == 1


def test_delete_where_rejects_stale_manifest(spark, table):
    """ADVICE r06 (medium): a caller-supplied manifest built on a
    PRIOR version must be refused — its candidate paths point at old
    files, so pruning with it would rewrite prior-version contents
    and let matching rows in unlisted files survive."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sources.manifest import build_manifest

    _range_clustered(spark, table)
    stale = build_manifest(spark, f"{table}/v=1", ["id"]).localCheckpoint()
    # publish v2 (different layout: 2 files instead of 4)
    df2 = (
        spark.range(100)
        .select(F.col("id"), (F.col("id") * 3).alias("val"))
        .repartitionByRange(2, "id")
        .sortWithinPartitions("id")
    )
    V.publish(spark, df2, table)
    with pytest.raises(ValueError, match="does not match the current version"):
        V.delete_where(
            spark,
            table,
            F.col("id").between(10, 15),
            prune_intervals={"id": (10, 15)},
            manifest=stale,
        )
    # nothing published, nothing deleted
    assert V.current_version(spark, table) == 2
    assert V.read_latest(spark, table).count() == 100
    # a CURRENT manifest passes validation and prunes as before
    fresh = build_manifest(spark, f"{table}/v=2", ["id"])
    res = V.delete_where(
        spark,
        table,
        F.col("id").between(10, 15),
        prune_intervals={"id": (10, 15)},
        manifest=fresh,
    )
    assert res["rows_deleted"] == 6
    assert res["files_rewritten"] == 1


def test_delete_where_null_condition_rows_survive(spark, table):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, tag string"
    )
    V.publish(spark, df, table)
    res = V.delete_where(spark, table, F.col("tag") == "a")
    assert res["rows_deleted"] == 1
    ids = {r.id for r in V.read_latest(spark, table).collect()}
    assert ids == {2, 3}  # NULL-condition row kept, SQL DELETE rule


def test_write_training_shards_layout_and_manifest(spark, tmp_path):
    """Shard export: one file per shard directory, manifest totals
    equal the data, and a loader reading shard dirs sees every row."""
    import json

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sinks.writers import (
        write_training_shards,
    )

    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 4).alias("shard"),
        (F.col("id") % 7 + 1).alias("tok"),
    )
    path = str(tmp_path / "shards")
    manifest = write_training_shards(df, path, "shard", token_col="tok")
    assert manifest["n_shards"] == 4
    assert manifest["total_rows"] == 300
    assert manifest["total_tokens"] == sum(i % 7 + 1 for i in range(300))
    for key, entry in manifest["shards"].items():
        assert len(entry["files"]) == 1, key  # one-file-per-shard hygiene
        assert entry["rows"] == 75
    # manifest persisted next to the data (underscore prefix keeps it
    # invisible to Hadoop input listings, like _SUCCESS) and loadable
    with open(f"{path}/_manifest.json") as fh:
        back = json.load(fh)
    assert back["total_rows"] == 300
    # a loader reading one shard dir sees exactly its rows
    s0 = spark.read.parquet(f"{path}/shard=0")
    assert s0.count() == 75
    # and the full read round-trips every row
    assert spark.read.parquet(path).count() == 300


def test_write_training_shards_null_shard_partition(spark, tmp_path):
    """NULL shard values land in Hive's default partition and the
    manifest accounts for them — no crash, no undercount."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sinks.writers import (
        write_training_shards,
    )

    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, None)], "id long, shard int"
    )
    m = write_training_shards(df, str(tmp_path / "s"), "shard")
    assert m["total_rows"] == 3
    assert m["shards"]["__HIVE_DEFAULT_PARTITION__"]["rows"] == 1
    assert m["shards"]["0"]["rows"] == 2


def test_table_diff_classifies_changes(spark):
    """r10: CDF classification — insert/delete/update with null-safe
    payload comparison (NULL->value and value->NULL are updates)."""
    from evidence_images_etl_airflow_spark.operators.recon import table_diff

    before = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
        "id long, s string, v double",
    )
    after = spark.createDataFrame(
        [(1, "a", 10.0),      # unchanged -> dropped
         (2, "b", 20.0),      # NULL -> value: update
         (3, None, 30.0),     # value -> NULL: update
         (5, "e", 50.0)],     # new key: insert  (4 deleted)
        "id long, s string, v double",
    )
    got = {r.id: r for r in table_diff(before, after, ["id"]).collect()}
    assert set(got) == {2, 3, 4, 5}
    assert got[2].change_type == "update" and got[2].v == 20.0
    assert got[3].change_type == "update" and got[3].s is None
    assert got[4].change_type == "delete" and got[4].s == "d"  # pre-image
    assert got[5].change_type == "insert" and got[5].s == "e"

    import pytest as _pt
    with _pt.raises(ValueError, match="non-key schemas differ"):
        table_diff(before, after.withColumnRenamed("v", "w"), ["id"])
    with _pt.raises(ValueError, match="non-key column"):
        table_diff(before.select("id"), after.select("id"), ["id"])


def test_snapshot_diff_between_published_versions(spark, table):
    """snapshot_diff answers 'what changed between v1 and v2' from
    retained snapshots alone — no change log."""
    r1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    r2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, s string")
    v1 = V.publish(spark, r1, table)
    v2 = V.publish(spark, r2, table)
    got = {
        r.id: r.change_type
        for r in V.snapshot_diff(spark, table, v1, v2, ["id"]).collect()
    }
    assert got == {1: "delete", 2: "update", 3: "insert"}


def test_table_diff_tolerates_column_order(spark):
    """r10 self-review: the same non-key column SET in a different
    order must diff fine (the after struct is built in the before
    side's field order)."""
    from evidence_images_etl_airflow_spark.operators.recon import table_diff

    before = spark.createDataFrame([(1, "a", 1.0)], "id long, s string, v double")
    after = spark.createDataFrame([(1, 1.0, "a")], "id long, v double, s string")
    assert table_diff(before, after, ["id"]).count() == 0  # unchanged
    after2 = spark.createDataFrame([(1, 2.0, "a")], "id long, v double, s string")
    d = table_diff(before, after2, ["id"]).first()
    assert d.change_type == "update" and d.v == 2.0
