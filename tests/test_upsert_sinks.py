"""J2/J3/K1/K2/K5 upsert + sink tests (SURVEY.md §2.5, §2.7)."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators.upsert import (
    conflict_skip,
    dedup_first_wins,
    merge_upsert,
)
from evidence_images_etl_airflow_spark.sinks.writers import (
    VarcharOverflowError,
    idempotent_append_parquet,
    merge_into_parquet,
    validate_varchar_lengths,
)


def test_dedup_first_wins_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", 2, "second"), ("k1", 1, "first"), ("k2", 1, "only")],
        "k string, ord int, v string",
    )
    out = {r.k: r.v for r in dedup_first_wins(df, ["k"], order_by=["ord"]).collect()}
    assert out == {"k1": "first", "k2": "only"}


def test_conflict_skip_in_batch_and_existing(spark):
    existing = spark.createDataFrame([("a", 1, "old")], "k string, ord int, v string")
    new = spark.createDataFrame(
        [("a", 2, "clash"), ("b", 1, "new1"), ("b", 2, "newdup"), ("c", 1, "new2")],
        "k string, ord int, v string",
    )
    out = {r.k: r.v for r in conflict_skip(new, existing, ["k"], order_by=["ord"]).collect()}
    # 'a' skipped (exists), 'b' deduped to first, 'c' inserted
    assert out == {"b": "new1", "c": "new2"}


def test_merge_upsert_matched_and_new(spark):
    target = spark.createDataFrame(
        [(dt.date(2023, 1, 1), "dag_a", 1), (dt.date(2023, 1, 2), "dag_a", 2)],
        "dt date, dag_id string, runs int",
    )
    source = spark.createDataFrame(
        [(dt.date(2023, 1, 2), "dag_a", 99), (dt.date(2023, 1, 3), "dag_a", 3)],
        "dt date, dag_id string, runs int",
    )
    out = {(r.dt, r.dag_id): r.runs for r in merge_upsert(target, source, ["dt", "dag_id"]).collect()}
    assert out == {
        (dt.date(2023, 1, 1), "dag_a"): 1,   # untouched
        (dt.date(2023, 1, 2), "dag_a"): 99,  # matched -> update
        (dt.date(2023, 1, 3), "dag_a"): 3,   # not matched -> insert
    }


def _merge_full_outer(target, source, keys, update_cols=None):
    """The full-outer-join MERGE ``merge_upsert`` replaced, kept as the
    reference its output is compared against."""
    keys = list(keys)
    non_keys = [c for c in target.columns if c not in keys]
    update_cols = list(update_cols) if update_cols is not None else [
        c for c in non_keys if c in source.columns
    ]
    t = target.alias("t")
    s = source.withColumn("__s_present", F.lit(1)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, cond, "full_outer")
    s_present = F.col("s.__s_present").isNotNull()
    out = [
        F.when(s_present, F.col(f"s.{k}")).otherwise(F.col(f"t.{k}")).alias(k)
        for k in keys
    ]
    for c in non_keys:
        if c in update_cols:
            out.append(
                F.when(s_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        else:
            out.append(F.col(f"t.{c}").alias(c))
    return joined.select(*out)


def _rows(df):
    return sorted(map(repr, map(tuple, df.collect())))


MERGE_TARGET = (
    [(1, "a", 10, "x"), (2, "b", 20, "y"), (None, "c", 30, "z"), (3, None, 40, "n")],
    "v int, k string, n int, keep string",
)


@pytest.mark.parametrize(
    "source, source_schema, keys, update_cols",
    [
        # key not the first column; every non-key column updated
        ([(5, "b", 99, "B"), (7, "d", 1, "D")], "v int, k string, n int, keep string", ["k"], None),
        # an update_cols subset: keep comes from the matched target row
        ([(5, "b", 99, "B"), (7, "d", 1, "D")], "v int, k string, n int, keep string", ["k"], ["n"]),
        # a target column the source lacks is kept without naming it
        ([(5, "b", 99), (7, "d", 1)], "v int, k string, n int", ["k"], None),
        # NULL keys match null-safely, in a composite key
        ([(6, None, 40), (8, "c", 31)], "v int, k string, n int", ["k", "n"], None),
        # a source type wider than the target's widens the output column
        ([(2**40, "b", 99), (6, None, 7)], "v bigint, k string, n int", ["k"], None),
    ],
    ids=["key_not_first", "update_subset", "kept_column", "null_keys", "wider_source"],
)
def test_merge_upsert_equals_full_outer_merge(spark, source, source_schema, keys, update_cols):
    target = spark.createDataFrame(*MERGE_TARGET)
    src = spark.createDataFrame(source, source_schema)
    got = merge_upsert(target, src, keys, update_cols)
    ref = _merge_full_outer(target, src, keys, update_cols)
    assert got.dtypes == ref.dtypes
    assert _rows(got) == _rows(ref)


def test_merge_upsert_duplicate_target_keys(spark):
    """With a key repeated in the target, a matched source row appears
    once when every non-key column is updated (the full outer join
    repeated it per target row); with a kept column, once per matched
    target row, as before."""
    target = spark.createDataFrame(
        [("b", 20, "y"), ("b", 21, "w"), ("a", 1, "x")], "k string, n int, keep string"
    )
    src = spark.createDataFrame([("b", 99, "B")], "k string, n int, keep string")
    assert _rows(merge_upsert(target, src, ["k"])) == [
        repr(("a", 1, "x")), repr(("b", 99, "B"))
    ]
    assert len(_rows(_merge_full_outer(target, src, ["k"]))) == 3
    kept = merge_upsert(target, src, ["k"], ["n"])
    assert _rows(kept) == _rows(_merge_full_outer(target, src, ["k"], ["n"]))
    assert _rows(kept) == [repr(r) for r in (("a", 1, "x"), ("b", 99, "w"), ("b", 99, "y"))]


def test_merge_upsert_streams_the_target_past_broadcast_source_keys(spark, tmp_path):
    """The untouched target rows come from an anti join whose build side
    is the source's keys: with a small deduplicated batch scanned from
    files, as the EP1 load has, a broadcast hash join planned up front,
    and no exchange of the target's rows."""
    path, batch = str(tmp_path / "t"), str(tmp_path / "batch")
    spark.range(1000).selectExpr("CAST(id AS STRING) AS k", "id AS v").write.parquet(path)
    spark.createDataFrame([("5", 500), ("new", 1)], "k string, v bigint").write.parquet(batch)
    src = dedup_first_wins(spark.read.parquet(batch), ["k"])
    merged = merge_upsert(spark.read.parquet(path), src, ["k"])
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert merged.count() == 1001


def test_validate_varchar_lengths_raises(spark):
    df = spark.createDataFrame([("x" * 300,)], "cancelcallnote string")
    with pytest.raises(VarcharOverflowError):
        validate_varchar_lengths(df, {"cancelcallnote": 255})
    # under the limit passes through
    ok = spark.createDataFrame([("short",)], "cancelcallnote string")
    assert validate_varchar_lengths(ok, {"cancelcallnote": 255}) is ok


def test_idempotent_append_parquet(spark, tmp_path):
    path = str(tmp_path / "evidence")
    batch1 = spark.createDataFrame(
        [("s1", "c1", "v1", 1), ("s1", "c2", "v2", 2)],
        "sessionuid string, sceneuid string, v string, ord int",
    )
    n1 = idempotent_append_parquet(spark, batch1, path, ["sessionuid", "sceneuid"], ["ord"])
    assert n1 == 2
    # re-run the same batch (the reference's daily 15-day lookback) -> 0 inserts
    n2 = idempotent_append_parquet(spark, batch1, path, ["sessionuid", "sceneuid"], ["ord"])
    assert n2 == 0
    # overlapping batch: one clash, one new
    batch2 = spark.createDataFrame(
        [("s1", "c2", "CLASH", 3), ("s2", "c3", "v3", 4)],
        "sessionuid string, sceneuid string, v string, ord int",
    )
    n3 = idempotent_append_parquet(spark, batch2, path, ["sessionuid", "sceneuid"], ["ord"])
    assert n3 == 1
    final = spark.read.parquet(path)
    assert final.count() == 3
    assert final.filter(F.col("v") == "CLASH").count() == 0  # conflict skipped


def test_idempotent_append_replay_leaves_listing_unchanged(spark, tmp_path):
    """A replayed batch appends 0 rows and adds no file: the staged
    write is counted on itself, and a 0-row staging is dropped."""
    path = str(tmp_path / "evidence")
    batch = spark.createDataFrame(
        [("s1", "c1", "v1"), ("s1", "c2", "v2")], "sessionuid string, sceneuid string, v string"
    )
    keys = ["sessionuid", "sceneuid"]
    assert idempotent_append_parquet(spark, batch, path, keys) == 2
    listing = sorted(os.listdir(path))
    for _ in range(2):
        assert idempotent_append_parquet(spark, batch, path, keys) == 0
        assert sorted(os.listdir(path)) == listing
    assert sorted(os.listdir(tmp_path)) == ["evidence"]  # no staging left


def test_idempotent_append_restores_a_swapped_aside_target(spark, tmp_path):
    """The crash state of a swap (target renamed to ``__backup``, no new
    target): the append is computed against the backup's keys, and the
    backup is renamed back into place before the new rows land."""
    path = str(tmp_path / "t")
    keys = ["k"]
    schema = "k string, v bigint"
    idempotent_append_parquet(spark, spark.createDataFrame([("a", 1)], schema), path, keys)
    os.rename(path, path + "__backup")
    batch = spark.createDataFrame([("a", 9), ("b", 2)], schema)
    assert idempotent_append_parquet(spark, batch, path, keys) == 1
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == [("a", 1), ("b", 2)]


def test_merge_into_parquet(spark, tmp_path):
    path = str(tmp_path / "dag_run")
    t1 = spark.createDataFrame([(dt.date(2023, 1, 1), "d", 1)], "dt date, dag_id string, runs int")
    merge_into_parquet(spark, t1, path, ["dt", "dag_id"])
    t2 = spark.createDataFrame(
        [(dt.date(2023, 1, 1), "d", 5), (dt.date(2023, 1, 2), "d", 1)],
        "dt date, dag_id string, runs int",
    )
    merge_into_parquet(spark, t2, path, ["dt", "dag_id"])
    out = {(r.dt, r.dag_id): r.runs for r in spark.read.parquet(path).collect()}
    assert out == {(dt.date(2023, 1, 1), "d"): 5, (dt.date(2023, 1, 2), "d"): 1}


def test_write_partitioned_layout_prunes(spark, tmp_path):
    from evidence_images_etl_airflow_spark.sinks.writers import write_partitioned

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    path = f"{tmp_path}/part_tbl"
    write_partitioned(df, path, ["bucket"])
    import os

    dirs = {d for d in os.listdir(path) if d.startswith("bucket=")}
    assert dirs == {"bucket=0", "bucket=1", "bucket=2", "bucket=3"}
    # a partition filter reads one directory (partition pruning)
    got = spark.read.parquet(path).filter("bucket = 2")
    assert got.count() == 250
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan


def test_bloom_filter_options_exact_map():
    """r11: the parquet.bloom.filter.* option map is a pure function —
    exact strings, per-column ndv, validation."""
    import pytest as _pt

    from evidence_images_etl_airflow_spark.sinks.writers import (
        bloom_filter_options,
    )

    assert bloom_filter_options(["k"], 10_000) == {
        "parquet.bloom.filter.enabled#k": "true",
        "parquet.bloom.filter.expected.ndv#k": "10000",
    }
    assert bloom_filter_options(["a", "b"], {"a": 5, "b": 7}) == {
        "parquet.bloom.filter.enabled#a": "true",
        "parquet.bloom.filter.expected.ndv#a": "5",
        "parquet.bloom.filter.enabled#b": "true",
        "parquet.bloom.filter.expected.ndv#b": "7",
    }
    with _pt.raises(ValueError, match="at least one"):
        bloom_filter_options([], 10)
    with _pt.raises(ValueError, match="ndv"):
        bloom_filter_options(["k"], 0)


def test_write_with_bloom_filters_lands_in_footer(spark, tmp_path):
    """The Bloom filter measurably lands in the file: same data, same
    layout, the bloom'd file is strictly larger (the filter bitset
    lives in the footer region), and read-back is byte-equal."""
    import glob
    import os

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sinks.writers import (
        write_with_bloom_filters,
    )

    df = spark.range(20_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).coalesce(1)
    plain, bloomed = str(tmp_path / "plain"), str(tmp_path / "bloomed")
    df.write.parquet(plain)
    write_with_bloom_filters(df, bloomed, ["k"], expected_ndv=20_000)

    size = lambda d: sum(
        os.path.getsize(f) for f in glob.glob(d + "/*.parquet")
    )
    assert size(bloomed) > size(plain)  # the filter bytes are real
    back = spark.read.parquet(bloomed)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0

    import pytest as _pt
    with _pt.raises(ValueError, match="not in frame"):
        write_with_bloom_filters(df, bloomed, ["nope"], 10)


def test_bloom_filter_skips_row_groups_on_point_lookup(spark, tmp_path):
    """r12 (VERDICT r11 item 5): the Bloom writer's object-storage
    economics rest on a MEASURED mechanism — drive parquet's own
    row-group filter (the path Spark's scan calls) and count skips.
    Fixture is engineered so nothing else can skip: keys are even
    longs in RANDOM order (every row group spans ~the full range, so
    row-group/page min-max stats are useless for an in-range absent
    key) and dictionary encoding is OFF (no dictionary filtering).
    Result: stats+dict filtering keeps ALL row groups; the written
    Bloom filters skip EVERY row group for an absent key and keep
    exactly the one group holding a present key."""
    import glob

    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.sinks.writers import (
        bloom_filter_options,
    )

    n = 60_000
    off = 10_000_000_000  # keys > 2^31 so py4j boxes probes as java Long
    df = (
        spark.range(n)
        .select(
            (F.col("id") * 2 + off).alias("k"),
            F.expr("uuid()").alias("payload"),
        )
        .orderBy(F.md5(F.col("k").cast("string")))  # random key order
        .coalesce(1)
    )
    bloomed, plain = str(tmp_path / "bloomed"), str(tmp_path / "plain")
    for path, opts in ((bloomed, bloom_filter_options(["k"], 3000)), (plain, {})):
        (
            df.write.mode("overwrite")
            .option("parquet.enable.dictionary", "false")
            .option("parquet.block.size", str(128 * 1024))
            .options(**opts)
            .parquet(path)
        )

    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()

    def surviving_groups(path: str, use_bloom: bool, probe: int):
        """(surviving, total) row groups for `k = probe` under
        parquet-mr's RowGroupFilter with stats+dictionary filtering
        always on and Bloom filtering toggled."""
        f = glob.glob(path + "/*.parquet")[0]
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f), conf
        )
        api = jvm.org.apache.parquet.filter2.predicate.FilterApi
        fc = jvm.org.apache.parquet.filter2.compat.FilterCompat.get(
            api.eq(api.longColumn("k"), probe)
        )
        opts = (
            jvm.org.apache.parquet.ParquetReadOptions.builder()
            .withRecordFilter(fc)
            .useStatsFilter(True)
            .useDictionaryFilter(True)
            .useBloomFilter(use_bloom)
            .build()
        )
        r = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile, opts)
        try:
            return r.getRowGroups().size(), r.getFooter().getBlocks().size()
        finally:
            r.close()

    absent = off + 12345   # odd -> absent, but inside every group's range
    present = off + 12346

    kept, total = surviving_groups(bloomed, False, absent)
    assert total >= 10 and kept == total  # stats+dict CANNOT skip here
    kept_bloom, _ = surviving_groups(bloomed, True, absent)
    assert kept_bloom == 0                # bloom skips EVERY row group
    kept_plain, total_plain = surviving_groups(plain, True, absent)
    assert kept_plain == total_plain      # no filter written -> no skip
    kept_present, _ = surviving_groups(bloomed, True, present)
    assert kept_present == 1              # never a false omission
    # and the end-to-end Spark read agrees on correctness
    assert spark.read.parquet(bloomed).filter(F.col("k") == present).count() == 1
    assert spark.read.parquet(bloomed).filter(F.col("k") == absent).count() == 0
