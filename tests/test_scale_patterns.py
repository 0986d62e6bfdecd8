"""Scale patterns the 100 TB design leans on, asserted against the
actual physical plans: bucketed co-located joins (no shuffle), salted
skew joins (correct + spread), broadcast pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators.skew import key_skew_profile, salted_join

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing both sides on the join key pre-shuffles at write time;
    the join then runs with zero Exchange — the co-location pattern for
    repeated fact-fact joins at scale."""
    from evidence_images_etl_airflow_spark.sinks.writers import write_bucketed

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    # external tables under tmp_path (warehouse.dir is a static conf)
    write_bucketed(o, "o_b", str(tmp_path / "o_b"), "o_orderkey", 8)
    write_bucketed(li, "li_b", str(tmp_path / "li_b"), "l_orderkey", 8)
    # layout hygiene the helper guarantees: exactly one file per bucket,
    # so reads get pre-sorted runs and the SMJ skips the Sort too
    assert len(list((tmp_path / "li_b").glob("*.parquet"))) == 8
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the shuffle-join path (broadcast would trivially win at
        # this tiny SF; at scale both sides are too big to broadcast)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("li_b")
            .join(spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        assert len(joined.collect()) > 0
        plan = _physical(joined)  # final AQE plan of the executed DF
        assert "SortMergeJoin" in plan
        # the join itself must not introduce a shuffle of either side
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS o_b")
        spark.sql("DROP TABLE IF EXISTS li_b")


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey", "l_quantity")
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select("o_orderkey", "o_orderstatus")
    plain = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
        "o_orderstatus"
    ).agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    salted = salted_join(
        li, o.withColumnRenamed("o_orderkey", "l_orderkey"), ["l_orderkey"], num_salts=8
    ).groupBy("o_orderstatus").agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
    a = {r.o_orderstatus: (r.n, round(r.q, 6)) for r in plain.collect()}
    b = {r.o_orderstatus: (r.n, round(r.q, 6)) for r in salted.collect()}
    assert a == b


def test_salted_left_join_preserves_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (99, "zz")], "k long, v string")
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    out = salted_join(left, right, ["k"], num_salts=4, how="left").collect()
    got = {r.k: r.w for r in out}
    assert got == {1: "x", 2: "y", 99: None}
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], how="full_outer")


def test_salted_join_spreads_hot_key(spark):
    """A single hot key lands in num_salts distinct (key, salt) groups."""
    hot = spark.range(0, 10_000).select(F.lit(7).alias("k"), F.col("id"))
    dim = spark.createDataFrame([(7, "seven")], "k long, name string")
    # the operator's content salt: hash of the row-varying column
    salted = hot.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("id")), F.lit(16)).cast("int")
    )
    n_groups = salted.select("__salt").distinct().count()
    assert n_groups == 16
    # and the join still returns every row exactly once
    assert salted_join(hot, dim, ["k"], num_salts=16).count() == 10_000


def test_salted_join_salt_is_retry_stable(spark):
    """Content-based salt: the same row gets the same salt no matter how
    the input is partitioned (rand()-based salting breaks this under
    repartition/task retry)."""
    base = spark.range(0, 1000).select(F.lit(1).alias("k"), F.col("id"))
    expr = F.pmod(F.xxhash64(F.col("id")), F.lit(8)).cast("int").alias("s")
    a = {r.id: r.s for r in base.select("id", expr).collect()}
    b = {r.id: r.s for r in base.repartition(7).select("id", expr).collect()}
    assert a == b
    # every-column-is-a-key is a usage error, not silent bad spreading
    with pytest.raises(ValueError):
        salted_join(
            base.select("k"), spark.createDataFrame([(1,)], "k long"), ["k"]
        )


def test_key_skew_profile_ranks_hot_keys(spark):
    df = spark.createDataFrame(
        [(1,)] * 70 + [(2,)] * 20 + [(3,)] * 10, "k long"
    )
    prof = key_skew_profile(df, ["k"], top=2).collect()
    assert [r.k for r in prof] == [1, 2]
    assert prof[0].n_rows == 70 and abs(prof[0].share - 0.7) < 1e-9


def test_hash_split_deterministic_and_proportional(spark):
    from evidence_images_etl_airflow_spark.functions.partitioning import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in hash_split(df, "doc_id", fr).collect()}
    # repartitioning must not change membership (randomSplit fails this)
    b = {r.doc_id: r.split for r in hash_split(df.repartition(13), "doc_id", fr).collect()}
    assert a == b
    # growing the dataset never reassigns existing rows
    grown = hash_split(spark.range(0, 8000).withColumnRenamed("id", "doc_id"), "doc_id", fr)
    c = {r.doc_id: r.split for r in grown.collect()}
    assert all(c[k] == v for k, v in a.items())
    # proportions close to requested
    from collections import Counter
    n = Counter(a.values())
    assert abs(n["train"] / 5000 - 0.8) < 0.03
    assert abs(n["val"] / 5000 - 0.1) < 0.02

    import pytest as _pytest
    with _pytest.raises(ValueError):
        hash_split(df, "doc_id", {"train": 0.5, "val": 0.1})


def test_spread_split_estimate_matches_physical_probe(spark):
    """spread()'s file-split estimate (r17: replaces the per-call
    physical-planning probe) must agree with Spark's actual scan
    partitioning on real parquet, and fall back to the exact probe
    for frames without a file source."""
    from evidence_images_etl_airflow_spark.functions.partitioning import (
        _estimate_scan_partitions,
        spread,
    )

    for table in ("documents", "lineitem", "events"):
        df = spark.read.parquet(f"{SF_DIR}/{table}.parquet")
        est = _estimate_scan_partitions(df)
        assert est == df.rdd.getNumPartitions(), table

    mem = spark.createDataFrame([(1, "a"), (2, "b")], "id long, t string")
    assert _estimate_scan_partitions(mem) is None
    # fallback path still spreads an in-memory frame to full parallelism
    out = spread(mem, F.col("id"))
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == [1, 2]


def test_topk_salted_matches_plain_on_hot_group(spark):
    """A 10k-row hot group + tiny groups: the two-phase salted top-k
    returns exactly the one-window answer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.topk import topk_per_group_salted

    hot = spark.range(10_000).select(
        F.lit("hot").alias("g"), F.col("id").alias("v")
    )
    cold = spark.range(5).select(
        F.concat(F.lit("c"), F.col("id")).alias("g"), (F.col("id") * 100).alias("v")
    )
    df = hot.unionByName(cold)
    got = topk_per_group_salted(
        df, ["g"], [F.col("v").desc(), F.col("v")], k=3, num_salts=4
    )
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("v"))
    want = df.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_pagerank_on_known_graph(spark):
    """Undirected path a-b-c: the center accumulates more random-walk
    mass than the leaves; total mass stays ~1."""
    from pyspark.sql import functions as F  # noqa: F811

    from evidence_images_etl_airflow_spark.operators.graph import pagerank

    und = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    edges = spark.createDataFrame(und, "src string, dst string")
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}
    assert set(ranks) == {"a", "b", "c"}
    assert ranks["b"] > ranks["a"] == pytest.approx(ranks["c"], abs=1e-9)
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)


def test_plan_equi_join_strategy_flips_on_skew(spark):
    """VERDICT r08 item 6: the join-size statistic now DRIVES the
    strategy. Same thresholds, three corpora: a tiny dim broadcasts, a
    uniform fact-fact pair shuffles plain, a hot-key fact salts — with
    the salt factor derived from the hot key's degree, not guessed."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    kw = dict(broadcast_max_rows=100, target_rows_per_task=500)

    dim = spark.range(50).select(F.col("id").alias("k"), F.lit("d").alias("attr"))
    uniform = spark.range(5_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("rowid")
    )
    # one key holds 60% of the rows, degree 3000 > target 500
    skewed = spark.range(5_000).select(
        F.when(F.col("id") < 3_000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("rowid"),
    )
    other = spark.range(2_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("val")
    )

    _, d1 = plan_equi_join(uniform, dim, ["k"], **kw)
    assert d1["strategy"] == "broadcast_right"

    _, d2 = plan_equi_join(uniform, other, ["k"], **kw)
    assert d2["strategy"] == "shuffle" and d2["num_salts"] is None

    j3, d3 = plan_equi_join(skewed, other, ["k"], **kw)
    assert d3["strategy"] == "salted"
    # hot degree 3000 / target 500 = 6 salts, derived not guessed
    assert d3["num_salts"] == 6
    # salted output identical to the plain join, columns included
    plain = skewed.join(other, ["k"])
    assert j3.columns == ["k", "rowid", "val"]
    assert j3.count() == plain.count()
    assert (
        j3.exceptAll(plain).count() == 0 and plain.exceptAll(j3).count() == 0
    )


def test_plan_equi_join_right_skew_inner_flips_sides(spark):
    """Inner joins may salt a RIGHT-side hot key by flipping sides;
    non-inner right-skew falls through to plain (salted_join cannot
    put the skewed side on the right of a LEFT join)."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    kw = dict(broadcast_max_rows=10, target_rows_per_task=100)
    small = spark.range(400).select((F.col("id") % 50).alias("k"), F.col("id").alias("a"))
    hot = spark.range(3_000).select(
        F.when(F.col("id") < 2_000, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("b"),
    )
    j, d = plan_equi_join(small, hot, ["k"], "inner", **kw)
    # hot key 1: 2000 forced + 20 from the modulo tail = 2020 rows
    assert d["strategy"] == "salted" and d["num_salts"] == 21
    plain = small.join(hot, ["k"])
    assert j.columns == ["k", "a", "b"]
    assert j.exceptAll(plain).count() == 0 and plain.exceptAll(j).count() == 0

    _, d2 = plan_equi_join(small, hot, ["k"], "left", **kw)
    assert d2["strategy"] == "shuffle"


def test_plan_equi_join_unsupported_skew_shapes_fall_through(spark):
    """r09 review: skewed shapes salting can't express must fall
    through to plain shuffle, not raise; broadcast eligibility follows
    what Spark can actually build for the join type."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    kw = dict(broadcast_max_rows=100, target_rows_per_task=500)
    skewed = spark.range(5_000).select(
        F.when(F.col("id") < 3_000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("rowid"),
    )
    other = spark.range(2_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("val")
    )
    # left-skewed RIGHT OUTER: salted_join can't express it -> shuffle
    j, d = plan_equi_join(skewed, other, ["k"], "right", **kw)
    assert d["strategy"] == "shuffle"
    plain = skewed.join(other, ["k"], "right")
    assert j.count() == plain.count()

    # small right side of a RIGHT OUTER join is the preserved side:
    # Spark cannot build it, so the planner must not claim broadcast
    dim = spark.range(50).select(F.col("id").alias("k"), F.lit("d").alias("attr"))
    _, d2 = plan_equi_join(skewed, dim, ["k"], "right", **kw)
    assert d2["strategy"] != "broadcast_right"
    # ...but the left side of a RIGHT OUTER is buildable
    small_left = spark.range(50).select(F.col("id").alias("k"), F.lit("x").alias("a"))
    big_right = spark.range(5_000).select((F.col("id") % 1000).alias("k"), F.col("id").alias("b"))
    _, d3 = plan_equi_join(small_left, big_right, ["k"], "right", **kw)
    assert d3["strategy"] == "broadcast_left"


def test_plan_equi_join_duplicate_nonkey_names_no_crash(spark):
    """r09 review: sides sharing a non-key column name crash a by-name
    reorder; the planner must return the plain join's ambiguous-by-name
    output instead of raising."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    left = spark.range(500).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("updated_at")
    )
    right = spark.range(300).select(
        (F.col("id") % 100).alias("k"), (F.col("id") * 2).alias("updated_at")
    )
    j, d = plan_equi_join(
        left, right, ["k"], broadcast_max_rows=10, target_rows_per_task=10_000
    )
    plain = left.join(right, ["k"])
    assert d["strategy"] == "shuffle"
    assert j.count() == plain.count()


def test_table_size_stats_and_partition_advisor(spark):
    """r09: exact payload-byte statistics and the shuffle-partition
    recommendation derived from them — hand-computed values."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_shuffle_partitions,
        table_size_stats,
    )

    df = spark.createDataFrame(
        [(1, "ab", 1.5), (2, "xyz", 2.5), (3, None, None)],
        "k long, s string, v double",
    )
    row = table_size_stats(df).first()
    # 3 rows x (8 + 8) fixed + (2 + 3 + 0) string bytes = 53
    assert (row.n_rows, row.est_total_bytes) == (3, 53)

    plan = plan_shuffle_partitions(
        table_size_stats(df), target_bytes_per_partition=16
    ).first()
    # ceil(53 / 16) = 4 partitions, 3 // 4 = 0 rows per task
    assert (plan.partitions, plan.rows_per_partition) == (4, 0)

    # clamps on both ends
    hi = plan_shuffle_partitions(
        table_size_stats(df), target_bytes_per_partition=1, max_partitions=8
    ).first()
    assert hi.partitions == 8
    lo = plan_shuffle_partitions(
        table_size_stats(df), target_bytes_per_partition=1 << 30
    ).first()
    assert lo.partitions == 1

    # nested columns are refused, not under-counted
    import pytest

    nested = spark.createDataFrame([(1, [1, 2])], "k long, a array<int>")
    with pytest.raises(ValueError, match="unsupported column type"):
        table_size_stats(nested)


def test_plan_equi_join_semi_anti_no_reorder_crash(spark):
    """r09 ADVICE: semi/anti joins output ONLY left columns, so the
    by-name canonical reorder used to raise UNRESOLVED_COLUMN on every
    strategy path. The planner must return the plain join's columns."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    left = spark.range(500).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("rowid")
    )
    right = spark.range(60).select(
        (F.col("id") % 80).alias("k"), F.col("id").alias("val")
    )
    for how in ("leftsemi", "semi", "leftanti", "anti"):
        j, d = plan_equi_join(
            left, right, ["k"], how,
            broadcast_max_rows=100, target_rows_per_task=500,
        )
        plain = left.join(right, ["k"], how)
        assert d["strategy"] == "broadcast_right"
        assert j.columns == plain.columns
        assert (
            j.exceptAll(plain).count() == 0
            and plain.exceptAll(j).count() == 0
        )
    # shuffle path too (right side over the broadcast budget)
    j, d = plan_equi_join(
        left, right, ["k"], "leftsemi",
        broadcast_max_rows=10, target_rows_per_task=10_000,
    )
    assert d["strategy"] == "shuffle"
    assert j.columns == left.columns


def test_plan_equi_join_salted_accepts_spark_spellings(spark):
    """r09 ADVICE: the saltable gate normalizes the join type but the
    salted path used to forward the caller's RAW spelling to
    salted_join, which only accepts inner/left/left_outer — so
    "leftouter" (or any casing) passed the gate then raised mid-
    pipeline. The normalized type must be forwarded."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    kw = dict(broadcast_max_rows=100, target_rows_per_task=500)
    skewed = spark.range(5_000).select(
        F.when(F.col("id") < 3_000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("rowid"),
    )
    other = spark.range(2_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("val")
    )
    plain = skewed.join(other, ["k"], "left")
    for how in ("leftouter", "LEFT", "left_outer", "Inner"):
        j, d = plan_equi_join(skewed, other, ["k"], how, **kw)
        assert d["strategy"] == "salted", how
        ref = plain if how != "Inner" else skewed.join(other, ["k"])
        assert j.columns == ["k", "rowid", "val"]
        assert (
            j.exceptAll(ref).count() == 0 and ref.exceptAll(j).count() == 0
        )


def test_plan_shuffle_partitions_integer_math_beyond_2_53(spark):
    """r09 ADVICE: ceil(bytes/target) via double division rounds above
    ~2^53 bytes (the 100 TB regime), drifting one partition off the
    oracle's exact `//`. 2^60+2 is not double-representable: the old
    F.floor path recommended 2^59, exact integer math says 2^59+1."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_shuffle_partitions,
    )

    stats = spark.createDataFrame(
        [(10, (1 << 60) + 1)], "n_rows long, est_total_bytes long"
    )
    plan = plan_shuffle_partitions(
        stats,
        target_bytes_per_partition=2,
        max_partitions=1 << 62,
    ).first()
    assert plan.partitions == (1 << 59) + 1  # exact ceil((2^60+1)/2)
    assert plan.rows_per_partition == 0


def test_plan_equi_join_sketch_stats_mode(spark):
    """r10: sketch stats mode plans from Misra-Gries heavy-hitter
    bounds instead of the exact per-key degree shuffle. With capacity
    above per-partition distinct keys the summaries never compress and
    the decision EQUALS the exact one; under forced compression the
    reported max_degree is an UPPER bound (errs toward salting)."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        _key_stats_sketch,
        plan_equi_join,
    )

    kw = dict(broadcast_max_rows=100, target_rows_per_task=500)
    skewed = spark.range(5_000).select(
        F.when(F.col("id") < 3_000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("rowid"),
    )
    other = spark.range(2_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("val")
    )
    # ample capacity: identical decision + identical derived salt count
    _, ds = plan_equi_join(
        skewed, other, ["k"], stats_mode="sketch", **kw
    )
    _, de = plan_equi_join(skewed, other, ["k"], stats_mode="exact", **kw)
    assert ds["stats_mode"] == "sketch"
    assert ds["left"]["err_bound"] == 0 and ds["right"]["err_bound"] == 0
    assert (ds["strategy"], ds["num_salts"]) == (de["strategy"], de["num_salts"])
    assert ds["left"]["max_degree"] == de["left"]["max_degree"] == 3000

    # uniform corpus stays a plain shuffle under sketch stats too
    uniform = spark.range(5_000).select(
        (F.col("id") % 1000).alias("k"), F.col("id").alias("rowid")
    )
    _, du = plan_equi_join(
        uniform, other, ["k"], stats_mode="sketch", **kw
    )
    assert du["strategy"] == "shuffle"

    # forced compression (capacity 2, one partition): still a valid
    # UPPER bound on the true hot degree, never an underestimate
    st = _key_stats_sketch(skewed.repartition(1), ["k"], capacity=2)
    assert st.n_rows == 5_000
    assert st.max_degree >= 3000
    assert st.err_bound > 0

    with pytest.raises(ValueError, match="stats_mode"):
        plan_equi_join(skewed, other, ["k"], stats_mode="guess", **kw)


def test_repartition_by_stats_executes_the_plan(spark):
    """r10: the advisor's recommendation drives an actual repartition
    (plan -> execute symmetry with the join autoplanner)."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_shuffle_partitions,
        repartition_by_stats,
        table_size_stats,
    )

    df = spark.range(10_000).select(
        "id", F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    want = plan_shuffle_partitions(
        table_size_stats(df), target_bytes_per_partition=16 << 10
    ).first().partitions
    out, n = repartition_by_stats(df, target_bytes_per_partition=16 << 10)
    assert n == want > 1
    assert out.rdd.getNumPartitions() == n
    assert out.count() == 10_000


def test_plan_shuffle_partitions_validates_bounds(spark):
    """r11 (ADVICE r10): min_partitions=0 used to yield partitions=0
    and a silently-NULL rows_per_partition."""
    import pytest as _pt

    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_shuffle_partitions,
        table_size_stats,
    )

    stats = table_size_stats(spark.range(10))
    with _pt.raises(ValueError, match="min_partitions"):
        plan_shuffle_partitions(stats, min_partitions=0)
    with _pt.raises(ValueError, match="min_partitions"):
        plan_shuffle_partitions(stats, min_partitions=5, max_partitions=4)


def test_misra_gries_emit_row_count_single_scan(spark):
    """r11 (ADVICE r10): the MG pass can carry each partition's exact
    row count on its error-sentinel row, so a planner gets n_rows +
    estimates + err_bound from ONE scan."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.sketches import (
        misra_gries_summaries,
    )

    df = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("v")
    ).repartition(4)
    summ = misra_gries_summaries(df, "v", capacity=16, emit_row_count=True)
    assert summ.columns == ["item", "cnt", "n_rows"]
    rows = summ.collect()
    # exact total rides only the sentinel rows
    assert sum(r.n_rows for r in rows if r.item is None) == 1000
    assert all(r.n_rows == 0 for r in rows if r.item is not None)
    # default: schema unchanged (the mergeable contract)
    assert misra_gries_summaries(df, "v", capacity=16).columns == [
        "item", "cnt",
    ]


def test_plan_equi_join_lazy_stats_skips_big_side(spark):
    """r11 (VERDICT r10 item 5): lazy_stats measures the right side
    first and never scans the left when the right already fits the
    broadcast budget — decision['left'] is None, strategy broadcast."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    big = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") % 9).alias("v"))
    dim = spark.range(50).select(F.col("id").alias("k"))
    joined, dec = plan_equi_join(
        big, dim, ["k"], how="leftsemi", lazy_stats=True
    )
    assert dec["strategy"] == "broadcast_right"
    assert dec["left"] is None and dec["right"]["n_rows"] == 50
    assert joined.count() == 50
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()

    # when the right side does NOT fit, the left side IS measured
    j2, dec2 = plan_equi_join(
        big, dim, ["k"], how="leftsemi", lazy_stats=True,
        broadcast_max_rows=10,
    )
    assert dec2["strategy"] == "shuffle"
    assert dec2["left"]["n_rows"] == 10_000
    assert j2.count() == 50


def test_plan_equi_join_preflight_runs_in_callers_job_group(spark, jobs_in_group):
    """Both sides' pre-flight statistics run concurrently, and every job
    they start carries the caller's job group."""
    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    big = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") % 9).alias("v"))
    dim = spark.range(50).select(F.col("id").alias("k"))
    started, grouped = jobs_in_group(
        "preflight-equi",
        lambda: plan_equi_join(big, dim, ["k"], broadcast_max_rows=10, lazy_stats=False),
    )
    assert started and started <= grouped


def test_cancel_job_group_stops_plan_equi_join_preflight(spark):
    """cancelJobGroup reaches the planner's concurrent pre-flight jobs:
    once both sides' statistics jobs are in the caller's group, a cancel
    makes the call raise at once instead of running on for the ~10 s
    each slow side needs."""
    import threading
    import time

    from py4j.protocol import Py4JJavaError

    from evidence_images_etl_airflow_spark.operators.skew import plan_equi_join

    @F.udf("bigint")
    def slow_key(i):
        time.sleep(5)
        return i

    left, right = (
        spark.range(0, 4, 1, 2).select(slow_key("id").alias("k"), F.lit(s).alias(s))
        for s in ("l", "r")
    )
    sc, group, errors = spark.sparkContext, "cancel-preflight", []

    def call():
        sc.setJobGroup(group, group, interruptOnCancel=True)
        try:
            plan_equi_join(left, right, ["k"], broadcast_max_rows=1)
        except Py4JJavaError as e:  # the cancelled job's SparkException
            errors.append(e)

    t = threading.Thread(target=call)
    t.start()
    # each side's first pre-flight job is the slow one
    while t.is_alive() and len(sc.statusTracker().getJobIdsForGroup(group)) < 2:
        time.sleep(0.05)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2, "pre-flight jobs ran outside the group"
    t0 = time.monotonic()
    sc.cancelJobGroup(group)
    t.join(timeout=30)
    assert not t.is_alive() and errors
    assert time.monotonic() - t0 < 5


def test_parallel_actions_order_nesting_and_errors(spark, jobs_in_group):
    """Results come back in input order; a nested call keeps the outer
    caller's job group; the first failure in input order propagates."""
    from evidence_images_etl_airflow_spark.session import parallel_actions

    def count(n):
        return lambda: spark.range(n).count()

    def nested():
        return parallel_actions(spark, [count(3), count(4)])

    out = []
    started, grouped = jobs_in_group(
        "nested-actions",
        lambda: out.extend(parallel_actions(spark, [count(1), nested, count(2)])),
    )
    assert out == [1, [3, 4], 2]
    assert started and started <= grouped

    def fail(msg):
        def thunk():
            raise ValueError(msg)
        return thunk

    with pytest.raises(ValueError, match="first"):
        parallel_actions(spark, [count(1), fail("first"), fail("second")])


def test_thread_pools_only_in_session_helper():
    """Concurrent actions go through session.parallel_actions, which
    keeps the caller's job group; a bare pool would drop it."""
    import pathlib

    import evidence_images_etl_airflow_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}: {needle}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "session.py"
        for needle in ("concurrent.futures", "ThreadPoolExecutor", "threading.Thread")
        if needle in path.read_text()
    ]
    assert not offenders


def test_ep4_corpus_semijoin_is_autoplanned(spark):
    """r11 dogfood assertion: ep4's curated-corpus semi-join goes
    through plan_equi_join(lazy_stats=True) and the executed plan
    carries the planner-chosen BroadcastHashJoin on the curated-id
    side — statistic -> decision -> production plan, closed."""
    from evidence_images_etl_airflow_spark import workload

    out = workload.ep4_retrieval_pipeline(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert out.count() == 10


def test_ep5_mart_runs_full_two_level_planner(spark):
    """r12 (VERDICT r11 item 4): ep5 composes BOTH planner layers —
    plan_join_chain picks the dims-first ORDER and plan_equi_join the
    per-step physical strategy — and the executed plan carries the
    planner-chosen broadcasts end to end."""
    from evidence_images_etl_airflow_spark import workload

    out = workload.ep5_mart_chain_planned(spark, SF_DIR)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    rows = out.collect()
    assert len(rows) == 25 and all(r.revenue > 0 for r in rows)


def _ep5_chain(spark):
    """ep5's four tables and three edges at sf0.001."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_orderkey").alias("ok"))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("ck"))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet").select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk"))
    nat = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        F.col("n_nationkey").alias("nk"))
    tables = {"lineitem": li, "orders": orders, "customer": cust,
              "nation": nat}
    edges = [("lineitem", "orders", "ok"), ("orders", "customer", "ck"),
             ("customer", "nation", "nk")]
    return tables, edges


def test_ep5_chain_decision_order_and_strategies(spark):
    """The decision behind ep5, asserted explicitly: the System-R
    greedy builds customer*nation -> +orders -> +lineitem (dims first,
    fact LAST), and under a tight broadcast budget the final
    dims-vs-fact step flips to BROADCAST_LEFT — the accumulated dim
    frame ships to the fact's partitions, the 100 TB shape."""
    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    tables, edges = _ep5_chain(spark)

    # ep5's dial (100k): every right side fits at sf0.001
    joined, dec = plan_join_chain(tables, edges, broadcast_max_rows=100_000)
    assert dec["order"] == [
        "customer*nation", "orders*customer", "lineitem*orders"]
    assert dec["edge_rows"] == {
        "lineitem*orders": 6000, "orders*customer": 1500,
        "customer*nation": 150}
    assert [d["strategy"] for d in dec["step_decisions"]] == [
        "broadcast_right"] * 3
    # lazy_stats: no fact pre-flight when the opposite side fits
    assert dec["step_decisions"][2]["left"] is None
    assert joined.count() == 6000

    # tight budget (2000): lineitem (6000) no longer fits, the
    # 1500-row accumulated dim frame broadcasts LEFT instead
    _, dec2 = plan_join_chain(tables, edges, broadcast_max_rows=2000)
    assert [d["strategy"] for d in dec2["step_decisions"]] == [
        "broadcast_right", "broadcast_right", "broadcast_left"]
    assert dec2["step_decisions"][2]["left"]["n_rows"] == 1500


def test_ep5_chain_measures_only_intermediate_left_sides(spark, monkeypatch):
    """The edge profiles hold every base table's statistics, so the
    chain runs no per-step stats job of its own except for an
    intermediate left side, and for that only when the step's right
    side misses the broadcast budget."""
    from evidence_images_etl_airflow_spark.operators import skew
    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    calls = []
    key_stats = skew._key_stats

    def recording(df, on):
        calls.append((sorted(df.columns), list(on)))
        return key_stats(df, on)

    monkeypatch.setattr(skew, "_key_stats", recording)
    tables, edges = _ep5_chain(spark)

    plan_join_chain(tables, edges, broadcast_max_rows=100_000)
    assert calls == []

    # budget 2000: only lineitem (step 3's right side) misses it, so
    # only the customer*nation*orders intermediate is measured
    _, dec2 = plan_join_chain(tables, edges, broadcast_max_rows=2000)
    assert calls == [(["ck", "nk", "ok"], ["ok"])]
    assert dec2["step_decisions"][2]["left"]["n_rows"] == 1500


def test_plan_range_partitions_uniform_hand_case(spark):
    """r12: keys 1..8 once each, N=4 -> boundaries 2/4/6, every range
    holds exactly 2 rows at share 0.25; last hi_bound is NULL."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_range_partitions,
    )

    df = spark.createDataFrame([(i,) for i in range(1, 9)], "k long")
    out = plan_range_partitions(df, "k", 4).collect()
    assert [(r.partition_id, r.hi_bound, r.n_rows, r.share) for r in out] == [
        (1, 2, 2, 0.25), (2, 4, 2, 0.25), (3, 6, 2, 0.25),
        (4, None, 2, 0.25),
    ]


def test_plan_range_partitions_surfaces_empty_ranges_under_skew(spark):
    """A hot key spanning several quantiles duplicates boundaries;
    the report shows the collapsed ranges as EMPTY instead of hiding
    them — the signal to abandon range layout for salting."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_range_partitions,
    )

    rows = [(5,)] * 8 + [(1,), (9,)]
    df = spark.createDataFrame(rows, "k long")
    out = plan_range_partitions(df, "k", 4).collect()
    assert [(r.partition_id, r.hi_bound, r.n_rows) for r in out] == [
        (1, 5, 9), (2, 5, 0), (3, 5, 0), (4, None, 1),
    ]


def test_plan_range_partitions_approx_mode_rank_band(spark):
    """approx_accuracy mode: same report shape, boundaries within the
    sketch's rank tolerance — on 1..1000 uniform with high accuracy
    the counts must be near-exact and sum to n."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_range_partitions,
    )

    df = spark.createDataFrame([(i,) for i in range(1, 1001)], "k long")
    out = plan_range_partitions(df, "k", 4, approx_accuracy=10_000).collect()
    assert [r.partition_id for r in out] == [1, 2, 3, 4]
    assert sum(r.n_rows for r in out) == 1000
    for r in out:
        assert abs(r.n_rows - 250) <= 1  # <= 1 rank off at 1e-4 error
    bounds = [r.hi_bound for r in out[:-1]]
    assert bounds == sorted(bounds) and out[-1].hi_bound is None


def test_apply_range_plan_assigns_and_validates(spark):
    from evidence_images_etl_airflow_spark.operators.skew import (
        apply_range_plan,
        plan_range_partitions,
    )

    df = spark.createDataFrame([(i,) for i in range(1, 9)], "k long")
    got = {
        r.k: r.range_pid
        for r in apply_range_plan(df, "k", [2, 4, 6]).collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 3, 6: 3, 7: 4, 8: 4}
    import pytest as _pt

    with _pt.raises(ValueError, match="non-empty"):
        apply_range_plan(df, "k", [])
    with _pt.raises(ValueError, match="n_partitions"):
        plan_range_partitions(df, "k", 1)
    with _pt.raises(ValueError, match="approx_accuracy"):
        plan_range_partitions(df, "k", 4, approx_accuracy=0)
