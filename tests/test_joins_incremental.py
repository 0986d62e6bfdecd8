"""Bloom-prefiltered joins (operators/joins) and incremental aggregate
maintenance (operators/incremental)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators.incremental import (
    batch_partials,
    incremental_rollup,
    merge_state,
)
from evidence_images_etl_airflow_spark.operators.joins import (
    bloom_prefiltered_join,
    build_key_bloom,
)


def _big(spark):
    return spark.createDataFrame(
        [(i, i * 10) for i in range(200)], "k long, v long"
    )


def _small(spark):
    return spark.createDataFrame(
        [(3, "a"), (7, "b"), (400, "never-matches")], "k long, tag string"
    )


def test_bloom_join_equals_plain_join(spark):
    got = sorted(
        (r.k, r.v, r.tag)
        for r in bloom_prefiltered_join(_big(spark), _small(spark), "k").collect()
    )
    want = sorted(
        (r.k, r.v, r.tag)
        for r in _big(spark).join(_small(spark), "k", "inner").collect()
    )
    assert got == want == [(3, 30, "a"), (7, 70, "b")]


def test_bloom_false_positives_removed_by_exact_join(spark):
    """A deliberately tiny bitmap (64 bits for 200 keys) saturates with
    false positives; the exact join must still produce the exact
    result — the prefilter affects cost, never correctness."""
    got = sorted(
        (r.k, r.tag)
        for r in bloom_prefiltered_join(
            _big(spark), _small(spark), "k", num_bits=64
        ).collect()
    )
    assert got == [(3, "a"), (7, "b")]


def test_bloom_semi_join_and_prebuilt_filter(spark):
    bloom = build_key_bloom(_small(spark), "k")
    got = sorted(
        r.k
        for r in bloom_prefiltered_join(
            _big(spark), _small(spark).select("k"), "k",
            how="left_semi", bloom=bloom,
        ).collect()
    )
    assert got == [3, 7]


def test_bloom_join_rejects_outer_shapes(spark):
    with pytest.raises(ValueError, match="inner/semi"):
        bloom_prefiltered_join(_big(spark), _small(spark), "k", how="left")


def _orders(spark, rows):
    return spark.createDataFrame(rows, "g string, x long, p double")


def test_incremental_fold_matches_direct_aggregate(spark):
    rows = [("a", i, float(i)) for i in range(10)] + [
        ("b", i * 3, float(i) / 2) for i in range(7)
    ]
    df = _orders(spark, rows)
    specs = {"x": "count", "p": "sum", "g": "max"}
    batches = [
        df.filter(F.col("x") % 3 == m) for m in (0, 1, 2)
    ]  # 3-way split, one possibly-empty group pattern
    folded = {
        r.g: (r.count_x, round(r.sum_p, 6), r.max_g)
        for r in incremental_rollup(batches, ["g"], specs).collect()
    }
    direct = {
        r.g: (r.count_x, round(r.sum_p, 6), r.max_g)
        for r in df.groupBy("g")
        .agg(
            F.count("x").alias("count_x"),
            F.sum("p").alias("sum_p"),
            F.max("g").alias("max_g"),
        )
        .collect()
    }
    assert folded == direct


def test_incremental_merge_is_order_insensitive(spark):
    df = _orders(spark, [("a", 1, 1.0), ("a", 2, 2.0), ("b", 5, 5.0)])
    specs = {"x": "sum", "p": "min"}
    b1, b2 = (df.filter(F.col("x") <= 2), df.filter(F.col("x") > 2))
    fwd = incremental_rollup([b1, b2], ["g"], specs)
    rev = incremental_rollup([b2, b1], ["g"], specs)
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, rev.collect()))


def test_incremental_bootstrap_and_group_passthrough(spark):
    """state=None bootstraps; a group present in only one batch passes
    through the merge untouched."""
    specs = {"x": "sum"}
    s1 = merge_state(
        None, batch_partials(_orders(spark, [("a", 1, 0.0)]), ["g"], specs),
        ["g"], specs,
    )
    s2 = merge_state(
        s1, batch_partials(_orders(spark, [("b", 7, 0.0)]), ["g"], specs),
        ["g"], specs,
    )
    assert {r.g: r.sum_x for r in s2.collect()} == {"a": 1, "b": 7}


def test_incremental_rejects_non_decomposable(spark):
    with pytest.raises(ValueError, match="not decomposable"):
        batch_partials(_orders(spark, [("a", 1, 0.0)]), ["g"], {"p": "median"})


def test_heavy_hitters_stream_maintains_certified_summary(spark, tmp_path):
    """Streaming MG maintenance: three micro-batches (one file each)
    fold into a persisted summary bounded at capacity+1 rows; the MG
    certificates hold over the WHOLE stream (est <= true, undercount
    <= error row), the dominant value survives every compression, and
    a checkpointed re-run only folds in genuinely new files."""
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        heavy_hitters_stream_available_now,
    )

    schema = "v string"
    src = f"{tmp_path}/hh_src"
    store = f"{tmp_path}/hh_store"
    cap = 5

    def write_file(name, rows):
        spark.createDataFrame([(r,) for r in rows], schema).coalesce(
            1
        ).write.parquet(f"{src}/{name}")

    # hot value dominates; rotating singleton tails force compression
    write_file("f0", ["hot"] * 60 + [f"t0_{i}" for i in range(20)])
    write_file("f1", ["hot"] * 50 + [f"t1_{i}" for i in range(20)])
    write_file("f2", ["hot"] * 40 + ["warm"] * 25 + [f"t2_{i}" for i in range(20)])
    true = {"hot": 150, "warm": 25}
    true.update({f"t{b}_{i}": 1 for b in range(3) for i in range(20)})

    heavy_hitters_stream_available_now(
        spark, f"{src}/f*", schema, store, f"{tmp_path}/hh_ckpt", "v",
        capacity=cap, max_files_per_trigger=1,
    )
    rows = spark.read.parquet(store).collect()
    assert len(rows) <= cap + 1  # bounded store, error row included
    err = sum(r.cnt for r in rows if r.item is None)
    assert err > 0  # compression genuinely fired
    ests = {r.item: r.cnt for r in rows if r.item is not None}
    for item, est in ests.items():
        assert est <= true[item]
        assert true[item] - est <= err
    for item, t in true.items():
        if item not in ests:
            assert t <= err
    assert max(ests, key=lambda i: (ests[i], i)) == "hot"

    # exactly-once across re-runs: same checkpoint, one new file
    write_file("f3", ["hot"] * 30)
    heavy_hitters_stream_available_now(
        spark, f"{src}/f*", schema, store, f"{tmp_path}/hh_ckpt", "v",
        capacity=cap, max_files_per_trigger=1,
    )
    true["hot"] += 30
    rows2 = spark.read.parquet(store).collect()
    err2 = sum(r.cnt for r in rows2 if r.item is None)
    ests2 = {r.item: r.cnt for r in rows2 if r.item is not None}
    assert ests2["hot"] <= true["hot"]
    assert true["hot"] - ests2["hot"] <= err2  # f0-f2 NOT double-counted


def test_join_size_by_degree_hand_computed(spark):
    """Exact output size and skew shares from degree tables alone:
    left has key a x3, b x1; right has a x2, c x5 -> join size is
    3*2 = 6, all from key 'a'; 'b' and 'c' never meet."""
    from evidence_images_etl_airflow_spark.operators.joins import (
        join_size_by_degree,
    )

    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)], "k string"
    )
    right = spark.createDataFrame(
        [("a",)] * 2 + [("c",)] * 5, "k string"
    )
    rows = join_size_by_degree(left, right, "k", top_n=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.k, r.n_left, r.n_right, r.pairs, r.total_pairs, r.rank) == (
        "a", 3, 2, 6, 6, 1
    )
    assert r.pct_of_total == 1.0
    # cross-check against the actually-executed join
    assert left.join(right, "k").count() == r.total_pairs


def test_plan_join_chain_orders_by_estimates(spark):
    """r11: the greedy System-R planner joins the cheap edge first and
    chains estimates in integer math; the executed result equals the
    plain any-order join."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    # fact: 1000 rows over 10 bridge keys; bridge: 10 rows mapping to
    # 2 dim keys; dim: 2 rows. Joining fact*bridge first materializes
    # 1000 rows; bridge*dim first materializes 10.
    fact = spark.range(1000).select((F.col("id") % 10).alias("k1"))
    bridge = spark.range(10).select(
        F.col("id").alias("k1"), (F.col("id") % 2).alias("k2")
    )
    dim = spark.range(2).select(F.col("id").alias("k2"))
    joined, dec = plan_join_chain(
        {"fact": fact, "bridge": bridge, "dim": dim},
        [("fact", "bridge", "k1"), ("bridge", "dim", "k2")],
    )
    assert dec["order"] == ["bridge*dim", "fact*bridge"]
    assert dec["edge_rows"] == {"fact*bridge": 1000, "bridge*dim": 10}
    # chained: est(bridge*dim)=10, then 10 * 1000 // n_rows[bridge]=10
    assert dec["est_rows"] == [10, 1000]
    assert joined.count() == 1000
    # canonical column order: keys in edge-list order -> (k1, k2)
    assert joined.columns == ["k1", "k2"]
    plain = fact.join(bridge, "k1").join(dim, "k2").select("k1", "k2")
    assert joined.exceptAll(plain).count() == 0
    assert plain.exceptAll(joined).count() == 0


def test_plan_join_chain_preflight_runs_in_callers_job_group(spark, jobs_in_group):
    """The concurrent edge profiles of a 3-table chain all run in the
    caller's job group."""
    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    fact = spark.range(1000).select((F.col("id") % 10).alias("k1"))
    bridge = spark.range(10).select(
        F.col("id").alias("k1"), (F.col("id") % 2).alias("k2")
    )
    dim = spark.range(2).select(F.col("id").alias("k2"))
    started, grouped = jobs_in_group(
        "preflight-chain",
        lambda: plan_join_chain(
            {"fact": fact, "bridge": bridge, "dim": dim},
            [("fact", "bridge", "k1"), ("bridge", "dim", "k2")],
        ),
    )
    assert started and started <= grouped


def test_plan_join_chain_validates_shape(spark):
    import pytest as _pt
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    a = spark.range(5).select(F.col("id").alias("k"))
    b = spark.range(5).select(F.col("id").alias("k"))
    c = spark.range(5).select(F.col("id").alias("j"))
    with _pt.raises(ValueError, match="at least one edge"):
        plan_join_chain({"a": a}, [])
    with _pt.raises(ValueError, match="unknown table"):
        plan_join_chain({"a": a, "b": b}, [("a", "x", "k")])
    with _pt.raises(ValueError, match="exactly"):
        plan_join_chain({"a": a, "b": b, "c": c}, [("a", "b", "k")])
    # disconnected: 5 tables, 4 distinct edges, but the a-b-e cycle
    # leaves the c-d island unreachable
    d = spark.range(5).select(F.col("id").alias("j"))
    e = spark.range(5).select(F.col("id").alias("k"))
    with _pt.raises(ValueError, match="connected"):
        plan_join_chain(
            {"a": a, "b": b, "c": c, "d": d, "e": e},
            [("a", "b", "k"), ("c", "d", "j"), ("a", "e", "k"),
             ("b", "e", "k")],
        )
    # ADVICE r11: parallel edges collide in the 'a*b' label (would
    # silently overwrite edge_rows) — rejected up front, either
    # orientation
    with _pt.raises(ValueError, match="duplicate edge"):
        plan_join_chain(
            {"a": a, "b": b, "c": c},
            [("a", "b", "k"), ("b", "a", "k")],
        )
    # ADVICE r11: shared NON-KEY column names would make the canonical
    # final select ambiguous only at execution time — rejected up front
    a2 = spark.range(5).select(F.col("id").alias("k"),
                               F.lit(1).alias("payload"))
    b2 = spark.range(5).select(F.col("id").alias("k"),
                               F.lit(2).alias("payload"))
    with _pt.raises(ValueError, match="non-key column 'payload'"):
        plan_join_chain({"a": a2, "b": b2}, [("a", "b", "k")])


def test_plan_join_chain_composes_with_plan_equi_join(spark):
    """r11: ORDER planning (plan_join_chain) composes with per-step
    PHYSICAL planning (plan_equi_join's decision rule under
    broadcast_max_rows) — each step's strategy decision is surfaced,
    and the result is unchanged."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    fact = spark.range(1000).select((F.col("id") % 10).alias("k1"))
    bridge = spark.range(10).select(
        F.col("id").alias("k1"), (F.col("id") % 2).alias("k2")
    )
    dim = spark.range(2).select(F.col("id").alias("k2"))

    joined, dec = plan_join_chain(
        {"fact": fact, "bridge": bridge, "dim": dim},
        [("fact", "bridge", "k1"), ("bridge", "dim", "k2")],
        broadcast_max_rows=1_000_000,
    )
    assert dec["order"] == ["bridge*dim", "fact*bridge"]
    assert [d["strategy"] for d in dec["step_decisions"]] == [
        "broadcast_right", "broadcast_right",
    ]
    assert joined.count() == 1000
    assert joined.columns == ["k1", "k2"]


def test_plan_join_chain_stats_count_null_and_unmatched_keys(spark):
    """The edge profiles are the chain's only measurement: a table's
    n_rows is its degree sum on an edge, and each step's right-side
    statistics come from the profile. Both must count NULL-key and
    unmatched-key rows exactly as ``df.count()`` and ``_key_stats``
    do, although neither kind of row joins."""
    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )
    from evidence_images_etl_airflow_spark.operators.skew import _key_stats

    # a: 5 NULL-key rows, keys 0..9 three times each, keys 100..103
    # unmatched in b; b: keys 0..4, key 0 twice, 2 NULL-key rows, key 50
    # unmatched in a; c hangs off b on j, with a NULL j and unmatched j
    a = spark.createDataFrame(
        [(None, i) for i in range(5)]
        + [(i % 10, 10 + i) for i in range(30)]
        + [(100 + i, 50 + i) for i in range(4)],
        "k long, av long",
    )
    b = spark.createDataFrame(
        [(0, 0), (0, 1), (1, 1), (2, None), (3, 3), (4, 4),
         (None, 0), (None, 9), (50, 7)],
        "k long, j long",
    )
    c = spark.createDataFrame(
        [(0, "x"), (1, "y"), (1, "z"), (None, "n"), (8, "u")],
        "j long, cv string",
    )
    tables = {"a": a, "b": b, "c": c}
    joined, dec = plan_join_chain(
        tables, [("a", "b", "k"), ("b", "c", "j")], broadcast_max_rows=3
    )

    assert dec["n_rows"] == {t: df.count() for t, df in tables.items()}
    # a's keys 0..4 (3 rows each) meet b's 0 (twice), 1, 2, 3, 4, and
    # b's j 0 (twice) and 1 (twice) meet c's 0 and 1 (twice); NULL and
    # unmatched keys add nothing
    assert dec["edge_rows"] == {
        "a*b": a.join(b, "k").count(), "b*c": b.join(c, "j").count(),
    } == {"a*b": 18, "b*c": 6}
    assert dec["order"] == ["b*c", "a*b"]

    def stats(df, key):
        s = _key_stats(df, [key])
        return {"n_rows": s.n_rows, "n_keys": s.n_keys, "max_degree": s.max_degree}

    first, second = dec["step_decisions"]
    # every right side is over the budget of 3, so each step also
    # reads its left side: the profiled base table b, then the
    # measured b*c intermediate
    assert first["right"] == stats(c, "j")
    assert first["left"] == stats(b, "j")
    assert second["right"] == stats(a, "k")
    assert second["left"] == stats(b.join(c, "j"), "k")
    assert joined.count() == a.join(b, "k").join(c, "j").count()


def test_plan_join_chain_four_table_star(spark):
    """r11: a 4-table star (two frontier candidates after the first
    step) — the greedy step must compare CHAINED estimates across
    frontier edges, not raw edge sizes."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.joins import (
        plan_join_chain,
    )

    # hub: 100 rows, key a uniform over 10, key b uniform over 4
    hub = spark.range(100).select(
        (F.col("id") % 10).alias("a"), (F.col("id") % 4).alias("b")
    )
    # wide: fans out 5x on a (edge size 100*5=500)
    wide = spark.range(50).select((F.col("id") % 10).alias("a"))
    # narrow: 1:many-but-small on b (edge size 100*1=100)
    narrow = spark.range(4).select(F.col("id").alias("b"))
    # tail hangs off wide's key a
    tail = spark.range(10).select(F.col("id").alias("a"))
    joined, dec = plan_join_chain(
        {"hub": hub, "wide": wide, "narrow": narrow, "tail": tail},
        [("hub", "wide", "a"), ("hub", "narrow", "b"), ("wide", "tail", "a")],
    )
    # edge pricing: wide 5-per-a x tail 1-per-a over 10 keys = 50;
    # hub 25-per-b x narrow 1-per-b over 4 keys = 100;
    # hub 10-per-a x wide 5-per-a over 10 keys = 500
    assert dec["edge_rows"] == {
        "hub*wide": 500, "hub*narrow": 100, "wide*tail": 50,
    }
    assert dec["order"][0] == "wide*tail"
    # frontier after step 1 = only hub*wide (narrow not yet reachable);
    # chained: 50 * 500 // n_rows[wide]=50 -> 500, then BOTH remaining
    # frontier edges compete and narrow attaches:
    # 500 * 100 // n_rows[hub]=100 -> 500
    assert dec["order"] == ["wide*tail", "hub*wide", "hub*narrow"]
    assert dec["est_rows"] == [50, 500, 500]
    n = joined.count()
    plain = hub.join(narrow, "b").join(wide, "a").join(tail, "a")
    assert n == plain.count()
