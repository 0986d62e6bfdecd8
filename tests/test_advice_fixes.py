"""Regression tests for the round-1 ADVICE findings: ANSI-mode edge
cases (empty documents / payloads), as-of NULL-payload semantics,
merge_upsert NULL-key matching, and the cache lifecycle."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark import caching, workload
from evidence_images_etl_airflow_spark.functions.text import quality_score
from evidence_images_etl_airflow_spark.operators.asof import asof_join_backward
from evidence_images_etl_airflow_spark.operators.multimodal import (
    attach_binary,
    sample_frames,
)
from evidence_images_etl_airflow_spark.operators.upsert import merge_upsert

SF_DIR = "/root/testdata/sf0.001"


def test_quality_score_empty_doc_no_ansi_abort(spark):
    # ANSI mode is on by default in Spark 4; an empty or whitespace-only
    # document must not DIVIDE_BY_ZERO the whole job.
    df = spark.createDataFrame(
        [("", 1), ("   ", 2), ("real text here", 3)], ["text", "id"]
    )
    rows = {
        r["id"]: r["q"]
        for r in df.select("id", quality_score("text").alias("q")).collect()
    }
    # split('') -> [''], so diversity=1, saturation=1/64, alnum=0
    assert rows[1] == round(0.4 + 0.3 / 64, 6)
    assert rows[3] > 0


def test_sample_frames_zero_length_payload(spark):
    df = spark.createDataFrame(
        [(1, b""), (2, b"x" * 70)], ["doc_id", "payload"]
    )
    out = sample_frames(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_offset"])
    assert 1 not in by_doc  # zero frames, not an error
    assert sorted(by_doc[2]) == [0, 32, 64]


def test_multimodal_frame_sample_query_empty_doc(spark):
    # inline copy in the workload query: same guard
    d = attach_binary(
        spark.createDataFrame([("", 1), ("abcd", 2)], ["text", "doc_id"]),
        "text",
        "payload",
    )
    n = d.select(
        F.explode(
            F.when(
                F.length("payload") > 0,
                F.sequence(F.lit(0), F.length("payload") - 1, F.lit(32)),
            ).otherwise(F.array().cast("array<int>"))
        )
    ).count()
    assert n == 1  # only doc 2 emits a frame


def test_asof_null_payload_value_rides_with_its_row(spark):
    # right row at t=20 has px=NULL; merge_asof/DuckDB ASOF return NULL
    # for a left row at t=25 (latest right row wins, field and all) —
    # NOT the older t=10 row's 1.0.
    left = spark.createDataFrame([("k", 25)], ["key", "ts"])
    right = spark.createDataFrame(
        [Row(key="k", rts=10, px=1.0), Row(key="k", rts=20, px=None)]
    )
    out = asof_join_backward(
        left, right, keys=["key"], left_ts="ts", right_ts="rts", payload=["px"]
    ).collect()
    assert len(out) == 1 and out[0]["px"] is None


def test_asof_tolerance_uses_matched_row_ts(spark):
    # the NULL-payload right row at t=20 is the match; with tolerance 7
    # it's fresh (25-20=5) so px stays NULL-from-that-row, and an old
    # non-null row must not leak through the tolerance path either
    left = spark.createDataFrame([("k", 25)], ["key", "ts"])
    right = spark.createDataFrame(
        [Row(key="k", rts=10, px=1.0), Row(key="k", rts=20, px=None)]
    )
    out = asof_join_backward(
        left,
        right,
        keys=["key"],
        left_ts="ts",
        right_ts="rts",
        payload=["px"],
        tolerance=7,
    ).collect()
    assert out[0]["px"] is None


def test_merge_upsert_null_key_source_wins(spark):
    # eqNullSafe matches NULL keys; the matched-update must apply the
    # source's value there, not silently keep the target's.
    target = spark.createDataFrame(
        [Row(k=None, v="old"), Row(k=1, v="t1")]
    )
    source = spark.createDataFrame(
        [Row(k=None, v="new"), Row(k=2, v="s2")]
    )
    out = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {None: "new", 1: "t1", 2: "s2"}


def test_registry_sweep_releases_caches(spark):
    # run cache-heavy registry queries back-to-back, then release: no
    # persistent RDDs may remain (VERDICT r01 item 7's done-criterion)
    qs = workload.queries()
    for name in ["q15_top_supplier", "dedup_minhash_clusters", "events_rollup_cascade"]:
        qs[name](spark, SF_DIR).count()
    caching.release_all(spark, hard=True)
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    assert jrdds.size() == 0
    # and the boundary release inside the wrapper keeps a sweep bounded:
    qs["q15_top_supplier"](spark, SF_DIR).count()
    qs["events_hourly_rollup"](spark, SF_DIR).count()  # releases q15's persist
    assert caching.live_count() <= 1
    caching.release_all(spark, hard=True)


# --- round-4/5 ADVICE fixes --------------------------------------------------


def test_versioned_pointer_never_absent_and_fallback(spark, tmp_path):
    from evidence_images_etl_airflow_spark.sinks import versioned

    table = str(tmp_path / "vt")
    df1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    df2 = spark.createDataFrame([(2, "b")], ["id", "v"])
    assert versioned.publish(spark, df1, table) == 1
    assert versioned.publish(spark, df2, table) == 2
    assert versioned.current_version(spark, table) == 2
    assert [r.id for r in versioned.read_latest(spark, table).collect()] == [2]
    versioned.rollback(spark, table, 1)
    assert versioned.current_version(spark, table) == 1
    # a momentarily-missing pointer (legacy writer crash window) must
    # not look like "no published table": fall back to newest version
    import os

    os.remove(os.path.join(table, "_LATEST"))
    assert versioned.current_version(spark, table) == 2
    assert [r.id for r in versioned.read_latest(spark, table).collect()] == [2]


def test_run_checks_empty_list_returns_empty_report(spark):
    from evidence_images_etl_airflow_spark.operators.quality import run_checks

    df = spark.createDataFrame([(1,)], ["x"])
    rep = run_checks(df, [])
    assert rep.columns == ["check_name", "violations", "n_rows"]
    assert rep.count() == 0


def test_check_fk_large_dim_not_force_broadcast(spark):
    from evidence_images_etl_airflow_spark.operators import quality
    from evidence_images_etl_airflow_spark.operators.quality import (
        check_fk,
        run_checks,
    )

    facts = spark.createDataFrame([(1,), (2,), (5000,)], ["k"])
    dim = spark.range(1000).select(F.col("id").alias("k"))
    # force the "large dimension" branch by dropping the threshold
    old = quality.FK_BROADCAST_MAX_ROWS
    quality.FK_BROADCAST_MAX_ROWS = 10
    try:
        rep = run_checks(facts, [check_fk("k", dim, "k")])
        rows = {r.check_name: r.violations for r in rep.collect()}
        assert rows["fk(k)"] == 1  # 5000 is an orphan either way
    finally:
        quality.FK_BROADCAST_MAX_ROWS = old


def test_scan_pruned_empty_manifest(spark):
    from evidence_images_etl_airflow_spark.sources.manifest import scan_pruned

    empty_manifest = spark.createDataFrame(
        [], "file string, n_rows long, x_min long, x_max long"
    )
    out = scan_pruned(spark, empty_manifest, {"x": (0, 10)}, schema="x long, y string")
    assert out.columns == ["x", "y"]
    assert out.count() == 0
    try:
        scan_pruned(spark, empty_manifest, {"x": (0, 10)})
        raised = False
    except ValueError as e:
        raised = "no files" in str(e)
    assert raised


def test_scd2_apply_collapses_duplicate_update_keys(spark):
    import datetime

    from evidence_images_etl_airflow_spark.operators.scd import scd2_apply

    dim = spark.createDataFrame(
        [(1, "old", datetime.date(2020, 1, 1), None)],
        "k long, attr string, valid_from date, valid_to date",
    )
    updates = spark.createDataFrame(
        [
            (1, "mid", datetime.date(2021, 1, 1)),
            (1, "new", datetime.date(2022, 1, 1)),  # latest wins
        ],
        "k long, attr string, eff date",
    )
    out = scd2_apply(dim, updates, keys=["k"], tracked=["attr"], effective_col="eff")
    rows = sorted(out.collect(), key=lambda r: (r.valid_from,))
    # exactly ONE closed row and ONE new current row — no fan-out
    assert len(rows) == 2
    assert rows[0].attr == "old" and rows[0].valid_to == datetime.date(2022, 1, 1)
    assert rows[1].attr == "new" and rows[1].valid_to is None


def test_store_swap_leaves_backup_recoverable(spark, tmp_path):
    """r07 ADVICE: the old delete-then-rename swap had a crash window
    that lost the store entirely. The backup-preserving swap keeps a
    complete copy at every instant: simulate the crash state (current
    store renamed aside, new one never landed) and read_parquet_target must
    recover the backup's contents."""
    from evidence_images_etl_airflow_spark.sinks.writers import (
        read_parquet_target,
        swap_parquet,
    )

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([("a", 1)], "item string, cnt long")
    swap_parquet(spark, df1, path)
    assert {tuple(r) for r in read_parquet_target(spark, path).collect()} == {("a", 1)}

    df2 = spark.createDataFrame([("b", 2)], "item string, cnt long")
    swap_parquet(spark, df2, path)
    assert {tuple(r) for r in read_parquet_target(spark, path).collect()} == {("b", 2)}

    # simulate the mid-swap crash: current renamed to backup, no new store
    import shutil

    shutil.move(path, path + "__backup")
    got = read_parquet_target(spark, path)
    assert got is not None
    assert {tuple(r) for r in got.collect()} == {("b", 2)}
    # neither path exists -> None (first-batch bootstrap), not an error
    shutil.rmtree(path + "__backup")
    assert read_parquet_target(spark, path) is None


def test_heavy_hitters_store_skips_replayed_batch(spark, tmp_path):
    """r07 ADVICE: foreachBatch is at-least-once and the MG store
    update is read-modify-write — a replayed batch must NOT be folded
    in twice (it would break est <= true). The per-row batch-id stamp
    makes land() idempotent: invoking the update for an already-applied
    batch id leaves the store unchanged."""
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        heavy_hitters_stream_available_now,
    )

    schema = "v string"
    src = f"{tmp_path}/src"
    store = f"{tmp_path}/store"
    spark.createDataFrame([("hot",)] * 10, schema).coalesce(1).write.parquet(
        f"{src}/f0"
    )
    heavy_hitters_stream_available_now(
        spark, f"{src}/f*", schema, store, f"{tmp_path}/ck", "v", capacity=5
    )
    before = {(r.item, r.cnt) for r in spark.read.parquet(store).collect()}
    # replay the SAME files through a FRESH checkpoint: batch ids repeat
    # (0...), and the store-side guard must reject them all
    heavy_hitters_stream_available_now(
        spark, f"{src}/f*", schema, store, f"{tmp_path}/ck2", "v", capacity=5
    )
    after = {(r.item, r.cnt) for r in spark.read.parquet(store).collect()}
    assert after == before  # no double count


def test_countmin_stream_store_equals_single_pass(spark, tmp_path):
    """CM linearity end-to-end: stream three files through the store,
    then the persisted cells must be BIT-IDENTICAL to one batch
    countmin_table over the concatenated input — and a replayed run
    through a fresh checkpoint must change nothing."""
    from evidence_images_etl_airflow_spark.operators.sketches import (
        countmin_lookup,
        countmin_table,
    )
    from evidence_images_etl_airflow_spark.streaming.file_stream import (
        countmin_stream_available_now,
    )

    schema = "v string"
    src = f"{tmp_path}/src"
    store = f"{tmp_path}/store"
    batches = [
        [("a",)] * 5 + [("b",)] * 2,
        [("a",)] * 3 + [("c",)] * 4,
        [("b",)] * 6,
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    countmin_stream_available_now(
        spark, f"{src}/f*", schema, store, f"{tmp_path}/ck", "v",
        depth=3, width=32, salt="s",
    )
    got = {
        (r.r, r.bucket, r.cnt)
        for r in spark.read.parquet(store).drop("_last_batch").collect()
    }
    all_rows = spark.createDataFrame(
        [t for b in batches for t in b], schema
    )
    want = {
        (r.r, r.bucket, r.cnt)
        for r in countmin_table(all_rows, "v", depth=3, width=32, salt="s").collect()
    }
    assert got == want

    # replay through a fresh checkpoint: batch ids repeat, guard rejects
    countmin_stream_available_now(
        spark, f"{src}/f*", schema, store, f"{tmp_path}/ck2", "v",
        depth=3, width=32, salt="s",
    )
    after = {
        (r.r, r.bucket, r.cnt)
        for r in spark.read.parquet(store).drop("_last_batch").collect()
    }
    assert after == got

    # lookups against the store see the true totals (width=32 >> 3
    # distinct values, so at least the min row is collision-free here)
    est = {
        r.v: r.est
        for r in countmin_lookup(
            spark.read.parquet(store).drop("_last_batch"),
            all_rows.select("v").distinct(), "v",
            depth=3, width=32, salt="s",
        ).collect()
    }
    assert est["a"] >= 8 and est["b"] >= 8 and est["c"] >= 4


def test_swap_store_failed_rename_preserves_backup(spark, tmp_path, monkeypatch):
    """r08 ADVICE (medium): Hadoop FileSystem.rename signals failure by
    returning FALSE. A failed staging->current rename used to fall
    through to deleting the backup — the only remaining complete copy —
    and let the checkpoint commit a silent full state reset. It must
    now raise with the backup intact, and read_parquet_target must recover it."""
    import pytest

    from evidence_images_etl_airflow_spark.sinks import writers

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([("a", 1)], "item string, cnt long")
    writers.swap_parquet(spark, df1, path)

    real_hadoop = writers.hadoop_fs

    class FailSecondRename:
        """Proxy over the real FS: rename #2 (staging->current) fails."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            calls[0] += 1
            if calls[0] == 2:
                return False
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    calls = [0]

    def fake_hadoop(sess, p):
        hadoop_path, fs = real_hadoop(sess, p)
        return hadoop_path, FailSecondRename(fs)

    monkeypatch.setattr(writers, "hadoop_fs", fake_hadoop)
    df2 = spark.createDataFrame([("b", 2)], "item string, cnt long")
    with pytest.raises(IOError, match="preserved"):
        writers.swap_parquet(spark, df2, path)
    monkeypatch.setattr(writers, "hadoop_fs", real_hadoop)

    # the backup is the last complete store and the recovery path reads it
    got = writers.read_parquet_target(spark, path)
    assert got is not None
    assert {tuple(r) for r in got.collect()} == {("a", 1)}


def test_swap_store_reclaims_leaked_staging_dirs(spark, tmp_path):
    """r08 ADVICE: a crash between the staging write and the renames
    leaves a uuid-named __staging_* sibling no later run could
    identify. The next swap best-effort deletes such leftovers."""
    import os

    from evidence_images_etl_airflow_spark.sinks import writers

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([("a", 1)], "item string, cnt long")
    writers.swap_parquet(spark, df1, path)
    # simulate two crashed swaps' leftovers
    os.makedirs(path + "__staging_deadbeef/x", exist_ok=True)
    os.makedirs(path + "__staging_cafebabe", exist_ok=True)
    df2 = spark.createDataFrame([("b", 2)], "item string, cnt long")
    writers.swap_parquet(spark, df2, path)
    leftovers = [n for n in os.listdir(tmp_path) if "__staging_" in n]
    assert leftovers == []
    assert {tuple(r) for r in writers.read_parquet_target(spark, path).collect()} == {
        ("b", 2)
    }


def test_countmin_excludes_nulls_build_and_lookup(spark):
    """r08 ADVICE: NULL values used to be counted into an unjoinable
    (r, NULL) cell, so a null item looked up as est=0 while its true
    count was positive — silently breaking est >= true. Build and
    lookup now both drop nulls; the theorem holds on the non-null
    domain."""
    from evidence_images_etl_airflow_spark.operators.sketches import (
        countmin_lookup,
        countmin_table,
    )

    df = spark.createDataFrame(
        [("x",), ("x",), (None,), (None,), ("y",)], "v string"
    )
    table = countmin_table(df, "v", depth=3, width=16, salt="n")
    cells = table.collect()
    assert all(c.bucket is not None for c in cells), "no NULL-bucket cells"
    # total mass = non-null rows x depth (nulls contribute nothing)
    assert sum(c.cnt for c in cells) == 3 * 3

    probes = spark.createDataFrame([("x",), (None,), ("z",)], "v string")
    got = {r.v: r.est for r in countmin_lookup(
        table, probes, "v", depth=3, width=16, salt="n"
    ).collect()}
    assert None not in got, "null probes are dropped, not est=0"
    assert got["x"] >= 2  # est >= true
    assert got["z"] >= 0


def test_state_health_empty_store_skew_ratio_is_one(spark):
    """r08 ADVICE: an empty state store used to report skew_ratio NULL
    (0/0); the documented scale defines idle as perfectly even = 1.0.
    Exercised at the expression level (the report wraps the same
    formula): 0 rows -> 1.0, non-empty unchanged."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(0, 0, 8), (400, 100, 8)],
        "n_state_rows long, max_partition_rows long, numPartitions int",
    )
    out = df.select(
        F.when(
            F.col("n_state_rows") > 0,
            F.round(
                F.col("max_partition_rows")
                / (F.col("n_state_rows") / F.col("numPartitions").cast("double")),
                6,
            ),
        )
        .otherwise(F.lit(1.0))
        .alias("skew_ratio")
    ).collect()
    assert [r.skew_ratio for r in out] == [1.0, 2.0]


def test_swap_store_recovery_state_keeps_backup_on_failure(spark, tmp_path, monkeypatch):
    """r09 review: in the recovery-replay state (current store missing,
    __backup = the only complete copy) a retried swap used to delete
    the backup BEFORE promoting staging — a second rename failure then
    left no complete copy at all. The backup must now survive a failed
    swap in that state."""
    import shutil

    import pytest

    from evidence_images_etl_airflow_spark.sinks import writers

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([("a", 1)], "item string, cnt long")
    writers.swap_parquet(spark, df1, path)
    # simulate the crashed-swap recovery state
    shutil.move(path, path + "__backup")

    real_hadoop = writers.hadoop_fs

    class FailAllRenames:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def fake_hadoop(sess, p):
        hadoop_path, fs = real_hadoop(sess, p)
        return hadoop_path, FailAllRenames(fs)

    monkeypatch.setattr(writers, "hadoop_fs", fake_hadoop)
    df2 = spark.createDataFrame([("b", 2)], "item string, cnt long")
    with pytest.raises(IOError):
        writers.swap_parquet(spark, df2, path)
    monkeypatch.setattr(writers, "hadoop_fs", real_hadoop)

    got = writers.read_parquet_target(spark, path)
    assert got is not None, "backup must survive the failed recovery swap"
    assert {tuple(r) for r in got.collect()} == {("a", 1)}


def test_bench_calibrate_fast_host_no_retry():
    """r09 review: only the SLOW side of the cal band signals a
    degraded host — a fast host must not sleep or get flagged."""
    import bench

    slept = []
    cal, samples = bench._calibrate(
        cal_fn=iter([0.40]).__next__, sleep_fn=slept.append
    )
    assert (cal, samples, slept) == (0.40, [0.40], [])


def test_advise_width_non_integer_session_conf_falls_back():
    """r13 ADVICE: AQE-managed platforms report
    spark.sql.shuffle.partitions as a non-integer (e.g. 'auto'); the
    shingle advisor's width parse must fall back to the plain default
    instead of raising ValueError at DataFrame-construction time, and
    must clamp a hand-set width past the advisor's 200k ceiling
    (which plan_shuffle_partitions would reject as min > max)."""
    from evidence_images_etl_airflow_spark.operators import dedup

    assert dedup._parse_session_width("auto") == 200
    assert dedup._parse_session_width(None) == 200
    assert dedup._parse_session_width("64") == 64
    assert dedup._parse_session_width("400000") == 200_000
    assert dedup._parse_session_width("0") == 1


def test_bootstrap_chunked_replicates_match_single_pass(spark, monkeypatch):
    """r13 ADVICE: the bootstrap wide agg is chunked at 64 replicates
    per pass so plan size stops scaling linearly in B. The chunked
    path (B=70 -> two passes cross-joined) must produce the IDENTICAL
    interval to the single-pass shape on the same draws — the
    replicate weights are pure functions of (id, b), so chunking can
    only change the plan, never a value. r15 (r14 ADVICE): assert that
    equality directly by pinning _BOOT_CHUNK past B and comparing the
    two rows field by field, instead of only sanity bounds."""
    from evidence_images_etl_airflow_spark.operators import sketches

    df = spark.createDataFrame(
        [(i, float(100 + (i * 37) % 50)) for i in range(200)],
        ["id", "val"],
    )
    row70 = sketches.poisson_bootstrap_mean_ci(
        df, "id", "val", replicates=70
    ).collect()[0]
    assert row70["n_total"] == 200
    assert row70["boot_lo"] <= row70["exact_mean"] <= row70["boot_hi"]
    assert row70["n_replicates"] == 70
    monkeypatch.setattr(sketches, "_BOOT_CHUNK", 1024)
    single70 = sketches.poisson_bootstrap_mean_ci(
        df, "id", "val", replicates=70
    ).collect()[0]
    assert single70.asDict() == row70.asDict()


def test_scratch_build_fingerprint_triggers_rebuild(spark, tmp_path):
    """r13 ADVICE: the once-per-process scratch guard must rebuild
    when the SOURCE corpus changes mid-process (fingerprint keying),
    not serve the stale table, and must register paths for atexit
    cleanup. r15 (r14 ADVICE): a regenerated corpus now gets a FRESH
    fingerprint-suffixed path — the old build's directory survives
    until atexit so lazily-evaluated readers of it stay valid."""
    from evidence_images_etl_airflow_spark import workload

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"v1-bytes")
    sf_dir = str(tmp_path)

    p1, b1, mark1 = workload._scratch_build(spark, "testtag", sf_dir, "documents")
    assert b1 is True
    mark1()
    p2, b2, _ = workload._scratch_build(spark, "testtag", sf_dir, "documents")
    assert (p2, b2) == (p1, False)

    # regenerate the corpus: different size -> different fingerprint
    # -> a DIFFERENT path, with the completed v1 build left on disk
    src.write_bytes(b"v2-bytes-longer")
    p3, b3, mark3 = workload._scratch_build(spark, "testtag", sf_dir, "documents")
    assert b3 is True
    assert p3 != p1
    assert os.path.exists(os.path.join(p1, "_SG_BUILD_OK"))
    mark3()
    assert p1 in workload._SCRATCH_PATHS
    assert p3 in workload._SCRATCH_PATHS


def test_scratch_build_under_a_uri_rebuilds_a_rewritten_table(spark, tmp_path):
    """A ``file:`` URI ``sf_dir`` fingerprints from the Hadoop listing
    like a plain path, so a table rewritten under it rebuilds the
    scratch build instead of serving the old one (``os.stat`` saw no
    file at a URI and fingerprinted every version as `missing`)."""
    from evidence_images_etl_airflow_spark import workload

    table = str(tmp_path / "documents.parquet")
    sf_dir = "file:" + str(tmp_path)
    spark.range(3).write.parquet(table)
    p1, b1, mark1 = workload._scratch_build(spark, "uritag", sf_dir, "documents")
    assert b1 is True
    mark1()
    assert workload._scratch_build(spark, "uritag", sf_dir, "documents")[:2] == (p1, False)
    spark.range(5).write.mode("overwrite").parquet(table)
    p2, b2, _ = workload._scratch_build(spark, "uritag", sf_dir, "documents")
    assert b2 is True and p2 != p1
    assert workload._corpus_fingerprint(spark, sf_dir, "missing_table") == "missing"


def test_scratch_build_failed_build_retries(spark, tmp_path):
    """r14 ADVICE (medium): success is recorded only by the caller's
    mark_built() — a build that RAISES must leave needs_build True for
    the next call in the same process, not silently serve a wiped or
    partially-written scratch path to every later consumer."""
    from evidence_images_etl_airflow_spark import workload

    src = tmp_path / "documents.parquet"
    src.write_bytes(b"corpus-bytes")
    sf_dir = str(tmp_path)

    p1, b1, _mark_never_called = workload._scratch_build(
        spark, "failtag", sf_dir, "documents"
    )
    assert b1 is True
    # simulate a build that wrote partial output then raised:
    # mark_built is never invoked
    os.makedirs(p1, exist_ok=True)
    (tmp_path / "partial").write_bytes(b"")

    p2, b2, mark2 = workload._scratch_build(spark, "failtag", sf_dir, "documents")
    assert (p2, b2) == (p1, True)
    mark2()
    p3, b3, _ = workload._scratch_build(spark, "failtag", sf_dir, "documents")
    assert (p3, b3) == (p1, False)


def test_corpus_fingerprint_canonical_over_layout(spark, tmp_path):
    """r14 ADVICE (low): the directory fingerprint must be canonical —
    independent of listing order — and must distinguish
    same-named files in different subdirs (relative path, not
    basename, keys each part)."""
    from evidence_images_etl_airflow_spark import workload

    d = tmp_path / "documents.parquet"
    (d / "a").mkdir(parents=True)
    (d / "b").mkdir()
    f1, f2 = d / "a" / "part-0", d / "b" / "part-0"
    f1.write_bytes(b"xx")
    f2.write_bytes(b"yy")
    fp = workload._corpus_fingerprint(spark, str(tmp_path), "documents")
    # relative paths present -> same-named files in different subdirs
    # cannot collide
    assert "a/part-0" in fp and "b/part-0" in fp
    # swapping which subdir holds which mtime changes the print even
    # though the bag of (basename, size, mtime) is identical; the
    # Hadoop listing reports mtimes in milliseconds
    t1, t2 = 111_000_000, 222_000_000
    os.utime(f1, ns=(t1, t1))
    os.utime(f2, ns=(t2, t2))
    fp = workload._corpus_fingerprint(spark, str(tmp_path), "documents")
    os.utime(f1, ns=(t2, t2))
    os.utime(f2, ns=(t1, t1))
    fp_swapped = workload._corpus_fingerprint(spark, str(tmp_path), "documents")
    assert fp_swapped != fp
    # sorted parts: the print equals its own canonical re-sort
    assert fp == "|".join(sorted(fp.split("|")))
