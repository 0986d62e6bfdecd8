"""EP1/EP2 end-to-end plan tests (SURVEY.md §3) on the FIXTURES.md
frames — the reference-semantics golden outputs."""

import datetime as dt

from evidence_images_etl_airflow_spark.plans.evidence_pipeline import (
    transform_evidence_images,
    transform_sessions,
)
from evidence_images_etl_airflow_spark.plans.image_urls import image_urls


def test_transform_evidence_images_golden(irmq_raw):
    out = transform_evidence_images(irmq_raw)
    rows = {(r.sessionuid, r.sceneuid, r.subscenetype): r for r in out.collect()}
    # empty-URL row (s2,c3) filtered; duplicate PK row still present
    # (dedup happens at the sink, J2)
    assert len(rows) == 5
    multi = rows[("s1", "c2", "Main")]
    assert multi.formattedevidenceimagename == ["a.jpg", "b.jpg", "c.jpg"]
    assert multi.formattedevidenceimageurl == [
        "http://img/a.jpg", "http://img/b.jpg", "http://img/c.jpg",
    ]
    assert multi.reexportstatus == 0 and multi.reprocessedstatus == 1  # T1
    single = rows[("s1", "c1", "Main")]
    assert single.formattedevidenceimagename == ["a.jpg"]
    numeric = rows[("s3", "c5", "Front")]
    assert numeric.reexportstatus == 1 and numeric.reprocessedstatus == 0


def test_transform_sessions_interval(irsession_raw):
    out = transform_sessions(irsession_raw)
    rows = {r.sessionuid: r for r in out.collect()}
    assert rows["s1"].session_length == dt.timedelta(hours=1)  # T8 TODO implemented
    assert rows["s1"].client_code == "CLI1"
    assert len(out.columns) == 24


def test_image_urls_view(irmq_raw, irsession_raw):
    ev = transform_evidence_images(irmq_raw)
    ss = transform_sessions(irsession_raw)
    out = image_urls(ev, ss)
    rows = out.collect()
    # only sessions s1 (Complete) and s3 (Complete) survive P3;
    # s1 has 3 evidence rows (incl. dup PK), s3 has 1
    assert len(rows) == 4
    by_scene = {(r.sessionuid, r.sceneuid, r.subscenetype): r for r in rows}
    r = by_scene[("s1", "c2", "Main")]
    assert r.session_date == dt.date(2023, 8, 16)
    assert r.first_image_name == "a.jpg"  # element_at 1-indexed
    assert r.first_image_url == "http://img/a.jpg"
    # midnight-spanning session keeps its start date
    assert by_scene[("s3", "c5", "Front")].session_date == dt.date(2023, 8, 16)


def test_transform_missing_keep_column_fails_at_build(irmq_raw, irsession_raw):
    import pytest

    with pytest.raises(ValueError, match="EvidenceImageName"):
        transform_evidence_images(irmq_raw.drop("EvidenceImageName"))
    with pytest.raises(ValueError, match="outletcode"):
        transform_sessions(irsession_raw.drop("outletcode"))


# Spark jobs of the second EP1 batch below: 2 mergeSchema scans; for the
# append, 1 target schema inference, the batch dedup's exchange, the
# existing keys' broadcast and the write; for the MERGE, 1 inference,
# the source dedup's exchange, the source keys' exchange and broadcast,
# and the write. A change here is a plan change: look at what the batch
# runs before moving the pin.
EP1_SECOND_BATCH_JOBS = 11


def test_ep1_batch_job_count(spark, tmp_path, jobs_in_group, irmq_raw, irsession_raw):
    """Two EP1 batches of the FIXTURES frames (scan -> transforms ->
    conflict-skip append -> dedup -> MERGE) into empty targets; the
    second batch re-delivers the first and adds session s3, and its job
    count is pinned."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.operators.upsert import dedup_first_wins
    from evidence_images_etl_airflow_spark.schemas import EVIDENCE_IMAGES_PK
    from evidence_images_etl_airflow_spark.sinks.writers import (
        idempotent_append_parquet,
        merge_into_parquet,
    )
    from evidence_images_etl_airflow_spark.sources.parquet_source import (
        SourceConfig,
        scan_sources,
    )

    ev_path, sess_path = str(tmp_path / "evidence_images"), str(tmp_path / "sessions")
    for b, sessions in enumerate((["s1", "s2"], ["s1", "s2", "s3"])):
        irmq_raw.filter(F.col("SessionUID").isin(sessions)).write.parquet(
            f"{tmp_path}/in/b{b}/IRMQ"
        )
        irsession_raw.filter(F.col("Sessionuid").isin(sessions)).write.parquet(
            f"{tmp_path}/in/b{b}/IRSession"
        )
    appended = []

    def batch(b: int) -> None:
        irmq = scan_sources(spark, [SourceConfig(f"{tmp_path}/in/b{b}/IRMQ")])
        sess = scan_sources(spark, [SourceConfig(f"{tmp_path}/in/b{b}/IRSession")])
        ev = transform_evidence_images(irmq)
        se = dedup_first_wins(transform_sessions(sess), ["sessionuid"])
        appended.append(idempotent_append_parquet(spark, ev, ev_path, EVIDENCE_IMAGES_PK))
        merge_into_parquet(spark, se, sess_path, ["sessionuid"])

    batch(0)
    started, grouped = jobs_in_group("ep1_batch", lambda: batch(1))
    assert appended == [3, 1]  # (s1,c1) (s1,c2) (s2,c4), then (s3,c5)
    assert spark.read.parquet(sess_path).count() == 3
    assert started == grouped
    assert len(started) == EP1_SECOND_BATCH_JOBS


def test_verify_first_rotation_is_well_formed():
    """The correctness-sweep emission order: every listed name exists,
    no duplicates, and the driver's 50-row window is spent on queries,
    not typos."""
    from evidence_images_etl_airflow_spark import workload

    names = workload._VERIFY_FIRST
    assert len(names) == len(set(names)), "duplicate in _VERIFY_FIRST"
    missing = [n for n in names if n not in workload.REGISTRY]
    assert not missing, f"unknown queries in _VERIFY_FIRST: {missing}"
    ordered = list(workload.queries())
    assert ordered[: len(names)] == [n for n in names if n in workload.REGISTRY]


def test_headline_queries_have_green_correctness_rows():
    """Bench-hygiene rule (VERDICT r06 item 8): a query enters the
    headline bench set only AFTER a committed CORRECTNESS_r*.json
    records it green — a never-executed operator registered
    headline=True crashed the entire BENCH_r06 sweep. New operators
    ship headline=False, earn a green row, then get promoted."""
    import glob
    import json
    import pathlib

    from evidence_images_etl_airflow_spark import workload

    repo = pathlib.Path(__file__).resolve().parents[1]
    green: set[str] = set()
    for path in glob.glob(str(repo / "CORRECTNESS_r*.json")):
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if (
                row.get("err") is None
                and row.get("rows_match") is not False
                and row.get("hash_match") is not False
                and row.get("schema_match") is not False
            ):
                green.add(name)
    assert green, "no committed CORRECTNESS files found"
    unproven = [
        n for n, q in workload.REGISTRY.items() if q.headline and n not in green
    ]
    assert not unproven, (
        f"headline queries without a committed green CORRECTNESS row: {unproven}"
    )


def test_bench_calibrate_noisy_host_guard():
    """bench.py's noisy-host guard (VERDICT r08 item 3): an in-band
    first calibration is used as-is; an out-of-band one triggers
    exactly one sleep-and-retry, and BOTH samples are reported so the
    BENCH artifact is self-certifying (the official r08 artifact, cal
    2.342, was unreadable without out-of-band quiet reruns)."""
    import bench

    # in-band first sample: no sleep, single sample
    slept = []
    cal, samples = bench._calibrate(
        cal_fn=iter([0.70]).__next__, sleep_fn=slept.append
    )
    assert cal == 0.70 and samples == [0.70] and slept == []

    # FAST host (below the band's lower edge): an idler machine, not
    # noise — no retry, no flag (slow-side-only check, r09 review)
    slept = []
    cal, samples = bench._calibrate(
        cal_fn=iter([0.55]).__next__, sleep_fn=slept.append
    )
    assert cal == 0.55 and samples == [0.55] and slept == []
    assert cal <= bench.CAL_BAND[1]

    # out-of-band first sample that clears after the wait
    slept = []
    cal, samples = bench._calibrate(
        cal_fn=iter([2.342, 0.69]).__next__, sleep_fn=slept.append
    )
    assert cal == 0.69 and samples == [2.342, 0.69] and slept == [45.0]

    # genuinely degraded host: retry once, keep the second sample, and
    # the artifact shows both (caller emits host_cal_in_band=False)
    cal, samples = bench._calibrate(
        cal_fn=iter([2.3, 2.4]).__next__, sleep_fn=lambda _t: None
    )
    assert cal == 2.4 and samples == [2.3, 2.4]
    assert not (bench.CAL_BAND[0] <= cal <= bench.CAL_BAND[1])


def test_precomputed_twins_share_incumbent_oracles_verbatim():
    """The curated-layer differential-proof pattern (r13 verdict item
    4): each precomputed twin must share its inline incumbent's oracle
    STRING verbatim — a reworded oracle would silently weaken the
    score-then-store == score-inline differential into two unrelated
    checks."""
    from evidence_images_etl_airflow_spark import workload

    twins = {
        "ml_roc_auc_precomputed": "ml_roc_auc",
        "ml_calibration_precomputed": "ml_calibration_curve",
        "ml_kappa_precomputed": "ml_agreement_kappa",
        "ml_pr_sweep_precomputed": "ml_pr_threshold_sweep",
        "curation_alignment_precomputed": "curation_score_alignment",
        "ep3_pipeline_curated": "ep3_training_data_pipeline",
        "data_token_budget_mixture_precomputed": "data_token_budget_mixture",
        "streaming_score_ingest": "curation_score_table_incremental",
    }
    for twin, incumbent in twins.items():
        assert (
            workload.REGISTRY[twin].oracle
            == workload.REGISTRY[incumbent].oracle
        ), f"{twin} oracle diverged from {incumbent}"


def test_ep6_crawl_refresh_gate_scoring_and_mixture(spark, tmp_path):
    """EP6 composition on a planted corpus: the band-store gate drops
    the new-batch doc that duplicates history (all bands collide); the
    novel doc is admitted and scored INCREMENTALLY (ingest_batch=1,
    history rows keep their batch-0 tag — never re-scored); with every
    text shaped to the same quality score, PSI is exactly 0 and the
    gate admits; the waterfill then plans over history + survivor."""
    from evidence_images_etl_airflow_spark.workload import (
        REGISTRY,
        _ep6_refreshed_score_table,
    )

    # every doc: 30 distinct 4-char tokens -> identical length,
    # distinct-ratio, and alnum-ratio -> identical quality score
    def text(prefix):
        return " ".join(f"{prefix}{j:02d}x" for j in range(30))

    rows = [
        (1, text("a"), "en", "sA", 1),   # history (ids % 5 != 0)
        (2, text("b"), "en", "sA", 1),
        (3, text("c"), "en", "sB", 1),
        (4, text("d"), "en", "sB", 1),
        (5, text("a"), "en", "sA", 1),   # new batch: duplicates doc 1
        (10, text("z"), "en", "sB", 1),  # new batch: novel
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    d = f"{tmp_path}/sf"
    df.write.parquet(f"{d}/documents.parquet")

    st = {r.doc_id: r for r in _ep6_refreshed_score_table(spark, d).collect()}
    # dup 5 dropped by the band gate; novel 10 admitted; history intact
    assert sorted(st) == [1, 2, 3, 4, 10]
    assert [st[i].ingest_batch for i in (1, 2, 3, 4)] == [0, 0, 0, 0]
    assert st[10].ingest_batch == 1
    assert all(st[i].token_count == 30 for i in st)
    assert len({st[i].score for i in st}) == 1  # identical by design

    out = REGISTRY["ep6_crawl_refresh_pipeline"].fn(spark, d).collect()
    by_src = {r.source: r for r in out}
    assert sorted(by_src) == ["sA", "sB"]
    r0 = out[0]
    assert (r0.n_new_seen, r0.n_new_admitted) == (2, 1)
    assert r0.batch_psi == 0.0 and r0.admitted  # identical scores -> PSI 0
    # mixture planned over history + survivor: sA=60, sB=90 tokens
    assert by_src["sA"].available_tokens == 60
    assert by_src["sB"].available_tokens == 90
    budget = int(0.6 * 150)
    total_alloc = sum(r.allocated_tokens for r in out)
    assert 0 < total_alloc <= budget
    assert all(not r.capped and r.epochs <= 2.0 for r in out)
    assert by_src["sA"].allocated_tokens < by_src["sB"].allocated_tokens


def test_ep6_fully_duplicate_batch_admits_vacuously(spark, tmp_path):
    """A re-crawl whose EVERY doc is a near-dup of history (the
    sf100x_de regime that crashed the pre-fix PSI under ANSI division)
    admits vacuously: zero admitted docs, batch_psi NULL (no
    distribution to test — not _psi_tail's all-eps maximal-drift
    floor), and the mixture plans over history alone."""
    from evidence_images_etl_airflow_spark.workload import REGISTRY

    def text(prefix):
        return " ".join(f"{prefix}{j:02d}x" for j in range(30))

    rows = [
        (1, text("a"), "en", "sA", 1),   # history
        (2, text("b"), "en", "sB", 1),
        (5, text("a"), "en", "sA", 1),   # new batch: duplicates doc 1
        (10, text("b"), "en", "sB", 1),  # new batch: duplicates doc 2
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    d = f"{tmp_path}/sf"
    df.write.parquet(f"{d}/documents.parquet")

    out = REGISTRY["ep6_crawl_refresh_pipeline"].fn(spark, d).collect()
    r0 = out[0]
    assert (r0.n_new_seen, r0.n_new_admitted) == (2, 0)
    assert r0.batch_psi is None and r0.admitted
    assert {r.source: r.available_tokens for r in out} == {"sA": 30, "sB": 30}
