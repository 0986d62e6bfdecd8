"""MLlib curation operators: semantic dedup pairs and the model-based
quality classifier, pinned on synthetic separable data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators.ml_curation import (
    kmeans_clusters,
    score_quality,
    semantic_dedup_pairs,
    train_quality_classifier,
)


def _unit(v):
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def test_semantic_dedup_finds_within_cluster_pairs(spark):
    # two tight bundles far apart + one orthogonal outlier
    rows = [
        (1, _unit([1.0, 0.01, 0.0, 0.0])),
        (2, _unit([1.0, 0.02, 0.0, 0.0])),
        (3, _unit([0.0, 0.0, 1.0, 0.01])),
        (4, _unit([0.0, 0.0, 1.0, 0.02])),
        (5, _unit([0.0, 1.0, 0.0, 0.0])),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    pairs = semantic_dedup_pairs(df, "vec_id", "embedding", k=3, threshold=0.95)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2), (3, 4)}
    sims = {r["sim"] for r in pairs.collect()}
    assert all(s >= 0.95 for s in sims)


def test_kmeans_clusters_partition_the_ids(spark):
    rows = [(i, [float(i % 2) * 10, 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    out = kmeans_clusters(df, "vec_id", "embedding", k=2).collect()
    assert len(out) == 20
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], set()).add(r["vec_id"] % 2)
    # the two parities land in different clusters, each pure
    assert sorted(len(v) for v in by_cluster.values()) == [1, 1]


def test_quality_classifier_separates_clean_from_junk(spark):
    clean = "the quick brown fox jumps over the lazy dog near the river bank"
    junk = "zzz $$$ !!! @@@ ### %%% ^^^ &&& *** ((( ))) ___ +++ === ~~~"
    rows = [(i, f"{clean} variant {i}", 1.0) for i in range(30)] + [
        (100 + i, f"{junk} {i}", 0.0) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    model = train_quality_classifier(df, "text", "label", num_features=1 << 12)
    scored = {r["doc_id"]: r for r in score_quality(model, df, "text", "doc_id").collect()}
    assert all(scored[i]["keep"] == 1 for i in range(30))
    assert all(scored[100 + i]["keep"] == 0 for i in range(30))
    assert scored[0]["good_prob"] > 0.5 > scored[100]["good_prob"]
    # held-out shapes score sensibly too
    held = spark.createDataFrame(
        [(1000, f"{clean} unseen"), (1001, f"{junk} unseen")],
        "doc_id long, text string",
    )
    hs = {r["doc_id"]: r["keep"] for r in score_quality(model, held, "text", "doc_id").collect()}
    assert hs[1000] == 1 and hs[1001] == 0


def test_phash_near_pairs_finds_perturbed_copies(spark):
    from evidence_images_etl_airflow_spark.operators.multimodal import (
        attach_binary,
        phash64_bytes,
        phash_near_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 20
    rows = [
        (1, base),
        (2, base[:-1] + "?"),          # one byte changed -> near-dup
        (3, "completely different content with other words " * 18),
        (4, ""),                        # empty payload must not crash
    ]
    df = attach_binary(
        spark.createDataFrame(rows, "doc_id long, text string"), "text", "payload"
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_pairs(df, max_hamming=8, blocks=16).collect()
    }
    assert (1, 2) in pairs
    assert all({a, b} != {1, 3} and {a, b} != {2, 3} for a, b in pairs)
    # determinism + format of the raw hash
    h = phash64_bytes(base.encode())
    assert h == phash64_bytes(base.encode()) and len(h) == 64 and set(h) <= {"0", "1"}
    assert phash64_bytes(b"") == "0" * 64


def test_bigram_lm_ranks_fluent_below_shuffled(spark):
    from evidence_images_etl_airflow_spark.operators.lm import (
        score_bigram_lm,
        train_bigram_lm,
    )

    fluent = "the cat sat on the mat and the dog sat on the rug"
    train_rows = [(i, fluent) for i in range(10)]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    lm, vocab = train_bigram_lm(train, "doc_id", "text")
    score_rows = [
        (100, fluent),                                  # in-distribution
        (101, "mat the on sat cat dog the rug and on"),  # shuffled: unseen bigrams
        (102, "zebra quark flux"),                       # unknown contexts
        (103, "single"),                                 # <2 tokens -> dropped
    ]
    out = {
        r["id"]: r
        for r in score_bigram_lm(
            spark.createDataFrame(score_rows, "doc_id long, text string"),
            lm, vocab, "doc_id", "text",
        ).collect()
    }
    assert 103 not in out and set(out) == {100, 101, 102}
    assert out[100]["ppl"] < out[101]["ppl"]
    assert out[100]["n_bigrams"] == len(fluent.split()) - 1
    assert out[102]["ppl"] > out[100]["ppl"]


def test_pca_moments_and_projection_match_numpy(spark):
    """The distributed moment pass reproduces numpy's mean/cov; the
    JVM-expression projection reproduces numpy's (X-mu)V^T / sqrt(l);
    whitened components have unit population variance."""
    import numpy as np

    from evidence_images_etl_airflow_spark.operators.pca import (
        embedding_moments,
        pca_components,
        project_embeddings,
    )

    rng = np.random.default_rng(3)
    # anisotropic 6-dim data so the spectrum is well-separated
    X = rng.standard_normal((200, 6)) * np.array([5, 3, 2, 1, 0.5, 0.25])
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(4)

    n, mean, cov = embedding_moments(df, "embedding", 6)
    assert n == 200
    np.testing.assert_allclose(mean, X.mean(axis=0), atol=1e-9)
    np.testing.assert_allclose(
        cov, np.cov(X, rowvar=False, bias=True), atol=1e-8
    )

    vals, comps = pca_components(cov, 3)
    ref_vals = np.sort(np.linalg.eigvalsh(cov))[::-1][:3]
    np.testing.assert_allclose(vals, ref_vals, atol=1e-9)
    # orthonormal rows, descending spectrum
    np.testing.assert_allclose(comps @ comps.T, np.eye(3), atol=1e-9)
    assert vals[0] >= vals[1] >= vals[2]

    proj = project_embeddings(
        df, "embedding", mean, comps, eigenvalues=vals
    )
    got = np.array(
        [r.proj for r in proj.orderBy("vec_id").collect()]
    )
    want = (X - X.mean(axis=0)) @ comps.T / np.sqrt(vals + 1e-9)
    np.testing.assert_allclose(got, want, atol=1e-6)
    # whitening: unit population variance per kept axis
    np.testing.assert_allclose(got.var(axis=0), np.ones(3), atol=1e-3)


def test_dsir_scores_target_like_docs_positive(spark, tmp_path):
    """DSIR semantics on a corpus where target/raw distributions are
    fully separable: docs made of target-slice tokens score positive
    (selected), docs made of off-target tokens score negative."""
    from evidence_images_etl_airflow_spark.workload import REGISTRY

    rows = []
    for i in range(20):  # target slice: lang=en, tokens drawn from tgtN
        rows.append((i, " ".join(f"tgt{j}" for j in range(8)), "en", "s1", 40))
    for i in range(20, 40):  # off-target: other lang, disjoint tokens
        rows.append((i, " ".join(f"oth{j}" for j in range(8)), "de", "s2", 40))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    d = f"{tmp_path}/sf"
    df.write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in REGISTRY["curation_dsir_selection"].fn(spark, d).collect()}
    assert len(out) == 40
    assert all(out[i].dsir_score > 0 and out[i].selected for i in range(20))
    assert all(out[i].dsir_score < 0 and not out[i].selected for i in range(20, 40))


def test_calibration_curve_hand_case(spark):
    """r12: two populated bins; exact decimal sums make avg_score a
    clean 6dp value; ECE = (2*0.05 + 4*0.2125)/6 = 0.158333."""
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        calibration_curve,
    )

    rows = [
        (0.05, 0), (0.05, 0),
        (0.95, 1), (0.95, 1), (0.95, 0), (1.0, 1),
    ]
    df = spark.createDataFrame(rows, "score double, y int")
    out = calibration_curve(df, "score", "y", bins=10).collect()
    assert [(r.bin, r.n, r.n_pos) for r in out] == [(0, 2, 0), (9, 4, 3)]
    b0, b9 = out
    assert (b0.avg_score, b0.pos_rate, b0.gap) == (0.05, 0.0, 0.05)
    assert (b9.avg_score, b9.pos_rate, b9.gap) == (0.9625, 0.75, 0.2125)
    assert b0.ece == b9.ece == 0.158333


def test_calibration_curve_clamps_and_validates(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        calibration_curve,
    )

    df = spark.createDataFrame(
        [(-0.2, 0), (1.3, 1)], "score double, y int"
    )
    out = calibration_curve(df, "score", "y", bins=10).collect()
    assert [r.bin for r in out] == [0, 9]
    with pytest.raises(ValueError, match="bins"):
        calibration_curve(df, "score", "y", bins=1)


def test_roc_auc_hand_case_with_ties(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import roc_auc

    # P=3 pos {0.9, 0.8, 0.5}, N=4 neg {0.5, 0.3, 0.1, 0.1}:
    # U = 4 + 4 + (3 + 0.5 tie) = 11.5 -> AUC = 11.5/12, Gini = 11/12
    rows = [
        (0.9, 1), (0.8, 1), (0.5, 1),
        (0.5, 0), (0.3, 0), (0.1, 0), (0.1, 0),
    ]
    df = spark.createDataFrame(rows, "score double, y int")
    r = roc_auc(df, "score", "y").collect()[0]
    assert (r["n"], r["n_pos"], r["n_neg"], r["n_scores"]) == (7, 3, 4, 5)
    assert r["auc"] == round(11.5 / 12, 6)
    assert r["gini_rank"] == round(11 / 12, 6)


def test_roc_auc_single_class_is_null_and_perfect_ranking_is_one(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import roc_auc

    one_class = spark.createDataFrame(
        [(0.9, 1), (0.1, 1)], "score double, y int"
    )
    r = roc_auc(one_class, "score", "y").collect()[0]
    assert r["auc"] is None and r["gini_rank"] is None

    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "score double, y int"
    )
    p = roc_auc(perfect, "score", "y").collect()[0]
    assert p["auc"] == 1.0 and p["gini_rank"] == 1.0


def test_agreement_metrics_textbook_kappa(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        agreement_metrics,
    )

    # Classic 2x2: a=20 both-pos, b=5 A-only, c=10 B-only, d=15 both-neg
    # po = 35/50 = 0.7; pe = (25/50)(30/50) + (25/50)(20/50) = 0.5
    # kappa = (0.7-0.5)/(1-0.5) = 2(ad-bc)/((a+b)(b+d)+(a+c)(c+d))
    #       = 2*250/(25*20 + 30*25) = 500/1250 = 0.4
    rows = (
        [(1, 1)] * 20 + [(1, 0)] * 5 + [(0, 1)] * 10 + [(0, 0)] * 15
    )
    df = spark.createDataFrame(rows, "ra int, rb int")
    r = agreement_metrics(df, "ra", "rb").collect()[0]
    assert (r["n"], r["both_pos"], r["a_only"], r["b_only"], r["both_neg"]) \
        == (50, 20, 5, 10, 15)
    assert r["accuracy"] == 0.7
    assert r["kappa"] == 0.4
    mcc = (20 * 15 - 5 * 10) / (25 * 30 * 20 * 25) ** 0.5
    assert r["mcc"] == round(mcc, 6)


def test_agreement_metrics_degenerate_raters_are_null(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        agreement_metrics,
    )

    # both raters constant-positive: accuracy 1, kappa/mcc undefined
    df = spark.createDataFrame([(1, 1)] * 4, "ra int, rb int")
    r = agreement_metrics(df, "ra", "rb").collect()[0]
    assert r["accuracy"] == 1.0
    assert r["kappa"] is None and r["mcc"] is None


def test_pr_threshold_sweep_hand_case(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        pr_threshold_sweep,
    )

    # scores/labels chosen so each cell is checkable at thr=0.5:
    # kept: (0.9,1),(0.7,0),(0.5,1) -> tp=2 fp=1; dropped: (0.3,1),(0.1,0)
    rows = [(0.9, 1), (0.7, 0), (0.5, 1), (0.3, 1), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = {
        r["threshold"]: r
        for r in pr_threshold_sweep(df, "score", "y").collect()
    }
    assert len(out) == 10
    r5 = out[0.5]
    assert (r5["tp"], r5["fp"], r5["fn"], r5["tn"]) == (2, 1, 1, 1)
    assert r5["precision"] == round(2 / 3, 6)
    assert r5["recall"] == round(2 / 3, 6)
    assert r5["f1"] == round(4 / 6, 6)
    # thr=0.0 keeps everything: recall 1, tn 0
    r0 = out[0.0]
    assert (r0["tp"], r0["fp"], r0["fn"], r0["tn"]) == (3, 2, 0, 0)
    assert r0["recall"] == 1.0


def test_pr_threshold_sweep_validates_grid(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        pr_threshold_sweep,
    )

    df = spark.createDataFrame([(0.5, 1)], "score double, y int")
    with pytest.raises(ValueError):
        pr_threshold_sweep(df, "score", "y", thresholds=[])


def test_pr_threshold_sweep_dedupes_duplicate_thresholds(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        pr_threshold_sweep,
    )

    # A duplicated grid value must yield ONE row with single-counted
    # cells, not a collapsed group that double-counts every block.
    rows = [(0.9, 1), (0.7, 0), (0.3, 1)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = pr_threshold_sweep(
        df, "score", "y", thresholds=[0.5, 0.5, 0.5]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (1, 1, 1, 0)


def test_agreement_metrics_mcc_factored_matches_textbook(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        agreement_metrics,
    )

    # Regression for the factored denominator (det/sqrt(ab)/sqrt(cd)
    # instead of det/sqrt(abcd) — the four-marginal DECIMAL(38,0)
    # product overflows to NULL once n exceeds ~3e9 under non-ANSI
    # Spark, while each two-factor product is bounded by n²): the
    # factored form must still equal the textbook MCC.
    a, b, c, d = 20, 5, 10, 15
    rows = [(1, 1)] * a + [(1, 0)] * b + [(0, 1)] * c + [(0, 0)] * d
    df = spark.createDataFrame(rows, "ra int, rb int")
    r = agreement_metrics(df, "ra", "rb").collect()[0]
    det = a * d - b * c
    factored = det / ((a + b) * (a + c)) ** 0.5 / ((d + b) * (d + c)) ** 0.5
    assert r["mcc"] == round(factored, 6)


def test_source_score_alignment_hand_case(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        source_score_alignment,
    )

    # src A: scores {0.2, 0.4}; src B: {0.6, 0.8}. N=4, no ties.
    # midranks: 0.2->1, 0.4->2, 0.6->3, 0.8->4.
    # mean pctile A = (1+2)/(2*4) = 0.375; B = (3+4)/8 = 0.875.
    # lower median value = score at position (4+1)//2 = 2 -> 0.4;
    # above-median: A has 0, B has 2.
    rows = [("A", 0.2), ("A", 0.4), ("B", 0.6), ("B", 0.8)]
    df = spark.createDataFrame(rows, "source string, score double")
    out = {
        r["source"]: r
        for r in source_score_alignment(df, "source", "score").collect()
    }
    assert out["A"]["n_docs"] == 2 and out["B"]["n_docs"] == 2
    assert out["A"]["mean_pctile"] == 0.375
    assert out["B"]["mean_pctile"] == 0.875
    assert out["A"]["n_above_median"] == 0
    assert out["B"]["n_above_median"] == 2
    assert out["B"]["share_above_median"] == 1.0


def test_source_score_alignment_ignores_null_scores(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        source_score_alignment,
    )

    # NULL scores are dropped up front (Spark orders NULLs first,
    # DuckDB last — unrankable rows must not shift ccb or the median).
    # With the NULLs removed this is exactly the hand case above.
    rows = [
        ("A", 0.2), ("A", 0.4), ("A", None),
        ("B", 0.6), ("B", 0.8), ("B", None),
    ]
    df = spark.createDataFrame(rows, "source string, score double")
    out = {
        r["source"]: r
        for r in source_score_alignment(df, "source", "score").collect()
    }
    assert out["A"]["n_docs"] == 2 and out["B"]["n_docs"] == 2
    assert out["A"]["mean_pctile"] == 0.375
    assert out["B"]["mean_pctile"] == 0.875
    assert out["B"]["n_above_median"] == 2


def test_source_score_alignment_ties_use_midranks(spark):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        source_score_alignment,
    )

    # all four docs share one score: every midrank is (0 + 4+1)/2=2.5
    # -> mean pctile 2.5/4 = 0.625 for both sources; nothing is
    # STRICTLY above the median value.
    rows = [("A", 0.5), ("A", 0.5), ("B", 0.5), ("B", 0.5)]
    df = spark.createDataFrame(rows, "source string, score double")
    out = source_score_alignment(df, "source", "score").collect()
    for r in out:
        assert r["mean_pctile"] == 0.625
        assert r["n_above_median"] == 0


def test_materialize_score_table_roundtrip_and_idempotent(spark, tmp_path):
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        materialize_score_table,
    )

    rows = [(1, "a", "x y z"), (2, "b", "p q"), (3, "a", "")]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    path = str(tmp_path / "scored")
    score = F.round(F.length("text") / 10.0, 6)
    materialize_score_table(df, score, path, carry_cols=["doc_id", "source"])
    got = {r["doc_id"]: r for r in spark.read.parquet(path).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["score"] == 0.5 and got[1]["source"] == "a"
    assert got[3]["score"] == 0.0
    # overwrite mode: a rebuild replaces, never duplicates
    materialize_score_table(df, score, path, carry_cols=["doc_id", "source"])
    assert spark.read.parquet(path).count() == 3


def test_versioned_score_table_fingerprint_lifecycle(spark, tmp_path):
    """The shared-catalog curated build (r14 verdict design note):
    publish pairs (data version, source fingerprint) through the
    atomic versioned sink; readers get the table only for a matching
    fingerprint, a stale fingerprint forces a re-publish to a NEW
    version (old version still time-travel-readable), and a crash
    between the data and meta publishes never serves the orphan."""
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        current_score_table_versioned,
        publish_score_table_versioned,
    )
    from evidence_images_etl_airflow_spark.sinks import versioned

    table = str(tmp_path / "scores")
    score = F.round(F.length("text") / 10.0, 6)
    df1 = spark.createDataFrame(
        [(1, "x y z"), (2, "p q")], "doc_id bigint, text string"
    )

    # cold catalog: nothing to serve
    assert current_score_table_versioned(spark, table, "fp-v1") is None
    v1 = publish_score_table_versioned(
        spark, df1, score, table, "fp-v1", carry_cols=["doc_id"]
    )
    assert v1 == 1
    got = current_score_table_versioned(spark, table, "fp-v1")
    assert {r["doc_id"]: r["score"] for r in got.collect()} == {1: 0.5, 2: 0.3}
    # matching fingerprint: served, no rebuild signal
    assert current_score_table_versioned(spark, table, "fp-v1") is not None
    # corpus changed: stale fingerprint refuses to serve
    assert current_score_table_versioned(spark, table, "fp-v2") is None

    df2 = df1.withColumn("text", F.concat("text", F.lit(" more")))
    v2 = publish_score_table_versioned(
        spark, df2, score, table, "fp-v2", carry_cols=["doc_id"]
    )
    assert v2 == 2
    assert current_score_table_versioned(spark, table, "fp-v2") is not None
    # old version stays time-travel-readable
    assert versioned.read_version(spark, table, 1).count() == 2

    # crash injection: data version 3 lands but the meta publish never
    # happens — readers keep the consistent (2, fp-v2) pair and the
    # orphan is never served under any fingerprint
    versioned.publish(
        spark, df2.select("doc_id", score.alias("score")), table
    )
    assert current_score_table_versioned(spark, table, "fp-v2").count() == 2
    assert current_score_table_versioned(spark, table, "fp-v3") is None


def test_update_score_table_appends_only_new_ids(spark, tmp_path):
    """VERDICT r14 item 3: the incremental ingest must (a) score and
    append ONLY ids absent from the table, (b) leave existing rows
    byte-identical (never re-scored), and (c) be idempotent — a
    retried batch appends nothing."""
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        materialize_score_table,
        update_score_table,
    )

    path = str(tmp_path / "scored")
    score = F.round(F.length("text") / 10.0, 6)
    hist = spark.createDataFrame(
        [(1, 0, "x y z"), (2, 0, "p q")],
        "doc_id bigint, batch int, text string",
    )
    materialize_score_table(hist, score, path, carry_cols=["doc_id", "batch"])

    # the re-crawl overlaps history (ids 1,2) and adds 3,4 — all rows
    # tagged batch=1, so a re-scoring implementation would tag 1,2
    # with batch=1 too
    crawl = spark.createDataFrame(
        [(1, 1, "x y z CHANGED"), (2, 1, "p q"), (3, 1, "new doc"),
         (4, 1, "")],
        "doc_id bigint, batch int, text string",
    )
    update_score_table(crawl, score, path, "doc_id",
                       carry_cols=["doc_id", "batch"])
    got = {r["doc_id"]: r for r in spark.read.parquet(path).collect()}
    assert set(got) == {1, 2, 3, 4}
    # old rows kept their original batch tag AND original score — the
    # overlapping row's changed text was never scored
    assert got[1]["batch"] == 0 and got[1]["score"] == 0.5
    assert got[2]["batch"] == 0
    assert got[3]["batch"] == 1 and got[3]["score"] == 0.7
    assert got[4]["score"] == 0.0
    # idempotent: the same batch again appends zero rows
    update_score_table(crawl, score, path, "doc_id",
                       carry_cols=["doc_id", "batch"])
    assert spark.read.parquet(path).count() == 4


def test_update_score_table_replay_leaves_listing_unchanged(spark, tmp_path):
    """A replayed batch scores nothing and adds no file: the append is
    staged and counted on its own write, and a 0-row staging is dropped
    instead of landing as an empty parquet file."""
    import os

    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        materialize_score_table,
        update_score_table,
    )

    path = str(tmp_path / "scored")
    score = F.length("text").cast("double")
    docs = spark.createDataFrame([(1, "ab"), (2, "c")], "doc_id bigint, text string")
    materialize_score_table(docs, score, path, carry_cols=["doc_id"])
    listing = sorted(os.listdir(path))
    for _ in range(2):
        update_score_table(docs, score, path, "doc_id", carry_cols=["doc_id"])
        assert sorted(os.listdir(path)) == listing
    assert sorted(os.listdir(tmp_path)) == ["scored"]
    assert spark.read.parquet(path).count() == 2


def test_incremental_score_query_matches_full_rebuild(spark):
    """The differential claim curation_score_table_incremental makes:
    bootstrap(history) + update(re-crawl) == inline scoring of the
    whole corpus, with ingest_batch proving which path scored each
    row."""
    from evidence_images_etl_airflow_spark.workload import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = REGISTRY["curation_score_table_incremental"].fn(spark, sf)
    rows = got.collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n = docs.count()
    assert len(rows) == n
    from evidence_images_etl_airflow_spark.functions.text import (
        quality_score,
    )

    inline = {
        r["doc_id"]: r["score"]
        for r in docs.select(
            "doc_id", quality_score(F.col("text")).alias("score")
        ).collect()
    }
    for r in rows:
        assert r["score"] == inline[r["doc_id"]]
        assert r["ingest_batch"] == (1 if r["doc_id"] % 5 == 0 else 0)


def test_roc_auc_precomputed_matches_inline(spark):
    """The differential claim the registered query makes: AUC over the
    materialized score column == AUC over the inline-scored frame."""
    from evidence_images_etl_airflow_spark.workload import REGISTRY

    sf = "/root/testdata/sf0.001"
    pre = REGISTRY["ml_roc_auc_precomputed"].fn(spark, sf).collect()
    inline = REGISTRY["ml_roc_auc"].fn(spark, sf).collect()
    assert [tuple(r) for r in pre] == [tuple(r) for r in inline]


def test_one_curated_table_serves_all_five_metrics(spark, tmp_path):
    """The amortization claim behind materialize_score_table, as an
    executable proof: ONE curated (doc_id, source, n_chars, score)
    table feeds all five scoring metrics — ROC AUC, calibration,
    kappa/MCC, PR sweep, score alignment — each matching its inline
    registered twin exactly. One scoring pass instead of five is the
    whole point of the curated layer at 100 TB."""
    from evidence_images_etl_airflow_spark.functions.text import (
        quality_score,
    )
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        agreement_metrics,
        calibration_curve,
        materialize_score_table,
        pr_threshold_sweep,
        roc_auc,
        source_score_alignment,
    )
    from evidence_images_etl_airflow_spark.workload import REGISTRY

    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    path = str(tmp_path / "curated")
    materialize_score_table(
        d.withColumn("n_chars", F.length("text")),
        quality_score(F.col("text")),
        path,
        carry_cols=["doc_id", "source", "n_chars"],
    )
    st = spark.read.parquet(path)
    y = (F.col("n_chars") >= 256).cast("int").alias("y")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    pairs = [
        (
            roc_auc(st.select("score", y), "score", "y", resolution=6),
            "ml_roc_auc",
        ),
        (
            calibration_curve(st.select("score", y), "score", "y", bins=10),
            "ml_calibration_curve",
        ),
        (
            agreement_metrics(
                st.select(
                    (F.col("score") >= 0.67).cast("int").alias("ra"),
                    (F.col("n_chars") >= 256).cast("int").alias("rb"),
                ),
                "ra",
                "rb",
            ),
            "ml_agreement_kappa",
        ),
        (
            pr_threshold_sweep(st.select("score", y), "score", "y"),
            "ml_pr_threshold_sweep",
        ),
        (
            source_score_alignment(
                st.select("source", "score"), "source", "score"
            ),
            "curation_score_alignment",
        ),
    ]
    for curated_df, inline_name in pairs:
        assert rows(curated_df) == rows(
            REGISTRY[inline_name].fn(spark, sf)
        ), f"curated != inline for {inline_name}"


def test_metric_operators_exclude_null_scores_and_labels(spark):
    """r13 latent-defect pass (the score_alignment advice generalized):
    rows with NULL score or NULL label/rater are EXCLUDED from every
    metric, not half-counted — before the fix a NULL score landed in
    calibration's TOP bin (Spark least/greatest skip NULLs), shifted
    roc_auc's cneg prefix cross-engine, fell out of all four PR cells
    while still shrinking precision's denominator upstream, and broke
    agreement's cells-sum-to-n invariant."""
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        agreement_metrics,
        calibration_curve,
        pr_threshold_sweep,
        roc_auc,
    )

    clean = [(0.9, 1), (0.7, 0), (0.3, 1), (0.1, 0)]
    dirty = clean + [(None, 1), (0.5, None), (None, None)]
    cdf = spark.createDataFrame(clean, "score double, y int")
    ddf = spark.createDataFrame(dirty, "score double, y int")

    for op, kwargs in [
        (roc_auc, {}),
        (calibration_curve, {"bins": 10}),
        (pr_threshold_sweep, {}),
    ]:
        got_c = sorted(tuple(r) for r in op(cdf, "score", "y", **kwargs).collect())
        got_d = sorted(tuple(r) for r in op(ddf, "score", "y", **kwargs).collect())
        assert got_c == got_d, op.__name__

    # agreement: cells must sum to n with NULL raters present
    rows = [(1, 1), (1, 0), (0, 1), (0, 0), (None, 1), (1, None)]
    r = agreement_metrics(
        spark.createDataFrame(rows, "ra int, rb int"), "ra", "rb"
    ).collect()[0]
    assert r["n"] == 4
    assert (
        r["both_pos"] + r["a_only"] + r["b_only"] + r["both_neg"] == r["n"]
    )
