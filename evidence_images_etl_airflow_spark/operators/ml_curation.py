"""MLlib-backed curation operators (SURVEY.md §7 M7 extension):
model-based quality filtering and semantic (embedding-space) dedup.

Two standard LLM-pretraining curation steps the heuristic operators
can't cover:

- **Model-based quality classifier** (the fastText/DSIR-style filter):
  train a sparse text classifier on weak labels (a trusted "good"
  subset vs the rest), then score the whole corpus and keep the
  high-probability tail. HashingTF -> IDF -> LogisticRegression, all
  MLlib estimators: TF/IDF are single-pass distributed aggregates and
  LR trains via L-BFGS with treeAggregate gradients — the driver holds
  one dense coefficient vector (vocab-hash dim), never data. Scoring
  is a broadcast of that vector, embarrassingly parallel.
- **Semantic dedup** (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
  k-means the embedding space, then look for near-duplicate pairs ONLY
  within a cluster. KMeans|| init + Lloyd iterations are all
  map-side-combinable distributed aggregates; the within-cluster pair
  join is the same blocked-quadratic shape as the LSH buckets in
  operators/dedup.py — with k scaled ~N/const the per-cluster work
  stays bounded, which is what makes the all-pairs problem tractable
  at 100 TB (SemDeDup's own recipe).

Training is iterative and model state is floating-point, so these are
rows-only queries in the registry (no SQL oracle can express L-BFGS);
the unit tests pin behavior on synthetic separable data instead.
Seeds are fixed everywhere -> runs are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.functions.text import tokens
from evidence_images_etl_airflow_spark.functions.transforms import lit_rows
from evidence_images_etl_airflow_spark.functions.vectors import cosine


def kmeans_clusters(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    seed: int = 42,
    max_iter: int = 20,
) -> DataFrame:
    """Assign each embedding to one of ``k`` k-means clusters ->
    (id, cluster). The clustering backbone for semantic dedup and
    IVF-style partitioning; distributed KMeans|| — no driver-side data
    beyond the k centroid vectors."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__features"),
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="__features"
    ).fit(feats)
    return model.transform(feats).select(
        id_col, vec_col, F.col("prediction").alias("cluster")
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    threshold: float,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup: (id_a, id_b, sim) pairs with cosine >= ``threshold``,
    searched ONLY within a k-means cluster. Choose k ~ N/target so a
    cluster holds a bounded number of rows: the pair join is then an
    equi-join on the cluster id with per-cluster quadratic cost — the
    same bounded-block pattern as the LSH/pigeonhole dedup operators,
    never a global cross join. Misses cross-cluster near-dups at the
    cluster boundary (SemDeDup's documented recall trade; raise k
    slowly or overlap clusters to tighten it). The cosine itself is the
    deterministic zip_with/aggregate fold from functions/vectors."""
    clustered = kmeans_clusters(embeddings, id_col, vec_col, k, seed=seed)
    a = clustered.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
    )
    b = clustered.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(cosine("__va", "__vb"), 6))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def train_quality_classifier(
    docs: DataFrame,
    text_col: str,
    label_col: str,
    num_features: int = 1 << 18,
    seed: int = 42,
):
    """Fit the model-based quality filter: tokens -> HashingTF ->
    IDF -> LogisticRegression on a weakly-labeled frame (label 1 =
    trusted "good" text). Returns the fitted PipelineModel. The feature
    space is a fixed-size hash (no vocab to collect); at corpus scale
    train on a SAMPLE (the classifier needs ~1e5-1e6 labeled rows, not
    the corpus) and score everything."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import HashingTF, IDF

    tokened = docs.withColumn("__tokens", tokens(F.col(text_col)))
    pipeline = Pipeline(
        stages=[
            HashingTF(
                inputCol="__tokens", outputCol="__tf", numFeatures=num_features
            ),
            IDF(inputCol="__tf", outputCol="__features"),
            LogisticRegression(
                featuresCol="__features",
                labelCol=label_col,
                maxIter=30,
                regParam=1e-3,
            ),
        ]
    )
    return pipeline.fit(tokened)


def score_quality(model, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Score a corpus with a fitted quality classifier -> (id,
    good_prob, keep). Pure map-side work: the coefficient vector
    broadcasts, every row is scored independently."""
    from pyspark.ml.functions import vector_to_array

    tokened = docs.withColumn("__tokens", tokens(F.col(text_col)))
    scored = model.transform(tokened)
    return scored.select(
        id_col,
        F.round(vector_to_array(F.col("probability")).getItem(1), 6).alias(
            "good_prob"
        ),
        F.col("prediction").cast("int").alias("keep"),
    )


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + ECE for a [0,1] score against a binary
    label — the gate that decides whether a quality/filter score's
    VALUE is trustworthy as a probability (thresholding only needs
    ranking; mixture weighting, expected-loss pruning, and
    sample-weighting all consume the value, so a score that says 0.9
    must be right ~90% of the time). Equal-width bins; per bin the
    mean score vs the observed positive rate, their gap, and the
    overall expected calibration error ECE = Σ (n_b/n)·|gap_b|
    (Naeini et al. 2015).

    Exactness discipline (the entropy/money idiom): scores are summed
    as DECIMAL(18,6) (exact, partition-order-independent — a double
    avg would be unreproducible cross-engine), labels as integers;
    each output value is one cast + one IEEE divide, 6dp. Plan: one
    row-local bin projection, one groupBy(bin) (map-side combined, at
    most ``bins`` groups), one 1-row ECE broadcast. Empty bins are
    omitted (there is nothing to calibrate in them).

    Returns one row per non-empty bin, ascending: ``bin, n, n_pos,
    avg_score, pos_rate, gap, ece`` (ece constant across rows)."""
    if int(bins) < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    B = int(bins)
    # NULL scores MUST be dropped before binning: Spark's
    # least/greatest skip NULL operands, so floor(NULL*B)=NULL makes
    # greatest(0, least(B-1, NULL)) evaluate to B-1 — a NULL score
    # would silently land in the TOP calibration bin (and DuckDB's
    # NULL handling differs, so it double-fails cross-engine). NULL
    # labels have nothing to calibrate against (r13 latent-defect
    # pass; registered consumers never produce NULLs).
    b = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.greatest(
            F.lit(0),
            F.least(F.lit(B - 1), F.floor(F.col(score_col) * B)),
        ).cast("int").alias("bin"),
        F.col(score_col).cast("decimal(18,6)").alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__s").alias("__ssum"),
        F.sum("__y").cast("bigint").alias("n_pos"),
    )
    g2 = g.select(
        "bin",
        "n",
        "n_pos",
        F.round(F.col("__ssum").cast("double") / F.col("n"), 6).alias(
            "avg_score"
        ),
        F.round(F.col("n_pos").cast("double") / F.col("n"), 6).alias(
            "pos_rate"
        ),
    ).withColumn(
        "gap", F.round(F.abs(F.col("avg_score") - F.col("pos_rate")), 6)
    )
    tot = g2.agg(
        F.sum("n").alias("__nt"),
        F.sum(F.col("gap").cast("decimal(18,6)") * F.col("n")).alias(
            "__gsum"
        ),
    )
    return (
        g2.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            "avg_score",
            "pos_rate",
            "gap",
            F.round(
                F.col("__gsum").cast("double") / F.col("__nt"), 6
            ).alias("ece"),
        )
        .orderBy("bin")
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    resolution: int | None = 6,
) -> DataFrame:
    """Exact tie-aware ROC AUC (Mann-Whitney / rank-sum form) for a
    score against a binary label — the RANKING companion to
    :func:`calibration_curve`'s value check: thresholded curation
    (keep the top-p% by quality score) consumes only the ordering, so
    the gate for a new filter score is AUC against the trusted label,
    calibration only matters once the value is used as a weight.

    Distributed shape: the classic formulation sorts all n rows and
    sums positive ranks — a global sort of the corpus. Instead, scores
    are first grouped (map-side combinable) into (score, n_pos, n_neg)
    blocks, and the rank-sum is recovered from the per-block prefix
    sums: ties within a block contribute the average-rank term
    ``n_pos * n_neg / 2`` and cross-block pairs ``n_pos * cum_neg``.
    The only ordered pass runs over DISTINCT scores — with a [0,1]
    score quantized at ``resolution`` dp the grid is bounded by
    10^resolution + 1 rows regardless of corpus size, so the
    single-partition window is grid-bounded, never data-bounded
    (``resolution=None`` trusts the caller's own quantization).

    Exactness: all counts are BIGINT; per-block contributions
    ``n_pos * (2*cum_neg + n_neg)`` are summed in DECIMAL(38,0)
    (2·P·N reaches ~2e24 at corpus scale — past int64, the r11
    join-chain oracle's overflow lesson) and halved only inside the
    final single IEEE divide. AUC and the rank Gini (2·AUC−1) are
    both derived from that one exact integer, rounded to 6dp; both
    are NULL when either class is absent (AUC is undefined, not 0).

    Returns one row: ``n, n_pos, n_neg, n_scores, auc, gini_rank``."""
    from pyspark.sql import Window

    s = F.col(score_col).cast("double")
    if resolution is not None:
        s = F.round(s, int(resolution))
    # NULL scores/labels are excluded up front (r13, the
    # score_alignment advice generalized): an unscored row has no
    # rank — and left in, the NULL score group would sort FIRST under
    # Spark's window but LAST under DuckDB's, silently shifting every
    # cneg prefix; an unlabeled row would count as a negative (sum
    # skips NULL, count doesn't). Registered consumers never produce
    # NULLs; this closes the operator-level latent divergence.
    q = df.select(
        s.alias("__s"), F.col(label_col).cast("int").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    g = q.groupBy("__s").agg(
        F.sum("__y").cast("bigint").alias("__np"),
        (F.count(F.lit(1)) - F.sum("__y")).cast("bigint").alias("__nn"),
    )
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    c = g.withColumn(
        "__cneg", F.coalesce(F.sum("__nn").over(w), F.lit(0)).cast("bigint")
    )
    t = c.agg(
        F.sum(F.col("__np") + F.col("__nn")).cast("bigint").alias("n"),
        F.sum("__np").cast("bigint").alias("n_pos"),
        F.sum("__nn").cast("bigint").alias("n_neg"),
        F.count(F.lit(1)).cast("bigint").alias("n_scores"),
        F.sum(
            F.col("__np").cast("decimal(38,0)")
            * (2 * F.col("__cneg") + F.col("__nn")).cast("decimal(38,0)")
        ).alias("__auc2x"),
    )
    defined = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    pn = F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    return t.select(
        "n",
        "n_pos",
        "n_neg",
        "n_scores",
        F.when(
            defined, F.round(F.col("__auc2x").cast("double") / (2.0 * pn), 6)
        ).alias("auc"),
        F.when(
            defined, F.round(F.col("__auc2x").cast("double") / pn - 1.0, 6)
        ).alias("gini_rank"),
    )


def agreement_metrics(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Exact inter-rater agreement between two binary labelers:
    accuracy, Cohen's kappa (Cohen 1960), and the Matthews correlation
    coefficient — the gate for swapping one curation filter for
    another (a new quality classifier vs the incumbent heuristic):
    raw accuracy is inflated by class imbalance, kappa subtracts the
    chance-agreement floor, and MCC is the balanced single number that
    only rewards agreement on BOTH classes.

    Distributed shape: ONE conditional aggregation over the corpus
    collapses everything to the four confusion cells (map-side
    combined — each partition reduces to four counters before the
    exchange); every metric is then closed-form driver-free arithmetic
    on that single row. No join, no window, no sort at any scale.

    Exactness: cells are BIGINT; the cross terms (a·d − b·c, marginal
    products) run in DECIMAL(38,0) — at corpus scale a·d reaches
    ~1e20+, past int64 (the r11 join-chain overflow lesson). Each
    output is ONE IEEE step on exact integers, rounded to 6dp; kappa
    is NULL when the chance denominator is 0 (both raters constant)
    and MCC NULL when any marginal is empty — undefined, not 0.

    Returns one row: ``n, both_pos, a_only, b_only, both_neg,
    accuracy, kappa, mcc``."""
    d38 = "decimal(38,0)"
    a = F.col(rater_a_col).cast("int")
    b = F.col(rater_b_col).cast("int")
    # a row either rater left unlabeled belongs to NO confusion cell
    # ((NULL==1) is NULL, so all four cell conditions skip it) yet n
    # would still count it — cells would no longer sum to n. Exclude
    # up front (r13 latent-defect pass).
    df = df.filter(a.isNotNull() & b.isNotNull())
    cells = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((a == 1) & (b == 1)).cast("int")).cast("bigint").alias("both_pos"),
        F.sum(((a == 1) & (b == 0)).cast("int")).cast("bigint").alias("a_only"),
        F.sum(((a == 0) & (b == 1)).cast("int")).cast("bigint").alias("b_only"),
        F.sum(((a == 0) & (b == 0)).cast("int")).cast("bigint").alias("both_neg"),
    )
    tp = F.col("both_pos").cast(d38)
    fp = F.col("a_only").cast(d38)
    fn = F.col("b_only").cast(d38)
    tn = F.col("both_neg").cast(d38)
    det = tp * tn - fp * fn  # decimal-exact cross term
    # chance-agreement denominator for kappa: (a+b)(b+d) + (a+c)(c+d)
    chance_den = (tp + fp) * (fp + tn) + (tp + fn) * (fn + tn)
    # MCC denominator, factored: sqrt(ab)·sqrt(cd) instead of
    # sqrt(abcd). The four-marginal product overflows DECIMAL(38,0)
    # once n exceeds ~3e9 (four factors of ~n/2 each), where Spark
    # (non-ANSI) would return NULL; each TWO-factor product is bounded
    # by n² ≤ 1e38 for any n ≤ ~1e19, so the decimals stay exact at
    # corpus scale and only the two sqrt/multiply steps are IEEE.
    mcc_den_ab = (tp + fp) * (tp + fn)
    mcc_den_cd = (tn + fp) * (tn + fn)
    nn = F.col("n").cast("double")
    return cells.select(
        "n",
        "both_pos",
        "a_only",
        "b_only",
        "both_neg",
        F.when(
            F.col("n") > 0,
            F.round(
                (F.col("both_pos") + F.col("both_neg")).cast("double") / nn, 6
            ),
        ).alias("accuracy"),
        F.when(
            chance_den > 0,
            F.round(
                2.0 * det.cast("double") / chance_den.cast("double"), 6
            ),
        ).alias("kappa"),
        F.when(
            (mcc_den_ab > 0) & (mcc_den_cd > 0),
            F.round(
                det.cast("double")
                / F.sqrt(mcc_den_ab.cast("double"))
                / F.sqrt(mcc_den_cd.cast("double")),
                6,
            ),
        ).alias("mcc"),
    )


def pr_threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: list[float] | None = None,
    resolution: int = 6,
) -> DataFrame:
    """Precision/recall/F1 confusion sweep over a fixed threshold
    grid — the VALUE-side companion to :func:`roc_auc`'s ranking gate:
    once a filter score certifies on ordering, the operating threshold
    is chosen from exactly this table (how many docs survive at 0.6
    vs 0.7, and at what precision). Keep-rule: ``score >= threshold``.

    Distributed shape: scores collapse to (score, n_pos, n_neg)
    blocks first (map-side combined, the roc_auc idiom), then the
    block table joins the BROADCAST literal threshold grid (|grid| x
    |distinct scores| rows, grid-bounded — never corpus-bounded) and
    re-aggregates per threshold. No window, no sort; the corpus is
    scanned exactly once.

    Exactness: scores quantize to ``resolution`` dp before blocking
    (identical in the oracle), confusion cells are BIGINT sums of
    block counts, and precision/recall/F1 are each one IEEE divide on
    exact integers, 6dp, NULL when their denominator is 0 (undefined,
    not 0). F1 folds to 2·tp / (2·tp + fp + fn) so it shares the
    one-divide discipline instead of dividing twice.

    Returns |grid| rows: ``threshold, tp, fp, fn, tn, precision,
    recall, f1`` ordered by threshold."""
    if thresholds is None:
        thresholds = [i / 10.0 for i in range(10)]
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    # Dedupe + sort: duplicate grid values would collapse into one
    # groupBy("threshold") group whose cells count every score block
    # once per duplicate — doubled tp/fp/fn/tn, silently.
    thresholds = sorted({float(t) for t in thresholds})
    s = F.round(F.col(score_col).cast("double"), int(resolution))
    # NULL score/label rows are excluded, not silently half-counted:
    # NULL >= threshold is NULL, so such a row would fall out of ALL
    # FOUR confusion cells (kept and ~kept both NULL) and the matrix
    # would no longer sum to the input count (r13 latent-defect pass).
    q = df.select(
        s.alias("__s"), F.col(label_col).cast("int").alias("__y")
    ).filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
    g = q.groupBy("__s").agg(
        F.sum("__y").cast("bigint").alias("__np"),
        (F.count(F.lit(1)) - F.sum("__y")).cast("bigint").alias("__nn"),
    )
    spark = df.sparkSession
    grid = spark.range(0, 1, 1, 1).select(
        lit_rows([(float(t),) for t in thresholds], "threshold double")
    )
    kept = F.col("__s") >= F.col("threshold")
    swept = (
        g.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum(F.when(kept, F.col("__np"))), F.lit(0))
            .cast("bigint").alias("tp"),
            F.coalesce(F.sum(F.when(kept, F.col("__nn"))), F.lit(0))
            .cast("bigint").alias("fp"),
            F.coalesce(F.sum(F.when(~kept, F.col("__np"))), F.lit(0))
            .cast("bigint").alias("fn"),
            F.coalesce(F.sum(F.when(~kept, F.col("__nn"))), F.lit(0))
            .cast("bigint").alias("tn"),
        )
    )
    return swept.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fp")).cast("double"),
                6,
            ),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.round(
                F.col("tp").cast("double")
                / (F.col("tp") + F.col("fn")).cast("double"),
                6,
            ),
        ).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                2.0 * F.col("tp").cast("double")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
                6,
            ),
        ).alias("f1"),
    ).orderBy("threshold")


def source_score_alignment(
    df: DataFrame,
    source_col: str,
    score_col: str,
    resolution: int = 6,
) -> DataFrame:
    """Cross-source score alignment (quantile-normalization report):
    for each source, where do its documents actually SIT in the
    corpus-wide score distribution — the mean global percentile of
    its docs and its share strictly above the global median value.
    This is the dial that catches the classic mixing failure: two
    sources whose raw scores live on different scales (one scorer
    saturates at 0.6, another at 0.9), where any single global
    threshold silently keeps one source and drops the other. Rank
    space is scale-free; alignment there is what a per-source
    threshold scheme has to reproduce.

    Distributed shape: the roc_auc block idiom twice — a global
    (score -> count, prefix) table over DISTINCT quantized scores
    (grid-bounded, single ordered pass) and a (source, score) count
    table, joined on score (the join's build side is the score grid,
    never the corpus) plus two 1-row broadcasts (total, median
    block). Everything upstream is map-side combinable; no
    corpus-sized window anywhere.

    Exactness: the mean percentile uses exact integer MIDRANKS —
    each doc in a tied block contributes ccb + (c+1)/2, summed as
    2·midrank = c_s·(2·ccb + c + 1) in DECIMAL(38,0) — and the
    median is the exact lower-median VALUE (position (N+1)//2,
    integral div). One IEEE divide per output, 6dp.

    Returns per source: ``source, n_docs, mean_pctile,
    n_above_median, share_above_median`` ordered by source."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    s = F.round(F.col(score_col).cast("double"), int(resolution))
    # NULL scores are excluded up front: Spark's ORDER BY places NULLs
    # first while DuckDB places them last, so a NULL reaching the
    # prefix window would silently shift every ccb and the median
    # position cross-engine. A doc with no score has no rank.
    q = df.select(F.col(source_col).alias("source"), s.alias("__s")).filter(
        F.col("__s").isNotNull()
    )
    # ONE corpus scan: the (source, score) grain subsumes the global
    # grain, so the global block table is derived by summing the
    # per-source counts — scoring (often a regexp pipeline) runs once,
    # not once per grain (the 100x curve halved when this landed).
    p = q.groupBy("source", "__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cs")
    )
    # p is consumed by THREE branches (the score join, the total, the
    # median block) — without a persist, lineage re-executes the whole
    # scoring scan per branch (the 100x curve read 3x the single-scan
    # cost before this landed). p is (source x distinct-score)-bounded,
    # far below the corpus.
    from evidence_images_etl_airflow_spark import caching

    p = caching.materialize(p)
    g = p.groupBy("__s").agg(F.sum("__cs").cast("bigint").alias("__cg"))
    w = Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, -1)
    gb = g.withColumn(
        "__ccb", F.coalesce(F.sum("__cg").over(w), F.lit(0)).cast("bigint")
    )
    tot = gb.agg(F.sum("__cg").cast("bigint").alias("__n"))
    med = (
        gb.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("__ccb") < F.expr("(__n + 1) div 2"))
            & (F.expr("(__n + 1) div 2") <= F.col("__ccb") + F.col("__cg"))
        )
        .select(F.col("__s").alias("__vmed"))
    )
    per = (
        p.join(gb, "__s")
        .crossJoin(F.broadcast(med))
        .groupBy("source")
        .agg(
            F.sum("__cs").cast("bigint").alias("n_docs"),
            F.sum(
                F.col("__cs").cast(d38)
                * (2 * F.col("__ccb") + F.col("__cg") + 1).cast(d38)
            ).alias("__sum2"),
            F.coalesce(
                F.sum(F.when(F.col("__s") > F.col("__vmed"), F.col("__cs"))),
                F.lit(0),
            ).cast("bigint").alias("n_above_median"),
        )
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("__sum2").cast("double")
                / (
                    2.0
                    * F.col("n_docs").cast("double")
                    * F.col("__n").cast("double")
                ),
                6,
            ).alias("mean_pctile"),
            "n_above_median",
            F.round(
                F.col("n_above_median").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("share_above_median"),
        )
        .orderBy("source")
    )


def materialize_score_table(
    df: DataFrame,
    score: F.Column,
    path: str,
    carry_cols: list[str] | None = None,
) -> None:
    """Score ONCE into a curated column table (r12 verdict item 4):
    evaluate ``score`` over the corpus a single time and write
    ``(carry_cols..., score)`` to ``path`` as parquet; every metric
    downstream (ROC-AUC, calibration, kappa, PR sweep, score
    alignment) consumes the stored column instead of re-running the
    scorer.

    Why this is a first-class operator and not a caller detail: the
    five scoring-metric queries share one linear term — the
    quality-score expression itself (a regexp + token pipeline,
    ~20 s each at the 100x corpus, SCALING.md) — while their metric
    machinery is grid-bounded and ~flat. Five queries each scoring
    the corpus = five corpus scans of the expensive expression; at
    100 TB that is the entire cost. Scoring once turns the quintet
    into one scoring pass + five cheap column scans, and any future
    threshold re-sweep or metric re-run is a column read, not a
    re-score. This is the standard curated-layer move every
    production training-data pipeline makes (score at ingest, filter
    forever after).

    Plan shape: one corpus scan, row-local scoring (whole-stage
    codegen — quality-style scores are pure column expressions), a
    columnar write. No shuffle at all unless the caller pre-lays-out
    the frame (compose with ``skew.repartition_by_stats`` for a
    statistic-driven file layout when writing a permanent table).
    Overwrite mode keeps the build idempotent — re-running replaces,
    never duplicates."""
    cols = list(carry_cols or [])
    df.select(*cols, score.alias("score")).write.mode("overwrite").parquet(
        path
    )


def publish_score_table_versioned(
    spark,
    df: DataFrame,
    score: F.Column,
    table: str,
    source_fingerprint: str,
    carry_cols: list[str] | None = None,
) -> int:
    """SHARED-CATALOG curated build (the r14 verdict's design note:
    the pid-keyed `_scratch_build` lifecycle is correct for a
    per-process bench/verify harness, but a long-lived multi-tenant
    service wants the build keyed in a shared catalog, not
    ``tempfile.gettempdir()``). This composes the scoring pass with
    ``sinks/versioned`` — the atomic-pointer-flip publish protocol —
    plus a sibling ``{table}__meta`` versioned table recording which
    SOURCE-CORPUS FINGERPRINT each data version was scored from:

        score once  ->  publish(table)        = data version N
                    ->  publish(table__meta)  = (N, fingerprint)

    Readers resolve through :func:`current_score_table_versioned`,
    which serves a data version only when the latest meta row's
    fingerprint matches the corpus the reader expects AND names a
    staged version — so a crash BETWEEN the two publishes leaves the
    previous (version, fingerprint) pair live and consistent: the
    orphaned data version is inert — never served THROUGH THIS
    RESOLVER — and the next builder re-publishes over it. Meta is
    published AFTER data for exactly that reason. The guarantee is
    scoped to resolver-mediated reads (r15 ADVICE): a crash between
    the two publishes leaves the orphan data version as the data
    table's own current pointer, so a reader going straight to
    ``versioned.read_latest(table)`` would serve unvalidated data —
    ALL readers of this table must resolve via
    :func:`current_score_table_versioned`. Concurrency inherits versioned.publish's
    single-writer protocol (serialize builders externally, the
    Delta/Iceberg commit-lock discipline); readers are lock-free and
    always see some complete pair. Returns the data version."""
    from evidence_images_etl_airflow_spark.sinks import versioned

    cols = list(carry_cols or [])
    v = versioned.publish(spark, df.select(*cols, score.alias("score")), table)
    meta = spark.range(0, 1, 1, 1).select(lit_rows(
        [(v, source_fingerprint)],
        "data_version int, source_fingerprint string",
    ))
    versioned.publish(spark, meta, f"{table}__meta")
    return v


def current_score_table_versioned(
    spark, table: str, source_fingerprint: str
) -> DataFrame | None:
    """Resolve the shared curated score table for a given source
    fingerprint: the latest ``{table}__meta`` row names the data
    version and the fingerprint it was scored from; serve that
    version only if the fingerprint matches AND the version directory
    exists (a half-published pair fails both ways closed). Returns
    ``None`` when absent/stale — the caller then scores and calls
    :func:`publish_score_table_versioned` (or, in a crawl loop,
    appends via :func:`update_score_table` semantics and republishes).
    A 1-row meta read + a pointer read: reader cost is independent of
    table size."""
    from evidence_images_etl_airflow_spark.sinks import versioned

    if versioned.current_version(spark, f"{table}__meta") is None:
        return None
    row = versioned.read_latest(spark, f"{table}__meta").collect()
    if not row:
        return None
    v, fp = row[0]["data_version"], row[0]["source_fingerprint"]
    if fp != source_fingerprint:
        return None
    if v not in versioned.list_versions(spark, table):
        return None
    return versioned.read_version(spark, table, v)


def update_score_table(
    candidates: DataFrame,
    score: F.Column,
    path: str,
    id_col: str,
    carry_cols: list[str] | None = None,
) -> None:
    """Incremental curated-score ingest (VERDICT r14 item 3): score
    ONLY the ``candidates`` rows whose ``id_col`` is not yet in the
    score table at ``path`` and APPEND them — the crawl-loop companion
    to :func:`materialize_score_table`, which rebuilds the whole table
    whenever the corpus changes. Real corpora are append-mostly: a
    re-crawl batch overlaps heavily with ingested history, and
    re-scoring the overlap re-pays the one term the curated layer
    exists to amortize (the scoring expression's corpus scan).

    Scale shape (the ``dedup_against_store`` idiom applied to the
    score table): the existing side is a COLUMN-PRUNED scan of the
    stored ``id_col`` only — never the corpus, never the score — LEFT
    ANTI joined against the batch, so append cost is proportional to
    the batch, not the table; at 100 TB of scored history the anti
    join's build side is one id column. The scoring expression sits
    ABOVE the anti join in the plan, so it evaluates only for
    surviving (genuinely new) rows. Idempotent by construction:
    re-running the same batch appends zero rows because its ids are
    already present — a retried ingest cannot double-score — and the
    staged append (``sinks.writers.append_parquet``) adds no file for
    zero rows, so a replay leaves the table's listing unchanged. Duplicate
    ids WITHIN one batch are collapsed before the anti join (r15
    ADVICE: they would all survive it and be scored and appended
    twice; the dedup is one exchange of the batch — the small side by
    design — keyed on the id column). The survivor among duplicate ids
    is DETERMINISTIC (r16 ADVICE: dropDuplicates keeps an arbitrary
    row, so duplicate ids carrying different payloads would store
    nondeterministic score/carry values — oracle-parity flake in a
    differential-testing engine): the lexicographically smallest tuple
    of the non-id columns wins, via one min(struct) aggregate — the
    same single exchange the dropDuplicates paid, now with a defined
    winner. Payload columns must therefore be orderable types.
    Not concurrency-safe across simultaneous writers (parquet append
    has no transaction); serialize ingest batches.
    """
    from evidence_images_etl_airflow_spark.sinks.writers import append_parquet

    spark = candidates.sparkSession
    existing = spark.read.parquet(path).select(id_col)
    fresh = dedup_ids_deterministic(candidates, id_col).join(
        existing, on=id_col, how="left_anti"
    )
    cols = list(carry_cols or [])
    append_parquet(spark, fresh.select(*cols, score.alias("score")), path)


def dedup_ids_deterministic(df: DataFrame, id_col: str) -> DataFrame:
    """One row per ``id_col`` with a DETERMINISTIC survivor — the
    lexicographically smallest tuple of the remaining columns, via one
    min(struct) aggregate (same single exchange dropDuplicates pays,
    but with a defined winner; see update_score_table's docstring).
    Payload columns must be orderable types. Column order preserved."""
    others = [c for c in df.columns if c != id_col]
    if not others:
        return df.dropDuplicates([id_col])
    out = (
        df.groupBy(id_col)
        .agg(F.min(F.struct(*others)).alias("__row"))
        .select(id_col, *[F.col("__row")[c].alias(c) for c in others])
    )
    return out.select(*df.columns)
