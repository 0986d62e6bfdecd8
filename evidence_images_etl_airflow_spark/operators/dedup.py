"""Deduplication operators for the training-data pipeline (SURVEY.md
§7 M7): exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.

Design rules, all scale-driven:
- Candidate generation is always *blocked* (shared shingle / LSH band /
  hyperplane bucket) so the pairwise phase never does an O(N^2) shuffle.
- Hashes are md5-based (same function in every engine) and folds are
  sequential, so every operator is reproducible in the DuckDB oracle.
- All heavy lifting is exploded-row joins + aggregations — plain
  shuffles Catalyst/AQE can size, no Python in the hot path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark import caching
from evidence_images_etl_airflow_spark.functions.partitioning import spread
from evidence_images_etl_airflow_spark.functions.text import (
    fingerprint_md5,
    shingles_from_tokens,
    tokens,
)


from evidence_images_etl_airflow_spark.functions.vectors import (
    cosine,
    hyperplane_signature,
)


def _materialized(sh: DataFrame) -> DataFrame:
    """Persist the shingle/signature table for the multi-branch pair
    plan. Lazy persist: the first downstream job populates the cache
    and later branches read it; the round-5 sf0.1 A/B (min-of-5,
    tools/ab_materialize.py) measured lazy ~20% faster than an eager
    count() here — the extra materialization job cost more than any
    branch-race duplication. Tracked in ``caching`` so session owners
    can release between queries (the registry wrapper does this
    automatically)."""
    return caching.materialize(sh)


# --- exact -------------------------------------------------------------------
def dedup_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order_by: list[F.Column] | None = None,
) -> DataFrame:
    """Hash-groupBy exact dedup on the normalized-text fingerprint.
    ``order_by`` picks the survivor per duplicate group (default:
    lowest id; pass e.g. [length desc, id] for the keep-longest policy
    — end the ordering with a unique key so the choice is
    deterministic). One shuffle on the 32-char fingerprint — at 100 TB
    this is the cheapest possible exact dedup: the shuffle moves
    (fingerprint, id) pairs only, and map-side partial aggregation
    collapses local dups before the exchange."""
    fp = fingerprint_md5(F.col(text_col))
    keyed = spread(df, F.col(id_col)).withColumn("fingerprint", fp)
    w = Window.partitionBy("fingerprint").orderBy(
        *(order_by if order_by is not None else [F.col(id_col)])
    )
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# NOTE (r16): a shared "_expand_bucket_pairs" helper (groupBy bucket
# key + collect_set + in-task pair expansion) was trialed as a
# replacement for the dedup family's key-equality self-joins and
# REVERTED after interleaved A/B: every such self-join in this module
# is an AQE BroadcastHashJoin at bench scale (the keyed tables are
# small), and the ObjectHashAggregate the rewrite forces measured
# 1.3-3x slower (details at each former call site). The idiom survives
# where it removes a whole exchange chain instead of one broadcast
# join — the co-purchase edge build in workload.graph_triangle_stats.


# --- n-gram Jaccard ----------------------------------------------------------
def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) exploded, distinct within doc. Tokens are
    materialized in their own projection BEFORE the shingle transform —
    inlining the tokenizer into the higher-order lambda would re-run it
    once per output element (see functions.text.shingles_from_tokens)."""
    toks = spread(df, F.col(id_col)).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__tk")
    )
    return toks.select(
        "id",
        F.explode(F.array_distinct(shingles_from_tokens(F.col("__tk"), n))).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) with n-gram-shingle Jaccard >=
    threshold. Candidates come from a self-join on shared shingles —
    only docs sharing at least one shingle ever meet, so cost follows
    shingle collision counts, not N^2.

    ``max_doc_freq`` drops shingles appearing in more than that many
    docs (stop-shingles): a shingle shared by 1M docs would generate
    10^12 candidate pairs on its own; dropping it loses only pairs
    whose *every* common shingle is that frequent. This is the standard
    frequency-cap guard for web-scale dedup.

    Scale selection: this join indexes and self-joins EVERY shingle
    occurrence — the cheapest plan on small/interactive corpora, but
    the dominant cost term as the corpus grows; the measured crossover
    vs :func:`prefix_filter_jaccard_pairs` (identical output, lossless,
    rarest-shingle prefix index) sits between the 10x and 100x test
    corpora (SCALING.md). Prefer the prefix filter once corpus size or
    shingle skew is the bottleneck.
    """
    return (
        _shingle_pair_stats(df, id_col, text_col, n, max_doc_freq)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_pair_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared candidate-generation skeleton of the n-gram near-dup
    family: (id_a < id_b, inter, sz_a, sz_b, jaccard) for every doc
    pair sharing at least one (optionally frequency-capped) shingle.
    Both the symmetric (ngram_jaccard_pairs) and directed-containment
    (ngram_containment_pairs) operators project their thresholds off
    this one frame, so the stop-shingle guard and materialization
    policy can never diverge between them."""
    sh = _doc_shingles(df, id_col, text_col, n)
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
        sh = sh.join(freq.filter(F.col("df_") <= max_doc_freq), "shingle").drop("df_")
    # the shingle table feeds both join sides AND the size agg — persist
    # + eager-populate so the tokenize+explode runs once, not 4x (spills
    # to disk when it outgrows memory; at cluster scale this is the
    # natural checkpoint between candidate generation and verification).
    # r16 NEGATIVE RESULT, kept as the join on purpose: rewriting the
    # candidate phase as one shingle-keyed collect_set + in-task pair
    # expansion (_expand_bucket_pairs, the idiom that DID win for the
    # triangle edge build) measured 2-3x SLOWER here in interleaved
    # A/B (old mins 1.9-2.0 s vs new 5.4 s at sf0.1): the self-join is
    # an AQE BroadcastHashJoin running fully in codegen, while the
    # rewrite pays an ObjectHashAggregate that carries id arrays
    # through its partials. The idiom wins only where it REMOVES an
    # exchange chain, not where it replaces a broadcast join.
    sh = _materialized(sh)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """DIRECTED near-dup pairs by n-gram containment: (contained_id,
    container_id, containment, jaccard) where containment =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| >= threshold. The
    asymmetric complement of ``ngram_jaccard_pairs``: a short document
    quoted wholesale inside a long one has containment ~1 but Jaccard
    ~|A|/|B| — far below any symmetric threshold — so Jaccard-only
    dedup keeps both copies of every snippet/boilerplate inclusion.
    Both directions are evaluated per candidate pair; mutual near-dups
    emit two rows (each direction states its own contained side). The
    symmetric Jaccard rides along for context — rows with high
    containment and low Jaccard are precisely the pairs only THIS
    operator catches.

    Same scale discipline as the Jaccard variant: candidates only from
    shared shingles (one shingle-keyed self-join, cost follows
    collision counts, never N^2) with the same ``max_doc_freq``
    stop-shingle cap; one extra projection per direction, no extra
    shuffle."""
    both = _shingle_pair_stats(df, id_col, text_col, n, max_doc_freq)
    ab = both.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("inter") / F.col("sz_a"), 6).alias("containment"),
        "jaccard",
    )
    ba = both.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("inter") / F.col("sz_b"), 6).alias("containment"),
        "jaccard",
    )
    return ab.unionByName(ba).filter(F.col("containment") >= threshold)


_ADVISOR_MAX_WIDTH = 200_000


def _parse_session_width(raw) -> int:
    """Parse ``spark.sql.shuffle.partitions`` defensively (r13
    ADVICE): the conf is a string contract, not an int one —
    AQE-managed platforms report values like ``"auto"`` (fall back to
    the plain 200 default), and a hand-set width past the advisor's
    200k ceiling would otherwise arrive at plan_shuffle_partitions as
    min > max and raise (clamp instead)."""
    try:
        width = int(raw)
    except (TypeError, ValueError):
        width = 200
    return max(1, min(width, _ADVISOR_MAX_WIDTH))


def _advise_shingle_shuffle_width(sh: DataFrame, target_bytes: int) -> int:
    """Advisor-driven shuffle width for the shingle-table stages
    (r12 verdict item): ``plan_shuffle_partitions`` over
    ``table_size_stats`` of the exact shingle frame — one extra
    row-local pass (tokenize + shingle + 1-row global agg, NO
    shuffle), the same constant-bounded driver read every planner in
    this repo performs. The session's ``spark.sql.shuffle.partitions``
    is the floor — the advisor only scales UP when the measured bytes
    outgrow the session width — and the advisor's own 200k cap is the
    ceiling. The conf is a STRING contract, not an int one: AQE-managed
    platforms report values like ``"auto"``, and a hand-set width can
    exceed the advisor's 200k ceiling (which plan_shuffle_partitions
    rejects as min > max) — both fall back to the plain 200 default /
    clamp rather than raise (r13 ADVICE)."""
    from evidence_images_etl_airflow_spark.operators.skew import (
        plan_shuffle_partitions,
        table_size_stats,
    )

    session_width = _parse_session_width(
        sh.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return int(
        plan_shuffle_partitions(
            table_size_stats(sh),
            target_bytes_per_partition=int(target_bytes),
            min_partitions=session_width,
            max_partitions=_ADVISOR_MAX_WIDTH,
        ).first()["partitions"]
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    shuffle_target_bytes: int | None = 16 << 20,
) -> DataFrame:
    """LOSSLESS prefix-filtered shingle-Jaccard join — the AllPairs /
    PPJoin candidate scheme (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08) as a third candidate generator beside the blocked join
    (``ngram_jaccard_pairs``) and MinHash LSH.

    Order every doc's shingle set by a single global canon (ascending
    document frequency, shingle string tiebreak — rarest first) and
    index only each doc's PREFIX: the first ``|x| - ceil(t*|x|) + 1``
    shingles. The prefix-filter theorem guarantees any pair with
    Jaccard >= t shares at least one prefix shingle, so joining
    prefix-to-prefix loses nothing, while the candidate join runs on
    the RAREST shingles only. (Completeness, incl. the per-doc-alpha
    subtlety: J(x,y) >= t forces overlap I >= ceil(t|x|) AND
    >= ceil(t|y|) — the first since I >= t(|x|+|y|-I)/(1) rearranges
    to I >= t(|x|+|y|)/(1+t) >= t|x| given |y| >= t|x| from the size
    bound, symmetrically for y. Let w* be the canon-minimum shared
    shingle: if w* sat in x's suffix of ceil(t|x|)-1 canon-largest
    shingles, every shared shingle would — all are canon->= w* — so
    I <= ceil(t|x|)-1, a contradiction; hence w* is in x's prefix,
    and by the same argument in y's. Both prefix occurrences of w*
    meet in the join.) That kills the two scale problems of the
    plain blocked join at once: the index shrinks by ~t·|x| entries
    per doc, and globally-hot shingles (the ones that alone generate
    10^12 candidate pairs at crawl scale) sort to the END of the canon
    and essentially never enter a prefix — the effect the
    ``max_doc_freq`` stop-shingle cap approximates heuristically, but
    obtained here WITHOUT the cap's false-negative risk (a capped join
    silently loses pairs whose every common shingle is hot; prefix
    filtering provably loses none). The symmetric size filter
    ``t*max(|x|,|y|) <= min(|x|,|y|)`` prunes candidates further and,
    being a necessary condition of J >= t, also cannot drop a true
    pair. Exact Jaccard is then verified on candidates only.

    Plan shape at 100 TB: one df agg + ONE per-doc hash agg that
    builds each doc's canon-sorted shingle array (array_sort over
    ~|doc| elements per row — deliberately NOT a row_number window,
    whose per-doc ranking is a corpus-wide sort shuffle; the window
    variant measured a 16x wall cliff at the 100x corpus, the array
    build took the same point 6.3x faster, SCALING.md), a self-join
    whose left/right sides are the ~(1-t)-fraction exploded prefix
    index, then verification by array_intersect on candidate-joined
    arrays — O(candidates x doc_len) row-local work, no corpus-wide
    explode pass. No O(N^2) phase, no lossy cap, no global sort.

    Shuffle sizing (r12 verdict item, r13): the operator's structural
    cost is its shingle-table shuffles (df attach, per-doc canon agg,
    prefix self-join) — a measured A/B at the 100x corpus read 139.1 s
    at the session's 32 partitions vs 114.9 s at a hand-picked 128
    (~17%, the spill-pressure share). Instead of a constant, the
    width now comes from the repo's own advisor:
    ``plan_shuffle_partitions`` over ``table_size_stats`` of the
    shingle table (one extra row-local scan — tokenize + shingle +
    1-row agg, NO shuffle — amortized by the shuffles it sizes; the
    same constant-bounded driver read every planner performs).
    ``shuffle_target_bytes`` defaults to 16 MiB of RAW shingle bytes
    per partition, NOT the 128 MiB parquet-split convention: the
    per-doc agg holds collect_list'd (df, shingle) structs in its
    hash map, and small JVM objects expand serialized bytes ~8-10x,
    so 16 MiB raw keeps per-task agg memory near the ~128-160 MB
    execution-memory budget a 32-thread shared heap allows. The
    session width is the floor (the advisor only scales UP — tiny
    corpora keep their parallelism), 200k the ceiling. Pass
    ``shuffle_target_bytes=None`` to disable the advisor entirely
    (stock exchanges at whatever width the session/AQE picks — the
    pre-r13 behavior, kept as the A/B control and for callers that
    size the session themselves).

    NOTE the advisor makes this function EAGER: the stats pass is a
    real Spark action at DataFrame-construction time (it doubles as
    the action that populates the shingle cache). Plan-only callers —
    anything that wants to ``.explain()`` without touching the data —
    must pass ``shuffle_target_bytes=None`` (r13 ADVICE).
    """
    sh = _doc_shingles(df, id_col, text_col, n)
    # cache-materialize the shingle table (r13): it feeds the freq agg,
    # the df-attach join side, AND the advisor's stats pass — without
    # the cache each consumer re-runs tokenize+shingle, and the stats
    # measurement is a whole extra corpus pass; with it, the stats agg
    # is the action that POPULATES the cache the later stages read
    # (the minhash_lsh_pairs idiom), so the measurement is ~free.
    sh = _materialized(sh)
    n_parts = (
        None
        if shuffle_target_bytes is None
        else _advise_shingle_shuffle_width(sh, int(shuffle_target_bytes))
    )
    if n_parts is not None:
        # Hash-layout the shingle table ONCE at the advised width: the
        # freq agg reuses it (HashPartitioning(shingle, N) satisfies
        # the agg's clustering, no second exchange) and the df-attach
        # join zips the two sides exchange-free (freq inherits N from
        # its agg).
        sh = sh.repartition(n_parts, "shingle")
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    # One per-doc hash agg builds the canon-ordered shingle array —
    # deliberately NOT a row_number window: the window's per-doc sort
    # ranks ALL corpus shingle rows through a sort shuffle (measured
    # 16x wall cliff at the 100x corpus when 65M rows left the
    # in-memory sort regime), while array_sort orders ~|doc| elements
    # per ROW after a plain hash agg. collect_list order is
    # nondeterministic; array_sort over (df_, shingle) structs restores
    # the total canon (shingles are distinct per doc, so no ties).
    attached = sh.join(freq, "shingle")
    if n_parts is not None:
        # re-key the attach output at the advised width before the
        # canon-array agg — the collect_list hash map is the operator's
        # peak-memory stage, exactly what the raw-bytes target sizes
        attached = attached.repartition(n_parts, "id")
    arr = (
        attached
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df_", "shingle"))).alias("a"))
        .select(
            "id",
            F.transform("a", lambda s: s["shingle"]).alias("shingles"),
            F.size("a").alias("sz"),
        )
    )
    # feeds both prefix-join sides and both verify joins
    arr = _materialized(arr)
    # prefix length |x| - ceil(t*|x|) + 1, computed EXACTLY: the
    # threshold is recovered as a 9dp decimal (any human threshold is
    # exact there) and decimal x int products never wobble — unlike
    # float t*|x|, whose ulp error outgrows any fixed pre-round once
    # |x| reaches the multi-million-shingle regime, silently shortening
    # the prefix and breaking losslessness exactly at crawl scale
    t_dec = F.lit(threshold).cast("decimal(12,9)")
    need = F.ceil(t_dec * F.col("sz")).cast("int")
    prefix = arr.select(
        "id",
        "sz",
        F.explode(
            F.slice(F.col("shingles"), F.lit(1), F.col("sz") - need + F.lit(1))
        ).alias("shingle"),
    )
    if n_parts is not None:
        # size the candidate self-join's exchanges too: renaming id to
        # id_a/id_b below leaves HashPartitioning(shingle, N) intact,
        # so each side pays exactly this one advised-width exchange
        # (off the cached arr) and the join itself adds none
        prefix = prefix.repartition(n_parts, "shingle")
    a = prefix.select(F.col("id").alias("id_a"), "shingle", F.col("sz").alias("sz_a"))
    b = prefix.select(F.col("id").alias("id_b"), "shingle", F.col("sz").alias("sz_b"))
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # necessary size condition of J>=t, in exact decimal x integer
        # arithmetic (no float slack needed, so it can never
        # false-drop at any size)
        .filter(
            F.greatest("sz_a", "sz_b").cast("decimal(20,0)")
            * F.lit(threshold).cast("decimal(12,9)")
            <= F.least("sz_a", "sz_b").cast("decimal(20,0)")
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify on candidates only: two id-keyed joins pull each side's
    # (bounded, per-doc) array and array_intersect computes the exact
    # overlap row-locally — no explode-join-reaggregate pass over the
    # corpus shingle table, so verify cost is O(candidates x doc_len).
    #
    # r14 NEGATIVE RESULT (r13 verdict item 2 — the pair-heavy
    # caveat's named dial, "size the verify join off candidate
    # count", implemented, measured, and REVERTED): the r14 build
    # materialized the candidate pairs (count populating the cache),
    # estimated verify-exchange bytes as n_cand x 2 x avg per-doc
    # array bytes, and widened both verify exchanges to that width.
    # Measured on the 27.31M-pair sf100x_de corpus:
    #   - interleaved fresh-JVM pair, same window: stock 117.9 s vs
    #     candidate-sized advisor 267.9 s — the stat is NOT free: the
    #     count job + 27M-row cache cost ~as much as the verify stage
    #     itself, and a QUIET-window stock run shows no verify spill
    #     to recover (stock swung 424.7/192.4/116.3 s across windows
    #     while the sized leg sat flat ~390-425 s: its floor is its
    #     own added structure).
    #   - width in isolation (tools/probe_verify_width.py, same-JVM
    #     cached-input legs): stock-32 208 s, 64-512 partitions
    #     81-139 s (flat within host noise), formula-picked 1708
    #     147 s — width has SOME effect under load, but the only
    #     zero-extra-job estimator available (corpus stats) cannot
    #     see candidate volume, and every candidate-aware estimator
    #     (cand count, prefix-table C(c,2) agg) adds a corpus-scale
    #     job that taxes the default regime the r13 advisor wins.
    # Conclusion recorded in SCALING.md: on pair-heavy corpora the
    # cost IS the 27.31M-row (pairs x arrays) materialization itself
    # — the verify output equals the candidate set there (every
    # candidate a true pair), so exchange width is second-order and
    # pair enumeration is the wrong tool (use minhash clustering /
    # exact dedup); the caveat stands as published, now with its dial
    # measured shut.
    return (
        cand.join(
            arr.select(
                F.col("id").alias("id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            arr.select(
                F.col("id").alias("id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "sz_a", "sz_b", "jaccard")
    )


_WINNOW_HASH_SPACE = 1 << 40  # folded k-gram hash domain
_WINNOW_POS_SPACE = 1 << 20  # max gram position encodable per doc


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken 2003,
    the MOSS algorithm): hash every k-token gram, slide a window of w
    consecutive gram hashes over each document, keep the RIGHTMOST
    minimal hash of each full window, dedup selections. Returns
    (id, pos, fp). The guarantee md5-everything fingerprinting lacks:
    any shared run of >= w+k-1 tokens between two documents is
    DETECTED (some window inside it selects the same gram in both), at
    ~2/(w+1) storage density instead of one hash per gram — the
    local-sampling property that makes corpus-wide fingerprint indexes
    affordable at 100 TB while still catching every long-enough
    overlap.

    Determinism: the rightmost-min tie rule is folded into integer
    arithmetic — key = fold40(md5(gram)) * 2^20 + (2^20-1-pos), so a
    plain window MIN selects (smallest hash, largest pos) in one
    comparable value that both engines order identically. Positions
    must fit 2^20 grams/doc (split longer docs upstream). Scale shape:
    one posexplode + one per-doc ordered window (the same shuffle a
    sort within doc costs) + a distinct; output is density-compressed
    O(corpus tokens * 2/(w+1))."""
    toks = spread(df, F.col(id_col)).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__tk")
    )
    grams = toks.select(
        "id",
        F.posexplode(shingles_from_tokens(F.col("__tk"), k)).alias("pos", "gram"),
    )
    hfold = (
        F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("bigint")
        % F.lit(_WINNOW_HASH_SPACE)
    )
    # hard precondition, not a docstring plea: a gram position past
    # 2^20 would underflow the rightmost-min encoding and silently
    # corrupt fingerprints for exactly the over-long documents most
    # likely to carry duplicated boilerplate — fail loudly instead.
    # Folded into the key expression so column pruning can't skip it.
    key = F.when(
        F.col("pos") < F.lit(_WINNOW_POS_SPACE),
        hfold * F.lit(_WINNOW_POS_SPACE)
        + (F.lit(_WINNOW_POS_SPACE - 1) - F.col("pos")),
    ).otherwise(
        F.raise_error(
            F.lit(
                "winnowing_fingerprints: document exceeds 2^20 grams — "
                "split long documents upstream"
            )
        ).cast("bigint")
    )
    frame = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    )
    per_doc = Window.partitionBy("id")
    sel = (
        grams.select("id", "pos", key.alias("__key"))
        .withColumn("__ng", F.count("*").over(per_doc))
        .withColumn("__sel", F.min("__key").over(frame))
        .filter(F.col("pos") <= F.col("__ng") - w)  # full windows only
        .select("id", F.col("__sel").alias("__k"))
        .distinct()
    )
    return sel.select(
        "id",
        (F.lit(_WINNOW_POS_SPACE - 1) - F.col("__k") % F.lit(_WINNOW_POS_SPACE)).alias("pos"),
        # integer div, NOT float: __k approaches 2^60 and double
        # division would round (ulp spacing 128 up there)
        F.expr(f"__k div {_WINNOW_POS_SPACE}").alias("fp"),
    )


def winnowing_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs from shared winnowing fingerprints:
    (id_a < id_b, n_shared) for pairs sharing >= min_shared selected
    fingerprints. The sparse sibling of the shingle self-join
    (ngram_jaccard_pairs): the join runs over the winnowed ~2/(w+1)
    density index instead of every gram, with the same hot-key cap
    (``max_doc_freq``) guarding a boilerplate fingerprint from
    generating O(df^2) candidates."""
    # the fingerprint table feeds the optional freq guard AND both join
    # sides — persist so the tokenize/window/distinct lineage runs
    # once, not 2-3x (the minhash shingle-set discipline). r16 NEGATIVE
    # RESULT, kept as the join on purpose: the fp-keyed collect_set +
    # in-task pair expansion rewrite measured at-best-par and
    # quiet-window slower (old min 3.5 s vs new 4.0-4.6 s interleaved
    # at sf0.1) — same ObjectHashAggregate-vs-broadcast-join economics
    # as the shingle candidate phase (see _shingle_pair_stats).
    fps = _materialized(
        winnowing_fingerprints(df, id_col, text_col, k, w)
        .select("id", "fp")
        .distinct()
    )
    if max_doc_freq is not None:
        freq = fps.groupBy("fp").agg(F.count("*").alias("df_"))
        fps = fps.join(freq.filter(F.col("df_") <= max_doc_freq), "fp").drop("df_")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --- MinHash + LSH -----------------------------------------------------------
MINHASH_P = (1 << 31) - 1
"""Modulus for the affine MinHash family: the Mersenne prime 2^31-1.
With a, b, h all < P, every a*h + b product stays under 2^62, so the
arithmetic never overflows signed 64-bit in any engine."""


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for affine hash family i,
    ``(a*h + b) mod P`` — derived from md5 so the DuckDB oracle can
    reproduce them exactly; a is forced nonzero."""
    params = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:15], 16) % (MINHASH_P - 1) + 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:15], 16) % MINHASH_P
        params.append((a, b))
    return params


def _base_hash(shingle: F.Column) -> F.Column:
    """One 31-bit base hash per shingle: the first 15 hex chars of its
    md5 parsed base-16 (fixed-width hex orders like its numeric value,
    and fits signed 64-bit), folded mod P. The k hash families are
    affine transforms of THIS value — one md5 per shingle row instead
    of k, which is the dominant CPU cost of signature building."""
    h = F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long")
    return h % F.lit(MINHASH_P)


def _sig_aggs(num_hashes: int) -> list[F.Column]:
    """min((a_i*hp + b_i) mod P) per family, over a precomputed base
    hash column ``hp``. Integer min plans as a codegen HashAggregate;
    min(string) over md5 hex would force an interpreted SortAggregate
    (string buffers are not hash-aggregatable; measured ~5x slower)."""
    return [
        F.min((F.lit(a) * F.col("hp") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]


def _band_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, key) rows from a signature table: each band's key is
    the concatenation of its rows/band signature slots. One explode —
    O(docs x bands) rows, the compact LSH index of a corpus."""
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    verify_threshold: float | None = 0.5,
    shuffle_target_bytes: int | None = None,
) -> DataFrame:
    """MinHash banding: split the k-hash signature into ``bands`` bands
    of k/bands rows; docs agreeing on ANY full band become candidate
    pairs (id_a < id_b). Pair generation is a self-join on the band
    key — a string equality join that shuffles (band_key) not vectors.
    If ``verify_threshold`` is set, candidates are verified with true
    shingle Jaccard computed *only for candidate pairs* (join the
    candidate list back to the per-doc shingle sets) — the whole point
    of LSH is that the exact phase never touches non-candidate pairs,
    so verification cost follows |candidates|, not |docs|^2."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    rows = num_hashes // bands
    # reused by signatures, both verify join sides, and sizes: persist
    # (with the base hash, so md5 runs once per shingle row, ever)
    sh = _materialized(
        _doc_shingles(df, id_col, text_col, shingle_n).withColumn(
            "hp", _base_hash(F.col("shingle"))
        )
    )
    shp = sh
    if shuffle_target_bytes is not None:
        # Advisor hook, default OFF for this operator (r13, measured):
        # an interleaved median A/B at the salted 100x corpus read
        # stock 29.8 s vs advised 44.4 s — the OPPOSITE of the prefix
        # filter's result, for a structural reason worth recording.
        # Pre-repartitioning by id replaces the signature agg's
        # exchange, but that agg's map-side partials collapse the
        # shingle table ~|shingles-per-doc|x BEFORE the exchange
        # (min-hash partials are one row per (doc, hash)); the raw
        # repartition ships every shingle occurrence instead. On top,
        # the stats pass is ~40% of this operator's whole quiet-window
        # cost (minhash is ~30 s at 100x where the prefix filter is
        # 100+ s). Sizing helps operators whose dominant aggs carry
        # their full payload through partials (collect_list/collect_set
        # canon builds); it hurts ones whose partials REDUCE. The hook
        # is kept as an explicit escape hatch and the A/B control — no
        # measured regime where it wins here has been found, and none
        # is expected on pair-heavy corpora either: verify cost there
        # follows CANDIDATE count, which the agg widths don't touch
        # (the prefix filter measured exactly that on sf100x_de —
        # SCALING.md r13, the published caveat).
        n_parts = _advise_shingle_shuffle_width(
            sh, int(shuffle_target_bytes)
        )
        shp = sh.repartition(n_parts, "id")
    # the band self-join reads the signature table from BOTH sides;
    # materializing the O(docs)-row table caps the k-hash agg at one pass
    sig = _materialized(shp.groupBy("id").agg(*_sig_aggs(num_hashes)))
    banded = _band_keys(sig, num_hashes, bands)
    # The band self-join STAYS a join (r16 A/B, measured): the banded
    # table is O(docs x bands) — small enough that AQE broadcasts one
    # side (BroadcastHashJoin in the committed plan, no exchange at
    # all), and the _expand_bucket_pairs rewrite (one (band, key)
    # ObjectHashAggregate) measured consistently SLOWER at sf0.1
    # (interleaved mins 2.6 vs 3.5 s, medians 14.7 vs 46.2 s in the
    # loud window). Past the broadcast threshold the planner falls
    # back to a shuffle join on its own — the join form lets AQE pick,
    # the aggregate form forces an exchange at every scale.
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if verify_threshold is None:
        return cands
    # Exact Jaccard over candidate pairs only, via per-doc shingle
    # ARRAYS (r09 rewrite; the same per-doc-array idiom the prefix
    # filter join proved at 100x): one collect_set agg turns the
    # shingle table into |docs| array rows, the (small) candidate list
    # joins it twice by id — AQE broadcasts the candidates, so the
    # arrays never re-shuffle — and the intersection runs in-task with
    # array_intersect. The previous shape routed candidate pairs
    # through the exploded shingle table with an (id, shingle)-keyed
    # join, which re-shuffled EVERY shingle occurrence on the string
    # key and then needed a separate sizes agg + two more joins; at
    # the 500k-doc corpus that exchange was most of the verify cost
    # (SCALING.md round-9). inter and the set sizes are the identical
    # integers, so the rounded Jaccard — and the oracle contract — is
    # bit-for-bit unchanged. Per-doc array length is |distinct
    # shingles| ~ doc tokens, the bound every per-doc-array op in this
    # module already carries.
    arrs = _materialized(
        shp.groupBy("id").agg(F.collect_set("shingle").alias("__shs"))
    )
    return (
        cands.join(
            arrs.select(F.col("id").alias("id_a"), F.col("__shs").alias("__sa")),
            "id_a",
        )
        .join(
            arrs.select(F.col("id").alias("id_b"), F.col("__shs").alias("__sb")),
            "id_b",
        )
        .withColumn("__inter", F.size(F.array_intersect("__sa", "__sb")))
        # zero-overlap band collisions never survived the old
        # intersection inner-join for ANY threshold; keep that contract
        # even for verify_threshold <= 0 ("score all candidates")
        .filter(F.col("__inter") > 0)
        .withColumn(
            "jaccard",
            F.round(
                F.col("__inter")
                / (F.size("__sa") + F.size("__sb") - F.col("__inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def plan_pair_enumeration(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    pairs_per_doc_cutoff: float = 2.0,
) -> DataFrame:
    """Route the pair-enumeration strategy from a measured statistic
    (r14 verdict item 6, measured r15 — SCALING.md "Routing rule for
    the pair-heavy regime"): a 1-row plan frame
    ``(n_docs, cand_pairs_upper, pairs_per_doc, route)`` deciding
    between :func:`minhash_lsh_pairs` and
    :func:`prefix_filter_jaccard_pairs` for a corpus.

    The statistic is the BAND-BUCKET pair volume: after minhash
    banding, a bucket of s docs contributes s·(s−1)/2 band collisions;
    the sum over buckets is an upper bound on the distinct candidate
    set (a pair agreeing on k bands is counted k times — the bound
    errs toward routing to minhash, the measured-safe direction). It
    is computed WITHOUT any pairwise join — shingle → signature →
    band keys → one (band, key) count + a 1-row aggregate — i.e. it
    prices candidate volume for strictly less than the cost of
    enumerating candidates, and n_docs falls out of the same
    aggregation (Σs over buckets = docs × bands). Per the r14 advisor
    rule (a stat must be amortized), this is a PLANNING pass: run it
    once per corpus family and reuse the route across the ingest
    loop, not per batch.

    The routing rule it encodes is the r15 two-corpus measurement
    (tools/ab_routing_pairheavy.py, fresh-JVM interleaved medians, 3
    reps, identical J≥0.6 spec): candidate-dominated corpus
    (sf100x_de, 54.6 pairs/doc) — minhash 120.3 s vs prefix 245.2 s
    at IDENTICAL output (recall exactly 1.0: high-J duplicates hit
    every band, the exact verify emits precisely the qualifying set);
    pair-sparse corpus (sf100x_docs, 0.05 pairs/doc) — minhash
    26.6 s vs prefix 38.4 s but 7 borderline-J pairs dropped (recall
    0.9997). So: above the cutoff, minhash wins outright and
    losslessness is not even being paid for; below it, the lossless
    guarantee costs ~45% wall and is worth buying for a dedup engine
    whose outputs feed oracles/audits. Callers that REQUIRE provable
    completeness should bypass the router and call the prefix filter
    directly — no statistic can license dropping that guarantee.

    Scale shape: one shingle scan, the map-side-combining signature
    agg (one row per doc), a (band, key) count shuffle whose payload
    is O(docs × bands) key rows, one 1-row aggregate. No join, no
    candidate materialization. The rounded pairs_per_doc (6dp, exact
    integer inputs) makes the route decision bit-reproducible across
    engines."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    sh = _doc_shingles(df, id_col, text_col, shingle_n).withColumn(
        "hp", _base_hash(F.col("shingle"))
    )
    sig = sh.groupBy("id").agg(*_sig_aggs(num_hashes))
    buckets = _band_keys(sig, num_hashes, bands).groupBy("band", "key").agg(
        F.count(F.lit(1)).alias("s")
    )
    stats = buckets.agg(
        F.coalesce(
            F.sum(F.expr("(s * (s - 1)) div 2")), F.lit(0)
        ).cast("bigint").alias("cand_pairs_upper"),
        F.coalesce(F.sum("s"), F.lit(0)).cast("bigint").alias("__sum_s"),
    ).select(
        (F.col("__sum_s") / F.lit(bands)).cast("bigint").alias("n_docs"),
        "cand_pairs_upper",
    )
    ppd = F.when(
        F.col("n_docs") > 0,
        F.round(F.col("cand_pairs_upper") / F.col("n_docs"), 6),
    )
    return stats.select(
        "n_docs",
        "cand_pairs_upper",
        ppd.alias("pairs_per_doc"),
        F.when(ppd >= F.lit(pairs_per_doc_cutoff), F.lit("minhash"))
        .otherwise(F.lit("prefix_filter"))
        .alias("route"),
    )


def routed_duplicate_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 8,
    bands: int = 4,
    pairs_per_doc_cutoff: float = 2.0,
) -> DataFrame:
    """The router EXECUTED, not just reported: price the corpus with
    :func:`plan_pair_enumeration`, enumerate near-dup pairs with the
    chosen strategy (minhash above the density cutoff, the lossless
    prefix filter below it — the r15 two-corpus measurement's rule),
    then cluster with connected components. Output
    ``(id, component, route)`` — the route rides along so a consumer
    (or an oracle) can see which leg produced the clusters. This is
    the autoplanner-dogfooding pattern (ep4 executes
    plan_equi_join's choice the same way): statistics pick the plan,
    the plan runs, the decision is visible in the result.

    The plan read is a 1-row ``.collect()`` — constant-bounded, the
    audited autoplanner idiom. Both legs verify exact Jaccard at
    ``threshold`` over the same ``shingle_n``-token shingles, so below
    the cutoff the output is provably complete, and above it the
    banding loss is the priced trade (measured 0 on the dense corpus,
    3e-4 on the sparse one — SCALING.md r15)."""
    plan = plan_pair_enumeration(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n, pairs_per_doc_cutoff=pairs_per_doc_cutoff,
    ).collect()[0]
    if plan["route"] == "minhash":
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, verify_threshold=threshold,
        )
    else:
        pairs = prefix_filter_jaccard_pairs(
            df, id_col, text_col, n=shingle_n, threshold=threshold
        )
    return (
        connected_components(pairs.select("id_a", "id_b"))
        .select(F.col("node").alias(id_col), "component")
        .withColumn("route", F.lit(plan["route"]))
    )


# --- duplicate clusters (connected components) -------------------------------

# Rounds used by the most recent connected_components call — exposed so
# tests and SCALING.md can compare convergence of the two algorithms.
last_cc_rounds: int = 0


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    algorithm: str = "label_prop",
) -> DataFrame:
    """(node, component): connected components over an undirected pair
    list — the final step of every near-dup pipeline, turning pairwise
    matches into duplicate *clusters* keyed by the smallest member id
    (the canonical survivor).

    Two interchangeable algorithms (identical results):

    - ``label_prop`` (default): iterative min-label propagation — each
      round every node takes the min of its own label and its
      neighbors'; converges in O(component diameter) rounds. Near-dup
      clusters are shallow, so this is the right default: a handful of
      cheap join+groupBy rounds.
    - ``two_phase``: alternating large-star/small-star (Kiveris et
      al., "Connected Components in MapReduce and Beyond", 2014) —
      each round rewires strictly-larger neighbors (large-star) then
      smaller neighbors (small-star) onto the local minimum, halving
      component height per round: O(log diameter) rounds. The scale
      path when a 100 TB dup graph can contain one giant, DEEP
      component (e.g. chained near-dups), where label propagation
      would need O(diameter) full-shuffle rounds (measured on a
      256-node path graph: 9 two-phase rounds vs >50 label-prop —
      see SCALING.md).

    Each round is a bounded number of shuffles, all JVM-side;
    ``localCheckpoint`` truncates the plan so lineage doesn't grow
    with iterations. ``last_cc_rounds`` reports the rounds the last
    call used.
    """
    if algorithm == "two_phase":
        return _cc_two_phase(pairs, src, dst, max_iter)
    if algorithm != "label_prop":
        raise ValueError(f"unknown connected-components algorithm: {algorithm!r}")
    e = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "lbl", F.col("node")
    )
    global last_cc_rounds
    lbl_type = dict(labels.dtypes)["lbl"]
    for i in range(max_iter):
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), "lbl"
        )
        # One job per round instead of three (r17, guide §2.6): the
        # previous label rides through the min-aggregate as ``__old``
        # (every node appears exactly once in ``labels``, so max() over
        # the union — null for neighbor messages — recovers it exactly),
        # replacing the new-vs-old join; the checkpoint is LAZY (the
        # logical plan is truncated to an RDD scan either way — eager
        # only adds a materialization job) so the changed-count action
        # below materializes it and counts in the same job.
        new_labels = (
            labels.select("node", "lbl", F.col("lbl").alias("__old"))
            .unionByName(
                msgs.withColumn("__old", F.lit(None).cast(lbl_type))
            )
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"), F.max("__old").alias("__old"))
        ).localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("lbl") != F.col("__old")).count()
        labels = new_labels.select("node", "lbl")
        if changed == 0:
            last_cc_rounds = i + 1
            break
    else:
        last_cc_rounds = max_iter
    edges.unpersist()
    return labels.select("node", F.col("lbl").alias("component"))


def _cc_two_phase(
    pairs: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al. 2014,
    §3): repeatedly rewrite the edge list so every edge points at a
    smaller node, converging to one star per component rooted at its
    minimum. Per round:

    - large-star: for every node u with neighborhood Γ(u) and local
      min m(u) = min(Γ(u) ∪ {u}), replace each edge to a STRICTLY
      LARGER neighbor v>u with (v, m(u));
    - small-star: for every u with smaller-neighbors Γ<(u) ≠ ∅ and
      m = min(Γ<(u)), connect u and each v ∈ Γ<(u) to m.

    Both phases keep every emitted edge (big, small)-oriented, so the
    invariant a > b holds and convergence is a fixed point of the edge
    set. Fixed points are detected DIRECTLY on each round's output
    (r17, guide §2.6 — cut driver round-trips): a (big, small)-oriented
    edge set is a fixed point of large-star/small-star iff it is a
    union of stars, i.e. every node has at most one parent
    (count == count_distinct(a), folded into the round's existing
    count job) and no parent is itself a child (an empty b ∩ a
    semi-join, one tiny probe run only when the functional test
    passes). The previous output-equals-input check (count + exceptAll
    against the prior round) could only observe stability one full
    round LATE — every call paid an entire confirming round of ~5
    shuffles just to watch nothing change. Component height halves per
    round: O(log diameter) rounds of a constant number of shuffles
    each."""
    global last_cc_rounds
    # LAZY checkpoints throughout (r17, guide §2.6): localCheckpoint
    # truncates the logical plan to an RDD scan in both modes — eager
    # mode only adds a dedicated materialization job. Counting the
    # lazily-checkpointed frame materializes it AND returns the count
    # in ONE job, so each round costs one job (plus the exceptAll
    # fixed-point probe only in the round whose count matches).
    edges = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    last_cc_rounds = max_iter
    for i in range(max_iter):
        # symmetrize once per round: both endpoints need Γ(u)
        nb = edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # large-star
        lmin = (
            nb.groupBy("a")
            .agg(F.min("b").alias("__mb"))
            .select("a", F.least("a", "__mb").alias("m"))
        )
        large = (
            nb.join(lmin, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star over the large-star output (symmetrized)
        snb = large.unionByName(
            large.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).filter(F.col("b") < F.col("a"))
        smin = snb.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            snb.join(smin, "a")
            .select(F.col("b").alias("v"), F.col("m"))
            .unionByName(smin.select(F.col("a").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # one job: materialize the (lazy) checkpoint AND compute both
        # star-test statistics — |small| and |distinct parents|
        row = small.agg(
            F.count("*").alias("__n"), F.count_distinct("a").alias("__na")
        ).first()
        stable = row["__n"] == row["__na"] and (
            small.join(
                small.select(F.col("a").alias("b")), "b", "left_semi"
            )
            .limit(1)
            .count()
            == 0
        )
        edges = small
        if stable:
            last_cc_rounds = i + 1
            break
    # star edges are (member, root); roots label themselves
    return (
        edges.select(F.col("a").alias("node"), F.col("b").alias("component"))
        .unionByName(
            edges.select(F.col("b").alias("node"), F.col("b").alias("component"))
        )
        .distinct()
    )


# --- SimHash -----------------------------------------------------------------
def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 64-bit SimHash of the token set as a 64-char
    '0'/'1' string (MSB first). Bit b of each token comes from its md5;
    the doc's bit is the sign of the +/-1 vote sum. A bitstring (not a
    bigint) keeps it sign-safe and engine-portable.

    Plan shape: explode tokens -> one groupBy computing 64 conditional
    sums (all map-side combinable) -> concat. No Python, no second pass.
    """
    tok = spread(df, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", F.md5(F.col("tok")))
    votes = []
    for bit in range(64):
        digit = bit // 4  # hex digit index (0-based), MSB first
        within = 3 - (bit % 4)  # bit within the hex digit, MSB first
        val = F.conv(F.col("h").substr(digit + 1, 1), 16, 10).cast("int")
        is_set = val.bitwiseAND(F.lit(1 << within)) > 0
        votes.append(
            F.sum(F.when(is_set, 1).otherwise(-1)).alias(f"v{bit}")
        )
    agg = tok.groupBy("id").agg(*votes)
    bits = [
        F.when(F.col(f"v{b}") >= 0, F.lit("1")).otherwise(F.lit("0")) for b in range(64)
    ]
    return agg.select("id", F.concat(*bits).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming <= max_hamming) over 64-bit
    SimHashes — the pigeonhole block join (see hamming_near_pairs, the
    generic engine it shares with multimodal perceptual hashing)."""
    sig = _materialized(simhash64(df, id_col, text_col))
    return hamming_near_pairs(
        sig, "id", "simhash", max_hamming=max_hamming, blocks=blocks
    )


def hamming_near_pairs(
    sig: DataFrame,
    id_col: str,
    bits_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near pairs (id_a < id_b, hamming <= max_hamming) over ANY 64-bit
    '0'/'1'-string signature column, blocked by the pigeonhole trick:
    split the signature into ``blocks`` equal bit-blocks — any pair
    within Hamming distance blocks-1 agrees exactly on at least one
    block — and self-join on (block index, block value). Candidate
    generation shuffles short block keys only; the exact Hamming count
    (64 codegen'd char compares, no UDF) runs per candidate, never per
    pair of rows. Requires ``max_hamming < blocks`` for lossless
    candidate recall. Shared by SimHash (text) and pHash (images)."""
    assert max_hamming < blocks, "pigeonhole needs max_hamming < blocks"
    assert 64 % blocks == 0
    blen = 64 // blocks
    sig = sig.select(F.col(id_col).alias("id"), F.col(bits_col).alias("simhash"))
    block_cols = [
        F.struct(
            F.lit(b).alias("blk"),
            F.substring("simhash", b * blen + 1, blen).alias("bv"),
        )
        for b in range(blocks)
    ]
    blk = sig.select(
        "id", "simhash", F.explode(F.array(*block_cols)).alias("b")
    ).select("id", "simhash", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv"))
    a, b = blk.alias("a"), blk.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = sum(
        F.when(
            F.substring("sh_a", i + 1, 1) != F.substring("sh_b", i + 1, 1), 1
        ).otherwise(0)
        for i in range(64)
    )
    return (
        cands.withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- embedding cosine near-dup ------------------------------------------------
def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """Near-dup pairs by embedding cosine, blocked by sign-LSH bucket:
    only vectors whose hyperplane signature matches are compared, so
    the exact-cosine join is per-bucket, not global. More planes ->
    smaller buckets -> cheaper exact phase but more missed pairs (the
    standard LSH recall/cost dial)."""
    sig = spread(df, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.vec"), F.col("b.vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --- cross-batch dedup -------------------------------------------------------

# Default hash seeds for the DataFrame-native Bloom filter (k = 4
# hash functions; xxhash64 with distinct seeds is the standard
# independent-hash family trick).
_BLOOM_SEEDS = (0x9E3779B9, 0x85EBCA6B, 0xC2B2AE35, 0x27D4EB2F)


def bloom_build(
    fps: DataFrame,
    fp_col: str = "fingerprint",
    num_bits: int = 1 << 23,
    seeds: tuple[int, ...] = _BLOOM_SEEDS,
) -> DataFrame:
    """Distributed Bloom filter over a fingerprint column, represented
    as bitmap rows ``(word: long, bits: long)`` — bit ``p`` of the
    filter lives at word ``p >> 6``, bit ``p & 63``. One explode to k
    hash positions (JVM xxhash64, one seed per hash) and one
    ``bit_or`` aggregation; at most ``num_bits/64`` output rows
    regardless of input size. Unlike ``df.stat.bloomFilter`` this
    never leaves the DataFrame world: the filter can be persisted as a
    tiny table, UNION + bit_or-merged with the next batch's filter
    (incremental maintenance), and broadcast into probe plans —
    exactly what a 100 TB ingest loop wants to keep between batches."""
    pos_cols = [
        F.pmod(F.xxhash64(F.col(fp_col), F.lit(s)), F.lit(num_bits)).alias(f"p{i}")
        for i, s in enumerate(seeds)
    ]
    return (
        fps.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .select(
            F.shiftright("pos", 6).alias("word"),
            # F.shiftleft only takes a literal shift; the SQL form
            # accepts a column expression
            F.expr("shiftleft(1L, cast(pos % 64 AS int))").alias("__bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_might_contain(
    df: DataFrame,
    fp_col: str,
    bloom: DataFrame,
    num_bits: int = 1 << 23,
    seeds: tuple[int, ...] = _BLOOM_SEEDS,
    out_col: str = "__might_contain",
) -> DataFrame:
    """Annotate ``df`` with a boolean: could ``fp_col`` be in the set
    the ``bloom`` bitmap (from :func:`bloom_build`) was built over?
    False is definitive (no false negatives); True needs an exact
    check. Probe shape: k broadcast hash joins of the ≤num_bits/64-row
    bitmap on the word index plus codegen'd bit tests — entirely
    JVM-side, no UDF, no shuffle of ``df``."""
    out = df
    conds = []
    for i, s in enumerate(seeds):
        pos = F.pmod(F.xxhash64(F.col(fp_col), F.lit(s)), F.lit(num_bits))
        out = (
            out.withColumn(f"__p{i}", pos)
            .withColumn(f"__w{i}", F.shiftright(f"__p{i}", 6))
            .withColumn(
                f"__m{i}", F.expr(f"shiftleft(1L, cast(__p{i} % 64 AS int))")
            )
        )
        side = bloom.select(
            F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__b{i}")
        )
        out = out.join(F.broadcast(side), f"__w{i}", "left")
        conds.append(
            F.coalesce(F.col(f"__b{i}"), F.lit(0)).bitwiseAND(F.col(f"__m{i}"))
            != 0
        )
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    helper = [
        c
        for i in range(len(seeds))
        for c in (f"__p{i}", f"__w{i}", f"__m{i}", f"__b{i}")
    ]
    return out.withColumn(out_col, cond).drop(*helper)


def dedup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    order_by: list[F.Column] | None = None,
    bloom_bits: int | None = None,
) -> DataFrame:
    """Incremental-ingest exact dedup: the training-pipeline core loop
    where each new crawl batch is deduplicated (a) within itself and
    (b) against everything already ingested, represented by ``store``
    — a frame with a ``fingerprint`` column (e.g. the accumulated
    output of this function). Survivors carry their fingerprint so the
    caller appends them straight back to the store.

    Scale shape: in-batch dedup is the usual single (fingerprint, id)
    shuffle; the store check is a LEFT ANTI join on the fingerprint —
    Spark broadcasts it while the store is small and falls back to a
    shuffled anti-join beyond the threshold, both correct. At 100 TB
    of history the store side is the 32-char fingerprint column only
    (pruned scan), never the corpus itself.

    ``bloom_bits`` arms the Bloom pre-screen (VERDICT r04 item 5):
    probe a :func:`bloom_build` bitmap of the store first — batch rows
    the filter rules out (the VAST majority when batches are mostly
    novel) skip the anti-join entirely and only might-contain
    candidates reach it, so the exchange on the batch side carries
    ~|dups| + fpp·|batch| rows instead of |batch| (measured 250→7 rows
    at the unit fixture; SCALING.md has the sf0.1 numbers). Survivors
    are identical either way — Bloom negatives are definitive. In a
    real ingest loop, build the bitmap ONCE from the store table and
    bit_or-merge each batch's :func:`bloom_build` output into it
    instead of rebuilding per batch."""
    in_batch = dedup_exact(new_docs, id_col, text_col, order_by=order_by)
    fps = store.select("fingerprint").distinct()
    if bloom_bits is None:
        return in_batch.join(fps, "fingerprint", "left_anti")
    bloom = bloom_build(fps, "fingerprint", bloom_bits)
    flagged = bloom_might_contain(
        in_batch, "fingerprint", bloom, bloom_bits
    )
    fresh = flagged.filter(~F.col("__might_contain")).drop("__might_contain")
    cands = flagged.filter(F.col("__might_contain")).drop("__might_contain")
    return fresh.unionByName(cands.join(fps, "fingerprint", "left_anti"))


def minhash_band_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The persistent LSH index of a corpus: (id, band, key) rows —
    O(docs × bands), independent of document length. This is what the
    incremental near-dup gate keeps between crawl batches instead of
    the corpus itself."""
    assert num_hashes % bands == 0, "bands must divide num_hashes"
    sh = _doc_shingles(df, id_col, text_col, shingle_n).withColumn(
        "hp", _base_hash(F.col("shingle"))
    )
    sig = sh.groupBy("id").agg(*_sig_aggs(num_hashes))
    return _band_keys(sig, num_hashes, bands)


def minhash_lsh_against_store(
    new_docs: DataFrame,
    band_store: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup gate — the fuzzy sibling of
    ``dedup_against_store``: a new crawl batch is checked against the
    accumulated ``minhash_band_store`` index; any new doc sharing a
    full LSH band with history is dropped as a probable near-dup.
    Returns ``(survivors, survivor_band_rows)`` — append the latter to
    the store to keep the index current. Signature params MUST match
    the ones the store was built with.

    Trade documented: band collision is treated as duplicate without
    an exact-Jaccard verify, because verification would need the
    historical TEXT — exactly what a 100 TB pipeline cannot afford to
    rejoin per batch. With 8 hashes / 4 bands the false-positive rate
    at Jaccard 0.3 is ~9% per pair; tighten with more hashes/rows per
    band if precision matters more than recall. In-batch near-dups are
    a separate concern — run ``minhash_lsh_pairs`` on the survivors.

    Scale shape: the join shuffles band KEYS (strings), never shingles
    or text; the store side is the compact index. Both sides prune to
    (band, key, id)."""
    nb = minhash_band_store(
        new_docs, id_col, text_col, num_hashes, bands, shingle_n
    )
    nb = _materialized(nb)
    collided = (
        nb.join(band_store.select("band", "key").distinct(), ["band", "key"], "leftsemi")
        .select("id")
        .distinct()
    )
    survivors = new_docs.join(
        collided.withColumnRenamed("id", id_col), id_col, "left_anti"
    )
    survivor_bands = nb.join(collided, "id", "left_anti")
    return survivors, survivor_bands


def span_dedup(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
) -> DataFrame:
    """Exact SPAN dedup at fixed token-window granularity — the
    within-and-across-document variant of exact dedup (the C4 /
    "Deduplicating Training Data Makes Language Models Better"
    [Lee et al. 2022] recipe, at chunk resolution instead of suffix
    resolution): each document is cut into consecutive
    ``span_tokens``-token chunks, the FIRST occurrence of each
    distinct chunk corpus-wide survives (order: smallest doc id, then
    position), all later occurrences are dropped, and documents are
    reassembled from their surviving chunks. Returns
    (id, clean_text, n_kept, n_dropped).

    Scale shape: one explode to (doc, idx, chunk) — corpus-token
    sized; one window keyed on the chunk text (hash-partitioned by
    chunk, no global ordering); one groupBy(doc) reassembly. At
    100 TB, key the window on a chunk HASH and keep the text only on
    the surviving row."""
    toks = tokens(F.col(text_col))
    # greatest(1, ...): F.sequence(0, -1) would generate a DESCENDING
    # [0, -1] on a zero-token doc (Spark's auto-negative step), not an
    # empty range — pin empty docs to one empty chunk instead
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size(toks) / F.lit(span_tokens)).cast("int")
    )
    chunked = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.slice(toks, i * span_tokens + 1, span_tokens),
            )
        ).alias("idx", "chunk"),
    ).select("id", "idx", F.array_join("chunk", " ").alias("ctext"))
    w = Window.partitionBy("ctext").orderBy("id", "idx")
    ranked = chunked.withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rn") == 1, F.struct("idx", "ctext")
                        )
                    )
                ),
                lambda s: s.ctext,
            ),
            " ",
        ).alias("clean_text"),
        F.sum((F.col("__rn") == 1).cast("int")).cast("bigint").alias("n_kept"),
        F.sum((F.col("__rn") > 1).cast("int")).cast("bigint").alias("n_dropped"),
    )


def span_dedup_sliding(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Sliding-window span dedup — the suffix-resolution refinement of
    ``span_dedup`` (VERDICT r05 item 6). Fixed non-overlapping chunks
    miss boilerplate that STRADDLES a chunk boundary; Lee et al. 2022
    remove *variable-position* duplicate substrings. This gets within
    ``stride`` tokens of that: candidate windows of ``span_tokens``
    tokens start every ``stride`` tokens (stride < span => overlap), a
    window is a duplicate when its exact text occurred earlier
    corpus-wide (first occurrence ordered by smallest doc id, then
    position — span_dedup's rule), and every TOKEN covered by some
    duplicate window is dropped, so a repeated passage is removed
    wherever it sits, not only when it aligns to a chunk grid. Tokens
    survive unless a duplicate window covers them; each document's
    survivors reassemble in order. Returns
    (id, clean_text, n_tokens_kept, n_tokens_dropped).

    Scale shape (100 TB): the windows explode is corpus-token-sized ×
    the span/stride overlap factor (2× at the defaults — the fidelity
    dial: stride=1 IS token-resolution suffix matching at span/1 cost);
    the first-occurrence window is hash-partitioned on the window TEXT
    (key it on a hash and drop the text early at scale, as span_dedup
    documents); covered positions explode only from DUPLICATE windows
    (boilerplate-sized, not corpus-sized); the final reassembly is one
    groupBy(doc). No self-join, no global order.
    """
    base = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    )
    # full-length windows only: starts 0, stride, ... <= n - span. A
    # doc shorter than one span emits no windows (nothing long enough
    # to count as a duplicated span) but its tokens still flow through
    # the kept side below. Derived from the projected __toks array —
    # text_col no longer exists past the `base` projection.
    n = F.size("__toks")
    starts = F.when(
        n >= span_tokens,
        F.sequence(F.lit(0), n - span_tokens, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        "id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.alias("start"),
                    F.array_join(
                        F.slice(F.col("__toks"), s + 1, span_tokens), " "
                    ).alias("wtext"),
                ),
            )
        ).alias("w"),
    ).select("id", F.col("w.start").alias("start"), F.col("w.wtext").alias("wtext"))
    w = Window.partitionBy("wtext").orderBy("id", "start")
    dup_wins = (
        wins.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select("id", "start")
    )
    covered = dup_wins.select(
        "id",
        F.explode(
            F.sequence(F.col("start") + 1, F.col("start") + span_tokens)
        ).alias("pos"),
    ).distinct()
    toks_pos = base.select(
        "id", F.posexplode("__toks").alias("pos0", "tok")
    ).select("id", (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks_pos.join(covered, ["id", "pos"], "left_anti")
    reassembled = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.tok,
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_kept"),
    )
    totals = base.select("id", F.size("__toks").cast("bigint").alias("__n"))
    return (
        totals.join(reassembled, "id", "left")
        .select(
            "id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("bigint").alias("n_tokens_kept"),
            (F.col("__n") - F.coalesce("n_tokens_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_tokens_dropped"),
        )
    )
