"""Similarity search over embedding columns (SURVEY.md §7 M7).

Three tiers, mirroring how ANN systems scale:
- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  The query side is tiny and broadcast, so the corpus is scanned once
  with no shuffle of the corpus itself; per-query top-k is a window
  over (query, score).
- ``lsh_topk``: sign-LSH bucketed search — queries only meet corpus
  vectors in their hyperplane bucket. At 100 TB the bucket join
  replaces the full scan-per-query with an equality shuffle on the
  bucket key; recall is tunable via the number of planes.
- ``ivf_topk``: inverted-file search — the corpus is partitioned into
  cells by nearest centroid; queries probe only their ``nprobe``
  closest cells. The cell assignment is the one full corpus pass (in
  production, materialize it partitioned by cell id so search never
  rescans); per-query cost then follows cell sizes, and recall is the
  nprobe dial.

Scores fold in double precision (functions.vectors) and are rounded to
6dp *before* ranking so the top-k cut is reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.functions.partitioning import spread
from evidence_images_etl_airflow_spark.functions.vectors import (
    cosine,
    dot,
    hyperplane_signature,
)
from evidence_images_etl_airflow_spark.storage import read_parquet


def _rank_topk(scored: DataFrame, score: str, k: int) -> DataFrame:
    """Each query's top-k rows of ``scored`` by ``score`` descending,
    ties to the smaller ``neighbor_id``, with their ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cosine_topk(pairs: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cos_sim, rank): exact top-k by cosine
    over candidate ``(query_id, qvec, neighbor_id, cvec)`` pairs,
    self-matches excluded."""
    scored = pairs.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
    )
    return _rank_topk(scored, "cos_sim", k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector (self-matches
    excluded). Returns (query_id, neighbor_id, cos_sim, rank)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = spread(corpus, F.col(id_col)).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    return _cosine_topk(c.crossJoin(F.broadcast(q)), k)


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
) -> DataFrame:
    """(id, vec, cell): each corpus vector assigned to its nearest
    centroid by cosine (ties -> smallest centroid id). Centroids are
    assumed tiny (hundreds..thousands) and broadcast; the corpus is
    touched exactly once, with no corpus-side shuffle until the
    per-vector argmax window on the corpus id."""
    cent = F.broadcast(
        centroids.select(F.col(centroid_id_col).alias("cell"), F.col(vec_col).alias("centv"))
    )
    scored = corpus.crossJoin(cent).select(
        id_col,
        vec_col,
        "cell",
        F.round(cosine(F.col(vec_col), F.col("centv")), 6).alias("__cs"),
    )
    # Argmax as ONE map-side-combinable aggregate instead of a
    # row_number window (r17, guide §2.3 "aggregate before you
    # shuffle"): the window shuffled and sorted the FULL |corpus| x
    # |centroids| cross join — vector payload included — where the
    # aggregate's partial max_by collapses each task's rows to one per
    # id before the exchange, so the shuffle carries |corpus| rows and
    # the sort disappears. Key order matches the window exactly:
    # max(__cs) first (same polarity, so NaN/-0.0 ordering is
    # unchanged), then the SMALLEST cell via the negated id — cell ids
    # are numeric by the operator's contract (every caller passes
    # bigint ids). Keys are unique per group (cell is part of the
    # key), so the aggregate is deterministic.
    best = scored.groupBy(id_col).agg(
        F.max_by(
            F.struct(F.col(vec_col), F.col("cell")),
            F.struct(F.col("__cs").alias("__cs"), (-F.col("cell")).alias("__nc")),
        ).alias("__best")
    )
    return best.select(
        id_col,
        F.col(f"__best.{vec_col}").alias(vec_col),
        F.col("__best.cell").alias("cell"),
    )


def _probe_cells(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_id_col: str,
    nprobe: int,
) -> DataFrame:
    """(query_id, qvec, cell): each query's ``nprobe`` nearest cells by
    6dp-rounded cosine (ties -> smallest cell). Queries are small by
    contract; the result broadcasts into candidate generation."""
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("cell"), F.col(vec_col).alias("centv")
        )
    )
    qscored = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).crossJoin(cent).select(
        "query_id",
        "qvec",
        "cell",
        F.round(cosine(F.col("qvec"), F.col("centv")), 6).alias("__cs"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__cs").desc(), F.col("cell"))
    return (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qvec", "cell")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: search only the query's ``nprobe``
    nearest cells. Same output shape as brute_force_topk; recall is
    bounded by whether true neighbors share a probed cell.

    ``centroids`` is the trained codebook (any deterministic source —
    offline k-means, or a seeded sample); passing it in keeps the
    operator itself fully deterministic and engine-reproducible."""
    cells = assign_cells(corpus, centroids, id_col, vec_col, centroid_id_col)
    probed = _probe_cells(queries, centroids, id_col, vec_col, centroid_id_col, nprobe)
    c = cells.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "cell"
    )
    return _cosine_topk(c.join(F.broadcast(probed), "cell"), k)


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
) -> None:
    """Materialize the IVF index: the corpus assigned to cells and
    written PARTITIONED BY cell. This is the 'one full pass' the
    ``ivf_topk`` docstring defers to production — after it, search
    never rescans the corpus: the cell directories are partition-pruned
    at the scan, so a query batch reads only its probed cells' files.
    Re-run on codebook changes; append new vectors by assigning against
    the same centroids."""
    cells = assign_cells(corpus, centroids, id_col, vec_col, centroid_id_col)
    # one output task per cell -> one file per cell directory, not
    # tasks × cells small files (same rationale as writers.write_partitioned)
    cells.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search over a materialized index (``build_ivf_index``):
    probe cells are computed from the query batch and pushed into the
    scan as a static partition filter (``cell IN (...)``), so only the
    probed cells' files are opened — at 100 TB the scan cost follows
    probed-cell bytes, not corpus bytes.

    The probed-cell list is collected to the driver: it is bounded by
    |queries| × nprobe (query batches are small by the operator's
    contract — they broadcast), which keeps the pruning static and
    visible in the plan rather than relying on runtime DPP."""
    probed = _probe_cells(queries, centroids, id_col, vec_col, centroid_id_col, nprobe)
    probe_cells = [r["cell"] for r in probed.select("cell").distinct().collect()]
    index = read_parquet(spark, index_path).filter(F.col("cell").isin(probe_cells))
    c = index.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"), "cell"
    )
    return _cosine_topk(c.join(F.broadcast(probed), "cell"), k)


def _subspace_slices(df: DataFrame, key: Column, vec_col: str, m: int) -> DataFrame:
    """(key, sub, __v, __slice): one row per subspace ``sub`` < m of each
    vector ``__v`` of ``df``, with its ``sub``-th of m equal slices."""
    width = (F.size("__v") / m).cast("int")
    subs = F.explode(F.array(*[F.lit(s) for s in range(m)])).alias("sub")
    return df.select(key, subs, F.col(vec_col).alias("__v")).withColumn(
        "__slice", F.slice(F.col("__v"), (F.col("sub") * width + 1).cast("int"), width)
    )


def pq_codebooks_from_rows(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    n_codes: int = 8,
) -> DataFrame:
    """Deterministic PQ codebooks: the sub-slices of the first
    ``n_codes`` corpus vectors (by id) become each subspace's
    codewords -> (sub, code, subvec). Same contract as ``ivf_topk``'s
    centroids: production swaps in per-subspace k-means offline; a
    deterministic source keeps the operator engine-reproducible and
    oracle-checkable. One tiny driver-free plan — |m·n_codes| rows."""
    base = corpus.filter(F.col(id_col) < n_codes)
    return _subspace_slices(base, F.col(id_col).alias("code"), vec_col, m).select(
        "sub", "code", F.col("__slice").alias("subvec")
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
) -> DataFrame:
    """Product-quantization encoding: each vector becomes ``m`` small
    integer codes -> (id, code_0..code_{m-1}), its nearest codeword
    per subspace by inner product (6dp-rounded, ties -> smallest
    code). THE compression step that makes web-scale ANN affordable:
    a 64-float (256 B) embedding collapses to m codes (~m bytes with
    byte-range codebooks), so the scoring pass touches ~1/64th the
    bytes and the full-precision vectors stay on disk for optional
    re-ranking. One corpus pass + one |m·n_codes|-row broadcast join +
    one groupBy(id) shuffle of (id, sub, code) triples; materialize
    the result like ``build_ivf_index`` so search never re-encodes."""
    cb = F.broadcast(codebooks)
    sliced = _subspace_slices(corpus, F.col(id_col).alias("id"), vec_col, m)
    scored = sliced.join(cb, "sub").select(
        "id",
        "sub",
        "code",
        F.round(dot(F.col("__slice"), F.col("subvec")), 6).alias("__ip"),
    )
    # Per-subspace argmax folded into ONE groupBy(id) aggregation
    # (r17, guide §2.3/§2.4): the previous shape paid an (id, sub)
    # window exchange + sort over |corpus| x m x n_codes scored rows
    # AND a second (id) exchange for the code pivot; m conditional
    # max_by aggregates compute the same winners in a single exchange
    # whose partial aggregation collapses to one row per id map-side.
    # Key order matches the window exactly: max __ip first (same
    # polarity — NaN/-0.0 ordering unchanged), ties to the SMALLEST
    # code via the negated (integer by construction: codes are corpus
    # ids) code. Keys are unique per (id, sub) since code is part of
    # the key, so the aggregate is deterministic; rows of other
    # subspaces have a NULL key and are ignored by max_by.
    return scored.groupBy("id").agg(
        *[
            F.max_by(
                F.when(F.col("sub") == s, F.col("code")),
                F.when(
                    F.col("sub") == s,
                    F.struct(
                        F.col("__ip").alias("__ip"),
                        (-F.col("code")).alias("__nc"),
                    ),
                ),
            ).alias(f"code_{s}")
            for s in range(m)
        ]
    )


def _adc_lookup_tables(
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
) -> DataFrame:
    """Per-query ADC lookup tables: (query_id, sub, code, __t) where
    ``__t`` is the 6dp-rounded inner product of the query's subspace
    slice with that codeword. |queries| × m × n_codes rows —
    broadcast-small by the query-batch contract. Shared by
    pq_adc_topk / ivf_pq_topk / ivf_pq_topk_indexed so the table
    derivation (slice bounds, rounding, tie order) cannot drift
    between the direct and indexed paths."""
    cb = F.broadcast(codebooks)
    sliced = _subspace_slices(queries, F.col(id_col).alias("query_id"), vec_col, m)
    return sliced.join(cb, "sub").select(
        "query_id",
        "sub",
        "code",
        F.round(dot(F.col("__slice"), F.col("subvec")), 6).alias("__t"),
    )


def _adc_topk(
    cand: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    k: int,
) -> DataFrame:
    """ADC-score candidate rows ``(id, code_0..code_{m-1}[, query_id])``
    and cut each query's top-k -> (query_id, neighbor_id, approx_ip,
    rank). The lookup tables are grouped into ONE broadcast row per
    query holding m ``code -> __t`` maps (codes are unique per
    subspace), joined on ``query_id``, or paired with every query when
    the candidates carry none. A row whose code is NULL or has no entry
    in its subspace's map is dropped, as an inner join on the code would
    drop it; the m looked-up values sum in FIXED subspace order before
    the 6dp round, so scores are engine-deterministic. Self-matches
    are excluded; ties rank by ``neighbor_id``."""
    dt = _adc_lookup_tables(queries, codebooks, id_col, vec_col, m)
    tables = F.broadcast(
        dt.groupBy("query_id").agg(
            *[
                F.map_from_entries(
                    F.collect_list(
                        F.when(F.col("sub") == s, F.struct("code", "__t"))
                    )
                ).alias(f"__m{s}")
                for s in range(m)
            ]
        )
    )
    if "query_id" in cand.columns:
        out = cand.join(tables, "query_id")
    else:
        out = cand.crossJoin(tables)
    found = F.col("id") != F.col("query_id")
    total = None
    for s in range(m):
        mp, code = F.col(f"__m{s}"), F.col(f"code_{s}")
        found = found & F.map_contains_key(mp, code)
        total = mp[code] if total is None else total + mp[code]
    scored = out.filter(found).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        F.round(total, 6).alias("approx_ip"),
    )
    return _rank_topk(scored, "approx_ip", k)


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds
    an |m × n_codes| inner-product lookup table against the codebooks,
    and every corpus vector's approximate similarity is m table
    lookups summed in FIXED subspace order (engine-deterministic) —
    never a touch of the original vectors. Returns (query_id,
    neighbor_id, approx_ip, rank). At 100 TB: the codes table is the
    only per-corpus-row input, the lookup tables ride ONE broadcast of
    one row per query (m code -> score maps), and the only corpus-sized
    shuffle is the per-query top-k window. Compose with IVF cells to
    prune candidates first; re-rank the survivors with exact cosine
    against the full vectors when recall matters."""
    return _adc_topk(codes, queries, codebooks, id_col, vec_col, m, k)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    m: int = 4,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ: the web-scale ANN composition — IVF cells bound WHICH
    vectors are scored (candidates = the query's ``nprobe`` cells),
    product quantization bounds the BYTES each score touches (m codes,
    not the vector). Corpus cost is the two one-time passes (cell
    assignment + PQ encode — materialize both in production, the codes
    join the cell layout); per query-batch cost is |probed cells'
    rows| × m map lookups in one per-query broadcast + one top-k
    window. Same output shape as the other tiers with ``approx_ip`` as
    the score; recall is the nprobe × codebook-resolution dial pair,
    re-rank survivors with exact cosine when it matters."""
    cells = assign_cells(corpus, centroids, id_col, vec_col, centroid_id_col)
    codes = pq_encode(corpus, codebooks, id_col, vec_col, m)
    probed = _probe_cells(queries, centroids, id_col, vec_col, centroid_id_col, nprobe)
    cand = (
        cells.select(F.col(id_col).alias("id"), "cell")
        .join(F.broadcast(probed.select("query_id", "cell")), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", "id")
    )
    return _adc_topk(cand.join(codes, "id"), queries, codebooks, id_col, vec_col, m, k)


def build_ivf_pq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    m: int = 4,
) -> None:
    """Materialize the IVF-PQ index: PQ codes co-laid-out with their
    IVF cells — one row per corpus vector (id, code_0..code_{m-1})
    written PARTITIONED BY cell, one file per cell directory. This is
    the materialization ``pq_encode``'s docstring promises: after the
    two one-time corpus passes (cell assignment + encode) run HERE,
    search never re-encodes and never rescans — a query batch reads
    only its probed cells' code files (partition-pruned at the scan),
    each ~m bytes/vector instead of the full embedding. Re-run on
    codebook/centroid changes; append new vectors by assigning +
    encoding against the same frozen codebooks (PQ codes are only
    comparable within one codebook generation)."""
    cells = assign_cells(corpus, centroids, id_col, vec_col, centroid_id_col)
    codes = pq_encode(corpus, codebooks, id_col, vec_col, m)
    laid_out = cells.select(F.col(id_col).alias("id"), "cell").join(codes, "id")
    # one output task per cell -> one file per cell directory (the
    # build_ivf_index rationale; codes are tiny, so tiny-file risk is
    # the failure mode, not file size)
    laid_out.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(path)


def ivf_pq_topk_indexed(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "cid",
    m: int = 4,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-PQ search over a materialized index (``build_ivf_pq_index``)
    — value-identical to ``ivf_pq_topk`` with both corpus passes
    amortized away: probe cells become a static partition filter on
    the codes scan (``cell IN (...)`` — same driver-side bounded
    collect as ``ivf_topk_indexed``, |queries| × nprobe cells), then
    the ADC lookup maps score only the surviving code rows. At
    100 TB the per-batch cost is probed-cell code bytes × m map
    lookups in one per-query broadcast + one top-k window; the
    embeddings table is never touched (re-rank survivors via
    ``rerank_exact`` when recall matters)."""
    probed = _probe_cells(queries, centroids, id_col, vec_col, centroid_id_col, nprobe)
    probe_cells = [r["cell"] for r in probed.select("cell").distinct().collect()]
    index = read_parquet(spark, index_path).filter(F.col("cell").isin(probe_cells))
    cand = (
        index.join(F.broadcast(probed.select("query_id", "cell")), "cell")
        .filter(F.col("id") != F.col("query_id"))
        .drop("cell", "qvec")
    )
    return _adc_topk(cand, queries, codebooks, id_col, vec_col, m, k)


def rerank_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """The re-rank stage every compressed/approximate retrieval recipe
    ends with: take a shortlist of (query_id, neighbor_id) candidates
    (from ADC, LSH, or IVF) and score ONLY those with exact cosine
    against the full-precision vectors, then cut to top-k. Cost
    follows |candidates| — the full vectors are fetched for the
    shortlist alone (a keyed join against the corpus, which at 100 TB
    is a point-lookup-shaped probe of the vector store, not a scan).
    Queries broadcast as everywhere in this module."""
    q = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        candidates.select("query_id", "neighbor_id")
        .join(c, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, "cos_sim", k)


def matryoshka_truncate(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 16,
    out_col: str | None = None,
    renormalize: bool = True,
) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first ``dims``
    coordinates and (optionally) L2-renormalize the prefix. MRL-trained
    embedding models front-load information so the d/2 or d/4 prefix is
    a usable lower-cost embedding; truncation is THE storage/compute
    dial for a 100 TB vector corpus (half the dims = half the scan
    bytes, half the ADC table width, half the index memory) — provided
    recall holds, which embedding_matryoshka_recall measures.

    Cosine similarity is invariant to renormalization (it divides by
    both norms), so retrieval quality is identical either way;
    ``renormalize=False`` keeps the raw float prefix for byte-stable
    cross-engine comparison, ``renormalize=True`` emits unit-norm
    doubles so downstream dot products ARE cosines (the form a serving
    stack wants). Pure column expressions — row-local, no shuffle, and
    at scale this is a projection the parquet scan prunes to: reading
    only the prefix of a fixed-width array column still scans full
    values, so MATERIALIZE the truncated column if it is the serving
    representation."""
    pref = F.slice(F.col(vec_col), 1, dims)
    if not renormalize:
        return df.withColumn(out_col or vec_col, pref)
    # materialize the norm into its own column FIRST: embedding the
    # aggregate inside the transform lambda would re-evaluate the
    # O(dims) fold once per output element (O(dims^2)/row) — the same
    # factoring the oracle side fixed in _norm_expr_sql
    nrm = F.sqrt(
        F.aggregate(
            pref.cast("array<double>"), F.lit(0.0), lambda a, v: a + v * v
        )
    )
    out = F.when(
        F.col("__mrl_nrm") > 0,
        F.transform(pref, lambda v: v.cast("double") / F.col("__mrl_nrm")),
    ).otherwise(pref.cast("array<double>"))
    return (
        df.withColumn("__mrl_nrm", nrm)
        .withColumn(out_col or vec_col, out)
        .drop("__mrl_nrm")
    )


def int8_scales(
    corpus: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> list[float]:
    """Per-dimension symmetric scale for int8 scalar quantization:
    ``s_d = max(|x_d|)`` over the corpus. ONE scan with ``dim``
    max-aggregates (map-side combined); the result is dim-bounded
    (64 doubles), the same collect budget as the PCA moment solve.
    max/abs never round, so the scales are exact corpus values and
    bit-identical in any engine that widens float32 the same way."""
    row = corpus.agg(
        *[
            F.max(F.abs(F.element_at(F.col(vec_col), i + 1))).alias(f"s{i}")
            for i in range(dim)
        ]
    ).first()
    return [float(row[f"s{i}"]) for i in range(dim)]


def int8_quantize(
    df: DataFrame,
    scales: list[float],
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Symmetric int8 scalar quantization — the third standard
    compression dial next to matryoshka truncation (fewer dims) and PQ
    (codebooks): ``q_d = clamp(floor(x_d * 127 / s_d + 0.5), -127,
    127)`` stored as ``array<tinyint>``, 4x smaller than float32 at
    full dimensionality. Quantization is row-local column expressions
    (no shuffle, no Python); the +0.5-then-floor idiom is the
    round-half-up that both Spark and SQL engines compute identically
    on doubles, unlike ROUND whose half-even/half-away convention
    differs across engines. A zero scale (constant-zero dimension)
    quantizes to 0 rather than dividing by zero."""
    elems = [
        F.when(F.lit(s) == 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(-127),
                F.least(
                    F.lit(127),
                    F.floor(
                        F.element_at(F.col(vec_col), i + 1).cast("double")
                        * 127.0 / F.lit(float(s)) + 0.5
                    ),
                ),
            )
        ).cast("tinyint")
        for i, s in enumerate(scales)
    ]
    return df.withColumn(out_col, F.array(*elems))


def int8_dequantize(
    df: DataFrame,
    scales: list[float],
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """Reconstruct doubles from int8 codes: ``x̂_d = q_d * s_d / 127``
    — the form ADC-style scoring consumes. Left-to-right operand
    order is fixed so a SQL oracle rendering the same expression gets
    bit-identical doubles; downstream cosine folds (functions/vectors)
    are then exactly reproducible cross-engine."""
    sarr = F.array(*[F.lit(float(s)) for s in scales])
    return df.withColumn(
        out_col,
        F.transform(
            F.col(codes_col),
            lambda q, i: q.cast("double")
            * F.element_at(sarr, i + 1) / 127.0,
        ),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, exact cosine within. Same output shape as brute_force_topk;
    rows may be fewer than k when a bucket is small (the approximate
    trade)."""
    sig = lambda df, idname, vecname: df.select(  # noqa: E731
        F.col(id_col).alias(idname),
        F.col(vec_col).alias(vecname),
        hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    q = sig(queries, "query_id", "qvec")
    c = sig(spread(corpus, F.col(id_col)), "neighbor_id", "cvec")
    return _cosine_topk(c.join(F.broadcast(q), "bucket"), k)


def retrieval_metrics(
    retrieved: DataFrame,
    truth: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Graded ranking evaluation of a retrieval run against exact
    ground truth: per query, hits, MRR, and nDCG@k — the metrics that
    decide an ANN index's quality dial beyond recall (recall treats a
    rank-1 and a rank-k hit alike; nDCG does not).

    Both inputs carry ``(query_id, neighbor_id, rank)`` — the shared
    output shape of every top-k operator in this module (truth is
    normally :func:`brute_force_topk` on a sampled query panel).
    Relevance is graded by ground-truth position (``k+1-true_rank``),
    DCG discounts by ``ln``-based log2 of the retrieved rank, and
    every floating term is rounded to 6dp BEFORE the exact DECIMAL
    accumulation (the repo's cross-engine fp idiom), so the report is
    oracle-able bit-for-bit. Queries the approximate leg missed
    entirely still appear (zeros) via the left join from the truth
    query set. Normalization convention: the ideal DCG is that of a
    FULL k-list — supply k ground-truth rows per query
    (:func:`brute_force_topk` does whenever the corpus has k
    non-self rows); with fewer, nDCG deflates conservatively rather
    than inflating against a shrunken ideal. Cost: joins over |queries| x k rows — broadcast-sized
    next to either retrieval leg."""
    t = truth.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", F.col("rank").alias("true_rank")
    )
    r = retrieved.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", F.col("rank").alias("ret_rank")
    )
    ln2 = F.log(F.lit(2.0))
    term = F.round(
        (F.lit(k + 1) - F.col("true_rank")) * ln2
        / F.log(F.col("ret_rank") + 1),
        6,
    ).cast("decimal(18,6)")
    hits = r.join(t, ["query_id", "neighbor_id"], "left")
    perq = hits.groupBy("query_id").agg(
        F.count("true_rank").cast("bigint").alias("n_hit"),
        F.sum(term).alias("__dcg"),
        F.min(
            F.when(F.col("true_rank").isNotNull(), F.col("ret_rank"))
        ).alias("__first_hit"),
    )
    # the ideal DCG is a k-term constant; fold it engine-side with the
    # same per-term 6dp rounding + exact decimal accumulation
    idcg = F.expr(
        f"aggregate(sequence(1, {k}), cast(0 as decimal(38,6)), "
        f"(acc, i) -> acc + cast(round(({k + 1} - i) * ln(2) / ln(i + 1), 6) "
        "as decimal(38,6)))"
    )
    qs = t.select("query_id").distinct()
    return qs.join(perq, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first_hit"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(
            F.coalesce(
                F.col("__dcg").cast("double") / idcg.cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias(f"ndcg_at_{k}"),
    )


def rrf_fuse(
    legs: dict,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of multiple retrieval legs — the
    standard hybrid-search combiner (lexical BM25 + vector ANN, or any
    mix): each leg contributes ``1/(k + rank)`` per candidate, summed.
    RRF needs no score calibration between legs (ranks only), which is
    why it is the default fusion everywhere from Elastic to vector
    DBs; k=60 is the constant from the original Cormack et al. TREC
    work.

    ``legs`` maps leg name -> DataFrame carrying ``(id_col,
    rank_col)``; output: one row per candidate with each leg's rank
    (``<name>_rank``, NULL where absent), the fused ``rrf_score``
    (per-term 6dp rounding + exact DECIMAL accumulation — the
    cross-engine fp idiom) and ``fused_rank`` (score desc, id asc).
    Scale: the union is bounded by Σ leg top-k — tens of rows per
    query — so the global fusion window is free; the heavy lifting
    stays in the legs."""
    if not legs:
        raise ValueError("rrf_fuse needs at least one leg")
    # r11 (ADVICE r10): validate the FULL output column list for
    # duplicates — the per-case checks missed a leg whose '<name>_rank'
    # equals id_col (e.g. id_col='vec_rank', leg 'vec'), which silently
    # produced a duplicate output column.
    out_cols = [id_col, *[f"{n}_rank" for n in legs], "rrf_score", "fused_rank"]
    dupes = sorted({c for c in out_cols if out_cols.count(c) > 1})
    clash = {n for n in legs if n in (id_col, "rrf_score", "fused_rank")}
    if dupes or clash:
        raise ValueError(
            f"rrf_fuse output columns collide: duplicates={dupes}, "
            f"leg names shadowing outputs={sorted(clash)}"
        )
    parts = []
    for name, df in legs.items():
        parts.append(
            df.select(
                F.col(id_col).alias("id"),
                F.col(rank_col).cast("bigint").alias("rank"),
                F.lit(name).alias("leg"),
            )
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    term = F.round(F.lit(1.0) / (F.lit(int(k)) + F.col("rank")), 6).cast(
        "decimal(18,6)"
    )
    aggs = [F.sum(term).alias("__score")] + [
        F.max(F.when(F.col("leg") == name, F.col("rank"))).alias(f"{name}_rank")
        for name in legs
    ]
    fused = u.groupBy("id").agg(*aggs)
    w = Window.orderBy(F.col("__score").desc(), F.col("id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= int(top))
        .select(
            F.col("id").alias(id_col),
            *[F.col(f"{name}_rank") for name in legs],
            F.round(F.col("__score").cast("double"), 6).alias("rrf_score"),
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
        )
    )


def label_centroid_silhouette(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Simplified silhouette (Hruschka et al.'s centroid variant) of a
    labeled embedding corpus: for each vector, a = squared distance to
    its OWN label centroid, b = min squared distance to any OTHER
    label centroid, s = (b − a) / max(a, b) in [−1, 1] — the
    cluster-quality scorecard for an embedding space (are the labels
    actually separable?) and the acceptance gate for re-embedding:
    if a new model's per-label silhouette drops, its space mixes the
    classes the old one separated. The full silhouette needs all
    pairwise distances (quadratic); the centroid form is the standard
    scale substitute and needs one corpus scan against |labels|
    centroids.

    Distributed shape: centroids come from ONE posexplode +
    (label, dim)-grain aggregation — map-side combinable, the
    exchange carries O(partitions × labels × dim) rows no matter how
    many vectors scanned (the drift-profile argument) — re-assembled
    into |labels| centroid arrays (sort_array over dim-keyed structs,
    deterministic) and BROADCAST against the corpus: a bounded
    |labels|-row build side, never an all-pairs join. Per-vector
    distances are sequential left-folds (F.aggregate over zip_with),
    the deterministic float idiom the ANN family uses.

    Exactness: centroid sums use the 6dp-round → DECIMAL(18,6)
    order-independent accumulation idiom; each centroid component is
    ONE IEEE divide of that exact decimal by an integer count;
    distance folds are left-associative doubles mirrored term-for-term
    in oracle SQL; silhouettes round to 6dp BEFORE the per-label mean
    re-accumulates them as DECIMAL(18,6). s = 0 when both distances
    are 0 (a point ON two centroids), NULL when no other label exists.

    Returns per label: ``label, n_vectors, n_negative,
    mean_silhouette`` ordered by label (n_negative = vectors closer
    to a foreign centroid than their own — the misassignment count)."""
    x = df.select(
        F.col(label_col).alias("__lbl"),
        F.posexplode(F.col(vec_col)).alias("__dim", "__v0"),
    ).select(
        "__lbl",
        F.col("__dim").cast("bigint").alias("__dim"),
        F.col("__v0").cast("double").alias("__v"),
    )
    per = x.groupBy("__lbl", "__dim").agg(
        F.sum(F.round(F.col("__v"), 6).cast("decimal(18,6)")).alias("__s"),
        F.count(F.lit(1)).cast("bigint").alias("__cnt"),
    )
    cent = (
        per.withColumn(
            "__c", F.col("__s").cast("double") / F.col("__cnt").cast("double")
        )
        .groupBy("__lbl")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__dim", "__c"))),
                lambda s: s["__c"],
            ).alias("__cvec")
        )
        .select(F.col("__lbl").alias("__clbl"), "__cvec")
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lbl"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
    )
    scored = base.crossJoin(F.broadcast(cent)).withColumn(
        "__d2",
        F.aggregate(
            F.zip_with(
                F.col("__vec"),
                F.col("__cvec"),
                lambda a, c: (a - c) * (a - c),
            ),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ),
    )
    ab = scored.groupBy("__id", "__lbl").agg(
        F.max(
            F.when(F.col("__clbl") == F.col("__lbl"), F.col("__d2"))
        ).alias("__a"),
        F.min(
            F.when(F.col("__clbl") != F.col("__lbl"), F.col("__d2"))
        ).alias("__b"),
    )
    gmax = F.greatest(F.col("__a"), F.col("__b"))
    sil = ab.withColumn(
        "__sil",
        F.when(F.col("__b").isNull(), F.lit(None).cast("double"))
        .when(
            gmax > 0,
            F.round((F.col("__b") - F.col("__a")) / gmax, 6),
        )
        .otherwise(F.lit(0.0)),
    )
    return (
        sil.groupBy(F.col("__lbl").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.coalesce(
                F.sum((F.col("__sil") < 0).cast("int")), F.lit(0)
            ).cast("bigint").alias("n_negative"),
            F.round(
                F.sum(F.col("__sil").cast("decimal(18,6)")).cast("double")
                / F.count(F.col("__sil")).cast("double"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )
