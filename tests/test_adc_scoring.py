"""PQ/ADC scoring (``operators.similarity._adc_topk``) against the
per-subspace join shape it replaced: one broadcast inner join per
subspace on (query_id, code_s), kept here as the reference. A row whose
code is NULL or missing from the codebook is dropped, scores are
bit-identical, and tied ``approx_ip`` values rank by ``neighbor_id``."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators.similarity import (
    _adc_lookup_tables,
    _adc_topk,
    pq_adc_topk,
)

M = 2


def _reference(cand, queries, codebooks, k):
    """The per-subspace join loop: each code lookup is its own broadcast
    inner join, the first fanning corpus rows out per query when the
    candidates carry no query_id."""
    dt = _adc_lookup_tables(queries, codebooks, "vec_id", "embedding", M)
    out, total = cand, None
    for s in range(M):
        dts = F.broadcast(
            dt.filter(F.col("sub") == s).select(
                "query_id", F.col("code").alias(f"code_{s}"), F.col("__t").alias(f"__t{s}")
            )
        )
        keys = ["query_id", f"code_{s}"]
        if s == 0 and "query_id" not in cand.columns:
            keys = [f"code_{s}"]
        out = out.join(dts, keys)
        total = F.col(f"__t{s}") if total is None else total + F.col(f"__t{s}")
    scored = out.filter(F.col("id") != F.col("query_id")).select(
        "query_id", F.col("id").alias("neighbor_id"), F.round(total, 6).alias("approx_ip")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_ip").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


@pytest.fixture(scope="module")
def fixture(spark):
    # 2 subspaces of 2 dims, codes 0..2 per subspace
    codebooks = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]), (0, 1, [0.0, 1.0]), (0, 2, [0.5, 0.5]),
            (1, 0, [1.0, 1.0]), (1, 1, [-1.0, 0.25]), (1, 2, [0.1, 0.3]),
        ],
        "sub int, code bigint, subvec array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [0.3, 0.7, 0.2, 0.9]), (101, [0.9, 0.1, -0.4, 0.6])],
        "vec_id bigint, embedding array<double>",
    )
    codes = spark.createDataFrame(
        [
            # ids 1..4 share one code pair: tied approx_ip per query
            (4, 1, 0), (2, 1, 0), (3, 1, 0), (1, 1, 0),
            (5, 2, 1), (6, 0, 2), (7, 2, 2), (100, 2, 0),
            (8, None, 1),  # NULL code: dropped
            (9, 1, None),  # NULL code in the last subspace: dropped
            (10, 7, 0),  # code 7 is in no codebook: dropped
        ],
        "id bigint, code_0 bigint, code_1 bigint",
    )
    return codes, queries, codebooks


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("k", [2, 3, 20])
def test_fanout_shape_matches_per_subspace_joins(spark, fixture, k):
    codes, queries, codebooks = fixture
    got = _rows(pq_adc_topk(codes, queries, codebooks, m=M, k=k))
    assert got == _rows(_reference(codes, queries, codebooks, k))
    ids = {r[1] for r in got}
    assert not ids & {8, 9, 10}  # NULL or unknown code: no row
    assert all(r[0] != r[1] for r in got)  # no self-match (query 100)


def test_tied_scores_rank_by_neighbor_id(spark, fixture):
    codes, queries, codebooks = fixture
    got = pq_adc_topk(codes, queries, codebooks, m=M, k=20).collect()
    for q in (100, 101):
        tied = sorted((r["rank"], r["neighbor_id"]) for r in got
                      if r["query_id"] == q and r["neighbor_id"] in (1, 2, 3, 4))
        assert [n for _, n in tied] == [1, 2, 3, 4]
        assert [r for r, _ in tied] == list(range(tied[0][0], tied[0][0] + 4))


def test_query_keyed_shape_matches_per_subspace_joins(spark, fixture):
    codes, queries, codebooks = fixture
    cand = codes.crossJoin(queries.select(F.col("vec_id").alias("query_id"))).filter(
        (F.col("id") + F.col("query_id")) % 3 != 0
    )
    got = _rows(_adc_topk(cand, queries, codebooks, "vec_id", "embedding", M, 3))
    assert got == _rows(_reference(cand, queries, codebooks, 3))
