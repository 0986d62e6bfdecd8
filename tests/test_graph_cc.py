"""Large-star/small-star connected components against a pure-Python
union-find (integer and string ids, self, duplicate and reversed
pairs), their round bounds on deep components through ``max_iter``,
and zero-in-degree node retention in pagerank (round-4 ADVICE)."""

from __future__ import annotations

import random

import pytest

from evidence_images_etl_airflow_spark.operators.dedup import connected_components
from evidence_images_etl_airflow_spark.operators.graph import pagerank


def _components(spark, edges, max_iter=50, schema=("id_a", "id_b")):
    df = spark.createDataFrame(edges, schema)
    out = connected_components(df, max_iter=max_iter)
    return {r["node"]: r["component"] for r in out.collect()}


def _union_find(edges):
    """node -> smallest member of its component; a node seen only in
    self-pairs is absent, as in connected_components."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _messy_edges(rng, nodes, n_edges):
    """Random pairs plus self-pairs, duplicates and reversed copies."""
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(n_edges)]
    edges += [(n, n) for n in rng.sample(nodes, 5)]
    edges += rng.sample(edges, 10)
    edges += [(b, a) for a, b in rng.sample(edges, 10)]
    rng.shuffle(edges)
    return edges


def test_components_match_union_find(spark):
    for seed in (7, 8, 9):
        edges = _messy_edges(random.Random(seed), list(range(120)), 110)
        got = _components(spark, edges, schema="id_a long, id_b long")
        assert got == _union_find(edges), seed


def test_components_match_union_find_string_ids(spark):
    # er_golden_record clusters p_name strings: labels are the
    # lexicographic minimum, so "n10" < "n9"
    rng = random.Random(17)
    edges = _messy_edges(rng, [f"n{i}" for i in range(80)], 70)
    got = _components(spark, edges, schema="id_a string, id_b string")
    assert got == _union_find(edges)


def test_two_phase_converges_logarithmically_on_path(spark):
    # a 256-node path is the adversarial deep component: label
    # propagation would need ~255 rounds, large-star/small-star
    # O(log diameter)
    edges = [(i, i + 1) for i in range(255)]
    tp = _components(spark, edges, max_iter=12)
    assert set(tp.values()) == {0}
    assert len(tp) == 256


def test_two_phase_converges_on_short_path(spark):
    edges = [(i, i + 1) for i in range(31)]
    assert _components(spark, edges, max_iter=8) == {i: 0 for i in range(32)}


def test_two_phase_raises_when_rounds_run_out(spark):
    # the labels after 3 rounds would be partial clusters
    with pytest.raises(RuntimeError, match="3 rounds"):
        _components(spark, [(i, i + 1) for i in range(255)], max_iter=3)


def test_two_phase_multiple_components_and_self_pairs(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 30)]
    tp = _components(spark, edges)
    assert tp[1] == tp[2] == tp[3] == 1
    assert tp[10] == tp[11] == 10
    assert tp[30] == tp[31] == 30
    # a pure self-pair carries no connectivity information
    assert 20 not in tp


def test_pagerank_keeps_zero_in_degree_nodes(spark):
    # directed: 1 -> 2 -> 3; node 1 has out-edges but NO in-edges and
    # must stay in the result at the base rank (round-4 ADVICE fix)
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    assert set(ranks) == {1, 2, 3}
    n = 3
    base = 0.15 / n
    assert abs(ranks[1] - base) < 1e-12
    # rank mass flows 1 -> 2 -> 3, so rank(3) > rank(2) > rank(1)
    assert ranks[3] > ranks[2] > ranks[1]


def test_pagerank_uniform_cycle(spark):
    # a 4-cycle is rank-symmetric: every node keeps exactly 1/N
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"]
    )
    ranks = [r["rank"] for r in pagerank(edges, iterations=4).collect()]
    assert len(ranks) == 4
    for r in ranks:
        assert abs(r - 0.25) < 1e-9


def test_pagerank_symmetric_matches_default_path(spark):
    # irregular undirected graph, listed once per direction
    rng = random.Random(11)
    und = {tuple(sorted(rng.sample(range(40), 2))) for _ in range(90)}
    und |= {(i, i + 1) for i in range(39)}  # connected: every node has edges
    edges = spark.createDataFrame(
        [e for a, b in und for e in ((a, b), (b, a))], "src long, dst long"
    )
    fast = {r.node: r.rank for r in pagerank(edges, symmetric=True).collect()}
    slow = {r.node: r.rank for r in pagerank(edges).collect()}
    assert set(fast) == set(slow) == set(range(40))
    assert max(abs(fast[n] - slow[n]) for n in slow) < 1e-12
    assert abs(sum(fast.values()) - 1.0) < 1e-12


def test_triangle_count_hand_crafted(spark):
    """K4 plus a pendant: 4 triangles, wedge count by hand, duplicate/
    reversed/self-loop edges cleaned. Clustering = 3*4/14."""
    from evidence_images_etl_airflow_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = k4 + [(3, 4)] + [(1, 0), (2, 2), (0, 1)]  # reversed dup, loop, dup
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    assert r.n_nodes == 5
    assert r.n_edges == 7
    # degrees: 0,1,2 -> 3; 3 -> 4; 4 -> 1  => wedges = 3*3 + 6 + 0 = 15
    assert r.n_wedges == 15
    assert r.n_triangles == 4
    assert r.global_clustering == round(12 / 15, 6)


def test_triangle_count_triangle_free(spark):
    from evidence_images_etl_airflow_spark.operators.graph import triangle_count

    # star graph: wedges but no triangles
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    r = triangle_count(df).collect()[0]
    assert (r.n_triangles, r.n_wedges) == (0, 6)
    assert r.global_clustering == 0.0


def test_decay_trending_half_life_and_partition_invariance(spark):
    """A value 7 days older contributes exactly half (the embedded
    half-life); decimal-summed terms are identical under repartition."""
    from pyspark.sql import functions as F

    from evidence_images_etl_airflow_spark.workload import REGISTRY  # noqa: F401

    day_us = 86400000000
    rows = [(1, 0 * day_us, "a", 100.0), (2, 7 * day_us, "b", 100.0),
            (3, 7 * day_us, "c", 100.0)]
    df = spark.createDataFrame(rows, "event_id long, ts_us long, event_type string, value double")
    mx = df.agg(F.max("ts_us").alias("mu"))
    terms = df.crossJoin(F.broadcast(mx)).select(
        "event_type",
        F.round(
            F.col("value")
            * F.exp(F.lit(-0.099021) * ((F.col("mu") - F.col("ts_us")) / F.lit(86400000000.0))),
            6,
        ).cast("decimal(18,6)").alias("term"),
    )
    got = {r.event_type: float(r.s) for r in terms.groupBy("event_type").agg(F.sum("term").alias("s")).collect()}
    import math
    assert got["b"] == 100.0 and got["c"] == 100.0  # age 0
    half = 100.0 * math.exp(-0.099021 * 7)
    assert abs(got["a"] - round(half, 6)) < 1e-9
    assert abs(got["a"] - 50.0) < 0.01  # ln2/7 to 6dp: half-life ~7d
    # partition invariance of the decimal sum
    t2 = {r.event_type: float(r.s) for r in terms.repartition(13).groupBy("event_type").agg(F.sum("term").alias("s")).collect()}
    assert got == t2
