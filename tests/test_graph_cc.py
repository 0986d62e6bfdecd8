"""Two-phase (large-star/small-star) connected components and the
round-5 pagerank fixes: equivalence of the two CC algorithms,
logarithmic round counts on deep components, and zero-in-degree node
retention in pagerank (round-4 ADVICE)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators import dedup
from evidence_images_etl_airflow_spark.operators.dedup import connected_components
from evidence_images_etl_airflow_spark.operators.graph import pagerank


def _components(spark, edges, algorithm, max_iter=50):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    out = connected_components(df, algorithm=algorithm, max_iter=max_iter)
    return {r["node"]: r["component"] for r in out.collect()}


def test_two_phase_matches_label_prop_random(spark):
    rng = random.Random(7)
    edges = [
        (a, b)
        for a, b in {
            tuple(sorted(rng.sample(range(120), 2))) for _ in range(150)
        }
    ]
    lp = _components(spark, edges, "label_prop")
    tp = _components(spark, edges, "two_phase")
    assert lp == tp
    # every component label is the component's own minimum member
    members: dict[int, list[int]] = {}
    for node, comp in tp.items():
        members.setdefault(comp, []).append(node)
    for comp, nodes in members.items():
        assert comp == min(nodes)


def test_two_phase_converges_logarithmically_on_path(spark):
    # a 256-node path is the adversarial deep component: label prop
    # would need ~255 rounds (O(diameter)), two-phase O(log diameter)
    edges = [(i, i + 1) for i in range(255)]
    tp = _components(spark, edges, "two_phase", max_iter=20)
    assert dedup.last_cc_rounds <= 12  # measured: 9
    assert set(tp.values()) == {0}
    assert len(tp) == 256


def test_round_counts_diverge_on_deep_component(spark):
    # small enough that label prop can actually finish: 32-node path
    edges = [(i, i + 1) for i in range(31)]
    tp = _components(spark, edges, "two_phase", max_iter=20)
    tp_rounds = dedup.last_cc_rounds
    lp = _components(spark, edges, "label_prop", max_iter=50)
    lp_rounds = dedup.last_cc_rounds
    assert lp == tp
    assert tp_rounds <= 8  # ~log2(31) + fixpoint check
    assert lp_rounds >= 31  # one hop per round along the path


# a 64-node path: label prop needs 63 hops, two-phase about 7 rounds
_PATH64 = [(i, i + 1) for i in range(63)]


def test_label_prop_raises_when_rounds_run_out(spark):
    # used to return the 10-round partial labels: 54 "components"
    with pytest.raises(RuntimeError, match=r'10 rounds.*algorithm="two_phase"'):
        _components(spark, _PATH64, "label_prop", max_iter=10)


def test_two_phase_raises_when_rounds_run_out(spark):
    # used to return 119 (node, component) rows for 64 nodes
    with pytest.raises(RuntimeError, match="3 rounds"):
        _components(spark, _PATH64, "two_phase", max_iter=3)


def test_two_phase_multiple_components_and_self_pairs(spark):
    edges = [(1, 2), (2, 3), (10, 11), (20, 20), (30, 31), (31, 30)]
    tp = _components(spark, edges, "two_phase")
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
