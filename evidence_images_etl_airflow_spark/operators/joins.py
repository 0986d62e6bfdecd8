"""Shuffle-reduction join patterns beyond broadcast (J1 extensions).

The reference's only join is a two-frame pandas merge
(`dags/evidence_images_processing.py:131-140`); at 100 TB the join
COST is dominated by shuffling non-matching big-side rows. Spark's
AQE injects runtime bloom filters for some shapes
(`spark.sql.optimizer.runtime.bloomFilter.enabled`), but an EXPLICIT
operator matters when the filter must persist across queries/batches
(build once, reuse for a day of loads) or when the build side is a
prior pipeline stage AQE cannot see. This module composes the
DataFrame-native Bloom bitmap from `operators/dedup.py`
(`bloom_build` / `bloom_might_contain` — bit_or-mergeable rows, no
UDF) into join pre-filters.

Scale shape: the small side's KEY SET bloom is ~num_bits/64 rows
(~128 KiB at 2^23 bits) no matter how many rows the small side has —
broadcastable even when the small side itself is NOT. The big side is
pre-filtered entirely map-side (k broadcast word-lookups + bit
tests), so only might-match rows enter the join shuffle; false
positives (~0.1% at default sizing) are eliminated by the exact join
itself, so results are exact, never approximate.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.operators import skew
from evidence_images_etl_airflow_spark.operators.dedup import (
    bloom_build,
    bloom_might_contain,
)
from evidence_images_etl_airflow_spark.session import parallel_actions


def build_key_bloom(
    small: DataFrame, key: str, num_bits: int = 1 << 23
) -> DataFrame:
    """Bloom bitmap over ``small``'s distinct join keys — a tiny
    ``(word, bits)`` table to persist and broadcast into any number of
    later probe plans (the cross-batch reuse AQE's runtime filters
    cannot give you). Build cost: one pass over the small side's key
    column only."""
    return bloom_build(
        small.select(F.col(key).cast("string").alias("__k")).distinct(),
        "__k",
        num_bits=num_bits,
    )


def bloom_prefiltered_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    num_bits: int = 1 << 23,
    bloom: DataFrame | None = None,
) -> DataFrame:
    """Join ``big`` to ``small`` on ``key`` with the big side Bloom
    pre-filtered before any shuffle: rows whose key definitively is
    not in ``small`` drop map-side, so the join exchange carries only
    might-match rows. The exact join then removes Bloom false
    positives — output is identical to ``big.join(small, key, how)``
    (the oracle property the workload query pins). Pass a prebuilt
    ``bloom`` (from :func:`build_key_bloom`) to amortize the build
    across many probe queries/batches. Supported ``how``: inner /
    left_semi (shapes where dropped big-side rows cannot appear in
    the result)."""
    if how not in ("inner", "left_semi", "semi", "leftsemi"):
        raise ValueError(f"bloom prefilter is only sound for inner/semi, got {how}")
    if bloom is None:
        bloom = build_key_bloom(small, key, num_bits)
    probed = bloom_might_contain(
        big.withColumn("__k", F.col(key).cast("string")),
        "__k",
        bloom,
        num_bits=num_bits,
    )
    survivors = probed.filter(F.col("__might_contain")).drop(
        "__k", "__might_contain"
    )
    return survivors.join(small, key, how)


def join_size_by_degree(
    left: DataFrame,
    right: DataFrame,
    key: str,
    top_n: int = 5,
) -> DataFrame:
    """EXACT equi-join output size + per-key skew attribution WITHOUT
    executing the join — the pre-flight check before any fact-fact
    join at 100 TB. |A join B| = sum over keys of n_a(k) * n_b(k), so
    aggregating each side to per-key degrees and joining THOSE (one
    row per distinct key, not per output row) prices the join and
    names the keys that dominate it. The report is what decides the
    strategy: a handful of keys carrying most of the output means
    salting / AQE skew-join; a bounded total means just run it; an
    astronomical total means the join predicate is wrong — discovered
    for the cost of two aggregates instead of an executor-killing
    shuffle. Returns the top_n heaviest keys:
    (key, n_left, n_right, pairs, pct_of_total, total_pairs, rank).

    Scale shape: two map-side-combinable groupBy counts (partial aggs
    shrink each side to its distinct keys before the shuffle), one
    join on the degree tables, a 1-row total broadcast back, and a
    global top-n window over the degree table (WindowGroupLimit keeps
    n rows per partition map-side). Nothing here is ever the size of
    the join output."""
    da = skew._degrees(left, [key], "n_left")
    db = skew._degrees(right, [key], "n_right")
    deg = da.join(db, key).select(
        key, "n_left", "n_right", (F.col("n_left") * F.col("n_right")).alias("pairs")
    )
    total = deg.agg(F.sum("pairs").cast("bigint").alias("total_pairs"))
    w = Window.orderBy(F.col("pairs").desc(), F.col(key))
    return (
        deg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .crossJoin(F.broadcast(total))
        .select(
            key,
            "n_left",
            "n_right",
            "pairs",
            F.round(
                F.col("pairs").cast("double") / F.col("total_pairs").cast("double"), 6
            ).alias("pct_of_total"),
            "total_pairs",
            "rank",
        )
    )


def _edge_profile(
    a: DataFrame, b: DataFrame, key: str
) -> tuple[int, skew._KeyStats, skew._KeyStats]:
    """``(|a ⋈ b|, a's stats, b's stats)`` on ``key`` from ONE 1-row
    action over the full outer join of the two degree tables. The join
    size sums na * nb over matching keys; each side's ``_KeyStats``
    sees all of that side's keys, NULL and unmatched ones included, so
    it equals ``skew._key_stats`` of the side. Integer math."""
    r = (
        skew._degrees(a, [key], "__na")
        .join(skew._degrees(b, [key], "__nb"), key, "full_outer")
        .agg(
            F.coalesce(F.sum(F.col("__na") * F.col("__nb")), F.lit(0)).cast("bigint"),
            *skew._side_aggs("__na"),
            *skew._side_aggs("__nb"),
        )
        .first()
    )
    return r[0], skew._KeyStats(*r[1:4]), skew._KeyStats(*r[4:])


def plan_join_chain(
    tables: dict[str, DataFrame],
    edges: list[tuple[str, str, str]],
    *,
    broadcast_max_rows: int = 1_000_000,
) -> tuple[DataFrame, dict]:
    """Statistics-driven JOIN-ORDER planning for a chain/tree of
    equi-joins (r11) — the step above :func:`plan_equi_join`'s
    physical-strategy choice: before any strategy matters, joining in
    the wrong ORDER (two facts first, the dimension last) can
    materialize an intermediate orders of magnitude larger than the
    final result. Spark's CBO reorders joins only with pre-collected
    ANALYZE TABLE statistics, which ad-hoc pipeline inputs never have;
    this derives the needed cardinalities from the data itself.

    ``edges`` are ``(table_a, table_b, key)`` with ``key`` a column
    present in both frames (alias beforehand); the edge set must form
    a connected acyclic graph over ``tables`` (a chain or star — the
    shapes a key-structured pipeline join has).

    Algorithm (classic System R greedy, left-deep):

    1. profile every edge in one action: its EXACT size |A ⋈ B| and
       both sides' degree statistics on its key, from the two degree
       tables (distinct-key cardinality, never the join output). A
       table's row count is its degree sum on any edge. The profiles
       run concurrently in the caller's Spark job group, so
       ``cancelJobGroup`` cancels them with the rest of the query;
    2. start from the cheapest edge (ties: lexicographic edge label);
    3. repeatedly attach the frontier table minimizing the CHAINED
       estimate ``est(R ⋈ T) = est(R) * |X ⋈ T| div |X|`` where X is
       the already-joined endpoint — the textbook
       containment/uniformity assumption, in integer math so the
       whole decision is cross-engine oracle-able.

    Each step's physical strategy is ``plan_equi_join``'s decision
    rule under ``broadcast_max_rows``. The profiles hold the right
    side's statistics (a base table on its edge key) and the first
    step's left side's; an intermediate left side is measured, and
    only when the right side misses the budget.

    Returns ``(joined, decision)``: the left-deep join in the chosen
    order (output rows/semantics identical to any other order), and
    ``decision`` = {"edge_rows": {label: exact}, "n_rows": {table:
    exact}, "order": [labels], "est_rows": [chained ints],
    "step_decisions": [each step's ``plan_equi_join`` decision]}."""
    if not edges:
        raise ValueError("plan_join_chain needs at least one edge")
    names = set(tables)
    for a, b, _k in edges:
        if a not in names or b not in names:
            raise ValueError(f"edge ({a}, {b}) references unknown table")
    if len(edges) != len(names) - 1:
        raise ValueError(
            f"{len(names)} tables need exactly {len(names) - 1} edges "
            f"(a connected acyclic chain/tree), got {len(edges)}"
        )

    def _label(a: str, b: str) -> str:
        return f"{a}*{b}"

    # Up-front shape checks (ADVICE r11): parallel edges would collide
    # in the 'a*b' label, and a non-key column shared by two tables
    # would make the canonical final select ambiguous only at run time.
    seen_pairs: set[frozenset[str]] = set()
    for a, b, _k in edges:
        if frozenset((a, b)) in seen_pairs:
            raise ValueError(
                f"duplicate edge between tables {a!r} and {b!r} — "
                "parallel edges are not a chain/tree; pre-join or "
                "alias one side"
            )
        seen_pairs.add(frozenset((a, b)))
    edge_keys = {k for _a, _b, k in edges}
    col_owner: dict[str, str] = {}
    for t, df in tables.items():
        for c in df.columns:
            if c in edge_keys:
                continue
            if c in col_owner:
                raise ValueError(
                    f"non-key column {c!r} appears in both tables "
                    f"{col_owner[c]!r} and {t!r} — the joined frame would "
                    "carry duplicate names; rename/alias before planning"
                )
            col_owner[c] = t

    # 1. one profile per edge. They are independent 1-row aggregates,
    # so they run concurrently (guide §2.6); one unioned action
    # measured slower (OPTIMIZATION_r17.md, ep5 row).
    spark = next(iter(tables.values())).sparkSession
    profiles = parallel_actions(
        spark,
        [partial(_edge_profile, tables[a], tables[b], k) for a, b, k in edges],
    )
    edge_rows: dict[str, int] = {}
    side_stats: dict[tuple[str, str], skew._KeyStats] = {}
    for (a, b, k), (rows, sa, sb) in zip(edges, profiles):
        edge_rows[_label(a, b)] = rows
        side_stats[a, k], side_stats[b, k] = sa, sb
    # a table's row count is its degree sum on any edge it sits on
    n_rows = dict.fromkeys(tables, 0) | {t: s.n_rows for (t, _k), s in side_stats.items()}

    step_decisions: list[dict] = []

    def _join(left: DataFrame, new: str, key: str, left_stats=None) -> DataFrame:
        rs = side_stats[new, key]
        ls = None
        if not skew._right_fits("inner", rs, broadcast_max_rows):
            ls = left_stats or skew._key_stats(left, [key])
        joined, dec = skew._plan_from_stats(
            left, tables[new], [key], "inner", ls, rs,
            broadcast_max_rows=broadcast_max_rows,
        )
        step_decisions.append(dec)
        return joined

    # 2. cheapest starting edge
    start = min(edges, key=lambda e: (edge_rows[_label(e[0], e[1])], _label(e[0], e[1])))
    a0, b0, k0 = start
    joined = _join(tables[a0], b0, k0, side_stats[a0, k0])
    in_plan = {a0, b0}
    order = [_label(a0, b0)]
    est = edge_rows[_label(a0, b0)]
    est_rows = [est]

    # 3. greedily attach the frontier table with the smallest chained
    # estimate until every table is in the plan
    remaining = [e for e in edges if e is not start]
    while remaining:
        best = None
        for e in remaining:
            a, b, k = e
            if (a in in_plan) == (b in in_plan):
                continue  # not a frontier edge (yet), or would cycle
            anchor, new = (a, b) if a in in_plan else (b, a)
            chained = est * edge_rows[_label(a, b)] // max(n_rows[anchor], 1)
            cand = (chained, _label(a, b), e, new, k)
            if best is None or cand[:2] < best[:2]:
                best = cand
        if best is None:
            raise ValueError("edges do not form a connected chain/tree")
        chained, label, e, new, k = best
        joined = _join(joined, new, k)
        in_plan.add(new)
        order.append(label)
        est = chained
        est_rows.append(est)
        remaining.remove(e)

    # canonical column order, independent of the chosen join order:
    # join keys in edge-list order, then each table's remaining
    # columns in the caller's ``tables`` order (so two different
    # plans over the same inputs produce position-identical frames).
    keys_in_order = list(dict.fromkeys(k for _a, _b, k in edges))
    rest = [c for df in tables.values() for c in df.columns if c not in keys_in_order]
    joined = joined.select(*keys_in_order, *rest)

    decision = {
        "edge_rows": edge_rows,
        "n_rows": n_rows,
        "order": order,
        "est_rows": est_rows,
        "step_decisions": step_decisions,
    }
    return joined, decision
