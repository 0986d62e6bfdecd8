"""Iterative graph algorithms on DataFrames (beyond the label
propagation in operators/dedup.connected_components): PageRank by
power iteration.

Scale shape per iteration: one join of the rank vector to the
weighted edge list plus one aggregation onto destinations. When the
rank vector is small it is broadcast, so the (big, cached) edge list
never re-shuffles across iterations and the destination agg is a
map-side combine onto |nodes| keys; past the broadcast threshold the
join falls back to a shuffle on the node key. Iteration state is
localCheckpoint-ed EAGERLY — persist alone caches data but leaves
the logical plan growing two joins per round, so analyzer/AQE
planning cost compounds per iteration (measured 16.7s for 5
iterations at sf0.1 before truncation, ~2s after); checkpointing
replaces the plan with the materialized partitions. Same discipline
as connected_components. Iteration count is fixed (power iteration
converges geometrically; fixed rounds keep the result deterministic
and oracle-comparable).

Key discipline for 100 TB graphs: node ids should be NUMERIC before
they reach this operator — hashing/shuffling long string keys
measurably dominates the iteration cost (the bipartite workload
query encodes 'c123'/'s45' as bigints and decodes only the final
|nodes|-row result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark import caching

# Rank vectors smaller than this broadcast to the edge join; larger
# ones shuffle. ~1M rows of (key, double) is ~tens of MB serialized —
# comfortably under executor broadcast budgets.
_BROADCAST_NODES_MAX = 1_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list ``(src, dst)`` — pass both
    directions for an undirected graph. Every node is assumed to have
    out-degree ≥ 1 (true for undirected graphs; add self-loops or a
    dangling-mass term otherwise). Nodes are the UNION of sources and
    destinations, and each iteration left-joins contributions onto the
    full node set, so a node with no in-edges stays in the result at
    the base rank (1-d)/N instead of silently disappearing after the
    first round.

    ``symmetric=True`` promises, unchecked, that the list is distinct
    and holds both directions of every edge. The operator then skips
    the edge distinct, takes the node set from the out-degree
    aggregation, and drops the per-round left join back onto the node
    set (a symmetric graph has no node without in-edges): one join +
    agg per iteration instead of two, with the same sums (r16).

    Returns ``(node, rank)`` with the uniform 1/N start and
    ``iterations`` fixed power steps."""
    edges = edges.select("src", "dst")
    if not symmetric:
        edges = edges.distinct()
    edges = caching.materialize(edges)
    deg = caching.materialize(
        edges.groupBy("src").agg(F.count("*").alias("__deg"))
    )
    if symmetric:
        # src set == node set: one agg, no extra pass
        nodes = deg.select(F.col("src").alias("node"))
    else:
        nodes = (
            deg.select(F.col("src").alias("node"))
            .union(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
    n = nodes.count()
    small = n <= _BROADCAST_NODES_MAX
    if small:
        # the per-iteration state is |nodes| rows of (key, double);
        # collapsing it to one partition turns every iteration's
        # broadcast-collect + left-join + checkpoint into single-task
        # stages instead of 32 near-empty ones
        nodes = nodes.coalesce(1)
    nodes = caching.materialize(nodes)
    # Fold 1/out-degree into the edge list ONCE: the per-iteration job
    # is then a single join + hash agg over a cached table instead of
    # re-joining degrees every round. The degree table is |nodes| rows
    # — broadcast it below the same threshold so the (big) edge list
    # never shuffles to build the weighted list either. (Coalescing
    # the weighted cache to ~edge-count-sized partitions measured NO
    # in-process A/B win at sf0.1 — best 5.31 s with vs 4.86 s
    # without over 3 alternating trials; the extra count job and
    # cache-read offset the fewer-tasks saving. r07 experiment,
    # reverted.)
    dv = F.broadcast(deg) if small else deg
    # Hash-partition the weighted cache by the key each ITERATION needs
    # (two operations keyed the same way share one exchange): one
    # exchange paid at build time removes the per-iteration exchange
    # from every power step.
    # - small graphs (rank vector broadcasts): the only shuffle per
    #   iteration is the contribution groupBy(dst) — a dst-partitioned
    #   cache satisfies its ClusteredDistribution, so each iteration is
    #   a single map stage (scan -> broadcast join -> complete agg).
    # - big graphs (rank vector shuffles): the rank join itself is the
    #   per-iteration shuffle — a src-partitioned cache keeps the EDGE
    #   list out of it (only the |nodes|-row rank vector moves; the
    #   contribution agg's input is then the joined frame either way).
    weighted = caching.materialize(
        edges.join(dv, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w"))
        .repartition(F.col("dst") if small else F.col("src"))
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(iterations):
        rv = F.broadcast(ranks) if small else ranks
        contrib = (
            weighted.join(rv, weighted.src == rv.node)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("__w")).alias("__in"))
        )
        if symmetric:
            # dst set == node set: the left-join back
            # onto nodes is the identity — skip it and the broadcast
            # it would force. Same summands, same expression, same
            # rows; one join + one broadcast fewer per round.
            ranks = contrib.select(
                F.col("dst").alias("node"),
                (F.lit(base) + F.lit(damping) * F.col("__in")).alias("rank"),
            )
        else:
            cv = F.broadcast(contrib) if small else contrib
            ranks = (
                nodes.join(cv, nodes.node == cv.dst, "left")
                .select(
                    nodes.node,
                    (
                        F.lit(base)
                        + F.lit(damping) * F.coalesce(F.col("__in"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
        # Truncate lineage every round: without it the plan grows two
        # joins per round. localCheckpoint truncates the LOGICAL plan in
        # both modes; LAZY mode additionally folds each round's
        # materialization job into the next round's broadcast build,
        # one driver round-trip fewer per round. Checkpoint blocks are
        # freed by the registry wrapper's hard release at the query
        # boundary.
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact global triangle count + clustering coefficient via DEGREE
    ORIENTATION — the trick that makes triangle counting feasible on a
    100 TB graph. Counting wedges on the raw graph is sum(deg^2):
    one celebrity node with 10M neighbors contributes 10^14 wedges.
    Orienting every edge from its (degree, id)-smaller endpoint to the
    larger one makes each triangle countable exactly once AND bounds
    every out-degree by O(sqrt(m)) [Chiba–Nishizeki], so the wedge join
    is sum(outdeg^2) <= m^1.5 instead — the difference between a day
    and forever on a skewed graph.

    Input: undirected edge list (duplicates and self-loops cleaned
    here). Returns one row: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering) where global_clustering = 3*triangles / wedges
    (0 when wedge-free), wedges counted on the UNDIRECTED graph
    (sum deg*(deg-1)/2). Three shuffles total: the degree agg, the
    orientation join, and the oriented-adjacency collect_set agg —
    the triangle intersections themselves never shuffle (see the
    compact-forward note below).

    The cleaned edge list ``e`` feeds the degree agg, the orientation
    join, and the edge count, and the oriented list ``o`` feeds both
    wedge legs plus the closing-edge table — both are persisted
    (caching.materialize, released by the workload wrapper): without
    it Spark re-derives the caller's whole edge-construction plan for
    EVERY branch, which for the co-purchase graph meant re-running the
    per-order pair self-join ~5x (measured 11.8 s -> see SCALING.md
    round-9 bench note)."""
    from evidence_images_etl_airflow_spark import caching

    e = caching.materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    deg = caching.materialize(
        e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    # orient: from (d, id)-smaller endpoint to larger
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = caching.materialize(
        ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    # Compact-forward triangle counting (Latapy 2008): per oriented
    # edge (s, t), triangles closed at that edge = |N+(s) ∩ N+(t)|,
    # each triangle counted exactly once by the orientation. The
    # adjacency-array formulation replaces the wedge self-join — which
    # MATERIALIZES sum(outdeg²) wedge rows into a shuffle before the
    # closing-edge semi-join can discard them (~35M rows on the sf0.1
    # co-purchase graph, the whole cost of the old plan) — with one
    # edge-sized join against neighbor lists whose length the
    # orientation already bounds at O(sqrt(m)); the intersections run
    # inside codegen with no wedge ever shuffled. Measured 9.2 s ->
    # 4.3 s on the 1.2M-edge / 148M-wedge sf0.1 graph (SCALING.md r9).
    adj = o.groupBy(F.col("s").alias("n")).agg(F.collect_set("t").alias("nbrs"))
    # 1-row aggregate, composed LAZILY via a broadcast cross join (the
    # basket_type_affinity idiom) instead of a driver .first() at
    # construction time: the old shape EXECUTED the whole heavy subtree
    # once per DataFrame construction and then re-ran the deg/edge-count
    # branch again under the caller's action — two action suites per
    # invocation. One plan, one action, every branch reads the shared
    # e/o/deg caches (r16 optimization).
    tri_agg = (
        o.join(adj.select(F.col("n").alias("s"), F.col("nbrs").alias("ns")), "s")
        .join(adj.select(F.col("n").alias("t"), F.col("nbrs").alias("nt")), "t")
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("ns", "nt"))), F.lit(0)
            ).cast("bigint").alias("n_triangles")
        )
    )
    stats = (
        deg.agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("bigint").alias("n_wedges"),
        )
        .crossJoin(F.broadcast(e.agg(F.count("*").cast("bigint").alias("n_edges"))))
        # 1-row side, but NOT broadcast (r16 ADVICE): a broadcast
        # exchange must finish within spark.sql.broadcastTimeout
        # (300 s default), and this side carries the whole compact-
        # forward intersection subtree — on a large graph that turns a
        # slow-but-correct run into a spurious TimeoutException. The
        # replicate-NL hint keeps the single-action composition with
        # ordinary (deadline-free) stages; it is a 1 x 1-row cartesian,
        # so the join itself is free at any scale.
        .crossJoin(tri_agg.hint("shuffle_replicate_nl"))
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") > 0,
               F.round(F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges").cast("double"), 6)
        ).otherwise(F.lit(0.0)).alias("global_clustering"),
    )
