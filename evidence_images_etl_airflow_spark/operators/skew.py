"""Skew-mitigation join (salting) — the manual fallback when AQE's
skew-join splitting isn't available or the skew is in a broadcast-
ineligible dimension.

At 100 TB a single hot key (one viral session, one null-ish default
UUID) can put an entire shuffle partition on one executor. Salting
rewrites ``A ⋈ B on k`` as ``A' ⋈ B' on (k, salt)``:

- the large/skewed side gets a RANDOM salt in [0, n)
- the small side is EXPLODED n ways (every salt value per row)

so the hot key spreads over n partitions at the cost of replicating
the small side n times. AQE's runtime skew splitting
(``spark.sql.adaptive.skewJoin``, on in our session factory) is
preferred when it applies; this operator is for engineered pipelines
that must not depend on runtime re-planning (e.g. deterministic
partition layouts before a bucketed write).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.session import parallel_actions

SALT_COL = "__salt"

# fixed dials of the decision rule: the hot-key share of the big side,
# the salt-factor cap, and the sketch's Misra-Gries counters per partition
_SKEW_SHARE, _MAX_SALTS, _MG_CAPACITY = 0.2, 64, 16384


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: Sequence[str],
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to hot keys on the ``skewed`` side.

    The salt is CONTENT-BASED — ``pmod(xxhash64(non-key columns), n)``
    — not ``rand()``, whose output changes under repartition or task
    retry: this operator exists for deterministic layouts that must not
    depend on runtime re-planning. The non-key columns VARY WITHIN a
    join key (a row id, an event timestamp); a salt on the key itself
    would land the whole hot key in one bucket. The small side is
    exploded across every salt so every (key, salt) pair finds its
    match. Output columns match a plain ``skewed.join(small, on, how)``.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    hash_cols = [c for c in skewed.columns if c not in set(on)]
    if not hash_cols:
        raise ValueError(
            "no non-key column: every column is a join key, so a content "
            "salt cannot spread the hot key — add a row-varying column"
        )
    salted = skewed.withColumn(
        SALT_COL,
        F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(num_salts)).cast("int"),
    )
    exploded = small.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(num_salts)]))
    )
    return salted.join(exploded, [*on, SALT_COL], how).drop(SALT_COL)


def _degrees(df: DataFrame, on: Sequence[str], name: str) -> DataFrame:
    """``df``'s degree table: one row per distinct ``on`` key, NULL
    included, with its row count in ``name``. Map-side combinable, so
    it shuffles at distinct-key cardinality, never row cardinality."""
    return df.groupBy(*[F.col(c) for c in on]).agg(F.count("*").cast("bigint").alias(name))


def _side_aggs(d: str) -> list:
    """(n_rows, n_keys, max_degree) aggregates over degree column ``d``;
    a NULL ``d`` (a key this side lacks) counts nowhere."""
    return [
        F.coalesce(F.sum(d), F.lit(0)).cast("bigint"),
        F.count(d).cast("bigint"),
        F.coalesce(F.max(d), F.lit(0)).cast("bigint"),
    ]


def key_skew_profile(df: DataFrame, keys: Sequence[str], top: int = 10) -> DataFrame:
    """Diagnostic: per-key row counts for the heaviest keys plus their
    share of the table — how you decide whether to salt, and with how
    many salts (aim: hottest_key_rows / num_salts <= rows_per_partition
    budget)."""
    total = df.count()
    return (
        _degrees(df, keys, "n_rows")
        .withColumn("share", F.round(F.col("n_rows") / F.lit(total), 6))
        .orderBy(F.col("n_rows").desc(), *keys)
        .limit(top)
    )


class _KeyStats(NamedTuple):
    """A join side's degree statistics on its key. ``n_keys`` is None
    and ``err_bound`` positive only for a compressed sketch."""

    n_rows: int
    n_keys: int | None
    max_degree: int
    err_bound: int = 0


def _key_stats_sketch(df: DataFrame, on: Sequence[str], capacity: int) -> _KeyStats:
    """Bounded-memory degree statistics: the exact ``_key_stats`` agg
    shuffles one row per DISTINCT key — billions of rows for a 100 TB
    fact table, just to plan the join. This variant spends one scan +
    a Misra-Gries heavy-hitter pass instead (``operators/sketches``):
    per-partition summaries of <= capacity counters, merged in a
    shuffle of O(partitions x capacity) rows regardless of key
    cardinality. ``max_degree`` is reported as the MG UPPER bound
    (max merged estimate + summed compression error): every true key
    count is <= its estimate + err_bound, so the planner OVERestimates
    the hot key and errs toward salting — the safe direction (an
    unnecessary salt costs a small-side replication; a missed hot key
    costs an executor). When ``capacity`` >= per-partition distinct
    keys the summaries never compress, err_bound is 0, and the sketch
    decision EQUALS the exact one (what makes the sketch-mode query
    oracle-able). Join keys are serialized to one string with a
    non-printing separator; NULL components map to a sentinel so
    (NULL, x) and ('', x) stay distinct.

    ONE scan total (r11): the MG stage's ``emit_row_count`` sentinel
    carries each partition's exact row sum, so n_rows comes out of the
    same pass as the estimates and the error bound."""
    from evidence_images_etl_airflow_spark.operators.sketches import (
        misra_gries_summaries,
    )

    key = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in on],
    )
    keyed = df.select(key.alias("__k"))
    summ = misra_gries_summaries(keyed, "__k", capacity, emit_row_count=True)
    row = (
        summ.groupBy("item")
        .agg(F.sum("cnt").alias("est"), F.sum("n_rows").alias("nr"))
        .agg(
            F.coalesce(F.sum("nr"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.coalesce(
                F.max(F.when(F.col("item").isNotNull(), F.col("est"))),
                F.lit(0),
            ).cast("bigint").alias("top"),
            F.coalesce(
                F.sum(F.when(F.col("item").isNull(), F.col("est"))), F.lit(0)
            ).cast("bigint").alias("err"),
        )
        .first()
    )
    top, err = int(row.top), int(row.err)
    return _KeyStats(int(row.n_rows), None, top + err, err)


def _key_stats(df: DataFrame, on: Sequence[str]) -> _KeyStats:
    """Exact statistics of a join side: its degree table aggregated to
    one row, a constant-bounded driver read."""
    return _KeyStats(*_degrees(df, on, "__d").agg(*_side_aggs("__d")).first())


# join types whose right (left) side Spark can build into a broadcast
# hash join: only the NON-preserved side of an outer join is buildable.
# A hint on the preserved side is silently ignored and a shuffle join
# runs, so the rule is eligibility-gated (r09 review).
_BUILDS_RIGHT = ("inner", "left", "leftouter", "leftsemi", "semi", "leftanti", "anti", "cross")
_BUILDS_LEFT = ("inner", "right", "rightouter", "cross")


def _right_fits(how: str, rs: _KeyStats, broadcast_max_rows: int) -> bool:
    """Whether the decision rule broadcasts the right side: it fits the
    budget and Spark can build it for this join type. The rule then
    never reads the left side's statistics."""
    return how.lower().replace("_", "") in _BUILDS_RIGHT and rs.n_rows <= broadcast_max_rows


def plan_equi_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    *,
    broadcast_max_rows: int = 1_000_000,
    target_rows_per_task: int = 2_000_000,
    stats_mode: str = "exact",
    lazy_stats: bool = False,
) -> tuple[DataFrame, dict]:
    """Statistics-driven equi-join: measure both sides' key-degree
    profiles, then pick the physical strategy — closing the loop
    ``join_size_by_degree``'s docstring describes. Decision rule, in
    order:

    1. BROADCAST the smaller side when its row count fits
       ``broadcast_max_rows`` AND Spark can build that side for this
       join type (``_BUILDS_RIGHT``/``_BUILDS_LEFT``);
    2. SALT when the bigger side's hottest key alone both exceeds a
       fifth of that side's rows and overflows a shuffle task's row
       budget — the salt factor is DERIVED,
       ceil(hot_rows / target_rows_per_task) clamped to [2, 64],
       instead of the caller-guessed constant ``salted_join`` alone
       requires. Only shapes ``salted_join`` supports are salted
       (skewed side on the left for inner/left; a right-skewed INNER
       join flips sides);
    3. otherwise PLAIN shuffle join (AQE skew splitting still
       applies at runtime) — including skewed shapes salting can't
       express (e.g. right/full outer), which fall through rather
       than raise.

    Returns ``(joined, decision)``: the joined frame has exactly
    ``left.join(right, on, how)``'s columns/semantics regardless of
    strategy (when the two sides share a non-key column name the
    plain join's ambiguous-by-name output is returned as-is, and the
    side-flipping salted shape is disabled), and ``decision`` records
    the stats and choice (strategy, num_salts, per-side
    n_rows/n_keys/max_degree) so a pipeline can log or assert its
    planning. Cost: one degree aggregation per side — the pre-flight
    a 100 TB fact-fact join pays anyway before committing an
    executor-killing shuffle. The pre-flight jobs run in the caller's
    Spark job group (``session.parallel_actions``), so
    ``cancelJobGroup`` cancels them with the rest of the query.
    ``stats_mode="sketch"`` measures with ``_key_stats_sketch`` instead.

    ``lazy_stats=True`` (r11): measure
    the RIGHT side first and skip the left side's pre-flight entirely
    when the right side already fits the broadcast budget for this
    join type — the common dim-join case then costs one small-side
    aggregation and the 100 TB fact side is never scanned before the
    join itself. ``decision["left"]`` is None when skipped. Off by
    default: the both-sides profile is what the oracle-checked
    autoplan queries assert."""
    on = list(on)
    if stats_mode == "exact":
        stats = partial(_key_stats, on=on)
    elif stats_mode == "sketch":
        stats = partial(_key_stats_sketch, on=on, capacity=_MG_CAPACITY)
    else:
        raise ValueError(
            f"stats_mode must be 'exact' or 'sketch', got {stats_mode!r}"
        )
    if lazy_stats:
        # the left pre-flight is CONDITIONAL on the right result
        rs = stats(right)
        ls = None if _right_fits(how, rs, broadcast_max_rows) else stats(left)
    else:
        # both independent pre-flights run concurrently (guide §2.6):
        # ~max(side) wall clock instead of the sum
        rs, ls = parallel_actions(
            left.sparkSession, [partial(stats, right), partial(stats, left)]
        )
    return _plan_from_stats(
        left, right, on, how, ls, rs, broadcast_max_rows=broadcast_max_rows,
        target_rows_per_task=target_rows_per_task, stats_mode=stats_mode,
    )


def _plan_from_stats(
    left: DataFrame, right: DataFrame, on: list[str], how: str,
    ls: _KeyStats | None, rs: _KeyStats, *, broadcast_max_rows: int,
    target_rows_per_task: int = 2_000_000, stats_mode: str = "exact",
) -> tuple[DataFrame, dict]:
    """:func:`plan_equi_join`'s decision rule over statistics already
    measured: ``ls``/``rs`` are the left/right side's ``_KeyStats`` on
    ``on``. ``ls`` may be None only when :func:`_right_fits`, the one
    case the rule never reads it. ``plan_equi_join`` calls this after
    measuring; ``joins.plan_join_chain`` calls it with the statistics
    its edge profiles already hold."""

    def _rec(s) -> dict | None:
        if s is None:
            return None
        rec = {"n_rows": s.n_rows, "n_keys": s.n_keys, "max_degree": s.max_degree}
        if stats_mode == "sketch":
            rec["err_bound"] = s.err_bound
        return rec

    h = how.lower().replace("_", "")
    # duplicate non-key names: the plain join keeps both (ambiguous by
    # name), so no by-name reorder is possible — and the side-flipped
    # salted shape would change column ORDER, so flipping is disabled.
    dup_names = bool(
        {c for c in left.columns if c not in on} & set(right.columns)
    )

    # Semi/anti joins output ONLY the left side's columns, so a by-name
    # reorder would raise UNRESOLVED_COLUMN (r09 ADVICE); salting never
    # applies to them and a broadcast hint keeps column order.
    semi_anti = h in ("leftsemi", "semi", "leftanti", "anti")

    def _canonical(j: DataFrame) -> DataFrame:
        if dup_names or semi_anti:
            return j
        return j.select(
            *on,
            *[c for c in left.columns if c not in on],
            *[c for c in right.columns if c not in on],
        )

    decision = {
        "left": _rec(ls),
        "right": _rec(rs),
        "num_salts": None,
        "stats_mode": stats_mode,
    }
    if _right_fits(how, rs, broadcast_max_rows):
        decision["strategy"] = "broadcast_right"
        return _canonical(left.join(F.broadcast(right), on, how)), decision
    if h in _BUILDS_LEFT and ls.n_rows <= broadcast_max_rows:
        decision["strategy"] = "broadcast_left"
        return _canonical(F.broadcast(left).join(right, on, how)), decision

    big_is_left = ls.n_rows >= rs.n_rows
    bs = ls if big_is_left else rs
    skewed = (
        bs.max_degree > _SKEW_SHARE * bs.n_rows
        and bs.max_degree > target_rows_per_task
    )
    # salted_join supports inner/left with the skewed side on the LEFT;
    # a right-skewed join may flip sides only when inner (and when no
    # duplicate names would make the flipped column order observable).
    # Everything else falls through to plain (AQE's runtime skew split
    # still catches it) instead of raising mid-pipeline (r09 review).
    saltable = (
        (big_is_left and h in ("inner", "left", "leftouter"))
        or (not big_is_left and h == "inner" and not dup_names)
    )
    if skewed and saltable:
        n = -(-bs.max_degree // target_rows_per_task)  # ceil div
        n = int(max(2, min(_MAX_SALTS, n)))
        decision["strategy"] = "salted"
        decision["num_salts"] = n
        # salted_join accepts only the exact spellings inner/left —
        # forward the NORMALIZED type, not the caller's raw string, so
        # Spark-accepted variants like "leftouter"/"LEFT" that pass the
        # saltable gate don't raise mid-pipeline (r09 ADVICE).
        sh = "inner" if h == "inner" else "left"
        j = (
            salted_join(left, right, on, num_salts=n, how=sh)
            if big_is_left
            else salted_join(right, left, on, num_salts=n, how=sh)
        )
        return _canonical(j), decision
    decision["strategy"] = "shuffle"
    return _canonical(left.join(right, on, how)), decision


# payload bytes per atomic Spark type (simpleString form). This is the
# EXACT on-wire payload estimate (what a shuffle row carries as data),
# not Tungsten's in-memory layout — the stable, engine-portable number
# a partition advisor can be oracled against.
_FIXED_WIDTH = {
    "bigint": 8, "long": 8, "double": 8, "timestamp": 8,
    "timestamp_ntz": 8, "int": 4, "integer": 4, "date": 4, "float": 4,
    "smallint": 2, "short": 2, "tinyint": 1, "byte": 1, "boolean": 1,
}


def table_size_stats(df: DataFrame) -> DataFrame:
    """One-row ``(n_rows, est_total_bytes)`` payload-size statistics of
    a frame, computed EXACTLY in one aggregation pass: fixed-width
    types contribute width x n_rows (nulls counted at full width —
    a deliberate overestimate, the safe direction for sizing);
    string/binary columns contribute their exact ``octet_length`` sum.
    Decimals count 16 bytes. Nested types are refused rather than
    silently under-counted. All integer math — bit-identical across
    engines, which is what lets the partition advisor be oracled."""
    fixed = 0
    sums = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in ("string", "binary"):
            sums.append(
                F.coalesce(
                    F.sum(F.octet_length(F.col(f.name))), F.lit(0)
                ).cast("bigint")
            )
        elif t.startswith("decimal"):
            fixed += 16
        elif t in _FIXED_WIDTH:
            fixed += _FIXED_WIDTH[t]
        else:
            raise ValueError(
                f"table_size_stats: unsupported column type {t!r} for "
                f"{f.name!r} — project nested/complex columns away or "
                "serialize them first"
            )
    n = F.count("*").cast("bigint")
    total = n * F.lit(fixed)
    for s in sums:
        total = total + s
    return df.agg(
        n.alias("n_rows"), total.cast("bigint").alias("est_total_bytes")
    )


def plan_shuffle_partitions(
    stats: DataFrame,
    target_bytes_per_partition: int = 128 << 20,
    min_partitions: int = 1,
    max_partitions: int = 200_000,
) -> DataFrame:
    """Size a shuffle from measured statistics instead of the default
    200 (or a hand-tuned constant): given :func:`table_size_stats`
    output, recommend ``partitions = clamp(ceil(bytes / target))`` and
    report the resulting rows-per-task. Declarative integer math over
    the 1-row stats frame — composes with any upstream that produces
    (n_rows, est_total_bytes), including merged per-batch stats. The
    128 MiB default target matches the parquet-split convention
    (`spark.sql.files.maxPartitionBytes`); at 100 TB this is the
    operator that turns 'guess spark.sql.shuffle.partitions' into a
    statistic-driven setting, the same closing-the-loop move as
    :func:`plan_equi_join`."""
    t = int(target_bytes_per_partition)
    if t <= 0:
        raise ValueError(f"target_bytes_per_partition must be positive, got {t}")
    # r11 (ADVICE r10): an unvalidated min_partitions=0 yields
    # partitions=0 and a silently-NULL `n_rows div partitions`, which
    # only surfaces downstream as repartition_by_stats(int(None)).
    if not 1 <= int(min_partitions) <= int(max_partitions):
        raise ValueError(
            "need 1 <= min_partitions <= max_partitions, got "
            f"min={min_partitions} max={max_partitions}"
        )
    # ceil-div in INTEGER math (`div`, not F.floor of a double
    # quotient): above ~2^53 bytes — the 100 TB regime this advisor
    # exists for — the double rounds and the recommendation can differ
    # by one partition from the exact `//` the oracle uses (r09 ADVICE).
    parts = F.greatest(
        F.lit(int(min_partitions)).cast("bigint"),
        F.least(
            F.lit(int(max_partitions)).cast("bigint"),
            F.expr(
                f"(est_total_bytes + {t - 1}) div {t}"
            ).cast("bigint"),
        ),
    )
    sized = stats.select("*", parts.alias("partitions"))
    return sized.select(
        "*",
        F.expr("n_rows div partitions").cast("bigint").alias(
            "rows_per_partition"
        ),
    )


def repartition_by_stats(
    df: DataFrame,
    target_bytes_per_partition: int = 128 << 20,
    min_partitions: int = 1,
    max_partitions: int = 200_000,
) -> tuple[DataFrame, int]:
    """EXECUTE the shuffle-partition recommendation (the step
    :func:`plan_shuffle_partitions` stops short of): measure the
    frame's exact payload bytes, derive partitions =
    clamp(ceil(bytes/target)), and return
    ``(df.repartition(n), n)`` — statistic-driven layout instead of
    inheriting ``spark.sql.shuffle.partitions``. The 1-row stats
    collect is the same constant-bounded driver read every planner
    performs. Use before a bucketed/partitioned write or a wide
    downstream stage whose input size the session default badly
    mismatches; the measurement pass costs one scan, which the write
    it sizes amortizes."""
    plan = plan_shuffle_partitions(
        table_size_stats(df),
        target_bytes_per_partition=target_bytes_per_partition,
        min_partitions=min_partitions,
        max_partitions=max_partitions,
    ).first()
    n = int(plan.partitions)
    return df.repartition(n), n


def plan_range_partitions(
    df: DataFrame,
    col: str,
    n_partitions: int,
    approx_accuracy: int | None = None,
) -> DataFrame:
    """Range-partition boundary advisor: deterministic, auditable cut
    points for an N-way range layout of ``col``, plus the per-range
    row counts that reveal whether the layout is balanced BEFORE a
    sorted/bucketed write commits to it. Spark's own
    ``repartitionByRange`` picks boundaries by reservoir SAMPLING —
    fine for a one-off shuffle, but unrepeatable across runs and
    silent about imbalance; a 100 TB layout decision wants the
    boundaries in a report a human (or the recon checksums) can pin.

    Boundary rule, exact mode (default): boundary_i is the smallest
    key whose cumulative row count reaches ``ceil(n*i/N)`` — the
    CDF >= i/N discrete quantile, computed with INTEGER rank
    arithmetic ``(n*i + N - 1) div N`` so engines cannot disagree on
    a float epsilon. Plan shape: one groupBy(col) (map-side
    combined), a cumulative window over the DISTINCT keys (the key
    dictionary, sub-linear in rows — zipf precedent), then a
    broadcast of the <=N-1 boundaries back over the key dictionary
    for range assignment. Nothing row-sized is collected.

    The 100 TB dial is ``approx_accuracy`` (dq_mad discipline): when
    set, boundaries come from one mergeable Greenwald-Khanna
    ``approx_percentile(col, [i/N...], accuracy)`` aggregate instead
    of the distinct-key window — rank error <= n/accuracy rows per
    boundary, no window at all. Engine-only mode (discrete-quantile
    conventions differ across engines; the exact mode is the oracle
    mode).

    Returns N rows: ``partition_id (1..N), hi_bound (key-typed,
    range is lo < key <= hi; NULL for the last), n_rows, share`` —
    duplicate boundaries under heavy skew surface as EMPTY ranges
    rather than silently vanishing, which is exactly the signal to
    fall back to salting (salted_join) or hash layout."""
    N = int(n_partitions)
    if N < 2:
        raise ValueError(f"n_partitions must be >= 2, got {N}")
    if approx_accuracy is not None and int(approx_accuracy) < 1:
        raise ValueError(
            f"approx_accuracy must be >= 1, got {approx_accuracy}"
        )
    from pyspark.sql.window import Window

    spark = df.sparkSession
    k = df.groupBy(F.col(col).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = k.agg(F.sum("cnt").cast("bigint").alias("n"))
    if approx_accuracy is None:
        wc = Window.orderBy("key").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        c = k.withColumn("cum", F.sum("cnt").over(wc))
        r = spark.range(1, N).select(F.col("id").cast("int").alias("i"))
        b = (
            c.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(r))
            .filter(F.col("cum") >= F.expr(f"(n * i + {N} - 1) div {N}"))
            .groupBy("i")
            .agg(F.min("key").alias("b"))
        )
        bounds = b.agg(
            F.array_sort(F.collect_list("b")).alias("bs")
        )
    else:
        pcts = ", ".join(repr(i / N) for i in range(1, N))
        bounds = df.agg(
            F.array_sort(
                F.expr(
                    f"approx_percentile({col}, array({pcts}),"
                    f" {int(approx_accuracy)})"
                )
            ).alias("bs")
        )
    assign = (
        k.crossJoin(F.broadcast(bounds))
        .select(
            "cnt",
            "bs",
            (
                F.lit(1)
                + F.size(F.filter("bs", lambda v: F.col("key") > v))
            ).alias("pid"),
        )
        .groupBy("pid")
        .agg(F.sum("cnt").cast("bigint").alias("n_rows"))
    )
    pids = spark.range(1, N + 1).select(
        F.col("id").cast("int").alias("partition_id")
    )
    hi = bounds.select(
        F.posexplode("bs").alias("__p", "hi_bound")
    ).select((F.col("__p") + 1).cast("int").alias("partition_id"), "hi_bound")
    return (
        pids.join(
            assign.withColumnRenamed("pid", "partition_id"),
            "partition_id",
            "left",
        )
        .join(F.broadcast(hi), "partition_id", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "partition_id",
            "hi_bound",
            F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
            F.round(
                F.coalesce(F.col("n_rows"), F.lit(0)).cast("double")
                / F.col("n"),
                6,
            ).alias("share"),
        )
        .orderBy("partition_id")
    )


def apply_range_plan(
    df: DataFrame, col: str, boundaries: Sequence
) -> DataFrame:
    """Assign each row its range-partition id (1-based) from a
    boundary list produced by :func:`plan_range_partitions`
    (``hi_bound`` of partitions 1..N-1, ascending): partition i holds
    ``b_{i-1} < key <= b_i``. Row-local expression — feed the result
    to ``repartition(N, "range_pid")`` or a partitioned write for a
    layout that is bit-reproducible across runs, unlike
    repartitionByRange's sampled boundaries."""
    if not boundaries:
        raise ValueError("boundaries must be non-empty")
    barr = F.array(*[F.lit(b) for b in boundaries])
    return df.withColumn(
        "range_pid",
        (
            F.lit(1) + F.size(F.filter(barr, lambda v: F.col(col) > v))
        ).cast("int"),
    )
