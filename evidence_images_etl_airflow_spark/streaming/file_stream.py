"""M6 — incremental ingestion as Structured Streaming (SURVEY.md §7).

The reference's sensors poll object storage and then a daily batch
re-reads a 15-day window, relying on PK conflict-skip for idempotency.
The streaming file source subsumes both: it tracks which files have
been processed (checkpointed), so each file is read exactly once and
"the new data since last run" needs no lookback window at all.
``trigger(availableNow=True)`` gives the batch-cadence version: drain
everything new, then stop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from evidence_images_etl_airflow_spark.sinks.writers import (
    idempotent_append_parquet,
    read_parquet_target,
    swap_parquet,
)
from evidence_images_etl_airflow_spark.storage import hadoop_fs

# Column stamped on every persisted-store row recording the foreachBatch
# batch id that produced it. foreachBatch is at-least-once: a batch
# replayed after a failure between the store swap and the checkpoint
# commit would otherwise be folded in twice. The guard makes the
# read-modify-write idempotent; it also means a store directory is
# PAIRED with its checkpoint directory — reusing a store with a fresh
# checkpoint (whose batch ids restart at 0) is unsupported.
_BATCH_COL = "_last_batch"


def _applied_batch(store: DataFrame | None) -> int:
    """Largest foreachBatch batch id already folded into the store
    (-1 when none). Bounded: the store is summary-sized by
    construction, and this reads one aggregated value."""
    if store is None or _BATCH_COL not in store.columns:
        return -1
    v = store.agg(F.max(_BATCH_COL)).first()[0]
    return -1 if v is None else int(v)


def ingest_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    sink_path: str,
    checkpoint_path: str,
    transform=None,
    fmt: str = "parquet",
) -> None:
    """Read whatever files have arrived under ``source_path``, apply
    ``transform`` (DataFrame -> DataFrame), append to ``sink_path``,
    exactly once per file, then stop."""
    stream = spark.readStream.format(fmt).schema(schema).load(source_path)
    if transform is not None:
        stream = transform(stream)
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregate over a (possibly streaming)
    events frame — the late-data-tolerant rollup pattern for the
    ``events`` table."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            # decimal accumulation: exact and independent of row order,
            # which streaming (and any distributed engine) can't fix
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window aggregate — the overlapping-window
    counterpart of ``windowed_counts`` (trailing-hour metrics refreshed
    every half hour, the monitoring-dashboard staple). Each event lands
    in window/slide windows (2 here), which is the state-size cost of
    overlap; watermark eviction bounds it the same way as tumbling."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window, slide), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            key_col,
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup: keep the first row per key, dropping duplicates
    that arrive within the watermark delay of each other — Spark's
    bounded-state dedup (state for a key is reclaimed once the
    watermark passes it, unlike an unbounded ``dropDuplicates`` whose
    state grows forever on an endless stream). The M7 dedup story's
    streaming tier: exact dedup for live ingestion, the batch operators
    for the corpus at rest.

    Duplicates separated by MORE than the watermark delay in event time
    are both emitted — that's the bounded-state trade, and re-running
    the batch dedup downstream is what reconciles it."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def upsert_stream_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    target_path: str,
    keys: list[str],
    checkpoint_path: str,
    transform=None,
    fmt: str = "parquet",
) -> None:
    """Streaming analog of the reference's K1 idempotent load
    (evidence_images_processing.py:169-171, ON CONFLICT DO NOTHING):
    each micro-batch lands through the conflict-skip upsert writer via
    ``foreachBatch``. The file-source checkpoint makes delivery
    at-least-once across restarts; the keyed anti-join makes the sink
    idempotent, so the composition is effectively-once even when a
    failed batch is retried after partially committing — the same
    end-to-end guarantee the reference gets from its PK, without a
    transactional store."""
    stream = spark.readStream.format(fmt).schema(schema).load(source_path)
    if transform is not None:
        stream = transform(stream)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append_parquet(batch_df.sparkSession, batch_df, target_path, keys)

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    left_watermark: str,
    right_watermark: str,
    upper_bound: str,
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval constraint:
    pair left/right rows sharing ``key`` where ``right_ts`` lands in
    [left_ts, left_ts + upper_bound] — the attribution / funnel join
    (view -> purchase within N minutes).

    Both sides carry watermarks so Spark can bound the join state: a
    buffered left row is dropped once the right watermark passes
    ``left_ts + upper_bound`` (no match can still arrive), and
    vice-versa — state is O(rows in the interval window per key), not
    O(stream). Each micro-batch shuffles both sides by ``key``, so the
    join is co-partitioned; the time predicate then prunes within the
    key group. Inner-join emissions are exact and final (no
    retractions), which is why batch and streaming agree row-for-row
    once both sides drain."""
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark).withColumnRenamed(key, "__rk")
    joined = l.join(
        r,
        F.expr(
            f"{key} = __rk AND {right_ts} >= {left_ts} "
            f"AND {right_ts} <= {left_ts} + INTERVAL {upper_bound}"
        ),
        "inner",
    )
    return joined.drop("__rk")


def continuous_rollup_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    target_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    window: str = "1 hour",
) -> None:
    """Incrementally-maintained rollup (the streaming half of the
    hypertable continuous-aggregate story, batch half =
    ``events_rollup_cascade``): each micro-batch aggregates ONLY its
    own rows into (window, key, n, total) partials, then additively
    MERGEs them into the rollup table — counts add, exact-decimal sums
    add, so the merged table equals the from-scratch aggregate without
    ever reprocessing history. The file-source checkpoint makes each
    input file feed exactly one micro-batch; foreachBatch delivery is
    at-least-once, so each store row carries the batch id that produced
    it and a replayed batch is skipped — the read-modify-write is
    idempotent end to end. The target rewrite goes through the
    backup-preserving rename swap (a complete copy exists at every
    instant; a crash mid-swap loses only the in-flight batch, which
    replays).

    At 100 TB the partial per batch is tiny (keys x windows), so the
    merge cost is bounded by the ROLLUP size, not the stream — the
    property that makes continuous aggregates cheap. Only additive
    aggregates (sum/count/min/max) can ride this path; mean/percentile
    must be derived from the additive parts downstream."""
    stream = spark.readStream.format("parquet").schema(schema).load(source_path)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        partial = (
            batch_df.groupBy(
                F.window(F.col(ts_col), window).alias("w"), F.col(key_col)
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col(value_col).cast("decimal(18,2)")).alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                key_col,
                "n_events",
                "total_value",
            )
        )
        target = read_parquet_target(sess, target_path)
        if target is not None and batch_id <= _applied_batch(target):
            return  # replayed batch — already folded in
        base = partial if target is None else (
            target.drop(_BATCH_COL)
            .unionByName(partial)
            .groupBy("window_start", key_col)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_value")
                .cast("decimal(18,2)")
                .alias("total_value"),
            )
        )
        merged = base.withColumn(_BATCH_COL, F.lit(batch_id).cast("bigint"))
        swap_parquet(sess, merged, target_path)

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def heavy_hitters_stream_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    summary_path: str,
    checkpoint_path: str,
    value_col: str,
    capacity: int = 256,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming maintenance of a Misra-Gries heavy-hitter summary —
    the streaming half of the ``sketch_mg_incremental`` story: each
    micro-batch is MG-summarized on its own, the per-batch summary
    unions into the persisted ``(item, cnt)`` table (NULL item = the
    accumulated error row), and the store is re-compressed back to
    ``capacity`` counters whenever it grows past it — the compression
    error simply folds into the error row, so the MG certificates
    (stored est <= true count ever streamed, undercount <= error row)
    hold after ANY number of batches. The file-source checkpoint makes
    each input file feed exactly one micro-batch; the per-row batch-id
    stamp makes the store update idempotent under foreachBatch's
    at-least-once replay (a double-fold would break the underestimate
    certificate); the store rewrite rides the same backup-preserving
    rename swap as ``continuous_rollup_available_now``.

    At 100 TB/day the store is <= capacity+1 rows FOREVER — the
    always-on "top tokens/URLs today" dashboard with per-batch cost =
    one batch scan + a summary-sized merge, and zero raw history."""
    from evidence_images_etl_airflow_spark.operators.sketches import (
        misra_gries_summaries,
    )

    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_path)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        store = read_parquet_target(sess, summary_path)
        if store is not None and batch_id <= _applied_batch(store):
            return  # replayed batch — folding it in again would break
            # the MG underestimate certificate (est could exceed true)
        partial = misra_gries_summaries(
            batch_df.select(value_col), value_col, capacity
        )
        merged = partial if store is None else store.drop(_BATCH_COL).unionByName(partial)
        merged = merged.groupBy("item").agg(F.sum("cnt").alias("cnt"))
        # Re-compress to the capacity bound: the merged non-null rows
        # can reach old-store + batch-partitions x capacity; subtract
        # the (capacity+1)-th largest counter and fold it into the
        # error row (the exact MG decrement, applied store-side). ONE
        # bounded collect of capacity+1 rows gives both the size check
        # (did we exceed capacity?) and the threshold value.
        items = merged.filter(F.col("item").isNotNull())
        top = (
            items.orderBy(F.col("cnt").desc(), F.col("item"))
            .limit(capacity + 1)
            .collect()
        )
        if len(top) > capacity:
            thresh = top[-1]["cnt"]
            err = merged.filter(F.col("item").isNull()).select(
                F.lit(None).cast("string").alias("item"),
                (F.coalesce(F.sum("cnt"), F.lit(0)) + F.lit(thresh))
                .cast("bigint")
                .alias("cnt"),
            )
            merged = (
                items.select("item", (F.col("cnt") - F.lit(thresh)).alias("cnt"))
                .filter(F.col("cnt") > 0)
                .unionByName(err)
            )
        merged = merged.withColumn(_BATCH_COL, F.lit(batch_id).cast("bigint"))
        swap_parquet(sess, merged, summary_path)

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def countmin_stream_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    table_path: str,
    checkpoint_path: str,
    value_col: str,
    depth: int = 4,
    width: int = 512,
    salt: str = "0",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming maintenance of a count-min frequency sketch — the
    linear-sketch counterpart of ``heavy_hitters_stream_available_now``
    and the simplest member of the store family, BECAUSE the sketch is
    linear: each micro-batch's cells just ADD to the persisted
    ``(r, bucket, cnt)`` table. No re-compression step, no threshold
    collect, no error row — the store is <= depth x width rows forever
    by construction, and after any number of batches it is
    BIT-IDENTICAL to the single-pass sketch over everything streamed
    (the exactness the MG store trades away for its top-k item list;
    run both stores side by side for bracketed estimates: MG <= true
    <= CM). Point lookups at any moment via
    ``operators.sketches.countmin_lookup`` against the store.

    Same durability contract as the other stores: the file-source
    checkpoint feeds each input file to exactly one micro-batch, the
    per-row batch-id stamp rejects foreachBatch's at-least-once
    replays (double-adding cells would break est >= true being TIGHT
    — est stays an overestimate but the merge-equals-single-pass
    certificate dies), and the rewrite rides the backup-preserving
    rename swap."""
    from evidence_images_etl_airflow_spark.operators.sketches import (
        countmin_table,
        merge_countmin_tables,
    )

    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_path)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        store = read_parquet_target(sess, table_path)
        if store is not None and batch_id <= _applied_batch(store):
            return  # replayed batch — cells are sums, a second add
            # would double-count and break single-pass equivalence
        partial = countmin_table(
            batch_df.select(value_col), value_col, depth, width, salt
        )
        merged = (
            partial
            if store is None
            else merge_countmin_tables(store.drop(_BATCH_COL), partial)
        )
        merged = merged.withColumn(_BATCH_COL, F.lit(batch_id).cast("bigint"))
        swap_parquet(sess, merged, table_path)

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def daily_counts_stream_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    table_path: str,
    checkpoint_path: str,
    day_col: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming maintenance of an exact per-day event-count store —
    the additive-counter member of the store family (CM sketch:
    hashed cells; MG: capped counters; this: the EXACT day grain the
    time-series monitors consume). Day counts are linear, so after
    any number of micro-batches the store is BIT-IDENTICAL to a
    one-shot day-grain count over everything streamed — which is what
    lets a STREAMING CUSUM/EWMA/seasonal monitor share the exact
    batch oracle.

    Same durability contract as the sibling stores: the file-source
    checkpoint feeds each input file to exactly one micro-batch, the
    per-row batch-id stamp rejects foreachBatch's at-least-once
    replays (a double-add would break stream/batch equivalence), and
    the rewrite rides the backup-preserving rename swap. Store size
    is O(distinct days) — calendar-bounded forever."""
    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_path)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        store = read_parquet_target(sess, table_path)
        if store is not None and batch_id <= _applied_batch(store):
            return  # replayed batch — counts are sums, adding twice
            # would break single-pass equivalence
        partial = batch_df.groupBy(
            F.col(day_col).cast("bigint").alias("d")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        if store is None:
            merged = partial
        else:
            merged = (
                store.drop(_BATCH_COL)
                .unionByName(partial)
                .groupBy("d")
                .agg(F.sum("y").cast("bigint").alias("y"))
            )
        merged = merged.withColumn(_BATCH_COL, F.lit(batch_id).cast("bigint"))
        swap_parquet(sess, merged, table_path)

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def score_ingest_stream_available_now(
    spark: SparkSession,
    source_path: str,
    schema,
    table_path: str,
    checkpoint_path: str,
    score,
    id_col: str,
    carry_cols: list[str],
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming incremental curated-score ingest — the crawl loop of
    ``ml_curation.update_score_table`` driven by the FILE SOURCE
    instead of a batch scheduler: each crawl file that lands becomes a
    micro-batch, anti-joined against the stored id column and scored
    only for genuinely new ids (score-at-landing, the curated-layer
    contract). ``score`` is an unbound Column expression over the
    landing schema's columns, evaluated per micro-batch.

    Durability contract differs from the swap-store family ON
    PURPOSE: the score table is APPEND-ONLY and the sink is idempotent
    BY CONSTRUCTION — a replayed batch's ids are already present, so
    its anti-join appends zero rows — which upgrades foreachBatch's
    at-least-once delivery to exactly-once table CONTENTS with no
    batch-id stamp and no rename swap. The batch twin
    (``curation_score_table_incremental``) proves that property
    differentially against the inline-scoring oracle; this stream
    inherits it unchanged because both run the same operator.

    Bootstrap: the first batch MATERIALIZES the table (overwrite).
    Existence is judged by the commit protocol's ``_SUCCESS`` marker,
    not the bare directory — a bootstrap that crashed mid-write leaves
    no marker, so the replay re-materializes over the torn attempt
    instead of anti-joining against a partial table."""
    from evidence_images_etl_airflow_spark.operators.ml_curation import (
        materialize_score_table,
        update_score_table,
    )

    reader = spark.readStream.format("parquet").schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load(source_path)

    def land(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        hadoop_path, fs = hadoop_fs(sess, table_path)
        if not fs.exists(hadoop_path(table_path.rstrip("/") + "/_SUCCESS")):
            # r15 ADVICE: with maxFilesPerTrigger unset, overlapping
            # landing files coalesce into ONE micro-batch, so the
            # bootstrap materialize could write duplicate ids and break
            # the exactly-once table contract. Collapse ids within the
            # batch here (the update path dedupes inside
            # update_score_table itself), with the same deterministic
            # survivor as that path (r16 ADVICE).
            from evidence_images_etl_airflow_spark.operators.ml_curation import (
                dedup_ids_deterministic,
            )

            materialize_score_table(
                dedup_ids_deterministic(batch_df, id_col), score,
                table_path, carry_cols=carry_cols,
            )
        else:
            update_score_table(
                batch_df, score, table_path, id_col, carry_cols=carry_cols
            )

    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
