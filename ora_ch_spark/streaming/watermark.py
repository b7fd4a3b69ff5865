"""Structured Streaming analogues of the reference's incremental
semantics.

The reference's only time-moves-forward concept is batch watermarking
(O3 AppendByMax — SURVEY.md §1.1). Structured Streaming generalizes
it: ``readStream`` + event-time watermark + windowed aggregation is
the continuous form of "copy rows newer than max".

``streaming_hourly_rollup`` — watermarked tumbling-window aggregate
over the events table (late rows beyond the watermark delay are
dropped; append mode emits only finalized windows).

``streaming_append_bymax`` — the O3 operator as a stream: file-source
stream over the source directory, each micro-batch appended to the
store through ``foreachBatch`` with the watermark predicate applied —
exactly-once per the checkpoint, which replaces the reference's
max-probe state.
"""

from __future__ import annotations

from contextlib import contextmanager

from ora_ch_spark.streaming.util import as_stream_dir
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def state_partitions(spark: SparkSession, n: int = 8):
    """Size stateful-streaming state stores to the STATE, not the
    batch shuffle default: Spark creates one state-store instance per
    shuffle partition, and the per-partition setup/commit overhead
    dominates small-state queries (measured on local[32]: the
    one-batch stream-stream join runs 5.9 s at 32 partitions vs
    2.3 s at 8 — same 371 output rows). On a cluster the same knob is
    how you match state parallelism to state volume. The conf is read
    at query START, so the context only needs to span .start()."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


def streaming_hourly_rollup(
    spark: SparkSession,
    events_path: str,
    watermark_delay: str = "10 minutes",
    query_name: str = "events_rollup",
) -> DataFrame:
    """Run a watermarked 1-hour tumbling aggregate over the (static)
    events parquet via a file-source stream, synchronously to
    completion, and return the materialized result.

    Append mode means only windows whose end ≤ final watermark
    (max(ts) − delay) are emitted — deterministic for a static input.
    """
    events_path = as_stream_dir(events_path, "stream_src_")
    from ora_ch_spark.io import normalize_ts

    static = spark.read.parquet(events_path)
    stream = normalize_ts(spark.readStream.schema(static.schema).parquet(events_path))

    agg = (
        stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with state_partitions(spark):
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(query_name)


def streaming_append_bymax(
    spark: SparkSession,
    source_path: str,
    store,
    schema: str,
    table: str,
    watermark_col: str,
    checkpoint_dir: str,
) -> None:
    """O3 as a continuous pipeline: new files in ``source_path``
    stream in; each micro-batch keeps only rows above the target's
    current max and appends via foreachBatch (exactly-once per
    checkpoint)."""
    static = spark.read.parquet(source_path)
    stream = spark.readStream.schema(static.schema).parquet(source_path)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        df = batch_df
        if store.table_exists(schema, table):
            hi = store.read(schema, table).agg(F.max(watermark_col)).first()[0]
            if hi is not None:
                df = df.filter(F.col(watermark_col) > F.lit(hi))
            store.append(schema, table, df)
        else:
            store.write(schema, table, df)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_dedup_within_watermark(
    spark: SparkSession,
    events_path: str,
    keys: list[str] | None = None,
    watermark_delay: str = "10 minutes",
    query_name: str = "events_dedup_wm",
) -> DataFrame:
    """Native bounded-state streaming dedup:
    ``dropDuplicatesWithinWatermark`` keeps the first row per key and
    EVICTS key state once the watermark passes its event time plus
    the delay — the 100 TB-stream answer to the unbounded seen-set
    the custom ``applyInPandasWithState`` dedup carries (that form
    dedups exactly-once FOREVER; this one guarantees it only within
    the watermark horizon, in exchange for O(horizon) state).

    Returns the deduplicated KEY projection (value columns of "the
    first row" are partition-order-dependent; the key set is what is
    deterministic and differential-testable).
    """
    keys = keys or ["user_id", "event_type"]
    events_path = as_stream_dir(events_path, "stream_dwm_src_")
    from ora_ch_spark.io import normalize_ts

    static = spark.read.parquet(events_path)
    stream = normalize_ts(spark.readStream.schema(static.schema).parquet(events_path))
    deduped = (
        stream.select(*keys, "ts")
        .withWatermark("ts", watermark_delay)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )
    with state_partitions(spark):
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(query_name)


def streaming_stream_join(
    spark: SparkSession,
    events_path: str,
    left_type: str = "purchase",
    right_type: str = "click",
    within_minutes: int = 60,
    watermark_delay: str = "10 minutes",
    query_name: str = "stream_join_out",
) -> DataFrame:
    """STREAM-STREAM inner join — the stateful join class of
    Structured Streaming: two watermarked event streams join per user
    with a time-bound condition (right event lands within
    ``within_minutes`` BEFORE the left event). Both sides buffer
    state; the watermarks + the time-range predicate are what let
    Spark EVICT buffered rows (an unbounded stream-stream join
    without them grows state forever — the 100 TB design point).

    Single-batch availableNow over the one-file testdata makes the
    emitted set exactly the batch join's — differential-testable; the
    same query on a live multi-batch stream emits incrementally with
    identical total results within the watermark horizon."""
    events_path = as_stream_dir(events_path, "stream_ssj_src_")
    from ora_ch_spark.io import normalize_ts

    static = spark.read.parquet(events_path)
    stream = normalize_ts(
        spark.readStream.schema(static.schema).parquet(events_path)
    )
    left = (
        stream.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark_delay)
    )
    right = (
        stream.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark_delay)
    )
    joined = left.join(
        right,
        F.expr(
            f"""l_user = r_user AND
                r_ts <= l_ts AND
                r_ts >= l_ts - INTERVAL {within_minutes} MINUTES"""
        ),
    ).select(
        F.col("l_user").alias("user_id"),
        "l_id",
        "r_id",
        (F.unix_micros("l_ts") - F.unix_micros("r_ts")).alias("gap_us"),
    )
    with state_partitions(spark):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(query_name)
