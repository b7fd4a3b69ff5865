"""Sessionization — the classic event-stream rollup the reference's
batch-watermark model can't express, in both batch and stateful
streaming form.

- ``sessionize`` (batch): gap-based sessions via window functions —
  lag → gap-flag → cumulative sum → per-session aggregate. One
  shuffle on ``user_id``; everything else is within-partition window
  work. Deterministic: ordering ties broken by ``event_id``.

- ``streaming_stateful_dedup``: a custom stateful operator via
  ``applyInPandasWithState`` — exactly-once cross-batch dedup by key
  (state = seen key set per group). The operator shape (state schema,
  output schema, timeout contract) is the one any custom stateful
  rollup uses; dedup keeps its single-batch behavior deterministic
  enough to differential-test.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ora_ch_spark.streaming.util import as_stream_dir
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization. Returns one row per session:
    (user_id, session_id, session_start, session_end, n_events,
    total_value). All referenced columns are parameters."""
    from ora_ch_spark.io import normalize_ts

    events = normalize_ts(events, ts_col)  # raw NTZ/nanos frames welcome
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col)).over(w).cast("long")
    with_flag = events.withColumn(
        "__new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("__new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_sid.groupBy(user_col, "session_id")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


DEDUP_STATE_SCHEMA = "seen array<bigint>"
DEDUP_OUTPUT_SCHEMA = (
    "user_id bigint, event_id bigint, event_type string, value double"
)


def _dedup_fn(key, pdf_iter: Iterator[pd.DataFrame], state):
    """applyInPandasWithState body: emit only first-seen event_ids per
    user; carry the seen-set across micro-batches in state."""
    (user_id,) = key
    seen = set(state.get[0]) if state.exists else set()
    out = []
    for pdf in pdf_iter:
        pdf = pdf.sort_values("event_id")
        fresh = pdf[~pdf["event_id"].isin(seen)]
        fresh = fresh.drop_duplicates(subset=["event_id"])
        seen.update(fresh["event_id"].tolist())
        if len(fresh):
            out.append(fresh[["user_id", "event_id", "event_type", "value"]])
    state.update((sorted(seen),))
    if out:
        yield pd.concat(out)


def streaming_stateful_dedup(
    spark: SparkSession,
    events_path: str,
    query_name: str = "dedup_out",
) -> DataFrame:
    """Cross-batch exactly-once dedup by (user_id, event_id) as a
    Structured Streaming stateful operator; runs the available input
    to completion and returns the materialized output."""
    events_path = as_stream_dir(events_path, "stream_dedup_src_")
    static = spark.read.parquet(events_path)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_path)
        .select("user_id", "event_id", "event_type", "value")
    )
    deduped = stream.groupBy("user_id").applyInPandasWithState(
        _dedup_fn,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
    from ora_ch_spark.streaming.watermark import state_partitions

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


def tws_available() -> bool:
    """Spark's state-v2 Python runner (transformWithState*) speaks
    protobuf to the JVM; this image ships a broken google.protobuf
    (`cannot import name 'descriptor'`), which crashes the TWS driver
    worker at init. Gate, per the no-pip-install environment rule."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def streaming_dedup_tws(
    spark: SparkSession,
    events_path: str,
    query_name: str = "dedup_tws_out",
) -> DataFrame:
    """The same cross-batch exactly-once dedup as
    :func:`streaming_stateful_dedup`, on Spark 4's arbitrary-stateful
    API v2 (``transformWithStateInPandas`` + typed ``ValueState``) —
    the successor to ``applyInPandasWithState``. The operator contract
    is identical (each (user, event) emitted exactly once regardless
    of how the input is micro-batched), so both implementations are
    checked against the same doubled-input oracle. State API
    differences worth the exemplar: named typed state handles created
    in ``init`` (vs one tuple schema), per-state TTL support, timers
    as first-class (unused here).

    GATED: requires a working google.protobuf (see
    :func:`tws_available`); raises NotImplementedError otherwise so
    callers fall back to :func:`streaming_stateful_dedup`."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas needs google.protobuf, which is "
            "broken in this image — use streaming_stateful_dedup "
            "(applyInPandasWithState), which has identical semantics"
        )
    import pandas as pd  # noqa: F811 — worker-side import

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _DedupProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState("seen", "seen array<bigint>")

        def handleInputRows(self, key, rows, timer_values):
            seen = set(self._seen.get()[0]) if self._seen.exists() else set()
            for pdf in rows:
                pdf = pdf.sort_values("event_id")
                fresh = pdf[~pdf["event_id"].isin(seen)]
                fresh = fresh.drop_duplicates(subset=["event_id"])
                seen.update(fresh["event_id"].tolist())
                if len(fresh):
                    yield fresh[["user_id", "event_id", "event_type", "value"]]
            self._seen.update((sorted(seen),))

        def close(self) -> None:
            pass

    # the state-v2 operator requires the RocksDB state store (the
    # HDFS-backed default does not implement its column families)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    events_path = as_stream_dir(events_path, "stream_tws_src_")
    static = spark.read.parquet(events_path)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(events_path)
        .select("user_id", "event_id", "event_type", "value")
    )
    deduped = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_DedupProcessor(),
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


SESSION_STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint, total double"
SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double"
)


def make_session_fn(gap_minutes: int = 30):
    """Stateful sessionizer body for ``applyInPandasWithState`` with
    EventTimeTimeout: events accumulate per-user session state; when
    the watermark passes last_event + gap, the state times out and the
    closed session is emitted — the continuous form of gap
    sessionization (late events beyond the watermark are dropped by
    the watermark itself)."""
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        start_us = last_us = None
        n, total = 0, 0.0
        if state.exists:
            start_us, last_us, n, total = state.get
        closed = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            for ts, v in zip(pdf["ts"], pdf["value"]):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                if last_us is not None and ts_us - last_us > gap_us:
                    closed.append((start_us, last_us, n, total))
                    start_us, n, total = ts_us, 0, 0.0
                if start_us is None:
                    start_us = ts_us
                last_us = ts_us
                n += 1
                total += float(v)
        state.update((start_us, last_us, n, total))
        state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)  # ms
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, *_ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, *_ in closed],
                    "n_events": [c[2] for c in closed],
                    "total_value": [c[3] for c in closed],
                }
            )

    return fn


def streaming_sessionize(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    gap_minutes: int = 30,
    watermark_delay: str = "10 minutes",
    query_name: str = "sessions_out",
) -> DataFrame:
    """Run the stateful sessionizer over the currently-available files
    (availableNow); emitted sessions append durably to ``output_dir``
    via foreachBatch (the memory sink cannot recover from a
    checkpoint). Re-running with the same checkpoint after adding
    newer files advances the watermark and flushes timed-out sessions
    — incremental, exactly-once per the checkpoint. Returns the
    sessions emitted so far."""
    static = spark.read.parquet(source_dir)
    from ora_ch_spark.io import normalize_ts

    stream = normalize_ts(spark.readStream.schema(static.schema).parquet(source_dir))
    sessions = (
        stream.select("user_id", "ts", "value")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_session_fn(gap_minutes),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.take(1):
            batch_df.write.mode("append").parquet(output_dir)

    from ora_ch_spark.streaming.watermark import state_partitions

    with state_partitions(spark):
        q = (
            sessions.writeStream.outputMode("append")
            .foreachBatch(sink)
            .queryName(query_name)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    try:
        return spark.read.parquet(output_dir)
    except Exception:  # no sessions emitted yet
        return spark.createDataFrame([], SESSION_OUTPUT_SCHEMA)
