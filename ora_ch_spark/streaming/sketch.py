"""Streaming sketch maintenance — the incremental form of
``operators/sketches.py``.

Because an HLL register table is a pure max-aggregate, Structured
Streaming maintains it directly: each micro-batch folds its rows into
the per-(group, bucket) running max, state is bounded at
groups × 2^p rows no matter how much data streams through, and the
register table at any point equals the batch sketch of everything
seen so far (asserted by the equivalence test). This is the pattern a
continuously-ingesting 100 TB pipeline uses for always-current
distinct counts: no re-scan, no unbounded state, merge-on-read with
historical sketches if older epochs live in the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ora_ch_spark.operators.sketches import cms_build, hll_registers
from ora_ch_spark.streaming.util import as_stream_dir


def streaming_hll_registers(
    spark: SparkSession,
    source_dir: str,
    key_expr: str,
    group_expr: str,
    query_name: str = "hll_stream_out",
) -> DataFrame:
    """Run the register max-aggregate over the currently-available
    files of a streaming parquet source (availableNow) and return the
    materialized register table (grp, bucket, M). ``key_expr`` /
    ``group_expr`` are SQL expressions over the source rows."""
    source_dir = as_stream_dir(source_dir, "stream_hll_src_")
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(source_dir)
        .selectExpr(f"{group_expr} AS grp", f"{key_expr} AS k")
    )
    reg = hll_registers(stream, F.col("k"), ["grp"])
    from ora_ch_spark.streaming.watermark import state_partitions

    with state_partitions(spark):
        q = (
            reg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(query_name)


def streaming_cms_counters(
    spark: SparkSession,
    source_dir: str,
    key_expr: str,
    query_name: str = "cms_stream_out",
) -> DataFrame:
    """Always-current count-min frequency sketch over a stream: the
    CMS counter table is a pure SUM-aggregate, so complete-mode
    streaming maintains it the same way :func:`streaming_hll_registers`
    maintains the HLL maxima — state bounded at d·w = 1024 cells no
    matter the throughput, and at every trigger the counters equal
    the batch sketch of everything seen (equivalence is the gate
    oracle). Heavy-hitter queries probe the emitted table with
    ``cms_estimate`` without touching the stream."""
    source_dir = as_stream_dir(source_dir, "stream_cms_src_")
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(source_dir)
        .selectExpr(f"{key_expr} AS k")
    )
    cms = cms_build(stream, F.col("k"))
    from ora_ch_spark.streaming.watermark import state_partitions

    with state_partitions(spark):
        q = (
            cms.writeStream.outputMode("complete")
            .format("memory")
            .queryName(query_name)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    return spark.table(query_name)
