"""Test-data table loading + view registration.

The driver materializes a TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` under ``/root/testdata/sf*/`` — one
parquet file per table (TESTDATA.md). In production these would be
JDBC reads from Oracle (sources/jdbc.py); parquet is the stand-in
columnar source and exercises the same pushdown/pruning paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ora_ch_spark.session import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Small driver-side row set as a single-task DataFrame.

    The rows go to the JVM as a ``pyarrow.Table``, and
    ``createDataFrame(table, schema)`` builds a pure-JVM
    **LocalRelation** (plans as ``LocalTableScan``), so downstream jobs
    never spawn a Python worker to re-unpickle the rows. The previous
    ``parallelize(rows, 1)`` form paid that round trip on EVERY action
    touching the frame (measured 0.175 → 0.056 s per noop on an 8-row
    frame; ~10 operators consume such frames 1-3× each). Broadcasts of
    a LocalRelation build driver-side without a separate job.
    ``coalesce(1)`` pins writes to one task / one file (the JVM-only
    coalesce is free — the ~5 s coalesce pathology documented in
    earlier rounds was specific to coalescing a *Python-RDD-backed*
    relation). The Arrow-table path never consults
    ``spark.sql.execution.arrow.pyspark.fallback.enabled``, so no
    session conf is touched and concurrent callers cannot race on it;
    anything Arrow can't convert raises and lands in the explicit
    one-slice parallelize fallback. Use for bounded tables only
    (centroid sets, quantizer codebooks, report rows).

    Classic-deployment note: the fallback path touches
    ``spark.sparkContext``, which Spark Connect does not expose — on
    Connect the Arrow path (session-level API only) is the one that
    runs; the fallback would raise. A Connect port would swap the
    fallback for ``createDataFrame(rows, schema)`` and accept the
    slicing."""
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        cols = list(zip(*rows)) if rows else [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
        return spark.createDataFrame(table, schema).coalesce(1)
    except Exception:  # noqa: BLE001 — any conversion gap
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema
        )


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain TIMESTAMP regardless of
    how the parquet writer encoded it. The testdata has shipped `ts` as
    both TIMESTAMP(NANOS) (reads as bigint under nanosAsLong) and
    timestamp[us] without UTC adjustment (reads as TIMESTAMP_NTZ in
    Spark 4). The session is pinned to UTC (``session.SESSION_INVARIANTS``),
    so both conversions preserve wall-clock values and match the DuckDB
    oracle's naive TIMESTAMP."""
    dt = dict(df.dtypes).get(col)
    if dt == "bigint":  # legacy nanos-as-long: floor ns → µs
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. ``events.ts`` is read through
    :func:`normalize_ts`, which relies on the session invariants."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> dict[str, DataFrame]:
    """Register every test table as a temp view (for the SQL
    surface). Dozens of catalog entries call this per invocation and
    the schema inference costs ~0.8 s each time, so it is memoized per
    (session, sf_dir) under ``session.session_memo``'s staleness
    contract; ``force=True`` re-registers (e.g. after an external view
    drop)."""

    def build() -> dict[str, DataFrame]:
        dfs = load_tables(spark, sf_dir)
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        return dfs

    return session_memo(spark, ("views", sf_dir), build, force=force)
