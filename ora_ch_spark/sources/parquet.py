"""Parquet source — the columnar stand-in for the Oracle side in tests.

Exercises the same Catalyst paths a production source would: filter
pushdown, column pruning, partition-sized splits
(``spark.sql.files.maxPartitionBytes``).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from ora_ch_spark.io import load_table
from ora_ch_spark.specs import TableSpec


def parquet_source(spark: SparkSession, base_dir: str):
    """Returns a ``source_loader`` for TaskScheduler: resolves a
    TableSpec's source table to ``<base_dir>/<table>.parquet``.

    Goes through ``io.load_table`` so source-specific handling (the
    events table's timestamp normalization) applies on every path,
    not just the catalog's."""

    def load(spec: TableSpec) -> DataFrame:
        name = spec.src_table_full_name or spec.name
        name = name.split(".")[-1]
        return load_table(spark, base_dir, name)

    return load
