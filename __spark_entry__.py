"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star query at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full catalog
(ora_ch_spark/catalog.py) for the DuckDB differential gate. Callers
of this contract bring their own session, so ``entry`` and every
function ``queries()`` returns pin the engine's session invariants on
it first.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ora_ch_spark.catalog import all_queries  # noqa: E402
from ora_ch_spark.session import pin_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from ora_ch_spark.catalog import flagship_star

    spark = pin_session(spark)
    return flagship_star(spark, "/root/testdata/sf0.001")


def _pinned(build: Callable[[SparkSession, str], DataFrame]):
    @functools.wraps(build)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return build(pin_session(spark), sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: _pinned(q.spark) for q in all_queries()}


def oracle_sql() -> dict[str, str]:
    return {q.name: q.oracle for q in all_queries() if q.oracle is not None}
