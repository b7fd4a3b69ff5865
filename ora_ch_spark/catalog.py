"""The engine's query/operator catalog — every entry pairs a Spark
implementation with an ANSI-SQL oracle for DuckDB differential
testing (the driver's correctness gate, and the generalization of the
reference's own golden-aggregate method —
``v_cache_for_calc_6184_4626.txt:2-4``).

Cross-engine determinism rules used throughout (so value hashes match
bit-for-bit):

- money/measure sums go through ``decimal(18,2)`` (exact, order-
  independent) and are cast to double at the end — both engines round
  the same exact decimal to the same double;
- ratios/averages divide two identical doubles (one deterministic op);
- hash-dependent logic uses ``md5`` (identical hex in Spark and
  DuckDB), never engine-native hashes;
- embedding math quantizes floats to ints (``floor(x*10000)``) so all
  dot products / norms are exact integer sums in any order;
- int-typed outputs are pinned to the same width on both sides.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ora_ch_spark.io import load_table, register_views
from ora_ch_spark.plans.calc import CalcEngine
from ora_ch_spark.plans.scheduler import TaskScheduler
from ora_ch_spark.session import session_memo
from ora_ch_spark.specs import (
    CalcQuery,
    Operation,
    ParamType,
    QueryMeta,
    QueryParam,
    TableSpec,
    TaskSpec,
)
from ora_ch_spark.store import TableStore


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    description: str = ""


def _dec(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def _tmp_store(spark: SparkSession) -> TableStore:
    return TableStore(spark, tempfile.mkdtemp(prefix="orachspark_store_"))


# ---------------------------------------------------------------------------
# Core SQL surface (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style scan+agg: the groupBy/agg surface on the fact
    table. Plan check: single parquet scan with pushed filter, partial
    (map-side) aggregation before one shuffle on the group keys."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.col("sum_qty") / F.col("count_order"))
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty,
       cast(sum(cast(l_extendedprice as decimal(18,2))) as double) AS sum_base_price,
       cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) AS sum_disc_price,
       cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2))) * (1 + cast(l_tax as decimal(18,2)))) as double) AS sum_charge,
       count(*) AS count_order,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) / count(*) AS avg_qty
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def flagship_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship analytic query — structurally mirrors the shipped
    production calc query (``v_cache_for_calc_6184_4626.txt``): multi-
    way equi-joins, broadcast dimension lookups (≡ dictGet), a
    semi-join via IN-subquery, a left join with an extra ON predicate,
    coalesce / if / year / lpad.

    Scale shape: one shuffle join lineitem⋈orders on the fact keys;
    customer/nation/region/part are broadcast — no shuffle; the
    semi-join reuses the lineitem scan and broadcasts the (small)
    distinct high-qty key set under AQE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")

    hi_orders = li.filter(F.col("l_quantity") >= 48).select("l_orderkey").distinct()
    revenue = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))

    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(hi_orders.withColumnRenamed("l_orderkey", "hi_key"),
              orders.o_orderkey == F.col("hi_key"), "left_semi")
        .join(F.broadcast(part),
              (li.l_partkey == part.p_partkey) & (part.p_size > 20), "left")
        .filter(cust.c_mktsegment == "BUILDING")
    )
    return (
        joined.groupBy(
            reg.r_name.alias("region_name"),
            nat.n_name.alias("nation_name"),
            F.lpad(nat.n_nationkey.cast("string"), 3, "0").alias("nation_code"),
            F.year(orders.o_orderdate).cast("int").alias("order_year"),
            F.coalesce(part.p_brand, F.lit("NONE")).alias("brand"),
            F.when(orders.o_totalprice > 250000.0, "BIG").otherwise("SMALL").alias("order_size"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(revenue).cast("double").alias("revenue"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
    )


FLAGSHIP_ORACLE = """
SELECT r_name AS region_name, n_name AS nation_name,
       lpad(cast(n_nationkey as varchar), 3, '0') AS nation_code,
       cast(year(o_orderdate) as int) AS order_year,
       coalesce(p_brand, 'NONE') AS brand,
       CASE WHEN o_totalprice > 250000.0 THEN 'BIG' ELSE 'SMALL' END AS order_size,
       count(*) AS n_items,
       cast(sum(cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2)))) as double) AS revenue,
       cast(sum(cast(l_quantity as decimal(18,2))) as double) AS sum_qty
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
LEFT JOIN part ON l_partkey = p_partkey AND p_size > 20
WHERE c_mktsegment = 'BUILDING'
  AND o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)
GROUP BY 1, 2, 3, 4, 5, 6
"""


def ntile_export_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 parity demo: the reference slices exports with
    ``cityHash64(key)`` + ``NTILE(N) OVER (ORDER BY hash)``
    (``jdbsChSession.scala:416-450``). Here the same NTILE plan over a
    cross-engine hash (md5) — per-slice row counts and sums verify the
    slicing is uniform and deterministic. (The production export path
    uses hash repartitioning instead — sinks/jdbc.py — which needs no
    global sort.)"""
    orders = load_table(spark, sf_dir, "orders")
    w = W.orderBy(F.md5(F.col("o_orderkey").cast("string")), "o_orderkey")
    return (
        orders.withColumn("group_number", F.ntile(8).over(w))
        .groupBy("group_number")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_dec("o_totalprice")).cast("double").alias("slice_total"),
        )
    )


NTILE_ORACLE = """
SELECT group_number, count(*) AS n_rows,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS slice_total
FROM (
  SELECT o_totalprice,
         cast(ntile(8) OVER (ORDER BY md5(cast(o_orderkey as varchar)), o_orderkey) as int) AS group_number
  FROM orders
)
GROUP BY group_number
"""


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup of the events stream table (batch form; the
    streaming form with watermarks lives in streaming/watermark.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
            F.count(F.when(F.col("value") > 50.0, 1)).alias("n_large"),
        )
    )


# ts is nanos in parquet; cast the truncated hour to µs TIMESTAMP so the
# oracle's dtype matches Spark's microsecond timestamps exactly
EVENTS_HOURLY_ORACLE = """
SELECT cast(date_trunc('hour', ts) as timestamp_ns) AS hour_start, event_type,
       count(*) AS n_events,
       cast(sum(cast(value as decimal(18,2))) as double) AS total_value,
       count(CASE WHEN value > 50.0 THEN 1 END) AS n_large
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Load operations O1–O5, run through the real scheduler/store machinery
# ---------------------------------------------------------------------------

def op_recreate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 recreate with where_filter + only_columns, end-to-end
    through TaskScheduler → TableStore."""
    store = _tmp_store(spark)
    spec = TableSpec(
        schema="ch",
        name="lineitem_recreated",
        operation=Operation.RECREATE,
        src_table_full_name="lineitem",
        where_filter="l_shipdate >= timestamp'1996-01-01'",
        only_columns=("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"),
    )
    sched = TaskScheduler(spark, store)
    sched.run_task(
        TaskSpec(tables=(spec,), degree=2),
        sources={"lineitem": load_table(spark, sf_dir, "lineitem")},
    )
    return store.read("ch", "lineitem_recreated")


OP_RECREATE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
       l_shipdate::TIMESTAMP_NS AS l_shipdate
FROM lineitem WHERE l_shipdate >= timestamp '1996-01-01'
"""


def op_append_where_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 append_where: target pre-loaded with stale rows
    (l_quantity = -1) for ⅓ of keys; the op deletes rows in the filter
    range and re-inserts fresh source rows — stale rows survive only
    outside the range."""
    store = _tmp_store(spark)
    li = load_table(spark, sf_dir, "lineitem")
    stale = li.filter("l_orderkey % 3 = 0").withColumn("l_quantity", F.lit(-1.0))
    store.create_database("ch")
    # time-clustered target layout (what the reference's
    # order_by_ora_data produces on insert): the range delete then
    # resolves most files from manifest min/max alone — fully-covered
    # files drop manifest-only, only the boundary file is probed
    store.write("ch", "lineitem_aw", stale.repartitionByRange(8, "l_shipdate"))
    spec = TableSpec(
        schema="ch",
        name="lineitem_aw",
        operation=Operation.APPEND_WHERE,
        src_table_full_name="lineitem",
        where_filter="l_shipdate >= timestamp'1996-06-01'",
    )
    TaskScheduler(spark, store).run_task(
        TaskSpec(tables=(spec,), degree=2), sources={"lineitem": li}
    )
    return store.read("ch", "lineitem_aw")


OP_APPEND_WHERE_ORACLE = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, -1.0 AS l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate::TIMESTAMP_NS AS l_shipdate
FROM lineitem WHERE l_orderkey % 3 = 0 AND NOT (l_shipdate >= timestamp '1996-06-01')
UNION ALL
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate::TIMESTAMP_NS AS l_shipdate
FROM lineitem WHERE l_shipdate >= timestamp '1996-06-01'
"""


def op_append_bymax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 append_bymax: target holds orders with key ≤ 5000; the op
    probes max(o_orderkey) and appends only newer source rows (with an
    extra where_filter, as the reference supports combining both)."""
    store = _tmp_store(spark)
    orders = load_table(spark, sf_dir, "orders")
    store.create_database("ch")
    store.write("ch", "orders_bymax", orders.filter("o_orderkey <= 5000"))
    spec = TableSpec(
        schema="ch",
        name="orders_bymax",
        operation=Operation.APPEND_BY_MAX,
        src_table_full_name="orders",
        sync_by_column_max="o_orderkey",
        where_filter="o_orderstatus = 'F'",
    )
    TaskScheduler(spark, store).run_task(
        TaskSpec(tables=(spec,), degree=2), sources={"orders": orders}
    )
    return store.read("ch", "orders_bymax")


OP_APPEND_BYMAX_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate::TIMESTAMP_NS AS o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey <= 5000
UNION ALL
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate::TIMESTAMP_NS AS o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey > 5000 AND o_orderstatus = 'F'
"""


def op_append_notin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 append_notin as a distributed anti-join on the composite key
    (l_orderkey, l_linenumber) — target pre-loaded with line 1 of
    every order; op inserts only absent keys matching the source
    filter."""
    store = _tmp_store(spark)
    li = load_table(spark, sf_dir, "lineitem")
    store.create_database("ch")
    store.write("ch", "lineitem_notin", li.filter("l_linenumber = 1"))
    spec = TableSpec(
        schema="ch",
        name="lineitem_notin",
        operation=Operation.APPEND_NOT_IN,
        src_table_full_name="lineitem",
        sync_by_columns=("l_orderkey", "l_linenumber"),
        where_filter="l_quantity >= 25",
    )
    TaskScheduler(spark, store).run_task(
        TaskSpec(tables=(spec,), degree=2), sources={"lineitem": li}
    )
    return store.read("ch", "lineitem_notin")


OP_APPEND_NOTIN_ORACLE = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate::TIMESTAMP_NS AS l_shipdate
FROM lineitem WHERE l_linenumber = 1
UNION ALL
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
       l_shipdate::TIMESTAMP_NS AS l_shipdate
FROM lineitem WHERE l_linenumber <> 1 AND l_quantity >= 25
"""


def op_update_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 update: broadcast-hash-join merge (≡ ALTER TABLE UPDATE via
    dictGet/dictHas) — rows with l_returnflag='R' get l_quantity+100
    and l_extendedprice zeroed; all other rows untouched."""
    store = _tmp_store(spark)
    li = load_table(spark, sf_dir, "lineitem")
    store.create_database("ch")
    store.write("ch", "lineitem_upd", li)
    updates = (
        li.filter("l_returnflag = 'R'")
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_quantity") + 100.0).alias("l_quantity"),
            F.lit(0.0).alias("l_extendedprice"),
        )
    )
    spec = TableSpec(
        schema="ch",
        name="lineitem_upd",
        operation=Operation.UPDATE,
        update_fields=("l_quantity", "l_extendedprice"),
    )
    TaskScheduler(spark, store).run_task(
        TaskSpec(tables=(spec,), degree=2),
        sources={"lineitem_upd": updates},
        key_columns={"lineitem_upd": ["l_orderkey", "l_linenumber"]},
    )
    return store.read("ch", "lineitem_upd")


# (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
# oracle mirrors the operator's exact contract: updates deduped by max per
# key, then every row with a matching key gets the new field values.
OP_UPDATE_ORACLE = """
WITH upd AS (
  SELECT l_orderkey, l_linenumber,
         max(l_quantity + 100.0) AS new_qty, max(0.0) AS new_price
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey, l_linenumber
)
SELECT t.l_orderkey, t.l_partkey, t.l_suppkey, t.l_linenumber,
       coalesce(u.new_qty, t.l_quantity) AS l_quantity,
       coalesce(u.new_price, t.l_extendedprice) AS l_extendedprice,
       t.l_discount, t.l_tax, t.l_returnflag, t.l_linestatus,
       t.l_shipdate::TIMESTAMP_NS AS l_shipdate
FROM lineitem t
LEFT JOIN upd u ON t.l_orderkey = u.l_orderkey AND t.l_linenumber = u.l_linenumber
"""


# ---------------------------------------------------------------------------
# Calc pipeline: typed params + CH-dialect stored query → materialize → export
# ---------------------------------------------------------------------------

_CALC_STORED_SQL = """
select lpad(toString(c_nationkey), 3, '0') as nation_code,
       toYear(o_orderdate) as order_year,
       toYYYYMMDD(o_orderdate) as order_yyyymmdd,
       if(o_totalprice > {bigthr:Decimal(38,6)}, 'BIG', 'SMALL') as size_bucket,
       count(*) as n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total_price
from orders
join customer on o_custkey = c_custkey
where c_mktsegment = {seg:String}
  and o_orderdate >= parseDateTime({from_date:String}, '%Y-%m-%d')
  and o_orderkey % {modk:UInt32} != 0
group by lpad(toString(c_nationkey), 3, '0'), toYear(o_orderdate),
         toYYYYMMDD(o_orderdate),
         if(o_totalprice > {bigthr:Decimal(38,6)}, 'BIG', 'SMALL')
"""
_CALC_STORED_PARAMS = (
    QueryParam("bigthr", ParamType.DECIMAL, 1),
    QueryParam("seg", ParamType.STRING, 2),
    QueryParam("from_date", ParamType.STRING, 3),
    QueryParam("modk", ParamType.UINT32, 4),
)
_CALC_STORED_VALUES = {
    "bigthr": "250000",
    "seg": "BUILDING",
    "from_date": "1995-06-01",
    "modk": "7",
}


def calc_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full /calc lifecycle (C1–C4): bind typed params into a
    stored ClickHouse-dialect query, dialect-translate, materialize
    into the cache table, then export (hash-sliced) — returns the
    exported 'Oracle-side' table."""
    register_views(spark, sf_dir)
    store = _tmp_store(spark)
    meta = QueryMeta(
        query_id=6184,
        ch_table="ch_calc_orders",
        ora_table="calc_orders",
        query=_CALC_STORED_SQL,
        params=_CALC_STORED_PARAMS,
        ch_schema="ch",
        ora_schema="msk_arm_lead",
    )
    engine = CalcEngine(spark, store, {6184: meta})
    engine.run(
        [
            CalcQuery(
                query_id=6184,
                copy_by_parts_key="nation_code",
                copy_by_parts_cnt=4,
                params=dict(_CALC_STORED_VALUES),
            )
        ]
    )
    return store.read("msk_arm_lead", "calc_orders")


CALC_PIPELINE_ORACLE = """
SELECT lpad(cast(c_nationkey as varchar), 3, '0') AS nation_code,
       cast(year(o_orderdate) as int) AS order_year,
       cast(strftime(o_orderdate, '%Y%m%d') as int) AS order_yyyymmdd,
       CASE WHEN o_totalprice > 250000 THEN 'BIG' ELSE 'SMALL' END AS size_bucket,
       count(*) AS n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate >= timestamp '1995-06-01'
  AND o_orderkey % 7 != 0
GROUP BY 1, 2, 3, 4
"""


def window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function surface beyond the reference's NTILE: per-status
    top-5 orders with rank / dense_rank / lag / running sum."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    wsum = w.rowsBetween(W.unboundedPreceding, 0)
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.sum(_dec("o_totalprice")).over(wsum).cast("double").alias("running_total"),
        )
        .filter(F.col("rn") <= 5)
    )


WINDOW_FUNCTIONS_ORACLE = """
SELECT * FROM (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
         cast(row_number() OVER w as int) AS rn,
         cast(rank() OVER w as int) AS rnk,
         cast(dense_rank() OVER w as int) AS drnk,
         lag(o_totalprice) OVER w AS prev_price,
         cast(sum(cast(o_totalprice as decimal(18,2)))
              OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey
                    ROWS UNBOUNDED PRECEDING) as double) AS running_total
  FROM orders
  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 5
"""


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer key sets (beyond the
    reference surface; table-stakes for a complete SQL engine)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter("c_mktsegment = 'BUILDING'").select("c_custkey")
    big_buyers = (
        orders.filter("o_totalprice > 250000").select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    both = building.intersect(big_buyers).withColumn("set_kind", F.lit("both"))
    only_building = building.exceptAll(big_buyers).distinct().withColumn(
        "set_kind", F.lit("building_only")
    )
    any_of = building.union(big_buyers).distinct().withColumn("set_kind", F.lit("any"))
    return both.unionByName(only_building).unionByName(any_of)


SET_OPS_ORACLE = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 250000)
SELECT c_custkey, 'both' AS set_kind FROM (SELECT * FROM building INTERSECT SELECT * FROM big)
UNION ALL
SELECT c_custkey, 'building_only' AS set_kind FROM (SELECT * FROM building EXCEPT SELECT * FROM big)
UNION ALL
SELECT c_custkey, 'any' AS set_kind FROM (SELECT * FROM building UNION SELECT * FROM big)
"""


def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — subtotal/grand-total rows (beyond the
    reference surface)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
        )
    )


ROLLUP_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + grouping_id — the general form of
    rollup/cube, with a marker distinguishing which set produced each
    row (NULL-vs-subtotal disambiguation)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               cast(grouping_id(o_orderstatus, o_orderpriority) as int) AS gid,
               count(*) AS n_orders,
               cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       cast(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) as int) AS gid,
       count(*) AS n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
"""


def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column surface: parse the events ``props`` JSON payload
    and aggregate an extracted field (semi-structured data support
    beyond the reference's flat-scalar model)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


JSON_EXTRACT_ORACLE = """
SELECT event_type, count(*) AS n_events,
       cast(sum((props->>'k')::BIGINT) as bigint) AS sum_k,
       min((props->>'k')::BIGINT) AS min_k,
       max((props->>'k')::BIGINT) AS max_k
FROM events GROUP BY event_type
"""


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: line-status columns per return flag (wide-format
    reshaping; oracle expresses the same via conditional aggregation
    so the output columns match exactly)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


PIVOT_ORACLE = """
SELECT l_returnflag,
       cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity as decimal(18,2)) END) as double) AS qty_open,
       cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity as decimal(18,2)) END) as double) AS qty_filled
FROM lineitem GROUP BY l_returnflag
"""


def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join — no per-row re-execution): each order compared
    to its customer's average order value."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice,
               (SELECT cast(sum(cast(o2.o_totalprice as decimal(18,2))) as double)
                       / count(*)
                FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg,
               CASE WHEN o_totalprice >
                    (SELECT cast(sum(cast(o3.o_totalprice as decimal(18,2))) as double)
                            / count(*)
                     FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
                    THEN 1 ELSE 0 END AS above_avg
        FROM orders o
        WHERE o_orderkey < 2000
    """)


CORRELATED_SUBQUERY_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       (SELECT cast(sum(cast(o2.o_totalprice as decimal(18,2))) as double)
               / count(*)
        FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS cust_avg,
       CASE WHEN o_totalprice >
            (SELECT cast(sum(cast(o3.o_totalprice as decimal(18,2))) as double)
                    / count(*)
             FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
            THEN 1 ELSE 0 END AS above_avg
FROM orders o
WHERE o_orderkey < 2000
"""


def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery over part names (upper/lower/trim/
    replace/substring/length/reverse/concat/split indexing)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias("trimmed"),
        F.regexp_replace("p_name", "a", "@").alias("replaced"),
        F.substring("p_name", 2, 5).alias("sub"),
        F.length("p_name").cast("bigint").alias("len"),
        F.reverse(F.col("p_brand")).alias("rev"),
        F.concat_ws("/", "p_brand", "p_type").alias("joined"),
        F.split(F.col("p_type"), " ").getItem(0).alias("first_word"),
    )


STRING_FUNCTIONS_ORACLE = """
SELECT p_partkey,
       upper(p_name) AS up,
       lower(p_brand) AS lo,
       trim('  ' || p_type || '  ') AS trimmed,
       regexp_replace(p_name, 'a', '@', 'g') AS replaced,
       substring(p_name, 2, 5) AS sub,
       length(p_name)::BIGINT AS len,
       reverse(p_brand) AS rev,
       concat_ws('/', p_brand, p_type) AS joined,
       string_split(p_type, ' ')[1] AS first_word
FROM part
"""


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    ≡ DuckDB ``quantile_cont`` — verified bit-identical)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.min("o_totalprice").alias("p_min"),
        F.max("o_totalprice").alias("p_max"),
    )


PERCENTILES_ORACLE = """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       min(o_totalprice) AS p_min,
       max(o_totalprice) AS p_max
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# Structural replica of the shipped production calc query
# (v_cache_for_calc_6184_4626.txt) — same construct inventory, our tables
# ---------------------------------------------------------------------------

# Mirrors, construct-for-construct (reference line cites):
#  - join on derived subquery               (:97-108)
#  - left join with rn=1 dedup in ON        (:140-146)
#  - disjunctive filter w/ semi-join branch (:109-120)
#  - coalesce (:32,46..), if (:37,121), lpad (:126,130),
#    toFixedString (:134), toYYYYMMDD (:104-105), parseDateTime (:104-107),
#    concat+toString (:121), {name:Type} params (:99-100,...)
_CALC_REPLICA_SQL = """
select nation, is_big, code,
       count(*) as cnt,
       cast(sum(cast(total as decimal(18,2))) as double) as summa
from (
  select coalesce(n.n_name, concat('NONE_', toString(c.c_nationkey))) as nation,
         if(o.o_totalprice > {thr:Decimal(38,6)}, 'BIG', 'SMALL') as is_big,
         lpad(toString(c.c_nationkey), 3, '0') as code,
         toFixedString(c.c_mktsegment, 10) as seg_fixed,
         toYYYYMMDD(o.o_orderdate) as ymd,
         o.o_totalprice as total
  from orders o
  join (select * from customer where c_acctbal > 0) c
    on o.o_custkey = c.c_custkey
  left join (
    select n_nationkey, n_name,
           row_number() over (partition by n_regionkey order by n_nationkey) as rn
    from nation
  ) n on c.c_nationkey = n.n_nationkey and n.rn <= {maxrn:UInt32}
  where (o.o_orderstatus = 'F'
         or o.o_orderkey in (select l_orderkey from lineitem
                             where l_quantity >= {minq:UInt32}))
    and o.o_orderdate >= parseDateTime({d0:String}, '%Y-%m-%d')
) t1
group by nation, is_big, code
"""


def calc_replica_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production calc query's structure end-to-end through the
    calc engine (bind → dialect-translate → materialize → export)."""
    register_views(spark, sf_dir)
    store = _tmp_store(spark)
    meta = QueryMeta(
        query_id=4626,
        ch_table="ch_replica",
        ora_table="replica",
        query=_CALC_REPLICA_SQL,
        params=(
            QueryParam("thr", ParamType.DECIMAL, 1),
            QueryParam("maxrn", ParamType.UINT32, 2),
            QueryParam("minq", ParamType.UINT32, 3),
            QueryParam("d0", ParamType.STRING, 4),
        ),
        ch_schema="ch",
        ora_schema="msk_arm_lead",
    )
    engine = CalcEngine(spark, store, {4626: meta})
    engine.run(
        [
            CalcQuery(
                query_id=4626,
                params={"thr": "200000", "maxrn": "3", "minq": "47", "d0": "1993-06-01"},
            )
        ]
    )
    return store.read("msk_arm_lead", "replica")


CALC_REPLICA_ORACLE = """
SELECT nation, is_big, code,
       count(*) AS cnt,
       cast(sum(cast(total as decimal(18,2))) as double) AS summa
FROM (
  SELECT coalesce(n.n_name, 'NONE_' || cast(c.c_nationkey as varchar)) AS nation,
         CASE WHEN o.o_totalprice > 200000 THEN 'BIG' ELSE 'SMALL' END AS is_big,
         lpad(cast(c.c_nationkey as varchar), 3, '0') AS code,
         o.o_totalprice AS total
  FROM orders o
  JOIN (SELECT * FROM customer WHERE c_acctbal > 0) c
    ON o.o_custkey = c.c_custkey
  LEFT JOIN (
    SELECT n_nationkey, n_name,
           row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn
    FROM nation
  ) n ON c.c_nationkey = n.n_nationkey AND n.rn <= 3
  WHERE (o.o_orderstatus = 'F'
         OR o.o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 47))
    AND o.o_orderdate >= timestamp '1993-06-01'
) t1
GROUP BY nation, is_big, code
"""


# ---------------------------------------------------------------------------
# Dialect battery #2 — the round-5 translator surface, value-gated
# ---------------------------------------------------------------------------

# ClickHouse-dialect text exercising the r5 additions (array literals,
# IN-list brackets, interval constructors, keyword-unit dateAdd,
# functional arithmetic, leftPad, toMonday, lambda-first higher-order
# array fns, -If combinators, uniqExact, argMax, multiIf, decimal
# scale args) — translated at runtime, never hand-ported
_DIALECT2_CH_SQL = """
select o_orderstatus, bucket,
       countIf(o_orderkey, is_urgent) as n_urgent,
       toFloat64(sumIf(toDecimal64(o_totalprice, 2),
                       o_orderpriority in ['1-URGENT', '2-HIGH'])) as urgent_total,
       uniqExact(pad_key) as n_padkeys,
       toDateTime(min(wk)) as first_week,
       max(d3) as last_d3,
       argMax(o_orderpriority, o_orderkey) as latest_prio
from (
  select o_orderstatus, o_totalprice, o_custkey, o_orderkey, o_orderpriority,
         multiIf(o_totalprice > 200000, 'B', o_totalprice > 100000, 'M', 'S') as bucket,
         toMonday(o_orderdate) as wk,
         dateAdd(DAY, 3, o_orderdate) as d3,
         leftPad(toString(modulo(o_orderkey, 97)), 4, '0') as pad_key,
         arrayExists(x -> x = substring(o_orderpriority, 1, 1), ['1', '2']) as is_urgent
  from orders
  where o_orderdate + toIntervalDay(30) >= parseDateTime('1995-06-01', '%Y-%m-%d')
)
group by o_orderstatus, bucket
order by o_orderstatus, bucket
limit 2 by o_orderstatus
"""


def calc_dialect2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 dialect surface, value-gated: the CH text above runs
    through ``translate_ch_sql`` (no params this time) and must match
    the hand-ANSI DuckDB replay."""
    from ora_ch_spark.functions.dialect import translate_ch_sql

    register_views(spark, sf_dir)
    return spark.sql(translate_ch_sql(_DIALECT2_CH_SQL)).orderBy(
        "o_orderstatus", "bucket"
    )


DIALECT2_ORACLE = """
SELECT o_orderstatus, bucket,
       count(CASE WHEN is_urgent THEN o_orderkey END) AS n_urgent,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN cast(o_totalprice as decimal(18,2)) END) as double) AS urgent_total,
       count(DISTINCT pad_key) AS n_padkeys,
       cast(min(wk) as timestamp) AS first_week,
       max(d3) AS last_d3,
       max_by(o_orderpriority, o_orderkey) AS latest_prio
FROM (
  SELECT o_orderstatus, o_totalprice, o_custkey, o_orderkey, o_orderpriority,
         CASE WHEN o_totalprice > 200000 THEN 'B'
              WHEN o_totalprice > 100000 THEN 'M' ELSE 'S' END AS bucket,
         cast(date_trunc('week', o_orderdate) as date) AS wk,
         o_orderdate + INTERVAL 3 DAY AS d3,
         lpad(cast(o_orderkey % 97 as varchar), 4, '0') AS pad_key,
         substring(o_orderpriority, 1, 1) IN ('1', '2') AS is_urgent
  FROM orders
  WHERE o_orderdate + INTERVAL 30 DAY >= strptime('1995-06-01', '%Y-%m-%d')
)
GROUP BY o_orderstatus, bucket
QUALIFY row_number() OVER (PARTITION BY o_orderstatus
                           ORDER BY o_orderstatus, bucket) <= 2
ORDER BY o_orderstatus, bucket
"""


# ---------------------------------------------------------------------------
# Dialect battery #3 — the batch-3 translator surface, value-gated
# ---------------------------------------------------------------------------

# CH-dialect text exercising the round-5 batch-3 additions (array
# slicing/mutators, bit ops, UTF8-suffixed string names, OrZero
# casts, countSubstrings, positionUTF8, base64, timeSlot,
# addSeconds, concatWithSeparator) — translated at runtime
_DIALECT3_CH_SQL = """
select flag,
       toInt64(count(*)) as n,
       toInt64(sum(bitAnd(p_partkey, 255))) as and_sum,
       toInt64(sum(bitXor(p_size, bitShiftRight(p_partkey, 2)))) as xor_sum,
       toInt64(sum(bitCount(p_size))) as bits,
       toInt64(sum(arrayUniq(words))) as uniq_words,
       max(arrayElement(words, -1)) as last_word,
       toInt64(sum(positionUTF8(p_type, 'E'))) as pos_sum,
       toInt64(sum(countSubstrings(p_name, 'an'))) as n_an,
       toInt64(sum(toInt32OrZero(leftUTF8(toString(p_partkey), 1)))) as digit_sum,
       toInt64(min(toUnixTimestamp(timeSlot(ship_ts)))) as first_slot,
       max(base64Encode(concatWithSeparator('-', p_brand, upperUTF8(p_type)))) as b64
from (
  select p_partkey, p_size, p_name, p_type, p_brand,
         multiIf(p_size > 25, 'H', 'L') as flag,
         arrayPushBack(arraySlice(splitByChar(' ', p_name), 1, 2),
                       toString(p_partkey)) as words,
         addSeconds(toDateTime(toDateOrZero('1995-01-01')),
                    modulo(p_partkey, 86399)) as ship_ts
  from part
  where p_retailprice > toFloat64OrZero('900')
)
group by flag
order by flag
"""


def calc_dialect3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-3 dialect surface, value-gated: the CH text above runs
    through ``translate_ch_sql`` and must match the hand-ANSI DuckDB
    replay (UTC session: toUnixTimestamp ≡ DuckDB epoch)."""
    from ora_ch_spark.functions.dialect import translate_ch_sql

    register_views(spark, sf_dir)
    return spark.sql(translate_ch_sql(_DIALECT3_CH_SQL)).orderBy("flag")


DIALECT3_ORACLE = """
SELECT flag,
       cast(count(*) as bigint) AS n,
       cast(sum(p_partkey & 255) as bigint) AS and_sum,
       cast(sum(xor(p_size, p_partkey >> 2)) as bigint) AS xor_sum,
       cast(sum(bit_count(cast(p_size as bigint))) as bigint) AS bits,
       cast(sum(len(list_distinct(words))) as bigint) AS uniq_words,
       max(words[-1]) AS last_word,
       cast(sum(strpos(p_type, 'E')) as bigint) AS pos_sum,
       cast(sum((len(p_name) - len(replace(p_name, 'an', ''))) // 2)
            as bigint) AS n_an,
       cast(sum(coalesce(try_cast(left(cast(p_partkey as varchar), 1) as int), 0))
            as bigint) AS digit_sum,
       cast(min((cast(epoch(ship_ts) as bigint) // 1800) * 1800) as bigint)
            AS first_slot,
       max(to_base64(encode(p_brand || '-' || upper(p_type)))) AS b64
FROM (
  SELECT p_partkey, p_size, p_name, p_type, p_brand,
         CASE WHEN p_size > 25 THEN 'H' ELSE 'L' END AS flag,
         list_append(list_slice(string_split(p_name, ' '), 1, 2),
                     cast(p_partkey as varchar)) AS words,
         cast(date '1995-01-01' as timestamp)
           + (p_partkey % 86399) * INTERVAL 1 SECOND AS ship_ts
  FROM part
  WHERE p_retailprice > 900
)
GROUP BY flag
ORDER BY flag
"""


# CH WITH FILL over a sparse numeric grid — the translator emits the
# sequence-spine full join; the oracle replays it with
# generate_series. trunc-before-div avoids the DuckDB round-on-cast
# vs Spark truncate-on-cast divergence.
_WITH_FILL_CH_SQL = """
select bucket, toInt64(count(*)) as n
from (
  select intDiv(toInt32(o_totalprice), 50000) as bucket
  from orders
  where o_orderstatus = 'P'
)
group by bucket
order by bucket with fill from 0 to 12
"""


# CH WITH TOTALS over the orders table — GROUPING SETS rewrite,
# replayed verbatim by DuckDB (same GROUPING SETS semantics)
_WITH_TOTALS_CH_SQL = """
select o_orderstatus, o_orderpriority,
       toInt64(count(*)) as n,
       toFloat64(sum(toDecimal64(o_totalprice, 2))) as total
from orders
where o_orderdate >= toDate('1996-01-01')
group by o_orderstatus, o_orderpriority with totals
"""


def calc_with_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY … WITH TOTALS`` through ``translate_ch_sql``: group
    rows plus the grand-total row in one GROUPING SETS pass."""
    from ora_ch_spark.functions.dialect import translate_ch_sql

    register_views(spark, sf_dir)
    return spark.sql(translate_ch_sql(_WITH_TOTALS_CH_SQL)).orderBy(
        "o_orderstatus", "o_orderpriority"
    )


WITH_TOTALS_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       cast(count(*) as bigint) AS n,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) AS total
FROM orders
WHERE o_orderdate >= date '1996-01-01'
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), ())
ORDER BY o_orderstatus, o_orderpriority
"""


def calc_with_fill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ORDER BY … WITH FILL`` through ``translate_ch_sql``: grid
    rows 0..11 added with NULL counts, observed buckets kept."""
    from ora_ch_spark.functions.dialect import translate_ch_sql

    register_views(spark, sf_dir)
    return spark.sql(translate_ch_sql(_WITH_FILL_CH_SQL)).orderBy("bucket")


WITH_FILL_ORACLE = """
WITH agg AS (
  SELECT cast(trunc(o_totalprice) as int) // 50000 AS bucket,
         cast(count(*) as bigint) AS n
  FROM orders
  WHERE o_orderstatus = 'P'
  GROUP BY 1
)
SELECT coalesce(a.bucket, s.g) AS bucket, a.n AS n
FROM (SELECT unnest(generate_series(0, 11)) AS g) s
FULL OUTER JOIN agg a ON a.bucket = s.g
ORDER BY bucket
"""


# Statement-construct COMBINATIONS from the round-5 review fixes:
# EXCEPT ALL as a set-op boundary for LIMIT BY, WITH TOTALS with a
# HAVING that must NOT drop the totals row, and a FORMAT tail —
# locked under the external gate, not just unit tests
_DIALECT4_CH_SQL = """
select o_orderstatus, o_orderpriority,
       toInt64(count(*)) as n,
       toInt64(sum(intDiv(toInt32(o_totalprice), 1000))) as ktotal
from orders
where o_orderdate < toDate('1997-01-01')
group by o_orderstatus, o_orderpriority with totals
having count(*) > 100
order by o_orderstatus, o_orderpriority
FORMAT TabSeparated
"""

# LIMIT BY binds to the LAST set-op branch (CH scoping): B = the
# per-status top-1 of even-keyed orders; result = expensive orders
# EXCEPT ALL B — small, deterministic, and only correct if the
# boundary fix routes the wrapper around branch 2 alone
_DIALECT4_CH_SQL2 = """
select o_orderstatus, o_orderkey, o_totalprice
from orders where o_totalprice > 495000
except all
select o_orderstatus, o_orderkey, o_totalprice
from orders where modulo(o_orderkey, 2) = 0
order by o_totalprice desc, o_orderkey
limit 1 by o_orderstatus
"""


def calc_dialect4_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Review-fix construct combos end-to-end: (a) WITH TOTALS +
    HAVING (totals row exempt) + FORMAT tail; (b) EXCEPT ALL
    scoping a LIMIT BY to the last branch. Both rewritten text,
    unioned into one gated result."""
    from ora_ch_spark.functions.dialect import translate_ch_sql

    register_views(spark, sf_dir)
    a = spark.sql(translate_ch_sql(_DIALECT4_CH_SQL)).select(
        F.lit("totals").alias("part"),
        F.coalesce("o_orderstatus", F.lit("__T__")).alias("k1"),
        F.coalesce("o_orderpriority", F.lit("__T__")).alias("k2"),
        F.col("n").alias("v1"),
        F.col("ktotal").alias("v2"),
    )
    b = spark.sql(translate_ch_sql(_DIALECT4_CH_SQL2)).select(
        F.lit("limitby").alias("part"),
        F.col("o_orderstatus").alias("k1"),
        F.col("o_orderkey").cast("string").alias("k2"),
        F.col("o_totalprice").cast("bigint").alias("v1"),
        F.lit(0).cast("bigint").alias("v2"),
    )
    return a.unionByName(b).orderBy("part", "k1", "k2")


DIALECT4_ORACLE = """
WITH a AS (
  SELECT 'totals' AS part,
         coalesce(o_orderstatus, '__T__') AS k1,
         coalesce(o_orderpriority, '__T__') AS k2,
         cast(count(*) as bigint) AS v1,
         cast(sum(cast(trunc(o_totalprice) as int) // 1000) as bigint) AS v2,
         grouping(o_orderstatus) AS g
  FROM orders
  WHERE o_orderdate < date '1997-01-01'
  GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), ())
  HAVING count(*) > 100 OR grouping(o_orderstatus) = 1
),
src AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice FROM orders
  WHERE o_totalprice > 495000
  EXCEPT ALL
  SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderstatus
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders WHERE o_orderkey % 2 = 0
  ) WHERE rn <= 1
),
b AS (
  SELECT 'limitby' AS part, o_orderstatus AS k1,
         cast(o_orderkey as varchar) AS k2,
         cast(trunc(o_totalprice) as bigint) AS v1,
         cast(0 as bigint) AS v2
  FROM src
)
SELECT part, k1, k2, v1, v2 FROM a
UNION ALL
SELECT part, k1, k2, v1, v2 FROM b
ORDER BY part, k1, k2
"""


# ---------------------------------------------------------------------------
# VERBATIM shipped calc query through the dialect translator
# ---------------------------------------------------------------------------

# The reference's production stored query, UNMODIFIED
# (ora_ch_app/src/main/resources/v_cache_for_calc_6184_4626.txt:9-157)
# read from the reference checkout at runtime — the text is reference
# content and is deliberately NOT copied into this repo; the entry
# proves translate_ch_sql + bind_params handle the real 156-line text
# end-to-end (calc_replica_6184 covers the construct inventory with a
# hand replica; this covers the TRANSLATOR on the original).
_V6184_PATH = (
    "/root/reference/ora_ch_app/src/main/resources/"
    "v_cache_for_calc_6184_4626.txt"
)
# vendored byte-identical fixture (tests/fixtures/, provenance header
# stripped by the loader) so the verbatim gate and the CalcEngine e2e
# never skip on a checkout without the reference tree
_V6184_VENDORED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "v_cache_for_calc_6184_4626.txt",
)


def _v6184_path() -> str:
    return _V6184_PATH if os.path.exists(_V6184_PATH) else _V6184_VENDORED

# synthetic fixture tables with the production schemas, derived
# deterministically from the TPC-H-ish parquet so the DuckDB oracle
# can rebuild byte-identical inputs. Common SQL subset only (runs
# verbatim in Spark AND DuckDB): concat/lpad/CASE/%/year/INTERVAL.
# {L}/{O} are replaced with each engine's lineitem/orders relation.
_V6184_FIXTURES: dict[tuple[str, str], str] = {
    ("msk_arm_v2", "eaist_v_financeplan"): """
        SELECT l_orderkey * 10 + l_linenumber AS id,
               l_orderkey AS contract_id,
               cast(l_extendedprice as double) AS summa,
               concat('P', l_partkey % 5) AS purpose,
               l_suppkey % 7 AS grbs,
               concat('F', l_partkey % 4) AS functional,
               concat('E', l_suppkey % 6) AS expense,
               concat('K', l_partkey % 3) AS economic,
               l_shipdate AS budget_year
        FROM {L} WHERE l_linenumber <= 2""",
    ("msk_analytics_caches", "cache_for_calc_12904_11487"): """
        SELECT o_orderkey AS id_contract,
               concat('D', o_orderkey % 100) AS doc_num,
               cast(o_orderkey % 3 + 1 as int) AS version,
               cast(CASE WHEN o_orderkey % 7 = 0 THEN 5 ELSE 1 END as int) AS type_info,
               o_orderdate AS sign_date,
               cast(o_orderkey % 97 as int) AS sign_number,
               cast(CASE WHEN o_orderkey % 5 = 0 THEN 20230101
                         ELSE 20240101 END as double) AS date_cache,
               cast(20240117 as double) AS datecalc_cache
        FROM {O}""",
    ("msk_arm_v2", "eaist_v_contract"): """
        SELECT o_orderkey AS id, o_orderdate AS date_start,
               o_orderdate + INTERVAL 2 YEAR AS date_end
        FROM {O}""",
    ("msk_arm_v2", "v_ref_financeplan_data_depfi_v"): """
        SELECT o_orderkey AS id_contract, o_orderdate AS data_bo,
               cast(year(o_orderdate) as int) AS year_bo,
               cast(o_totalprice as double) AS payment_bo,
               cast(o_orderkey % 2 + 1 as int) AS id_pbo_type
        FROM {O}""",
    ("msk_analytics", "v_gp_kbk_un"): """
        SELECT DISTINCT
               concat('E', l_suppkey % 6) AS vr_code,
               concat('P', l_partkey % 5) AS cr_code,
               lpad(concat('', l_suppkey % 7), 3, '0') AS gr_code,
               concat('F', l_partkey % 4) AS fk_code,
               concat('K', l_partkey % 3) AS kg_code,
               cast(1 as int) AS id_budget_type,
               cast(1 as int) AS is_budget_type,
               CASE WHEN l_partkey % 4 = 0 THEN NULL
                    ELSE cast(l_partkey % 4 as int) END AS ra_id,
               CASE WHEN l_partkey % 3 = 0 THEN NULL
                    ELSE cast(l_partkey % 3 * 1000 as int) END AS id_classifier_kbk,
               CASE WHEN l_partkey % 5 = 0 THEN NULL
                    ELSE concat('G', l_partkey % 5) END AS gp_code,
               concat('S', l_suppkey % 6) AS gsp_code,
               cast(l_partkey % 3 % 2 as int) AS is_modern,
               cast(l_suppkey % 6 + l_partkey % 5 as int) AS id_meropr_group,
               cast(CASE WHEN (l_suppkey % 6 + l_suppkey % 7) % 2 = 0
                         THEN 1997 ELSE 1996 END as int) AS n_year,
               cast(CASE WHEN (l_suppkey % 6 + l_suppkey % 7) % 2 = 0
                         THEN 1997 ELSE 1996 END as int) AS cur_year
        FROM {L}""",
    ("msk_nsi", "d_expense_article"): """
        SELECT DISTINCT cast(100 + l_partkey % 5 as int) AS id,
               concat('P', l_partkey % 5) AS s_code
        FROM {L} WHERE l_partkey % 5 <= 3""",
    ("msk_nsi", "d_oiv"): """
        SELECT DISTINCT cast(200 + l_suppkey % 7 as int) AS id,
               lpad(concat('', l_suppkey % 7), 3, '0') AS grbs
        FROM {L} WHERE l_suppkey % 7 <= 5""",
    ("msk_nsi", "d_expense_section"): """
        SELECT DISTINCT cast(300 + l_partkey % 4 as int) AS id,
               concat('F', l_partkey % 4) AS s_code
        FROM {L}""",
    ("msk_nsi", "d_expense_kind"): """
        SELECT DISTINCT cast(400 + l_suppkey % 6 as int) AS id,
               concat('E', l_suppkey % 6) AS s_code
        FROM {L} WHERE l_suppkey % 6 <= 4""",
    ("msk_nsi", "d_expense_kosgu"): """
        SELECT DISTINCT cast(500 + l_partkey % 3 as int) AS id,
               concat('K', l_partkey % 3) AS s_code
        FROM {L}""",
    ("msk_arm_v2", "mv_spr_w_vr_contr"): """
        SELECT DISTINCT concat('E', l_suppkey % 6) AS code
        FROM {L} WHERE l_suppkey % 6 <= 3""",
    ("msk_analytics_caches", "cache_for_calc_12044_10407"): """
        SELECT l_orderkey * 10 + l_linenumber AS id_finplan,
               cast(l_linenumber as int) AS rn_pbo,
               cast(l_extendedprice * 0.5 as double) AS payment_bo,
               cast(CASE WHEN l_orderkey % 3 = 0 THEN 20230101
                         ELSE 20240101 END as double) AS date_cache,
               cast(20240117 as double) AS datecalc_cache
        FROM {L} WHERE l_linenumber <= 2""",
    ("msk_arm_v2", "mv_restriction_pd"): """
        SELECT DISTINCT cast(200 + l_suppkey % 7 as int) AS id_oiv,
               cast(100 + l_partkey % 5 as int) AS id_expense,
               cast(300 + l_partkey % 4 as int) AS id_section,
               cast(400 + l_suppkey % 6 as int) AS id_exp_kind,
               cast(500 + l_partkey % 3 as int) AS id_kosgu_ext,
               cast(1997 as int) AS year,
               cast(1 as int) AS id_budget_type
        FROM {L} WHERE (l_partkey + l_suppkey) % 3 = 0""",
}

_V6184_PARAMS = (
    QueryParam("date_cache_1", ParamType.DECIMAL, 1),
    QueryParam("datecalc_cache_1", ParamType.DECIMAL, 2),
    QueryParam("date_calc_ctr", ParamType.STRING, 3),
    QueryParam("year_bo", ParamType.UINT32, 4),
    QueryParam("c_year", ParamType.UINT32, 5),
)
# dates shifted into the synthetic orders range (1995-2001); the {name:Type}
# binding machinery is exercised for all three reference param types
_V6184_VALUES = {
    "date_cache_1": "20240101",
    "datecalc_cache_1": "20240117",
    "date_calc_ctr": "1998-02-15",
    "year_bo": "1997",
    "c_year": "1997",
}


def _v6184_view_body() -> str:
    import re as _re

    path = _v6184_path()
    with open(path, encoding="utf-8") as fh:
        txt = fh.read()
    m = _re.search(r"CREATE VIEW[^\n]*AS\n", txt)
    if m is None:
        raise ValueError(f"no CREATE VIEW body in {path}")
    return txt[m.end():].rstrip().rstrip(";")


def _v6184_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Create the production-named fixture views (metadata only, no
    data copied) so the verbatim text's qualified references resolve,
    and return the verbatim query's ANALYZED base frame. Shared by the
    gated entry and the CalcEngine e2e test.

    Memoized per (session, sf_dir) with ``session.session_memo``: warm,
    at sf0.01 on 4 cores, the 13 CREATE OR REPLACE VIEW statements cost
    ~1.6 s, binding and translating the 156-line text ~0.2 s and its
    Catalyst analysis ~1.5 s, for identical results. The views live in
    the session's catalog, so a fresh session rebuilds; switching
    sf_dir recreates the views and re-analyzes in one step. The memo
    holds a LAZY logical plan — every action still executes the full
    join DAG from the parquet inputs."""
    from ora_ch_spark.functions.dialect import translate_ch_sql
    from ora_ch_spark.functions.params import bind_params

    def build() -> DataFrame:
        for (db, tbl), sel in _V6184_FIXTURES.items():
            spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
            body = sel.format(
                L=f"parquet.`{sf_dir}/lineitem.parquet`",
                O=f"parquet.`{sf_dir}/orders.parquet`",
            )
            spark.sql(f"CREATE OR REPLACE VIEW {db}.{tbl} AS {body}")
        bound = bind_params(_v6184_view_body(), _V6184_PARAMS, _V6184_VALUES)
        return spark.sql(translate_ch_sql(bound))

    return session_memo(spark, ("v6184", sf_dir), build)


def calc_verbatim_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 156-line production query, verbatim, through
    ``bind_params`` + ``translate_ch_sql`` against the synthetic
    fixture schemas — the translator (not a hand replica) must handle
    the original text end-to-end. Fixtures are metadata-only views
    over the parquet files (no data copied), created under the
    production database names so the verbatim qualified references
    resolve. Known documented deviation exercised here:
    ``toFixedString(x, 1000)`` translates to a plain string cast, so
    the ``dk.s_code IN (…)`` membership test compares unpadded
    strings (CH FixedString NUL-padding has no Spark analogue)."""
    out = _v6184_fixture(spark, sf_dir)
    # total output order: fp_id is NOT unique ((l_orderkey,
    # l_linenumber) has duplicate pairs in the synthetic data — see
    # the verify-skill gotcha), so order over EVERY column;
    # nulls-last matches DuckDB's ASC default
    return out.orderBy(*[F.asc_nulls_last(c) for c in out.columns])


def _v6184_oracle() -> str:
    """Hand ANSI replay of the verbatim query over the same fixture
    definitions (the fixtures themselves are common-subset SQL and
    inline verbatim as CTEs)."""
    fx = {
        tbl: sel.format(L="lineitem", O="orders")
        for (_db, tbl), sel in _V6184_FIXTURES.items()
    }
    return f"""
WITH fp AS ({fx["eaist_v_financeplan"]}),
t3c AS ({fx["cache_for_calc_12904_11487"]}),
ctr AS ({fx["eaist_v_contract"]}),
depfi AS ({fx["v_ref_financeplan_data_depfi_v"]}),
gp_un AS ({fx["v_gp_kbk_un"]}),
d_art AS ({fx["d_expense_article"]}),
d_oiv AS ({fx["d_oiv"]}),
d_sec AS ({fx["d_expense_section"]}),
d_kind AS ({fx["d_expense_kind"]}),
d_kosgu AS ({fx["d_expense_kosgu"]}),
spr AS ({fx["mv_spr_w_vr_contr"]}),
d2c AS ({fx["cache_for_calc_12044_10407"]}),
restr AS ({fx["mv_restriction_pd"]}),
t4 AS (
  SELECT tt.summa, tt.purpose, tt.grbs, tt.functional, tt.expense,
         tt.economic, tt.budget_year, tt.id,
         t3.doc_num, t3.version, t3.type_info, t3.sign_date,
         t3.id_contract, t3_.date_start, t3_.date_end, t3.sign_number,
         t3.date_cache, t3.datecalc_cache
  FROM fp tt
  JOIN (SELECT * FROM t3c
        WHERE date_cache = 20240101 AND datecalc_cache = 20240117) t3
    ON t3.id_contract = tt.contract_id
  JOIN (SELECT * FROM ctr t3_
        WHERE year(t3_.date_start) < year(timestamp '1998-02-15')
          AND year(t3_.date_end) >= year(timestamp '1998-02-15')
          AND t3_.date_start < timestamp '1998-02-15'
          AND t3_.date_end >= timestamp '1998-02-15') t3_
    ON t3_.id = t3.id_contract
  WHERE (t3.type_info <> 5 OR
         (t3.type_info = 5 AND
          t3.id_contract IN (SELECT a.id_contract FROM depfi a
                             WHERE a.data_bo < timestamp '1998-02-15'
                               AND a.year_bo = 1997
                               AND a.payment_bo > 0
                               AND a.id_pbo_type = 1)))
    AND t3.sign_date <
        (CASE WHEN year(tt.budget_year) < year(current_date)
              THEN strptime(concat(cast(year(tt.budget_year) + 1 as varchar),
                                   '-01-01'), '%Y-%m-%d')
              ELSE cast(current_date as timestamp) END)
),
dd AS (
  SELECT t4.summa, t4.type_info,
         coalesce(d_art.id, 0) AS id_expense,
         coalesce(d_sec.id, 0) AS id_section,
         coalesce(d_oiv.id, 0) AS id_oiv,
         coalesce(d_kind.id, 0) AS id_exp_kind,
         coalesce(d_kosgu.id, 0) AS id_kosgu,
         cast(year(t4.date_start) as int) AS year,
         t4.doc_num, t4.version, t4.id AS fp_id, t4.id_contract,
         coalesce(cast(strftime(t4.date_start, '%Y%m%d') as int),
                  99990000) AS ddate,
         gp.ra_id, gp.id_classifier_kbk,
         coalesce(gp.gp_code, '0') AS gp_code,
         gp.gsp_code, gp.is_modern, gp.id_meropr_group,
         gp.is_budget_type, t4.sign_number,
         coalesce(gp.n_year, 0) AS gp_kbk_nyear,
         t4.date_cache, t4.datecalc_cache
  FROM t4
  JOIN gp_un gp ON gp.id_budget_type = 1
               AND t4.expense = gp.vr_code
               AND t4.purpose = gp.cr_code
               AND lpad(concat('', t4.grbs), 3, '0') = gp.gr_code
               AND t4.functional = gp.fk_code
               AND t4.economic = gp.kg_code
  LEFT JOIN d_art ON t4.purpose = d_art.s_code
  LEFT JOIN d_oiv ON d_oiv.grbs = lpad(concat('', t4.grbs), 3, '0')
  LEFT JOIN d_sec ON t4.functional = d_sec.s_code
  LEFT JOIN d_kind ON t4.expense = d_kind.s_code
  LEFT JOIN d_kosgu ON t4.economic = d_kosgu.s_code
  WHERE d_kind.s_code IN (SELECT code FROM spr)
    AND coalesce(d_oiv.id, 0) <> 0
    AND coalesce(d_kosgu.id, 0) <> 0
    AND gp.n_year = 1997 AND gp.cur_year = 1997
),
av AS (
  SELECT cast(1 as int) AS id_datasource,
         CASE WHEN dd.type_info <> 5 THEN dd.summa
              ELSE d2.payment_bo END AS summa,
         dd.id_expense, dd.id_section, dd.id_oiv, dd.id_exp_kind,
         dd.id_kosgu, dd.year, dd.doc_num, dd.version,
         coalesce(dd.ra_id, 0) AS ra_id,
         coalesce(dd.id_classifier_kbk, 0) AS id_classifier_kbk,
         dd.gp_code, dd.gsp_code, dd.is_modern, dd.id_meropr_group,
         dd.id_contract, dd.fp_id, dd.ddate, dd.is_budget_type,
         dd.sign_number, dd.gp_kbk_nyear, dd.date_cache,
         dd.datecalc_cache
  FROM dd
  LEFT JOIN (SELECT * FROM d2c
             WHERE date_cache = 20240101
               AND datecalc_cache = 20240117) d2
    ON dd.fp_id = d2.id_finplan AND d2.rn_pbo = 1 AND dd.type_info = 5
)
SELECT av.id_datasource, av.summa, av.id_expense, av.id_section,
       av.id_oiv, av.id_exp_kind, av.id_kosgu, av.year, av.doc_num,
       av.version, av.ra_id, av.id_classifier_kbk, av.gp_code,
       av.gsp_code, av.is_modern, av.id_meropr_group, av.id_contract,
       av.fp_id, av.ddate, av.is_budget_type, av.sign_number,
       av.gp_kbk_nyear, av.date_cache,
       coalesce(b.id_oiv, NULL, 0, 1) AS is_restr,
       av.datecalc_cache
FROM av
LEFT JOIN (SELECT id_oiv, id_expense, id_section, id_exp_kind,
                  id_kosgu_ext, year AS n_year_restr, id_budget_type
           FROM restr WHERE year = 1997) b
  ON b.id_budget_type = 1
 AND b.id_oiv = av.id_oiv
 AND b.id_expense = av.id_expense
 AND b.id_section = av.id_section
 AND b.id_exp_kind = av.id_exp_kind
 AND b.id_kosgu_ext = av.id_kosgu
WHERE av.ddate < 20240101 AND av.year = 1997
ORDER BY av.id_datasource, av.summa, av.id_expense, av.id_section,
         av.id_oiv, av.id_exp_kind, av.id_kosgu, av.year, av.doc_num,
         av.version, av.ra_id, av.id_classifier_kbk, av.gp_code,
         av.gsp_code, av.is_modern, av.id_meropr_group,
         av.id_contract, av.fp_id, av.ddate, av.is_budget_type,
         av.sign_number, av.gp_kbk_nyear, av.date_cache, is_restr,
         av.datecalc_cache
"""


def calc_verbatim_golden_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN validation method applied to the verbatim
    view: ``select sum(1) as cnt, sum(summa) as summa from v_cache…``
    (``v_cache_for_calc_6184_4626.txt:2-4`` records cnt=12687 /
    summa=411956508925.1 from production Oracle). Here the same
    golden aggregate runs over the translated verbatim view on the
    synthetic fixtures, gated against DuckDB — money sum through
    decimal(18,2) per the determinism rules."""
    df = calc_verbatim_q(spark, sf_dir)
    return df.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("summa").cast("decimal(18,2)")).cast("double").alias("summa"),
    )


def _v6184_golden_oracle() -> str:
    return (
        "SELECT count(*) AS cnt,"
        " cast(sum(cast(summa as decimal(18,2))) as double) AS summa"
        f" FROM ({_v6184_oracle()})"
    )


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

CORE_QUERIES: list[QueryDef] = [
    QueryDef("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE,
             "scan+agg surface on the fact table"),
    QueryDef("flagship_star", flagship_star, FLAGSHIP_ORACLE,
             "5-way join + semi-join + left join w/ ON predicate (≈ shipped calc query)"),
    QueryDef("ntile_export_slices", ntile_export_slices, NTILE_ORACLE,
             "S6 cityHash64+NTILE export slicing parity"),
    QueryDef("events_hourly", events_hourly, EVENTS_HOURLY_ORACLE,
             "hourly rollup of the events stream table"),
    QueryDef("op_recreate", op_recreate_q, OP_RECREATE_ORACLE, "O1 via scheduler+store"),
    QueryDef("op_append_where", op_append_where_q, OP_APPEND_WHERE_ORACLE, "O2 delete+insert range"),
    QueryDef("op_append_bymax", op_append_bymax_q, OP_APPEND_BYMAX_ORACLE, "O3 watermark append"),
    QueryDef("op_append_notin", op_append_notin_q, OP_APPEND_NOTIN_ORACLE, "O4 anti-join insert-if-absent"),
    QueryDef("op_update", op_update_q, OP_UPDATE_ORACLE, "O5 broadcast merge update"),
    QueryDef("calc_pipeline", calc_pipeline_q, CALC_PIPELINE_ORACLE,
             "C1–C4: typed params + CH dialect + materialize + sliced export"),
    QueryDef("calc_replica_6184", calc_replica_q, CALC_REPLICA_ORACLE,
             "structural replica of v_cache_for_calc_6184_4626.txt through the calc engine"),
    QueryDef("calc_verbatim_6184", calc_verbatim_q, _v6184_oracle(),
             "the VERBATIM 156-line production query text through bind_params + translate_ch_sql"),
    QueryDef("calc_verbatim_golden", calc_verbatim_golden_q, _v6184_golden_oracle(),
             "the reference's own sum(1)/sum(summa) golden check over the verbatim view"),
    QueryDef("calc_dialect_battery2", calc_dialect2_q, DIALECT2_ORACLE,
             "round-5 dialect surface (array literals, -If, intervals, dateAdd, multiIf, argMax) value-gated"),
    QueryDef("calc_dialect_battery3", calc_dialect3_q, DIALECT3_ORACLE,
             "batch-3 dialect surface (array mutators, bit ops, UTF8 strings, OrZero casts, timeSlot) value-gated"),
    QueryDef("calc_dialect_battery4", calc_dialect4_q, DIALECT4_ORACLE,
             "review-fix construct combos: WITH TOTALS+HAVING, EXCEPT ALL+LIMIT BY, FORMAT tail"),
    QueryDef("calc_with_fill", calc_with_fill_q, WITH_FILL_ORACLE,
             "CH ORDER BY … WITH FILL → sequence-spine full join, value-gated"),
    QueryDef("calc_with_totals", calc_with_totals_q, WITH_TOTALS_ORACLE,
             "CH GROUP BY … WITH TOTALS → GROUPING SETS grand-total row, value-gated"),
    QueryDef("window_functions", window_functions, WINDOW_FUNCTIONS_ORACLE,
             "rank/dense_rank/lag/running-sum window surface"),
    QueryDef("set_ops", set_ops, SET_OPS_ORACLE,
             "UNION/INTERSECT/EXCEPT over key sets"),
    QueryDef("grouping_sets_agg", grouping_sets_agg, GROUPING_SETS_ORACLE,
             "explicit GROUPING SETS + grouping_id disambiguation"),
    QueryDef("rollup_agg", rollup_agg, ROLLUP_ORACLE,
             "GROUP BY ROLLUP subtotals"),
    QueryDef("percentiles", percentiles, PERCENTILES_ORACLE,
             "exact interpolated percentiles per group"),
    QueryDef("json_extract_agg", json_extract_agg, JSON_EXTRACT_ORACLE,
             "JSON payload parsing + aggregation (events.props)"),
    QueryDef("pivot_agg", pivot_agg, PIVOT_ORACLE,
             "pivot to wide format (≡ conditional aggregation)"),
    QueryDef("correlated_subquery", correlated_subquery, CORRELATED_SUBQUERY_ORACLE,
             "correlated scalar subqueries (Catalyst decorrelation)"),
    QueryDef("string_functions", string_functions, STRING_FUNCTIONS_ORACLE,
             "string-function battery"),
]


# The driver's correctness gate covers the FIRST 50 entries of
# all_queries(), while the catalog is ~2× that — so entry ORDER
# decides which entries get externally verified each round. Rounds
# 2–4 rotated a hand-maintained list, which ADVICE r04 flagged as
# silently weakening coverage. The ordering is now COMPUTED from the
# committed gate history (CORRECTNESS_r*.json): entries that have
# never received a green row sort first, then green entries stalest-
# proof-first — every round the gate automatically re-verifies the
# least-recently-proven half of the catalog, and nothing can
# accumulate unproven behind the window (pinned by
# tests/test_units.py::test_gate_window_covers_unproven).


_GATE_HISTORY_CACHE: dict[str, int] | None = None


def _gate_history() -> dict[str, int]:
    """name → latest round with a passing gate row (hash_match, or
    rows_match for the weaker rows-only entries). Reads the committed
    CORRECTNESS_r{N}.json artifacts; missing/corrupt files are simply
    skipped, so a fresh checkout degrades to declaration order.
    Memoized per process — the artifacts are committed files that
    never change mid-run, and all_queries() is called repeatedly."""
    global _GATE_HISTORY_CACHE
    if _GATE_HISTORY_CACHE is not None:
        return _GATE_HISTORY_CACHE
    import glob
    import json
    import re

    hist: dict[str, int] = {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = row.get("hash_match")
            if ok is None:
                ok = bool(row.get("rows_match")) and row.get("err") is None
            if ok:
                hist[name] = max(rnd, hist.get(name, 0))
    _GATE_HISTORY_CACHE = hist
    return hist


GATE_SLOTS = 50  # the driver's correctness gate samples this many
                 # entries per round (first N of all_queries())


_CHANGED_SINCE_CACHE: dict[int, frozenset] = {}


def _impl_files(fn) -> frozenset:
    """Repo-relative source files implementing a catalog entry, one
    dependency level deep: the defining module plus every
    ora_ch_spark module/function the query function references
    (module-level aliases resolve through ``__globals__``;
    function-level ``from ... import`` shows its dotted module name
    in ``co_names``). Approximation by design — deeper transitive
    operator-to-operator calls are not chased; the r13 risk case
    (an operator rewritten in the module the entry directly calls)
    is exactly one level."""
    import importlib.util
    import inspect
    import sys
    import types

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def rel(path):
        if not path:
            return None
        try:
            r = os.path.relpath(os.path.abspath(path), root)
        except ValueError:
            return None
        return None if r.startswith("..") else r

    files = set()
    target = getattr(fn, "func", fn)  # unwrap functools.partial
    mod = sys.modules.get(getattr(target, "__module__", ""), None)
    if mod is not None:
        files.add(rel(getattr(mod, "__file__", None)))
    code = getattr(target, "__code__", None)
    gl = getattr(target, "__globals__", {})
    for name in getattr(code, "co_names", ()):
        if name.startswith("ora_ch_spark"):
            try:
                spec = importlib.util.find_spec(name)
                files.add(rel(spec.origin if spec else None))
            except (ImportError, AttributeError, ValueError):
                pass
            continue
        obj = gl.get(name)
        if isinstance(obj, types.ModuleType):
            if getattr(obj, "__name__", "").startswith("ora_ch_spark"):
                files.add(rel(getattr(obj, "__file__", None)))
        elif callable(obj) and getattr(obj, "__module__", "").startswith(
            "ora_ch_spark"
        ):
            m2 = sys.modules.get(obj.__module__)
            if m2 is not None:
                files.add(rel(getattr(m2, "__file__", None)))
    files.discard(None)
    return frozenset(files)


def _changed_since(rnd: int) -> frozenset:
    """Repo-relative engine files changed (committed or not) since
    the commit that recorded round ``rnd``'s driver gate — the
    CORRECTNESS_r{rnd}.json artifact commit, whose tree carries the
    exact code that round's driver run proved (the driver commits
    artifacts on top of the end-of-round snapshot without touching
    source). Any git failure degrades to "nothing changed" so a
    gitless checkout keeps the plain staleness order."""
    if rnd in _CHANGED_SINCE_CACHE:
        return _CHANGED_SINCE_CACHE[rnd]
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    changed: frozenset = frozenset()
    try:
        art = f"CORRECTNESS_r{rnd:02d}.json"
        commit = subprocess.run(
            ["git", "log", "--format=%H", "-n", "1", "--", art],
            cwd=root, capture_output=True, text=True, timeout=10,
        ).stdout.strip()
        if commit:
            out = subprocess.run(
                ["git", "diff", "--name-only", commit, "--",
                 "ora_ch_spark", "__spark_entry__.py"],
                cwd=root, capture_output=True, text=True, timeout=10,
            )
            if out.returncode == 0:
                changed = frozenset(
                    ln.strip() for ln in out.stdout.splitlines() if ln.strip()
                )
    except (OSError, subprocess.SubprocessError):
        pass
    _CHANGED_SINCE_CACHE[rnd] = changed
    return changed


def changed_entries(qs, hist: dict[str, int]) -> set:
    """Names of proven entries whose implementing files (one level,
    :func:`_impl_files`) changed since the round that last proved
    them — the riskiest slot in the rotation (r13: sim_topk_lsh was
    rewritten but sat stale-green for 3 rounds on its r10 proof).
    ``gate_order`` schedules these right after never-proven
    entries."""
    out = set()
    for q in qs:
        rnd = hist.get(q.name, 0)
        if rnd <= 0:
            continue  # never-proven entries already sort first
        if _impl_files(q.spark) & _changed_since(rnd):
            out.add(q.name)
    return out


def gate_order(
    names: list[str], hist: dict[str, int], changed: set | None = None
) -> list[str]:
    """Pure scheduling kernel for the correctness-gate rotation:
    stable sort by last-proven round (never-proven = 0 first, then
    stalest-proof-first; declaration order breaks ties).

    Guarantee (r10 window redesign): if each round proves the first
    ``GATE_SLOTS`` names of this order, every entry re-proves within
    ``ceil(len(names) / GATE_SLOTS)`` rounds — the pigeonhole-optimal
    bound for a fixed gate budget, valid for ANY catalog size (no
    hard 200-entry ceiling). New entries enter at round 0 and are
    proven in their first round as long as ≤ GATE_SLOTS entries are
    added per round. Simulated at 180/250/400 entries by
    tests/test_units.py::test_rotation_schedule_scales_past_window.

    ``changed`` (r14, verdict item 5) names proven entries whose
    implementing files changed since their last proof: they schedule
    directly after the never-proven block (stalest-first among
    themselves), so freshly changed code waits at most ONE round for
    a driver re-proof instead of riding a stale green to the
    pigeonhole bound — whenever the boost fits the window. A round
    that edits central modules (dialect/store/similarity) can mark
    far more entries than one gate can prove, so the boost is CAPPED
    at GATE_SLOTS // 2 (stalest-first among the changed): changed
    code drains through half of every window while the other half
    keeps serving the plain staleness rotation, bounding worst-case
    unchanged-entry staleness at 2·ceil(N / GATE_SLOTS). Entries
    leave the boost set the moment they re-prove."""
    changed = changed or set()
    if changed:
        boosted = set(
            sorted(
                (n for n in names if n in changed and hist.get(n, 0) > 0),
                key=lambda n: hist.get(n, 0),
            )[: GATE_SLOTS // 2]
        )
    else:
        boosted = set()
    return sorted(
        names,
        key=lambda n: (
            0 if hist.get(n, 0) == 0 else (1 if n in boosted else 2),
            hist.get(n, 0),
        ),
    )


def all_queries() -> list[QueryDef]:
    from ora_ch_spark.catalog_ext import EXT_QUERIES

    qs = CORE_QUERIES + EXT_QUERIES
    hist = _gate_history()
    order = {
        n: i
        for i, n in enumerate(
            gate_order([q.name for q in qs], hist, changed_entries(qs, hist))
        )
    }
    return sorted(qs, key=lambda q: order[q.name])
