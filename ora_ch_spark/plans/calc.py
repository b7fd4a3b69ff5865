"""The /calc pipeline — parameterized SQL materialization + export.

Reference flow (``calc/CalcLogic.scala``; SURVEY.md §2.3/§3.2):

1. fetch stored query meta (CLOB SQL + typed params),
2. bind ``{name:Type}`` params → literal splice (C1),
3. truncate + ``insert into ch_table <bound select>`` (C2),
4. concurrently: local-cache promotion (C3) + export to Oracle,
   whole or in N hash slices (C4/S6).

Spark-first mapping: the bound (and dialect-translated) SQL becomes a
``spark.sql`` logical plan that Catalyst optimizes end-to-end into the
materialization write — there is no intermediate engine. Export
parallelism needs no NTILE choreography: ``df.repartition(N,
xxhash64(key))`` makes every partition an independent writer task,
which is exactly what the reference emulates with
``cityHash64``+``NTILE`` slices (``jdbsChSession.scala:416-450``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ora_ch_spark.functions.dialect import translate_ch_sql
from ora_ch_spark.functions.params import bind_params
from ora_ch_spark.runlog import RunLog
from ora_ch_spark.session import overlap
from ora_ch_spark.specs import CalcQuery, QueryMeta
from ora_ch_spark.store import TableStore


class CalcEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: TableStore,
        catalog: dict[int, QueryMeta],
        runlog: RunLog | None = None,
        export_sink=None,
    ):
        """``catalog`` replaces the reference's ``ora_to_ch_query`` +
        ``ora_to_ch_query_params`` metadata tables
        (``ora/jdbcSession.scala:199-247``). ``export_sink`` is a
        callable ``(df, meta, parts)`` — JDBC writer in production
        (sinks/jdbc.py), store writer in tests."""
        self.spark = spark
        self.store = store
        self.catalog = catalog
        self.runlog = runlog or RunLog()
        self.export_sink = export_sink

    # ---- C1 + dialect ---------------------------------------------
    def bound_sql(self, meta: QueryMeta, q: CalcQuery) -> str:
        return translate_ch_sql(
            bind_params(meta.query, meta.params, q.params),
            byte_strings=meta.byte_strings,
        )

    # ---- C2: materialize into the cache table ---------------------
    def materialize(self, meta: QueryMeta, q: CalcQuery) -> DataFrame:
        df = self.spark.sql(self.bound_sql(meta, q))
        # truncate + insert ≡ one atomic overwrite version swap
        self.store.create_database(meta.ch_schema)
        self.store.write(meta.ch_schema, meta.ch_table, df)
        return self.store.read(meta.ch_schema, meta.ch_table)

    # ---- C3: local cache promotion (ch_X → X) ---------------------
    def promote_local_cache(
        self, meta: QueryMeta, key_columns: list[str] | None = None
    ) -> str:
        """Copy ``ch_<t>`` → ``<t>`` (strip the ``ch_`` prefix,
        ``jdbsChSession.scala:452-510``): delete target rows whose key
        tuple appears in the source (reference: ``delete where (k1,k2)
        in (select distinct …)`` — here a distributed anti-join), then
        insert column-aligned. ``key_columns`` defaults to the
        meta's ``local_cache_keys`` so the HTTP path gets keyed
        deletes too."""
        if key_columns is None and meta.local_cache_keys:
            key_columns = list(meta.local_cache_keys)
        src_name = meta.ch_table
        dst_name = src_name[3:] if src_name.startswith("ch_") else f"{src_name}_local"
        src = self.store.read(meta.ch_schema, src_name)
        if self.store.table_exists(meta.ch_schema, dst_name):
            dst = self.store.read(meta.ch_schema, dst_name)
            if key_columns:
                kept = dst.join(
                    src.select(*key_columns).distinct(), on=key_columns, how="left_anti"
                )
            else:
                kept = dst.limit(0)
            # column alignment by the TARGET's column order
            # (jdbsChSession.scala:466-485)
            aligned = src.select(*dst.columns)
            self.store.write(meta.ch_schema, dst_name, kept.unionByName(aligned))
        else:
            self.store.write(meta.ch_schema, dst_name, src)
        return dst_name

    # ---- C4/S6: export --------------------------------------------
    def export(self, meta: QueryMeta, q: CalcQuery) -> int:
        df = self.store.read(meta.ch_schema, meta.ch_table)
        if meta.copy_ch_ora_columns:
            df = df.select(*meta.copy_ch_ora_columns)
        parts = q.copy_by_parts_cnt or 1
        if parts > 1 and q.copy_by_parts_key:
            # cityHash64 + NTILE slice parity: hash-repartition makes
            # each partition an independent parallel writer
            df = df.repartition(parts, F.xxhash64(q.copy_by_parts_key))
        if self.export_sink is not None:
            return self.export_sink(df, meta, parts)
        # default test sink: a store table standing in for the Oracle side
        self.store.create_database(meta.ora_schema)
        self.store.write(meta.ora_schema, meta.ora_table, df)
        return self.store.row_count(meta.ora_schema, meta.ora_table)

    # ---- full lifecycle for a query set (C5 scheduling) -----------
    def run(
        self,
        queries: list[CalcQuery],
        key_columns: list[str] | None = None,
    ) -> dict[int, int]:
        """Queries sorted by ``order_by`` run sequentially; per query
        the local-cache copy and export run as two concurrent thunks
        (reference fork/join ``calc/CalcLogic.scala:109-122,132``)."""
        return {
            q.query_id: self._run_one(q, key_columns)
            for q in sorted(queries, key=lambda x: x.order_by)
        }

    def _run_one(self, q: CalcQuery, key_columns: list[str] | None) -> int:
        run = self.runlog.begin_query(q.query_id, par_degree=q.copy_by_parts_cnt)
        try:
            meta = self.catalog.get(q.query_id)
            if meta is None:
                raise KeyError(
                    f"unknown query_id {q.query_id} (not in the query catalog — "
                    f"reference: ora_to_ch_query has no such row)"
                )
            self.materialize(meta, q)
            self.runlog.query_stage(run, "copying")
            copies = [lambda: self.export(meta, q)]
            if q.copy_to_local_cache:
                copies.append(lambda: self.promote_local_cache(meta, key_columns))
            run.copied_rows = overlap(self.spark, *copies)[0]
            self.runlog.query_stage(run, "finished")
        except Exception as e:  # error capture parity (P6)
            self.runlog.query_error(run, repr(e))
            raise
        return run.copied_rows
