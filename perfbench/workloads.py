"""The three workloads of the benchmark of record.

Each workload makes its inputs from the seed (``inputs.py``), prepares
the engine state during set-up, and then hands the runner requests in
rounds. A request goes through the same calls ``OraChSparkService``
makes on its worker thread — ``task_spec_from_json`` →
``TaskScheduler.run_task`` and ``calc_queries_from_json`` →
``CalcEngine.run`` — without the HTTP layer's 250 ms taskId poll.
The runner stops at the first round boundary after ``--seconds`` of
measured request time, so every seed runs the same request mix.

``run`` is timed; ``check`` and ``final_check`` are not.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import golden
import inputs as I
from ora_ch_spark import catalog as C
from ora_ch_spark import catalog_tpch as T
from ora_ch_spark.api import calc_queries_from_json, task_spec_from_json
from ora_ch_spark.io import load_table
from ora_ch_spark.plans.calc import CalcEngine
from ora_ch_spark.plans.scheduler import TaskScheduler
from ora_ch_spark.sinks import jdbc as jdbc_sink
from ora_ch_spark.sources.jdbc import JdbcSourceConfig, jdbc_reader
from ora_ch_spark.specs import ParamType, QueryMeta, QueryParam
from ora_ch_spark.store import TableStore

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def derby_url(run_dir: str) -> str:
    return f"jdbc:derby:{os.path.join(run_dir, 'derby', 'oradb')};create=true"


def derby_seed_table(spark, run_dir: str, path: str, table: str) -> str:
    """Seed a Derby table from a parquet file; returns the URL."""
    url = derby_url(run_dir)
    (spark.read.parquet(path).repartition(4).write.format("jdbc").mode("overwrite")
     .option("url", url).option("dbtable", table).option("driver", DERBY_DRIVER)
     .option("batchsize", "5000").save())
    return url


@dataclass
class Request:
    body: dict
    info: dict = field(default_factory=dict)


@dataclass
class Result:
    rows: int
    detail: dict = field(default_factory=dict)
    # per-layer counts only the workload can see (traced runs)
    counts: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, run_dir: str, seed: int, cores: int):
        self.spark = spark
        self.dir = run_dir
        self.seed = seed
        self.cores = cores
        self.store = TableStore(spark, os.path.join(run_dir, "store"))
        self.props: dict = {}

    def generate(self, out_dir: str) -> None:
        """Write every seeded input under ``out_dir`` (timed as set-up,
        repeated for the set-up median)."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Seed the engine state and run the warm-up requests."""

    def rounds(self):
        raise NotImplementedError

    def run(self, req: Request) -> Result:
        raise NotImplementedError

    def check(self, req: Request, res: Result) -> None:
        pass

    def final_check(self) -> None:
        pass


def _task_body(schema: str, tables: list[dict], degree: int) -> dict:
    """A /task JSON body as the HTTP API receives it."""
    return {"schemas": [{"schema": schema, "tables": tables}],
            "parallel": {"degree": degree}}


# ---------------------------------------------------------------------------
# etl_sync: the /task path
# ---------------------------------------------------------------------------


class EtlSync(Workload):
    """One initial full load, then seeded multi-table sync cycles at
    degree 4 (3 phase-1 workers). One cycle is one request.

    Embedded Derby stands in for the live Oracle source of one table,
    ``orders_live``: the initial load RECREATEs it through the 4-split
    partitioned ``jdbc_reader`` and every cycle APPEND_BY_MAX's the next
    key range from it with the watermark pushed into the JDBC scan."""

    name = "etl_sync"
    CYCLES = 11  # one warm-up cycle, then two rounds of five
    ROUND = 5
    SCALE = 0.25  # of sf0.1: 150k lineitem rows in the initial load
    TABLES = ("customer", "orders", "lineitem", "events")
    LIVE0 = 4_000  # orders_live keys in the initial load
    LIVE_STEP = 2_000  # orders_live keys appended per cycle
    ORDERS_PER_CYCLE = 4_000
    UPDATE_ROWS = 2_000  # orders updated per cycle in phase 2

    def generate(self, out_dir: str) -> None:
        base = I.base_tables(self.seed, self.SCALE)
        I.write_tables({t: base[t] for t in self.TABLES}, out_dir)
        self.plan = I.sync_plan(self.seed, base, os.path.join(out_dir, "sync"), self.CYCLES,
                                self.ORDERS_PER_CYCLE, self.UPDATE_ROWS)
        self.base_dir = out_dir
        self.live_path = os.path.join(out_dir, "orders_live.parquet")
        n_live = self.LIVE0 + self.CYCLES * self.LIVE_STEP
        I._write(I.derby_seed(self.seed, n_live), self.live_path)
        self.props = dict(self.plan.props, derby_rows=n_live,
                          jdbc_rows_per_cycle=self.LIVE_STEP)

    def _read(self, path: str):
        return self.spark.read.parquet(path)

    def _loader(self, spec):
        # the cycle's "Oracle side": source name -> frame
        if spec.name == "orders_live":
            return jdbc_reader(self.spark, self._jdbc, spec).load()
        return self._sources[spec.source_name]

    def prepare(self) -> None:
        self.url = derby_seed_table(self.spark, self.dir, self.live_path, "ORDERS_SRC")
        self.sched = TaskScheduler(self.spark, self.store, source_loader=self._loader)
        self._sources = {
            f"src.{t}": self._read(os.path.join(self.base_dir, f"{t}.parquet"))
            for t in self.TABLES
        }
        # the partitioned reader takes its key window in the source name,
        # so the pruned SELECT reaches Derby inside the split subquery
        # (the seeded columns are quoted lower case in Derby)
        self._jdbc = JdbcSourceConfig(
            ip="unused", url=self.url, driver=DERBY_DRIVER, fetch_size=1000, user="APP",
            partition_column='"o_orderkey"', lower_bound=0, upper_bound=self.LIVE0,
            num_partitions=4)
        window = f'(SELECT * FROM ORDERS_SRC WHERE "o_orderkey" < {self.LIVE0}) w'
        body = _task_body("ch", [
            {"name": t, "operation": "recreate", "src_table_full_name": f"src.{t}"}
            for t in self.TABLES
        ] + [{"name": "orders_live", "operation": "recreate", "src_table_full_name": window}],
            self.cores)
        self.sched.run_task(task_spec_from_json(body))
        # cycles read through the declarative reader: Catalyst pushes the
        # watermark and the cut into Derby with engine-correct quoting
        self._jdbc = JdbcSourceConfig(ip="unused", url=self.url, driver=DERBY_DRIVER,
                                      use_dbtable=True, fetch_size=1000, user="APP")
        self.done = 0
        # warm-up: the first cycle runs and is checked outside the loop
        first = self._request(self.plan.cycles[0])
        self.check(first, self.run(first))

    def rounds(self):
        # at the benchmark's run length every run measures exactly one
        # round, so no run flips to another cycle count
        rest = self.plan.cycles[1:]
        for i in range(0, len(rest) - self.ROUND + 1, self.ROUND):
            yield [self._request(c) for c in rest[i:i + self.ROUND]]

    def _request(self, cyc) -> Request:
        lo, hi = cyc.events_window
        win = (f"ts >= timestamp '{_day(lo)}' and ts < timestamp '{_day(hi)}'")
        body = _task_body("ch", [
            {"name": "customer", "operation": "recreate",
             "src_table_full_name": "src.customer"},
            {"name": "orders", "operation": "append_bymax",
             "sync_by_column_max": "o_orderkey", "src_table_full_name": "src.orders"},
            {"name": "lineitem", "operation": "append_notin",
             "sync_by_columns": "l_orderkey,l_linenumber",
             "src_table_full_name": "src.lineitem"},
            {"name": "events", "operation": "append_where", "where_filter": win,
             "src_table_full_name": "src.events"},
            {"name": "orders_live", "operation": "append_bymax",
             "sync_by_column_max": "o_orderkey", "src_table_full_name": "ORDERS_SRC",
             "where_filter": f"o_orderkey < {self._live_hi(cyc.k)}"},
            {"name": "orders", "operation": "update",
             "update_fields": "o_orderstatus,o_totalprice",
             "src_table_full_name": "src.orders_upd"},
        ], 4)
        return Request(body, {"cycle": cyc})

    def _live_hi(self, k: int) -> int:
        return self.LIVE0 + k * self.LIVE_STEP

    def run(self, req: Request) -> Result:
        cyc = req.info["cycle"]
        self._sources = {f"src.{t}": self._read(p) for t, p in cyc.paths.items()}
        self._sources["src.orders"] = self._read(self.plan.orders_all).filter(
            F.col("o_orderkey") < F.lit(cyc.orders_hi))
        res = self.sched.run_task(
            task_spec_from_json(req.body), key_columns={"orders": ["o_orderkey"]})
        return Result(sum(res.values()), res)

    def check(self, req: Request, res: Result) -> None:
        # phase 2's update reports under the same table name as the
        # append; the scheduler keeps the later (update) count
        exp = dict(req.info["cycle"].expected)
        want = {"ch.customer": exp["customer"], "ch.lineitem": exp["lineitem"],
                "ch.events": exp["events"], "ch.orders": exp["orders_upd"],
                "ch.orders_live": self.LIVE_STEP}
        if res.detail != want:
            raise golden.GoldenMismatch(f"cycle rows {res.detail} != {want}")
        # the update's count replaced the append's in the results: the
        # append shows in the manifest row count (no Spark job)
        cyc = req.info["cycle"]
        have = self.store.row_count("ch", "orders")
        if have != cyc.orders_hi:
            raise golden.GoldenMismatch(f"orders rows {have} != {cyc.orders_hi}")
        live = self.store.row_count("ch", "orders_live")
        if live != self._live_hi(cyc.k):
            raise golden.GoldenMismatch(f"orders_live rows {live} != {self._live_hi(cyc.k)}")
        res.rows += exp["orders"]
        self.done = cyc.k

    def final_check(self) -> None:
        k = self.done
        if k == 0:
            return
        cycles = self.plan.cycles[:k]
        con = golden.duck(self.base_dir, self.TABLES)
        last = cycles[-1]
        upd = " UNION ALL ".join(
            f"SELECT *, {c.k} AS cyc FROM '{c.paths['orders_upd']}'" for c in cycles)
        orders_sql = f"""
            WITH u AS (SELECT * FROM (SELECT *, row_number() OVER
                          (PARTITION BY o_orderkey ORDER BY cyc DESC) AS rn FROM ({upd}))
                       WHERE rn = 1)
            SELECT o.o_orderkey, o.o_custkey,
                   coalesce(u.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
                   coalesce(u.o_totalprice, o.o_totalprice) AS o_totalprice,
                   o.o_orderdate, o.o_orderpriority
            FROM '{self.plan.orders_all}' o LEFT JOIN u USING (o_orderkey)
            WHERE o.o_orderkey < {last.orders_hi}"""
        step = self.plan.props["orders_per_cycle"]
        fresh = " UNION ALL ".join(
            f"SELECT * FROM '{c.paths['lineitem']}' WHERE l_orderkey >= {c.orders_hi - step}"
            f" AND l_orderkey < {c.orders_hi}" for c in cycles)
        lineitem_sql = f"SELECT * FROM lineitem UNION ALL {fresh}"
        con.execute("CREATE TABLE ev AS SELECT * FROM events")
        for c in cycles:
            lo, hi = c.events_window
            con.execute(f"DELETE FROM ev WHERE ts >= TIMESTAMP '{_day(lo)}'"
                        f" AND ts < TIMESTAMP '{_day(hi)}'")
            con.execute(f"INSERT INTO ev SELECT * FROM '{c.paths['events']}'")
        want = {
            "orders_live": f"SELECT * FROM '{self.live_path}'"
                           f" WHERE o_orderkey < {self._live_hi(k)}",
            "customer": f"SELECT * FROM '{last.paths['customer']}'",
            "orders": orders_sql,
            "lineitem": lineitem_sql,
            "events": "SELECT * FROM ev",
        }
        for t, sql in want.items():
            golden.check(golden.duck_aggregates(con, sql), self.store.read("ch", t),
                         f"etl_sync ch.{t} after {k} cycles")
        con.close()


def _day(d: int) -> str:
    return f"2024-01-{d + 1:02d} 00:00:00"


# ---------------------------------------------------------------------------
# calc_stored: the /calc path
# ---------------------------------------------------------------------------

# text name -> param -> (oracle fragment with {v}, domain; first = catalog default)
PARAMS = {
    "q3_shipping_priority": {"seg": ("c_mktsegment = '{v}'", ("BUILDING", "MACHINERY", "AUTOMOBILE"))},
    "q20_supplier_parts": {"minq": ("> {v}", ("400", "300"))},
    "q2_min_cost_supplier": {"psize": ("p_size = {v}", ("3", "7", "11"))},
    "q11_important_stock": {"nat": ("n_name = '{v}'", ("NATION_7", "NATION_3"))},
    "q20_true_partsupp": {"nat": ("n_name = '{v}'", ("NATION_6", "NATION_2"))},
    "calc_pipeline": {
        "seg": ("c_mktsegment = '{v}'", ("BUILDING", "FURNITURE")),
        "modk": ("o_orderkey % {v}", ("7", "5")),
    },
}
CALC_PIPELINE_PARAMS = (
    QueryParam("bigthr", ParamType.DECIMAL, 1),
    QueryParam("seg", ParamType.STRING, 2),
    QueryParam("from_date", ParamType.STRING, 3),
    QueryParam("modk", ParamType.UINT32, 4),
)
CALC_PIPELINE_VALUES = {"bigthr": "250000", "seg": "BUILDING",
                        "from_date": "1995-06-01", "modk": "7"}
# The working set: every stored text with typed params, each about 1 s
# per request at sf0.1 on 4 cores. Seeds draw params, order, the repeated
# text and the promoted requests; the texts themselves are fixed, since a
# seeded choice among the other texts moved request_s_p50 by ±17% from
# seed to seed.
WORKING = ("calc_pipeline", "q2_min_cost_supplier", "q3_shipping_priority",
           "q11_important_stock", "q20_supplier_parts", "q20_true_partsupp")
# param-less texts for the set-up warm-up (six more left the spread of
# request_s_p50 as it was and doubled set-up time)
WARMUP = ("q6_revenue_change", "q14_promo_revenue")
# the text with an outsized export (30k rows) runs once per round, last
HEAVY = ("qw1_cumulative_revenue",)


def _closure(fn) -> dict:
    # catalog_tpch keeps each stored text, its typed params and their
    # values only in the closure of the entry's runner
    return dict(zip(fn.__code__.co_freevars, (c.cell_contents for c in fn.__closure__)))


def stored_texts() -> dict[str, tuple[str, tuple, dict, str]]:
    """name -> (CH text, typed params, default values, DuckDB oracle)."""
    out = {}
    for qd in T.TPCH_QUERIES + T.WINDOW_QUERIES:
        v = _closure(qd.spark)
        out[qd.name] = (v["ch_sql"], tuple(v["params"]), dict(v["values"] or {}), qd.oracle)
    out["calc_pipeline"] = (C._CALC_STORED_SQL, CALC_PIPELINE_PARAMS,
                            CALC_PIPELINE_VALUES, C.CALC_PIPELINE_ORACLE)
    return out


def bound_oracle(name: str, oracle: str, params: dict[str, str]) -> str:
    for p, (frag, dom) in PARAMS.get(name, {}).items():
        default = frag.format(v=dom[0])
        if default not in oracle:
            raise ValueError(f"{name}: oracle lacks {default!r}")
        oracle = oracle.replace(default, frag.format(v=params[p]))
    return oracle


def calc_plan(seed: int, texts: dict, rounds: int, repeats: int, promote: int) -> list:
    """Seeded rounds of (text, params, promote) draws: each round runs
    the working set in its fixed order, then ``repeats`` seeded texts a
    second time, then the heavy text; the last ``promote`` texts of the
    working set also promote. Params come from their small domains.

    Order and promotion are fixed because the first requests of a run
    are the coldest: a seeded order moved request_s_p50 by over 25%
    between seeds. Promoting the two cheapest texts lifts them to the
    cost of their neighbours, so the median falls inside one cluster of
    similar requests instead of in the gap between two."""
    rng = I._rng(seed, "calc")
    # params without a domain keep the catalog's value
    domains = {n: {p: (v,) for p, v in texts[n][2].items()} for n in WORKING + HEAVY}
    for n in domains:
        domains[n].update({p: dom for p, (_, dom) in PARAMS.get(n, {}).items()})
    plan = []
    for _ in range(rounds):
        # calc_pipeline's export is large enough that a second one per
        # round would swing rows_per_s, so it never repeats
        names = list(WORKING) + [WORKING[1 + int(i)] for i in
                                 rng.choice(len(WORKING) - 1, repeats, replace=False)]
        plan.append([
            (name, {p: dom[int(rng.integers(0, len(dom)))]
                    for p, dom in sorted(domains[name].items())},
             len(WORKING) - promote <= j < len(WORKING))
            for j, name in enumerate(names + list(HEAVY))
        ])
    return plan


class CalcStored(Workload):
    """Seeded /calc requests over the stored CH-dialect texts. A round is
    eight requests over the six parameterized texts (two drawn twice)
    followed by the heavy text. Every request exports in 4 hash slices
    through ``jdbc_export``; the two cheapest texts also promote to the
    local cache."""

    name = "calc_stored"
    # a run measures one round; the second is there for a host where one
    # round takes less than --seconds
    ROUNDS = 2
    REPEATS = 2
    PROMOTE = 2
    SCALE = 0.5  # of sf0.1: 300k lineitem rows
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

    def generate(self, out_dir: str) -> None:
        base = I.base_tables(self.seed, self.SCALE)
        I.write_tables({t: base[t] for t in self.TABLES}, out_dir)
        self.sf = out_dir
        self.plan = calc_plan(self.seed, stored_texts(), self.ROUNDS, self.REPEATS,
                              self.PROMOTE)
        self.props = {"working_set": list(WORKING + HEAVY),
                      "requests_per_round": len(self.plan[0]),
                      "promote_per_round": self.PROMOTE}
        self.ran = []

    def prepare(self) -> None:
        texts = stored_texts()
        self.meta, self.ids = {}, {}
        for qid, name in enumerate(sorted(texts), start=1):
            sql, params, _, _ = texts[name]
            self.ids[name] = qid
            self.meta[qid] = QueryMeta(query_id=qid, ch_table=f"ch_{name}", ora_table=name,
                                       query=sql, params=params, ch_schema="ch",
                                       ora_schema="ora")
        for t in self.TABLES:
            load_table(self.spark, self.sf, t).createOrReplaceTempView(t)
        self.url = derby_url(self.dir)
        self.sink = jdbc_sink.JdbcSinkConfig(url=self.url, driver=DERBY_DRIVER,
                                             truncate_before=True, batch_size=1000)
        self.engine = CalcEngine(self.spark, self.store, self.meta, export_sink=self._export)
        # golden aggregates of every (text, params) pair the plan can reach;
        # the export's slice key is each result's first column, named as
        # the oracle names it
        con = golden.duck(self.sf, self.TABLES)
        self.golden, self.cols = {}, {}
        for rnd in self.plan:
            for name, params, _ in rnd:
                key = (name, tuple(sorted(params.items())))
                if key not in self.golden:
                    sql = bound_oracle(name, texts[name][3], params)
                    self.golden[key] = golden.duck_aggregates(con, sql)
                    self.cols[self.ids[name]] = con.execute(f"DESCRIBE ({sql})").fetchone()[0]
        con.close()
        # warm-up requests outside the working set: the timed requests
        # still pay their own translation and code generation
        for warm in WARMUP:
            self.run(self._request((warm, texts[warm][2], False)))

    def _request(self, draw) -> Request:
        name, params, promote = draw
        qid = self.ids[name]
        body = {"queries": [{
            "query_id": qid, "order_by": 0, "copy_to_local_cache": int(promote),
            "copy_by_parts_key": self.cols.get(qid), "copy_by_parts_cnt": 4,
            "params": [{"name": k, "value": v} for k, v in params.items()],
        }]}
        return Request(body, {"draw": draw})

    def rounds(self):
        for rnd in self.plan:
            yield [self._request(d) for d in rnd]

    def _export(self, df, meta, parts):
        # the live Oracle export; df is already hash-sliced into parts.
        # The engine reports the cache table's row count as copied, as its
        # default sink does; check() counts what Derby holds.
        jdbc_sink.jdbc_export(df, self.sink, meta.ora_table)
        return self.store.row_count(meta.ch_schema, meta.ch_table)

    def run(self, req: Request) -> Result:
        copied = self.engine.run(calc_queries_from_json(req.body))
        return Result(sum(copied.values()), copied)

    def check(self, req: Request, res: Result) -> None:
        name, params, promote = req.info["draw"]
        meta = self.meta[self.ids[name]]
        # the cache table and what Derby holds both match the golden
        # count, so the exported count equals the cached one
        key = (name, tuple(sorted(params.items())))
        golden.check(self.golden[key], self.store.read(meta.ch_schema, meta.ch_table), name)
        back = (self.spark.read.format("jdbc").option("url", self.url)
                .option("dbtable", meta.ora_table).option("driver", DERBY_DRIVER).load())
        exported = golden.check(self.golden[key], back, f"{name} JDBC export")
        res.rows = exported
        res.counts["jdbc.export_rows"] = exported
        if promote:
            golden.check(self.golden[key], self.store.read(meta.ch_schema, meta.ch_table[3:]),
                         f"{name} local cache")
        self.ran.append(req.info["draw"])

    def final_check(self) -> None:
        # the work-sharing property a translate or plan cache would use
        self.props.update(I.repeat_shares(self.ran))


# ---------------------------------------------------------------------------
# corpus_curate: LLM-data operator composites
# ---------------------------------------------------------------------------


class CorpusCurate(Workload):
    """The catalog composites the carried-over ROADMAP items target, in a
    fixed order, over a seeded corpus with a near-duplicate share. One
    catalog entry is one request; a round runs the entries twice."""

    name = "corpus_curate"
    ENTRIES = ("line_dedup", "graph_pagerank", "dedup_ngram_jaccard")
    TABLES = ("customer", "supplier", "orders", "lineitem", "documents", "embeddings")
    SCALE = 0.25
    DOCS = 2_000
    NEAR_DUP = 0.08

    def generate(self, out_dir: str) -> None:
        I.write_tables(I.base_tables(self.seed, self.SCALE), out_dir)
        I.write_tables(I.corpus_tables(self.seed, self.SCALE, self.DOCS, self.NEAR_DUP), out_dir)
        self.sf = out_dir
        self.props = {"documents": self.DOCS, "near_dup_share": self.NEAR_DUP,
                      "tpch_scale_of_sf01": self.SCALE, "entries": list(self.ENTRIES)}

    def prepare(self) -> None:
        self.defs = {q.name: q for q in C.all_queries() if q.name in self.ENTRIES}
        con = golden.duck(self.sf, self.TABLES)
        self.golden = {}
        for name in self.ENTRIES:
            self.golden[name] = golden.duck_aggregates(con, self.defs[name].oracle)
        meta = {t: pq.read_metadata(os.path.join(self.sf, f"{t}.parquet")).num_rows
                for t in self.TABLES}
        self.rows_in = {
            "line_dedup": meta["documents"],
            "dedup_ngram_jaccard": meta["documents"],
            "graph_pagerank": meta["lineitem"] + meta["orders"],
        }
        con.close()
        # one unchecked pass of the round's entries: without it the tiered
        # JIT was still compiling during the timed round
        for name in self.ENTRIES:
            self.defs[name].spark(self.spark, self.sf).collect()
        self.spark.catalog.clearCache()

    def rounds(self):
        # each entry twice per round: a run measures one round, and three
        # samples gave too unsteady a median
        for _ in range(100):
            yield [Request({"entry": n}) for n in self.ENTRIES * 2]

    def run(self, req: Request) -> Result:
        name = req.body["entry"]
        rows = self.defs[name].spark(self.spark, self.sf).collect()
        return Result(self.rows_in[name], {"out": rows})

    def check(self, req: Request, res: Result) -> None:
        name = req.body["entry"]
        golden.check_rows(self.golden[name], res.detail.pop("out"), name)


WORKLOADS = {w.name: w for w in (EtlSync, CalcStored, CorpusCurate)}
