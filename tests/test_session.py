"""Session-level tuning: driver heap sizing, the codegen class cache,
``io.local_df`` under concurrent callers, ``overlap`` and the session
invariants."""

from __future__ import annotations

import os
import re
import sys
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pytest

from ora_ch_spark.io import local_df
from ora_ch_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    SESSION_INVARIANTS,
    compile_stats,
    driver_memory,
    overlap,
)

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ora_ch_spark")


def test_driver_memory_sized_to_host(tmp_path, monkeypatch):
    """Half of MemTotal, capped at 48g; the env var overrides; an
    unreadable meminfo falls back to the cap."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:        1024 kB\n")
    assert driver_memory(str(meminfo)) == "8046m"
    meminfo.write_text("MemTotal:      263856128 kB\n")
    assert driver_memory(str(meminfo)) == "49152m"
    assert driver_memory(str(tmp_path / "absent")) == "49152m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory(str(meminfo)) == "3g"


def test_codegen_cache_keeps_warm_classes(spark):
    """A warm pass over more distinct generated classes than Spark's
    default cache (100) holds must hit the cache, not recompile. Each
    union branch inlines its own literal, so every branch is one
    whole-stage class this JVM has not compiled before; at the default
    size the LRU evicts each class before its second use."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    salt = time.time_ns() % 10**12 * 1000
    branches = [
        spark.range(0, 4, 1, 1).selectExpr(f"id * {salt + i}L AS x")
        for i in range(130)
    ]
    df = reduce(lambda a, b: a.unionAll(b), branches)

    def compiles() -> int:
        before = compile_stats(spark)[0]
        assert len(df.collect()) == 4 * len(branches)
        return compile_stats(spark)[0] - before

    first = compiles()
    second = compiles()
    assert first >= len(branches)
    assert second <= 0.05 * first, (first, second)


def test_local_df_threads_leave_confs_alone(spark):
    """8 threads × 25 calls: each frame is a one-partition
    LocalTableScan with the input rows, and the Arrow fallback conf is
    never touched."""
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    before = spark.conf.get(key, None)
    rows = [(i, f"r{i}", i * 0.5, None if i % 4 else [i, -i]) for i in range(16)]
    schema = "k bigint, s string, v double, a array<int>"

    def calls() -> int:
        for _ in range(25):
            df = local_df(spark, rows, schema)
            assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
            assert df.rdd.getNumPartitions() == 1
            got = sorted((r.k, r.s, r.v, r.a) for r in df.collect())
            assert got == rows
        return 25

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futs = [pool.submit(calls) for _ in range(8)]
            done = sum(f.result(timeout=600) for f in futs)
    finally:
        sys.setswitchinterval(switch)
    assert done == 200
    assert spark.conf.get(key, None) == before


def test_overlap_order_width_and_first_failure(spark):
    """Results come back in submission order, at most ``workers`` thunks
    run at once, and the first failure (in submission order) is raised
    only after every thunk has finished. One worker runs inline."""
    lock, live, peak = threading.Lock(), [0], [0]

    def thunk(i, delay):
        def run():
            with lock:
                live[0] += 1
                peak[0] = max(peak[0], live[0])
            time.sleep(delay)
            with lock:
                live[0] -= 1
            return i
        return run

    assert overlap(spark, *(thunk(i, 0.05 * (5 - i)) for i in range(5)), workers=2) == list(range(5))
    assert peak[0] == 2
    peak[0] = 0
    assert overlap(spark, *(thunk(i, 0.05) for i in range(4))) == list(range(4))
    assert peak[0] == 4

    finished = []

    def late_fail():
        time.sleep(0.2)
        finished.append("late_fail")
        raise ValueError("first submitted")

    def early_fail():
        finished.append("early_fail")
        raise KeyError("first raised")

    def slow_ok():
        time.sleep(0.4)
        finished.append("slow_ok")

    with pytest.raises(ValueError, match="first submitted"):
        overlap(spark, late_fail, early_fail, slow_ok)
    assert sorted(finished) == ["early_fail", "late_fail", "slow_ok"]

    caller = threading.get_ident()
    assert overlap(spark, threading.get_ident, threading.get_ident, workers=1) == [caller, caller]


def _new_jobs(spark, before: set[int]) -> tuple[set[int], set[int]]:
    """Jobs finished since ``before``: (all of them, those in group "g")."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    grouped = set(tracker.getJobIdsForGroup("g"))
    ungrouped = set(tracker.getJobIdsForGroup(None))
    return (grouped | ungrouped) - before, grouped - before


def test_pool_jobs_stay_in_callers_job_group(spark):
    """Every job of a calc query's export ‖ promote fork and of a
    degree-4 task's parallel phase 1 lands in the caller's job group."""
    from ora_ch_spark.plans.calc import CalcEngine
    from ora_ch_spark.plans.scheduler import TaskScheduler
    from ora_ch_spark.specs import CalcQuery, Operation, QueryMeta, TableSpec, TaskSpec
    from ora_ch_spark.store import TableStore

    sc = spark.sparkContext
    store = TableStore(spark, tempfile.mkdtemp(prefix="jobgroup_"))
    store.create_database("ch")
    meta = QueryMeta(query_id=1, ch_table="ch_g", ora_table="g",
                     query="select id as k, id * 2 as v from range(100)",
                     ch_schema="ch", ora_schema="ora", local_cache_keys=("k",))
    engine = CalcEngine(spark, store, {1: meta})
    sources = {f"t{i}": spark.range(0, 50 * (i + 1)).selectExpr("id", f"id * {i} AS v")
               for i in range(4)}
    task = TaskSpec(tables=tuple(TableSpec("ch", n, Operation.RECREATE) for n in sources),
                    degree=4)
    sched = TaskScheduler(spark, store)
    before, _ = _new_jobs(spark, set())
    sc.setJobGroup("g", "job-group probe")
    try:
        engine.run([CalcQuery(query_id=1, copy_to_local_cache=True)])
        calc_jobs, calc_grouped = _new_jobs(spark, before)
        sched.run_task(task, sources=sources)
        task_jobs, task_grouped = _new_jobs(spark, before | calc_jobs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert store.row_count("ch", "g") == 100 and store.row_count("ora", "g") == 100
    assert calc_jobs and calc_grouped == calc_jobs
    assert task_jobs and task_grouped == task_jobs


def test_queries_pin_session_invariants(spark, sf_smoke):
    """Callers of ``__spark_entry__`` bring their own session: an entry run through
    ``queries()`` on a session set to another zone and with nanosAsLong
    off pins both invariants and returns the same rows."""
    import __spark_entry__ as E

    entry = E.queries()["events_hourly"]
    expected = sorted(entry(spark, sf_smoke).collect())
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        got = sorted(entry(spark, sf_smoke).collect())
        assert {k: spark.conf.get(k) for k in SESSION_INVARIANTS} == SESSION_INVARIANTS
    finally:
        for k, v in SESSION_INVARIANTS.items():
            spark.conf.set(k, v)
    assert expected and got == expected


# the two per-query confs: a streaming query's state partitions, and the
# state store provider transformWithState requires
CONF_SET_ALLOWED = {
    ("streaming/watermark.py", "spark.sql.shuffle.partitions"),
    ("streaming/sessions.py", "spark.sql.streaming.stateStore.providerClass"),
}


def test_session_discipline_has_one_owner():
    """Thread pools and session confs belong to ``session.py``: nowhere
    else in the package constructs a ``ThreadPoolExecutor`` or sets a
    session conf, apart from the two per-query confs."""
    pools, confs = [], []
    for root, _dirs, files in os.walk(PACKAGE):
        for f in sorted(files):
            rel = os.path.relpath(os.path.join(root, f), PACKAGE)
            if not f.endswith(".py") or rel == "session.py":
                continue
            with open(os.path.join(root, f), encoding="utf-8") as fh:
                text = fh.read()
            pools += [rel for _ in re.finditer(r"ThreadPoolExecutor\(", text)]
            confs += [
                (rel, m.group(1))
                for m in re.finditer(r"conf\.(?:un)?set\(\s*(?:\"([^\"]*)\")?", text)
                if (rel, m.group(1)) not in CONF_SET_ALLOWED
            ]
    assert pools == []
    assert confs == []
