"""Session-level tuning: driver heap sizing, the codegen class cache and
``io.local_df`` under concurrent callers."""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from ora_ch_spark.io import local_df
from ora_ch_spark.session import CODEGEN_CACHE_ENTRIES, compile_stats, driver_memory


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
