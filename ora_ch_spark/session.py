"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), shuffle partitions sized to cores (locally) — on a
1000-executor cluster this would be ``max(2 * total_cores, input_TB *
1024)`` and AQE coalesces down; Arrow enabled for any pandas-UDF
boundary; UTC session timezone so timestamp semantics match the
DuckDB differential oracle.

Codegen class cache. Spark keeps the Janino-compiled class of each
whole-stage codegen source in an LRU whose size
``spark.sql.codegen.cache.maxEntries`` defaults to 100. The engine's
working set is larger, so at 100 each pass evicts the classes the next
request needs and every warm request recompiles its whole plan. Counted
with Spark's own compile counter (``compile_stats``) on a cache too large
to evict, one warm-up plus two rounds of each benchmark workload needs:
corpus_curate 155 distinct classes (137 in its warm-up), calc_stored 192,
etl_sync 135, about 480 together. ``CODEGEN_CACHE_ENTRIES`` leaves
about 4x headroom over that. The conf is static (``spark.conf.set``
raises ``CANNOT_MODIFY_STATIC_CONFIG``), so it goes on the builder;
``extra_conf`` overrides it.

Driver heap. In local mode the driver JVM is the whole engine, so its
heap defaults to half the host's memory, capped at 48g; a larger heap
lets the kernel kill the JVM before the collector runs.

Session invariants. ``SESSION_INVARIANTS`` (UTC session time zone, and
parquet TIMESTAMP(NANOS) read as long nanos) hold on every session the
engine runs on. They are set where a session enters: on the
``get_spark`` builder, and by ``pin_session`` for a session the engine
did not build (``__spark_entry__`` calls it before each entry). No
loader or operator sets them again.

Concurrency. ``overlap`` is the one way the engine runs Spark work
concurrently: its threads inherit the caller's local properties, so
every job they start lands in the caller's job group, description and
scheduler pool.

Session memo. ``session_memo`` keeps per-session results that are pure
waste to rebuild, such as registered views and analyzed plans.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


# see the module docstring for how the working set was measured
CODEGEN_CACHE_ENTRIES = 2000
DRIVER_MEM_CAP_MB = 48 * 1024
# timestamp semantics must match the UTC-naive DuckDB oracle; nanos
# parquet timestamps are unreadable by Spark's reader without the flag
SESSION_INVARIANTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
    half of ``MemTotal``, capped at 48g (the cap alone where the host's
    memory cannot be read)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048
                    return f"{min(DRIVER_MEM_CAP_MB, half_mb)}m"
    except OSError:
        pass
    return f"{DRIVER_MEM_CAP_MB}m"


def compile_stats(spark: SparkSession) -> tuple[int, float]:
    """Janino compiles so far in this JVM and their total milliseconds,
    from Spark's own ``CodegenMetrics`` and ``CodeGenerator`` counters.
    Take the difference of two readings: a warm request whose count
    moves is recompiling classes the codegen cache evicted."""
    jvm = spark._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), ns / 1e6


def _cpus() -> int:
    try:
        return max(2, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(
    app_name: str = "ora_ch_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    In local mode one JVM hosts everything; ``spark.driver.memory`` is
    the only memory knob. On a cluster the same confs apply per
    executor and the master URL changes — nothing else in the engine
    assumes local mode.
    """
    n = cpus or _cpus()
    shuffle = shuffle_partitions or n
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # ---- shuffle & adaptivity (scale-critical) ----
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # broadcast all dims comfortably below this (runtime-size based
        # with AQE); 64m is safe for 128 GiB driver, still sane per
        # executor on a cluster
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ---- python boundary ----
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # ---- io ----
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        # ---- codegen: keep the working set's compiled classes ----
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        # FAIR scheduling: parallel table loads (P1) interleave stages
        # instead of FIFO-queueing behind each other
        .config("spark.scheduler.mode", "FAIR")
    )
    # the invariants win over extra_conf: the engine depends on them
    for k, v in {**(extra_conf or {}), **SESSION_INVARIANTS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_session(spark: SparkSession) -> SparkSession:
    """Set ``SESSION_INVARIANTS`` on a session the engine did not build
    (or one a caller has changed since) and return it."""
    for k, v in SESSION_INVARIANTS.items():
        spark.conf.set(k, v)
    return spark


def overlap(spark: SparkSession, *thunks: Callable[[], Any], workers: int | None = None) -> list:
    """Run ``thunks`` concurrently, at most ``workers`` at a time (all of
    them by default), and return their results in submission order.

    Each thunk runs under ``inheritable_thread_target(spark)``, wrapped
    on the caller's thread, so it starts with a copy of the caller's
    local properties: its jobs carry the caller's job group, description
    and scheduler pool. Every thunk runs to completion before the first
    failure, in submission order, is re-raised. With one thunk or
    ``workers <= 1`` they run inline on the caller's thread, in order,
    stopping at the first failure."""
    width = len(thunks) if workers is None else min(workers, len(thunks))
    if width <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=width) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futs]


def session_memo(spark: SparkSession, key: tuple, build: Callable[[], Any], force: bool = False) -> Any:
    """``build()``'s value, kept on the ``spark`` object itself, so a new
    session (even one with the same settings) starts empty and the
    values go when the session object does.

    ``key`` is ``(slot, *args)``. Each session holds one value per
    slot: a call with other ``args`` (another ``sf_dir``) rebuilds and
    replaces it, because what the build registers (temp views, catalog
    views) replaces what the previous build registered under the same
    names. ``force=True`` rebuilds regardless.

    Staleness contract: the memo is keyed on (session, args), not on
    file contents. Rewriting the files under a memoized ``sf_dir`` in
    place, or dropping the views a build registered, is not seen;
    call with ``force=True`` after either. Two threads that miss at
    once both build; builds are idempotent, so the later one wins."""
    slots = vars(spark).setdefault("_ora_ch_spark_memo", {})
    hit = slots.get(key[0])
    if force or hit is None or hit[0] != key[1:]:
        hit = slots[key[0]] = (key[1:], build())
    return hit[1]
