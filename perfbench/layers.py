"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: ``Tracer.install``
wraps the public entry points of each engine module for the life of the
run and ``uninstall`` puts the originals back. The engine itself is
not edited. Spark engine numbers come from the JVM status store, read
per request time window (``StatusWindow``).

Untraced runs never install anything, so end-to-end metrics are
measured with tracing off.
"""

from __future__ import annotations

import functools
import os
import statistics
import threading
import time
from dataclasses import dataclass

from ora_ch_spark.plans import calc as calc_mod
from ora_ch_spark.plans import scheduler as sched_mod
from ora_ch_spark.sinks import jdbc as jdbc_sink
from ora_ch_spark.specs import Operation
from ora_ch_spark.store import TableStore

# store method -> span name; the three manifest-only probes share one
STORE_SPANS = {
    "write": "store.write",
    "append": "store.append",
    "replace_files": "store.replace_files",
    "delete_where": "store.delete_where",
    "read": "store.read",
    "row_count": "store.probe",
    "max_value": "store.probe",
    "table_exists": "store.probe",
}
# seconds between two samples of the cached bytes
SAMPLE_PERIOD = 0.2
# the SQL plan node of a JDBC source scan, and its row count metric
JDBC_SCAN = "Scan JDBCRelation"
OUTPUT_ROWS = "number of output rows"
OP_SPANS = {
    Operation.RECREATE: "load_ops.recreate",
    Operation.APPEND_WHERE: "load_ops.append_where",
    Operation.APPEND_BY_MAX: "load_ops.append_bymax",
    Operation.APPEND_NOT_IN: "load_ops.append_notin",
    Operation.UPDATE: "load_ops.update",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    thread: int
    request: int


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class Tracer:
    """Keeps spans in memory; one request id groups the spans of one
    request. Spans from scheduler and calc pool threads carry their
    thread id, so self time is computed per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.request = 0
        self._lock = threading.Lock()
        self._depth = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def add(self, name: str, value: float) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value

    def _wrap(self, owner, attr: str, name, on_result=None, outermost=False) -> None:
        """Replace ``owner.attr`` with a timing wrapper. ``outermost``
        spans are recorded only when no other outermost span is open on
        the thread, so store methods that call each other count once."""
        orig = getattr(owner, attr)
        depth = self._depth

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if outermost:
                depth.n = getattr(depth, "n", 0) + 1
            t0 = time.perf_counter()
            try:
                out = orig(*a, **kw)
            finally:
                t1 = time.perf_counter()
                if outermost:
                    depth.n -= 1
                if not outermost or depth.n == 0:
                    label = name(a) if callable(name) else name
                    with self._lock:
                        self.spans.append(
                            Span(label, t0, t1, threading.get_ident(), self.request))
            if on_result is not None:
                on_result(a, out)
            return out

        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        for meth, span in STORE_SPANS.items():
            self._wrap(TableStore, meth, span, outermost=True)
        self._wrap(sched_mod.TaskScheduler, "run_task", "scheduler.task")
        self._wrap(
            sched_mod, "apply_operation", lambda a: OP_SPANS[a[1].operation],
            on_result=lambda a, n: self.add("load_ops.rows", n),
        )
        self._wrap(calc_mod, "translate_ch_sql", "dialect.translate")
        self._wrap(calc_mod, "bind_params", "params.bind")
        for meth, span in (("materialize", "calc.materialize"), ("export", "calc.export"),
                           ("promote_local_cache", "calc.promote")):
            self._wrap(calc_mod.CalcEngine, meth, span)
        self._wrap(jdbc_sink, "jdbc_export", "jdbc.export")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # ---- summaries ------------------------------------------------
    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def plan_self_s(self) -> float:
        """Self time of ``materialize`` minus the bind, translate and
        ``store.write`` spans it contains on its own thread."""
        kids = ("params.bind", "dialect.translate", "store.write")
        total = 0.0
        for m in (s for s in self.spans if s.name == "calc.materialize"):
            inner = [(s.start, s.end) for s in self.spans
                     if s.name in kids and s.thread == m.thread
                     and s.start >= m.start and s.end <= m.end]
            total += (m.end - m.start) - _union(inner)
        return total

    def scheduler_stats(self) -> tuple[float, float, float]:
        """(task_s, overlap, wait_s) over every ``run_task`` span:
        overlap is the summed operation span time over task wall time,
        wait is task wall time outside any operation span."""
        ops = [s for s in self.spans if s.name.startswith("load_ops.")]
        task_s = busy = wait = 0.0
        for t in (s for s in self.spans if s.name == "scheduler.task"):
            inner = _clip([(s.start, s.end) for s in ops], t.start, t.end)
            wall = t.end - t.start
            task_s += wall
            busy += sum(e - s for s, e in inner)
            wait += wall - _union(inner)
        return task_s, (busy / task_s if task_s else 0.0), wait


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusWindow:
    """Job and stage deltas per request time window, read from the
    JVM ``AppStatusStore``, and the rows the window's JDBC scans read,
    from the SQL status store. Jobs are attributed by submission time, not
    by job group: scheduler and calc pool threads do not inherit the
    caller's group. A job that completes after its window closed spans
    two windows; ``read`` reports it so the run can fail it."""

    STAGE_FIELDS = {
        "spark.task_s": ("executorRunTime", 1e-3),
        "spark.cpu_s": ("executorCpuTime", 1e-9),
        "spark.gc_s": ("jvmGcTime", 1e-3),
        "spark.input_bytes": ("inputBytes", 1),
        "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
        "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    }

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.gw = spark.sparkContext._gateway
        self.store = self.sc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_job = self._max_job()
        execs = self.sql.executionsList()
        self.seen_exec = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        self.cached_peak = 0
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None

    def _max_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _drain(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def read(self, start: float, end: float) -> tuple[dict[str, float], float, bool]:
        """Deltas of the jobs submitted in ``[start, end]`` (epoch
        seconds), the window time with no job running, and whether a
        job ran past ``end``."""
        self._drain()
        jobs = self.store.jobsList(None)  # newest first
        out = {k: 0.0 for k in self.STAGE_FIELDS}
        out.update({"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.spill_bytes": 0})
        spans, stage_ids, spanning = [], set(), False
        newest = self.seen_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.seen_job:
                break
            newest = max(newest, jid)
            sub, done = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
            if sub is None or sub < start - 0.05:
                continue
            if done is None or done > end + 0.05:
                spanning = True
                done = end if done is None else done
            out["spark.jobs"] += 1
            spans.append((sub, done))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self.seen_job = newest
        if stage_ids:
            lo = min(stage_ids)
            stages = self.store.stageList(
                None, False, False, self.gw.new_array(self.gw.jvm.double, 0), None
            )  # newest first
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid < lo:
                    break
                if sid not in stage_ids or not s.submissionTime().isDefined():
                    continue  # skipped stage: reused shuffle output
                out["spark.stages"] += 1
                out["spark.tasks"] += s.numCompleteTasks()
                out["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                for key, (field, mult) in self.STAGE_FIELDS.items():
                    out[key] += getattr(s, field)() * mult
        out["jdbc.read_rows"] = self._jdbc_rows(start)
        nojob = (end - start) - _union(_clip(spans, start, end))
        return out, nojob, spanning

    def _jdbc_rows(self, start: float) -> int:
        """Rows returned by the JDBC scans of the SQL executions submitted
        since ``start``: the rows the source database sent."""
        execs = self.sql.executionsList()  # oldest first
        rows, newest = 0, self.seen_exec
        for i in reversed(range(execs.size())):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self.seen_exec:
                break
            newest = max(newest, eid)
            if e.submissionTime() / 1000.0 < start - 0.05:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not node.name().startswith(JDBC_SCAN):
                    continue
                metrics = node.metrics()
                for m in (metrics.apply(j) for j in range(metrics.size())):
                    v = values.get(m.accumulatorId())
                    if m.name() == OUTPUT_ROWS and v.isDefined():
                        rows += int(v.get().replace(",", ""))
        self.seen_exec = newest
        return rows

    def cached_bytes(self) -> int:
        rdds = self.store.rddList(True)
        return sum(rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed()
                   for i in range(rdds.size()))

    def start_sampler(self) -> None:
        def loop():
            while not self._stop.wait(SAMPLE_PERIOD):
                self.cached_peak = max(self.cached_peak, self.cached_bytes())

        self._sampler = threading.Thread(target=loop, daemon=True)
        self._sampler.start()

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=5)


def store_files(root: str) -> dict[str, int]:
    """Every parquet data file under a store root, path -> bytes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    out[p] = os.path.getsize(p)
                except FileNotFoundError:
                    pass  # removed by the store's retention GC meanwhile
    return out


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class LayerRun:
    """What a traced run records around each request: spans, status-store
    deltas over the request's window, and the store files it wrote."""

    def __init__(self, spark, store_root: str) -> None:
        self.tracer = Tracer()
        self.tracer.install()
        self.window = StatusWindow(spark)
        self.window.start_sampler()
        self.root = store_root
        self.files = store_files(store_root)
        self.spark_tot: dict[str, float] = {}
        self.nojob = 0.0
        self.written_files = self.written_bytes = 0

    def begin(self, request: int) -> None:
        self.tracer.request = request

    def end(self, start: float, end: float) -> bool:
        """Record the request window ``[start, end]`` (epoch seconds);
        False when a Spark job ran past it."""
        deltas, idle, spanning = self.window.read(start, end)
        for k, v in deltas.items():
            self.spark_tot[k] = self.spark_tot.get(k, 0) + v
        self.nojob += idle
        files = store_files(self.root)
        new = set(files) - set(self.files)
        self.written_files += len(new)
        self.written_bytes += sum(files[p] for p in new)
        self.files = files
        return not spanning

    def close(self) -> None:
        self.window.stop_sampler()
        self.tracer.uninstall()

    def metrics(self, n: int, measured: float, cores: int) -> dict[str, tuple[float, str]]:
        """Per-layer metrics: times and counts per request over ``n``
        requests, ratios and peaks per run."""
        t, c = self.tracer, self.tracer.counts
        out = {
            "dialect.translate_s": (t.total("dialect.translate") / n, "s"),
            "dialect.translate_ms_p50": (p50(t.durations("dialect.translate")) * 1e3, "ms"),
            "params.bind_s": (t.total("params.bind") / n, "s"),
            "calc.plan_s": (t.plan_self_s() / n, "s"),
            "calc.materialize_s": (t.total("calc.materialize") / n, "s"),
            "calc.export_s": (t.total("calc.export") / n, "s"),
            "calc.promote_s": (t.total("calc.promote") / n, "s"),
            "driver.nojob_s": (self.nojob / n, "s"),
        }
        for op in ("recreate", "append_where", "append_bymax", "append_notin", "update"):
            out[f"load_ops.{op}_s"] = (t.total(f"load_ops.{op}") / n, "s")
        out["load_ops.rows"] = (c.get("load_ops.rows", 0) / n, "count")
        for op in ("write", "append", "replace_files", "delete_where", "read", "probe"):
            out[f"store.{op}_s"] = (t.total(f"store.{op}") / n, "s")
        live = store_files(self.root)
        live_bytes = sum(live.values())
        task_s, overlap, wait_s = t.scheduler_stats()
        out.update({
            "store.files_written": (self.written_files / n, "count"),
            "store.bytes_written": (self.written_bytes / n, "bytes"),
            "store.files_live": (len(live), "count"),
            "store.bytes_written_per_live_byte": (
                self.written_bytes / live_bytes if live_bytes else 0.0, "ratio"),
            "scheduler.task_s": (task_s / n, "s"),
            "scheduler.overlap": (overlap, "ratio"),
            "scheduler.wait_s": (wait_s / n, "s"),
            "jdbc.export_s": (t.total("jdbc.export") / n, "s"),
            "jdbc.export_rows": (c.get("jdbc.export_rows", 0) / n, "count"),
        })
        units = {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
                 "jdbc.read_rows": "count",
                 "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s"}
        for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_read_bytes",
                  "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.task_s",
                  "spark.cpu_s", "spark.gc_s", "spark.input_bytes", "jdbc.read_rows"):
            out[k] = (self.spark_tot.get(k, 0) / n, units.get(k, "bytes"))
        out["spark.busy_ratio"] = (self.spark_tot.get("spark.task_s", 0) / (measured * cores),
                                   "ratio")
        out["spark.cached_bytes_peak"] = (self.window.cached_peak, "bytes")
        return out
