"""Benchmark of record for ora_ch_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each run is a fresh process with its own
run directory (store root, temp files, Spark local dirs, Derby) under
``.perfbench/``, removed on exit. The workload is a single-client closed
loop: one request at a time on ``local[nproc]``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def _reset_hwm(pid: int | str) -> None:
    """Reset a process's VmHWM to its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every temp and scratch location of Python, the JVM, Spark
    and Derby into the run directory. Catalog entries call
    ``tempfile.mkdtemp`` and never clean up."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # The JVM keeps the engine's own collector and JIT. Derby stands in
    # for the remote database, so its log is not synced to disk: a shared
    # disk's fsync latency is not the engine's cost.
    java = (f"-Djava.io.tmpdir={tmp} -Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"
            " -Dderby.system.durability=test")
    # every JVM the run starts, the spark-submit launcher included:
    # HotSpot's perf-data file would go to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": java,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def measure(args, run_dir: str) -> dict:
    cores = os.cpu_count() or 1
    conf = _isolate(run_dir)
    # the engine's default driver heap (48g) is sized for a large host;
    # the benchmark shares its machine, and a fixed heap keeps peak RSS
    # comparable between runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"

    t0 = time.perf_counter()
    from ora_ch_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, run_dir, cores, session_s)
    finally:
        _stop(spark)


def _measure(args, spark, run_dir: str, cores: int, session_s: float) -> dict:
    import layers as tr
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](spark, run_dir, args.seed, cores)
    # set-up is measured several times in a run: the input generation
    # repeats into throwaway directories and the median counts
    gen = []
    for i in range(3):
        out = os.path.join(run_dir, "inputs" if i == 2 else f"inputs-rep{i}")
        t = time.perf_counter()
        wl.generate(out)
        gen.append(time.perf_counter() - t)
        if i < 2:
            shutil.rmtree(out)
    t = time.perf_counter()
    wl.prepare()
    spark.catalog.clearCache()
    setup_s = session_s + statistics.median(gen) + (time.perf_counter() - t)
    # the memory peaks count while requests run: Python's set-up peak is
    # the generator's and DuckDB's, the JVM's that of bulk loads and seeding
    jvm_pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    rss_setup = {"jvm": _vm_hwm_mb(jvm_pid), "py": _vm_hwm_mb("self")}
    for pid in (jvm_pid, "self"):
        _reset_hwm(pid)

    layers = tr.LayerRun(spark, wl.store.root) if args.trace else None
    times, rows, attempted, failed, measured = [], 0, 0, 0, 0.0
    for rnd in wl.rounds():
        for req in rnd:
            attempted += 1
            if layers:
                layers.begin(attempted)
            w0 = time.time()
            t = time.perf_counter()
            try:
                res = wl.run(req)
                ok = True
            except Exception:
                traceback.print_exc()
                ok = False
            dt = time.perf_counter() - t
            times.append(dt)
            measured += dt
            if layers and not layers.end(w0, time.time()):
                print(f"request {attempted}: a Spark job spans two windows", file=sys.stderr)
                ok = False
            if ok:
                try:
                    wl.check(req, res)
                    rows += res.rows
                    if layers:
                        for k, v in res.counts.items():
                            layers.tracer.add(k, v)
                except Exception:
                    traceback.print_exc()
                    ok = False
            failed += not ok
            spark.catalog.clearCache()
        if measured >= args.seconds:
            break
    # read before final_check, whose DuckDB and Spark reads are the
    # benchmark's own
    rss_jvm, rss_py = _vm_hwm_mb(jvm_pid), _vm_hwm_mb("self")
    correct = True
    try:
        wl.final_check()
    except Exception:
        traceback.print_exc()
        correct = False
    correct = correct and failed == 0

    p50 = statistics.median(times)
    info = {"workload": args.workload, "seed": args.seed, "requests": attempted,
            "measured_s": measured, "request_s": times, "rss_jvm_mb": rss_jvm,
            "rss_py_mb": rss_py, "rss_setup_mb": rss_setup, "setup_gen_s": gen,
            "props": wl.props}
    if layers:
        layers.close()
        metrics = {"trace.request_s_p50": (p50, "s"), "rss.jvm_peak_mb": (rss_jvm, "MB"),
                   "rss.python_peak_mb": (rss_py, "MB")}
        metrics.update(layers.metrics(attempted, measured, cores))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "request_s_p50": (p50, "s"),
            "rows_per_s": (rows / measured, "1/s"),
            "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        }
    print(json.dumps(info, default=str), file=sys.stderr)
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "ora_ch_spark", "__init__.py")):
        print("perfbench: run from the repository root (no ora_ch_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still has its directory there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
