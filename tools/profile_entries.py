#!/usr/bin/env python
"""Per-entry wall profile (guide §1): for each named entry, time the
construction phase (eager store/index work inside q.spark()) and the
noop-sink execution of the returned frame separately, min-of-N each.
Next to the entry's Spark job count it reports its Janino compiles and
compile milliseconds: a warm pass that still compiles is recompiling
classes the codegen cache evicted.

Usage: python tools/profile_entries.py [-n N] name1 name2 ...
       python tools/profile_entries.py --top K   # K slowest from BENCH.json
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ora_ch_spark.catalog import all_queries  # noqa: E402
from ora_ch_spark.session import compile_stats, get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args = sys.argv[1:]
    n_pass = 2
    if "-n" in args:
        i = args.index("-n")
        n_pass = int(args[i + 1])
        del args[i : i + 2]
    if args and args[0] == "--top":
        k = int(args[1])
        bench = json.load(open(os.path.join(REPO, "BENCH.json")))
        names = [
            nm
            for nm, _ in sorted(
                bench["queries"].items(), key=lambda kv: -kv[1]
            )[:k]
        ]
    else:
        names = args
    by_name = {q.name: q for q in all_queries()}
    spark = get_spark(app_name="ora_ch_profile")
    # warm
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    out = {}
    for nm in names:
        q = by_name[nm]
        best = None
        for _ in range(n_pass):
            spark.catalog.clearCache()
            gc.collect()
            # job-count instrumentation (guide §1): a per-entry job
            # group lets the status tracker report how many Spark
            # jobs the entry launched — composites whose cost is
            # job COUNT (eager store/collect round-trips) show a
            # high count with construct-dominated wall
            group = f"profile:{nm}:{time.monotonic_ns()}"
            spark.sparkContext.setJobGroup(group, nm)
            c0, ms0 = compile_stats(spark)
            t0 = time.perf_counter()
            df = q.spark(spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            c1, ms1 = compile_stats(spark)
            try:
                n_jobs = len(
                    spark.sparkContext.statusTracker().getJobIdsForGroup(group)
                )
            except Exception:  # noqa: BLE001 — diagnostics only
                n_jobs = -1
            spark.sparkContext.setJobGroup(None, None)
            cur = (t1 - t0, t2 - t1, t2 - t0, n_jobs, c1 - c0, ms1 - ms0)
            if best is None or cur[2] < best[2]:
                best = cur
        out[nm] = best
        print(
            f"{nm}: total {best[2]:.2f}s = construct {best[0]:.2f}s"
            f" + exec {best[1]:.2f}s  [{best[3]} jobs,"
            f" {best[4]} compiles / {best[5]:.0f} ms]"
        )
    print(json.dumps({k: [round(x, 3) for x in v] for k, v in out.items()}))


if __name__ == "__main__":
    main()
