#!/usr/bin/env python
"""Flagship timing harness.

Runs the flagship query set (registry keys with ``bench=True``) at
``$SPARK_GRAFT_SF_DIR`` (default ``SF_DIR``, the sf0.1 fixture) on
``local[$SPARK_GRAFT_CPUS]``; per query: 1 warm-up + 3 timed runs,
median wall-clock around ``.collect()``.  Prints exactly ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Every timed run is cold at the Spark cache layer: the cache entries a
build registers are released (``registry.release_caches``) before each
timed run, so it recomputes its persisted subtrees from the parquet
inputs instead of reading the warm-up's cache.  The warm-up still pays
for JIT, the code cache and the FS page cache.

The repo benchmark, with per-layer metrics and oracle-checked results,
is ``perfbench/run.py`` (workloads in BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from etl_cnc_spark.registry import load_all, release_caches
from etl_cnc_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_TIMED = 3


def main() -> int:
    reg = load_all()
    bench_keys = [k for k, q in sorted(reg.items()) if q.bench]
    spark = get_spark("etl-cnc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    for key in bench_keys:
        build = reg[key].build
        build(spark, SF_DIR).collect()  # warm-up (JIT, code cache, FS cache)
        runs = []
        for _ in range(N_TIMED):
            # cold-run discipline (r16): drop the tracked cache entries
            # so this run recomputes persisted subtrees, outside the
            # timed region (the release is bookkeeping, not the query)
            release_caches(spark)
            t0 = time.perf_counter()
            build(spark, SF_DIR).collect()
            runs.append(time.perf_counter() - t0)
        timings[key] = round(statistics.median(runs), 3)

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None
    result = {
        "metric": "flagship_total_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
