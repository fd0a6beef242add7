#!/usr/bin/env python
"""Benchmark harness (SURVEY.md §6, BASELINE.md protocol).

Runs the flagship query set at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``; per query:
1 warm-up + 3 timed runs, median wall-clock around ``.collect()``.
Prints exactly ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--probe`` (VERDICT r14 item 8) additionally writes per-query host
forensics to STDERR — 1-minute load average sampled right before each
query's timed runs plus the individual run times — so a contended
bench run carries its own steal attribution instead of needing
interleaved by-hand reruns.  Stdout stays the one JSON line either
way (the driver's contract).

r16 protocol fix (VERDICT r15 "what's wrong" #1, additions-only):
every timed run is now COLD at the Spark cache layer — the tracked
persist()/cache()/CACHE TABLE entries a build registers are released
(``registry.release_caches``) between the warm-up and each timed run,
so a timed run recomputes its persisted subtrees from the parquet
inputs instead of reading the warm-up's materialized cache.  The
warm-up still serves its original purpose (JIT, code cache, FS page
cache).  Queries, timing methodology (median of 3 ``.collect()``
wall-clocks), env contract and the one-line stdout JSON are
unchanged; the re-freeze note is in BASELINE.md.
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
    probe = "--probe" in sys.argv[1:]
    reg = load_all()
    bench_keys = [k for k, q in sorted(reg.items()) if q.bench]
    spark = get_spark("etl-cnc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    for key in bench_keys:
        build = reg[key].build
        build(spark, SF_DIR).collect()  # warm-up (JIT, code cache, FS cache)
        load1 = os.getloadavg()[0]
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
        if probe:
            print(
                json.dumps(
                    {
                        "query": key,
                        "load1_before": round(load1, 2),
                        "runs": [round(r, 3) for r in runs],
                    }
                ),
                file=sys.stderr,
            )

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
