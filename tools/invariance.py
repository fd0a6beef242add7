#!/usr/bin/env python
"""Partition/batch-invariance harness (round 11): re-run the full
DuckDB parity gate under a perturbed SparkSession to prove results
are invariant to execution layout, not just correct under the tuned
default session.

Axes (pick one per run):

  --axis cpus    local[5], 8 shuffle partitions — different task
                 parallelism and partial-aggregate merge orders.
                 (Equivalent to SPARK_GRAFT_CPUS=5 with the normal
                 check CLI; kept here for one-command parity.)
  --axis splits  64 KB maxPartitionBytes + zero open cost + AQE off:
                 small dims shatter into many mostly-empty scan
                 splits. Found udtf_polymorphic's per-split
                 terminate() fold in round 11.
  --axis arrow   arrow.maxRecordsPerBatch=7: every mapInArrow /
                 mapInPandas / pandas-UDF operator sees many tiny
                 batches — catches whole-partition-batch assumptions.

Usage::

    python tools/invariance.py --axis splits [--sf DIR] [key ...]

Exit 1 if any key diverges from its oracle under the perturbed
session. Run per round for waves that add UDTF / mapInArrow /
per-partition machinery.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_cnc_spark.oracle import compare  # noqa: E402
from etl_cnc_spark.registry import load_all  # noqa: E402
from etl_cnc_spark.session import get_spark  # noqa: E402

AXES = {
    "cpus": {
        "master": "local[5]",
        "conf": {"spark.sql.shuffle.partitions": "8"},
    },
    "splits": {
        "master": "local[16]",
        "conf": {
            "spark.sql.shuffle.partitions": "13",
            "spark.sql.files.maxPartitionBytes": "65536",
            "spark.sql.files.openCostInBytes": "0",
            "spark.sql.adaptive.enabled": "false",
        },
    },
    "arrow": {
        "master": "local[16]",
        "conf": {
            "spark.sql.shuffle.partitions": "13",
            "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
            "spark.sql.adaptive.enabled": "false",
        },
    },
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--axis", choices=sorted(AXES), required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args(argv)

    reg = load_all()
    keys = args.keys or sorted(reg)
    unknown = [k for k in keys if k not in reg]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    axis = AXES[args.axis]
    spark = get_spark(f"invariance-{args.axis}", master=axis["master"])
    for k, v in axis["conf"].items():
        spark.conf.set(k, v)
    spark.sparkContext.setLogLevel("ERROR")

    fails = 0
    for k in keys:
        t0 = time.time()
        try:
            res = compare(reg[k], spark, args.sf)
            ok, detail = res.ok, res.detail
        except Exception as exc:  # noqa: BLE001 - report and continue
            ok, detail = False, f"EXC {type(exc).__name__}: {str(exc)[:160]}"
        if ok:
            print(f"ok   {k:30s} {time.time() - t0:5.1f}s", flush=True)
        else:
            fails += 1
            print(f"FAIL {k:30s} {detail}", flush=True)
    print(f"\n{len(keys) - fails}/{len(keys)} passed ({args.axis})", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
