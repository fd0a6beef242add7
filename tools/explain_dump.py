#!/usr/bin/env python
"""Dump ``.explain("formatted")`` for named registry keys to files.

Usage::

    python tools/explain_dump.py --out DIR [--suffix _before] [key ...]

Defaults to the 15 flagship bench keys at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1 — the bench scale, so the plans match
what bench.py executes). Writes ``<out>/<key><suffix>.txt``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_cnc_spark.registry import load_all  # noqa: E402
from etl_cnc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args(argv)

    reg = load_all()
    keys = args.keys or sorted(k for k, q in reg.items() if q.bench)
    unknown = [k for k in keys if k not in reg]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        return 2

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("etl-cnc-explain")
    spark.sparkContext.setLogLevel("ERROR")
    for k in keys:
        df = reg[k].build(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.out, f"{k}{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
