"""Datasets and oracle digests, prepared before anything is timed.

sf0.1 and sf0.001 are copies of the program's read-only test fixtures,
kept under ``perfbench/data`` so the benchmark reads nothing outside
its checkout.  sf1 is generated on first use by
``tools/scale_probe.generate`` (ten key-shifted replicas of sf0.1) and
reused while its row counts hold.  Oracle digests are computed once per
dataset with the program's DuckDB oracle and cached beside the
datasets; they are recomputed when the program's sources or the
dataset's files change.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

import verify
from workloads import HERE, ROOT, WORK, Dataset


def check_rows(ds: Dataset) -> None:
    """Raise unless every table of ``ds`` has its expected row count."""
    for table, want in ds.rows.items():
        path = os.path.join(ds.path, f"{table}.parquet")
        got = pq.ParquetFile(path).metadata.num_rows
        if got != want:
            raise RuntimeError(f"{ds.name}: {table} has {got} rows, expected {want}")


def _valid(ds: Dataset) -> bool:
    try:
        check_rows(ds)
    except (OSError, RuntimeError):
        return False
    return True


def ensure(ds: Dataset, env: dict, timeout: float) -> float:
    """Make ``ds`` ready; return the seconds spent generating it (0 when reused)."""
    if not ds.generated:
        check_rows(ds)
        return 0.0
    if _valid(ds):
        return 0.0
    tmp = ds.path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(ds.path, ignore_errors=True)
    t0 = time.time()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "worker.py"), "--gen-sf1", tmp],
        cwd=ROOT,
        env=env,
        stdout=sys.stderr,
        timeout=timeout,
        check=True,
    )
    os.replace(tmp, ds.path)
    check_rows(ds)
    return time.time() - t0


def _fingerprint(ds: Dataset) -> str:
    h = hashlib.sha256()
    for table in sorted(ds.rows):
        st = os.stat(os.path.join(ds.path, f"{table}.parquet"))
        h.update(f"{table}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def oracle_digests(ds: Dataset, keys: tuple[str, ...], program_sha256: str) -> dict[str, dict]:
    """Oracle digest per key, from the cache or computed with DuckDB.
    The cache holds while the dataset's files and the program's
    sources (oracle SQL included) are unchanged."""
    path = os.path.join(WORK, f"oracle-{ds.name}.json")
    stamp = {"dataset": _fingerprint(ds), "program": program_sha256}
    cache = {"stamp": stamp, "keys": {}}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            cache = cached
    todo = [k for k in keys if k not in cache["keys"]]
    if todo:
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        from etl_cnc_spark.oracle import run_oracle
        from etl_cnc_spark.registry import load_all

        reg = load_all()
        missing = [k for k in todo if k not in reg]
        if missing:
            raise RuntimeError(f"keys not in the registry: {missing}")
        no_oracle = [k for k in todo if reg[k].oracle is None]
        if no_oracle:
            raise RuntimeError(f"keys without an oracle cannot be checked: {no_oracle}")
        for k in todo:
            cache["keys"][k] = verify.digest_frame(run_oracle(reg[k].oracle, ds.path))
        os.makedirs(WORK, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {k: cache["keys"][k] for k in keys}
