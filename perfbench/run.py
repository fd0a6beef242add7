#!/usr/bin/env python3
"""The repo benchmark: cold passes over fixed sets of registry keys.

Usage, from the repository root::

    python3 perfbench/run.py --workload flagship_sf0.1 --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --selftest

Each run starts one Spark process (``perfbench/worker.py``) that opens
the session with ``etl_cnc_spark.session.get_spark``, builds every key
of the workload through the registry, collects it and releases its
caches, one key at a time, on ``local[nproc]``.  Every result is
checked against the program's DuckDB oracle.  The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics BENCHMARK.json names — its ``end_to_end`` list with
``--trace 0`` and its ``per_layer`` list with ``--trace 1``.  Lines
before it give the passes with host noise (1-minute load, CPU steal),
every failed execution with its reason, and the run's details; the
full record (and, traced, every span) is written under
``perfbench/.work``.

``--selftest`` runs the traced protocol twice over both timed workloads' keys
and the known-failing keys on sf0.001 and checks the benchmark's own
parsers: every per-layer metric is produced, and exact counts repeat
across the two runs.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

import fixtures
from workloads import DATASETS, HERE, KNOWN_FAILING, ROOT, SELFTEST, WORK, WORKLOADS, key_of

RUN_LIMIT_S = 175  # one run must end within 180 s
PROGRAM_FILES = ("__spark_entry__.py", "etl_cnc_spark/__init__.py", "tools/scale_probe.py", "tools/plan_audit.py")


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(run_dir: str, trace: bool) -> dict:
    """Environment of the Spark process: local[nproc], and every file
    it writes (temp files, shuffle files, event log) inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--conf", f"spark.driver.extraJavaOptions={java_opts}"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        for k, v in (
            ("enabled", "true"),
            ("dir", f"file:{log_dir}"),
            ("compress", "false"),
            ("rolling.enabled", "false"),
        ):
            submit += ["--conf", f"spark.eventLog.{k}={v}"]
    env = dict(os.environ)
    # the launcher JVM spark-submit starts first gets the same flags
    launcher = f"{java_opts} {env.get('SPARK_LAUNCHER_OPTS', '')}".strip()
    env.update(
        SPARK_LAUNCHER_OPTS=launcher,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        TZ="UTC",
    )
    return env


class Worker:
    """The Spark process of one run, in its own process group so that
    its JVM and Python workers are stopped with it."""

    def __init__(self, argv: list[str], env: dict, log_path: str):
        self.log_path = log_path
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            cwd=ROOT,
            env=env,
            stdout=self.log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )

    def wait(self, timeout: float) -> int:
        try:
            return self.proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return -1
        finally:
            self.stop()

    def stop(self) -> None:
        """Kill what is left of the process group and wait until it is
        gone.  The JVM exits by itself once the worker's pipe to it
        closes; anything still alive after 10 s is killed."""
        pgid = self.proc.pid
        if self.proc.poll() is None:
            os.killpg(pgid, signal.SIGKILL)
            self.proc.wait()
        deadline = time.time() + 10
        while time.time() < deadline + 5:
            try:
                os.killpg(pgid, signal.SIGKILL if time.time() > deadline else 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        self.log.close()

    def tail(self, n: int = 30) -> str:
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _program_id() -> dict:
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "etl_cnc_spark", "**", "*.py"), recursive=True))
    for path in files + [os.path.join(ROOT, "__spark_entry__.py")]:
        with open(path, "rb") as f:
            h.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = out.stdout.strip() or None
    return {"commit": commit, "program_sha256": h.hexdigest()}


def run_once(workload, seed: int, seconds: float, trace: bool, started: float) -> dict:
    """One run of ``workload``: prepare its dataset, start the Spark
    process, and return the process's record."""
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        env = _env(run_dir, trace)
        ds = DATASETS[workload.dataset]
        program = _program_id()
        prep_s = fixtures.ensure(ds, env, timeout=900)
        expected = fixtures.oracle_digests(ds, workload.keys, program["program_sha256"])
        oracle_path = os.path.join(run_dir, "oracle.json")
        with open(oracle_path, "w") as f:
            json.dump(expected, f)
        out = os.path.join(run_dir, "record.json")
        argv = ["--workload", workload.name, "--seed", str(seed), "--seconds", str(seconds)]
        argv += ["--trace", str(int(trace)), "--oracle", oracle_path, "--out", out]
        argv += ["--eventlog", os.path.join(run_dir, "eventlog")]
        # a run that had to generate its dataset gets that time back
        limit = RUN_LIMIT_S - (time.time() - started) + prep_s
        worker = Worker(argv + ["--t0", repr(time.time())], env, os.path.join(run_dir, "worker.log"))
        signal.signal(signal.SIGTERM, lambda *_: (worker.stop(), sys.exit(143)))
        rc = worker.wait(limit)
        if rc != 0 or not os.path.exists(out):
            why = "timed out" if rc == -1 else f"exited with {rc}"
            die(f"Spark process {why}; last lines of its log:\n{worker.tail()}")
        with open(out) as f:
            record = json.load(f)
        record["fixture_prep_s"] = prep_s
        record["dataset"] = ds.name
        record["host"].update(program)
        return record
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def tail_latency(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it
    (with fewer than eleven samples, the fastest)."""
    lat = sorted(samples)
    i = max(0, len(lat) - 11)
    return {"value": lat[i], "percentile": 100.0 * (i + 1) / len(lat), "samples": len(lat), "beyond": len(lat) - 1 - i}


def end_to_end(record: dict) -> tuple[dict, dict]:
    """End-to-end figures of a run, and the details that qualify them."""
    execs = record["executions"]
    lat = [e["s"] for e in execs]
    first = record["passes"][0]
    warm = [p for p in record["passes"] if p["kind"] == "warm"]
    tail = tail_latency(lat)
    metrics = {
        "setup_s": record["setup_s"],
        "setup_cpu_s": record["setup_cpu_s"],
        "first_pass_s": first["wall_s"],
        "first_pass_cpu_s": first["cpu_s"],
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail["value"],
        "error_rate": sum(not e["ok"] for e in execs) / len(execs),
        "peak_rss_mb": record["peak_rss_mb"],
    }
    if warm:
        metrics["pass_s"] = statistics.median(p["wall_s"] for p in warm)
        metrics["pass_cpu_s"] = statistics.median(p["cpu_s"] for p in warm)
    return metrics, {"query_tail": tail, "warm_passes": len(warm)}


def report(record: dict, trace: bool, spec: dict) -> dict:
    """Print the run's lines; return the final result object."""
    for p in record["passes"]:
        print(json.dumps({k: v for k, v in p.items() if k != "order"}))
    for e in record["executions"]:
        if not e["ok"]:
            print(json.dumps({"failure": {k: e[k] for k in ("pass", "key", "reason")}}))
    e2e, details = end_to_end(record)
    detail = {
        "workload": record["workload"],
        "why": WORKLOADS[record["workload"]].why,
        "dataset": record["dataset"],
        "seed": record["seed"],
        "fixture_prep_s": record["fixture_prep_s"],
        "summary": e2e,
        **details,
        "setup": {k: record[k] for k in ("registry.load_s", "session.start_s")},
        "rss": record["rss"],
        "host": record["host"],
    }
    if trace:
        detail["unclaimed_jobs"] = record["unclaimed_jobs"]
    print(json.dumps(detail))

    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = e2e
    if trace:
        # a key outside this run's workload did not run: 0 s, 0 stages
        values = {m["name"]: 0 for m in wanted if key_of(m["name"])}
        values.update(record["layers"])
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        die(f"metrics not produced: {missing}")
    failed = sum(not e["ok"] for e in record["executions"])
    return {
        "correct": failed == 0,
        "attempted": len(record["executions"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def save(record: dict, trace: bool) -> None:
    kind = "traces" if trace else "runs"
    d = os.path.join(WORK, kind)
    os.makedirs(d, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(record, f)


def selftest() -> int:
    """Two traced sf0.001 runs: every per-layer metric is produced and
    the exact counts repeat; the drift of plan.exchanges and
    exec.stages (exchange reuse can move them by one) and every failed
    execution are reported, and so is each known-failing key that no
    longer fails.  Failed executions are the program's, not the
    parsers', so they do not fail the self-test."""
    spec = _spec()
    runs = [run_once(SELFTEST, 0, 0, True, time.time()) for _ in range(2)]
    names = [m["name"] for m in spec["per_layer"]]
    problems, failures = [], []
    for i, r in enumerate(runs):
        problems += [f"run {i}: no {n}" for n in names if n not in r["layers"]]
        failures += [f"run {i} pass {e['pass']}: {e['key']}: {e['reason']}" for e in r["executions"] if not e["ok"]]
    for n in ("exec.result_rows", "plan.parquet_scans"):
        if runs[0]["layers"].get(n) != runs[1]["layers"].get(n):
            problems.append(f"{n} differs: {runs[0]['layers'].get(n)} vs {runs[1]['layers'].get(n)}")
    spread = {n: [r["layers"].get(n) for r in runs] for n in ("plan.exchanges", "exec.stages")}
    failing = {e["key"] for r in runs for e in r["executions"] if not e["ok"]}
    fixed = [k for k in KNOWN_FAILING if k not in failing]
    verdict = "fail" if problems else "ok"
    print(
        json.dumps(
            {
                "selftest": verdict,
                "problems": problems,
                "spread": spread,
                "failed_executions": failures,
                "known_failing_now_passing": fixed,
            }
        )
    )
    return 1 if problems else 0


def main() -> int:
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    missing = [p for p in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        die(f"the program is not next to perfbench/ (missing {', '.join(missing)})")
    if os.path.realpath(os.getcwd()) != os.path.realpath(ROOT):
        # Python-worker keys import etl_cnc_spark through the inherited cwd
        die(f"run from the repository root {ROOT}, not {os.getcwd()}")
    if args.selftest:
        return selftest()
    if not args.workload:
        die("--workload is required")

    trace = bool(args.trace)
    record = run_once(WORKLOADS[args.workload], args.seed, args.seconds, trace, started)
    save(record, trace)
    result = report(record, trace, _spec())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
