"""Spark-side process of the benchmark (started by ``run.py``; not a CLI of its own).

One process, one client thread, closed loop: each key is built,
collected and released before the next one starts, on the session
``etl_cnc_spark.session.get_spark`` opens.  A *pass* runs every key of
the workload once, cold: ``registry.release_caches`` follows each key,
so the next pass recomputes every persisted subtree.  The seed only
permutes key order within each pass.

Passes: the first (JVM, JIT and code caches cold), then warm passes
while the passes so far have taken less than ``--seconds``.  Each pass
records its wall time and its CPU time: the CPU the whole Spark process
(this process, its JVM and the JVM's Python workers) spends on it, less
this process's CPU for the oracle checks.  A traced run wraps each call
into the program in a span, sets a Spark job group per span, forces
planning through ``queryExecution().executedPlan()``, reads each final
plan's shape, and ends with one untraced and one traced warm pass to
measure the tracing overhead.  Every collected result is checked
against its oracle digest outside the timed region.

Writes one JSON record to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import re
import sys
import time

import eventlog
import verify
from workloads import DATASETS, ROOT, SELFTEST, WORKLOADS, family

LEAVES = ("build", "plan", "collect", "release")


class Tracer:
    """In-memory spans.  Each leaf span runs under its own Spark job
    group, so the event log ties jobs to the span that caused them.
    A disabled tracer records nothing and sets no job group."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.spans: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def add(self, name: str, parent: dict | None, start: float, end: float, **attrs) -> dict:
        s = {"id": len(self.spans), "parent": parent and parent["id"], "name": name}
        s.update(workload=self.workload, **{k: parent[k] for k in ("pass", "key") if parent and k in parent})
        s.update(attrs, start=start, end=end)
        self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        s = self.add(name, parent, time.time(), 0.0, **attrs)
        if name in LEAVES:
            s["group"] = f"perfbench:{s['id']}"
            self.sc.setJobGroup(s["group"], f"{name} {s.get('key', '')}")
        try:
            yield s
        finally:
            s["end"] = time.time()
            if name in LEAVES:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _session_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process's
    session: this process, its JVM and the JVM's Python workers, live
    or already reaped.  Time the host steals from the vCPUs is not
    charged to a process, so this grows far less with CPU steal than
    wall time does."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile; its parent's cutime has it
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _plan_shape(df, audit) -> dict[str, int]:
    """Shape of a collected DataFrame's final (post-AQE) plan."""
    fmt, simple = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(fmt):
        df.explain("formatted")
    with contextlib.redirect_stdout(simple):
        df.explain()
    a = audit(fmt.getvalue(), simple.getvalue())
    ops = [
        re.sub(r"^[\s:|+\-]*(\*\(\d+\)\s*)?", "", ln)
        for ln in simple.getvalue().split("== Initial Plan ==")[0].splitlines()
    ]
    return {
        "exchanges": a["exchanges"],
        "parquet_scans": a["scans"],
        "cache_reads": sum(bool(re.match(r"(InMemoryTableScan|Scan ExistingRDD)\b", o)) for o in ops),
        "python_nodes": sum(bool(re.match(r"\w*(Python|InPandas|InArrow)\w*\b", o)) for o in ops),
    }


def run(args) -> dict:
    if os.path.realpath(os.getcwd()) != os.path.realpath(ROOT):
        raise SystemExit(f"worker must run with cwd {ROOT}, not {os.getcwd()}")
    sys.path.insert(0, ROOT)
    w = SELFTEST if args.workload == SELFTEST.name else WORKLOADS[args.workload]
    sf_dir = DATASETS[w.dataset].path
    with open(args.oracle) as f:
        expected = json.load(f)

    t_start = time.time()
    from etl_cnc_spark.registry import load_all, release_caches

    reg = load_all()
    t_loaded = time.time()
    from etl_cnc_spark.session import get_spark

    spark = get_spark("perfbench")
    t_ready = time.time()
    setup_cpu_s = _session_cpu_s()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    tracer = Tracer(sc if args.trace else None, w.name)
    untraced = Tracer(None, w.name)
    if args.trace:
        from tools.plan_audit import audit

        setup = tracer.add("setup", None, args.t0, t_ready)
        tracer.add("registry.load", setup, t_start, t_loaded)
        tracer.add("session.start", setup, t_loaded, t_ready)

    executions: list[dict] = []
    passes: list[dict] = []
    shapes: dict[tuple[int, str], dict] = {}

    def execute(tr: Tracer, p: int, key: str, pass_span) -> tuple[float, float]:
        """One cold execution of ``key``; returns its wall time, checking
        excluded, and this process's CPU time spent checking."""
        rec = {"pass": p, "key": key, "family": family(reg[key].build.__module__)}
        df = rows = err = None
        with tr.span("query", pass_span, key=key) as q:
            t0 = time.perf_counter()
            try:
                with tr.span("build", q):
                    df = reg[key].build(spark, sf_dir)
                if tr.enabled:
                    with tr.span("plan", q):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("collect", q):
                    rows = df.collect()
            except Exception as exc:  # a failing key is recorded; the pass goes on
                first = (str(exc).strip().splitlines() or [""])[0]
                err = f"{type(exc).__name__}: {first[:300]}"
            rec["s"] = time.perf_counter() - t0
            with tr.span("release", q):
                release_caches(spark)
            wall = time.perf_counter() - t0
        check_cpu = time.process_time()
        if err is None:
            if tr.enabled:
                shapes[(p, key)] = _plan_shape(df, audit)
            rec["rows"] = len(rows)
            err = verify.mismatch(verify.digest_rows(rows, df.columns), expected[key])
        rec["ok"] = err is None
        if err is not None:
            rec["reason"] = err
        executions.append(rec)
        return wall, time.process_time() - check_cpu

    def run_pass(kind: str, tr: Tracer) -> float:
        p = len(passes)
        order = list(w.keys)
        random.Random(f"{args.seed}:{p}").shuffle(order)
        steal0, total0 = _cpu_jiffies()
        cpu0 = _session_cpu_s()
        with tr.span("pass", None, **{"pass": p}) as ps:
            wall, check_cpu = map(sum, zip(*(execute(tr, p, k, ps) for k in order)))
        cpu = _session_cpu_s() - cpu0 - check_cpu
        steal1, total1 = _cpu_jiffies()
        passes.append(
            {
                "pass": p,
                "kind": kind,
                "traced": tr.enabled,
                "wall_s": wall,
                "cpu_s": cpu,
                "order": order,
                "load1": os.getloadavg()[0],
                "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            }
        )
        return wall

    measured = run_pass("first", tracer)
    while measured < args.seconds:
        measured += run_pass("warm", tracer)
    if args.trace:
        run_pass("untraced", untraced)
        run_pass("traced", tracer)

    rss = {"python_mb": _vm_hwm_mb("self"), "jvm_mb": _vm_hwm_mb(sc._gateway.proc.pid)}
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": __import__("pyspark").__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }
    app_id = sc.applicationId
    spark.stop()

    record = {
        "workload": w.name,
        "seed": args.seed,
        "setup_s": t_ready - args.t0,
        "setup_cpu_s": setup_cpu_s,
        "registry.load_s": t_loaded - t_start,
        "session.start_s": t_ready - t_loaded,
        "passes": passes,
        "executions": executions,
        "peak_rss_mb": rss["python_mb"] + rss["jvm_mb"],
        "rss": rss,
        "host": host,
    }
    if args.trace:
        record.update(_layers(tracer.spans, shapes, os.path.join(args.eventlog, app_id), record))
    return record


def _layers(spans: list[dict], shapes: dict, log_path: str, record: dict) -> dict:
    """Per-layer and per-key metrics of the first pass, the one the
    end-to-end pass metrics measure.  Job/stage/task counts split by span
    kind (``build.*`` for build spans, ``exec.*`` for plan, collect and
    release); task time and byte counters cover every task the pass
    ran."""
    leaves = [s for s in spans if "group" in s]
    counts, unclaimed = eventlog.attribute(log_path, leaves)
    zero = dict.fromkeys(eventlog.COUNTERS, 0)
    fam = {e["key"]: e["family"] for e in record["executions"]}
    seconds = {"plan": "plan.s", "collect": "exec.s", "release": "registry.release_s"}

    def pass_layers(p: int) -> dict[str, float]:
        m = dict.fromkeys(("operators.build_s", "llm.build_s", "streaming.build_s", "sources.build_s"), 0.0)
        m.update(dict.fromkeys(seconds.values(), 0.0))
        m.update({"build.jobs": 0, "build.stages": 0, **{f"exec.{c}": 0 for c in eventlog.COUNTERS}})
        for s in leaves:
            if s["pass"] != p:
                continue
            c = counts.get(s["id"], zero)
            if s["name"] == "build":
                name = f"{fam[s['key']]}.build_s"
                m[name] = m.get(name, 0.0) + s["end"] - s["start"]
                m["build.jobs"] += c["jobs"]
                m["build.stages"] += c["stages"]
            else:
                m[seconds[s["name"]]] += s["end"] - s["start"]
                for k in ("jobs", "stages", "tasks", "failed_tasks"):
                    m[f"exec.{k}"] += c[k]
            for k in eventlog.COUNTERS[4:]:
                m[f"exec.{k}"] += c[k]
            # per key: query seconds (release excluded) and stages run
            m[f"{s['key']}.stages"] = m.get(f"{s['key']}.stages", 0) + c["stages"]
            if s["name"] != "release":
                m[f"{s['key']}.s"] = m.get(f"{s['key']}.s", 0.0) + s["end"] - s["start"]
        for k in ("exchanges", "parquet_scans", "cache_reads", "python_nodes"):
            m[f"plan.{k}"] = sum(v[k] for (pp, _), v in shapes.items() if pp == p)
        m["exec.result_rows"] = sum(e.get("rows", 0) for e in record["executions"] if e["pass"] == p)
        return m

    layers = pass_layers(0)
    for k in ("registry.load_s", "session.start_s", "peak_rss_mb"):
        layers[k] = record[k]
    walls = {p["kind"]: p["wall_s"] for p in record["passes"]}
    layers["trace.overhead_s"] = walls["traced"] - walls["untraced"]

    for s in spans:
        s["counters"] = counts.get(s["id"])
    return {"layers": layers, "unclaimed_jobs": unclaimed, "spans": spans}


def gen_sf1(out_dir: str) -> None:
    """Build the sf1 fixture from the vendored sf0.1 with tools/scale_probe."""
    os.environ["SPARK_GRAFT_SF_DIR"] = DATASETS["sf0.1"].path
    sys.path.insert(0, ROOT)
    from etl_cnc_spark.session import get_spark
    from tools.scale_probe import generate

    spark = get_spark("perfbench-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    with contextlib.redirect_stdout(sys.stderr):
        generate(spark, out_dir, 10)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, help="epoch time the parent started this process")
    ap.add_argument("--oracle", help="JSON of oracle digests per key")
    ap.add_argument("--eventlog", help="Spark event-log directory (traced runs)")
    ap.add_argument("--out")
    ap.add_argument("--gen-sf1", help="build the sf1 fixture into this directory and exit")
    args = ap.parse_args()
    if args.gen_sf1:
        gen_sf1(args.gen_sf1)
        return
    record = run(args)
    with open(args.out, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
