"""SparkSession factory and runtime tuning.

SURVEY.md §4: AQE on, Arrow on. Shuffle partitions: cores/2, floored
at 8 (``max(8, cores // 2)``, so every host up to 16 cores gets 8).
A/B-measured in fresh processes on the sf0.1 bench, cores/2 beat
1x cores by ~5% (task-dispatch overhead on sub-second stages; AQE
coalescing still right-sizes larger shuffles at runtime). Smaller
parquet splits (maxPartitionBytes 8 MB) were ALSO A/B-tested and are a net loss
under cold-start conditions — more tasks pay more scheduling than
the extra scan parallelism returns; the 128 MB default stays. On a
real cluster the same knobs are sized by DATA, not cores:
shuffle.partitions ≈ shuffle bytes / 128 MB target-partition,
floored at 2x total executor cores — at 100 TB that is tens of
thousands, with AQE coalescing the light stages back down.

Class-data sharing (CDS) for the driver JVM. At sf0.1 a session start
is mostly class loading and linking (``FunctionRegistry``, the
scala-reflect universe, jackson-module-scala), so ``get_spark`` starts
the driver from a dynamic AppCDS archive: the JVM maps already-parsed,
already-verified Spark and JDK classes from one file instead of
loading them from ~290 jars. The archive caches framework classes
only, no program code, and is keyed by a fingerprint of the ``java``
binary (realpath) and the name, size and mtime of every jar in
``$SPARK_HOME/jars``; it lives in ``$XDG_CACHE_HOME`` (default
``~/.cache``) under ``etl_cnc_spark/driver-<fingerprint>.jsa``.

- Only a call that launches the JVM uses it; a ``get_spark`` after
  ``stop()`` reuses the old JVM and does nothing.
- JDK 17 refuses a non-empty directory on the archived classpath, and
  the launcher puts ``$SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``)
  first on it. CDS is therefore used only when ``SPARK_CONF_DIR`` is
  unset and ``$SPARK_HOME/conf`` holds nothing but ``*.template``
  files, which Spark never reads; the launch then points
  ``SPARK_CONF_DIR`` at an empty directory beside the archive, which
  behaves the same. It is also skipped when ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH`` would add to the
  classpath, and when ``PYSPARK_SUBMIT_ARGS`` sets
  ``spark.driver.defaultJavaOptions``, the conf that carries the JVM
  options (``extraJavaOptions`` is left to the caller). Setting
  ``SPARK_CONF_DIR`` is the way to opt out.
- With no archive yet, the JVM starts with
  ``-XX:+RecordDynamicDumpInfo``; once the session is up, ``jcmd
  VM.cds dynamic_dump`` writes the archive (~67 MB) and archives of
  other fingerprints are deleted. If that fails, a ``.failed`` marker
  stops later sessions from retrying.
- A stale or corrupt archive is not an error: the JVM runs with the
  default ``-Xshare:auto`` and starts the plain way.  After a launch
  with the archive, the JVM's ``/proc/<pid>/maps`` tells whether it
  mapped the file; if not, the file is deleted, so the next launch
  dumps a new one.  An archive the JVM mapped is never touched.

Measured on a 4-vCPU host, perfbench ``--trace 0``, 10 interleaved
pairs per workload: ``setup_s`` medians 7.91 → 5.72 s
(``flagship_sf0.1``) and 8.30 → 5.47 s (``etl_io_sf0.1``), every pair
won; a traced flagship run puts it in ``session.start_s`` (7.20 →
4.80 s). The one start that dumps had ``setup_s`` 21.4 s.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_CDS_LOG_OFF = "-Xlog:cds=off -Xlog:cds+dynamic=off"  # a dump logs ~2250 skipped classes


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def _cds_archive() -> str | None:
    """The class-data archive path (``driver-<fingerprint>.jsa``, maybe
    not dumped yet) for a call that launches the driver JVM, or None
    when the JVM exists already or the install rules CDS out.  The
    empty ``conf/`` directory beside it is the launch's SPARK_CONF_DIR."""
    env = os.environ
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in env:
        return None
    if "SPARK_CONF_DIR" in env or "spark.driver.defaultJavaOptions" in env.get(
        "PYSPARK_SUBMIT_ARGS", ""
    ):
        return None
    if any(env.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None
    spark_home = _find_spark_home()
    try:
        conf = os.listdir(os.path.join(spark_home, "conf"))
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
    except OSError:
        return None
    java_home = env.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None or any(not f.endswith(".template") for f in conf):
        return None
    h = hashlib.sha256(os.path.realpath(java).encode())
    for e in jars:
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    cache = os.path.join(
        env.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "etl_cnc_spark"
    )
    if not os.path.isabs(cache) or any(c.isspace() for c in cache):
        return None  # no home, or a path the JVM option string would split
    conf_dir = os.path.join(cache, "conf")
    archive = os.path.join(cache, f"driver-{h.hexdigest()[:16]}.jsa")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or os.path.exists(archive + ".failed"):
            return None
    except OSError:
        return None
    return archive


def _cds_dump(spark: SparkSession, archive: str) -> None:
    """Dump the running driver's loaded classes to ``archive`` with
    jcmd; on any failure leave a ``.failed`` marker instead, so later
    sessions start the plain way without retrying."""
    jvm = spark._jvm
    system = jvm.java.lang.System
    jcmd = os.path.join(system.getProperty("java.home"), "bin", "jcmd")
    pid = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    tmp = f"{archive}.{os.getpid()}.tmp"
    out = system.out  # the dump prints its file name on the driver's stdout
    system.setOut(jvm.java.io.PrintStream(jvm.java.io.OutputStream.nullOutputStream()))
    try:
        subprocess.run(
            [jcmd, str(pid), "VM.cds", "dynamic_dump", tmp],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300,
        )
        os.replace(tmp, archive)  # jcmd exits 0 on a failed dump; no file tells
    except (OSError, subprocess.SubprocessError):
        with contextlib.suppress(OSError):
            open(archive + ".failed", "w").close()
    finally:
        system.setOut(out)
        with contextlib.suppress(OSError):
            os.remove(tmp)
    for old in glob.glob(os.path.join(os.path.dirname(archive), "driver-*.jsa")):
        if old != archive:
            with contextlib.suppress(OSError):
                os.remove(old)


def _cds_drop_unmapped(spark: SparkSession, archive: str) -> None:
    """Delete ``archive`` if the driver JVM, launched with it, did not
    map it: the JVM skips a corrupt or truncated archive without a
    word, and without this every later launch would pass it again.
    Where the JVM's memory map cannot be read, the file stays."""
    pid = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    try:
        with open(f"/proc/{pid}/maps") as f:
            mapped = os.path.realpath(archive) in f.read()
    except OSError:
        return
    if not mapped:
        with contextlib.suppress(OSError):
            os.remove(archive)


def get_spark(
    app_name: str = "etl-cnc-spark", *, master: str | None = None
) -> SparkSession:
    """Create (or reuse) a tuned local SparkSession on ``master``
    (default ``local[$SPARK_GRAFT_CPUS]``).  The builder carries only
    launch-time settings; the runtime confs come from ``tune()``, the
    one place that sets them.  A call that launches the driver JVM
    starts it from the class-data archive (module docstring)."""
    archive = _cds_archive()
    builder = (
        SparkSession.builder.master(master or f"local[{_cpus()}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if archive is None:
        return tune(builder.getOrCreate())
    dump = not os.path.exists(archive)
    opts = "-XX:+RecordDynamicDumpInfo" if dump else f"-XX:SharedArchiveFile={archive}"
    os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(archive), "conf")
    try:
        spark = builder.config(
            "spark.driver.defaultJavaOptions", f"{opts} {_CDS_LOG_OFF}"
        ).getOrCreate()
    finally:
        os.environ.pop("SPARK_CONF_DIR", None)
    if dump:
        _cds_dump(spark, archive)
    else:
        _cds_drop_unmapped(spark, archive)
    return tune(spark)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to a session: ``get_spark``'s own,
    or an externally-created one.

    The driver contract hands operators an arbitrary SparkSession
    (``__spark_entry__.py``); these confs are all runtime-settable and
    make oracle comparison deterministic (UTC timestamps) and local
    execution sane (shuffle partitions ~ cores).

    Idempotent per session and MEMOIZED on the session object (r16):
    every ``catalog.table`` call funnels through here, so an untuned
    path would pay ~8 py4j conf round trips per table reference —
    pure driver-side chatter that the bench measures as build time.
    The confs are only ever set to values derived from the session
    itself, so re-running them is a no-op by construction; skipping
    the re-run changes nothing but the py4j traffic.
    """
    if getattr(spark, "_etlcnc_tuned", False):
        return spark
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores ts as TIMESTAMP(NANOS).  Older Spark 4
    # refuses to read it natively and needs this conf (→ long nanos,
    # converted in catalog.table); pyspark >= 4.1.2 reads it natively
    # as TIMESTAMP_NTZ and ignores the conf.  Set it where accepted and
    # let catalog.events_ts_is_long branch on the observed schema.
    try:
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf removed in future Spark
        pass
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        par = spark.sparkContext.defaultParallelism
        conf.set("spark.sql.shuffle.partitions", str(max(8, par // 2)))
    except Exception:  # pragma: no cover - conf may be static in some envs
        pass
    spark._etlcnc_tuned = True
    return spark
