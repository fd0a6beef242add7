"""The driver JVM's class-data-sharing start (``session.get_spark``).

Each JVM case runs ``get_spark`` in a fresh Python process whose
``XDG_CACHE_HOME`` is a temp dir, so the archive it writes or maps is
its own.  ``test_cds_rules_out`` checks the rule itself in-process,
with no JVM: every input that disables CDS makes it return ``None``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from etl_cnc_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = _find_spark_home()
CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:+RecordDynamicDumpInfo", "-Xlog:cds")
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CDS_ENV = _CLASSPATH_ENV + ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")  # each disables CDS

# One driver session; prints the JVM's input arguments, the CDS bytes
# `jcmd VM.info` reports mapped, a count, and how many dumps ran.
# argv[1]: "plain", "truncate" (write a cut-off archive at the
# fingerprint path first), "restart" (stop(), then get_spark again) or
# "jcmd_fails" (the dump's jcmd call names a subcommand that does not exist).
CHILD = r"""
import json, os, re, subprocess, sys
from etl_cnc_spark import session

mode = sys.argv[1]
dumps = []
_dump = session._cds_dump
session._cds_dump = lambda spark, archive: (dumps.append(archive), _dump(spark, archive))
if mode == "jcmd_fails":
    run = subprocess.run
    subprocess.run = lambda cmd, **kw: run([c.replace("dynamic_dump", "no_such_dump") for c in cmd], **kw)
if mode == "truncate":
    base = os.path.join(os.environ["JAVA_HOME"], "lib", "server", "classes.jsa")
    with open(base, "rb") as f, open(session._cds_archive(), "wb") as out:
        out.write(f.read(4096))
spark = session.get_spark("cds-test")
if mode == "restart":
    spark.stop()
    spark = session.get_spark("cds-test")
jvm = spark._jvm
bean = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
jcmd = os.path.join(jvm.java.lang.System.getProperty("java.home"), "bin", "jcmd")
info = subprocess.run([jcmd, str(bean.getPid()), "VM.info"], capture_output=True, text=True).stdout
mapped = re.search(r"CDS archive\(s\) mapped at: .*?size (\d+)", info)
print(json.dumps({
    "args": list(bean.getInputArguments()),
    "mapped": int(mapped.group(1)) if mapped else 0,
    "count": spark.range(3).count(),
    "dumps": len(dumps),
}))
spark.stop()
"""


def _env(cache: str, **extra: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in _CDS_ENV}
    env.update(XDG_CACHE_HOME=cache, PYTHONPATH=ROOT, **extra)
    return env


def _driver(cache, mode: str = "plain", **extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, mode],
        cwd=ROOT, env=_env(str(cache), **extra), capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _written(cache) -> list[str]:
    d = os.path.join(cache, "etl_cnc_spark")
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def _archives(cache) -> list[str]:
    return [os.path.join(cache, "etl_cnc_spark", f) for f in _written(cache) if f.endswith(".jsa")]


def _base_archive_size() -> int:
    return os.path.getsize(os.path.join(os.environ["JAVA_HOME"], "lib", "server", "classes.jsa"))


@pytest.fixture
def install_allows_cds():
    conf = os.listdir(os.path.join(SPARK_HOME, "conf"))
    if any(not f.endswith(".template") for f in conf) or not os.environ.get("JAVA_HOME"):
        pytest.skip("this install rules CDS out (non-template conf file or no JAVA_HOME)")


def _fake_spark_home(tmp_path, conf_files: list[str]) -> str:
    """A SPARK_HOME that links every entry of the real one except
    ``conf/``, which holds ``conf_files`` (empty files)."""
    home = tmp_path / "spark-home"
    home.mkdir(parents=True)
    for name in os.listdir(SPARK_HOME):
        if name != "conf":
            os.symlink(os.path.join(SPARK_HOME, name), home / name)
    (home / "conf").mkdir()
    for f in conf_files:
        (home / "conf" / f).touch()
    return str(home)


def test_first_session_dumps_and_next_maps(tmp_path, install_allows_cds):
    first = _driver(tmp_path)
    assert first["count"] == 3 and first["dumps"] == 1
    assert "-XX:+RecordDynamicDumpInfo" in first["args"]
    archives = _archives(tmp_path)
    assert len(archives) == 1, _written(tmp_path)
    mtime = os.stat(archives[0]).st_mtime_ns

    for _ in range(2):  # a mapped archive is kept as it is
        run = _driver(tmp_path)
        assert run["count"] == 3 and run["dumps"] == 0
        assert any(a.startswith("-XX:SharedArchiveFile=") for a in run["args"])
        assert run["mapped"] > _base_archive_size(), run["mapped"]
        assert _archives(tmp_path) == archives
        assert os.stat(archives[0]).st_mtime_ns == mtime


def test_opted_out_install_starts_with_todays_options(tmp_path, install_allows_cds):
    by_env = _driver(tmp_path / "a", SPARK_CONF_DIR=os.path.join(SPARK_HOME, "conf"))
    home = _fake_spark_home(tmp_path, ["log4j2.properties.template", "spark-defaults.conf"])
    by_conf = _driver(tmp_path / "b", SPARK_HOME=home)
    for run in (by_env, by_conf):
        assert run["count"] == 3 and run["dumps"] == 0
        assert not [a for a in run["args"] if a.startswith(CDS_FLAGS)], run["args"]
    assert by_env["args"] == by_conf["args"]
    assert _written(tmp_path / "a") == _written(tmp_path / "b") == []


def test_truncated_archive_falls_back(tmp_path, install_allows_cds):
    run = _driver(tmp_path, "truncate")
    assert run["count"] == 3 and run["dumps"] == 0
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in run["args"])
    assert run["mapped"] <= _base_archive_size(), run["mapped"]
    assert _archives(tmp_path) == [], _written(tmp_path)  # the JVM skipped it: gone

    redump = _driver(tmp_path)
    assert redump["count"] == 3 and redump["dumps"] == 1
    assert len(_archives(tmp_path)) == 1, _written(tmp_path)
    fresh = _driver(tmp_path)
    assert fresh["count"] == 3 and fresh["dumps"] == 0
    assert fresh["mapped"] > _base_archive_size(), fresh["mapped"]


def test_restart_in_one_process_dumps_once(tmp_path, install_allows_cds):
    run = _driver(tmp_path, "restart")
    assert run["count"] == 3 and run["dumps"] == 1
    assert len([f for f in _written(tmp_path) if f.endswith(".jsa")]) == 1


@pytest.mark.parametrize(
    "rule",
    ["SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
     "PYSPARK_SUBMIT_ARGS", "conf_file", "failed_marker", "gateway"],
)
def test_cds_rules_out(tmp_path, monkeypatch, rule):
    for var in _CDS_ENV:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_HOME", _fake_spark_home(tmp_path, ["spark-defaults.conf.template"]))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    archive = session._cds_archive()
    assert archive is not None and not os.path.exists(archive)
    assert _written(tmp_path / "cache") == ["conf"]

    if rule in _CLASSPATH_ENV:
        monkeypatch.setenv(rule, str(tmp_path))
    elif rule == "PYSPARK_SUBMIT_ARGS":
        monkeypatch.setenv(rule, "--conf spark.driver.defaultJavaOptions=-Xss4m pyspark-shell")
    elif rule == "conf_file":
        monkeypatch.setenv("SPARK_HOME", _fake_spark_home(tmp_path / "h", ["spark-env.sh"]))
    elif rule == "failed_marker":
        open(archive + ".failed", "w").close()
    else:
        monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._cds_archive() is None


def test_failed_dump_leaves_marker(tmp_path, install_allows_cds):
    run = _driver(tmp_path, "jcmd_fails")
    assert run["count"] == 3 and run["dumps"] == 1
    written = _written(tmp_path)
    assert len(written) == 2 and written[0] == "conf" and written[1].endswith(".jsa.failed"), written
