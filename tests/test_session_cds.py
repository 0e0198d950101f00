"""The class-data-sharing (CDS) archive ``session.get_spark`` maps into the
driver JVM it launches.

Each subprocess below starts a ``local[2]`` session under a per-module
``XDG_CACHE_HOME``.  The first one finds no archive, records one with
``-XX:ArchiveClassesAtExit`` and publishes it at exit; later ones map it
with ``-XX:SharedArchiveFile``.  The JVM's default ``-Xshare:auto`` drops an
archive it cannot use without a word, so the only proof of the gain is the
archive in the JVM's ``/proc/<pid>/maps``: that is what these tests read.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from agentic_etl_poc_spark import session
from tests.conftest import REPO_ROOT

PROBE = """
import json, sys
from agentic_etl_poc_spark.session import get_spark
spark = get_spark(master="local[2]", extra_conf=json.loads(sys.argv[1]))
spark.range(1000).selectExpr("sum(id)").collect()
jvm = spark._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({line.split()[-1] for line in f if line.rstrip().endswith(".jsa")})
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({"maps": maps, "args": args,
                  "probe": spark.conf.get("spark.agentic.probe", None)}))
print("probe done")
"""


def _probe(cache, extra_conf=None, **env) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", PROBE, json.dumps(extra_conf or {})],
        cwd=REPO_ROOT,
        env=dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM="1g", **env),
        capture_output=True,
        text=True,
        timeout=300,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.splitlines()[-2])


def _archives(cache) -> list[str]:
    cds = os.path.join(cache, "agentic_etl_poc_spark", "cds")
    return sorted(n for n in os.listdir(cds) if n.endswith(".jsa"))


def _cds_args(args) -> list[str]:
    return [a for a in args if "ArchiveClassesAtExit" in a or "SharedArchiveFile" in a]


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """(cache dir, the cold-cache process) after one process recorded and
    published the archive."""
    cache = tmp_path_factory.mktemp("cds_cache")
    return cache, _probe(cache)


def test_cold_cache_records_one_archive(recorded):
    cache, proc = recorded
    out = _result(proc)
    assert [a.split("=")[0] for a in _cds_args(out["args"])] == ["-XX:ArchiveClassesAtExit"]
    # exactly one archive, published under its key; no temp dump left
    (archive,) = _archives(cache)
    assert not archive.startswith(".")
    # the JVM logs to stderr only, so the dump, which runs after the
    # program's last line, leaves stdout alone
    assert "-Xlog:all=warning:stderr" in out["args"]
    assert proc.stdout.splitlines()[-1] == "probe done"
    assert "[cds]" not in proc.stdout


@pytest.mark.parametrize(
    "extra_conf", [{}, {"spark.driver.extraJavaOptions": "-Xms1g"}], ids=["default", "xms1g"]
)
def test_next_process_maps_the_archive(recorded, extra_conf):
    cache, _ = recorded
    (archive,) = _archives(cache)
    path = os.path.join(cache, "agentic_etl_poc_spark", "cds", archive)
    out = _result(_probe(cache, extra_conf))
    assert path in out["maps"]
    assert _cds_args(out["args"]) == [f"-XX:SharedArchiveFile={path}"]
    if extra_conf:
        assert "-Xms1g" in out["args"]  # the caller's options are kept
    assert _archives(cache) == [archive]


def test_real_conf_dir_gets_no_archive(recorded, tmp_path):
    cache, _ = recorded
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.agentic.probe  from-defaults\n")
    out = _result(_probe(cache, SPARK_CONF_DIR=str(conf)))
    assert _cds_args(out["args"]) == []
    assert not [m for m in out["maps"] if m.startswith(str(cache))]
    assert out["probe"] == "from-defaults"


def test_touched_class_path_jar_changes_key(tmp_path, monkeypatch):
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    jar = tmp_path / "a.jar"
    jar.write_bytes(b"PK\x05\x06" + bytes(18))
    cp = session.driver_class_path(
        {"spark.driver.extraClassPath": str(jar)}, str(tmp_path / "conf"), "/spark"
    )
    assert cp == [str(jar), str(tmp_path / "conf")]
    before = session.cds_key(cp)
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert session.cds_key(cp) != before


def test_running_jvm_adds_nothing(spark):
    assert SparkContext._jvm is not None
    assert session.cds_launch("local[2]", {}) is None


@pytest.mark.parametrize("master", ["yarn", "local-cluster[2,1,1024]", "spark://h:7077"])
def test_non_local_master_adds_nothing(master, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(SparkContext, "_jvm", None)
    assert session.cds_launch(master, {}) is None
    # the same call for a local master would record
    launch = session.cds_launch("local[2]", {})
    try:
        assert "-XX:ArchiveClassesAtExit=" in launch.java_options
    finally:
        os.close(launch.dump[0])
