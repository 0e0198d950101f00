"""The local filesystem that sets permissions inside the JVM.

``session.local_fs_conf`` makes ``jvm/NioLocalFileSystem.java`` the
``file:`` filesystem of a ``local[...]`` session: Hadoop's own
``LocalFileSystem`` except that ``setPermission`` calls
``Files.setPosixFilePermissions`` instead of running ``chmod`` in a new
process for every file and directory a write creates.  These tests pin

- that the test session runs on it (a silent fallback to Hadoop's class
  turns this suite red, not just slower);
- no ``chmod`` process for a one-file parquet overwrite, where Hadoop's
  class spawns them;
- the same modes as Hadoop's class, under the default umask and under
  ``fs.permissions.umask-mode=077``, and a kept sticky bit;
- when the setup helper adds nothing, and that a changed source rebuilds
  its jar.
"""

from __future__ import annotations

import os
import re
import shutil
import stat
import zipfile

import pytest

from agentic_etl_poc_spark import session
from tests.conftest import chmods, count_spawns

STOCK = "org.apache.hadoop.fs.LocalFileSystem"
_UUID = re.compile(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _local_fs(spark):
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    return spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)


def _write(spark, path, impl: str, umask: str = "022"):
    """A two-file parquet overwrite through a fresh filesystem of class
    ``impl`` (writer options reach the job's Hadoop conf; the uncached
    instance reads the umask from it)."""
    spark.range(100).repartition(2).write.options(**{
        "fs.file.impl": impl,
        "fs.file.impl.disable.cache": "true",
        "fs.permissions.umask-mode": umask,
    }).mode("overwrite").parquet(str(path))


def _modes(root) -> list[tuple[str, str]]:
    """(path relative to ``root`` with part-file ids cut, octal mode) of
    ``root`` and everything under it."""
    out = []
    for dirpath, _, files in os.walk(root):
        for p in [dirpath, *(os.path.join(dirpath, f) for f in files)]:
            rel = _UUID.sub("", os.path.relpath(p, root))
            out.append((rel, oct(stat.S_IMODE(os.stat(p).st_mode))))
    return sorted(out)


def test_session_local_fs_is_the_shim(spark):
    raw = _local_fs(spark).getRawFileSystem()
    assert raw.getClass().getName() == f"{session.LOCAL_FS_CLASS}$Raw"


def test_parquet_overwrite_spawns_no_chmod(spark, tmp_path):
    out = tmp_path / "one"
    df = spark.range(10).coalesce(1)
    df.write.parquet(str(out))
    _, commands = count_spawns(
        spark, lambda: df.write.mode("overwrite").parquet(str(out))
    )
    assert chmods(commands) == []
    # the census sees the spawns Hadoop's own class makes for the same write
    _, commands = count_spawns(spark, lambda: _write(spark, tmp_path / "stock", STOCK))
    assert len(chmods(commands)) > 0


@pytest.mark.parametrize("umask", ["022", "077"])
def test_modes_match_hadoop_local_fs(spark, tmp_path, umask):
    _write(spark, tmp_path / "stock", STOCK, umask)
    _write(spark, tmp_path / "shim", session.LOCAL_FS_CLASS, umask)
    want = _modes(tmp_path / "stock")
    assert ("_SUCCESS", "0o600" if umask == "077" else "0o644") in want
    assert _modes(tmp_path / "shim") == want


def test_sticky_bit_kept(spark, tmp_path):
    jvm = spark._jvm
    fs = _local_fs(spark)
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "sticky"))
    assert fs.mkdirs(path)
    fs.setPermission(path, jvm.org.apache.hadoop.fs.permission.FsPermission("1777"))
    assert stat.S_IMODE(os.stat(tmp_path / "sticky").st_mode) == 0o1777


def test_no_javac_adds_nothing(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setenv("PATH", str(tmp_path))
    assert session.build_classes() is None
    assert session.local_fs_conf("local[2]") == {}


def test_running_jvm_without_the_class_adds_nothing(spark, monkeypatch):
    assert session.local_fs_conf("local[2]")["spark.hadoop.fs.file.impl"] == (
        session.LOCAL_FS_CLASS
    )
    monkeypatch.setattr(session, "LOCAL_FS_CLASS", "agentic_etl_poc_spark.jvm.Absent")
    assert session.local_fs_conf("local[2]") == {}


@pytest.mark.parametrize("master", ["yarn", "local-cluster[2,1,1024]", "spark://h:7077"])
def test_non_local_master_adds_nothing(master):
    assert session.local_fs_conf(master) == {}


def test_changed_source_rebuilds(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    src = tmp_path / "NioLocalFileSystem.java"
    shutil.copy(session.LOCAL_FS_SOURCE, src)
    first = session.build_classes(str(src))
    assert first.endswith(".jar")
    with zipfile.ZipFile(first) as z:
        assert "agentic_etl_poc_spark/jvm/NioLocalFileSystem.class" in z.namelist()
    built = os.stat(first).st_mtime_ns
    assert session.build_classes(str(src)) == first
    assert os.stat(first).st_mtime_ns == built

    with open(src, "a") as f:
        f.write("// changed\n")
    second = session.build_classes(str(src))
    assert second != first
    with zipfile.ZipFile(second) as z:
        assert "agentic_etl_poc_spark/jvm/NioLocalFileSystem$Raw.class" in z.namelist()
    # the two jars and nothing else: no class dir, no temp build left
    assert sorted(os.listdir(os.path.dirname(first))) == sorted(
        map(os.path.basename, (first, second))
    )
