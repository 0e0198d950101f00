"""SparkSession factory with scale-aware defaults.

The reference engine (mounikavas/agentic-etl-poc) delegates execution to
in-process DuckDB over pandas frames (reference: etl_agent/templates.py:79-121)
and therefore has no engine configuration at all.  Here the session *is* the
engine, so the defaults matter:

- ``spark.sql.ansi.enabled=false``: DuckDB's ``TRY_CAST``/``try_strptime``
  return NULL on bad input; Spark 4 defaults to ANSI (errors).  ANSI-off
  restores NULL-on-failure cast semantics for parity (SURVEY.md §2.3).
- ``spark.sql.session.timeZone=UTC``: the reference normalizes naive
  timestamps to UTC (reference: etl_agent/ops.py:96-97); fixing the session
  zone makes timestamp results reproducible across machines.
- AQE on (coalesce partitions + skew-join): at the 100 TB design ceiling,
  runtime re-planning replaces hand-tuned partition counts.
- Arrow on: every pandas/Python boundary (createDataFrame, toPandas,
  pandas UDFs) is vectorized.
- Stream checkpoints commit through ``FileSystemBasedCheckpointFileManager``,
  not Spark's ``FileContext`` default.  A pip-installed PySpark ships no
  ``libhadoop``, so Hadoop's local filesystem spawns a ``readlink`` process
  on each side of every ``FileContext`` rename (data file and ``.crc``).
  Every offset, commit, metadata, file-sink and state-store log file is a
  temp write plus a rename, so an AvailableNow drain spawned ~60 processes
  (~2.8 ms each); the two-argument ``FileSystem.rename`` spawns none.  See
  the ``ENGINE_CONF`` comment for why the swap keeps the commit protocol's
  guarantees.
- Local files get their permissions inside the JVM.  Without
  ``libhadoop``, Hadoop's ``RawLocalFileSystem.setPermission`` runs
  ``chmod`` in a new process for every file and directory it creates (part
  files, ``.crc`` twins, ``_SUCCESS``, ``_temporary`` dirs, every checkpoint
  and file-sink log): 49 per plan-lifecycle pass.  ``jvm/NioLocalFileSystem.java``
  overrides only that method with ``Files.setPosixFilePermissions``;
  ``local_fs_conf`` compiles it once per source digest into a jar in a
  per-user cache and makes it ``fs.file.impl`` of a ``local[...]`` session.
- The driver JVM maps a class-data-sharing (CDS) archive.  Each plan run,
  subprocess test and benchmark run is a new process whose JVM loads and
  verifies the same classes of Spark's jars again.  A JDK 17 dynamic
  archive (JEP 350) holds those classes parsed and verified, and the JVM
  maps it instead (``cds_launch``; same conditions as the shim: a
  ``local[...]`` master and no JVM up yet).  The
  archive is keyed on the JDK and on the name, size and mtime of every
  class path entry, and kept as ``<cache>/cds/<key>.jsa``; the first
  process without one records it (``-XX:ArchiveClassesAtExit``, +~40% set-up
  and ~20 s more at its exit).  JDK 17 neither dumps nor maps with a
  non-empty directory on the class path, and the launcher puts
  ``SPARK_CONF_DIR`` there: a conf dir that holds nothing but
  ``*.template`` files (which no launch reads) is swapped for an empty one
  while the JVM launches; a conf dir with real files means no archive.
  Such a JVM logs warnings to stderr only (``JVM_LOG_OPTIONS``): by default
  they go to stdout, and a dump's ``[warning][cds]`` lines land there after
  the program's last line, where a CLI's JSON result belongs.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import weakref
import zipfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

#: Engine defaults.  Values chosen for local[N] testing scale; on a real
#: cluster the same keys are what you'd tune (shuffle.partitions ~ 2-3x
#: total cores, maxPartitionBytes 128-256m for 100 TB parquet scans).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.shuffle.partitions": str(DEFAULT_SHUFFLE_PARTITIONS),
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Checkpoint logs commit as temp write + rename.  The default manager
    # renames through FileContext, which without libhadoop spawns a
    # ``readlink`` per side of each rename (file and .crc): 40 of a drain's
    # 60 process spawns (the other 19 were the ``chmod`` per created file
    # that ``local_fs_conf`` removes).  This manager (Spark's own fallback when
    # FileContext is unavailable) renames with FileSystem.rename(src, dst),
    # which spawns nothing.  Same guarantees: on the local FS both managers
    # check the destination, then rename (FileContext's Options.Rename.NONE
    # is the same check in Java); on HDFS the two-argument rename refuses
    # an existing destination, so a no-overwrite commit stays atomic; on
    # object stores both are already non-atomic.  The offset/commit logs,
    # metadata, file-sink logs and state-store deltas all resolve their
    # manager from the session conf, so it must be a session default, not
    # a per-query option.  A session this module did not build (e.g.
    # tools/driver_replica.py's vanilla one) keeps Spark's default.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


#: Semantic confs the engine depends on for correctness (not tuning).  All
#: are runtime-settable, so they can be (re)applied to ANY session — in
#: particular one created by an external harness with Spark 4's ANSI-on
#: default, which would otherwise turn DuckDB-style NULL-on-bad-cast into a
#: hard CAST_INVALID_INPUT error mid-query.
SEMANTIC_CONF: dict[str, str] = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
    # Python DataSource filter pushdown (Spark 4.1 default-off): a reader
    # that implements pushFilters() FAILS analysis without it.  Session
    # semantics, not a per-query side effect: the pushdown rule runs
    # lazily at first action, so a set-then-restore around plan creation
    # would break the query it was set for.
    "spark.sql.python.filterPushdown.enabled": "true",
}


#: Sessions whose semantic confs were already asserted (round-12: the
#: five conf.set RPCs cost ~7 ms and table() calls them hundreds of
#: times per battery run — once per session is enough; these confs are
#: owned by this engine, nothing in the battery flips them back).
_SEMANTICS_SET: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_semantics(spark: SparkSession) -> SparkSession:
    """Apply the correctness-critical confs to an existing session."""
    if spark in _SEMANTICS_SET:
        return spark
    for k, v in SEMANTIC_CONF.items():
        spark.conf.set(k, v)
    _SEMANTICS_SET.add(spark)
    return spark


#: Per-session tuning state: ``dirs`` = data dirs already sized (the
#: stat() walk shouldn't run once per table() call), ``ours`` = the last
#: shuffle-partition value THIS module set (so re-tuning for a new data
#: dir recognizes its own previous setting as overridable).  Weak-keyed
#: by the session object — id(spark) can be reused after GC and would
#: mis-mark a fresh session as already tuned.
_TUNED: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def tune_for_data(
    spark: SparkSession, data_dir: str, force: bool = False
) -> SparkSession:
    """Size shuffle parallelism to the DATA under ``data_dir``, not the
    session default.

    Why this exists: an external harness's vanilla session carries Spark's
    200-partition default, and while AQE re-coalesces ordinary shuffles, it
    does NOT re-plan persisted/cached exchanges
    (``canChangeCachedPlanOutputPartitioning=false``) — so iterative
    operators that persist per round (d07) would schedule 200 near-empty
    tasks per iteration.  Sizing rule: ~64 MB of input per partition,
    floored at the session's total parallelism, capped at 4x cores.  The
    floor matters: parallelism below core count idles cores — round 2's
    floor of 8 on a 32-thread session cost a uniform ~1.35x across the
    whole battery.  At 100 TB the size term dominates and hits the core
    cap, where the cap keeps shuffle waves small.  Runtime-settable, so it
    applies to ANY caller's session.

    A caller who EXPLICITLY configured shuffle parallelism is respected:
    unless ``force``, the override only applies when the current value is
    Spark's 200 default, this engine's own startup default, or a value a
    previous ``tune_for_data`` call set.
    """
    st = _TUNED.get(spark)
    if st is None:
        st = {"dirs": set(), "ours": None}
        _TUNED[spark] = st
    if data_dir in st["dirs"]:
        return spark
    st["dirs"].add(data_dir)
    current = spark.conf.get("spark.sql.shuffle.partitions", "200")
    untouched = current in ("200", str(DEFAULT_SHUFFLE_PARTITIONS), st["ours"])
    if not (force or untouched):
        return spark  # caller pinned an explicit parallelism; keep it
    try:
        total = sum(
            os.path.getsize(os.path.join(data_dir, f))
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        total = 0
    cores = spark.sparkContext.defaultParallelism
    parts = max(cores, min(4 * cores, total // (64 * 1024 * 1024) or cores))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    st["ours"] = str(parts)
    return spark


#: Hadoop's local filesystem with ``setPermission`` done by java.nio
#: instead of a ``chmod`` process (see the module docstring).
LOCAL_FS_CLASS = "agentic_etl_poc_spark.jvm.NioLocalFileSystem"
LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NioLocalFileSystem.java"
)


_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _cache(*parts: str) -> str:
    """A path in the per-user cache of built JVM artifacts (the shim jar,
    CDS archives).  Not under ``TMPDIR``: a caller that gives each run its
    own temp dir would rebuild them on every run."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "agentic_etl_poc_spark", *parts)


def build_classes(source: str = LOCAL_FS_SOURCE) -> str | None:
    """Compile ``source`` into ``<cache>/jvm/<source digest>.jar`` unless that
    jar exists; return the jar, or None when there is no ``javac`` or it
    fails.  The jar is written under a temp name and then linked into
    place, so a concurrent builder never sees half a jar and never replaces
    one.  A jar, not a class directory: JDK 17 neither dumps nor maps a CDS
    archive while a non-empty directory is on the class path."""
    with open(source, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    cache = _cache("jvm")
    out = os.path.join(cache, f"{digest}.jar")
    if os.path.isfile(out):
        return out
    javac = shutil.which("javac")
    if javac is None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    cp = os.pathsep.join(glob.glob(os.path.join(jars, "hadoop-client-api-*.jar")))
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{digest}-", dir=cache)
    except OSError:
        return None
    classes = os.path.join(tmp, "classes")
    try:
        cmd = [javac, "--release", "17", "-nowarn", "-d", classes,
               "-cp", cp or os.path.join(jars, "*"), source]
        if subprocess.run(cmd, capture_output=True).returncode == 0:
            jar = os.path.join(tmp, "shim.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for dirpath, _, files in os.walk(classes):
                    for name in sorted(files):
                        path = os.path.join(dirpath, name)
                        z.write(path, os.path.relpath(path, classes))
            os.link(jar, out)
    except OSError:
        pass  # javac vanished, or another process linked its jar first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isfile(out) else None


def local_fs_conf(master: str) -> dict[str, str]:
    """Confs that make ``LOCAL_FS_CLASS`` the session's ``file:`` filesystem,
    or ``{}`` to keep Hadoop's.  Only for a ``local[...]`` master (the
    shim jar goes on the driver's class path, and executors share its JVM),
    and only when this call launches the JVM or the running JVM can
    already load the class: a static class path cannot reach a JVM that
    is already up, and naming a class it cannot load would fail every
    file access."""
    if not _LOCAL_MASTER.fullmatch(master):
        return {}
    jvm = SparkContext._jvm
    if jvm is not None and not jvm.org.apache.spark.util.Utils.classIsLoadable(
        LOCAL_FS_CLASS
    ):
        return {}
    classes = build_classes()
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
    }


#: Unified JVM logging of a driver launched with an archive: warnings only,
#: on stderr.  The JVM's default writes warnings to stdout, and a dump
#: prints its ``[warning][cds]`` lines there after the program's last line
#: (a CLI's JSON result would no longer be the last line).
JVM_LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning:stderr"
#: Added for the recording launch: errors only from the ``cds`` tag.  A dump
#: warns about every class it skips (~900 lines, ~100 KB after a
#: plan-lifecycle run); on a stderr pipe that its reader drains only after
#: stdout, the JVM blocks at exit until the bound below kills it, and no
#: archive is published.
CDS_DUMP_LOG_OPTIONS = "-Xlog:cds=error:stderr"
#: Seconds the recording process waits at exit for its JVM to dump the
#: archive (about 12 s after a plan-lifecycle run on 4 cores).
CDS_DUMP_TIMEOUT_S = 90


class CdsLaunch(NamedTuple):
    """How ``get_spark`` launches a driver JVM with a CDS archive."""

    #: appended to ``spark.driver.extraJavaOptions``
    java_options: str
    #: ``SPARK_CONF_DIR`` while the JVM launches
    conf_dir: str
    #: (lock fd, temp dump, archive) when this process records the archive
    dump: tuple[int, str, str] | None


def pid_alive(pid: int) -> bool:
    """Whether a process ``pid`` exists (owner of a temp dump or run dir)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive, owned by another user
    return True


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs, symlinks resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.exists(java) else None


def _launch_conf_dir(spark_home: str) -> str | None:
    """The ``SPARK_CONF_DIR`` of a launch with an archive: an empty dir in
    the cache when the real one holds nothing but ``*.template`` files
    (which no launch reads), else None: start without an archive."""
    real = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(real)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None
    empty = _cache("cds", "conf")
    os.makedirs(empty, exist_ok=True)
    return empty


def driver_class_path(conf: dict[str, str], conf_dir: str, spark_home: str) -> list[str]:
    """The class path entries Spark's launcher gives a client-mode driver
    (``AbstractCommandBuilder.buildClassPath``), wildcards expanded."""
    env = os.environ.get
    entries = os.pathsep.join([
        conf.get("spark.driver.extraClassPath", ""),
        conf_dir,
        os.path.join(spark_home, "jars", "*"),
        env("HADOOP_CONF_DIR", ""),
        env("YARN_CONF_DIR", ""),
        env("SPARK_DIST_CLASSPATH", ""),
    ])
    out: list[str] = []
    for entry in entries.split(os.pathsep):
        if entry.endswith("*"):
            out += sorted(glob.glob(entry[:-1] + "*.[jJ][aA][rR]"))
        elif entry:
            out.append(entry)
    return out


def cds_key(class_path: list[str]) -> str | None:
    """Digest of the JDK's identity and of the name, size and mtime of every
    class path entry, or None without a ``java``.  JDK 17 maps a dynamic
    archive only into the JDK and class path it was dumped from; a change
    to either gets a new key, so a stale archive is never offered."""
    java = _java()
    if java is None:
        return None
    home = os.path.dirname(os.path.dirname(java))
    jdk = [java, os.path.join(home, "lib", "server", "libjvm.so"),
           os.path.join(home, "lib", "modules")]
    h = hashlib.sha256()
    for path in jdk + class_path:
        try:
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{path}\0\n".encode())
    return h.hexdigest()[:16]


def _try_lock(path: str) -> int | None:
    """An fd holding a non-blocking exclusive ``flock`` on ``path``, or None
    when another process holds it."""
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def cds_launch(master: str, conf: dict[str, str]) -> CdsLaunch | None:
    """How to launch the driver JVM with the per-user CDS archive of its
    class path, or None to start it as Spark does.  The conditions of
    ``local_fs_conf`` (a ``local[...]`` master, no JVM up yet), plus the
    conf-dir rule of ``_launch_conf_dir`` and no other non-empty directory
    on the class path.  An existing archive is mapped; otherwise the
    process that wins a non-blocking ``flock`` on ``<key>.lock`` records
    one (``_publish_archive``), and any other starts without."""
    if not _LOCAL_MASTER.fullmatch(master) or SparkContext._jvm is not None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    try:
        conf_dir = _launch_conf_dir(spark_home)
        if conf_dir is None:
            return None
        class_path = driver_class_path(conf, conf_dir, spark_home)
        if any(os.path.isdir(p) and os.listdir(p) for p in class_path):
            return None
        key = cds_key(class_path)
        if key is None:
            return None
        cds = _cache("cds")
        archive = os.path.join(cds, f"{key}.jsa")
        lock = None if os.path.isfile(archive) else _try_lock(
            os.path.join(cds, f"{key}.lock")
        )
    except OSError:
        return None
    if lock is not None and os.path.isfile(archive):  # published meanwhile
        os.close(lock)
        lock = None
    if lock is not None:
        tmp = os.path.join(cds, f".{key}.{os.getpid()}.jsa")
        return CdsLaunch(
            f"{JVM_LOG_OPTIONS} {CDS_DUMP_LOG_OPTIONS} -XX:ArchiveClassesAtExit={tmp}",
            conf_dir, (lock, tmp, archive),
        )
    if os.path.isfile(archive):
        return CdsLaunch(f"{JVM_LOG_OPTIONS} -XX:SharedArchiveFile={archive}",
                         conf_dir, None)
    return CdsLaunch(JVM_LOG_OPTIONS, conf_dir, None)


def _publish_archive(lock: int, tmp: str, archive: str) -> None:
    """``atexit`` hook of the process whose JVM runs with
    ``-XX:ArchiveClassesAtExit``: stop the session, close the gateway JVM's
    stdin (the JVM exits on EOF and dumps as it exits), wait for it with a
    bound, and rename the dump into place only if the JVM exited 0.  Then,
    still under the lock, remove what the new archive supersedes."""
    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return
        proc.stdin.close()
        try:
            code = proc.wait(CDS_DUMP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return
        if code == 0 and os.path.isfile(tmp):
            os.rename(tmp, archive)
            _prune_cache(os.path.basename(archive))
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        os.close(lock)


def _prune_cache(keep: str) -> None:
    """Remove what the newly published archive ``keep`` supersedes: the
    archives of other keys (a JVM that maps one keeps a valid mapping after
    ``unlink``), temp dumps whose writer is dead, and the shim class
    directories the jar replaced."""
    cds = _cache("cds")
    for name in os.listdir(cds):
        dump = re.fullmatch(r"\.\w+\.(\d+)\.jsa", name)
        if (dump and not pid_alive(int(dump[1]))) or (
            not dump and name.endswith(".jsa") and name != keep
        ):
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cds, name))
    jvm = _cache("jvm")
    for name in os.listdir(jvm) if os.path.isdir(jvm) else ():
        path = os.path.join(jvm, name)
        if not name.startswith(".") and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def get_spark(
    app_name: str = "agentic-etl-poc-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real deployment the submitter sets the master and these
    defaults still apply.  A driver JVM this call launches for a
    ``local[...]`` master maps the per-user CDS archive (``cds_launch``).
    """
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    conf.update(local_fs_conf(master))
    if extra_conf:
        conf.update(extra_conf)
    cds = cds_launch(master, conf)
    if cds is not None:
        opts = "spark.driver.extraJavaOptions"
        conf[opts] = " ".join(filter(None, (conf.get(opts), cds.java_options)))
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is None:
        return builder.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if cds.dump is not None:
            os.close(cds.dump[0])
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if cds.dump is not None:
        atexit.register(_publish_archive, *cds.dump)
    return spark
