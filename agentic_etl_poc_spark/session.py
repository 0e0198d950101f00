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
  ``local_fs_conf`` compiles it once per source digest into a per-user
  cache and makes it ``fs.file.impl`` of a ``local[...]`` session.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import subprocess
import tempfile
import weakref

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


def _class_cache() -> str:
    """Per-user cache of compiled classes.  Not under ``TMPDIR``: a caller
    that gives each run its own temp dir would recompile on every run."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "agentic_etl_poc_spark", "jvm")


def build_classes(source: str = LOCAL_FS_SOURCE) -> str | None:
    """Compile ``source`` into ``<class cache>/<source digest>/`` unless that
    dir exists; return the dir, or None when there is no ``javac`` or it
    fails.  The classes land under a temp name first and are renamed into
    place, so a concurrent builder never sees half a directory."""
    with open(source, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    cache = _class_cache()
    out = os.path.join(cache, digest)
    if os.path.isdir(out):
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
    try:
        cmd = [javac, "--release", "17", "-nowarn", "-d", tmp,
               "-cp", cp or os.path.join(jars, "*"), source]
        if subprocess.run(cmd, capture_output=True).returncode == 0:
            os.rename(tmp, out)
    except OSError:
        pass  # javac vanished, or another process renamed its build first
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def local_fs_conf(master: str) -> dict[str, str]:
    """Confs that make ``LOCAL_FS_CLASS`` the session's ``file:`` filesystem,
    or ``{}`` to keep Hadoop's.  Only for a ``local[...]`` master (the
    classes go on the driver's class path, and executors share its JVM),
    and only when this call launches the JVM or the running JVM can
    already load the class: a static class path cannot reach a JVM that
    is already up, and naming a class it cannot load would fail every
    file access."""
    if not re.fullmatch(r"local(\[[^\]]*\])?", master):
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


def get_spark(
    app_name: str = "agentic-etl-poc-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real deployment the submitter sets the master and these
    defaults still apply.
    """
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    conf.update(local_fs_conf(master))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
