"""Parquet sink — the engine-native load path (extension beyond the
reference's csv/postgres pair).

The reference's sinks are a single CSV file and a Postgres table
(reference: etl_agent/templates.py:135-140); at the 100 TB design ceiling
the landing format is partitioned parquet: distributed write (one file per
task, no single-file funnel), ``partition_by`` for partition-pruned
downstream scans, append/replace/upsert semantics.  ``upsert_parquet`` is
the portable Delta/Iceberg ``MERGE INTO`` (copy-on-write), with a
journaled table-level commit, schema evolution, and an opt-in row-level
change feed (the plain-parquet equivalent of Delta's change-data-feed).

Every load is written into a stage and published through one journaled
commit (``_commit``): ``staging`` makes a hidden stage beside the target,
the load writes it (and the plan runtime verifies it), and ``publish``
commits it with the renames ``renames`` derives from the load mode — an
overwrite swaps the table directory or CSV file, an append moves its new
part files with their ``.crc`` twins, an upsert swaps the partitions its
merge rewrote and moves its change batch.  Every rename stays on one
filesystem (checked before the journal), and a journal in the stage
naming every rename is written before the first one, so
``recover_table`` rolls a crashed commit forward, and sweeps a stage
that never reached its journal and that no live run holds.
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import functools
import json
import operator
import os
import shutil
import tempfile
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Journal file name (dot-prefixed: invisible to Spark listings, to
#: partition_signatures, and to this table's readers).
_JOURNAL = ".commit_journal.json"

#: Row-level change feed directory (underscore-prefixed: Spark's file
#: index treats it as metadata and never lists it as table data).
CHANGES_DIR = "_changes"


def _rename(src: str, dst: str) -> None:
    """All commit renames route through here so the crash-injection test
    can kill the process at any point of the swap sequence."""
    os.rename(src, dst)


def _leaf_partition_dirs(root: str) -> list[str]:
    """Relative paths of every leaf ``col=value`` partition directory
    under ``root`` (one component per partition column; nested for
    multi-column layouts).  Dot/underscore-prefixed entries are metadata,
    never partitions."""
    out: list[str] = []

    def walk(rel: str) -> None:
        p = os.path.join(root, rel) if rel else root
        subs = [
            d
            for d in os.listdir(p)
            if "=" in d
            and not d.startswith(("_", "."))
            and os.path.isdir(os.path.join(p, d))
        ]
        if not subs and rel:
            out.append(rel)
        for d in subs:
            walk(os.path.join(rel, d) if rel else d)

    if os.path.isdir(root):
        walk("")
    return sorted(out)


def _retired(dst: str) -> str:
    """Dot-prefixed retire name beside ``dst``, for the old copy a swap
    replaces: a crash between the two renames must leave residue every
    reader (Spark listing, partition_signatures, the next merge read)
    ignores — a bare ``yr=V__precommit`` would be discovered as a
    partition and poison the table with stale duplicate rows."""
    head, leaf = os.path.split(dst)
    return os.path.join(head, ".precommit_" + leaf)


def _remove(p: str) -> None:
    if os.path.isdir(p):
        shutil.rmtree(p)
    else:
        os.remove(p)


def _device(path: str) -> int:
    """The filesystem holding ``path``, or the one a new ``path`` would
    land on (its nearest existing ancestor's)."""
    path = os.path.abspath(path)
    while not os.path.exists(path):
        path = os.path.dirname(path)
    return os.stat(path).st_dev


def same_device(a: str, b: str) -> bool:
    """Whether one rename can move an entry beside ``a`` to beside ``b``."""
    return _device(os.path.dirname(os.path.abspath(a))) == _device(
        os.path.dirname(os.path.abspath(b))
    )


def _commit(
    jpath: str,
    stage: str,
    swaps: list[tuple[str, str]],
    moves: list[tuple[str, str]],
) -> None:
    """The one journaled commit of a completed stage write (absolute
    paths throughout).  Each ``(src, dst)`` swap replaces ``dst`` — a
    partition directory, a whole table directory or a file — by ``src``;
    each ``(src, dst)`` move renames ``src`` to ``dst`` unless ``dst``
    exists.

    Before the journal, nothing is published: the destinations' parent
    directories are created, so a target that cannot hold them (a plain
    file where a table directory belongs) fails here, and a rename that
    would cross filesystems fails here with ``EXDEV``.  Then the journal
    naming the stage and every rename is written (tmp + atomic rename):
    from there the commit is decided.  It is repeatable from the stage
    alone, an error propagates as it is, and ``recover_table`` rolls the
    commit forward."""
    for src, dst in [*swaps, *moves]:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        if _device(src) != _device(os.path.dirname(dst)):
            raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), dst)
    with open(jpath + ".tmp", "w") as f:
        json.dump({"stage": stage, "swaps": swaps, "moves": moves}, f)
    os.rename(jpath + ".tmp", jpath)
    _roll_forward(jpath)


def _journal(jpath: str) -> dict:
    """The journal at ``jpath``.  An upsert journal written by older
    versions, which kept it in the table, names its renames relative to
    the stage and to that table (``swaps``: partition paths, ``extras``:
    ``[src, dst]`` pairs); it reads as the same renames."""
    with open(jpath) as f:
        j = json.load(f)
    if "extras" in j or any(isinstance(s, str) for s in j["swaps"]):
        stage, table = j["stage"], os.path.dirname(jpath)
        j["swaps"] = [
            (os.path.join(stage, rel), os.path.join(table, rel)) for rel in j["swaps"]
        ]
        j["moves"] = [
            (os.path.join(stage, src), os.path.join(table, dst))
            for src, dst in j.pop("extras", [])
        ]
    return j


def _roll_forward(jpath: str) -> list[str]:
    """Complete the commit ``jpath`` journals, idempotently: swap in what
    the stage still holds, restore a retired copy whose swap-in is gone
    (cannot happen under the write ordering, but never delete the only
    copy), do the moves not yet done, then remove the retired copies, the
    journal and the stage.  Returns the renames it did."""
    j = _journal(jpath)
    actions: list[str] = []
    for src, dst in j["swaps"]:
        old = _retired(dst)
        if os.path.exists(src):
            if os.path.exists(dst):
                if os.path.exists(old):
                    _remove(old)
                _rename(dst, old)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _rename(src, dst)
            actions.append(f"swap {dst}")
        elif not os.path.exists(dst) and os.path.exists(old):
            _rename(old, dst)
            actions.append(f"restore {dst}")
    for src, dst in j["moves"]:
        if os.path.exists(src) and not os.path.exists(dst):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _rename(src, dst)
            actions.append(f"move {dst}")
    for old in [_retired(dst) for _, dst in j["swaps"]]:
        if os.path.exists(old):
            _remove(old)
    os.remove(jpath)
    shutil.rmtree(j["stage"], ignore_errors=True)
    return actions


#: Infix of the hidden stage directories a batch load writes beside its
#: target (``.<target name>.stage-<random>``).
_STAGE = ".stage-"

#: The lock file inside a stage: its run holds an exclusive ``flock`` on
#: it for as long as the run lives.
_LOCK = ".lock"


def _stages(path: str) -> list[str]:
    parent, name = os.path.split(path)
    prefix = f".{name}{_STAGE}"
    return sorted(
        os.path.join(parent, d)
        for d in (os.listdir(parent) if os.path.isdir(parent) else [])
        if d.startswith(prefix)
    )


def _claim(stage: str) -> int | None:
    """The open lock of a stage that no live run holds, or None: a run
    holds it (a ``flock`` conflicts across open files, in this process
    too), or the stage has no lock file yet (it is being made)."""
    try:
        fd = os.open(os.path.join(stage, _LOCK), os.O_RDWR)
    except FileNotFoundError:
        return None
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def recover_table(path: str) -> str:
    """Bring a table (or a CSV artifact) to a committed state after a
    crash — called by every writer (and by ``read_table``) before
    touching it.

    * A journal present (in a stage beside ``path``, or, from older
      versions, an upsert's in ``path``): the stage write had fully
      completed before the journal was created (write ordering), so the
      commit is ROLLED FORWARD — remaining swaps and moves are completed
      idempotently, then residue, the journal and the stage are cleared.
      A reader that opens the table after a crash at ANY rename sees the
      entire new commit, never a mix.
    * No journal: any ``.precommit_`` residue is from a commit that
      already completed its swaps (residue deletion is post-journal) or
      from external meddling — residue whose live copy is MISSING is
      restored (it may be the only copy of those rows); residue whose
      live copy exists is stale and is deleted.  Stages without a
      journal (a crash or a failed gate before the commit) are swept:
      the old table state is intact, the aborted batch simply never
      happened.

    A stage that a live run holds (``staging``) is neither rolled
    forward nor swept, and while one exists the residue is left alone
    too (``"in use"``): that run is writing, verifying or publishing.
    """
    path = os.path.abspath(path)
    stages = _stages(path)
    held = {s: fd for s in stages if (fd := _claim(s)) is not None}
    try:
        return _recover(path, list(held), in_use=len(held) < len(stages))
    finally:
        for fd in held.values():
            os.close(fd)


def _recover(path: str, stages: list[str], in_use: bool) -> str:
    """``recover_table`` over the stages this call holds; ``in_use``:
    a live run holds another."""
    journals = [
        j
        for j in [os.path.join(s, _JOURNAL) for s in stages]
        + [os.path.join(path, _JOURNAL)]
        if os.path.exists(j)
    ]
    if journals:
        actions = [a for j in journals for a in _roll_forward(j)]
        return "rolled forward: " + "; ".join(actions) if actions else "journal cleared"

    # no journal: sweep dead stages, restore-or-sweep orphan residue
    for s in stages:
        shutil.rmtree(s, ignore_errors=True)
    if in_use:
        return "in use"
    actions: list[str] = []
    residue = [(_retired(path), path)]
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.startswith(".precommit_"):
                residue.append(
                    (os.path.join(root, d), os.path.join(root, d[len(".precommit_"):]))
                )
                dirs.remove(d)
            elif d.startswith(".upsert_stage_"):  # older versions' upsert stage
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                dirs.remove(d)
    for old, live in residue:
        if not os.path.exists(old):
            continue
        if not os.path.exists(live):
            _rename(old, live)
            actions.append(f"restore {os.path.relpath(live, path)}")
        else:
            _remove(old)
    if actions:
        return "recovered: " + "; ".join(actions)
    return "clean" if os.path.exists(path) else "no table"


@contextlib.contextmanager
def staging(target: str):
    """A fresh hidden stage directory beside ``target`` (same parent, so
    the same filesystem: publishing is a rename), made after recovering
    ``target`` from any interrupted commit and held for the ``with``
    block: a ``recover_table`` of the same target meanwhile (a reader's,
    another load's) leaves it alone.  Spark's file listing skips the
    dot-prefixed name, so a reader of the parent never sees it.

    On exit the stage is deleted, unless its commit is journaled (a
    ``publish`` that failed half way): then it is released for
    ``recover_table`` to roll forward."""
    target = os.path.abspath(target)
    recover_table(target)
    parent, name = os.path.split(target)
    os.makedirs(parent, exist_ok=True)
    stage = tempfile.mkdtemp(prefix=f".{name}{_STAGE}", dir=parent)
    lock = os.open(os.path.join(stage, _LOCK), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield stage
    finally:
        if not journaled(stage):
            shutil.rmtree(stage, ignore_errors=True)
        os.close(lock)


def publish(
    stage: str,
    swaps: list[tuple[str, str]] = (),
    appends: list[tuple[str, str]] = (),
) -> None:
    """Publish what ``stage`` holds through the journaled commit
    (``_commit``): each ``(src, dst)`` in ``swaps`` replaces ``dst`` by
    ``src`` (an overwrite: a directory or file swap); each ``(src_dir,
    dst_dir)`` in ``appends`` moves every file under ``src_dir`` to the
    same relative path under ``dst_dir``, ``.crc`` twins included (an
    append: part names are unique per write, and a ``_SUCCESS`` the
    target already has stays).  An error with ``journaled(stage)`` false
    published nothing; once it is true the commit is decided."""
    moves = [
        (
            os.path.join(root, f),
            os.path.abspath(os.path.join(dst, os.path.relpath(root, src), f)),
        )
        for src, dst in appends
        for root, _dirs, files in os.walk(src)
        for f in files
    ]
    swaps = [(s, os.path.abspath(d)) for s, d in swaps]
    _commit(os.path.join(stage, _JOURNAL), stage, swaps, moves)


def journaled(stage: str) -> bool:
    """Whether a commit of ``stage`` is journaled and not yet complete."""
    return os.path.exists(os.path.join(stage, _JOURNAL))


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Reader entry point for a COW table: recover any interrupted
    commit, then read with ``mergeSchema`` so partitions written before
    a schema evolution surface the union schema (missing columns null)."""
    recover_table(path)
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_changes(
    spark: SparkSession, path: str, since_batch: int = -1
) -> DataFrame:
    """Row-level change feed reader: every change row committed with a
    batch number > ``since_batch``.  Columns = table schema +
    ``_change_type`` ('insert' | 'update_pre' | 'update_post') +
    ``_batch`` (the commit sequence number) — the plain-parquet
    equivalent of Delta's ``table_changes`` (``_change_type`` /
    ``_commit_version``)."""
    from pyspark.sql import functions as F

    recover_table(path)
    feed = os.path.join(path, CHANGES_DIR)
    # enumerate batch dirs driver-side (bounded by commit count) and
    # prune to > since_batch BEFORE the scan — Spark's path filter would
    # ignore the underscore-prefixed feed root if passed directly, and
    # the b<number> dir name doubles as batch-level scan pruning
    batches = sorted(
        d
        for d in (os.listdir(feed) if os.path.isdir(feed) else [])
        if d.startswith("b") and d[1:].isdigit() and int(d[1:]) > since_batch
    )
    if not batches:
        raise ValueError(f"no change batches newer than {since_batch} in {feed}")
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(feed, d) for d in batches]
    )
    return df.filter(F.col("_batch") > since_batch)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    row_count: int | Callable[[], int] | None = None,
    target: str | None = None,
) -> str:
    """Write ``df`` as a new parquet table at ``path`` (the plan
    runtime's stage of a file load), partitioned by ``partition_by``.
    ``row_count``, when the caller already holds it, skips the count job
    the message would otherwise cost; a callable is called after the
    write (a count the caller observes on it).  The message names
    ``target``, the path a staged write publishes to, or else ``path``."""
    n = df.count() if row_count is None else row_count
    w = df.write.mode("overwrite")
    if partition_by:
        # cluster rows by the partition columns first — otherwise every
        # upstream task writes a sliver into every partition directory
        # (tasks x partitions tiny files); see stage_upsert for the
        # at-scale width variant
        w = df.repartition(*partition_by).write.mode("overwrite").partitionBy(*partition_by)
    w.parquet(path)
    return wrote(n() if callable(n) else n, target or path)


def wrote(n: int, path: str) -> str:
    """The message of a parquet load of ``n`` rows to ``path``."""
    return f"wrote {n:,} rows to {path} (parquet)"


def _batch_dir(batch_no: int) -> str:
    return f"b{batch_no:08d}"


def _next_batch_no(path: str) -> int:
    feed = os.path.join(path, CHANGES_DIR)
    if not os.path.isdir(feed):
        return 0
    nos = [
        int(d[1:])
        for d in os.listdir(feed)
        if d.startswith("b") and d[1:].isdigit()
    ]
    return max(nos, default=-1) + 1


def upsert_parquet(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    partition_by: list[str],
    change_feed: bool = False,
    row_count: int | None = None,
) -> str:
    """Copy-on-write MERGE into a hive-partitioned parquet table — the
    lakehouse upsert (what Delta/Iceberg/Hudi call COW ``MERGE INTO``),
    built on plain parquet so it runs on any Spark deployment with zero
    extra jars (Delta/Iceberg are absent here; this is the portable
    equivalent the jdbc_sink docstring points at for the 100 TB target).

    The same write–audit–publish every batch load of the plan runtime
    makes, without the audit: a stage beside the table (``staging``),
    the stage write (``stage_upsert``: steps 1-4 below), then the commit
    (``publish`` of ``renames("upsert", ...)``: step 5).  Protocol
    (mirrors the stage+merge split of the JDBC upsert, reference
    etl_agent/tools.py:83-96, re-expressed for a file table):

    1. **Prune**: the touched partitions are the DISTINCT partition
       values in the batch — a driver-side list (partition counts are
       small by definition; the rows never leave the cluster).
    2. **Merge read**: the target is read WITH a partition filter on the
       touched values, so the scan prunes to exactly the partitions
       being replaced — at 100 TB this is the difference between reading
       3 partitions and reading the table.  The read merges schemas, and
       the survivors∪batch union is by-name with missing columns null —
       a batch that ADDS a column evolves the table (old partitions
       read back with nulls) instead of throwing.
    3. **Survivors**: target rows in touched partitions whose key does
       NOT appear in the batch (left_anti on ``key_cols``) survive; the
       batch supplies every other row (update = replaced, insert = new).
    4. **Stage write**: survivors ∪ batch is written partitioned into
       the stage beside the table — fully distributed, one file per
       task, never through the driver.  With ``change_feed=True`` the
       insert/update_pre/update_post row sets (frames the merge already
       computes) are staged in its ``_changes/b<batch>``.  A table that
       does not exist yet is bootstrapped: the stage holds the batch,
       and every row is an insert.
    5. **Commit** (``_commit``, shared with every staged batch load): a
       journal in the stage naming every rename is written first (tmp +
       atomic rename), then each touched partition directory is swapped
       in and the change batch moved into ``_changes/``.  A crash at ANY
       point is repaired by ``recover_table``: journal present → the
       commit ROLLS FORWARD from the completed stage; no journal yet →
       the old table is intact and the aborted stage is swept.  Readers
       that open the table through ``read_table``/``recover_table``
       therefore see the whole commit or none of it — table-level
       atomicity from a metadata journal, the same trick as a
       Delta/Iceberg commit log.

    Contract: a row's partition value must be stable per key — a key
    that migrates partitions between batches would escape the pruned
    anti-join (the same assumption every partition-pruned lakehouse
    MERGE makes).  Single writer per table (the journal serializes
    crash recovery, not concurrent commits).  Multi-column
    ``partition_by`` is supported: swaps operate on leaf
    ``a=1/b=2`` directories.

    ``row_count`` is the batch's row count when the caller already holds
    it; ``None`` counts here."""
    with staging(path) as stage:
        data = os.path.join(stage, os.path.basename(os.path.abspath(path)))
        msg, _schema = stage_upsert(
            df, data, path, key_cols, partition_by, change_feed, row_count
        )
        publish(stage, *renames("upsert", data, path))
    return msg


def stage_upsert(
    df: DataFrame,
    data: str,
    path: str,
    key_cols: list[str],
    partition_by: list[str],
    change_feed: bool = False,
    row_count: int | Callable[[], int] | None = None,
) -> tuple[str, StructType]:
    """Steps 1-4 of ``upsert_parquet``: write the upsert of ``df`` into
    the table at ``path`` to ``data``, a new directory in a stage beside
    it, and return the load message and the schema ``data`` was written
    with.  ``data`` holds the touched partitions as they will be (all of
    the batch's, for a table that does not exist yet; nothing, for an
    empty batch) and, with ``change_feed``, the change batch in its
    ``_changes``; ``renames("upsert", data, path)`` publishes it.

    The merge reads the batch more than once (the touched partitions,
    then the merge and the change feed), so only there is ``df``
    persisted, until the stage is written.  ``row_count`` as in
    ``write_parquet``."""
    from pyspark.sql import functions as F

    from agentic_etl_poc_spark import plan_capture
    from agentic_etl_poc_spark.operators.quality import observed_scan

    if not key_cols:
        raise ValueError("parquet upsert requires load.key_cols")
    if not partition_by:
        raise ValueError("parquet upsert requires load.partition_by")
    pcols = list(partition_by)
    batch_no = _next_batch_no(path)
    merge = os.path.exists(path)
    if merge:
        df = df.persist()
    try:
        # the merge's first action over the batch: one observed noop scan
        # (no exchange) collects the touched partition values and fills
        # the cache the merge then reads
        touched = (
            [tuple(r) for r in observed_scan(
                df, pcols, [F.collect_set(F.struct(*pcols)).alias("t")],
                "parquet_upsert_touched",
            )["t"]]
            if merge else []
        )
        n = df.count() if row_count is None else row_count
        out, changes, what = df, df.withColumn("_change_type", F.lit("insert")), "bootstrap"
        if merge and not touched:
            out, changes, what = df, None, "empty batch"
        elif merge:
            if any(v is None for t in touched for v in t):
                # hive encodes a null partition as __HIVE_DEFAULT_PARTITION__,
                # which the pruned merge read would silently miss — refuse
                # rather than lose the anti-join against those rows
                raise ValueError(
                    f"parquet upsert batch has NULL {pcols!r} partition values; "
                    "partition columns must be non-null"
                )
            # partition filter: OR of per-tuple AND equalities — stays a
            # pure partition-column predicate, so the scan prunes to the
            # touched directories (one term per touched partition)
            pred = functools.reduce(operator.or_, [
                functools.reduce(operator.and_, [F.col(c) == v for c, v in zip(pcols, t)])
                for t in touched
            ])
            target = (
                df.sparkSession.read.option("mergeSchema", "true")
                .parquet(path).filter(pred)
            )
            key_frame = df.select(*key_cols).distinct()
            survivors = target.join(key_frame, on=key_cols, how="left_anti")
            # schema evolution both ways: batch columns absent from the
            # target (and vice versa) fill with nulls instead of throwing
            out = survivors.unionByName(df, allowMissingColumns=True)
            plan_capture.note("parquet_upsert_merge", out)
            # update_pre = pruned target rows whose key IS in the batch
            # (the complement of survivors), insert/update_post = the
            # batch split on whether the key existed
            tkeys = target.select(*key_cols).distinct()
            changes = (
                target.join(key_frame, on=key_cols, how="left_semi")
                .withColumn("_change_type", F.lit("update_pre"))
                .unionByName(
                    df.join(tkeys, on=key_cols, how="left_semi")
                    .withColumn("_change_type", F.lit("update_post")),
                    allowMissingColumns=True,
                )
                .unionByName(
                    df.join(tkeys, on=key_cols, how="left_anti")
                    .withColumn("_change_type", F.lit("insert")),
                    allowMissingColumns=True,
                )
            )
            what = f"{len(touched)} partitions rewritten"
        # cluster by the partition columns before the partitioned write:
        # without it every upstream task writes a sliver into every
        # partition directory (tasks x partitions tiny files — the
        # small-file problem compact_parquet exists to undo).  One
        # shuffle, one file per partition here; at scale use
        # repartition(n_files_per_partition, *pcols) for width.
        out.repartition(*pcols).write.mode("overwrite").partitionBy(*pcols).parquet(data)
        if change_feed and changes is not None:
            # staged with the data and committed by the SAME journal: the
            # feed and the table can never disagree about a commit
            changes = changes.withColumn("_batch", F.lit(batch_no))
            plan_capture.note("parquet_upsert_change_feed", changes)
            changes.write.parquet(os.path.join(data, CHANGES_DIR, _batch_dir(batch_no)))
    finally:
        if merge:
            df.unpersist()
    n = n() if callable(n) else n
    return f"upserted {n:,} rows into {path} (parquet COW: {what})", out.schema


def renames(
    mode: str, data: str, target: str
) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """The ``(swaps, appends)`` that ``publish`` takes to publish a
    stage's ``data`` to ``target`` for a load of this ``mode``: an
    append moves its new files; an upsert swaps the partitions it
    rewrote (``stage_upsert``) and moves its change batch; any other
    load swaps the whole target."""
    if mode == "append":
        return [], [(data, target)]
    if mode != "upsert":
        return [(data, target)], []
    swaps = [
        (os.path.join(data, rel), os.path.join(target, rel))
        for rel in _leaf_partition_dirs(data)
    ]
    return swaps, [(os.path.join(data, CHANGES_DIR), os.path.join(target, CHANGES_DIR))]


#: What a failed artifact re-read or sink write raises: Spark's captured
#: errors and JVM exceptions PySpark does not convert.
READ_ERRORS = (PySparkException, Py4JJavaError)


def error_verdict(e: Exception, kind: str = "read_error") -> dict:
    """The stage dict for a re-read (or, with ``kind="write_error"``, a
    sink write) that raised: the first line of the error (of the JVM
    exception's own message when PySpark left it unconverted — its
    Python text only names the py4j call)."""
    text = e.java_exception.getMessage() if isinstance(e, Py4JJavaError) else str(e)
    first = (text or "").strip().split("\n", 1)[0] or type(e).__name__
    return {"status": False, "error": f"{kind}: {first}"}


def verify_parquet(
    spark: SparkSession,
    path: str,
    min_rows: int = 1,
    nonnull_cols: list[str] | None = None,
    schema: StructType | None = None,
) -> dict:
    """Post-load verification of the parquet artifact: re-read what was
    WRITTEN (not the in-memory frame) and check rows / not-null — the
    same artifact-first contract as verify_csv (reference:
    etl_agent/ops.py:49-109), minus the line-count fast path (parquet
    footers make the full check cheap).

    ``schema`` is the schema the sink wrote, when the caller holds it:
    the re-read then declares it instead of inferring it from the
    footers, which saves a Spark job.  The scan still opens every file
    the sink wrote, so a corrupt file still fails.  It is also the
    stricter check: a declared column that the artifact lacks reads as
    all-null, so listing it in ``nonnull_cols`` fails verify, where the
    inferring read skips a column it does not find.  An artifact that
    cannot be read (a truncated part file, say) fails with
    ``read_error``."""
    if not os.path.exists(path):
        return {"status": False, "error": f"path_not_found: {path}"}
    from agentic_etl_poc_spark.operators.quality import gate_stats

    try:
        reader = spark.read if schema is None else spark.read.schema(schema)
        stats = gate_stats(reader.parquet(path), nonnull_cols)
    except READ_ERRORS as e:
        return error_verdict(e)
    return parquet_verdict(stats, min_rows, nonnull_cols)


def parquet_verdict(
    stats: dict, min_rows: int = 1, nonnull_cols: list[str] | None = None
) -> dict:
    """The ``verify_parquet`` result dict from ``gate_stats`` over (at
    least) these columns; configured columns the artifact lacks are
    skipped.  Over zero rows a null sum is NULL, which reads as no
    nulls (as in ``dq_verdict``)."""
    cols = [c for c in (nonnull_cols or []) if c in stats["columns"]]
    rows = stats["rows"]
    nulls = {c: int(stats["nulls"][c] or 0) for c in cols}
    nonnull_ok = not any(nulls.values())
    status = rows >= min_rows and nonnull_ok
    out = {"rows": rows, "nonnull_ok": nonnull_ok, "status": status}
    if not status:
        out["error"] = (
            f"rows {rows} < min_rows {min_rows}" if rows < min_rows
            else "null values in " + ",".join(c for c in cols if nulls[c])
        )
    return out


def partition_signatures(path: str, pcol: str | None = None) -> dict[str, tuple]:
    """Filesystem signature of every partition directory:
    ``{relative dir path: (sorted data filenames, max mtime_ns)}``
    (single-level keys look like ``yr=1996``; multi-column layouts key
    on the leaf path ``a=1/b=2``).

    This is the poor-man's change feed for a plain-parquet table: Spark
    writes fresh UUID part names per job, so a rewritten partition
    ALWAYS changes signature and an untouched one provably cannot.
    ``upsert_parquet``'s commit swaps whole partition directories, which
    makes the signature the exact commit granularity — a downstream
    incremental consumer diffs two snapshots and reads only the changed
    partitions (what Delta's change-data-feed or partition-mtime
    pipelines do; at 100 TB the signature set is one row per partition,
    kilobytes, driver-side by design)."""
    sig: dict[str, tuple] = {}
    prefix = (pcol + "=") if pcol else None
    for rel in _leaf_partition_dirs(path):
        if prefix and os.sep not in rel and not rel.startswith(prefix):
            continue
        p = os.path.join(path, rel)
        files = sorted(f for f in os.listdir(p) if not f.startswith(("_", ".")))
        mt = max(
            (os.stat(os.path.join(p, f)).st_mtime_ns for f in files),
            default=0,
        )
        sig[rel] = (tuple(files), mt)
    return sig


def changed_partitions(
    path: str, pcol: str, since: dict[str, tuple]
) -> list[str]:
    """Partition VALUES (the part after ``pcol=``; the full relative
    path for nested layouts) whose directory signature differs from the
    ``since`` snapshot — new partitions count as changed.  The
    incremental-consume primitive paired with ``partition_signatures``."""
    now = partition_signatures(path, pcol)
    out = []
    for d, s in now.items():
        if since.get(d) != s:
            out.append(
                d[len(pcol) + 1:]
                if os.sep not in d and d.startswith(pcol + "=")
                else d
            )
    return sorted(out)
