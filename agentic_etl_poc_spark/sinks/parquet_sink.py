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
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

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


def _retired_name(rel: str) -> str:
    """Dot-prefixed retire name for a partition dir being replaced: a
    crash between the two renames must leave residue every reader
    (Spark listing, partition_signatures, the next merge read) ignores —
    a bare ``yr=V__precommit`` would be discovered as a partition and
    poison the table with stale duplicate rows."""
    head, leaf = os.path.split(rel)
    return os.path.join(head, ".precommit_" + leaf) if head else ".precommit_" + leaf


def recover_table(path: str) -> str:
    """Bring a COW table to a committed state after a crash — called by
    every writer (and by ``read_table``) before touching the table.

    * Journal present: the stage write had fully completed before the
      journal was created (write ordering), so the commit is ROLLED
      FORWARD — remaining partition swaps and extra renames are
      completed idempotently, then residue and the journal are cleared.
      A reader that opens the table after a crash at ANY rename sees
      the entire new commit, never a mix.
    * No journal: any ``.precommit_`` residue is from a commit that
      already completed its swaps (residue deletion is post-journal) or
      from external meddling — residue whose live partition dir is
      MISSING is restored (it may be the only copy of those rows);
      residue whose live dir exists is stale and is deleted.  Orphan
      ``.upsert_stage_`` dirs (crash before the journal existed) are
      swept: the old table state is intact, the aborted batch simply
      never happened.
    """
    if not os.path.isdir(path):
        return "no table"
    jpath = os.path.join(path, _JOURNAL)
    actions: list[str] = []
    if os.path.exists(jpath):
        with open(jpath) as f:
            j = json.load(f)
        stage = j["stage"]
        for rel in j["swaps"]:
            src = os.path.join(stage, rel)
            dst = os.path.join(path, rel)
            old = os.path.join(path, _retired_name(rel))
            if os.path.exists(src):
                if os.path.exists(dst):
                    if os.path.exists(old):
                        shutil.rmtree(old)
                    _rename(dst, old)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                _rename(src, dst)
                actions.append(f"swap {rel}")
            elif not os.path.exists(dst) and os.path.exists(old):
                # crash between retire and swap-in, stage gone (cannot
                # happen under the write ordering, but never delete the
                # only copy): restore the retired dir
                _rename(old, dst)
                actions.append(f"restore {rel}")
        for src_rel, dst_rel in j.get("extras", []):
            src = os.path.join(stage, src_rel)
            dst = os.path.join(path, dst_rel)
            if os.path.exists(src) and not os.path.exists(dst):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                _rename(src, dst)
                actions.append(f"extra {dst_rel}")
        for rel in j["swaps"]:
            old = os.path.join(path, _retired_name(rel))
            if os.path.exists(old):
                shutil.rmtree(old)
        os.remove(jpath)
        if os.path.isdir(stage):
            shutil.rmtree(stage, ignore_errors=True)
        return "rolled forward: " + "; ".join(actions) if actions else "journal cleared"

    # no journal: restore-or-sweep orphan residue, sweep dead stages
    for root, dirs, _files in os.walk(path):
        for d in list(dirs):
            if d.startswith(".precommit_"):
                live = os.path.join(root, d[len(".precommit_"):])
                if not os.path.exists(live):
                    _rename(os.path.join(root, d), live)
                    actions.append(f"restore {os.path.relpath(live, path)}")
                else:
                    shutil.rmtree(os.path.join(root, d))
                dirs.remove(d)
            elif d.startswith(".upsert_stage_"):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                dirs.remove(d)
    return "recovered: " + "; ".join(actions) if actions else "clean"


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
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    key_cols: list[str] | None = None,
    change_feed: bool = False,
    row_count: int | None = None,
) -> str:
    """Write ``df`` as parquet (``mode="upsert"`` delegates to
    ``upsert_parquet``).  ``row_count``, when the caller already holds
    it (the plan runtime's DQ count of the same persisted frame), skips
    the count job the message would otherwise cost."""
    if mode == "upsert":
        return upsert_parquet(
            df, path, key_cols or [], partition_by or [], change_feed,
            row_count=row_count,
        )
    n = df.count() if row_count is None else row_count
    if partition_by:
        # cluster rows by the partition columns first — otherwise every
        # upstream task writes a sliver into every partition directory
        # (tasks x partitions tiny files); see upsert_parquet for the
        # at-scale width variant
        from pyspark.sql import functions as F

        df = df.repartition(*[F.col(c) for c in partition_by])
    w = df.write.mode("overwrite" if mode == "replace" else mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
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


def _write_change_batch(changes: DataFrame, path: str, batch_no: int) -> None:
    """Direct (non-journaled) change-feed write — bootstrap only, where
    the frame's lineage does not read the target table."""
    dst = os.path.join(path, CHANGES_DIR, _batch_dir(batch_no))
    changes.write.mode("overwrite").parquet(dst)


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

    Protocol (mirrors the stage+merge split of the JDBC upsert,
    reference etl_agent/tools.py:83-96, re-expressed for a file table):

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
    4. **Stage write**: survivors ∪ batch is written partitioned to a
       dot-prefixed stage directory INSIDE the table — fully
       distributed, one file per task, never through the driver.  With
       ``change_feed=True`` the insert/update_pre/update_post row sets
       (frames the merge already computes) are staged alongside.
    5. **Commit**: a journal naming the stage and every swap is written
       first (tmp + atomic rename), then each touched partition
       directory is swapped in and the change batch renamed into
       ``_changes/``.  A crash at ANY point is repaired by
       ``recover_table``: journal present → the commit ROLLS FORWARD
       from the completed stage; no journal yet → the old table is
       intact and the aborted stage is swept.  Readers that open the
       table through ``read_table``/``recover_table`` therefore see the
       whole commit or none of it — table-level atomicity from a
       metadata journal, the same trick as a Delta/Iceberg commit log.

    Contract: a row's partition value must be stable per key — a key
    that migrates partitions between batches would escape the pruned
    anti-join (the same assumption every partition-pruned lakehouse
    MERGE makes).  Single writer per table (the journal serializes
    crash recovery, not concurrent commits).  Multi-column
    ``partition_by`` is supported: swaps operate on leaf
    ``a=1/b=2`` directories.

    ``row_count`` is the batch's row count when the caller already holds
    it (counted before this call, so before the commit); ``None`` counts
    here."""
    import tempfile

    from pyspark.sql import functions as F

    from agentic_etl_poc_spark import plan_capture

    if not key_cols:
        raise ValueError("parquet upsert requires load.key_cols")
    if not partition_by:
        raise ValueError("parquet upsert requires load.partition_by")
    pcols = list(partition_by)
    spark = df.sparkSession

    if not os.path.exists(path):
        n = df.count() if row_count is None else row_count
        # cluster by the partition columns before the partitioned write:
        # without it every upstream task writes a sliver into every
        # partition directory (tasks x partitions tiny files — the
        # small-file problem compact_parquet exists to undo).  One
        # shuffle, one file per partition here; at scale use
        # repartition(n_files_per_partition, *pcols) for width.
        df.repartition(*[F.col(c) for c in pcols]).write.mode(
            "overwrite"
        ).partitionBy(*pcols).parquet(path)
        if change_feed:
            _write_change_batch(
                df.withColumn("_change_type", F.lit("insert")).withColumn(
                    "_batch", F.lit(0)
                ),
                path,
                0,
            )
        return f"upserted {n:,} rows into {path} (parquet COW: bootstrap)"

    recover_table(path)

    # count BEFORE the commit: a batch whose lineage read the target
    # would recompute over swapped files afterwards
    batch_rows = df.count() if row_count is None else row_count
    touched = [
        tuple(r) for r in df.select(*pcols).distinct().collect()
    ]
    if not touched:
        return f"upserted 0 rows into {path} (parquet COW: empty batch)"
    if any(v is None for t in touched for v in t):
        # hive encodes a null partition as __HIVE_DEFAULT_PARTITION__,
        # which the pruned merge read would silently miss — refuse
        # rather than lose the anti-join against those rows
        raise ValueError(
            f"parquet upsert batch has NULL {pcols!r} partition values; "
            "partition columns must be non-null"
        )
    # partition filter: OR of per-tuple AND equalities — stays a pure
    # partition-column predicate, so the scan prunes to the touched
    # directories (one term per touched partition, driver-side small)
    import functools
    import operator

    pred = functools.reduce(
        operator.or_,
        (
            functools.reduce(
                operator.and_,
                (F.col(c) == F.lit(v) for c, v in zip(pcols, t)),
            )
            for t in touched
        ),
    )
    target = (
        spark.read.option("mergeSchema", "true").parquet(path).filter(pred)
    )
    key_frame = df.select(*key_cols).distinct()
    survivors = target.join(key_frame, on=key_cols, how="left_anti")
    # schema evolution both ways: batch columns absent from the target
    # (and vice versa) fill with nulls instead of throwing
    out = survivors.unionByName(df, allowMissingColumns=True)
    plan_capture.note("parquet_upsert_merge", out)

    stage = tempfile.mkdtemp(prefix=".upsert_stage_", dir=path)
    batch_no = _next_batch_no(path)
    journaled = False
    try:
        # same clustering rule as the bootstrap write (see above)
        out.repartition(*[F.col(c) for c in pcols]).write.mode(
            "overwrite"
        ).partitionBy(*pcols).parquet(stage)
        extras: list[tuple[str, str]] = []
        if change_feed:
            # the merge already holds every needed frame: update_pre =
            # pruned target rows whose key IS in the batch (the
            # complement of survivors), insert/update_post = the batch
            # split on whether the key existed.  Staged next to the data
            # and committed by the SAME journal — the feed and the table
            # can never disagree about a commit.
            tkeys = target.select(*key_cols).distinct()
            update_pre = target.join(key_frame, on=key_cols, how="left_semi")
            update_post = df.join(tkeys, on=key_cols, how="left_semi")
            insert = df.join(tkeys, on=key_cols, how="left_anti")
            changes = (
                update_pre.withColumn("_change_type", F.lit("update_pre"))
                .unionByName(
                    update_post.withColumn(
                        "_change_type", F.lit("update_post")
                    ),
                    allowMissingColumns=True,
                )
                .unionByName(
                    insert.withColumn("_change_type", F.lit("insert")),
                    allowMissingColumns=True,
                )
                .withColumn("_batch", F.lit(batch_no))
            )
            plan_capture.note("parquet_upsert_change_feed", changes)
            changes.write.mode("overwrite").parquet(
                os.path.join(stage, "_cdf")
            )
            extras.append(
                ("_cdf", os.path.join(CHANGES_DIR, _batch_dir(batch_no)))
            )

        swaps = _leaf_partition_dirs(stage)
        # journal BEFORE the first rename: from here the commit is
        # repeatable from the stage alone (tmp + rename = atomic create)
        jpath = os.path.join(path, _JOURNAL)
        with open(jpath + ".tmp", "w") as f:
            json.dump({"stage": stage, "swaps": swaps, "extras": extras}, f)
        os.rename(jpath + ".tmp", jpath)
        journaled = True

        n = 0
        for rel in swaps:
            src_dir = os.path.join(stage, rel)
            dst_dir = os.path.join(path, rel)
            if os.path.exists(dst_dir):
                old = os.path.join(path, _retired_name(rel))
                _rename(dst_dir, old)
                _rename(src_dir, dst_dir)
            else:
                os.makedirs(os.path.dirname(dst_dir), exist_ok=True)
                _rename(src_dir, dst_dir)
            n += 1
        for src_rel, dst_rel in extras:
            dst = os.path.join(path, dst_rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            _rename(os.path.join(stage, src_rel), dst)
        for rel in swaps:
            old = os.path.join(path, _retired_name(rel))
            if os.path.exists(old):
                shutil.rmtree(old)
        os.remove(jpath)
        journaled = False
    finally:
        # the stage is the roll-forward source once the journal exists:
        # it may only be deleted before the journal is created (aborted
        # batch — the old table state is intact) or after the journal is
        # removed (commit complete); recover_table clears it otherwise
        if not journaled:
            shutil.rmtree(stage, ignore_errors=True)
    return (
        f"upserted {batch_rows:,} rows into {path} "
        f"(parquet COW: {n} partitions rewritten)"
    )


def verify_parquet(
    spark: SparkSession,
    path: str,
    min_rows: int = 1,
    nonnull_cols: list[str] | None = None,
) -> dict:
    """Post-load verification of the parquet artifact: re-read what was
    WRITTEN (not the in-memory frame) and check rows / not-null — the
    same artifact-first contract as verify_csv (reference:
    etl_agent/ops.py:49-109), minus the line-count fast path (parquet
    footers make the full check cheap)."""
    if not os.path.exists(path):
        return {"status": False, "error": f"path_not_found: {path}"}
    from agentic_etl_poc_spark.operators.quality import gate_stats

    stats = gate_stats(spark.read.parquet(path), nonnull_cols)
    return parquet_verdict(stats, min_rows, nonnull_cols)


def parquet_verdict(
    stats: dict, min_rows: int = 1, nonnull_cols: list[str] | None = None
) -> dict:
    """The ``verify_parquet`` result dict from ``gate_stats`` over (at
    least) these columns; configured columns the artifact lacks are
    skipped.  Over zero rows a null sum is NULL, which reads as "not
    nonnull-ok"."""
    cols = [c for c in (nonnull_cols or []) if c in stats["columns"]]
    rows, nulls = stats["rows"], stats["nulls"]
    nonnull_ok = all(nulls[c] == 0 for c in cols)
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
