"""Scale-out building blocks shared by battery entries: a skew salt and
small-file compaction.

The reference runs single-process DuckDB over pandas and needs neither
(reference: etl_agent/templates.py:79-121 — one process, no partitions).
On a cluster both are load-bearing:

- ``salt_column`` spreads ONE pathologically hot key across N reducer
  partitions: a deterministic per-row salt in [0, N) joins the key
  (q51's two-stage aggregate, q59's salted join).  AQE's skew-join
  splitting (enabled in session.py) handles moderate skew automatically;
  explicit salting is the escape hatch for the "one key is 30% of the
  table" case where even a split partition won't fit an executor.
- ``compact_parquet`` rewrites a many-small-files directory into
  right-sized files (q82).

Bucketed co-location (q65) and AQE skew joins (q80) live in their
battery entries.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def salt_column(*cols: Column, parts: int) -> Column:
    """Deterministic per-row salt in [0, parts): a hash of arbitrary
    row-varying columns (NOT the hot key itself, which is constant within
    the skewed group)."""
    return F.pmod(F.xxhash64(*cols), F.lit(parts)).cast("int")


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict:
    """Rewrite a parquet directory into right-sized files — the small-file
    compaction every streaming/incremental sink eventually needs (each
    micro-batch or tick appends its own files; thousands of tiny files
    ruin scan planning and open-cost at scale).

    Sizing comes from the CURRENT on-disk bytes; ``sort_by`` additionally
    clusters rows within each output file (sortWithinPartitions — no
    global shuffle) so downstream scans get better min/max pruning on
    those columns.  The rewrite goes through a temp dir + atomic-ish swap
    so a crash never leaves the directory half-compacted."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    files = [
        f
        for f in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files_before = len(files)
    n_out = max(1, total_bytes // target_file_bytes)

    df = spark.read.parquet(path)
    df = df.repartition(int(n_out))
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)

    parent = os.path.dirname(path.rstrip("/")) or "."
    tmp = tempfile.mkdtemp(prefix="compact_", dir=parent)
    old = path.rstrip("/") + "__precompact"
    try:
        df.write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    except Exception:
        if os.path.exists(old) and not os.path.exists(path):
            os.rename(old, path)  # roll back
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    n_files_after = len(
        [f for f in os.listdir(path) if f.startswith("part-")]
    )
    return {
        "files_before": n_files_before,
        "files_after": n_files_after,
        "bytes": total_bytes,
    }
