"""Single-file CSV sink.

The reference writes exactly one CSV file and verify re-reads that one path
(reference: etl_agent/ops.py:28-32, 49-109) — single-file output IS the
contract.  A distributed writer emits a directory of parts, so we write to
a temp dir and promote the single part to the target path.

``coalesce(1)`` serializes only the final write stage — upstream transforms
keep full parallelism (coalesce does not repartition the whole plan; it
narrows the last stage).  That's the right trade for the reference's
small-aggregate outputs.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame


def write_csv(
    df: DataFrame,
    path: str,
    include_header: bool = True,
    row_count: int | Callable[[], int] | None = None,
    target: str | None = None,
) -> str:
    """Write df to ``path``; returns the reference-shaped message
    ``"wrote N rows to path"``.  ``row_count`` lets callers that already
    counted (the DQ gate) avoid a recount; a callable is called after
    the write (a count the caller observes on it).  The message names
    ``target``, the path a staged write publishes to, or else ``path``."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if row_count is None:
        row_count = df.count()

    tmp = tempfile.mkdtemp(prefix="csv_sink_", dir=os.path.dirname(path) or ".")
    try:
        (
            df.coalesce(1)
            .write.mode("overwrite")
            .option("header", include_header)
            .csv(tmp)
        )
        parts = glob.glob(os.path.join(tmp, "part-*"))
        if len(parts) != 1:  # pragma: no cover - coalesce(1) guarantees one
            raise RuntimeError(f"expected exactly 1 part file, got {len(parts)}")
        if os.path.exists(path):
            os.remove(path)
        shutil.move(parts[0], path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    n = row_count() if callable(row_count) else row_count
    return f"wrote {n:,} rows to {target or path}"
