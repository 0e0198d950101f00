"""Test-data table access: parquet star schema → temp views.

The driver's synthetic tables (TESTDATA.md) are the oracle-checked input
surface.  Registration is cheap (schema-only read; scans stay lazy) and
Catalyst prunes columns/pushes filters into the parquet scan, so registering
all tables per query costs nothing at runtime.

Session reuse has one rule, kept here: ``memo`` holds a value per
(session, key) for as long as ``fingerprint`` of its source path stays
the same.  ``read_parquet`` (behind ``table()`` and the plan runtime's
parquet sources), ``queries/core.py::shared_frame`` and the graph memo
in ``queries/graphq.py`` are its callers.
"""

from __future__ import annotations

import glob
import os
import re
import weakref
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTENSION_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTENSION_TABLES


#: Session-scoped LAZY read handles per (variant, path), each with the
#: fingerprint it was read at (``memo``).  Every ``spark.read.parquet``
#: call rebuilds a file index and infers the schema from the footers,
#: which launches one Spark job even for a single file (~0.1 s for one
#: small file on a local[4] session).  The battery makes hundreds of
#: ``table()`` calls per run (register_views alone makes ten), and the
#: plan runtime re-reads its parquet sources on every run of a plan
#: (scheduled ticks, the p-family entries); both go through
#: ``read_parquet``.  The memo stores the UNEXECUTED plan handle only —
#: no persist(), no data, nothing survives the process — so every
#: invocation still computes from the parquet inputs.
_HANDLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _stat_sig(path: str) -> tuple[int, int, int]:
    """(max mtime_ns, total size, file count) over a parquet file or a
    directory of part files — one stat per file, regeneration-sensitive.
    Raises OSError when ``path`` cannot be stat'ed."""
    if os.path.isdir(path):
        mtime = size = n = 0
        for root, _, fs in os.walk(path):
            for f in fs:
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                mtime = max(mtime, st.st_mtime_ns)
                size += st.st_size
                n += 1
        return mtime, size, n
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, 1


_is_glob = re.compile(r"[*?[{]").search


def fingerprint(path: str) -> tuple | None:
    """``(realpath, *_stat_sig)`` of ``path``, or of every match when it
    is a glob; None when there is nothing local to stat (a missing path,
    a glob without matches, a URI).  The one invalidation key of every
    session memo (``memo``) and of every staged copy
    (``queries/core.py::staged``)."""
    try:
        if not _is_glob(path):
            return ((os.path.realpath(path), *_stat_sig(path)),)
        paths = sorted(glob.glob(path))
        return tuple((os.path.realpath(p), *_stat_sig(p)) for p in paths) or None
    except OSError:
        return None


def memo(
    store: weakref.WeakKeyDictionary,
    spark: SparkSession,
    key: Hashable,
    path: str,
    build: Callable[[], Any],
) -> Any:
    """``build()``, memoized as ``store[spark][key] = (fingerprint(path),
    value)`` while the fingerprint of ``path`` stays the same.

    A changed fingerprint replaces the entry, so a store holds one value
    per key however often its files change; a path with no fingerprint
    is never memoized.  A replaced DataFrame is uncached, together with
    every cached plan built on it, BEFORE ``build()`` runs: Spark's
    CacheManager matches plans by their source paths, so a stale
    persisted frame would otherwise serve the rebuilt plan (and any
    fresh read of the same files) its old rows.  ``store`` is weak-keyed
    by the session object, not ``id(spark)``: a stopped session's entries
    die with it instead of passing to a new session that reuses the id.
    """
    fp = fingerprint(path)
    if fp is None:
        return build()
    per = store.setdefault(spark, {})
    hit = per.get(key)
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        del per[key]
        if isinstance(hit[1], DataFrame):
            spark._jsparkSession.sharedState().cacheManager().uncacheQuery(
                hit[1]._jdf, True
            )
    value = build()
    per[key] = (fp, value)
    return value


def read_parquet(
    spark: SparkSession,
    path: str,
    build: Callable[[str], DataFrame] | None = None,
    variant: Hashable = None,
) -> DataFrame:
    """``build(path)`` (default ``spark.read.parquet(path)``), memoized
    per session on ``(variant, path)`` while the fingerprint of ``path``
    stays the same (``memo``).  A caller whose ``build`` post-processes
    the read names it with its own ``variant``, so callers that read the
    same files differently never share a handle."""
    return memo(
        _HANDLES, spark, (variant, path), path,
        lambda: build(path) if build is not None else spark.read.parquet(path),
    )


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F, types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # Only TIMESTAMP(NANOS) files surface ts as long under nanosAsLong;
    # an events table written at µs/ms precision arrives as a real
    # timestamp already and needs no truncation.
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame.

    ``events.parquet`` stores TIMESTAMP(NANOS), which Spark's parquet reader
    rejects outright.  DuckDB (the oracle) truncates ns → µs on read; we match
    it exactly: read nanos as long and truncate with integer division
    (``div`` keeps the math in int64 — a double division would lose precision
    above 2^53 ns).
    """
    from agentic_etl_poc_spark.session import ensure_semantics, tune_for_data

    ensure_semantics(spark)  # battery must be correct on ANY caller's session
    tune_for_data(spark, sf_dir)  # ...and sized to the data, not the default
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_parquet(
            spark, path, lambda p: _read_events(spark, p), "table:events"
        )
    return read_parquet(spark, path)


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> None:
    """Register tables as temp views so ``spark.sql`` can reference them
    by the same names the DuckDB oracle uses."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
