"""Query-battery registry.

Each named query is a (spark_fn, oracle_sql) pair:

- ``fn(spark, sf_dir) -> DataFrame`` — the idiomatic-Spark implementation
  (DataFrame API or spark.sql over temp views), lazy until the driver acts.
- ``oracle`` — equivalent SQL DuckDB runs over the same parquet tables.
  ``None`` marks a genuinely non-SQL-expressible operator (the driver then
  records a weaker rows-only check).

Cross-engine determinism rules used throughout the battery (the driver
hash-compares values, so results must match bit-for-bit, not just
approximately):

1. Aggregates over DOUBLE columns are computed as
   ``SUM(CAST(x AS DECIMAL(p,s)))`` then cast back to DOUBLE.  Plain
   ``SUM(double)`` is order-dependent (Spark's partial aggregation adds in
   partition order, DuckDB in its own order) and differs in final ULPs;
   decimal addition is exact and associative, so both engines agree exactly.
   Per-ROW double arithmetic (x*(1-y)) is IEEE-deterministic and safe before
   the cast.
2. AVG is SUM(decimal)::DOUBLE / COUNT — one deterministic double division.
3. DATE/TIMESTAMP outputs are formatted to strings with an explicit pattern
   (engines disagree on native temporal rendering/dtypes).
4. Every ORDER BY ... LIMIT has a total tie-break key.
5. Comparisons/rounding on computed doubles happen on values far from the
   decision boundary by construction, or after rounding to a coarse grid.
"""

from __future__ import annotations

import json
import math
import os
import re
import weakref
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str


QUERIES: dict[str, QuerySpec] = {}

#: Session-scoped persisted intermediates shared across query families
#: (dedup shingles/pairs/labels, similarity signatures/norms).  In a real
#: pipeline these are computed ONCE and fanned out; the battery does the
#: same when several queries run in one session (a correctness sweep,
#: bench).  Keyed by (session, data dir, name); persist() keeps the
#: logical plan visible to Catalyst while caching the data.  CAVEAT
#: (learned on d03): do NOT feed a cached frame into a plan whose
#: efficiency depends on ReuseExchange across self-join consumers — AQE
#: wraps the cache in TableCacheQueryStages and stops unifying the
#: identical exchanges above it.
#:
#: Weak-keyed by the SESSION OBJECT, not id(spark): after a session is
#: stopped and garbage-collected, a new session can reuse the same id()
#: and would inherit a persisted frame bound to the dead JVM state; a
#: WeakKeyDictionary entry dies with the session instead.
_SHARED: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def shared_frame(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    per = _SHARED.get(spark)
    if per is None:
        per = {}
        _SHARED[spark] = per
    df = per.get((sf_dir, name))
    if df is None:
        df = build().persist()
        per[(sf_dir, name)] = df
    return df


def clear_shared_frames(spark: SparkSession | None = None) -> None:
    """Unpersist and drop the shared intermediates (for ``spark``, or for
    every live session) — frees executor storage between data dirs or at
    the end of a battery run."""
    sessions = [spark] if spark is not None else list(_SHARED.keys())
    for s in sessions:
        for df in (_SHARED.pop(s, None) or {}).values():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped; nothing to free


def fixture_fingerprint(sf_dir: str, tables: list[str]) -> str:
    """mtime/size fingerprint of source fixture tables — written into a
    staging marker so regenerated fixtures RESTAGE instead of silently
    reusing stale /tmp copies (which would surface later as a confusing
    oracle hash mismatch).  A parquet table may be a single file or a
    directory of part files."""
    parts = []
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            files = [
                os.path.join(root, f)
                for root, _, fs in os.walk(p)
                for f in fs
                if not f.startswith(("_", "."))
            ]
            size = sum(os.path.getsize(f) for f in files)
            # nanosecond mtimes: a fixture regenerated within the same
            # second (same byte size) must still read as changed
            mtime = max((os.stat(f).st_mtime_ns for f in files), default=0)
        elif os.path.exists(p):
            size = os.path.getsize(p)
            mtime = os.stat(p).st_mtime_ns
        else:
            size = mtime = 0
        parts.append(f"{t}:{mtime}:{size}")
    return ";".join(parts)


def marker_current(marker: str, fingerprint: str) -> bool:
    """True iff the staging marker exists and records ``fingerprint``."""
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        return f.read() == fingerprint


def write_marker(marker: str, fingerprint: str) -> None:
    os.makedirs(os.path.dirname(marker), exist_ok=True)
    with open(marker, "w") as f:
        f.write(fingerprint)


def register(name: str, oracle: str | None, description: str = ""):
    """Decorator: add a query to the battery."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, description=description)
        return fn

    return deco


#: Checkout root: the committed sweep records and bench map live here.
REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_SWEEP_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match") is not False
    )


def sweep_order(names: Iterable[str], root: str = REPO_ROOT) -> list[str]:
    """``names`` in external-sweep priority, derived from the committed
    ``CORRECTNESS_r{N}.json`` sweeps (by integer round) and the per-query
    seconds in ``BENCH_QUERIES.json``.

    The external correctness sweep records only the first ~50 entries of
    ``load_all()`` per round, so the order decides what gets checked.
    Sort key: red in the latest sweep first; then the round of the latest
    green row, oldest first (never-sampled or never-green = round 0);
    then cheap-first (missing bench seconds = last); then name.  A row
    is green iff ``rows_match and schema_match and hash_match is not
    False``.
    """
    rounds = sorted(
        (int(m.group(1)), m.group(0))
        for m in map(_SWEEP_FILE.fullmatch, os.listdir(root))
        if m
    )
    last_green: dict[str, int] = {}
    red: set[str] = set()
    for n, fname in rounds:
        with open(os.path.join(root, fname)) as f:
            rows = json.load(f)
        red = {q for q, row in rows.items() if not _green(row)}
        last_green.update((q, n) for q in rows if q not in red)
    try:
        with open(os.path.join(root, "BENCH_QUERIES.json")) as f:
            sec = json.load(f)["queries"]
    except OSError:
        sec = {}
    return sorted(
        names,
        key=lambda q: (
            q not in red, last_green.get(q, 0), sec.get(q, math.inf), q
        ),
    )


def load_all() -> dict[str, QuerySpec]:
    """Import every battery module (side effect: registration) and return
    the registry in ``sweep_order`` — recomputed on every call from the
    committed sweep records, so a new sweep or a new entry needs no edit
    here (a new entry ranks with the never-sampled ones).
    """
    from agentic_etl_poc_spark.queries import (  # noqa: F401
        dedup,
        graphq,
        pipeline,
        relational,
        similarity,
        streamq,
        temporal,
        text,
        udx,
    )

    return {name: QUERIES[name] for name in sweep_order(QUERIES)}
