"""``quality.gate_stats`` observes its aggregates on a ``noop`` scan.

Every gate (DQ, verify, the stream tail) reads ``gate_stats``, which runs
its count, null counts and max timestamp as ``Observation`` metrics of one
``noop`` write instead of a collected global aggregate.  These tests pin

- that the stats equal the collected aggregate the gate used to run, on
  the frames where the two could part: zero rows (null sums stay
  ``None``), no listed columns, empty local relations and ``limit(0)``
  (an ``Observation`` whose node the optimizer dropped would block
  forever, so each call runs under a timeout), and an all-NULL
  timestamp;
- that the DQ gate on a persisted frame caches every partition, so the
  sink write that follows reads the cache instead of recomputing the
  transform.
"""

from __future__ import annotations

import datetime as dt
import threading

import pytest
from pyspark.sql import functions as F

from agentic_etl_poc_spark.operators.quality import dq_check, gate_stats

_SCHEMA = "id long, s string, ts timestamp"
_ROWS = [
    (1, None, dt.datetime(2024, 1, 1, 12, 0, 0, 123456)),
    (2, "a", None),
    (3, None, dt.datetime(2023, 6, 1)),
]


def _collected(df, nonnull_cols, ts_col):
    """The gate's previous shape: one collected global aggregate."""
    present = [c for c in dict.fromkeys(nonnull_cols) if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in present:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls__{c}"))
    has_ts = bool(ts_col) and ts_col in df.columns
    if has_ts:
        aggs.append(F.max(F.col(ts_col).cast("timestamp")).alias("__max_ts"))
    row = df.agg(*aggs).collect()[0].asDict()
    stats = {
        "columns": list(df.columns),
        "rows": int(row["__rows"]),
        "nulls": {c: row[f"__nulls__{c}"] for c in present},
    }
    if has_ts:
        stats["max_ts"] = row["__max_ts"]
    return stats


def _within(seconds, fn):
    """``fn()`` on a daemon thread; fail if it has not returned in time."""
    out: dict = {}
    t = threading.Thread(target=lambda: out.setdefault("v", fn()), daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), "gate_stats did not return"
    assert "v" in out, "gate_stats raised"
    return out["v"]


def _frames(spark):
    full = spark.createDataFrame(_ROWS, _SCHEMA)
    return {
        "rows": full,
        "filtered_to_zero": full.filter(F.col("id") > 99),
        "empty_local": spark.createDataFrame([], _SCHEMA),
        "limit_0": full.limit(0),
        "all_null_ts": spark.createDataFrame(
            [(1, "a", None), (2, None, None)], _SCHEMA
        ),
    }


@pytest.mark.parametrize(
    "frame", ["rows", "filtered_to_zero", "empty_local", "limit_0", "all_null_ts"]
)
@pytest.mark.parametrize(
    "nonnull_cols, ts_col",
    [
        (["s", "id"], "ts"),
        ([], ""),  # min_rows only: no listed columns
        (["s", "nope", "s"], "nope"),  # missing and repeated names
        (["ts"], "ts"),  # the timestamp is also a nonnull column
    ],
    ids=["cols_and_ts", "no_cols", "missing_cols", "ts_twice"],
)
def test_gate_stats_equals_collected_aggregate(spark, frame, nonnull_cols, ts_col):
    df = _frames(spark)[frame]
    got = _within(60, lambda: gate_stats(df, nonnull_cols, ts_col))
    assert got == _collected(df, nonnull_cols, ts_col)


def test_gate_stats_reads_null_sums_and_max_raw(spark):
    """What the verdicts rely on: over zero rows a null sum is ``None``,
    and an all-NULL timestamp has no max."""
    frames = _frames(spark)
    assert _within(60, lambda: gate_stats(frames["limit_0"], ["s"], "ts")) == {
        "columns": ["id", "s", "ts"], "rows": 0, "nulls": {"s": None},
        "max_ts": None,
    }
    assert gate_stats(frames["all_null_ts"], ["s"], "ts") == {
        "columns": ["id", "s", "ts"], "rows": 2, "nulls": {"s": 1},
        "max_ts": None,
    }


def test_dq_gate_on_persisted_frame_fills_the_cache(spark, tmp_path):
    """The DQ gate is the first action over the persisted transform: its
    one job caches every partition, and the sink write that follows
    reads the cache (a counting UDF inside the transform runs once per
    row, not twice)."""
    from pyspark.storagelevel import StorageLevel

    sc = spark.sparkContext
    calls = sc.accumulator(0)

    @F.udf("long")
    def touch(x):
        calls.add(1)
        return x

    out = (
        spark.range(0, 400, numPartitions=4)
        .select(touch("id").alias("id"), (F.col("id") % 5).alias("k"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cached_before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    try:
        dq = dq_check(out, min_rows=1, nonnull_cols=["k"])
        assert dq == {"rows": 400, "status": True, "error": None}
        infos = [
            i for i in sc._jsc.sc().getRDDStorageInfo()
            if i.id() not in cached_before
        ]
        assert len(infos) == 1
        assert infos[0].numCachedPartitions() == infos[0].numPartitions() == 4
        assert calls.value == 400

        out.write.parquet(str(tmp_path / "sink"))
        assert calls.value == 400
        assert spark.read.parquet(str(tmp_path / "sink")).count() == 400
    finally:
        out.unpersist(blocking=True)
