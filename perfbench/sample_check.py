"""How well the ``query_battery`` samples stand for their full families.

    python3 perfbench/run.py sample-check --seed 1

Runs every relational (``q*``) and every kernel (``d*``, ``s*``, ``g*``)
battery entry on the benchmark's generated tables: one cold call, then one
warm call forced to ``noop``, whose wall time and Spark job count are kept
(the timed passes of the benchmark are warm).  Prints, for each family,
the full set next to the benchmark's sample: entries, jobs per entry, the
median and the mean warm latency.  ``--out`` (a path relative to the
checkout) also writes one JSON line per entry.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

from perfbench import datagen, workloads
from perfbench.worker import start_spark


def measure(spark, fn, data_dir: str, group: str) -> tuple[float, int]:
    sc = spark.sparkContext
    fn(spark, data_dir).write.format("noop").mode("overwrite").save()
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sec, len(sc.statusTracker().getJobIdsForGroup(group))


def summary(label: str, rows: list[dict]) -> str:
    secs = [r["warm_s"] for r in rows]
    jobs = [r["jobs"] for r in rows]
    return (
        f"{label:16s} entries={len(rows):3d} jobs/entry={statistics.mean(jobs):5.2f} "
        f"p50_s={statistics.median(secs):.3f} mean_s={statistics.mean(secs):.3f}"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)

    from agentic_etl_poc_spark.queries import load_all

    spark = start_spark(args.run_dir)
    try:
        data_dir = os.path.join(args.run_dir, "tables")
        datagen.write_tables(data_dir, args.seed, args.scale)
        specs = load_all()
        sample = set(workloads.battery_names())
        rows: dict[str, dict] = {}
        for name in workloads.sql_names(specs) + workloads.kernel_names(specs):
            try:
                sec, jobs = measure(spark, specs[name].fn, data_dir, f"sample-{name}")
            except Exception:
                print(f"{name} failed:\n{traceback.format_exc()}", file=sys.stderr)
                continue
            rows[name] = {"name": name, "warm_s": sec, "jobs": jobs}
            print(f"# {name} warm_s={sec:.3f} jobs={jobs}", file=sys.stderr, flush=True)
        if args.out:
            # relative to the checkout: the run directory is deleted
            root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            with open(os.path.join(root, args.out), "w") as f:
                for r in rows.values():
                    f.write(json.dumps(r) + "\n")
        for family, names in (
            ("q*", workloads.sql_names(rows)),
            ("d*/s*/g*", workloads.kernel_names(rows)),
        ):
            print(summary(f"{family} all", [rows[n] for n in names]))
            print(summary(f"{family} sample", [rows[n] for n in names if n in sample]))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
