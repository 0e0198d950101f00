"""One benchmark run of one workload, in the process ``run.py`` starts.

Phases:

1. set-up: SparkSession, input generation from the seed, plan-input
   staging, and an untimed cold pass; ``setup_s`` is the launcher's start
   to the first timed item;
2. timed passes: a closed loop, one client, each pass runs every item of
   the workload once, in a fixed order, each right after the reference job
   its latency is normalized by (``REF_CALLS``);
3. with ``--trace 1``: each item of the passes runs twice, traced and
   untraced, for the per-layer numbers and the tracing overhead;
4. the untimed correctness check against DuckDB over the same tables, in
   the warm state the timed passes left: each battery entry's last timed
   frame, each plan's artifacts as its last timed run left them.

The driver JVM runs with a fixed, pre-touched 1 GiB heap, so
``jvm_peak_rss_mb`` does not swing with when the collector decides to
grow the heap; it moves with off-heap and non-heap memory (Arrow and
network buffers, metaspace, code cache, threads) and with a heap that
would no longer fit.

The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from typing import NamedTuple

from perfbench import datagen, workloads
from perfbench.trace import Tracer

WORKLOADS = ("plan_lifecycle", "query_battery")

#: Seconds one timed pass takes, reference jobs included, about (4-vCPU
#: x86-64 VM, scale 0.01; see README.md).  The number of passes a run makes
#: is fixed from ``--seconds`` and this, never from the clock, so the
#: parent and a change measure the same work.
NOMINAL_PASS_S = {"plan_lifecycle": 5.0, "query_battery": 3.5}
CORES = min(4, len(os.sched_getaffinity(0)))

#: Each item run is preceded by ``REF_CALLS`` runs of a reference job, a
#: fixed global aggregate over ``spark.range``.  It needs neither the engine
#: package nor the input tables, and its one final partition does not
#: depend on the session's shuffle partition count, so no change to the
#: program moves it; what moves it is how fast the host runs Spark at that
#: moment.  An item's latency divided by the reference job's is how many
#: reference jobs the item costs, which holds still when the host is busy.
REF_CALLS = 3
#: Median latency of the reference job on the recording host with under 2%
#: of its CPU time stolen by the hypervisor (README.md).  It turns
#: "reference jobs" back into seconds: a normalized metric reads about what
#: that host, quiet, would measure.
REF_JOB_S = 0.125

END_TO_END_UNITS = {
    "setup_s": "s",
    "norm_wall_s": "s",
    "jvm_peak_rss_mb": "MB",
}


class Lat(NamedTuple):
    """One timed item run: its wall seconds and the reference job's latency
    just before it."""

    pass_no: int
    name: str
    sec: float
    ref: float
    ok: bool
    traced: bool

    @property
    def norm(self) -> float:
        return self.sec / self.ref * REF_JOB_S


def reference_s(spark) -> float:
    """Median wall seconds of ``REF_CALLS`` runs of the reference job."""
    secs = []
    for _ in range(REF_CALLS):
        t0 = time.perf_counter()
        spark.range(0, 200_000, 1, 4).selectExpr("sum(id * 7 % 13) AS s").collect()
        secs.append(time.perf_counter() - t0)
    return statistics.median(secs)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


def start_spark(run_dir: str):
    from agentic_etl_poc_spark.session import get_spark

    tmp = os.environ.get("TMPDIR", run_dir)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def run_passes(spark, items, n_passes: int, inject_raise: str = "",
               tracer=None) -> list[Lat]:
    """Run the passes.  Each item's untimed ``prepare`` and the reference
    job precede it.  With a tracer every item runs twice per pass, once
    traced and once not, in alternating order so that warm-up favours
    neither side of ``trace.overhead``."""
    lat = []
    for p in range(n_passes):
        for idx, it in enumerate(items):
            modes = [False] if tracer is None else [False, True][:: 1 if (p + idx) % 2 else -1]
            for traced in modes:
                it.prepare()
                ref = reference_s(spark)
                if traced:
                    tracer.install_wrappers()
                t0 = time.perf_counter()
                ok = True
                try:
                    if it.name == inject_raise:
                        raise RuntimeError("injected failure")
                    if traced:
                        with tracer.span("item", item=p * len(items) + idx):
                            it.run(tracer)
                    else:
                        it.run(None)
                except Exception:
                    ok = False
                    print(f"[perfbench] {it.name} failed:\n{traceback.format_exc()}",
                          file=sys.stderr)
                finally:
                    if traced:
                        tracer.uninstall_wrappers()
                sec = time.perf_counter() - t0
                lat.append(Lat(p, it.name, sec, ref, ok, traced))
        if tracer is not None:
            tracer.harvest()
    return lat


def per_pass(lat: list[Lat], field: str) -> list[float]:
    """Sum of ``field`` over each pass's item runs (closed loop, one client;
    the untimed resets between items excluded)."""
    sums: dict[int, float] = {}
    for r in lat:
        sums[r.pass_no] = sums.get(r.pass_no, 0.0) + getattr(r, field)
    return list(sums.values())


def oracle_conn(data_dir: str):
    import duckdb

    from tests.oracle_diff import duckdb_conn

    con = duckdb_conn(data_dir)
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass  # no ICU: TIMESTAMP WITH TIME ZONE never reaches a check then
    return con


def run_check(check, con) -> str:
    try:
        return check(con)
    except Exception as exc:
        return f"check raised {exc!r}"[:300]


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies of the host so far; their change over the timed
    passes says how much CPU the hypervisor took away while they ran."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def layer_unit(name: str) -> str:
    if name.endswith("_s") or name == "verify.s":
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_util", "_ratio", ".overhead")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spans-out", default="")
    ap.add_argument("--inject", default="", help="raise,mismatch (self-test)")
    args = ap.parse_args(argv)
    t_launch = float(os.environ.get("PERFBENCH_T0", time.time()))

    spark = start_spark(args.run_dir)
    phases = {"session": time.time() - t_launch}
    try:
        t_stage = time.time()
        data_dir = os.path.join(args.run_dir, "inputs", "tables")
        datagen.write_tables(data_dir, args.seed, args.scale)
        if args.workload == "plan_lifecycle":
            root = os.path.join(args.run_dir, "inputs", "plans")
            staged = workloads.stage_plan_inputs(data_dir, root)
            items = workloads.plan_items(spark, data_dir, root, staged)
        else:
            items = workloads.battery_items(spark, data_dir)
        inject = set(args.inject.split(",")) - {""}
        inject_raise = items[0].name if "raise" in inject else ""
        inject_mismatch = next(
            (
                it.name
                for it in items
                if it.check is not None and it.name != inject_raise and "mismatch" in inject
            ),
            "",
        )
        con = oracle_conn(data_dir)
        phases["staging"] = time.time() - t_stage

        # untimed cold pass: first-use code paths, shared frames
        t_cold = time.time()
        spark.range(1).write.format("noop").mode("overwrite").save()
        cold: dict[str, float] = {}
        for it in items:
            it.prepare()
            t0 = time.perf_counter()
            try:
                it.run(None)
            except Exception:
                print(f"[perfbench] cold {it.name} failed:\n{traceback.format_exc()}",
                      file=sys.stderr)
            cold[it.name] = time.perf_counter() - t0
        t_timed = time.time()
        phases["cold"] = t_timed - t_cold
        setup_raw_s = t_timed - t_launch

        n_passes = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        ticks0 = cpu_ticks()
        tracer = None
        n_traced = max(1, n_passes // 2)
        if args.trace:
            # each item runs traced and untraced: half the passes keep the
            # run length, and the untraced runs are trace.overhead's base
            tracer = Tracer(spark)
            both = run_passes(spark, items, n_traced, inject_raise, tracer)
            lat = [r for r in both if not r.traced]
            traced = [r for r in both if r.traced]
        else:
            lat = run_passes(spark, items, n_passes, inject_raise)
        rss = jvm_peak_rss_mb(spark)
        phases["timed"] = time.time() - t_timed
        ticks1 = cpu_ticks()
        steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

        t_check = time.time()
        problems = {it.name: run_check(it.check, con) for it in items if it.check is not None}
        con.close()
        phases["check"] = time.time() - t_check
        if inject_mismatch:
            problems[inject_mismatch] = problems.get(inject_mismatch) or "injected mismatch"
        problems = {k: v for k, v in problems.items() if v}
        for name, problem in problems.items():
            print(f"[perfbench] check {name}: {problem}", file=sys.stderr)

        failed = sum(1 for r in lat if not r.ok or r.name in problems)
        by_item: dict[str, list[Lat]] = {}
        for r in lat:
            by_item.setdefault(r.name, []).append(r)
        ref_s = statistics.median(r.ref for r in lat)
        e2e = {
            # the set-up ran seconds before the timed passes, on the same
            # host: it is normalized by the run's median reference job
            "setup_s": setup_raw_s / ref_s * REF_JOB_S,
            "norm_wall_s": statistics.median(per_pass(lat, "norm")),
            "jvm_peak_rss_mb": rss,
        }
        wall_s = statistics.median(per_pass(lat, "sec"))
        p50_s = statistics.median(r.sec for r in lat)

        print(
            f"# {args.workload} seed={args.seed} passes={n_passes} items={len(lat)} "
            + " ".join(f"{k}={v:.4g}{END_TO_END_UNITS[k]}" for k, v in e2e.items())
            + f" failed_share={failed / len(lat):.4g}share"
            + f" raw: setup_s={setup_raw_s:.4g}s wall_s={wall_s:.4g}s p50_s={p50_s:.4g}s"
            + f" norm_p50_s={statistics.median(r.norm for r in lat):.4g}s"
            + f" ref_job_s={ref_s:.4g}s"
        )
        print("# phases (s): " + " ".join(f"{k}={v:.1f}" for k, v in phases.items())
              + f"; host steal while timed {100 * steal:.1f}%", file=sys.stderr)
        print("# item cold (s): " + " ".join(f"{n}={v:.3f}" for n, v in cold.items()),
              file=sys.stderr)
        print("# pass wall (s): " + " ".join(f"{v:.3f}" for v in per_pass(lat, "sec")),
              file=sys.stderr)
        print(
            "# item p50 raw, normalized (s): "
            + " ".join(
                f"{n}={statistics.median(r.sec for r in v):.3f},"
                f"{statistics.median(r.norm for r in v):.3f}"
                for n, v in by_item.items()
            ),
            file=sys.stderr,
        )
        if tracer is not None:
            layer = tracer.layer_metrics(n_traced, CORES)
            layer["items.wall_s"] = wall_s
            layer["items.p50_s"] = p50_s
            layer["ref.job_s"] = ref_s
            # the battery's two families, timed untraced, per pass: job cuts
            # in relational entries and kernel rewrites move different ones
            if args.workload == "query_battery":
                kernels = set(workloads.QUERY_KERNELS)
                for key, keep in (("queries.sql_s", False), ("queries.kernel_s", True)):
                    layer[key] = sum(r.sec for r in lat if (r.name in kernels) == keep) / n_traced
            else:
                layer["queries.sql_s"] = layer["queries.kernel_s"] = 0.0
            layer["trace.overhead"] = (
                statistics.median(per_pass(traced, "sec")) / wall_s - 1
            )
            if args.spans_out:
                tracer.write(args.spans_out)
            metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(lat),
                    "failed": failed,
                    "metrics": metrics,
                }
            ),
            flush=True,
        )
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
