"""Span recorder and layer wrappers for the traced benchmark run.

A span is (name, start, end, parent, item id).  ``Tracer.span`` opens one:
it sets a Spark job group of its own so that every job the span submits
is attributed to it, and restores the parent's group on exit.  Spans stay
in memory; ``Tracer.harvest`` joins them with the Spark status store after
a pass and ``Tracer.write`` dumps them when the run ends.

``install_wrappers`` wraps each layer's public functions at the module
attribute their callers resolve them through (``runtime.dq_check``,
``parquet_sink.write_parquet``, ``queries.core.shared_frame``, ...).  It
is called only in traced runs, so an untraced run executes the program
unmodified.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: (module, attribute path, layer).  The attribute is replaced on the
#: object that owns it, which is where the program looks it up at call
#: time: names imported at the top of ``runtime`` live there, names
#: ``run_from_plan`` imports inside its body live on their own module.
WRAP_TARGETS: tuple[tuple[str, str, str], ...] = (
    ("agentic_etl_poc_spark.runtime", "run_from_plan", "runtime"),
    ("agentic_etl_poc_spark.runtime", "parse_plan", "plans"),
    ("agentic_etl_poc_spark.plans.planner", "plan_from_prompt", "plans"),
    ("agentic_etl_poc_spark.runtime", "extract", "sources"),
    ("agentic_etl_poc_spark.runtime", "run_steps", "transform"),
    ("agentic_etl_poc_spark.runtime", "run_single_sql", "transform"),
    ("agentic_etl_poc_spark.runtime", "dq_check", "quality"),
    ("agentic_etl_poc_spark.runtime", "write_csv", "sinks"),
    ("agentic_etl_poc_spark.sinks.parquet_sink", "write_parquet", "sinks"),
    ("agentic_etl_poc_spark.runtime", "load_to_postgres", "sinks"),
    ("agentic_etl_poc_spark.runtime", "verify_csv", "verify"),
    ("agentic_etl_poc_spark.sinks.parquet_sink", "verify_parquet", "verify"),
    ("agentic_etl_poc_spark.runtime", "verify_table", "verify"),
    ("agentic_etl_poc_spark.memory", "RunLedger.get_state", "memory"),
    ("agentic_etl_poc_spark.memory", "RunLedger.set_state", "memory"),
    ("agentic_etl_poc_spark.streaming.events", "run_available_now", "streaming"),
)

#: shared_frame is imported under its own name by the query modules that
#: use it; each binding is wrapped to count cache hits.
SHARED_FRAME_TARGETS: tuple[tuple[str, str], ...] = (
    ("agentic_etl_poc_spark.queries.core", "shared_frame"),
    ("agentic_etl_poc_spark.queries.dedup", "_shared_frame"),
)

#: The graph entries keep their checkpointed edge list in a memo of their
#: own, ``graphq._EDGES`` keyed (session, dir); ``shared_edges`` is counted
#: as a hit when the memo already holds the frame.
GRAPH_EDGES_TARGET = ("agentic_etl_poc_spark.queries.graphq", "shared_edges")

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    item: int | None
    end: float = 0.0
    group: str = ""
    jobs: list[int] = field(default_factory=list)


@dataclass
class Job:
    jid: int
    start: float  # epoch seconds
    end: float
    stages: dict[str, float]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self.shared_calls = 0
        self.shared_hits = 0
        self._stack: list[Span] = []
        self._item: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------
    @contextmanager
    def span(self, name: str, item: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if item is not None:
            self._item = item
        sp = Span(
            sid=len(self.spans),
            name=name,
            start=time.time(),
            parent=parent.sid if parent else None,
            item=self._item,
        )
        sp.group = f"perfbench-{sp.sid}"
        self.spans.append(sp)
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            for k, v in zip(_GROUP_KEYS, saved):
                self.sc.setLocalProperty(k, v)
            if item is not None:
                self._item = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_shared(self, fn):
        @functools.wraps(fn)
        def counted(spark, sf_dir, name, build):
            built = []

            def tracked_build():
                built.append(True)
                return build()

            out = fn(spark, sf_dir, name, tracked_build)
            self.shared_calls += 1
            self.shared_hits += 0 if built else 1
            return out

        return counted

    def _wrap_edges(self, fn, memo):
        @functools.wraps(fn)
        def counted(spark, sf_dir):
            hit = sf_dir in memo.get(spark, {})
            out = fn(spark, sf_dir)
            self.shared_calls += 1
            self.shared_hits += 1 if hit else 0
            return out

        return counted

    def install_wrappers(self) -> None:
        for mod_name, path, layer in WRAP_TARGETS:
            owner = importlib.import_module(mod_name)
            *owners, attr = path.split(".")
            for o in owners:
                owner = getattr(owner, o)
            orig = getattr(owner, attr)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, layer))
        for mod_name, attr in SHARED_FRAME_TARGETS:
            owner = importlib.import_module(mod_name)
            orig = getattr(owner, attr)
            self._undo.append((owner, attr, orig))
            setattr(owner, attr, self._wrap_shared(orig))
        mod_name, attr = GRAPH_EDGES_TARGET
        owner = importlib.import_module(mod_name)
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, self._wrap_edges(orig, owner._EDGES))

    def uninstall_wrappers(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- Spark counters ----------------------------------------------
    def harvest(self) -> None:
        """Read every job the status store holds, attribute it to the span
        whose job group submitted it, and keep its stage counters.  Jobs
        that carry a group of their own (a streaming query sets its run
        id as the group) go to the innermost span open when they were
        submitted."""
        store = self.sc._jsc.sc().statusStore()
        by_group = {sp.group: sp for sp in self.spans}
        seen = set(self.jobs)
        jobs = store.jobsList(None)  # a Scala Seq: index it, py4j cannot iterate it
        for k in range(jobs.size()):
            jd = jobs.apply(k)
            jid = int(jd.jobId())
            if jid in seen or not jd.submissionTime().isDefined():
                continue
            if not jd.completionTime().isDefined():
                continue
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            group = jd.jobGroup().get() if jd.jobGroup().isDefined() else ""
            owner = by_group.get(group) or self._innermost(start)
            if owner is None:
                continue
            stage_ids = jd.stageIds()
            stages = {
                "stages": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0,
                "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0, "output_bytes": 0,
                "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            }
            for i in range(stage_ids.size()):
                try:
                    sd = store.lastStageAttempt(int(stage_ids.apply(i)))
                except Exception:  # stage never ran (skipped): no attempt
                    continue
                if sd.numCompleteTasks() + sd.numFailedTasks() == 0:
                    continue
                stages["stages"] += 1
                stages["tasks"] += int(sd.numTasks())
                stages["failed_tasks"] += int(sd.numFailedTasks())
                stages["run_s"] += sd.executorRunTime() / 1000.0
                stages["cpu_s"] += sd.executorCpuTime() / 1e9
                stages["gc_s"] += sd.jvmGcTime() / 1000.0
                stages["input_bytes"] += int(sd.inputBytes())
                stages["output_bytes"] += int(sd.outputBytes())
                stages["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
                stages["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
                stages["spill_bytes"] += int(sd.memoryBytesSpilled()) + int(
                    sd.diskBytesSpilled()
                )
            self.jobs[jid] = Job(jid, start, end, stages)
            owner.jobs.append(jid)

    def _innermost(self, t: float) -> Span | None:
        best = None
        for sp in self.spans:
            if sp.item is not None and sp.start <= t <= sp.end:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    # -- reduction -----------------------------------------------------
    def self_time(self, sp: Span) -> float:
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.sid]
        return (sp.end - sp.start) - _union_length(kids)

    def layer_metrics(self, n_passes: int, cores: int) -> dict[str, float]:
        """Per-pass totals of every per-layer metric over the spans
        recorded so far."""
        jobs_of: dict[str, list[int]] = {}
        self_s: dict[str, float] = {}
        for sp in self.spans:
            jobs_of.setdefault(sp.name, []).extend(sp.jobs)
            self_s[sp.name] = self_s.get(sp.name, 0.0) + self.self_time(sp)

        def total(key: str, jids) -> float:
            return sum(self.jobs[j].stages[key] for j in jids)

        all_jobs = list(self.jobs)
        items = [sp for sp in self.spans if sp.name == "item"]
        item_wall = sum(sp.end - sp.start for sp in items)
        gap = 0.0
        for it in items:
            jids = [j for sp in self.spans if sp.item == it.item for j in sp.jobs]
            spans = [
                (max(self.jobs[j].start, it.start), min(self.jobs[j].end, it.end))
                for j in jids
            ]
            gap += (it.end - it.start) - _union_length([s for s in spans if s[1] > s[0]])
        run_s = total("run_s", all_jobs)
        calls = self.shared_calls
        m = {
            "spark.jobs": len(all_jobs),
            "spark.stages": total("stages", all_jobs),
            "spark.tasks": total("tasks", all_jobs),
            "spark.failed_tasks": total("failed_tasks", all_jobs),
            "spark.driver_gap_s": gap,
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": total("cpu_s", all_jobs),
            "spark.gc_s": total("gc_s", all_jobs),
            "spark.input_bytes": total("input_bytes", all_jobs),
            "spark.shuffle_read_bytes": total("shuffle_read_bytes", all_jobs),
            "spark.shuffle_write_bytes": total("shuffle_write_bytes", all_jobs),
            "spark.spill_bytes": total("spill_bytes", all_jobs),
            "plans.parse_s": self_s.get("plans", 0.0),
            "sources.extract_s": self_s.get("sources", 0.0),
            "sources.jobs": len(jobs_of.get("sources", [])),
            "transform.analyze_s": self_s.get("transform", 0.0),
            "quality.dq_s": self_s.get("quality", 0.0),
            "quality.jobs": len(jobs_of.get("quality", [])),
            "sinks.load_s": self_s.get("sinks", 0.0),
            "sinks.jobs": len(jobs_of.get("sinks", [])),
            "sinks.output_bytes": total("output_bytes", jobs_of.get("sinks", [])),
            "verify.s": self_s.get("verify", 0.0),
            "verify.jobs": len(jobs_of.get("verify", [])),
            "memory.ledger_s": self_s.get("memory", 0.0),
            "streaming.drain_s": self_s.get("streaming", 0.0),
            "runtime.self_s": self_s.get("runtime", 0.0),
            "queries.build_s": self_s.get("queries.build", 0.0),
            "queries.build_jobs": len(jobs_of.get("queries.build", [])),
            "queries.force_s": self_s.get("queries.force", 0.0),
            "queries.force_jobs": len(jobs_of.get("queries.force", [])),
        }
        out = {k: v / n_passes for k, v in m.items()}
        out["spark.core_util"] = run_s / (item_wall * cores) if item_wall else 0.0
        out["queries.shared_frame_hit_ratio"] = self.shared_hits / calls if calls else 0.0
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "name": sp.name, "start": sp.start, "end": sp.end,
                            "parent": sp.parent, "item": sp.item, "jobs": sp.jobs,
                        }
                    )
                    + "\n"
                )
