"""In-memory span tracer for the traced benchmark run.

The tracer wraps public functions of the program's modules from the
outside (the program itself is not changed) and records one span per
call: name, start, end, parent span and the operation it belongs to.
Each span runs its Spark jobs under its own job group, so after the run
the jobs, stages, tasks and shuffle bytes read from Spark's status
store can be attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import threading
import time
from dataclasses import dataclass, field

# (module, attribute path, span name).  A dotted attribute path patches
# a method on a class.  Functions a caller imports by name are patched
# in the caller's namespace as well (``client.parse``).
TARGETS = [
    ("pg_age_digitaltwins_spark.http_api", "ApiService.handle", "http_api.handle"),
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.query", "client.query"),
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.query_df", "client.query_df"),
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.get_digital_twin", "client.get_digital_twin"),
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.update_digital_twin", "client.update_digital_twin"),
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.create_or_replace_digital_twins", "client.create_or_replace_digital_twins"),
    ("pg_age_digitaltwins_spark.client", "DigitalTwinsSparkClient.commit", "client.commit"),
    ("pg_age_digitaltwins_spark.client", "parse", "adtql.parse"),
    ("pg_age_digitaltwins_spark.adtql.compiler", "QueryCompiler.compile", "adtql.compile"),
    ("pg_age_digitaltwins_spark.cypher", "compile_cypher", "cypher.compile"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "pagerank", "graph_analytics.pagerank"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "connected_components", "graph_analytics.connected_components"),
    ("pg_age_digitaltwins_spark.operators.graph_analytics", "strongly_connected_components", "graph_analytics.strongly_connected_components"),
    ("pg_age_digitaltwins_spark.crud", "get_twin", "crud.get_twin"),
    ("pg_age_digitaltwins_spark.crud", "update_twin", "crud.update_twin"),
    ("pg_age_digitaltwins_spark.crud", "create_twins_batch", "crud.create_twins_batch"),
    ("pg_age_digitaltwins_spark.store.commit_log", "commit_cow", "commit_log.commit_cow"),
    ("pg_age_digitaltwins_spark.store.commit_log", "commit_snapshot", "commit_log.commit_snapshot"),
    ("pg_age_digitaltwins_spark.store.commit_log", "load_latest", "commit_log.load_latest"),
    ("pg_age_digitaltwins_spark.streaming.sinks", "run_change_stream", "streaming.run_change_stream"),
    ("pg_age_digitaltwins_spark.streaming.sinks", "EventRouter.foreach_batch", "streaming.foreach_batch"),
    ("pg_age_digitaltwins_spark.streaming.replica", "replicate_catch_up", "replica.replicate_catch_up"),
    ("pg_age_digitaltwins_spark.streaming.replica", "apply_changes_to_replica", "replica.apply_changes_to_replica"),
    ("pg_age_digitaltwins_spark.store.tpch_loader", "load_graph", "loader.load_graph"),
    ("pg_age_digitaltwins_spark.store.graph_store", "GraphStore.save_bucketed", "loader.save_bucketed"),
]

@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    phase: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Span recorder.  ``enabled`` switches recording on and off
    without unpatching, so one process can time an untraced pass and a
    traced pass of the same schedule."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        # a callback thread (a streaming micro-batch) has no stack of
        # its own: its spans hang under the main thread's open span
        outer = stack or self._main_stack
        span = Span(
            next(self._ids), name, outer[-1].sid if outer else None, self.op,
            self.phase, time.perf_counter(),
        )
        stack.append(span)
        self.sc.setJobGroup(f"pb-{span.sid}", name)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if stack:
            self.sc.setJobGroup(f"pb-{stack[-1].sid}", stack[-1].name)
        else:
            self.sc._jsc.clearJobGroup()
        self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        span = self.begin(name)
        try:
            yield span
        finally:
            self.end(span)

    # -- patching ------------------------------------------------------
    def install(self) -> None:
        for mod_name, path, span_name in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            setattr(owner, attr, self._wrap(orig, span_name))

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return traced

    # -- Spark attribution ---------------------------------------------
    def attribute_jobs(self) -> dict[int, dict]:
        """Read every retained job from Spark's status store and attach
        it to the span whose job group it ran under.  Returns per-job
        ``{stages, tasks, shuffle_write_bytes}``; a stage reused by a
        later job (skipped there) counts once, for the job that ran it."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        by_span = {s.sid: s for s in self.spans}
        info: dict[int, dict] = {}
        seen_stages: set[int] = set()
        rows = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            sids = j.stageIds()
            rows.append((j.jobId(), j, [sids.apply(k) for k in range(sids.size())]))
        for job_id, j, stage_ids in sorted(rows, key=lambda r: r[0]):
            ran = [s for s in stage_ids if s not in seen_stages]
            shuffle = 0
            for sid in ran:
                try:
                    shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
                except Exception:  # noqa: BLE001 - stage never ran (skipped)
                    pass
            seen_stages.update(ran)
            info[job_id] = {
                "stages": j.numCompletedStages(),
                "tasks": j.numCompletedTasks(),
                "shuffle_write_bytes": shuffle,
            }
            group = j.jobGroup()
            if group.isDefined() and group.get().startswith("pb-"):
                span = by_span.get(int(group.get()[3:]))
                if span is not None:
                    span.jobs.append(job_id)
        return info


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = (s.end - s.start) - covered
    return out


def inclusive_jobs(spans: list[Span]) -> dict[int, list[int]]:
    """Jobs of each span plus those of all its descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.sid)
    by_id = {s.sid: s for s in spans}
    memo: dict[int, list[int]] = {}

    def walk(sid: int) -> list[int]:
        if sid not in memo:
            jobs = list(by_id[sid].jobs)
            for c in children.get(sid, ()):
                jobs.extend(walk(c))
            memo[sid] = jobs
        return memo[sid]

    return {s.sid: walk(s.sid) for s in spans}
