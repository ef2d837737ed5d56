"""Turns one run's ops, spans and probes into the metrics it prints.

End-to-end metrics come from the timed rounds of an untraced run;
per-layer metrics from the traced rounds of a ``--trace 1`` run (see
``perfbench/README.md`` for what each one means and which end-to-end
metric it should move).
"""

from __future__ import annotations

import math
import statistics
import sys
from dataclasses import dataclass, field

import numpy as np

from spans import inclusive_jobs, self_times

# layers whose share of the traced op time is reported; "op" is the
# benchmark's own code inside an op (reported as "bench")
SELF_PCT_LAYERS = [
    "http_api", "client", "adtql", "cypher", "graph_analytics", "crud",
    "commit_log", "streaming", "replica", "op",
]


@dataclass
class RunContext:
    workload: str
    seed: int
    trace: bool
    setup_s: float
    build_s: float
    session_s: float
    calib_s: float
    layout_bytes: int
    steal_s: float
    rss_peak_mb: float
    passes: list[dict]
    extra: dict[str, list[float]]
    errors: list[str]
    rounds: int
    spans: list = field(default_factory=list)
    job_info: dict = field(default_factory=dict)
    input_rows: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)
    warmup_ops: list = field(default_factory=list)


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _mean(values) -> float:
    values = list(values)
    return float(sum(values) / len(values)) if values else 0.0


def _lat(ops, kinds) -> list[float]:
    return [o.seconds * 1000 for o in ops if o.kind in kinds]


def _per_query_gm(ops, kind: str) -> tuple[float, int]:
    """Geometric mean over queries of each query's median latency (ms),
    so every query of the mix weighs the same however many pages it
    has; and the number of pages behind it."""
    by_query: dict[str, list[float]] = {}
    for o in ops:
        if o.kind == kind:
            by_query.setdefault(o.label, []).append(o.seconds * 1000)
    if not by_query:
        return 0.0, 0
    logs = [math.log(_median(v)) for v in by_query.values()]
    return math.exp(sum(logs) / len(logs)), sum(len(v) for v in by_query.values())


def end_to_end(ctx: RunContext, ops) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, samples)."""
    busy = sum(o.seconds for o in ops)
    gets = _lat(ops, ("get",))
    first, n_first = _per_query_gm(ops, "query_first")
    nxt, n_next = _per_query_gm(ops, "query_next")
    return {
        "setup_s": (ctx.setup_s, "s", 1),
        "ops_per_s": (len(ops) / busy, "op/s", len(ops)),
        "cpu_s_per_op": (sum(o.cpu_s for o in ops) / len(ops), "s/op", len(ops)),
        "point_get_p50_ms": (_median(gets), "ms", len(gets)),
        "query_first_page_ms": (first, "ms", n_first),
        "query_next_page_ms": (nxt, "ms", n_next),
    }


def diagnostics(ops, extra) -> dict[str, tuple[float, str, int]]:
    """Median and p95 latency of every op kind, and the medians of the
    per-op notes (drain phases, change delivery); printed and kept in
    the artifact, not gated."""
    out = {}
    for kind, label in (
        ("patch", "write_ack"), ("batch", "batch_ack"), ("commit", "commit"),
        ("drain", "drain"), ("replicate", "replication"), ("analytics", "analytics_call"),
        ("get", "point_get"), ("query_first", "query_first_page"),
        ("query_next", "query_next_page"),
    ):
        lat = _lat(ops, (kind,))
        if lat:
            out[f"{label}_p50_ms"] = (_median(lat), "ms", len(lat))
            out[f"{label}_p95_ms"] = (float(np.percentile(lat, 95)), "ms", len(lat))
    for key, vals in sorted(extra.items()):
        if key.endswith("_ms"):
            out[key.replace("_ms", "_p50_ms")] = (_median(vals), "ms", len(vals))
    return out


def per_layer(ctx: RunContext, untraced: dict, traced: dict) -> dict[str, tuple[float, str]]:
    ops = traced["ops"]
    spans = [s for s in ctx.spans if s.phase == "measure"]
    selfs = self_times(spans)
    incl = inclusive_jobs(spans)
    info = ctx.job_info
    children: dict[int | None, list] = {}
    for span in spans:
        children.setdefault(span.parent, []).append(span)

    def by_name(name):
        return [s for s in spans if s.name == name]

    def mean_ms(name):
        return _mean((s.end - s.start) * 1000 for s in by_name(name))

    def jobs_sum(jobs, key):
        return sum(info.get(j, {}).get(key, 0) for j in jobs)

    op_spans = [s for s in spans if s.name.startswith("op.")]
    op_time = sum(s.end - s.start for s in op_spans) or 1.0
    pages = [incl[s.sid] for s in op_spans if s.name in ("op.query_first", "op.query_next")]
    http = by_name("http_api.handle")
    n_query_df = len(by_name("client.query_df"))
    n_compiles = len(by_name("adtql.compile")) + len(by_name("cypher.compile"))

    m: dict[str, tuple[float, str]] = {
        "http_api.self_ms": (_mean(selfs[s.sid] * 1000 for s in http), "ms"),
        "http_api.response_bytes": (
            _mean(ctx.extra.get("http_api.response_bytes", [])), "bytes"
        ),
        "client.query_ms": (mean_ms("client.query"), "ms"),
        "client.query_df_ms": (mean_ms("client.query_df"), "ms"),
        "client.plan_cache_hit_ratio": (
            1.0 - n_compiles / n_query_df if n_query_df else 0.0, "ratio"
        ),
        "adtql.parse_ms": (mean_ms("adtql.parse"), "ms"),
        "adtql.compile_ms": (mean_ms("adtql.compile"), "ms"),
        "cypher.compile_ms": (mean_ms("cypher.compile"), "ms"),
        "crud.get_twin_ms": (mean_ms("crud.get_twin"), "ms"),
        "spark.jobs_per_page": (_mean(len(j) for j in pages), "count"),
        "spark.stages_per_page": (_mean(jobs_sum(j, "stages") for j in pages), "count"),
        "spark.tasks_per_page": (_mean(jobs_sum(j, "tasks") for j in pages), "count"),
    }

    # PageRank calls: jobs run inside query_df (compile plus the
    # kernel's eager build) versus jobs of the collect that follows
    calls = [incl[s.sid] for s in op_spans if s.name == "op.analytics"]
    pre = [
        sum(
            len(incl[d.sid])
            for d in _descendants(s.sid, children) if d.name == "client.query_df"
        )
        for s in op_spans if s.name == "op.analytics"
    ]
    m["spark.jobs_pre_action"] = (_mean(pre), "count")
    m["spark.jobs_action"] = (_mean(len(j) for j in calls) - _mean(pre), "count")
    m["graph_analytics.pagerank.jobs"] = (_mean(len(j) for j in calls), "count")
    m["graph_analytics.pagerank.stages"] = (_mean(jobs_sum(j, "stages") for j in calls), "count")
    m["graph_analytics.pagerank.shuffle_write_bytes"] = (
        _mean(jobs_sum(j, "shuffle_write_bytes") for j in calls), "bytes"
    )

    for key, unit in (
        ("commit_log.bytes_written_per_commit", "bytes"),
        ("commit_log.files_written_per_commit", "count"),
        ("commit_log.bytes_per_user_byte", "ratio"),
        ("streaming.batches_per_drain", "count"),
    ):
        m[key] = (_mean(ctx.extra.get(key, [])), unit)

    # where the traced ops spent their time, by layer self time; what
    # no program span covers (the benchmark's own code) is "bench"
    for layer in SELF_PCT_LAYERS:
        share = sum(selfs[s.sid] for s in spans if s.layer == layer) / op_time
        m[f"{'bench' if layer == 'op' else layer}.self_pct"] = (100.0 * share, "%")

    m["loader.build_s"] = (ctx.build_s, "s")
    m["loader.bytes_on_disk"] = (float(ctx.layout_bytes), "bytes")
    m["session.start_s"] = (ctx.session_s, "s")
    m["host.calib_s"] = (ctx.calib_s, "s")
    m["jvm.gc_ms"] = (traced["gc_ms"], "ms")
    m["jvm.heap_peak_mb"] = (traced["heap_peak_mb"], "MB")
    m["process.rss_peak_mb"] = (ctx.rss_peak_mb, "MB")
    u = len(untraced["ops"]) / sum(o.seconds for o in untraced["ops"])
    t = len(ops) / sum(o.seconds for o in ops)
    m["trace.overhead_pct"] = (100.0 * (u / t - 1.0), "%")
    return m


def _descendants(sid: int, children: dict) -> list:
    out, stack = [], list(children.get(sid, ()))
    while stack:
        s = stack.pop()
        out.append(s)
        stack.extend(children.get(s.sid, ()))
    return out


def build(ctx: RunContext) -> dict:
    ops = [o for p in ctx.passes for o in p["ops"]]
    failed = sum(1 for o in ops if not o.ok)
    if ctx.trace:
        metrics = per_layer(ctx, ctx.passes[0], ctx.passes[1])
        named = {k: (v, u, None) for k, (v, u) in metrics.items()}
    else:
        named = end_to_end(ctx, ctx.passes[0]["ops"])
    _print_table(ctx, named, diagnostics(ops, ctx.extra))
    for e in ctx.errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    return {
        "correct": not ctx.errors,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in named.items()},
    }


def _print_table(ctx: RunContext, named: dict, diag: dict) -> None:
    mode = "per-layer (traced)" if ctx.trace else "end-to-end"
    print(
        f"# {ctx.workload} seed={ctx.seed} rounds={ctx.rounds} {mode} "
        f"calib_s={ctx.calib_s:.3f} steal_s={ctx.steal_s:.2f}"
    )
    for name, (v, unit, n) in named.items():
        print(f"  {name:46s} {v:14.4f} {unit:6s}" + (f" n={n}" if n is not None else ""))
    print("# phases " + " ".join(f"{k}={v:.1f}s" for k, v in ctx.phases.items()))
    print("# diagnostics (not gated)")
    for name, (v, unit, n) in diag.items():
        print(f"  {name:46s} {v:14.4f} {unit:6s} n={n}")


def artifact(ctx: RunContext, result: dict) -> dict:
    ops = [o for p in ctx.passes for o in p["ops"]]
    return {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": ctx.trace,
        "result": result,
        "diagnostics": {k: v for k, (v, _, _) in diagnostics(ops, ctx.extra).items()},
        "setup_s": ctx.setup_s,
        "build_s": ctx.build_s,
        "session_start_s": ctx.session_s,
        "calibration_s": ctx.calib_s,
        "steal_s": ctx.steal_s,
        "input_rows": ctx.input_rows,
        "phases_s": ctx.phases,
        "errors": ctx.errors,
        "ops": [o.__dict__ for o in ops],
        "warmup_ops": [o.__dict__ for o in ctx.warmup_ops],
    }
