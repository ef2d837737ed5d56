#!/usr/bin/env python3
"""Benchmark of the digital-twins engine: one workload per process.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run it from the repository root.  It generates its input tables from
``--seed``, starts Spark on ``local[<cores>]``, builds the graph layout
into a run-private cache (``setup_s`` covers session start, build and
service construction), runs
one untimed warm-up round and then the timed rounds of the workload,
checking every output.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  A
human-readable table with sample counts goes before it, and a JSON
record of the run (plus its spans when traced) is kept under
``.perfbench_work/artifacts/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

import numpy as np

import datagen
import probes
import procs
import report
import spans as tracing
import workloads as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("serve_read", "write_commit_stream")

# Timed rounds per run = round(seconds / ROUND_S), at least one: a round
# of either workload takes about this long.  Fixing the count (not
# "rounds until time runs out") keeps the op mix the same in every run.
ROUND_S = 10.0
DRIVER_MEMORY = "2g"
# A caller allows a run 180 s.  Past this many seconds the run stops
# Spark, ends its processes and exits 3 without a result.
DEADLINE_S = 150


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every file Spark, its Python workers and the engine write
    into the run's private directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every job of the run back from the
        # status store; keep them all in both modes
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # a fixed-size heap, so no resizing pattern differs run to run;
        # no perf-data file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
    }
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    tempfile.tempdir = tmp
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # spark-submit's launcher JVM would write its perf data under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # Spark's Python workers import the engine (mapInPandas
        # formatters) from wherever the benchmark is started
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        PYSPARK_SUBMIT_ARGS=f"{submit} pyspark-shell",
    )


def build_layout(spark, data_dir: str, cache_dir: str):
    """One set-up: build the bucketed layout with the code under test
    into an empty cache and load it.  Returns (store, seconds, bytes)."""
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph

    os.environ["SPARK_GRAFT_CACHE"] = cache_dir
    t0 = time.perf_counter()
    store = load_graph(spark, data_dir)
    seconds = time.perf_counter() - t0
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(cache_dir)
        for f in files
    )
    return store, seconds, size


def run(args) -> dict:
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        ctx = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = report.build(ctx)
    artifacts = os.path.join(WORK_ROOT, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    stem = os.path.join(
        artifacts,
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}",
    )
    with open(stem + ".json", "w") as f:
        json.dump(report.artifact(ctx, result), f, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for span in ctx.spans:
                f.write(json.dumps(span.__dict__) + "\n")
    return result


def measure(args, work: str):
    """Set up, warm up and run the timed rounds; returns the run's
    record for ``report``."""
    from bench import calibration_probe
    from pg_age_digitaltwins_spark import DigitalTwinsSparkClient, get_spark
    from pg_age_digitaltwins_spark.http_api import ApiService

    configure_env(work)
    steal0 = probes.steal_s()
    data_dir = os.path.join(work, "data")
    rows = datagen.generate(data_dir, args.seed)

    procs.adopt_orphans()
    procs.die_with_parent()
    spark, phases = None, {}
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = phases["session"] = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = tracing.Tracer(spark)
        if args.trace:
            tracer.install()
            tracer.enabled = True
        # set-up: what a service pays before its first request, with the
        # layout built from scratch by the code under test
        t0 = time.perf_counter()
        store, build_s, layout_bytes = build_layout(
            spark, data_dir, os.path.join(work, "layout")
        )
        if args.workload == "write_commit_stream":
            from pg_age_digitaltwins_spark.store.commit_log import (
                commit_snapshot,
                load_latest,
            )

            root = os.path.join(work, "commit-log")
            commit_snapshot(store, root)
            store, _ = load_latest(spark, root)
        client = DigitalTwinsSparkClient(store)
        api = ApiService(client)
        phases["setup"] = time.perf_counter() - t0
        setup_s = session_s + phases["setup"]
        calib = calibration_probe(spark)
        calib_s = calib["spin_s"] + calib["shuffle_s"]

        s = wl.Session(
            spark=spark, api=api, client=client, tracer=tracer,
            rng=np.random.default_rng(args.seed), work=work,
        )
        if args.workload == "serve_read":
            ids = {
                prefix: [f"{prefix}-{k}" for k in range(rows[table])]
                for prefix, table in (
                    ("cust", "customer"), ("supp", "supplier"), ("part", "part"),
                    ("order", "orders"), ("nation", "nation"),
                )
            }
            w = wl.ServeRead(s, ids, data_dir)
        else:
            w = wl.WriteCommitStream(
                s, root, [f"cust-{k}" for k in range(rows["customer"])]
            )
        t0 = time.perf_counter()
        w.prepare()
        phases["prepare"] = time.perf_counter() - t0

        s.round = -1
        tracer.phase = "warmup"
        t0 = time.perf_counter()
        w.round(warmup=True)  # every op kind at least once, untimed
        phases["warmup"] = time.perf_counter() - t0
        warmup_ops = list(s.ops)
        s.ops.clear()

        n_rounds = max(1, round(args.seconds / ROUND_S))
        jvm = probes.JvmProbe(spark)
        passes = []
        tracer.phase = "measure"
        for traced in ([False, True] if args.trace else [False]):
            tracer.enabled = traced
            jvm.reset_heap_peak()
            gc0, first_op, t_pass = jvm.gc_ms(), len(s.ops), time.perf_counter()
            s.measuring = traced or not args.trace
            for _ in range(n_rounds):
                s.round += 1
                w.round()
            passes.append({
                "ops": s.ops[first_op:],
                "wall_s": time.perf_counter() - t_pass,
                "gc_ms": jvm.gc_ms() - gc0,
                "heap_peak_mb": jvm.heap_peak_mb(),
            })
        phases["measure"] = sum(p["wall_s"] for p in passes)
        tracer.enabled = False
        job_info = tracer.attribute_jobs() if args.trace else {}
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        rss_mb = probes.rss_peak_mb([os.getpid()] + ([jvm_pid.pid] if jvm_pid else []))
    finally:
        t0 = time.perf_counter()
        with procs.signals_deferred():
            procs.stop_spark(spark)
        phases["stop"] = time.perf_counter() - t0

    return report.RunContext(
        workload=args.workload, seed=args.seed, trace=bool(args.trace),
        setup_s=setup_s, build_s=build_s, session_s=session_s, calib_s=calib_s,
        layout_bytes=layout_bytes, steal_s=probes.steal_s() - steal0,
        rss_peak_mb=rss_mb, passes=passes, extra=s.extra, errors=s.errors,
        rounds=n_rounds, spans=tracer.spans, job_info=job_info, input_rows=rows,
        phases=phases, warmup_ops=warmup_ops,
    )


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        print("--seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("pg_age_digitaltwins_spark") is None or not os.path.exists(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(
            f"pg_age_digitaltwins_spark not found under {ROOT}: "
            "run the benchmark from the repository root",
            file=sys.stderr,
        )
        return 2
    procs.install_abort_handlers(DEADLINE_S)
    try:
        result = run(args)
        signal.alarm(0)
    except procs.Abort as e:
        print(f"run stopped by {e} before it ended; no result", file=sys.stderr)
        return 3
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
