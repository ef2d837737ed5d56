"""bench.py harness hardening (r11).

The r10 driver bench died rc=1 with ZERO recorded numbers because one
group raised an uncaught AnalysisException.  These tests pin the fix:

- a failing group records ``{"error": ...}`` under its key and every
  other group still lands in a JSON-serializable output dict;
- a fatal error in main() prints the exception message FIRST to stdout,
  then still prints a JSON line, then exits nonzero.
"""

import json

import pytest

import bench


def _stub_queries(spark, fail_key=None):
    """A minimal queries() board: every key returns a 5-row range; the
    fail_key raises at plan-build time."""

    def ok(_spark, _sf):
        return spark.range(5)

    def boom(_spark, _sf):
        raise ValueError("injected group failure")

    keys = [
        "adt_count_twins",
        "k_head_a",
        "k_head_b",
        "k_ana_a",
    ]
    qs = {k: ok for k in keys}
    if fail_key:
        qs[fail_key] = boom
    return qs


@pytest.fixture(autouse=True)
def _fast_bench(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SKIP_SF1", "1")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "1")
    monkeypatch.setenv("SPARK_GRAFT_ANALYTICS_RUNS", "1")


def test_failing_group_does_not_lose_the_line(spark):
    qs = _stub_queries(spark, fail_key="k_head_a")
    out = bench.run_benchmarks(
        spark,
        qs,
        headline=["k_head_a", "k_head_b"],
        analytics=["k_ana_a"],
        cdc_fn=lambda: {"events_per_sec": 1.0},
        repl_fn=lambda: {"rows_per_sec": 1.0},
    )
    # the failed group records its error...
    assert "error" in out["queries"]
    assert "injected group failure" in out["queries"]["error"]
    # ...and every other group still landed
    assert "k_ana_a" in out["analytics"]
    assert out["cdc"] == {"events_per_sec": 1.0}
    assert out["replication"] == {"rows_per_sec": 1.0}
    # the line itself is printable
    line = json.dumps(out)
    assert json.loads(line)["metric"] == "headline_total_wall"


def test_failing_cdc_group_is_isolated(spark):
    qs = _stub_queries(spark)

    def cdc_boom():
        raise RuntimeError("broker exploded")

    out = bench.run_benchmarks(
        spark,
        qs,
        headline=["k_head_a"],
        analytics=["k_ana_a"],
        cdc_fn=cdc_boom,
        repl_fn=lambda: {"rows_per_sec": 2.0},
    )
    assert "broker exploded" in out["cdc"]["error"]
    assert out["value"] is not None  # headline measured and summed
    assert out["replication"] == {"rows_per_sec": 2.0}
    json.dumps(out)


def test_main_fatal_prints_message_then_json(monkeypatch, capsys):
    def get_spark_boom(_name):
        raise RuntimeError("cluster on fire")

    monkeypatch.setattr(bench, "get_spark", get_spark_boom)
    with pytest.raises(SystemExit) as ei:
        bench.main()
    assert ei.value.code == 1
    lines = capsys.readouterr().out.strip().splitlines()
    # message FIRST (the r10 artifact captured only a stack tail)
    assert lines[0].startswith("BENCH FATAL: RuntimeError: cluster on fire")
    # a JSON line still closes the output
    parsed = json.loads(lines[-1])
    assert parsed["fatal"].startswith("RuntimeError: cluster on fire")
    assert parsed["metric"] == "headline_total_wall"


def test_compact_summary_small_and_complete(spark):
    """r12 (verdict #5): the trailing compact record is < 1,500 chars
    (the driver tail-captures 2,000) and carries headline value,
    per-group totals, and the louvain min/spread/isolated triple."""
    qs = _stub_queries(spark)
    qs["graph_louvain"] = qs["k_ana_a"]
    out = bench.run_benchmarks(
        spark,
        qs,
        headline=["k_head_a", "k_head_b"],
        analytics=["k_ana_a", "graph_louvain"],
        cdc_fn=lambda: {
            "events_per_sec": 1.0,
            "tuned": {"steady_events_per_sec": 9.9},
        },
        repl_fn=lambda: {"rows_per_sec": 2.0},
    )
    c = bench.compact_summary(out)
    line = json.dumps(c)
    assert len(line) < 1500, f"compact line is {len(line)} chars"
    assert c["compact"] is True
    assert c["value"] == out["value"]
    # r17: the driver parses the LAST JSON line — the compact record
    # must carry the per-key queries dict (headline + analytics) or the
    # driver's per-query and core-count-scaling comparisons get nothing
    assert c["queries"] == {**out["queries"], **out["analytics"]}
    assert c["groups"]["queries_total"] == out["value"]
    assert c["groups"]["cdc_tuned_steady_events_per_sec"] == 9.9
    assert c["groups"]["replication_rows_per_sec"] == 2.0
    # louvain carries min + isolated-first (spread needs > 1 pass —
    # this run is RUNS=1, so spread is absent/None)
    assert c["louvain"]["min"] == out["analytics"]["graph_louvain"]
    assert c["louvain"]["isolated_first"] is not None
    # r16 (verdict #5): the fixed-work contention calibration runs
    # first and rides the compact line — a contended driver pass is
    # readable from the artifact without CDC cross-referencing
    assert out["calibration"]["spin_s"] > 0
    assert out["calibration"]["shuffle_s"] > 0
    assert c["calib"] == out["calibration"]


def test_compact_summary_length_guard_and_disjoint_groups():
    """The compact line stays under its cap on a board too large for
    it by dropping per-key walls in reverse name order (the same keys
    on every run), and refuses to merge groups that share a key."""
    heads = {f"headline_key_{i:03d}": 1.0 + i for i in range(60)}
    anas = {f"analytics_key_{i:03d}": 2.0 + i for i in range(60)}
    out = {"metric": "headline_total_wall", "value": 1.0, "unit": "sec",
           "sf": "x", "queries": heads, "analytics": anas}
    c = bench.compact_summary(out)
    assert len(json.dumps(c)) < bench.COMPACT_LINE_CAP
    kept = sorted(c["queries"])
    assert kept and c["queries_dropped"] == 120 - len(kept)
    assert kept == sorted({**heads, **anas})[: len(kept)]
    # the totals still cover every key
    assert c["groups"]["queries_total"] == round(sum(heads.values()), 3)
    # a board that fits drops nothing
    small = bench.compact_summary({**out, "queries": {"a": 1.0},
                                   "analytics": {"b": 2.0}})
    assert small["queries"] == {"a": 1.0, "b": 2.0}
    assert "queries_dropped" not in small
    with pytest.raises(ValueError, match="k_shared"):
        bench.compact_summary({**out, "queries": {"k_shared": 1.0},
                               "analytics": {"k_shared": 2.0}})


def test_isolated_first_pass_recorded_and_counts_toward_min(spark):
    """r12 (verdict #2): the slowest key runs once BEFORE the analytics
    group; its wall lands in analytics_isolated_first and participates
    in the recorded min; per-key spread is recorded when > 1 pass."""
    qs = _stub_queries(spark)
    qs["graph_louvain"] = qs["k_ana_a"]
    out = bench.run_benchmarks(
        spark,
        qs,
        headline=["k_head_a"],
        analytics=["graph_louvain", "k_ana_a"],
        cdc_fn=lambda: {"events_per_sec": 1.0},
        repl_fn=lambda: {"rows_per_sec": 1.0},
    )
    iso = out["analytics_isolated_first"]
    assert set(iso) == {"graph_louvain"}
    # min over (isolated pass + group passes)
    assert out["analytics"]["graph_louvain"] <= iso["graph_louvain"]
    # spread exists for the isolated key (2+ samples even at RUNS=1)
    assert "graph_louvain" in out["analytics_spread"]
    assert out["analytics_spread"]["graph_louvain"] >= 0.0
    json.dumps(out)


def test_main_success_prints_full_then_compact(monkeypatch, capsys, spark):
    """The success path ends with the compact line — a 2,000-char tail
    capture always ends with parseable numbers."""
    monkeypatch.setattr(bench, "get_spark", lambda _name: spark)
    monkeypatch.setattr(
        bench.entrymod, "queries", lambda: _stub_queries(spark)
    )
    monkeypatch.setattr(
        bench, "run_benchmarks",
        lambda s, q, **kw: {
            "metric": "headline_total_wall", "value": 1.23, "unit": "sec",
            "sf": "x", "queries": {"k": 1.23},
        },
    )
    monkeypatch.setattr(spark, "stop", lambda: None)
    bench.main()
    lines = capsys.readouterr().out.strip().splitlines()
    full = json.loads(lines[-2])
    compact = json.loads(lines[-1])
    assert full["value"] == 1.23
    assert compact["compact"] is True and compact["value"] == 1.23
    assert len(lines[-1]) < 1500
