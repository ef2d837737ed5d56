"""The per-snapshot twin index (``GraphStore.twin_docs``): reads by key
served on the driver.

* a seeded random walk over every kind of store swap keeps the index
  equal to the twin rows (one row per ``dt_id``), and gives the answers
  the Spark path gives (``TWIN_INDEX_BYTES`` forced to 0);
* the first read by key of a new store is one Spark filter and builds
  nothing; the second builds the index;
* on an indexed snapshot a GET and an ADT point query run no Spark job,
  a PATCH runs no read, a commit hands the index over (only when the
  reload holds the same twins), and the vertex universe takes |V| from
  it;
* a batch that repeats a ``dt_id`` writes its last document only;
* over the bound nothing is rebuilt along a chain of mutations;
* only the two point-query shapes skip the compiler, with the rows,
  token and charge of the compiled path;
* two twin rows sharing a ``dt_id`` fail loudly.
"""

from __future__ import annotations

import json
import random
import sys
import threading

import pytest

from pg_age_digitaltwins_spark import client as client_mod, crud
from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
from pg_age_digitaltwins_spark.jobs import delete_job, import_file_distributed
from pg_age_digitaltwins_spark.store import graph_store
from pg_age_digitaltwins_spark.store.graph_store import GraphStore, TwinIndex
from test_plans import SF_DIR  # the sf0.001 fixture the plan pins use

TS = "2026-01-01T00:00:00.0000000Z"
MODELS = [
    {
        "@id": f"dtmi:ti:{name};1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "x", "schema": "double"}],
    }
    for name in ("A", "B")
]
POOL = [f"t{i}" for i in range(10)]


def _twin(i, x=1.0, model="A"):
    return {"$dtId": POOL[i], "$metadata": {"$model": f"dtmi:ti:{model};1"}, "x": x}


def _rows(store):
    """``dt_id`` -> doc of the twin rows, checking no ``dt_id`` repeats."""
    rows = store.twins.select("dt_id", "doc").collect()
    out = dict(rows)
    assert len(out) == len(rows), "two twin rows share a dt_id"
    return out


def _indexed(store):
    """``store`` with its twin index built: the second read by key
    builds it.  Returns the index's documents."""
    store.twin_docs()
    return store.twin_docs()


def _jobs(spark, group, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _outcome(fn):
    try:
        return ("ok", fn())
    except Exception as exc:  # noqa: BLE001 — the error is the answer
        return ("error", type(exc).__name__)


def _page(p):
    return (p.rows, p.continuation_token, p.charge)


WALK_OPS = [
    "put", "put", "patch", "patch", "delete", "batch", "rel", "relbatch",
    "reldel", "commit", "drain", "checkpoint", "import", "delete_all",
]


def _walk(spark, tmp_path, seed, steps=20):
    """Run a seeded sequence of store swaps on a fresh client, checking
    the index against the twin rows after each step.  Returns every
    answer it got and, per step, (op, whether the store the op left
    already had its index)."""
    rng = random.Random(seed)
    tmp_path.mkdir()
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i) for i in range(4)], model_docs=MODELS
        )
    )
    _indexed(c.store)  # later stores carry it, or start fresh
    root = str(tmp_path / "log")
    answers = []
    carried = []
    rels: set = set()

    def pick():
        return POOL[rng.randrange(len(POOL))]

    def read():
        i = pick()
        answers.append(_outcome(lambda: c.get_digital_twin(i)))
        for q in (
            f"SELECT T FROM DIGITALTWINS T WHERE T.$dtId = '{i}'",
            f"SELECT * FROM DIGITALTWINS WHERE $dtId = '{i}'",
        ):
            answers.append(_page(c.query(q, max_items_per_page=rng.choice([None, 1, 50]))))

    schedule = WALK_OPS + [rng.choice(WALK_OPS) for _ in range(steps - len(WALK_OPS))]
    rng.shuffle(schedule)  # every op at least once
    for step, op in enumerate(schedule):
        k = rng.randrange(len(POOL))
        model = rng.choice("AB")
        if op == "put":
            answers.append(_outcome(lambda: c.create_or_replace_digital_twin(
                POOL[k], {"$metadata": {"$model": f"dtmi:ti:{model};1"},
                          "x": float(step)}, ts=TS)))
        elif op == "patch":
            answers.append(_outcome(lambda: c.update_digital_twin(
                POOL[k], [{"op": "replace", "path": "/x", "value": step + 0.5}],
                ts=TS)))
        elif op == "delete":
            answers.append(_outcome(lambda: c.delete_digital_twin(POOL[k])))
        elif op == "batch":
            docs = [_twin(rng.randrange(len(POOL)), float(step), model) for _ in range(3)]
            docs.append(dict(docs[0], x=step + 0.25))  # a repeated id: the last wins
            docs.append({"$dtId": pick(), "$metadata": {"$model": "dtmi:ti:A;1"},
                         "x": "not a number"})
            answers.append(_outcome(lambda: c.create_or_replace_digital_twins(docs, ts=TS)))
        elif op == "rel":
            src, rid = pick(), f"r{k}"
            answers.append(_outcome(lambda: c.create_or_replace_relationship(
                src, rid, {"$targetId": pick(), "$relationshipName": "next"}, ts=TS)))
            rels.add((src, rid))
        elif op == "relbatch":
            docs = [
                {"$relationshipId": f"r{rng.randrange(10)}", "$sourceId": pick(),
                 "$targetId": pick(), "$relationshipName": "next"}
                for _ in range(3)
            ]
            answers.append(_outcome(lambda: c.create_or_replace_relationships(docs, ts=TS)))
            rels.update((d["$sourceId"], d["$relationshipId"]) for d in docs)
        elif op == "reldel" and rels:
            src, rid = sorted(rels)[rng.randrange(len(rels))]
            rels.discard((src, rid))
            answers.append(_outcome(lambda: c.delete_relationship(src, rid)))
        elif op == "commit":
            answers.append(_outcome(lambda: c.commit(root)))
        elif op == "drain":
            # the change pipeline takes the buffered events uncommitted
            answers.append(len(c.changes.drain()))
        elif op == "checkpoint":
            c.checkpoint()
        elif op == "import":
            path = tmp_path / f"import-{step}.ndjson"
            lines = [{"Section": "Header"},
                     {"fileVersion": "1.0.0", "author": "t", "organization": "t"},
                     {"Section": "Twins"},
                     *[_twin(rng.randrange(len(POOL)), float(step), model) for _ in range(3)]]
            path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
            rec = import_file_distributed(c, spark, str(path), ts=TS)
            answers.append((rec.status, rec.twins_created))
        elif op == "delete_all":
            answers.append(delete_job(c))
            c.create_models(MODELS, ts=TS)
            rels.clear()
        idx = c.store._twin_index
        carried.append((op, idx is not None and idx.twins is c.store.twins))
        docs = c.store.twin_docs()
        if docs is not None:
            assert docs == _rows(c.store), (seed, step, op)
        read()
        answers.append(sorted(_rows(c.store).items()))
    return answers, carried


def _counting_builds(monkeypatch) -> list:
    """Patch ``TwinIndex.build`` to append each frame it builds from to
    the returned list."""
    calls: list = []
    real = TwinIndex.build.__func__

    def build(cls, twins):
        calls.append(twins)
        return real(cls, twins)

    monkeypatch.setattr(TwinIndex, "build", classmethod(build))
    return calls


@pytest.mark.parametrize("seed", [3, 11])
def test_random_walk_index_matches_rows_and_spark_path(spark, tmp_path, monkeypatch, seed):
    indexed, carried = _walk(spark, tmp_path / "indexed", seed)
    monkeypatch.setattr(graph_store, "TWIN_INDEX_BYTES", 0)
    on_spark, carried_verdict = _walk(spark, tmp_path / "spark", seed)
    assert indexed == on_spark
    # only the ops that make a store from new frames start without an
    # index (or over-bound verdict); mutations and commits carry it
    fresh = {"checkpoint", "import", "delete_all"}
    for steps in (carried, carried_verdict):
        assert all(kept == (op not in fresh) for op, kept in steps), steps


@pytest.fixture(scope="module")
def sf_store(spark):
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph

    return load_graph(spark, SF_DIR)


def test_first_read_is_a_filter_and_the_second_builds(spark, monkeypatch):
    builds = _counting_builds(monkeypatch)
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i, float(i)) for i in range(4)], model_docs=MODELS
        )
    )
    patch = [{"op": "replace", "path": "/x", "value": 9.0}]
    # a snapshot read by key once pays one filter, no build
    assert c.get_digital_twin("t1")["x"] == 1.0
    assert not builds and c.store.built_twin_index() is None
    # a chain of snapshots each read once: the count is passed on, so
    # the second snapshot's read builds and the rest carry it
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=[_twin(0)], model_docs=MODELS)
    )
    c.update_digital_twin("t0", patch, ts=TS)
    assert not builds and c.store.built_twin_index() is None
    c.update_digital_twin("t0", patch, ts=TS)
    assert len(builds) == 1 and c.store.built_twin_index() is not None
    assert c.get_digital_twin("t0")["x"] == 9.0 and len(builds) == 1


def test_indexed_reads_run_no_job(spark, sf_store, tmp_path):
    c = DigitalTwinsSparkClient(crud._replace(sf_store))
    c.registry  # noqa: B018 — the model read, outside the pins
    ids = sorted(_rows(c.store))
    _, cold = _jobs(spark, "ti-cold-get", lambda: c.get_digital_twin(ids[0]))
    assert cold >= 1 and c.store.built_twin_index() is None
    _, build = _jobs(spark, "ti-build", lambda: c.get_digital_twin(ids[0]))
    assert build >= 1
    got, n = _jobs(spark, "ti-get", lambda: c.get_digital_twin(ids[1]))
    assert n == 0 and got["$dtId"] == ids[1]
    q = f"SELECT T FROM DIGITALTWINS T WHERE T.$dtId = '{ids[2]}'"
    page, n = _jobs(spark, "ti-point", lambda: c.query(q, max_items_per_page=2000))
    assert n == 0 and page.rows[0]["T"]["$dtId"] == ids[2] and page.charge == 2.0

    cust = next(i for i in ids if i.startswith("cust-"))
    patch = [{"op": "replace", "path": "/acctbal", "value": 1.25}]
    new, n = _jobs(spark, "ti-patch", lambda: c.update_digital_twin(cust, patch))
    assert n == 0 and new["acctbal"] == 1.25
    indexed = c.store._twin_index
    assert indexed.twins is c.store.twins and json.loads(indexed.docs[cust]) == new

    c.commit(str(tmp_path / "log"))
    assert c.store._twin_index.docs is indexed.docs  # handed over, not copied
    got, n = _jobs(spark, "ti-after-commit", lambda: c.get_digital_twin(cust))
    assert n == 0 and got == new
    assert c.store.twin_docs() == _rows(c.store)


def test_universe_takes_vertex_count_from_index(spark, sf_store):
    from test_universe import _universe_jobs

    q = "CALL graph.connectedComponents() YIELD node, component RETURN count(*) AS n"
    plain = crud._replace(sf_store)
    indexed = crud._replace(sf_store)
    _indexed(indexed)
    ns = []
    for name, snap in (("plain", plain), ("indexed", indexed)):
        c = DigitalTwinsSparkClient(snap)
        ns.append(_jobs(spark, f"ti-universe-{name}", lambda: c.query(q).rows)[0])
    assert ns[0] == ns[1]
    counted = _universe_jobs(spark, "ti-universe-plain")
    layout_only = _universe_jobs(spark, "ti-universe-indexed")
    # the indexed snapshot runs the layout check alone, no |V| count
    assert layout_only and len(layout_only) < len(counted)
    assert indexed.universe.n == plain.universe.n == len(indexed.twin_docs())
    assert "dangling" in indexed.universe._facts


def test_over_bound_chain_never_rechecks_size(spark, monkeypatch):
    monkeypatch.setattr(graph_store, "TWIN_INDEX_BYTES", 0)
    builds = _counting_builds(monkeypatch)
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i) for i in range(3)], model_docs=MODELS
        )
    )
    assert c.get_digital_twin("t0")["x"] == 1.0
    assert not builds  # the first read is a filter
    assert c.get_digital_twin("t1")["x"] == 1.0
    assert len(builds) == 1 and c.store._twin_index.docs is None
    c.update_digital_twin("t0", [{"op": "replace", "path": "/x", "value": 2.0}])
    c.create_or_replace_digital_twin("t5", {"$metadata": {"$model": "dtmi:ti:A;1"}, "x": 5.0})
    c.create_or_replace_relationship("t5", "r", {"$targetId": "t1", "$relationshipName": "n"})
    c.delete_digital_twin("t2")
    c.create_or_replace_digital_twins([_twin(3, 3.0)])
    assert c.get_digital_twin("t0")["x"] == 2.0
    assert c.get_digital_twin("t5")["x"] == 5.0
    with pytest.raises(crud.NotFoundError):
        c.get_digital_twin("t2")
    assert len(builds) == 1 and c.store._twin_index.docs is None


def test_carried_index_turns_over_bound_when_it_grows(spark, monkeypatch):
    store = GraphStore.from_documents(spark, twin_docs=[_twin(0)], model_docs=MODELS)
    size = len(_indexed(store)["t0"].encode())
    monkeypatch.setattr(graph_store, "TWIN_INDEX_BYTES", size + 10)
    store2, _, _ = crud.create_twins_batch(
        store, crud.ModelRegistry(MODELS), [_twin(1), _twin(2)], ts=TS
    )
    assert store2._twin_index.docs is None and store2._twin_index.twins is store2.twins
    assert crud.get_twin(store2, "t2")["x"] == 1.0


def test_index_built_once_under_concurrent_reads(spark, monkeypatch):
    builds = _counting_builds(monkeypatch)
    store = GraphStore.from_documents(
        spark, twin_docs=[_twin(i, float(i)) for i in range(5)], model_docs=MODELS
    )
    got = []
    threads = [
        threading.Thread(target=lambda i=i: got.append((i, crud.get_twin(store, POOL[i % 5]))))
        for i in range(8)
    ]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert sorted((i, d["x"]) for i, d in got) == [(i, float(i % 5)) for i in range(8)]


def test_duplicate_dt_id_fails_loudly(spark):
    store = GraphStore.from_documents(
        spark, twin_docs=[_twin(0), _twin(1), _twin(0, x=2.0)], model_docs=MODELS
    )
    crud.get_twin(store, "t1")  # the first read is a filter
    with pytest.raises(ValueError, match="t0"):
        crud.get_twin(store, "t1")


@pytest.fixture(scope="module")
def point_client(spark):
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i, float(i)) for i in range(6)], model_docs=MODELS
        )
    )
    _indexed(c.store)
    return c


def _compiled(monkeypatch, c, q, n):
    with monkeypatch.context() as m:
        m.setattr(client_mod, "_point_page", lambda *a: None)
        return _page(DigitalTwinsSparkClient(c.store).query(q, max_items_per_page=n))


@pytest.mark.parametrize("n", [None, 1, 3, 2000])
@pytest.mark.parametrize("dt_id", ["t2", "missing", "SUMMARY"])
@pytest.mark.parametrize(
    "template",
    [
        "SELECT T FROM DIGITALTWINS T WHERE T.$dtId = '{}'",
        "select twin from digitaltwins twin where twin.$dtId = '{}'",
        "SELECT * FROM DIGITALTWINS WHERE $dtId = '{}'",
    ],
)
def test_point_query_served_from_index(monkeypatch, point_client, template, dt_id, n):
    c = point_client
    q = template.format(dt_id)
    got = _page(c.query(q, max_items_per_page=n))
    assert (q, n is not None) not in c._plan_cache  # not compiled
    assert got == _compiled(monkeypatch, c, q, n)
    assert len(got[0]) == (dt_id == "t2")


@pytest.mark.parametrize(
    "q",
    [
        "SELECT T FROM DIGITALTWINS T WHERE T.$dtId = 't2' AND T.x = 2",
        "SELECT T FROM DIGITALTWINS T WHERE T.$dtId IN ['t2', 't3']",
        "SELECT T.x FROM DIGITALTWINS T WHERE T.$dtId = 't2'",
        "SELECT T AS twin FROM DIGITALTWINS T WHERE T.$dtId = 't2'",
        "SELECT * FROM DIGITALTWINS T WHERE T.$dtId = 't2'",
        "SELECT TOP(1) T FROM DIGITALTWINS T WHERE T.$dtId = 't2'",
    ],
)
def test_other_shapes_compile(monkeypatch, point_client, q):
    c = point_client
    for n in (None, 2):
        got = _page(c.query(q, max_items_per_page=n))
        assert (q, n is not None) in c._plan_cache
        assert got == _compiled(monkeypatch, c, q, n)


@pytest.mark.parametrize("swap", ["delete_all", "import"])
def test_commit_after_unlogged_swap_writes_the_snapshot(spark, tmp_path, swap):
    """A store swap the change log does not describe makes the next
    commit a full snapshot: a copy-on-write commit would rewrite only
    the partitions of the later events and bring back the twins of the
    previous version (or drop the imported ones)."""
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i, model="B") for i in range(3)], model_docs=MODELS
        )
    )
    root = str(tmp_path / "log")
    c.commit(root)
    if swap == "delete_all":
        delete_job(c)
        c.create_models(MODELS, ts=TS)
    else:
        path = tmp_path / "import.ndjson"
        lines = [{"Section": "Header"},
                 {"fileVersion": "1.0.0", "author": "t", "organization": "t"},
                 {"Section": "Twins"}, _twin(7, 7.0, model="B")]
        path.write_text("\n".join(json.dumps(x) for x in lines) + "\n")
        import_file_distributed(c, spark, str(path), ts=TS)
    c.create_or_replace_digital_twin("t5", {"$metadata": {"$model": "dtmi:ti:A;1"}, "x": 5.0})
    before = _rows(c.store)
    c.commit(root)
    assert _rows(c.store) == before
    assert c.store.twin_docs() == before


def test_batch_repeating_an_id_writes_the_last_doc(spark, tmp_path):
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=[_twin(0)], model_docs=MODELS)
    )
    _indexed(c.store)
    results = c.create_or_replace_digital_twins(
        [_twin(1, 1.0), _twin(0, 2.0), _twin(1, 3.0)], ts=TS
    )
    assert [r["status"] for r in results] == ["ok"] * 3
    assert c.store.twin_docs() == _rows(c.store)  # one row per dt_id
    # the events replay the batch in order: the repeat updates the first
    kinds = [(e.entity_id, e.event_type, (e.old_value or {}).get("x"), e.new_value["x"])
             for e in c.changes.events]
    assert kinds == [("t1", "Insert", None, 1.0), ("t0", "Update", 1.0, 2.0),
                     ("t1", "Update", 1.0, 3.0)]
    c.checkpoint()  # a fresh store: its index is built from the rows
    assert c.get_digital_twin("t1")["x"] == 3.0
    assert c.get_digital_twin("t1")["x"] == 3.0  # the second read builds
    assert c.store.built_twin_index() is not None


def test_commit_after_drain_writes_the_snapshot(spark, tmp_path):
    """Events the change pipeline drained are not in the next commit's
    buffer: it writes the full snapshot, so the reload holds them and
    the index handed to it matches its rows.  (A copy-on-write commit
    would rewrite only the partition of model B.)"""
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i, model="B") for i in range(3)], model_docs=MODELS
        )
    )
    root = str(tmp_path / "log")
    c.commit(root)
    _indexed(c.store)
    c.create_or_replace_digital_twin("t5", {"$metadata": {"$model": "dtmi:ti:A;1"}, "x": 5.0})
    assert len(c.changes.drain()) == 1
    c.update_digital_twin("t0", [{"op": "replace", "path": "/x", "value": 2.0}])
    before = _rows(c.store)
    c.commit(root)
    assert _rows(c.store) == before
    assert c.store.built_twin_index() is not None
    assert c.store.twin_docs() == before
    assert c.get_digital_twin("t5")["x"] == 5.0


def test_commit_on_a_version_another_client_wrote_hands_no_index(spark, tmp_path):
    """A copy-on-write commit on a version this client did not write
    rewrites only its own events' partitions (model A here), so the
    reload keeps the other client's model-B twins that this client's
    index lacks: it gets no index, and reads by key agree with its
    rows."""
    root = str(tmp_path / "log")
    other = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i, model="B") for i in range(3)], model_docs=MODELS
        )
    )
    other.commit(root)
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=[_twin(4)], model_docs=MODELS)
    )
    _indexed(c.store)
    c.create_or_replace_digital_twin("t5", {"$metadata": {"$model": "dtmi:ti:A;1"}, "x": 5.0})
    c.commit(root)
    assert _indexed(c.store) == _rows(c.store)
    assert c.get_digital_twin("t0")["x"] == 1.0
    # the next commit is on this client's own version: handed over
    c.update_digital_twin("t5", [{"op": "replace", "path": "/x", "value": 6.0}])
    c.commit(root)
    assert c.store.built_twin_index() is not None
    assert c.store.twin_docs() == _rows(c.store)


def test_point_query_compiled_on_a_cold_snapshot_reads_the_index_later(spark):
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(
            spark, twin_docs=[_twin(i, float(i)) for i in range(4)], model_docs=MODELS
        )
    )
    q = "SELECT T FROM DIGITALTWINS T WHERE T.$dtId = 't2'"
    cold = _page(c.query(q))  # the snapshot's first read by key
    assert (q, False) in c._plan_cache
    assert c.get_digital_twin("t1")["x"] == 1.0  # the second builds
    got, n = _jobs(spark, "ti-point-cached", lambda: _page(c.query(q)))
    assert n == 0 and got == cold and cold[0][0]["T"]["x"] == 2.0
