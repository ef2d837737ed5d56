"""Paged-query serving: the paging keys the ADT compiler emits, the
keyset predicate, the per-snapshot entries of paged queries
(``DigitalTwinsSparkClient._paged_entry``) with their persisted copies,
and the blocks of ready pages one Spark read fills
(``DigitalTwinsSparkClient._read_block``)."""

import base64
import itertools
import json

import pytest
from hypothesis import given, settings, strategies as st

from pg_age_digitaltwins_spark import client as client_mod, crud
from pg_age_digitaltwins_spark.client import (
    _RESULT_CACHE_CAP,
    DigitalTwinsSparkClient,
    _keyset_ge,
)
from pg_age_digitaltwins_spark.store.graph_store import GraphStore

MODEL = "dtmi:pg:Pg;1"


@pytest.fixture(scope="module")
def store(spark):
    """60 twins with a small-domain property ``g`` (duplicate groups)
    and a 3-hop chain o -placedBy-> c -locatedIn-> n -partOf-> r, with
    parallel edges so relationship ids take part in the page order."""
    twins = [
        {"$dtId": f"t{i:02d}", "$metadata": {"$model": MODEL}, "g": i % 7}
        for i in range(60)
    ]
    twins += [
        {"$dtId": d, "$metadata": {"$model": MODEL}, "name": d.upper()}
        for d in ["r0", "r1"] + [f"n{i}" for i in range(3)]
        + [f"c{i}" for i in range(5)]
    ]
    rels = []
    for i in range(20):
        for k in range(1 + i % 2):  # odd orders are placed twice
            rels.append({"$relationshipId": f"p{i:02d}{'ab'[k]}",
                         "$sourceId": f"t{i:02d}", "$targetId": f"c{(i + k) % 5}",
                         "$relationshipName": "placedBy"})
    for i in range(5):
        rels.append({"$relationshipId": f"l{i}", "$sourceId": f"c{i}",
                     "$targetId": f"n{i % 3}", "$relationshipName": "locatedIn"})
    for i in range(3):
        rels.append({"$relationshipId": f"q{i}", "$sourceId": f"n{i}",
                     "$targetId": f"r{i % 2}", "$relationshipName": "partOf"})
    rels.append({"$relationshipId": "q9", "$sourceId": "n0",
                 "$targetId": "r0", "$relationshipName": "partOf"})
    return GraphStore.from_documents(spark, twin_docs=twins, relationship_docs=rels)


def _walk(client, query, n):
    """Every page of ``query`` at ``n`` rows a page."""
    rows, token = [], None
    while True:
        page = client.query(query, max_items_per_page=n, continuation_token=token)
        rows += page.rows
        token = page.continuation_token
        if not token:
            return rows


def _pages(client, query, n):
    """(rows, token, charge) of every page of ``query`` at ``n`` rows a
    page."""
    out, token = [], None
    while True:
        page = client.query(query, max_items_per_page=n, continuation_token=token)
        out.append((page.rows, page.continuation_token, page.charge))
        token = page.continuation_token
        if not token:
            return out


_group_ids = itertools.count()


def _jobs_per_page(spark, client, query, n):
    """The rows of every page of ``query`` and the Spark jobs each page
    request ran (a job group per request, read through the tracker)."""
    sc = spark.sparkContext
    rows, jobs, token = [], [], None
    while True:
        group = f"paging-{next(_group_ids)}"
        sc.setJobGroup(group, "page request")
        try:
            page = client.query(query, max_items_per_page=n, continuation_token=token)
        finally:
            sc._jsc.clearJobGroup()
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        rows += page.rows
        token = page.continuation_token
        if not token:
            return rows, jobs


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


HOP3 = (
    "SELECT O.$dtId AS o, R1.$sourceId AS r1s, R1.$relationshipId AS r1, "
    "C.$dtId AS c, R2.$sourceId AS r2s, R2.$relationshipId AS r2, "
    "N.$dtId AS n, R3.$sourceId AS r3s, R3.$relationshipId AS r3, Rg.$dtId AS rg "
    "FROM DIGITALTWINS "
    "MATCH (O)-[R1:placedBy]->(C)-[R2:locatedIn]->(N)-[R3:partOf]->(Rg) "
    "WHERE Rg.name = 'R0'"
)
REVERSE = (
    "SELECT C.$dtId AS c, R1.$sourceId AS r1s, R1.$relationshipId AS r1, O.$dtId AS o "
    "FROM DIGITALTWINS MATCH (C)<-[R1:placedBy]-(O)"
)


@pytest.mark.parametrize(
    "query, n_keys, full_key",
    [
        # 10 bound keys; the three hop sources equal the previous twin's key
        (HOP3, 7, ("o", "r1s", "r1", "c", "r2s", "r2", "n", "r3s", "r3", "rg")),
        # the join-eliminated far twin's key is the edge's source
        (REVERSE, 3, ("c", "r1s", "r1", "o")),
    ],
)
def test_paging_keys_skip_join_equated_columns(store, query, n_keys, full_key):
    """Keys a pattern join equates to an earlier key are not emitted,
    and the page sequence is still the order over every bound key."""
    c = DigitalTwinsSparkClient(store)
    pks = [col for col in c.query_df(query, order_for_paging=True).columns
           if col.startswith("__pk")]
    assert len(pks) == n_keys
    rows = _walk(c, query, 8)
    assert rows == sorted(rows, key=lambda r: tuple(r[k] for k in full_key))
    assert len(rows) == len(c.query(query).rows) > 8


# Every paging shape: (query, its rows in page order from the unpaged rows)
SHAPES = [
    # ADT keyset on __pk
    pytest.param("SELECT $dtId AS id FROM DIGITALTWINS",
                 lambda rows: sorted(rows, key=lambda r: r["id"]), id="adt_keyset"),
    # Cypher keyset, every row a duplicate of every other
    pytest.param("MATCH (n) RETURN toInteger(1) AS one", lambda rows: rows,
                 id="cypher_all_duplicates"),
    # Cypher keyset over duplicate groups
    pytest.param("MATCH (n) WHERE n.g >= 0 RETURN n.g AS g",
                 lambda rows: sorted(rows, key=lambda r: r["g"]),
                 id="cypher_duplicate_groups"),
    # Cypher ORDER BY → offset pages
    pytest.param("MATCH (n) WHERE n.g >= 0 RETURN n.`$dtId` AS id, toInteger(n.g) AS g "
                 "ORDER BY g DESC, id",
                 lambda rows: sorted(rows, key=lambda r: (-r["g"], r["id"])),
                 id="cypher_order_by_offset"),
]


@pytest.mark.parametrize("query, expected", SHAPES)
def test_cached_pages_concatenate_in_order(store, query, expected, monkeypatch):
    """Blocks of two pages: blocks 2.. read a persisted copy spread over
    >= 4 partitions, and the pages concatenate to the exact answer in
    sort order: no duplicate, no skip.  A second walk is served from
    the copy and ready pages entirely."""
    monkeypatch.setattr(client_mod, "FETCH_ROWS", 14)
    c = DigitalTwinsSparkClient(store)
    want = expected(c.query(query).rows)
    assert len(want) >= 60
    assert _walk(c, query, 7) == want
    entry = c._result_cache[query]
    assert entry.store is store and entry.persisted
    sizes = entry.frame.rdd.glom().map(len).collect()
    assert sum(1 for s in sizes if s) >= 4
    assert _walk(c, query, 7) == want
    assert list(c._result_cache) == [query]


@pytest.mark.parametrize("n", [1, 7, 100, 2000])
@pytest.mark.parametrize("query, expected", SHAPES)
def test_ready_pages_match_page_by_page_reads(store, monkeypatch, query, expected, n):
    """Walks served from ready pages — one block of the whole answer,
    and blocks of 20 rows whose later reads hit the persisted copy and
    cut pages across duplicate groups — give the same rows, tokens and
    charges as a walk whose every page is read by Spark."""
    ahead = _pages(DigitalTwinsSparkClient(store), query, n)
    monkeypatch.setattr(client_mod, "FETCH_ROWS", 20)
    small_blocks = _pages(DigitalTwinsSparkClient(store), query, n)
    monkeypatch.setattr(client_mod, "FETCH_ROWS", 0)  # a block is one page
    c = DigitalTwinsSparkClient(store)
    by_page = _pages(c, query, n)
    # a one-page answer keeps no entry
    assert len(by_page) == 1 or c._result_cache[query].reads == len(by_page)
    assert [r for rows, _, _ in by_page for r in rows] == expected(c.query(query).rows)
    assert ahead == by_page
    assert small_blocks == by_page


def test_token_replayed_with_other_page_size(store):
    """A ready page is keyed by its page size too: a token replayed at
    another size misses, reads its own block and gives the right page."""
    c = DigitalTwinsSparkClient(store)
    q = "SELECT $dtId AS id FROM DIGITALTWINS"
    want = sorted(r["id"] for r in c.query(q).rows)
    first = c.query(q, max_items_per_page=7)
    entry = c._result_cache[q]
    assert entry.reads == 1
    page = c.query(q, max_items_per_page=5, continuation_token=first.continuation_token)
    assert entry.reads == 2
    assert [r["id"] for r in page.rows] == want[7:12]
    again = c.query(q, max_items_per_page=5, continuation_token=first.continuation_token)
    assert entry.reads == 2 and again == page  # now a ready page of its own


def test_write_between_pages_reads_the_new_store(store):
    """After a write, the next page reads the new store: it never serves
    a ready page of the old snapshot."""
    c = DigitalTwinsSparkClient(store)
    q = "SELECT $dtId AS id FROM DIGITALTWINS WHERE $dtId >= 't40'"
    first = c.query(q, max_items_per_page=7)  # the block holds every page
    assert len(c._result_cache[q].ready) == 3
    c.delete_digital_twin("t50")
    second = c.query(q, max_items_per_page=7, continuation_token=first.continuation_token)
    assert [r["id"] for r in second.rows] == [f"t{i}" for i in (47, 48, 49, 51, 52, 53, 54)]
    entry = c._result_cache[q]
    assert entry.store is c.store and entry.reads == 1


@pytest.mark.parametrize("n", [3, 7, 30])
def test_entry_holds_one_block(store, monkeypatch, n):
    """An entry keeps at most one block, max(FETCH_ROWS, n) + 1 rows; a
    new block replaces the last one's pages."""
    monkeypatch.setattr(client_mod, "FETCH_ROWS", 20)
    c = DigitalTwinsSparkClient(store)
    q = "SELECT $dtId AS id FROM DIGITALTWINS"
    token, reads, last_block = None, 0, set()
    while True:
        page = c.query(q, max_items_per_page=n, continuation_token=token)
        entry = c._result_cache[q]
        assert sum(len(rows) for rows, _ in entry.ready.values()) <= max(20, n) + 1
        if entry.reads > reads:  # a Spark read: its block replaced the last
            reads = entry.reads
            assert (token, n) in entry.ready and last_block.isdisjoint(entry.ready)
            last_block = set(entry.ready)
        token = page.continuation_token
        if not token:
            break
    assert reads == -(-70 // (max(1, 20 // n) * n))


def test_cached_results_released_on_swap_and_eviction(spark, store, monkeypatch):
    """A store swap unpersists every cached result; past the cap the
    least recently used entry is unpersisted; a first page alone builds
    no persisted frame.  Blocks of one 30-row page make every walk
    below longer than one block."""
    monkeypatch.setattr(client_mod, "FETCH_ROWS", 30)
    c = DigitalTwinsSparkClient(store)
    # texts no other test pages: equal plans share one cached copy
    q = "SELECT $dtId AS id FROM DIGITALTWINS WHERE $dtId != 'none'"
    before = _persisted(spark)
    c.query(q, max_items_per_page=5)
    assert not c._result_cache[q].persisted and _persisted(spark) == before
    _walk(c, q, 30)
    built = _persisted(spark) - before
    assert built and c._result_cache[q].persisted
    c._swap(crud._replace(c.store, twins=c.store.twins))
    assert not c._result_cache and not (_persisted(spark) & built)
    assert len(_walk(c, q, 30)) == 70  # rebuilt against the new store

    c._swap(store)
    owned = {}
    tops = range(50, 51 + _RESULT_CACHE_CAP)
    queries = [f"SELECT TOP({n}) $dtId AS id FROM DIGITALTWINS" for n in tops]
    for n, query in zip(tops, queries):
        seen = _persisted(spark)
        assert len(_walk(c, query, 30)) == n
        owned[query] = _persisted(spark) - seen
        assert owned[query]
    assert list(c._result_cache) == queries[1:]
    live = _persisted(spark)
    assert not (owned[queries[0]] & live)
    assert all(owned[query] <= live for query in queries[1:])
    c._swap(store)  # same store: entries stay
    assert list(c._result_cache) == queries[1:]


def test_swap_between_compile_and_build_keeps_no_stale_entry(store, monkeypatch):
    """A write that lands after a continuation request compiled its
    plan (on the old store) must not leave that plan's entry cached as
    the new store's: the page is served, nothing is kept, and the next
    page reads the new store.  A write between a request's entry lookup
    and its second Spark read persists nothing."""
    monkeypatch.setattr(client_mod, "FETCH_ROWS", 2)  # one page a block
    q = "SELECT $dtId AS id FROM DIGITALTWINS WHERE $dtId >= 't50'"
    # another client's first page, so this client compiles on page 2
    first = DigitalTwinsSparkClient(store).query(q, max_items_per_page=2)
    assert [r["id"] for r in first.rows] == ["t50", "t51"]
    c = DigitalTwinsSparkClient(store)
    plan = c._plan

    def plan_then_write(*args):
        df = plan(*args)
        monkeypatch.setattr(c, "_plan", plan)  # one write only
        c.delete_digital_twin("t59")
        return df

    monkeypatch.setattr(c, "_plan", plan_then_write)
    second = c.query(q, max_items_per_page=2, continuation_token=first.continuation_token)
    assert [r["id"] for r in second.rows] == ["t52", "t53"]
    assert not c._result_cache
    rest = []
    token = second.continuation_token
    while token:
        page = c.query(q, max_items_per_page=2, continuation_token=token)
        rest += [r["id"] for r in page.rows]
        token = page.continuation_token
    assert rest == ["t54", "t55", "t56", "t57", "t58"]
    assert c._result_cache[q].store is c.store

    c = DigitalTwinsSparkClient(store)
    first = c.query(q, max_items_per_page=2)  # Spark read 1
    lookup, seen = c._paged_entry, []

    def lookup_then_write(*args):
        seen.append(lookup(*args))
        monkeypatch.setattr(c, "_paged_entry", lookup)
        c.delete_digital_twin("t59")
        return seen[-1]

    monkeypatch.setattr(c, "_paged_entry", lookup_then_write)
    second = c.query(q, max_items_per_page=2, continuation_token=first.continuation_token)
    assert [r["id"] for r in second.rows] == ["t52", "t53"]
    # Spark read 2 of an entry the write released: served, not persisted
    assert seen[0].reads == 2 and not seen[0].persisted
    assert not c._result_cache


def test_token_with_other_key_count_is_rejected(store):
    """A keyset token whose value count differs from the query's paging
    keys (say, issued before the key set changed) is refused instead of
    being zipped into a misaligned filter."""
    c = DigitalTwinsSparkClient(store)
    page = c.query(HOP3, max_items_per_page=4)
    tok = json.loads(base64.b64decode(page.continuation_token))
    tok["_ks"] = tok["_ks"] + [tok["_ks"][-1]] * 3  # the 10-key shape
    stale = base64.b64encode(json.dumps(tok).encode()).decode()
    with pytest.raises(ValueError, match="paging keys"):
        c.query(HOP3, max_items_per_page=4, continuation_token=stale)


def _keyset_ge_flat(cols, vals):
    """The O(k²) form: OR over i of (c0..c(i-1) = v AND ci > vi), OR all
    equal — the reference the struct form must match."""
    from pyspark.sql import functions as F

    def gt(c, v):
        return c.isNotNull() if v is None else c > F.lit(v)

    def eq(c, v):
        return c.isNull() if v is None else c == F.lit(v)

    terms, prefix = [], None
    for c, v in zip(cols, vals):
        terms.append(gt(c, v) if prefix is None else prefix & gt(c, v))
        prefix = eq(c, v) if prefix is None else prefix & eq(c, v)
    terms.append(prefix)
    pred = terms[0]
    for t in terms[1:]:
        pred = pred | t
    return pred


# key column types and a small domain of each, so ties are common
_KEY_TYPES = {
    "int": st.integers(0, 2),
    "string": st.sampled_from(["", "a", "b"]),
    "double": st.sampled_from([-1.5, 0.0, 2.25]),
    "bigint": st.sampled_from([0, 2**40]),
}


@st.composite
def _keyset_case(draw):
    types = draw(st.lists(st.sampled_from(sorted(_KEY_TYPES)), min_size=1, max_size=4))
    cells = [st.one_of(st.none(), _KEY_TYPES[t]) for t in types]
    rows = draw(st.lists(st.tuples(*cells), min_size=1, max_size=12))
    return types, rows, draw(st.tuples(*cells))


@settings(max_examples=30, deadline=None)
@given(_keyset_case())
def test_keyset_ge_nested_matches_flat(spark, case):
    """The struct keyset predicate (with its leading ``c0 >= v0``
    bound) selects exactly the rows the flat form selects, over int,
    bigint, string and double keys, nulls and ties included."""
    from pyspark.sql import functions as F

    types, rows, vals = case
    names = [f"c{i}" for i in range(len(vals))]
    df = spark.createDataFrame(rows, ", ".join(f"{n} {t}" for n, t in zip(names, types)))
    got = df.select(
        F.coalesce(_keyset_ge_flat([F.col(n) for n in names], list(vals)), F.lit(False))
        .alias("flat"),
        F.coalesce(_keyset_ge(df, names, list(vals)), F.lit(False)).alias("struct"),
    ).collect()
    assert [r["flat"] for r in got] == [r["struct"] for r in got]


@pytest.fixture(scope="module")
def sf_store(spark):
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph
    from test_plans import SF_DIR

    return load_graph(spark, SF_DIR)


def test_twin_walk_runs_one_job_per_block(spark, sf_store):
    """A 19-page walk of the fixture's 1,890 twins at 100 rows a page
    runs 2 Spark jobs, one per 1,000-row block; every other page is a
    ready page and runs none."""
    c = DigitalTwinsSparkClient(sf_store)
    rows, jobs = _jobs_per_page(spark, c, "SELECT T.$dtId AS id FROM DIGITALTWINS T", 100)
    assert len(rows) == len({r["id"] for r in rows}) == 1890
    assert len(jobs) == 19 and jobs[0] == jobs[10] == 1 and sum(jobs) == 2


def test_offset_block_read_is_one_job(spark, sf_store):
    """Cypher ORDER BY pages at 100 rows a page: once the persisted copy
    is built (the second block read), each block read is exactly one
    Spark job at any depth, and every page in between runs none."""
    c = DigitalTwinsSparkClient(sf_store)
    q = ("MATCH (o)-[r:contains]->(p) RETURN o.`$dtId` AS o, p.`$dtId` AS p, "
         "r.quantity AS q ORDER BY q DESC, o, p")
    rows, jobs = _jobs_per_page(spark, c, q, 100)
    assert len(jobs) == 60 and rows == c.query(q).rows
    assert c._result_cache[q].persisted
    assert [j for i, j in enumerate(jobs) if i % 10] == [0] * 54
    assert jobs[20::10] == [1, 1, 1, 1]


def test_concurrent_walks_and_swaps_leak_nothing(spark, store, monkeypatch):
    """Eight threads walk one query on one client in two-page blocks
    while the main thread keeps swapping in equal snapshots: every walk
    gets the exact answer, and once the last swap has run no persisted
    copy is left behind."""
    import sys
    import threading

    monkeypatch.setattr(client_mod, "FETCH_ROWS", 14)
    c = DigitalTwinsSparkClient(store)
    q = "SELECT $dtId AS id FROM DIGITALTWINS WHERE $dtId != 'stress'"
    want = sorted(r["id"] for r in c.query(q).rows)
    before = _persisted(spark)
    results, errors = [], []

    def walk():
        try:
            results.append([r["id"] for r in _walk(c, q, 7)])
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=walk) for _ in range(8)]
        for t in threads:
            t.start()
        while any(t.is_alive() for t in threads):
            c._swap(crud._replace(c.store, twins=c.store.twins))
            threads[0].join(0.2)
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    assert results == [want] * 8
    c._swap(crud._replace(c.store, twins=c.store.twins))
    assert not c._result_cache and _persisted(spark) <= before
