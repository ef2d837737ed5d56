"""Paged-query serving: the paging keys the ADT compiler emits, the
keyset predicate, and the per-snapshot cache of paged results
(``DigitalTwinsSparkClient._paged_result``)."""

import base64
import json

import pytest
from hypothesis import given, settings, strategies as st

from pg_age_digitaltwins_spark import crud
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


@pytest.mark.parametrize(
    "query, expected",
    [
        # ADT keyset on __pk
        ("SELECT $dtId AS id FROM DIGITALTWINS",
         lambda rows: sorted(rows, key=lambda r: r["id"])),
        # Cypher keyset, every row a duplicate of every other
        ("MATCH (n) RETURN toInteger(1) AS one", lambda rows: rows),
        # Cypher keyset over duplicate groups
        ("MATCH (n) WHERE n.g >= 0 RETURN n.g AS g",
         lambda rows: sorted(rows, key=lambda r: r["g"])),
        # Cypher ORDER BY → offset pages over the cached order
        ("MATCH (n) WHERE n.g >= 0 RETURN n.`$dtId` AS id, toInteger(n.g) AS g "
         "ORDER BY g DESC, id",
         lambda rows: sorted(rows, key=lambda r: (-r["g"], r["id"]))),
    ],
    ids=["adt_keyset", "cypher_all_duplicates", "cypher_duplicate_groups",
         "cypher_order_by_offset"],
)
def test_cached_pages_concatenate_in_order(store, query, expected):
    """Pages 2.. read a cached result spread over >= 4 partitions and
    concatenate to the exact answer in sort order: no duplicate, no
    skip.  A second walk is served from the cache entirely."""
    c = DigitalTwinsSparkClient(store)
    want = expected(c.query(query).rows)
    assert len(want) >= 60
    assert _walk(c, query, 7) == want
    entry = c._result_cache[query]
    assert entry.store is store
    sizes = entry.df.rdd.glom().map(len).collect()
    assert sum(1 for s in sizes if s) >= 4
    assert _walk(c, query, 7) == want
    assert list(c._result_cache) == [query]


def test_cached_results_released_on_swap_and_eviction(spark, store):
    """A store swap unpersists every cached result; past the cap the
    least recently used entry is unpersisted; a first page alone builds
    nothing."""
    c = DigitalTwinsSparkClient(store)
    # texts no other test pages: equal plans share one cached copy
    q = "SELECT $dtId AS id FROM DIGITALTWINS WHERE $dtId != 'none'"
    before = _persisted(spark)
    c.query(q, max_items_per_page=5)
    assert not c._result_cache and _persisted(spark) == before
    _walk(c, q, 30)
    built = _persisted(spark) - before
    assert built and q in c._result_cache
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
    plan (on the old store) must not leave that plan's rows cached as
    the new store's entry: the page is served, nothing is kept, and
    the next page reads the new store."""
    c = DigitalTwinsSparkClient(store)
    q = "SELECT $dtId AS id FROM DIGITALTWINS WHERE $dtId >= 't50'"
    first = c.query(q, max_items_per_page=3)
    assert [r["id"] for r in first.rows] == ["t50", "t51", "t52"]
    plan = c._plan

    def plan_then_write(*args):
        df = plan(*args)
        monkeypatch.setattr(c, "_plan", plan)  # one write only
        c.delete_digital_twin("t59")
        return df

    monkeypatch.setattr(c, "_plan", plan_then_write)
    second = c.query(q, max_items_per_page=3, continuation_token=first.continuation_token)
    assert [r["id"] for r in second.rows] == ["t53", "t54", "t55"]
    assert not c._result_cache
    rest = []
    token = second.continuation_token
    while token:
        page = c.query(q, max_items_per_page=3, continuation_token=token)
        rest += [r["id"] for r in page.rows]
        token = page.continuation_token
    assert rest == ["t56", "t57", "t58"]
    assert c._result_cache[q].store is c.store


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
    """The previous O(k²) form: OR over i of (c0..c(i-1) = v AND ci > vi),
    OR all equal — the reference the nested form must match."""
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


_cell = st.one_of(st.none(), st.integers(0, 2))


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 4).flatmap(lambda k: st.tuples(
    st.lists(st.tuples(*[_cell] * k), min_size=1, max_size=12),
    st.tuples(*[_cell] * k),
)))
def test_keyset_ge_nested_matches_flat(spark, case):
    """The nested keyset predicate (with its leading ``c0 >= v0``
    bound) selects exactly the rows the flat form selects, nulls and
    ties included."""
    from pyspark.sql import functions as F

    rows, vals = case
    names = [f"c{i}" for i in range(len(vals))]
    df = spark.createDataFrame(rows, ", ".join(f"{n} int" for n in names))
    cols = [F.col(n) for n in names]
    got = df.select(
        F.coalesce(_keyset_ge_flat(cols, list(vals)), F.lit(False)).alias("flat"),
        F.coalesce(_keyset_ge(cols, list(vals)), F.lit(False)).alias("nested"),
    ).collect()
    assert [r["flat"] for r in got] == [r["nested"] for r in got]
