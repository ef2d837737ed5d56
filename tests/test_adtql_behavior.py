"""Behavioral conformance tests: the golden corpus executed against the
seeded fixture graph (FIXTURES.md §3-5), asserting result sets — the
reference asserts translated Cypher strings + live-Postgres results
(``QueryTests.cs``)."""

import json

import pytest

from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient


@pytest.fixture(scope="module")
def client(fixture_store):
    return DigitalTwinsSparkClient(fixture_store)


def ids(df, col="dt_id"):
    return sorted(r[col] for r in df.collect())


def test_select_all(client):
    rows = client.query_df("SELECT T FROM DIGITALTWINS T").collect()
    assert len(rows) == 13
    docs = [json.loads(r["T"]) for r in rows]
    assert {d["$dtId"] for d in docs} == {
        "cb1", "p1", "hp1", "room1", "room2", "shapes",
        "root2", "root3", "b1", "b2", "x", "y", "z",
    } | {"shapes"}


def test_count(client):
    assert client.query_df("SELECT COUNT() FROM DIGITALTWINS").collect()[0]["count"] == 13


def test_where_model_eq(client):
    df = client.query_df(
        "SELECT T.$dtId AS dt_id FROM DIGITALTWINS T "
        "WHERE T.$metadata.$model = 'dtmi:com:contoso:Planet;1'"
    )
    assert ids(df) == ["p1"]


def test_where_name_eq_implicit_alias(client):
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE name = 'Room 1'")
    assert ids(df) == ["room1"]


def test_where_number_gt(client):
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE temperature > 20")
    assert ids(df) == ["room1"]


def test_is_of_model_inheritance(client):
    df = client.query_df(
        "SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE IS_OF_MODEL('dtmi:com:contoso:CelestialBody;1')"
    )
    assert ids(df) == ["cb1", "hp1", "p1"]


def test_is_of_model_exact(client):
    df = client.query_df(
        "SELECT $dtId AS dt_id FROM DIGITALTWINS "
        "WHERE IS_OF_MODEL('dtmi:com:contoso:CelestialBody;1', exact)"
    )
    assert ids(df) == ["cb1"]


def test_is_of_model_mid_hierarchy(client):
    df = client.query_df(
        "SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE IS_OF_MODEL('dtmi:com:contoso:Planet;1')"
    )
    assert ids(df) == ["hp1", "p1"]


def test_string_functions(client):
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE STARTSWITH(name, 'Room')")
    assert ids(df) == ["room1", "room2"]
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE ENDSWITH(name, '1')")
    assert ids(df) == ["b1", "cb1", "hp1", "p1", "room1"]
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE CONTAINS(name, 'Planet')")
    assert ids(df) == ["hp1", "p1"]


def test_contains_on_dtid_promoted(client):
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE CONTAINS($dtId, 'room')")
    assert ids(df) == ["room1", "room2"]


def test_is_defined_and_is_null(client):
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE IS_DEFINED(temperature)")
    assert ids(df) == ["room1", "room2"]
    # IS_NULL true for missing key AND explicit null
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE IS_NULL(nulled)")
    assert len(ids(df)) == 13  # 'shapes' has explicit null; everyone else missing
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE IS_DEFINED(nulled)")
    assert ids(df) == []


def test_type_check_functions(client):
    q = "SELECT T.$dtId AS dt_id FROM DIGITALTWINS T WHERE {}"
    assert ids(client.query_df(q.format("IS_OBJECT(T.someMap)"))) == ["shapes"]
    assert ids(client.query_df(q.format("IS_PRIMITIVE(T.someScalar)"))) == ["shapes"]
    assert ids(client.query_df(q.format("IS_STRING(T.someString)"))) == ["shapes"]
    assert ids(client.query_df(q.format("IS_BOOL(T.bool)"))) == ["shapes"]
    assert ids(client.query_df(q.format("IS_NUMBER(T.someScalar)"))) == ["shapes"]
    # numeric strings are NOT numbers (GraphInitialization.cs is_number)
    assert ids(client.query_df(q.format("IS_NUMBER(T.numstr)"))) == []
    assert ids(client.query_df(q.format("IS_STRING(T.numstr)"))) == ["shapes"]
    # IS_OBJECT on the $metadata map itself
    assert len(ids(client.query_df(q.format("IS_OBJECT(T.$metadata)")))) == 13


def test_array_contains(client):
    q = "SELECT T.$dtId AS dt_id FROM DIGITALTWINS T WHERE {}"
    assert ids(client.query_df(q.format("ARRAY_CONTAINS(T.tags, 'tag1')"))) == ["shapes"]
    assert ids(client.query_df(q.format("ARRAY_CONTAINS(T.numbers, 1)"))) == ["shapes"]
    assert ids(client.query_df(q.format("ARRAY_CONTAINS(T.bools, true)"))) == ["shapes"]
    assert ids(client.query_df(q.format("ARRAY_CONTAINS(T.tags, 'nope')"))) == []
    # scalar property is not an array
    assert ids(client.query_df(q.format("ARRAY_CONTAINS(T.someScalar, 1)"))) == []


def test_neq_null_semantics(client):
    """AGE rewrites != to NOT(a=b): rows where the property is missing
    must NOT match (three-valued logic, SURVEY.md §7 hard-point 1)."""
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE temperature != 22.5")
    assert ids(df) == ["room2"]  # twins without temperature drop out


def test_strict_typing_string_vs_number(client):
    # numstr is the string '5'; a numeric comparison must not match it
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE numstr = 5")
    assert ids(df) == []
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE numstr = '5'")
    assert ids(df) == ["shapes"]
    # someScalar is number 42; string compare must not match
    df = client.query_df("SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE someScalar = '42'")
    assert ids(df) == []


def test_in_list(client):
    df = client.query_df(
        "SELECT T.$dtId AS dt_id FROM DIGITALTWINS T WHERE T.$dtId IN ['room1', 'room2', 'nope']"
    )
    assert ids(df) == ["room1", "room2"]


def test_top_deterministic(client):
    df = client.query_df("SELECT TOP(3) $dtId AS dt_id FROM DIGITALTWINS")
    assert ids(df) == ["b1", "b2", "cb1"]  # sorted by dt_id


def test_relationships_scan(client):
    df = client.query_df("SELECT * FROM RELATIONSHIPS")
    assert df.count() == 6
    df = client.query_df("SELECT * FROM RELATIONSHIPS WHERE $sourceId = 'root2'")
    docs = [json.loads(r["R"]) for r in df.collect()]
    assert sorted(d["$relationshipId"] for d in docs) == ["r1", "r2"]


def test_relationship_projection_and_props(client):
    df = client.query_df(
        "SELECT R.$sourceId AS src, R.$targetId AS dst FROM relationships R "
        "WHERE R.$relationshipName = 'has' AND NUMBER(R.grade) >= 3"
    )
    rows = sorted((r["src"], r["dst"]) for r in df.collect())
    assert rows == [("root2", "b1"), ("root2", "b2")]


def test_match_forward(client):
    df = client.query_df(
        "SELECT T.$dtId AS dt_id FROM DIGITALTWINS MATCH (current)-[R]->(T) "
        "WHERE current.$dtId='root2'"
    )
    assert ids(df) == ["b1", "b2"]


def test_match_reverse(client):
    df = client.query_df(
        "SELECT t.$dtId AS dt_id FROM DIGITALTWINS MATCH (s)<-[r]-(t) WHERE s.$dtId = 'x'"
    )
    assert ids(df) == ["b1", "root3"]


def test_match_multilabel(client):
    df = client.query_df(
        "SELECT B.$dtId AS dt_id FROM DIGITALTWINS MATCH (T)-[R:hasBlob|hasModel]->(B) "
        "WHERE T.$dtId = 'root3'"
    )
    assert ids(df) == ["x", "y"]


def test_match_single_label(client):
    df = client.query_df(
        "SELECT B.$dtId AS dt_id FROM DIGITALTWINS MATCH (T)-[R:has]->(B) WHERE T.$dtId = 'root3'"
    )
    assert ids(df) == ["z"]


def test_match_two_hop_chain(client):
    df = client.query_df(
        "SELECT T2.$dtId AS dt_id FROM DIGITALTWINS MATCH (T)-[R:has]->(B)-[R2:has]->(T2) "
        "WHERE T.$dtId = 'root2'"
    )
    assert ids(df) == ["x"]  # root2 -has-> b1 -has-> x


def test_join_related(client):
    df = client.query_df(
        "SELECT B.$dtId AS dt_id FROM DIGITALTWINS DT JOIN B RELATED DT.has R "
        "WHERE DT.$dtId = 'root2'"
    )
    assert ids(df) == ["b1", "b2"]


def test_join_related_rel_props(client):
    df = client.query_df(
        "SELECT B.$dtId AS dt_id, NUMBER(R.grade) AS grade FROM DIGITALTWINS DT "
        "JOIN B RELATED DT.has R WHERE DT.$dtId = 'root2' AND NUMBER(R.grade) > 4"
    )
    rows = df.collect()
    assert [(r["dt_id"], r["grade"]) for r in rows] == [("b1", 5.0)]


def test_pagination_roundtrip(client):
    page1 = client.query("SELECT $dtId AS dt_id FROM DIGITALTWINS", max_items_per_page=5)
    assert len(page1.rows) == 5
    assert page1.continuation_token is not None
    seen = [r["dt_id"] for r in page1.rows]
    token = page1.continuation_token
    while token:
        page = client.query("ignored", max_items_per_page=5, continuation_token=token)
        seen += [r["dt_id"] for r in page.rows]
        token = page.continuation_token
    assert len(seen) == 13
    assert len(set(seen)) == 13
    assert seen == sorted(seen)


def test_pagination_respects_top(client):
    page = client.query("SELECT TOP(7) $dtId AS dt_id FROM DIGITALTWINS", max_items_per_page=4)
    assert len(page.rows) == 4
    page2 = client.query(
        "x", max_items_per_page=4, continuation_token=page.continuation_token
    )
    assert len(page2.rows) == 3
    assert page2.continuation_token is None


def test_query_charge_arithmetic(client):
    """Charge = rows + total top-level props, +5 for aggregates /
    IS_OF_MODEL, +10 for var-length edges (``Query.cs:240-257``)."""
    # plain projection: 13 rows × 1 property each → 13 + 13 = 26
    page = client.query("SELECT $dtId AS dt_id FROM DIGITALTWINS")
    assert client.query_charge(page) == 26.0
    # COUNT() aggregate: 1 row, 1 prop, +5 → 7
    page = client.query("SELECT COUNT() FROM DIGITALTWINS")
    assert client.query_charge(page) == 7.0
    # IS_OF_MODEL also triggers the +5 surcharge
    page = client.query(
        "SELECT $dtId AS dt_id FROM DIGITALTWINS "
        "WHERE IS_OF_MODEL('dtmi:com:contoso:Planet;1')"
    )
    assert client.query_charge(page) == float(len(page.rows) * 2 + 5)


def test_query_charge_var_length(fixture_store):
    from pg_age_digitaltwins_spark.client import compute_query_charge

    client = DigitalTwinsSparkClient(fixture_store)
    q = "MATCH (a {`$dtId`: 'root2'})-[:has*1..2]->(b) RETURN b.`$dtId` AS id"
    page = client.query(q)
    n = len(page.rows)
    assert n > 0
    # rows + props(1 each) + 10 var-length; no aggregate keyword
    assert client.query_charge(page) == float(n * 2 + 10)
    assert compute_query_charge(page.rows, q) == page.charge


def test_join_related_5hop_chain(spark):
    """SURVEY §7 phase-3 stress case (reference 5-hop test,
    AdtQueryToCypherTests.cs:138-141): five chained JOIN RELATED hops."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    model = [{
        "@id": "dtmi:chain:Node;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [
            {"@type": "Property", "name": "name", "schema": "string"},
            {"@type": "Relationship", "name": "feeds"},
        ],
    }]
    nodes = [
        {"$dtId": f"n{i}", "$metadata": {"$model": "dtmi:chain:Node;1"}, "name": f"node {i}"}
        for i in range(6)
    ]
    rels = [
        {"$relationshipId": f"e{i}", "$sourceId": f"n{i}", "$targetId": f"n{i+1}",
         "$relationshipName": "feeds"}
        for i in range(5)
    ] + [  # a decoy branch that must not reach depth 5
        {"$relationshipId": "d0", "$sourceId": "n1", "$targetId": "n0",
         "$relationshipName": "feeds"}
    ]
    store = GraphStore.from_documents(
        spark, twin_docs=nodes, relationship_docs=rels, model_docs=model
    )
    c = DigitalTwinsSparkClient(store)
    rows = c.query(
        "SELECT F.$dtId AS last FROM DIGITALTWINS A "
        "JOIN B RELATED A.feeds JOIN C RELATED B.feeds JOIN D RELATED C.feeds "
        "JOIN E RELATED D.feeds JOIN F RELATED E.feeds "
        "WHERE A.$dtId = 'n0'"
    ).rows
    # JOIN RELATED is a relational join (no edge-distinctness), so every
    # walk of length exactly 5 from n0 counts: the straight chain ends at
    # n5, and the n1->n0 decoy loop yields walks ending at n3 and n1.
    assert sorted(r["last"] for r in rows) == ["n1", "n3", "n5"]


def test_unknown_alias_before_reserved_prop_errors(client):
    """`Z.$dtId` with Z unbound is a typo'd alias, not a nested
    property: the reference's translation fails on the unbound Cypher
    variable, so silently projecting nulls would hide the mistake."""
    from pg_age_digitaltwins_spark.adtql.compiler import CompileError

    with pytest.raises(CompileError, match="Unknown alias 'Z'"):
        client.query_df("SELECT Z.$dtId FROM DIGITALTWINS T").collect()
    # nested non-$ property paths on the implicit alias still resolve
    rows = client.query_df(
        "SELECT $dtId AS dt_id FROM DIGITALTWINS WHERE IS_DEFINED(someMap.k)"
    ).collect()
    assert [r["dt_id"] for r in rows] == ["shapes"]


@pytest.mark.parametrize(
    "query,n_rows,cols",
    [
        # golden shapes from the reference's AdtQueryToCypherTests corpus
        ("SELECT T,R FROM DIGITALTWINS MATCH (current)-[R]->(T) "
         "WHERE current.$dtId='root2'", 2, ["R", "T"]),
        # bare TOP = star semantics: rows are the bare twin documents
        # (QueryTests.cs:539-656 — SELECT * returns $dtId at the root)
        ("SELECT TOP(1) FROM DIGITALTWINS "
         "WHERE $metadata.$model = 'dtmi:com:adt:dtsample:room;1'", 1, None),
        ("SELECT $dtId, name FROM DIGITALTWINS WHERE STARTSWITH(name, 'Room')",
         2, ["dtId", "name"]),
        ("SELECT TOP (2) twin FROM DIGITALTWINS twin "
         "WHERE CONTAINS(twin.$dtId,'room')", 2, ["twin"]),
        ("SELECT T FROM DIGITALTWINS MATCH (E)-[]->(T) "
         "WHERE T.$dtId = 'b1' AND E.$dtId != 'x'", 1, ["T"]),
        ("SELECT B, R FROM DIGITALTWINS DT JOIN B RELATED DT.has R "
         "WHERE DT.$dtId = 'root2'", 2, ["B", "R"]),
        ("SELECT TOP(5) FROM DIGITALTWINS "
         "WHERE (CONTAINS(name,'Room') OR CONTAINS($dtId,'room')) "
         "AND (IS_OF_MODEL('dtmi:com:adt:dtsample:room;1') "
         "OR IS_OF_MODEL('dtmi:com:contoso:Planet;1'))", 2, None),
    ],
)
def test_golden_corpus_shapes(client, query, n_rows, cols):
    """Query shapes from ``AdtQueryToCypherTests.cs`` not covered by the
    targeted tests above: multi-entity projections, bare TOP, rel alias
    in JOIN RELATED, anonymous edges, OR-of-IS_OF_MODEL."""
    rows = client.query(query).rows
    assert len(rows) == n_rows
    if cols is None:  # star semantics: bare twin documents
        assert "$dtId" in rows[0] and "$metadata" in rows[0]
    else:
        assert sorted(rows[0]) == cols


def test_keyset_pagination_token_and_determinism(client):
    """Tokens are keyset (`_ks` last-key values), not offsets, and page
    boundaries stay stable when the underlying store is repartitioned
    between page fetches (keyset filtering doesn't depend on physical
    row order the way offset slicing does)."""
    import base64 as _b64
    import json as _json

    from pg_age_digitaltwins_spark import crud

    q = "SELECT $dtId AS dt_id FROM DIGITALTWINS"
    page1 = client.query(q, max_items_per_page=5)
    tok = _json.loads(_b64.b64decode(page1.continuation_token))
    assert "_ks" in tok and "_tr" not in tok
    assert tok["_ks"] == [page1.rows[-1]["dt_id"]]  # last sort-key value

    # shuffle the physical layout between pages — keyset must not care
    client._swap(
        crud._replace(client.store, twins=client.store.twins.repartition(7))
    )
    page2 = client.query("x", max_items_per_page=5,
                         continuation_token=page1.continuation_token)
    page3 = client.query("x", max_items_per_page=5,
                         continuation_token=page2.continuation_token)
    seen = [r["dt_id"] for r in page1.rows + page2.rows + page3.rows]
    assert len(seen) == 13 and len(set(seen)) == 13 and seen == sorted(seen)
    assert page3.continuation_token is None
    assert all("__pk0" not in r for r in page1.rows + page2.rows)


def test_keyset_pagination_duplicate_boundary(client):
    """Rows identical on every output column must each be served once —
    the `_kd` boundary-duplicate skip handles the ties a strict keyset
    filter would drop (un-ORDERed Cypher keysets on output columns,
    which here are one constant: ALL rows are boundary duplicates, so
    the skip must accumulate across consecutive pages)."""
    q = "MATCH (n) RETURN toInteger(1) AS one"
    total = len(client.query(q).rows)
    assert total == 13
    seen, token = [], None
    while True:
        page = client.query(q, max_items_per_page=2, continuation_token=token)
        seen += [r["one"] for r in page.rows]
        token = page.continuation_token
        if not token:
            break
    assert seen == [1] * total


def test_underscore_alias(client):
    """``SELECT _ FROM DIGITALTWINS _`` — underscore is a legal alias
    (``QueryTests.cs::QueryAsync_SimpleAdtQueryWithUnderscore_ReturnsTwins``)."""
    rows = client.query(
        "SELECT _ FROM DIGITALTWINS _ "
        "WHERE _.$metadata.$model = 'dtmi:com:adt:dtsample:room;1'"
    ).rows
    assert len(rows) == 10
    assert all("$dtId" in r["_"] for r in rows)


def test_pagination_vs_explicit_limit_interplay(client):
    """The reference's pagination×LIMIT matrix
    (``QueryTests.cs::QueryAsync_Pagination_Handles{Smaller,Bigger}
    LimitInQuery`` / ``HandlesSkipAndLimitInQuery``): a query LIMIT
    smaller than the page size caps the total (one short page, no
    token); a LIMIT bigger than the page size spreads across pages but
    still caps the total; SKIP composes with both."""
    # LIMIT 3 < page 10 → one page of 3, no continuation
    p = client.query(
        "MATCH (n) RETURN n.`$dtId` AS id ORDER BY id LIMIT 3",
        max_items_per_page=10,
    )
    assert len(p.rows) == 3 and p.continuation_token is None

    # LIMIT 8 > page 3 → pages of 3/3/2, 8 unique rows total
    q = "MATCH (n) RETURN n.`$dtId` AS id ORDER BY id LIMIT 8"
    seen, token = [], None
    while True:
        page = client.query(q, max_items_per_page=3, continuation_token=token)
        seen += [r["id"] for r in page.rows]
        token = page.continuation_token
        if not token:
            break
    assert len(seen) == 8 and len(set(seen)) == 8 and seen == sorted(seen)

    # SKIP 2 LIMIT 8 → same walk starts at the 3rd id
    all_ids = sorted(
        r["id"] for r in client.query("MATCH (n) RETURN n.`$dtId` AS id").rows
    )
    q2 = "MATCH (n) RETURN n.`$dtId` AS id ORDER BY id SKIP 2 LIMIT 8"
    seen2, token = [], None
    while True:
        page = client.query(q2, max_items_per_page=3, continuation_token=token)
        seen2 += [r["id"] for r in page.rows]
        token = page.continuation_token
        if not token:
            break
    assert seen2 == all_ids[2:10]

    # keyset path (no ORDER BY) with an explicit LIMIT still caps the total
    q3 = "MATCH (n) RETURN n.`$dtId` AS id LIMIT 6"
    seen3, token = [], None
    while True:
        page = client.query(q3, max_items_per_page=4, continuation_token=token)
        seen3 += [r["id"] for r in page.rows]
        token = page.continuation_token
        if not token:
            break
    assert len(seen3) == 6 and len(set(seen3)) == 6


def test_keyset_relationship_pages_with_duplicate_rel_ids(spark):
    """ADT guarantees $relationshipId uniqueness only PER SOURCE twin —
    the same id may repeat across sources.  Relationship keyset must
    therefore sort on the composite (source_id, relationship_id): with
    relationship_id alone, tied boundary rows are interchangeable and
    the `_kd` skip can drop or double-serve rows when physical order
    shifts between pages."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    twins = [
        {"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:com:x;1"}}
        for i in range(4)
    ]
    # every source reuses the SAME relationship ids — maximal ties
    rels = [
        {"$relationshipId": rid, "$sourceId": f"t{i}",
         "$targetId": f"t{(i + 1) % 4}", "$relationshipName": "has"}
        for i in range(4)
        for rid in ("dup_a", "dup_b", "dup_c")
    ]
    store = GraphStore.from_documents(spark, twin_docs=twins, relationship_docs=rels)
    c = DigitalTwinsSparkClient(store)
    q = ("SELECT R.$sourceId AS src, R.$relationshipId AS rid "
         "FROM RELATIONSHIPS R")
    expected = sorted((r["$sourceId"], r["$relationshipId"]) for r in rels)
    for n in (1, 2, 3, 5):
        seen, token = [], None
        while True:
            # repartition between pages: keyset must not depend on
            # physical order for tie-breaking
            from pg_age_digitaltwins_spark import crud

            c._swap(
                crud._replace(
                    c.store,
                    relationships=c.store.relationships.repartition(3 + n),
                )
            )
            page = c.query(q, max_items_per_page=n, continuation_token=token)
            # one Spark read per snapshot persists nothing
            assert not any(e.persisted for e in c._result_cache.values())
            seen += [(r["src"], r["rid"]) for r in page.rows]
            token = page.continuation_token
            if not token:
                break
        assert sorted(seen) == expected, f"page size {n}"


def test_keyset_pagination_mixed_duplicates_all_page_sizes(client):
    """Mixed duplicate groups walked at several page sizes: every row
    served exactly once regardless of where group boundaries fall
    relative to page boundaries."""
    q = "MATCH (c) RETURN c.`$metadata`.`$model` AS m"
    expected = sorted(r["m"] for r in client.query(q).rows)
    assert len(expected) == 13 and len(set(expected)) < 13  # real dup groups
    for n in (1, 2, 3, 5):
        seen, token = [], None
        while True:
            page = client.query(q, max_items_per_page=n, continuation_token=token)
            seen += [r["m"] for r in page.rows]
            token = page.continuation_token
            if not token:
                break
        assert sorted(seen) == expected, f"page size {n}"


def test_explain_surfaces_physical_plan(client):
    """client.explain returns the formatted Spark plan with the scan
    pushdown visible — the EXPLAIN diagnostics parity
    (QueryTests.cs:1309)."""
    plan = client.explain(
        "SELECT T.$dtId AS id FROM DIGITALTWINS T WHERE T.$dtId = 'room1'"
    )
    assert "Physical Plan" in plan and "Filter" in plan
    cy = client.explain("MATCH (t) RETURN count(*) AS n", mode="simple")
    assert "Physical Plan" in cy or "Aggregate" in cy


def test_register_views_enables_raw_sql(client):
    """register_views exposes the snapshot tables to spark.sql — the
    raw-SQL escape hatch below the ADT QL / Cypher dialects."""
    client.register_views(prefix="g_")
    spark = client.store.spark
    n = spark.sql("SELECT count(*) AS n FROM g_twins").collect()[0]["n"]
    assert n == client.store.twins.count()
    joined = spark.sql(
        "SELECT count(*) AS n FROM g_relationships r "
        "JOIN g_twins t ON r.source_id = t.dt_id"
    ).collect()[0]["n"]
    assert joined == client.store.relationships.count()


def test_keyset_pagination_under_mutation_no_dup_no_skip(spark):
    """r7 (ADVICE #7): staleness semantics under mutation, documented as
    an intentional divergence from the reference's OFFSET tokens
    (ContinuationToken.cs:9-40).  Keyset tokens anchor on the last
    served key, so between pages:

    * deleting an already-served row does NOT shift later pages
      (offset tokens would SKIP one surviving row);
    * inserting a row before the boundary does NOT re-serve or displace
      anything (offset tokens would DUPLICATE one row);
    * inserts/deletes after the boundary are reflected as-of page time.

    No surviving row is ever duplicated or skipped."""
    from pg_age_digitaltwins_spark import crud
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{
        "@id": "dtmi:pg:T;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "x", "schema": "integer"}],
    }]
    twins = [
        {"$dtId": f"m{i:02d}", "$metadata": {"$model": "dtmi:pg:T;1"}, "x": i}
        for i in range(10)
    ]
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    )
    q = "SELECT $dtId AS dt_id FROM DIGITALTWINS"
    page1 = c.query(q, max_items_per_page=4)
    assert [r["dt_id"] for r in page1.rows] == ["m00", "m01", "m02", "m03"]

    # mutate between pages: delete a SERVED row, insert before AND
    # after the boundary
    c.delete_digital_twin("m01")
    c.create_or_replace_digital_twin(
        "a00", {"$metadata": {"$model": "dtmi:pg:T;1"}, "x": 100})  # < boundary
    c.create_or_replace_digital_twin(
        "m055", {"$metadata": {"$model": "dtmi:pg:T;1"}, "x": 55})  # > boundary

    page2 = c.query(q, max_items_per_page=4,
                    continuation_token=page1.continuation_token)
    page3 = c.query(q, max_items_per_page=4,
                    continuation_token=page2.continuation_token)
    got = [r["dt_id"] for r in page1.rows + page2.rows + page3.rows]
    # m01 was served before its delete (as-of semantics); a00 sorts
    # before the boundary so it never appears; m055 (inserted after the
    # boundary) appears exactly once; nothing else dups or skips
    assert got == ["m00", "m01", "m02", "m03",
                   "m04", "m05", "m055", "m06",
                   "m07", "m08", "m09"]
    assert page3.continuation_token is None


def test_match_undirected_both_orientations(client):
    """r7: ADT QL non-directional MATCH `-[r]-` matches BOTH
    orientations (one row per edge per orientation — AGE Cypher
    parity); previously it silently compiled as a forward hop."""
    directed = client.query(
        "SELECT COUNT() FROM DIGITALTWINS MATCH (A)-[R:has]->(B)"
    ).rows[0]["count"]
    undirected = client.query(
        "SELECT COUNT() FROM DIGITALTWINS MATCH (A)-[R:has]-(B)"
    ).rows[0]["count"]
    assert undirected == 2 * directed > 0
    # anchored at a leaf (edges only INTO it): the undirected form
    # still reaches its sources
    out = client.query(
        "SELECT B.$dtId AS id FROM DIGITALTWINS "
        "MATCH (A)-[R:has]-(B) WHERE A.$dtId = 'b1'"
    ).rows
    ids = sorted(r["id"] for r in out)
    assert "root2" in ids and "x" in ids  # incoming source + outgoing target
