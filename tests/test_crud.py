"""CRUD semantics (SURVEY.md §2.3): twins, relationships, components,
models, ETags, batch ops, telemetry, and the captured change log.

Modeled on the reference suites ``DigitalTwinsTests`` / ``ModelsTests``
/ ``ComponentsTests`` / ``RelationshipsTests`` / ``Batch*Tests``
(``src/AgeDigitalTwins.Test/``).
"""

from __future__ import annotations

import pytest

from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
from pg_age_digitaltwins_spark.crud import (
    NotFoundError,
    PreconditionFailedError,
    generate_etag,
)
from pg_age_digitaltwins_spark.functions import jsonpatch
from pg_age_digitaltwins_spark.models import (
    ModelAlreadyExistsError,
    ModelReferencedError,
)
from pg_age_digitaltwins_spark.store.graph_store import GraphStore
from pg_age_digitaltwins_spark.validation import ValidationError

MODELS = [
    {
        "@id": "dtmi:test:Room;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [
            {"@type": "Property", "name": "temperature", "schema": "double"},
            {"@type": "Property", "name": "name", "schema": "string"},
            {"@type": "Component", "name": "thermostat", "schema": "dtmi:test:Thermostat;1"},
        ],
    },
    {
        "@id": "dtmi:test:Thermostat;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "setpoint", "schema": "double"}],
    },
    {
        "@id": "dtmi:test:SmartRoom;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:test:Room;1",
        "contents": [{"@type": "Property", "name": "automated", "schema": "boolean"}],
    },
]

TS = "2026-02-01T00:00:00.0000000Z"


@pytest.fixture()
def client(spark):
    store = GraphStore.empty(spark).with_models(MODELS)
    return DigitalTwinsSparkClient(store)


def make_twin(model="dtmi:test:Room;1", **props):
    return {"$metadata": {"$model": model}, **props}


# ----------------------------------------------------------------------
# twins
# ----------------------------------------------------------------------

def test_create_get_roundtrip(client):
    doc = client.create_or_replace_digital_twin(
        "room-1", make_twin(temperature=21.5, name="lab"), ts=TS
    )
    assert doc["$etag"] == generate_etag("room-1", TS)
    assert doc["$metadata"]["temperature"]["lastUpdateTime"] == TS
    assert doc["$metadata"]["$lastUpdateTime"] == TS
    got = client.get_digital_twin("room-1")
    assert got["temperature"] == 21.5
    assert got["$dtId"] == "room-1"


def test_get_missing_raises(client):
    with pytest.raises(NotFoundError):
        client.get_digital_twin("nope")


def test_validation_unknown_property(client):
    with pytest.raises(ValidationError, match="not defined in the model"):
        client.create_or_replace_digital_twin("r", make_twin(bogus=1), ts=TS)


def test_validation_wrong_type(client):
    with pytest.raises(ValidationError, match="does not match schema"):
        client.create_or_replace_digital_twin(
            "r", make_twin(temperature="hot"), ts=TS
        )


def test_validation_inherited_property_ok(client):
    doc = client.create_or_replace_digital_twin(
        "sr", make_twin("dtmi:test:SmartRoom;1", temperature=20.0, automated=True),
        ts=TS,
    )
    assert doc["automated"] is True


def test_validation_unknown_model(client):
    # twin validation resolves the model like the reference's DTDLParser
    # pass: unresolvable model = 400-family ValidationError
    # (SDK test ...ModelNotFound_ReturnsBadRequest), not a 404 KeyError
    from pg_age_digitaltwins_spark.validation import ValidationError

    with pytest.raises(ValidationError, match="could not be resolved"):
        client.create_or_replace_digital_twin("r", make_twin("dtmi:test:Nope;1"), ts=TS)


def test_if_none_match_star(client):
    client.create_or_replace_digital_twin("room-1", make_twin(temperature=1.0), ts=TS)
    with pytest.raises(PreconditionFailedError):
        client.create_or_replace_digital_twin(
            "room-1", make_twin(temperature=2.0), if_none_match="*", ts=TS
        )


def test_update_patch_and_etag_cas(client):
    created = client.create_or_replace_digital_twin(
        "room-1", make_twin(temperature=21.5), ts=TS
    )
    ts2 = "2026-02-02T00:00:00.0000000Z"
    updated = client.update_digital_twin(
        "room-1",
        [{"op": "replace", "path": "/temperature", "value": 25.0}],
        if_match=created["$etag"],
        ts=ts2,
    )
    assert updated["temperature"] == 25.0
    assert updated["$etag"] != created["$etag"]
    # stale etag now fails
    with pytest.raises(PreconditionFailedError):
        client.update_digital_twin(
            "room-1",
            [{"op": "replace", "path": "/temperature", "value": 30.0}],
            if_match=created["$etag"],
        )


def test_update_add_property_validated(client):
    client.create_or_replace_digital_twin("room-1", make_twin(temperature=1.0), ts=TS)
    with pytest.raises(ValidationError):
        client.update_digital_twin(
            "room-1", [{"op": "add", "path": "/bogus", "value": 1}]
        )


def test_delete_twin_with_edges_fails(client):
    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    client.create_or_replace_digital_twin("b", make_twin(temperature=2.0), ts=TS)
    client.create_or_replace_relationship(
        "a", "r1", {"$targetId": "b", "$relationshipName": "adjacentTo"}, ts=TS
    )
    with pytest.raises(ValidationError, match="relationships still reference"):
        client.delete_digital_twin("a")
    client.delete_relationship("a", "r1")
    client.delete_digital_twin("a")
    with pytest.raises(NotFoundError):
        client.get_digital_twin("a")


def test_batch_create_partial_failure(client):
    results = client.create_or_replace_digital_twins(
        [
            {"$dtId": "ok-1", **make_twin(temperature=1.0)},
            {"$dtId": "bad-1", **make_twin(bogus=True)},
            {"$dtId": "ok-2", **make_twin(temperature=2.0)},
        ],
        ts=TS,
    )
    statuses = {r["$dtId"]: r["status"] for r in results}
    assert statuses == {"ok-1": "ok", "bad-1": "error", "ok-2": "ok"}
    assert client.get_digital_twin("ok-2")["temperature"] == 2.0
    with pytest.raises(NotFoundError):
        client.get_digital_twin("bad-1")


def test_batch_size_limit(client):
    docs = [{"$dtId": f"t{i}", **make_twin(temperature=0.0)} for i in range(101)]
    with pytest.raises(ValidationError, match="exceeds limit"):
        client.create_or_replace_digital_twins(docs, ts=TS)


# ----------------------------------------------------------------------
# components
# ----------------------------------------------------------------------

def test_component_get_update(client):
    client.create_or_replace_digital_twin(
        "room-1",
        make_twin(temperature=20.0, thermostat={"setpoint": 19.0, "$metadata": {}}),
        ts=TS,
    )
    comp = client.get_component("room-1", "thermostat")
    assert comp["setpoint"] == 19.0
    client.update_component(
        "room-1", "thermostat",
        [{"op": "replace", "path": "/setpoint", "value": 22.0}],
        ts="2026-02-03T00:00:00.0000000Z",
    )
    assert client.get_component("room-1", "thermostat")["setpoint"] == 22.0


def test_component_must_be_object(client):
    with pytest.raises(ValidationError, match="must be a JSON object"):
        client.create_or_replace_digital_twin(
            "room-1", make_twin(thermostat=5), ts=TS
        )


def test_component_undefined_property(client):
    with pytest.raises(ValidationError, match="not defined in the component schema"):
        client.create_or_replace_digital_twin(
            "room-1", make_twin(thermostat={"volume": 1}), ts=TS
        )


# ----------------------------------------------------------------------
# relationships
# ----------------------------------------------------------------------

def test_relationship_crud(client):
    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    client.create_or_replace_digital_twin("b", make_twin(temperature=2.0), ts=TS)
    rel = client.create_or_replace_relationship(
        "a", "r1",
        {"$targetId": "b", "$relationshipName": "adjacentTo", "weight": 2},
        ts=TS,
    )
    assert rel["$etag"] == generate_etag("r1", TS)
    got = client.get_relationship("a", "r1")
    assert got["weight"] == 2
    outgoing = client.list_relationships("a")
    incoming = client.list_incoming_relationships("b")
    assert [r["$relationshipId"] for r in outgoing] == ["r1"]
    assert [r["$relationshipId"] for r in incoming] == ["r1"]
    assert client.list_relationships("a", "other") == []
    client.delete_relationship("a", "r1")
    with pytest.raises(NotFoundError):
        client.get_relationship("a", "r1")


def test_relationship_missing_endpoint(client):
    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    with pytest.raises(NotFoundError, match="Target twin"):
        client.create_or_replace_relationship(
            "a", "r1", {"$targetId": "ghost", "$relationshipName": "x"}, ts=TS
        )


def test_relationship_batch(client):
    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    client.create_or_replace_digital_twin("b", make_twin(temperature=2.0), ts=TS)
    results = client.create_or_replace_relationships(
        [
            {"$relationshipId": "r1", "$sourceId": "a", "$targetId": "b",
             "$relationshipName": "adjacentTo"},
            {"$relationshipId": "r2", "$sourceId": "a", "$targetId": "ghost",
             "$relationshipName": "adjacentTo"},
        ],
        ts=TS,
    )
    by_id = {r["$relationshipId"]: r["status"] for r in results}
    assert by_id == {"r1": "ok", "r2": "error"}


# ----------------------------------------------------------------------
# models
# ----------------------------------------------------------------------

def test_model_crud(client):
    got = client.get_model("dtmi:test:Room;1")
    assert got["descendants"] == ["dtmi:test:SmartRoom;1"]
    assert sorted(m["model"]["@id"] for m in client.list_models()) == sorted(
        m["@id"] for m in MODELS
    )
    deps = client.list_models(dependencies_for=["dtmi:test:SmartRoom;1"])
    assert sorted(d["model"]["@id"] for d in deps) == [
        "dtmi:test:Room;1", "dtmi:test:SmartRoom;1", "dtmi:test:Thermostat;1",
    ]


def test_model_create_duplicate(client):
    with pytest.raises(ModelAlreadyExistsError):
        client.create_models([MODELS[0]])


def test_weird_characters_round_trip(client):
    """Values with quotes, escapes, newlines, emoji, and Cypher-looking
    strings survive create/patch/read unchanged
    (``DigitalTwinsTests.cs::...WithWeirdcharacters...`` and
    ``UpdateDigitalTwinAsync_AddQueryWithSpecialCharacters_*``)."""
    weird = "A 'description' \"with a\n\rfew weird \U0001F47D '/\\characters."
    client.create_or_replace_digital_twin(
        "weird1", {**make_twin(temperature=1.0), "name": weird}, ts=TS
    )
    assert client.get_digital_twin("weird1")["name"] == weird

    query_value = (
        "MATCH (current:Twin)-[*1..2]->(T:Twin) WHERE current['$dtId']= "
        "'@_selectedId' AND (digitaltwins.is_of_model(T,'dtmi:com:x:Asset;1')) "
        "RETURN T.$dtId as Id, T.name as Name  ORDER BY Name ASC"
    )
    client.update_digital_twin(
        "weird1", [{"op": "add", "path": "/name", "value": query_value}]
    )
    got = client.get_digital_twin("weird1")["name"]
    assert got == query_value
    assert "'$dtId'" in got and "'dtmi:com:x:Asset;1'" in got


def test_source_time_metadata_patch(client):
    """A patch writing ``/$metadata/<prop>/sourceTime`` persists beside
    the engine-stamped lastUpdateTime
    (``DigitalTwinsTests.cs::UpdateDigitalTwinAsync_SourceTime_Updated``;
    stamping preserves caller-supplied metadata keys)."""
    client.create_or_replace_digital_twin(
        "st1", {**make_twin(temperature=1.0), "name": "Earth"}, ts=TS
    )
    src = "2026-08-14T00:00:00.0000000Z"
    client.update_digital_twin("st1", [
        {"op": "add", "path": "/name", "value": "Earth 3"},
        {"op": "add", "path": "/$metadata/name/sourceTime", "value": src},
    ])
    t = client.get_digital_twin("st1")
    assert t["name"] == "Earth 3"
    assert t["$metadata"]["name"]["sourceTime"] == src
    assert "lastUpdateTime" in t["$metadata"]["name"]


def test_descendants_updated_when_derived_models_created_later(spark):
    """Closure columns recompute on every create batch: a base created
    alone has no descendants; descendants accumulate as derived models
    arrive in LATER batches, at every level of the chain
    (``ModelsTests.cs::CreateModels_DescendantsUpdatedInBaseModel_
    WhenDerivedModelsCreatedLater``)."""
    body = {"@id": "dtmi:ex:sky:Body;1", "@type": "Interface",
            "@context": "dtmi:dtdl:context;3"}
    planet = {"@id": "dtmi:ex:sky:Planet;1", "@type": "Interface",
              "@context": "dtmi:dtdl:context;3",
              "extends": "dtmi:ex:sky:Body;1"}
    habitable = {"@id": "dtmi:ex:sky:Habitable;1", "@type": "Interface",
                 "@context": "dtmi:dtdl:context;3",
                 "extends": "dtmi:ex:sky:Planet;1"}

    c = DigitalTwinsSparkClient(GraphStore.empty(spark))
    c.create_models([body])
    assert c.get_model("dtmi:ex:sky:Body;1")["descendants"] == []
    c.create_models([planet])
    assert c.get_model("dtmi:ex:sky:Body;1")["descendants"] == [
        "dtmi:ex:sky:Planet;1"
    ]
    c.create_models([habitable])
    assert sorted(c.get_model("dtmi:ex:sky:Body;1")["descendants"]) == [
        "dtmi:ex:sky:Habitable;1", "dtmi:ex:sky:Planet;1",
    ]
    assert c.get_model("dtmi:ex:sky:Planet;1")["descendants"] == [
        "dtmi:ex:sky:Habitable;1"
    ]
    assert c.get_model("dtmi:ex:sky:Habitable;1")["bases"] == [
        "dtmi:ex:sky:Planet;1", "dtmi:ex:sky:Body;1",
    ] or sorted(c.get_model("dtmi:ex:sky:Habitable;1")["bases"]) == [
        "dtmi:ex:sky:Body;1", "dtmi:ex:sky:Planet;1",
    ]


def test_get_model_include_base_model_contents(spark):
    """GetModelOptions.IncludeBaseModelContents merges contents across
    the model and ALL its bases, split per content kind, None for an
    empty category (``AgeDigitalTwinsClient.Models.cs:124-217``,
    ``ModelsTests.cs::GetModelAsync_IncludesAllBaseProperties...``)."""
    base = {
        "@id": "dtmi:ex:cb:Body;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [
            {"@type": "Property", "name": "mass", "schema": "double"},
            {"@type": "Property", "name": "temperature", "schema": "double"},
            {"@type": "Relationship", "name": "orbits"},
        ],
    }
    derived = {
        "@id": "dtmi:ex:cb:Planet;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:ex:cb:Body;1",
        "contents": [
            {"@type": "Property", "name": "hasLife", "schema": "boolean"},
            {"@type": "Relationship", "name": "satellites"},
            {"@type": "Telemetry", "name": "flux", "schema": "double"},
        ],
    }
    c = DigitalTwinsSparkClient(GraphStore.empty(spark))
    c.create_models([base, derived])

    got = c.get_model("dtmi:ex:cb:Planet;1", include_base_model_contents=True)
    assert sorted(p["name"] for p in got["properties"]) == [
        "hasLife", "mass", "temperature",
    ]
    assert sorted(r["name"] for r in got["relationships"]) == [
        "orbits", "satellites",
    ]
    assert [t["name"] for t in got["telemetries"]] == ["flux"]
    assert got["components"] is None and got["commands"] is None
    # derived contents come first (main-then-bases concatenation order)
    assert got["properties"][0]["name"] == "hasLife"

    # base alone: only its own contents
    got2 = c.get_model("dtmi:ex:cb:Body;1", include_base_model_contents=True)
    assert sorted(p["name"] for p in got2["properties"]) == ["mass", "temperature"]
    assert [r["name"] for r in got2["relationships"]] == ["orbits"]

    # without the flag the merged keys are absent entirely
    got3 = c.get_model("dtmi:ex:cb:Planet;1")
    assert "properties" not in got3


def test_model_delete_guard(client):
    with pytest.raises(ModelReferencedError):
        client.delete_model("dtmi:test:Room;1")  # SmartRoom extends it
    client.delete_model("dtmi:test:SmartRoom;1")
    client.delete_model("dtmi:test:Room;1")  # now unreferenced


def test_model_decommission(client):
    client.decommission_model("dtmi:test:Room;1")
    assert client.get_model("dtmi:test:Room;1")["decommissioned"] is True


def test_new_model_enables_new_property(client):
    client.create_models(
        [{
            "@id": "dtmi:test:Garage;1", "@type": "Interface",
            "@context": "dtmi:dtdl:context;3",
            "contents": [{"@type": "Property", "name": "doors", "schema": "integer"}],
        }]
    )
    doc = client.create_or_replace_digital_twin(
        "g1", make_twin("dtmi:test:Garage;1", doors=2), ts=TS
    )
    assert doc["doors"] == 2


# ----------------------------------------------------------------------
# telemetry + change log
# ----------------------------------------------------------------------

def test_telemetry_requires_twin(client):
    with pytest.raises(NotFoundError):
        client.publish_telemetry("ghost", {"t": 1})


def test_telemetry_event_shape(client):
    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    ev = client.publish_telemetry("a", {"t": 21.5}, message_id="m1", ts=TS)
    assert ev == {
        "digitalTwinId": "a", "messageId": "m1", "timestamp": TS,
        "telemetry": {"t": 21.5}, "modelId": "dtmi:test:Room;1",
    }
    # not stored anywhere in the graph
    assert client.store.twins.count() == 1


def test_change_log_capture(client):
    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    client.update_digital_twin(
        "a", [{"op": "replace", "path": "/temperature", "value": 2.0}]
    )
    client.create_or_replace_digital_twin("b", make_twin(temperature=9.0), ts=TS)
    client.create_or_replace_relationship(
        "a", "r1", {"$targetId": "b", "$relationshipName": "x"}, ts=TS
    )
    client.delete_relationship("a", "r1")
    client.delete_digital_twin("b")
    kinds = [(e.table_name, e.event_type) for e in client.changes.events]
    assert kinds == [
        ("Twin", "Insert"), ("Twin", "Update"), ("Twin", "Insert"),
        ("x", "Insert"), ("x", "Delete"), ("Twin", "Delete"),
    ]
    ins = client.changes.events[0]
    assert ins.old_value is None and ins.new_value["$dtId"] == "a"
    upd = client.changes.events[1]
    assert upd.old_value["temperature"] == 1.0
    assert upd.new_value["temperature"] == 2.0


# ----------------------------------------------------------------------
# jsonpatch unit coverage
# ----------------------------------------------------------------------

def test_jsonpatch_apply_ops():
    doc = {"a": 1, "b": {"c": [1, 2]}}
    out = jsonpatch.apply_patch(
        doc,
        [
            {"op": "replace", "path": "/a", "value": 9},
            {"op": "add", "path": "/b/c/-", "value": 3},
            {"op": "add", "path": "/d", "value": {"x": 1}},
            {"op": "remove", "path": "/b/c/0"},
            {"op": "move", "from": "/d/x", "path": "/y"},
            {"op": "copy", "from": "/a", "path": "/z"},
            {"op": "test", "path": "/z", "value": 9},
        ],
    )
    assert out == {"a": 9, "b": {"c": [2, 3]}, "d": {}, "y": 1, "z": 9}
    assert doc == {"a": 1, "b": {"c": [1, 2]}}  # input untouched


def test_jsonpatch_escapes():
    doc = {"a/b": {"~c": 1}}
    assert jsonpatch.get_pointer(doc, "/a~1b/~0c") == 1
    out = jsonpatch.apply_patch(doc, [{"op": "replace", "path": "/a~1b/~0c", "value": 2}])
    assert out == {"a/b": {"~c": 2}}


def test_jsonpatch_diff_roundtrip():
    old = {"a": 1, "b": {"c": 2, "d": [1, 2, 3]}, "gone": True}
    new = {"a": 1, "b": {"c": 5, "d": [1, 9]}, "fresh": "x"}
    patch = jsonpatch.make_patch(old, new)
    assert jsonpatch.apply_patch(old, patch) == new
    ops = {(p["op"], p["path"]) for p in patch}
    assert ("remove", "/gone") in ops
    assert ("add", "/fresh") in ops
    assert ("replace", "/b/c") in ops


def test_jsonpatch_type_change_is_replace():
    assert jsonpatch.make_patch({"a": 1}, {"a": "1"}) == [
        {"op": "replace", "path": "/a", "value": "1"}
    ]


def test_relationship_batch_replace_emits_update_event(client):
    # A batch replace must log Update with the old doc (mirroring the
    # twin batch path) so the event pipeline emits
    # Konnektr.Graph.Relationship.Update with an RFC-6902 patch, not a
    # spurious .Create (CloudEventFactory.cs:35-133 contract).
    from pg_age_digitaltwins_spark.streaming.cloudevents import event_notification

    client.create_or_replace_digital_twin("a", make_twin(temperature=1.0), ts=TS)
    client.create_or_replace_digital_twin("b", make_twin(temperature=2.0), ts=TS)
    rel = {"$relationshipId": "r1", "$sourceId": "a", "$targetId": "b",
           "$relationshipName": "adjacentTo", "weight": 1}
    client.create_or_replace_relationships([rel], ts=TS)
    client.changes.drain()
    ts2 = "2026-02-02T00:00:00.0000000Z"
    client.create_or_replace_relationships([{**rel, "weight": 2}], ts=ts2)
    [ev] = client.changes.drain()
    assert ev.event_type == "Update"
    assert ev.old_value is not None and ev.old_value["weight"] == 1
    assert ev.new_value["weight"] == 2
    [ce] = event_notification(ev, "src-a", lambda: "id-1")
    assert ce["type"] == "Konnektr.Graph.Relationship.Update"
    patch_paths = {op["path"]: op for op in ce["data"]["patch"]}
    assert patch_paths["/weight"]["value"] == 2
    # fresh creates still log Insert
    client.create_or_replace_relationships(
        [{"$relationshipId": "r2", "$sourceId": "b", "$targetId": "a",
          "$relationshipName": "adjacentTo"}],
        ts=ts2,
    )
    [ev2] = client.changes.drain()
    assert ev2.event_type == "Insert" and ev2.old_value is None


# ----------------------------------------------------------------------
# DTDL model-document validation (the DTDLParser-parity subset)
# ----------------------------------------------------------------------

def _interface(**over):
    base = {
        "@id": "dtmi:v:Test;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [],
    }
    base.update(over)
    return base


def test_validate_model_accepts_semantic_types():
    from pg_age_digitaltwins_spark.validation import validate_model

    validate_model(
        _interface(
            **{
                "@context": [
                    "dtmi:dtdl:context;3",
                    "dtmi:dtdl:extension:quantitativeTypes;1",
                ]
            },
            contents=[
                {
                    "@type": ["Property", "Temperature"],
                    "name": "temperature",
                    "schema": "double",
                    "unit": "degreeCelsius",
                },
                {
                    "@type": ["Telemetry", "Humidity"],
                    "name": "hum",
                    "schema": "double",
                    "unit": "gramPerCubicMetre",
                },
            ],
        )
    )


def test_validate_model_rejections():
    import pytest as _pytest

    from pg_age_digitaltwins_spark.validation import validate_model

    with _pytest.raises(ValidationError, match="not a valid DTMI"):
        validate_model(_interface(**{"@id": "not-a-dtmi"}))
    with _pytest.raises(ValidationError, match="@type must include"):
        validate_model(_interface(**{"@type": "Telemetry"}))
    with _pytest.raises(ValidationError, match="@context"):
        validate_model(_interface(**{"@context": "dtmi:wrong;1"}))
    with _pytest.raises(ValidationError, match="requires a schema"):
        validate_model(
            _interface(contents=[{"@type": "Property", "name": "x"}])
        )
    with _pytest.raises(ValidationError, match="not a valid Temperature unit"):
        validate_model(
            _interface(
                **{
                    "@context": [
                        "dtmi:dtdl:context;3",
                        "dtmi:dtdl:extension:quantitativeTypes;1",
                    ]
                },
                contents=[
                    {
                        "@type": ["Property", "Temperature"],
                        "name": "t",
                        "schema": "double",
                        "unit": "furlong",
                    }
                ],
            )
        )
    # semantic type without the extension context
    with _pytest.raises(ValidationError, match="quantitativeTypes"):
        validate_model(
            _interface(
                contents=[
                    {
                        "@type": ["Property", "Temperature"],
                        "name": "t",
                        "schema": "double",
                        "unit": "kelvin",
                    }
                ]
            )
        )
    # semantic type on a string schema
    with _pytest.raises(ValidationError, match="numeric schema"):
        validate_model(
            _interface(
                **{
                    "@context": [
                        "dtmi:dtdl:context;3",
                        "dtmi:dtdl:extension:quantitativeTypes;1",
                    ]
                },
                contents=[
                    {
                        "@type": ["Property", "Temperature"],
                        "name": "t",
                        "schema": "string",
                    }
                ],
            )
        )
    with _pytest.raises(ValidationError, match="duplicate content name"):
        validate_model(
            _interface(
                contents=[
                    {"@type": "Property", "name": "x", "schema": "double"},
                    {"@type": "Property", "name": "x", "schema": "string"},
                ]
            )
        )
    with _pytest.raises(ValidationError, match="cannot be resolved"):
        validate_model(_interface(extends="dtmi:v:Missing;1"), {"dtmi:v:Test;1"})


def test_create_models_validates_batch(client):
    from pg_age_digitaltwins_spark.models import ModelAlreadyExistsError

    # in-batch cross-references resolve
    a = _interface(**{"@id": "dtmi:v:A;1"})
    b = _interface(
        **{"@id": "dtmi:v:B;1"},
        extends="dtmi:v:A;1",
        contents=[{"@type": "Component", "name": "sub", "schema": "dtmi:v:A;1"}],
    )
    client.create_models([a, b])
    with pytest.raises(ModelAlreadyExistsError):
        client.create_models([_interface(**{"@id": "dtmi:v:A;1"})])
    with pytest.raises(ValidationError, match="cannot be resolved"):
        client.create_models([_interface(**{"@id": "dtmi:v:C;1"}, extends="dtmi:v:Nope;1")])


def test_checkpoint_bounds_mutation_lineage(spark, tmp_path):
    """SURVEY §7 hard-#5: after N point mutations every query replays an
    N-deep plan; checkpoint() compacts it (both modes) with identical
    results."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{
        "@id": "dtmi:ck:M;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "x", "schema": "double"}],
    }]
    c = DigitalTwinsSparkClient(GraphStore.empty(spark).with_models(models))
    for i in range(12):
        c.create_or_replace_digital_twin(
            f"t{i}", {"$metadata": {"$model": "dtmi:ck:M;1"}, "x": float(i)}
        )
        c.update_digital_twin(
            f"t{i}", [{"op": "replace", "path": "/x", "value": float(i) + 0.5}]
        )
    deep_plan = c.store.twins._jdf.queryExecution().optimizedPlan().toString()

    # in-place lineage cut
    c.checkpoint()
    flat_plan = c.store.twins._jdf.queryExecution().optimizedPlan().toString()
    assert len(flat_plan) < len(deep_plan) / 2
    assert c.store.twins.count() == 12
    assert c.get_digital_twin("t3")["x"] == 3.5

    # durable compaction roundtrip
    c.create_or_replace_digital_twin(
        "extra", {"$metadata": {"$model": "dtmi:ck:M;1"}, "x": 99.0}
    )
    c.checkpoint(str(tmp_path / "compact"))
    assert c.store.twins.count() == 13
    assert c.get_digital_twin("extra")["x"] == 99.0
    assert c.get_digital_twin("t3")["x"] == 3.5
    # further mutations work on the reloaded store
    c.update_digital_twin("extra", [{"op": "replace", "path": "/x", "value": 1.0}])
    assert c.get_digital_twin("extra")["x"] == 1.0


def test_validate_model_named_schemas():
    """DTDL v3 interface-level `schemas`: named definitions are
    declarable, reusable by dtmi: reference from contents (including
    nested/complex positions), and bad refs are rejected with the
    offending reference in the error."""
    from pg_age_digitaltwins_spark.validation import validate_model

    color = {
        "@id": "dtmi:ex:schemas:Color;1",
        "@type": "Enum",
        "valueSchema": "string",
        "enumValues": [
            {"name": "red", "enumValue": "red"},
            {"name": "blue", "enumValue": "blue"},
        ],
    }
    validate_model(
        _interface(
            schemas=[color],
            contents=[
                {"@type": "Property", "name": "c1", "schema": "dtmi:ex:schemas:Color;1"},
                {"@type": "Property", "name": "c2", "schema": "dtmi:ex:schemas:Color;1"},
                {"@type": "Telemetry", "name": "t1",
                 "schema": {"@type": "Array",
                            "elementSchema": "dtmi:ex:schemas:Color;1"}},
            ],
        )
    )
    # unresolvable named-schema ref carries the reference in the error
    with pytest.raises(ValidationError, match="dtmi:ex:schemas:Nope;1.*cannot be resolved"):
        validate_model(
            _interface(
                schemas=[color],
                contents=[{"@type": "Property", "name": "c",
                           "schema": "dtmi:ex:schemas:Nope;1"}],
            )
        )
    # malformed named schema definitions
    with pytest.raises(ValidationError, match="not a valid DTMI"):
        validate_model(_interface(schemas=[{"@id": "nope", "@type": "Enum"}]))
    with pytest.raises(ValidationError, match="non-empty enumValues"):
        validate_model(_interface(schemas=[
            {"@id": "dtmi:ex:E;1", "@type": "Enum", "valueSchema": "string",
             "enumValues": []},
        ]))
    with pytest.raises(ValidationError, match="non-empty fields"):
        validate_model(_interface(schemas=[
            {"@id": "dtmi:ex:O;1", "@type": "Object", "fields": []},
        ]))


def test_validate_model_nesting_depth_limit():
    """DTDL caps complex-schema nesting: 5 levels under a v2 context,
    8 under v3 — exceeding the cap is a rejection (DTDLParser refuses
    over-deep models; silently truncating the check would accept
    them)."""
    from pg_age_digitaltwins_spark.validation import validate_model

    def nested(levels):
        schema = "double"
        for _ in range(levels):
            schema = {"@type": "Array", "elementSchema": schema}
        return schema

    # v3: 8 levels OK, 9 rejected
    validate_model(_interface(contents=[
        {"@type": "Property", "name": "ok", "schema": nested(8)},
    ]))
    with pytest.raises(ValidationError, match="nesting exceeds the DTDL limit of 8"):
        validate_model(_interface(contents=[
            {"@type": "Property", "name": "deep", "schema": nested(9)},
        ]))
    # v2: 5 levels OK, 6 rejected — on TELEMETRY, because v2 forbids
    # Array anywhere in a Property schema (batch 12) and the depth cap
    # must be observable independently of that rule
    v2 = {"@context": "dtmi:dtdl:context;2"}
    validate_model(_interface(contents=[
        {"@type": "Telemetry", "name": "ok", "schema": nested(5)},
    ], **v2))
    with pytest.raises(ValidationError, match="nesting exceeds the DTDL limit of 5"):
        validate_model(_interface(contents=[
            {"@type": "Telemetry", "name": "deep", "schema": nested(6)},
        ], **v2))


def test_validate_model_enum_uniqueness_and_value_types():
    """DTDLParser Enum rules: enumValue names unique, enumValues
    unique, and each enumValue's type must match valueSchema."""
    from pg_age_digitaltwins_spark.validation import validate_model

    def enum_prop(value_schema, values):
        return _interface(contents=[{
            "@type": "Property", "name": "e",
            "schema": {"@type": "Enum", "valueSchema": value_schema,
                       "enumValues": values},
        }])

    validate_model(enum_prop("integer", [
        {"name": "a", "enumValue": 1}, {"name": "b", "enumValue": 2},
    ]))
    with pytest.raises(ValidationError, match="duplicate enumValue name 'a'"):
        validate_model(enum_prop("integer", [
            {"name": "a", "enumValue": 1}, {"name": "a", "enumValue": 2},
        ]))
    with pytest.raises(ValidationError, match="duplicate enumValue 7"):
        validate_model(enum_prop("integer", [
            {"name": "a", "enumValue": 7}, {"name": "b", "enumValue": 7},
        ]))
    with pytest.raises(ValidationError, match="must be an integer"):
        validate_model(enum_prop("integer", [{"name": "a", "enumValue": "x"}]))
    with pytest.raises(ValidationError, match="must be a string"):
        validate_model(enum_prop("string", [{"name": "a", "enumValue": 3}]))
    # booleans are not integers in DTDL
    with pytest.raises(ValidationError, match="must be an integer"):
        validate_model(enum_prop("integer", [{"name": "a", "enumValue": True}]))


def test_validate_model_display_strings():
    """displayName ≤ 64 chars, description ≤ 512 chars, either a plain
    string or a locale → string localization map (DTDL spec caps,
    enforced per localized value; applies to the interface and to each
    content entry)."""
    from pg_age_digitaltwins_spark.validation import validate_model

    validate_model(_interface(displayName="Room", description="d" * 512))
    validate_model(_interface(displayName={"en": "Room", "de": "Zimmer"}))
    with pytest.raises(ValidationError, match="displayName exceeds the 64"):
        validate_model(_interface(displayName="x" * 65))
    with pytest.raises(ValidationError, match="description exceeds the 512"):
        validate_model(_interface(description="x" * 513))
    with pytest.raises(ValidationError, match="displayName exceeds the 64"):
        validate_model(_interface(displayName={"en": "ok", "de": "x" * 65}))
    with pytest.raises(ValidationError, match="localized values must be strings"):
        validate_model(_interface(displayName={"en": 3}))
    with pytest.raises(ValidationError, match="must be a string or a localization"):
        validate_model(_interface(displayName=["Room"]))
    with pytest.raises(ValidationError, match="content 'p': displayName exceeds"):
        validate_model(_interface(contents=[
            {"@type": "Property", "name": "p", "schema": "double",
             "displayName": "x" * 65},
        ]))


def test_validate_model_interface_id_length_and_v2_extends_limit():
    """Interface DTMIs cap at 128 characters; a v2-context interface
    may extend at most two interfaces (lifted in v3)."""
    from pg_age_digitaltwins_spark.validation import validate_model

    long_id = "dtmi:v:" + "x" * 125 + ";1"  # > 128 chars total
    assert len(long_id) > 128
    with pytest.raises(ValidationError, match="128-character"):
        validate_model(_interface(**{"@id": long_id}))

    three = ["dtmi:v:A;1", "dtmi:v:B;1", "dtmi:v:C;1"]
    # v3: three extends fine (resolution skipped with known_ids=None)
    validate_model(_interface(extends=three))
    with pytest.raises(ValidationError, match="DTDL v2 allows at most 2"):
        validate_model(
            _interface(extends=three, **{"@context": "dtmi:dtdl:context;2"})
        )
    validate_model(
        _interface(extends=three[:2], **{"@context": "dtmi:dtdl:context;2"})
    )


def test_validate_model_command_payloads():
    from pg_age_digitaltwins_spark.validation import validate_model

    validate_model(
        _interface(contents=[{
            "@type": "Command", "name": "setTarget",
            "request": {"name": "target", "schema": "double"},
            "response": {"name": "ok", "schema": "boolean"},
        }])
    )
    with pytest.raises(ValidationError, match="request requires a schema"):
        validate_model(
            _interface(contents=[{
                "@type": "Command", "name": "go",
                "request": {"name": "x"},
            }])
        )
    with pytest.raises(ValidationError, match="not a valid identifier"):
        validate_model(
            _interface(contents=[{
                "@type": "Command", "name": "go",
                "response": {"name": "9bad", "schema": "double"},
            }])
        )


def test_v2_property_schema_forbids_array():
    """DTDL batch 12: under a v2 context a Property schema may not be
    or contain Array at any nesting level (lifted in v3); Telemetry
    arrays are legal in every version, and relationship properties are
    Properties so the rule applies to them too."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    arr = {"@type": "Array", "elementSchema": "double"}
    prop = {"@type": "Property", "name": "xs", "schema": arr}
    with pytest.raises(ValidationError, match="Array is not allowed in Property"):
        validate_model(
            _interface(contents=[prop], **{"@context": "dtmi:dtdl:context;2"})
        )
    # nested inside an Object field: still rejected under v2
    nested = {"@type": "Property", "name": "o", "schema": {
        "@type": "Object", "fields": [{"name": "xs", "schema": arr}]}}
    with pytest.raises(ValidationError, match="Array is not allowed in Property"):
        validate_model(
            _interface(contents=[nested], **{"@context": "dtmi:dtdl:context;2"})
        )
    # relationship property under v2: same rule
    rel = {"@type": "Relationship", "name": "knows",
           "properties": [{"@type": "Property", "name": "xs", "schema": arr}]}
    with pytest.raises(ValidationError, match="Array is not allowed in Property"):
        validate_model(
            _interface(contents=[rel], **{"@context": "dtmi:dtdl:context;2"})
        )
    # Telemetry arrays are fine under v2; Property arrays fine under v3
    tel = {"@type": "Telemetry", "name": "ts", "schema": arr}
    validate_model(
        _interface(contents=[tel], **{"@context": "dtmi:dtdl:context;2"})
    )
    validate_model(_interface(contents=[prop]))
    validate_model(_interface(contents=[rel]))


def test_validate_model_command_type_versioning():
    """DTDL batch 11: commandType is a deprecated v2-only term with
    exactly two legal values; DTDLParser reports UndefinedTerm for it
    under a v3/v4 context."""
    from pg_age_digitaltwins_spark.validation import validate_model

    cmd = {"@type": "Command", "name": "go", "commandType": "synchronous"}
    validate_model(
        _interface(contents=[cmd], **{"@context": "dtmi:dtdl:context;2"})
    )
    validate_model(_interface(contents=[
        {"@type": "Command", "name": "go", "commandType": "asynchronous"},
    ], **{"@context": "dtmi:dtdl:context;2"}))
    with pytest.raises(ValidationError, match="removed in DTDL v3"):
        validate_model(_interface(contents=[cmd]))  # default v3 context
    with pytest.raises(ValidationError, match="synchronous"):
        validate_model(_interface(
            contents=[{"@type": "Command", "name": "go",
                       "commandType": "oneway"}],
            **{"@context": "dtmi:dtdl:context;2"},
        ))


def test_validate_model_map_named_key_value():
    """DTDL batch 11: mapKey and mapValue are NAMED elements —
    DTDLParser rejects a Map whose key/value carries no name."""
    from pg_age_digitaltwins_spark.validation import validate_model

    def _map(mk, mv):
        return _interface(contents=[{
            "@type": "Property", "name": "m",
            "schema": {"@type": "Map", "mapKey": mk, "mapValue": mv},
        }])

    validate_model(_map({"name": "k", "schema": "string"},
                        {"name": "v", "schema": "double"}))
    with pytest.raises(ValidationError, match="mapKey name"):
        validate_model(_map({"schema": "string"},
                            {"name": "v", "schema": "double"}))
    with pytest.raises(ValidationError, match="mapValue name"):
        validate_model(_map({"name": "k", "schema": "string"},
                            {"schema": "double"}))
    with pytest.raises(ValidationError, match="mapValue name"):
        validate_model(_map({"name": "k", "schema": "string"},
                            {"name": "8x", "schema": "double"}))


def test_validate_model_command_payload_display_caps():
    """DTDL batch 11: CommandRequest/CommandResponse are elements —
    the displayName(64)/description(512)/comment(512) caps apply."""
    from pg_age_digitaltwins_spark.validation import validate_model

    validate_model(_interface(contents=[{
        "@type": "Command", "name": "go",
        "request": {"name": "x", "schema": "double",
                    "displayName": "ok", "description": "fine"},
    }]))
    with pytest.raises(ValidationError, match="displayName exceeds"):
        validate_model(_interface(contents=[{
            "@type": "Command", "name": "go",
            "request": {"name": "x", "schema": "double",
                        "displayName": "d" * 65},
        }]))
    with pytest.raises(ValidationError, match="comment exceeds"):
        validate_model(_interface(contents=[{
            "@type": "Command", "name": "go",
            "response": {"name": "x", "schema": "double",
                         "comment": "c" * 513},
        }]))


def test_validate_model_object_field_rules_batch13():
    """DTDL batch 13: Object field names are unique within the Object
    (DTDLParser), and under a v2 context an Object may have at most 30
    fields (the cap is raised in v3)."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    def _obj(fields, ctx=None):
        extra = {"@context": ctx} if ctx else {}
        return _interface(contents=[{
            "@type": "Property", "name": "o",
            "schema": {"@type": "Object", "fields": fields},
        }], **extra)

    validate_model(_obj([{"name": "a", "schema": "double"},
                         {"name": "b", "schema": "string"}]))
    with pytest.raises(ValidationError, match="duplicate field name 'a'"):
        validate_model(_obj([{"name": "a", "schema": "double"},
                             {"name": "a", "schema": "string"}]))
    wide = [{"name": f"f{i}", "schema": "double"} for i in range(31)]
    with pytest.raises(ValidationError, match="DTDL v2 allows at most 30"):
        validate_model(_obj(wide, ctx="dtmi:dtdl:context;2"))
    # 30 exactly is legal under v2; 31 is legal under v3
    validate_model(_obj(wide[:30], ctx="dtmi:dtdl:context;2"))
    validate_model(_obj(wide))
    # the cap follows Properties into nested/relationship schemas too
    rel = {"@type": "Relationship", "name": "knows",
           "properties": [{"@type": "Property", "name": "o", "schema": {
               "@type": "Object", "fields": wide}}]}
    with pytest.raises(ValidationError, match="DTDL v2 allows at most 30"):
        validate_model(
            _interface(contents=[rel], **{"@context": "dtmi:dtdl:context;2"})
        )


def test_validate_model_undefined_terms_batch13():
    """DTDL batch 13: terms defined on exactly one content kind are
    UndefinedTerm anywhere else — a Property carrying `target`, a
    Telemetry carrying `request`, a Component carrying
    `maxMultiplicity`, `nullable` on any content item, `writable` on a
    CommandPayload."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    with pytest.raises(ValidationError, match="target is not a Property"):
        validate_model(_interface(contents=[{
            "@type": "Property", "name": "p", "schema": "double",
            "target": "dtmi:ex:Other;1",
        }]))
    with pytest.raises(ValidationError, match="request is not a Telemetry"):
        validate_model(_interface(contents=[{
            "@type": "Telemetry", "name": "t", "schema": "double",
            "request": {"name": "x", "schema": "double"},
        }]))
    with pytest.raises(ValidationError, match="maxMultiplicity is not a Component"):
        validate_model(
            _interface(contents=[{"@type": "Component", "name": "c",
                                  "schema": "dtmi:ex:Sub;1",
                                  "maxMultiplicity": 5}]),
            known_ids={"dtmi:ex:Sub;1", "dtmi:v:Test;1"},
        )
    with pytest.raises(ValidationError, match="nullable is not a Property"):
        validate_model(_interface(contents=[{
            "@type": "Property", "name": "p", "schema": "double",
            "nullable": True,
        }]))
    with pytest.raises(ValidationError, match="properties is not a Command"):
        validate_model(_interface(contents=[{
            "@type": "Command", "name": "go",
            "properties": [{"@type": "Property", "name": "p",
                            "schema": "double"}],
        }]))
    with pytest.raises(ValidationError, match="writable is not a CommandPayload"):
        validate_model(_interface(contents=[{
            "@type": "Command", "name": "go",
            "request": {"name": "x", "schema": "double", "writable": True},
        }]))
    # the legitimate homes still accept every term
    validate_model(_interface(contents=[{
        "@type": "Relationship", "name": "knows", "maxMultiplicity": 5,
        "properties": [{"@type": "Property", "name": "since",
                        "schema": "dateTime"}],
    }]))
    validate_model(_interface(contents=[{
        "@type": "Command", "name": "go",
        "request": {"name": "x", "schema": "double", "nullable": True},
    }]))


def test_validate_model_element_id_discipline_batch14():
    """DTDL batch 14: any element may carry an optional @id, but it
    must be a valid DTMI and UNIQUE within the model (the interface's
    own id included) — DTDLParser's DuplicateElementId behavior."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    def prop(name, **extra):
        return {"@type": "Property", "name": name, "schema": "double", **extra}

    validate_model(_interface(contents=[
        prop("a", **{"@id": "dtmi:v:Test:a;1"}),
        prop("b", **{"@id": "dtmi:v:Test:b;1"}),
    ]))
    with pytest.raises(ValidationError, match="not a valid DTMI"):
        validate_model(_interface(contents=[prop("a", **{"@id": "not-a-dtmi"})]))
    with pytest.raises(ValidationError, match="duplicate element @id"):
        validate_model(_interface(contents=[
            prop("a", **{"@id": "dtmi:v:Test:x;1"}),
            prop("b", **{"@id": "dtmi:v:Test:x;1"}),
        ]))
    # colliding with the interface's own id is a duplicate too
    with pytest.raises(ValidationError, match="duplicate element @id"):
        validate_model(_interface(contents=[prop("a", **{"@id": "dtmi:v:Test;1"})]))
    # nested elements (enum values, fields) are covered by the walk
    with pytest.raises(ValidationError, match="duplicate element @id"):
        validate_model(_interface(contents=[{
            "@type": "Property", "name": "e",
            "schema": {"@type": "Enum", "valueSchema": "integer",
                       "enumValues": [
                           {"name": "x", "enumValue": 1,
                            "@id": "dtmi:v:Test:ev;1"},
                           {"name": "y", "enumValue": 2,
                            "@id": "dtmi:v:Test:ev;1"},
                       ]},
        }]))


def test_validate_model_cotype_rules_batch15():
    """DTDL batch 15: exactly one content kind per element, no content
    kinds co-typed onto the Interface itself, `schema` undefined on
    Command/Relationship, semantic types only on Property/Telemetry."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    with pytest.raises(ValidationError, match="multiple content kinds"):
        validate_model(_interface(contents=[{
            "@type": ["Property", "Telemetry"], "name": "x",
            "schema": "double",
        }]))
    with pytest.raises(ValidationError, match="co-types Interface"):
        validate_model(_interface(**{"@type": ["Interface", "Property"]}))
    with pytest.raises(ValidationError, match="schema is not a Command"):
        validate_model(_interface(contents=[{
            "@type": "Command", "name": "go", "schema": "double",
        }]))
    with pytest.raises(ValidationError, match="schema is not a Relationship"):
        validate_model(_interface(contents=[{
            "@type": "Relationship", "name": "knows", "schema": "double",
        }]))
    with pytest.raises(
        ValidationError, match="may only co-type a Property or Telemetry"
    ):
        validate_model(_interface(
            contents=[{"@type": ["Relationship", "Temperature"],
                       "name": "knows"}],
            **{"@context": "dtmi:dtdl:context;2"},
        ))
    # the legitimate shapes still accept
    validate_model(_interface(contents=[
        {"@type": "Property", "name": "p", "schema": "double"},
        {"@type": "Relationship", "name": "knows"},
        {"@type": "Command", "name": "go"},
    ]))
    validate_model(_interface(
        contents=[{"@type": ["Property", "Temperature"], "name": "t",
                   "schema": "double", "unit": "degreeCelsius"}],
        **{"@context": "dtmi:dtdl:context;2"},
    ))


def test_named_schema_twin_value_validation(spark):
    """Twin values validate THROUGH named schema refs: enum membership
    is enforced for a dtmi:-referenced Enum, across create_models →
    create twin."""
    model = {
        "@id": "dtmi:ex:Tagged;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "schemas": [{
            "@id": "dtmi:ex:Tagged:Color;1",
            "@type": "Enum",
            "valueSchema": "string",
            "enumValues": [
                {"name": "red", "enumValue": "red"},
                {"name": "blue", "enumValue": "blue"},
            ],
        }],
        "contents": [
            {"@type": "Property", "name": "color",
             "schema": "dtmi:ex:Tagged:Color;1"},
        ],
    }
    client = DigitalTwinsSparkClient(GraphStore.empty(spark).with_models([model]))
    client.create_or_replace_digital_twin(
        "t1", {"$metadata": {"$model": "dtmi:ex:Tagged;1"}, "color": "red"}
    )
    with pytest.raises(ValidationError, match="not in enum"):
        client.create_or_replace_digital_twin(
            "t2", {"$metadata": {"$model": "dtmi:ex:Tagged;1"}, "color": "green"}
        )


def test_named_schema_ref_rejected_via_create_models(spark):
    """create_models surfaces the model id when a named-schema ref in
    the batch cannot be resolved."""
    from pg_age_digitaltwins_spark.models import create_models

    bad = {
        "@id": "dtmi:ex:Bad;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [
            {"@type": "Property", "name": "x", "schema": "dtmi:ex:Missing;1"},
        ],
    }
    with pytest.raises(ValidationError, match="dtmi:ex:Missing;1"):
        create_models(GraphStore.empty(spark), [bad])


def test_named_schema_scope_is_extends_closure(spark):
    """Named schemas resolve only along the referencing interface's
    extends closure (DTDLParser scoping): a schema defined in an
    UNRELATED interface must be rejected at model-create time — if it
    were pooled globally, twin validation (which resolves along the
    extends chain) could never value-check the property and it would
    silently hit the lenient-accept path."""
    from pg_age_digitaltwins_spark.models import create_models

    color = {
        "@id": "dtmi:ex:scope:Color;1",
        "@type": "Enum",
        "valueSchema": "string",
        "enumValues": [{"name": "red", "enumValue": "red"}],
    }
    base = {
        "@id": "dtmi:ex:scope:Base;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "schemas": [color],
    }
    child = {  # extends Base → Color is in scope
        "@id": "dtmi:ex:scope:Child;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:ex:scope:Base;1",
        "contents": [
            {"@type": "Property", "name": "c", "schema": "dtmi:ex:scope:Color;1"},
        ],
    }
    stranger = {  # unrelated → Color must NOT resolve
        "@id": "dtmi:ex:scope:Stranger;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [
            {"@type": "Property", "name": "c", "schema": "dtmi:ex:scope:Color;1"},
        ],
    }
    store, created = create_models(GraphStore.empty(spark), [base, child])
    assert {d["@id"] for d in created} == {
        "dtmi:ex:scope:Base;1", "dtmi:ex:scope:Child;1"
    }
    with pytest.raises(ValidationError, match="dtmi:ex:scope:Color;1"):
        create_models(store, [stranger])
    # grandchild two levels down the chain still resolves it
    grand = {
        "@id": "dtmi:ex:scope:Grand;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:ex:scope:Child;1",
        "contents": [
            {"@type": "Property", "name": "g", "schema": "dtmi:ex:scope:Color;1"},
        ],
    }
    create_models(store, [grand])


def test_list_models_model_data_shape(spark):
    """list_models rows follow the DigitalTwinsModelData serialization
    (Models/DigitalTwinsModelData.cs:9-60): id, displayName map,
    description map, bases, decommissioned, raw DTDL under `model`."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    client = DigitalTwinsSparkClient(GraphStore.empty(spark))
    client.create_models([
        {"@id": "dtmi:md:Base;1", "@type": "Interface",
         "@context": "dtmi:dtdl:context;3",
         "displayName": "Base thing", "contents": []},
        {"@id": "dtmi:md:Kid;1", "@type": "Interface",
         "@context": "dtmi:dtdl:context;3", "extends": "dtmi:md:Base;1",
         "displayName": {"en": "Kid", "de": "Kind"}, "contents": []},
    ])
    rows = {m["id"]: m for m in client.list_models()}
    assert set(rows) == {"dtmi:md:Base;1", "dtmi:md:Kid;1"}
    kid = rows["dtmi:md:Kid;1"]
    assert kid["model"]["@id"] == "dtmi:md:Kid;1"
    assert kid["displayName"] == {"en": "Kid", "de": "Kind"}
    assert rows["dtmi:md:Base;1"]["displayName"] == {"en": "Base thing"}
    assert kid["bases"] == ["dtmi:md:Base;1"]
    assert kid["decommissioned"] is False
    # dependencies_for carries the same shape
    deps = client.list_models(dependencies_for=["dtmi:md:Kid;1"])
    assert [m["id"] for m in deps] == ["dtmi:md:Base;1", "dtmi:md:Kid;1"]
    assert all("model" in m and "bases" in m for m in deps)


def test_extends_depth_limit(spark):
    """DTDL caps extends depth at 10 (v2 context) / 12 (v3+) —
    DTDLParser's ExceedsMaxDepthOfExtends, inherited by the reference
    via Microsoft's parser (AgeDigitalTwinsClient.cs:68-81)."""
    from pg_age_digitaltwins_spark.models import create_models

    def chain(n, ctx="dtmi:dtdl:context;3"):
        docs = []
        for i in range(n):
            d = {
                "@id": f"dtmi:ex:depth:M{i};1",
                "@type": "Interface",
                "@context": ctx,
            }
            if i > 0:
                d["extends"] = f"dtmi:ex:depth:M{i-1};1"
            docs.append(d)
        return docs

    # 13 interfaces = depth 12 — the v3 maximum, accepted
    create_models(GraphStore.empty(spark), chain(13))
    # 14 interfaces = depth 13 — rejected
    with pytest.raises(ValidationError, match="13 levels deep"):
        create_models(GraphStore.empty(spark), chain(14))
    # v2 context caps at 10 (11 interfaces = depth 10 OK, 12 = depth 11 fails)
    create_models(GraphStore.empty(spark), chain(11, ctx="dtmi:dtdl:context;2"))
    with pytest.raises(ValidationError, match="at most 10"):
        create_models(GraphStore.empty(spark), chain(12, ctx="dtmi:dtdl:context;2"))


def test_inherited_content_name_collision_rejected(spark):
    """A derived interface cannot redeclare a content name an ancestor
    already defines (DTDLParser non-unique-name rule, including
    inherited contents) — even transitively via a grandparent."""
    from pg_age_digitaltwins_spark.models import create_models

    base = {
        "@id": "dtmi:ex:coll:Base;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "mass", "schema": "double"}],
    }
    mid = {
        "@id": "dtmi:ex:coll:Mid;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:ex:coll:Base;1",
        "contents": [{"@type": "Property", "name": "radius", "schema": "double"}],
    }
    clash = {
        "@id": "dtmi:ex:coll:Leaf;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:ex:coll:Mid;1",
        "contents": [{"@type": "Property", "name": "mass", "schema": "double"}],
    }
    ok = {
        "@id": "dtmi:ex:coll:Leaf2;1",
        "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "extends": "dtmi:ex:coll:Mid;1",
        "contents": [{"@type": "Property", "name": "density", "schema": "double"}],
    }
    # distinct names through the chain: accepted
    create_models(GraphStore.empty(spark), [base, mid, ok])
    # redeclaring the grandparent's 'mass': rejected, names both parties
    with pytest.raises(ValidationError, match="mass.*dtmi:ex:coll:Base;1"):
        create_models(GraphStore.empty(spark), [base, mid, clash])


def test_inherited_collision_across_multiple_parents(spark):
    """Ancestor-vs-ancestor clash: C extends [A, B] where A and B each
    define 'mass' — rejected even though C itself declares nothing.
    Diamond inheritance (one shared grandparent) stays legal."""
    from pg_age_digitaltwins_spark.models import create_models

    def iface(id_, extends=None, names=()):
        d = {"@id": id_, "@type": "Interface", "@context": "dtmi:dtdl:context;3",
             "contents": [{"@type": "Property", "name": n, "schema": "double"}
                          for n in names]}
        if extends:
            d["extends"] = extends
        return d

    a = iface("dtmi:ex:mi:A;1", names=["mass"])
    b = iface("dtmi:ex:mi:B;1", names=["mass"])
    c = iface("dtmi:ex:mi:C;1", extends=["dtmi:ex:mi:A;1", "dtmi:ex:mi:B;1"])
    with pytest.raises(ValidationError, match="mass"):
        create_models(GraphStore.empty(spark), [a, b, c])
    # diamond: shared grandparent defines 'mass' once — legal
    d0 = iface("dtmi:ex:di:D;1", names=["mass"])
    l1 = iface("dtmi:ex:di:L;1", extends="dtmi:ex:di:D;1")
    r1 = iface("dtmi:ex:di:R;1", extends="dtmi:ex:di:D;1")
    top = iface("dtmi:ex:di:T;1", extends=["dtmi:ex:di:L;1", "dtmi:ex:di:R;1"])
    create_models(GraphStore.empty(spark), [d0, l1, r1, top])


def test_v2_contents_cap():
    """DTDL v2: at most 300 contents per interface (lifted in v3)."""
    from pg_age_digitaltwins_spark.validation import validate_model

    def many(n, ctx):
        return _interface(**{
            "@context": ctx,
            "contents": [
                {"@type": "Property", "name": f"p{i}", "schema": "double"}
                for i in range(n)
            ],
        })

    validate_model(many(300, "dtmi:dtdl:context;2"))
    with pytest.raises(ValidationError, match="at most 300"):
        validate_model(many(301, "dtmi:dtdl:context;2"))
    validate_model(many(301, "dtmi:dtdl:context;3"))  # v3: no 300 cap


def test_v2_contents_cap_counts_inherited(spark):
    """The v2 300-contents cap includes contents inherited via extends
    — splitting properties across ancestors cannot evade it."""
    from pg_age_digitaltwins_spark.models import create_models

    def iface(id_, n, start, extends=None):
        d = {"@id": id_, "@type": "Interface", "@context": "dtmi:dtdl:context;2",
             "contents": [
                 {"@type": "Property", "name": f"p{start + i}", "schema": "double"}
                 for i in range(n)
             ]}
        if extends:
            d["extends"] = extends
        return d

    base = iface("dtmi:v2cap:Base;1", 200, 0)
    over = iface("dtmi:v2cap:Over;1", 150, 200, extends="dtmi:v2cap:Base;1")
    with pytest.raises(ValidationError, match="including.*inherited|inherited"):
        create_models(GraphStore.empty(spark), [base, over])
    ok = iface("dtmi:v2cap:Ok;1", 100, 200, extends="dtmi:v2cap:Base;1")
    create_models(GraphStore.empty(spark), [base, ok])


# --- DTDL batch 8 (r7): command payload rules + v4 primitive tail ----

def test_v2_command_payload_forbids_array():
    """DTDL v2: a Command request/response schema may not be or contain
    Array at any nesting level (restriction lifted in v3)."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    cmd = {
        "@type": "Command", "name": "doIt",
        "request": {"name": "arg", "schema": {
            "@type": "Array", "elementSchema": "double"}},
    }
    with pytest.raises(ValidationError, match="Array is not allowed in Property or Command"):
        validate_model(_interface(contents=[cmd], **{"@context": "dtmi:dtdl:context;2"}))
    # nested inside an Object field: still rejected under v2
    cmd2 = {
        "@type": "Command", "name": "doIt",
        "response": {"name": "out", "schema": {
            "@type": "Object", "fields": [
                {"name": "xs", "schema": {"@type": "Array", "elementSchema": "long"}},
            ]}},
    }
    with pytest.raises(ValidationError, match="Array is not allowed in Property or Command"):
        validate_model(_interface(contents=[cmd2], **{"@context": "dtmi:dtdl:context;2"}))
    # same shapes are FINE under v3
    validate_model(_interface(contents=[cmd]))
    validate_model(_interface(contents=[cmd2]))


def test_command_payload_nullable_rules():
    """nullable on CommandRequest/CommandResponse: boolean, v3+ only."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    cmd = {
        "@type": "Command", "name": "c",
        "request": {"name": "arg", "schema": "string", "nullable": True},
    }
    validate_model(_interface(contents=[cmd]))  # v3: accepted
    with pytest.raises(ValidationError, match="nullable requires"):
        validate_model(_interface(contents=[cmd], **{"@context": "dtmi:dtdl:context;2"}))
    bad = {
        "@type": "Command", "name": "c",
        "request": {"name": "arg", "schema": "string", "nullable": "yes"},
    }
    with pytest.raises(ValidationError, match="nullable must be a boolean"):
        validate_model(_interface(contents=[bad]))


def test_v4_primitive_schemas_version_gated():
    """DTDL v4 adds byte/bytes/decimal/short/uuid and the unsigned
    family; under v2/v3 they are unknown schema atoms (DTDLParser is
    version-strict)."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    for prim in ("uuid", "decimal", "unsignedInteger", "byte", "short"):
        p = {"@type": "Property", "name": "p", "schema": prim}
        validate_model(_interface(contents=[p], **{"@context": "dtmi:dtdl:context;4"}))
        with pytest.raises(ValidationError, match="not a DTDL primitive"):
            validate_model(_interface(contents=[p]))  # v3 context
        with pytest.raises(ValidationError, match="not a DTDL primitive"):
            validate_model(_interface(contents=[p], **{"@context": "dtmi:dtdl:context;2"}))


def test_comment_string_and_length_cap():
    """DTDL comment: plain string, <=512 chars, every version."""
    from pg_age_digitaltwins_spark.validation import ValidationError, validate_model

    validate_model(_interface(comment="ok"))
    validate_model(_interface(contents=[
        {"@type": "Property", "name": "p", "schema": "string", "comment": "x" * 512},
    ]))
    with pytest.raises(ValidationError, match="comment must be a string"):
        validate_model(_interface(comment={"en": "nope"}))
    with pytest.raises(ValidationError, match="comment exceeds the 512"):
        validate_model(_interface(contents=[
            {"@type": "Property", "name": "p", "schema": "string",
             "comment": "x" * 513},
        ]))


def test_query_plan_cache_hits_and_invalidates(spark):
    """Same query + same store snapshot → the SAME compiled plan
    object; any mutation swaps the store and drops every plan of the
    old store.  Eviction is least-recently-used: a plan hit between a
    stream of one-off point queries stays cached."""
    from pg_age_digitaltwins_spark.client import (
        _PLAN_CACHE_CAP,
        DigitalTwinsSparkClient,
    )
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:pc:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "x",
                             "schema": "integer"}]}]
    store = GraphStore.from_documents(
        spark,
        twin_docs=[{"$dtId": "t0", "$metadata": {"$model": "dtmi:pc:T;1"},
                    "x": 1}],
        model_docs=models,
    )
    client = DigitalTwinsSparkClient(store)
    q = "SELECT COUNT() FROM DIGITALTWINS"
    df1 = client.query_df(q)
    df2 = client.query_df(q)
    assert df1 is df2  # cache hit
    assert client.query_df(q, order_for_paging=True) is not df1
    [r] = client.query(q).rows
    assert r["count"] == 1
    # a write replaces the store → recompile against the new snapshot
    client.create_or_replace_digital_twin(
        "t1", {"$dtId": "t1", "$metadata": {"$model": "dtmi:pc:T;1"}, "x": 2})
    assert not client._plan_cache  # stale plans pin the old store
    df3 = client.query_df(q)
    assert df3 is not df1
    [r] = client.query(q).rows
    assert r["count"] == 2

    hot = client.query_df(q)
    point = "SELECT T FROM DIGITALTWINS T WHERE T.$dtId = 't{}'"
    for i in range(_PLAN_CACHE_CAP - 1):
        client.query_df(point.format(i))
    assert client.query_df(q) is hot  # hit: now most recently used
    client.query_df(point.format("x"))  # over the cap: evicts point 0
    assert len(client._plan_cache) == _PLAN_CACHE_CAP
    assert client.query_df(q) is hot
    assert (point.format(0), False) not in client._plan_cache
    assert all(v[0] is client.store for v in client._plan_cache.values())


def test_validate_model_limit_extensions_batch16():
    """DTDL batch 16: dtmi:dtdl:limits:* contexts — onvif;1 pairs with
    DTDL v3 only, aio;1 with v4 only, at most one limit extension per
    model, none under v2, unknown limit ids rejected; a valid limit
    extension LIFTS the complex-schema nesting cap."""
    from pg_age_digitaltwins_spark.validation import (
        ValidationError,
        validate_model,
    )

    # accepted pairings
    validate_model(_interface(
        **{"@context": ["dtmi:dtdl:context;3", "dtmi:dtdl:limits:onvif;1"]}
    ))
    validate_model(_interface(
        **{"@context": ["dtmi:dtdl:context;4", "dtmi:dtdl:limits:aio;1"]}
    ))
    # wrong DTDL version for the limit extension
    with pytest.raises(ValidationError, match="dtmi:dtdl:limits:onvif;1"):
        validate_model(_interface(
            **{"@context": ["dtmi:dtdl:context;4",
                            "dtmi:dtdl:limits:onvif;1"]}
        ))
    with pytest.raises(ValidationError, match="dtmi:dtdl:limits:aio;1"):
        validate_model(_interface(
            **{"@context": ["dtmi:dtdl:context;3", "dtmi:dtdl:limits:aio;1"]}
        ))
    # limits arrived in v3 — undefined under a v2 context
    with pytest.raises(ValidationError, match="require dtmi:dtdl:context;3"):
        validate_model(_interface(
            **{"@context": ["dtmi:dtdl:context;2",
                            "dtmi:dtdl:limits:onvif;1"]}
        ))
    # at most one limit extension may govern a model
    with pytest.raises(ValidationError, match="multiple limit extensions"):
        validate_model(_interface(
            **{"@context": ["dtmi:dtdl:context;3",
                            "dtmi:dtdl:limits:onvif;1",
                            "dtmi:dtdl:limits:aio;1"]}
        ))
    # unknown limit extension id / version
    with pytest.raises(ValidationError, match="unknown limit extension"):
        validate_model(_interface(
            **{"@context": ["dtmi:dtdl:context;3",
                            "dtmi:dtdl:limits:onvif;2"]}
        ))

    def nest(depth):
        s = "double"
        for i in range(depth):
            s = {"@type": "Object",
                 "fields": [{"name": f"f{i}", "schema": s}]}
        return {"@type": "Property", "name": "deep", "schema": s}

    # 10-deep nesting: over the v3 cap of 8...
    with pytest.raises(ValidationError, match="nesting exceeds"):
        validate_model(_interface(contents=[nest(10)]))
    # ...but legal once a limit extension raises the cap
    validate_model(_interface(
        contents=[nest(10)],
        **{"@context": ["dtmi:dtdl:context;3", "dtmi:dtdl:limits:onvif;1"]},
    ))
    # an INVALID limit pairing does not lift the cap (both errors fire)
    with pytest.raises(ValidationError, match="nesting exceeds"):
        try:
            validate_model(_interface(
                contents=[nest(10)],
                **{"@context": ["dtmi:dtdl:context;4",
                                "dtmi:dtdl:limits:onvif;1"]},
            ))
        except ValidationError as ex:
            assert "dtmi:dtdl:limits:onvif;1" in str(ex)
            raise


def test_validate_model_locale_keys_batch17():
    """DTDL batch 17a: displayName/description localization keys are
    JSON-LD language-map keys (BCP 47) — well-formed tags accepted,
    malformed tags rejected (DTDLParser behavior)."""
    from pg_age_digitaltwins_spark.validation import (
        ValidationError,
        validate_model,
    )

    # well-formed tags: bare language, region, script+region, numeric,
    # plus private-use and grandfathered singleton forms (r13 ADVICE
    # fix: a 1-letter primary with at least one subtag is well-formed)
    validate_model(_interface(
        displayName={"en": "ok", "en-US": "ok", "zh-Hant-TW": "ok",
                     "es-419": "ok", "x-foo": "ok", "i-klingon": "ok"},
        description={"fr": "bien"},
    ))
    # malformed: spaces / punctuation / empty subtags / LONE one-letter
    for bad in ("not a locale!", "en_US", "e", "en-", "-en", "x",
                "x-", "en--US", "toolonglanguage"):
        with pytest.raises(ValidationError, match="BCP 47"):
            validate_model(_interface(displayName={bad: "x"}))
    with pytest.raises(ValidationError, match="BCP 47"):
        validate_model(_interface(description={"12!": "x"}))


def test_validate_model_name_length_version_aware_batch17():
    """DTDL batch 17b: element-name length cap is 64 under v2 but 512
    under v3/v4 (public limits tables) — a 100-char name is VALID v3
    and invalid v2; 513 chars rejected everywhere; the cap also
    applies to nested field/enumValue/mapKey/mapValue names."""
    from pg_age_digitaltwins_spark.validation import (
        ValidationError,
        validate_model,
    )

    long_name = "n" + "x" * 99           # 100 chars
    huge_name = "n" + "x" * 512          # 513 chars
    prop = lambda nm: [{"@type": "Property", "name": nm, "schema": "double"}]

    validate_model(_interface(contents=prop(long_name)))            # v3 ok
    validate_model(_interface(
        **{"@context": "dtmi:dtdl:context;4", "contents": prop(long_name)}))
    with pytest.raises(ValidationError, match="not a valid DTDL identifier"):
        validate_model(_interface(
            **{"@context": "dtmi:dtdl:context;2", "contents": prop(long_name)}))
    with pytest.raises(ValidationError, match="not a valid DTDL identifier"):
        validate_model(_interface(contents=prop(huge_name)))
    # nested names: v3 accepts a 100-char Object field, v2 rejects it
    obj = lambda nm: [{
        "@type": "Property", "name": "o",
        "schema": {"@type": "Object",
                   "fields": [{"name": nm, "schema": "double"}]},
    }]
    validate_model(_interface(contents=obj(long_name)))
    with pytest.raises(ValidationError, match="field name"):
        validate_model(_interface(
            **{"@context": "dtmi:dtdl:context;2", "contents": obj(long_name)}))
    # enumValue names follow the same cap
    enum = lambda nm: [{
        "@type": "Property", "name": "e",
        "schema": {"@type": "Enum", "valueSchema": "string",
                   "enumValues": [{"name": nm, "enumValue": "v"}]},
    }]
    validate_model(_interface(contents=enum(long_name)))
    with pytest.raises(ValidationError, match="enumValue name"):
        validate_model(_interface(
            **{"@context": "dtmi:dtdl:context;2", "contents": enum(long_name)}))
