"""Mutation semantics over the GraphStore (SURVEY.md §2.3 D1-D10, D17).

Each operation is snapshot-functional: it takes the current store and
returns a new one plus the captured change events.  Point ops touch one
document driver-side (OLTP shape); the DataFrame update itself is a
keyed anti-join + union — exactly the plan a Delta ``MERGE INTO`` would
produce, which is the cluster-deployment story (SURVEY.md §3.2).  Batch
ops build one DataFrame for the whole batch, so a 100-twin batch is one
MERGE, not 100.

ETags follow the reference's construction —
``W/"<md5-of-'{id}-{ts}' as .NET Guid>"`` (``ETagGenerator.cs:1-17``) —
with the same digest/Guid rendering; the timestamp string itself
differs (``...0Z`` here vs .NET's ``"o"`` round-trip format), so the
concrete ETag values are not byte-identical to the reference's.
"""

from __future__ import annotations

import copy
import hashlib
import json
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import functions as F

from pg_age_digitaltwins_spark.functions import jsonpatch
from pg_age_digitaltwins_spark.store.graph_store import (
    GraphStore,
    REL_SCHEMA,
    TWIN_SCHEMA,
    _rel_row,
    _twin_row,
    with_vdoc,
)
from pg_age_digitaltwins_spark.validation import (
    ModelRegistry,
    ValidationError,
    relationship_max_multiplicity,
    validate_entity_id,
    validate_relationship,
    validate_relationship_against_model,
    validate_twin,
)


class NotFoundError(KeyError):
    pass


class PreconditionFailedError(ValueError):
    """ETag If-Match / If-None-Match failure (D17)."""


def now_iso() -> str:
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f0Z")


def generate_etag(entity_id: str, ts_iso: str) -> str:
    """``ETagGenerator.GenerateEtag``: md5 of ``"{id}-{ts}"`` rendered as
    a .NET ``Guid`` string (first three groups little-endian)."""
    digest = hashlib.md5(f"{entity_id}-{ts_iso}".encode()).digest()
    a = digest[3::-1].hex()
    b = digest[5:3:-1].hex()
    c = digest[7:5:-1].hex()
    d = digest[8:10].hex()
    e = digest[10:16].hex()
    return f'W/"{a}-{b}-{c}-{d}-{e}"'


# ----------------------------------------------------------------------
# twins
# ----------------------------------------------------------------------

def get_twin(store: GraphStore, dt_id: str) -> dict[str, Any]:
    """D1: point lookup by the unique key (the reference's unique
    ``$dtId`` index, ``DigitalTwins.cs:92-116``).

    Served from the snapshot's twin index (``GraphStore.twin_docs``)
    with no Spark job.  The first read by key of a new store is a Spark
    filter on the promoted ``dt_id`` column; the second builds the index
    (one size check, one collect of ``(dt_id, doc)``).  Over
    ``graph_store.TWIN_INDEX_BYTES`` of document text every read is that
    filter.  Building raises ``ValueError`` if two twin rows share
    ``dt_id``."""
    docs = store.twin_docs()
    if docs is not None:
        doc = docs.get(dt_id)
    else:
        rows = store.twins.filter(F.col("dt_id") == dt_id).select("doc").take(1)
        doc = rows[0][0] if rows else None
    if doc is None:
        raise NotFoundError(f"Digital Twin with ID {dt_id} not found")
    return json.loads(doc)


def stamp_twin(
    doc: dict[str, Any],
    dt_id: str,
    ts: str,
    user_id: str | None = None,
) -> dict[str, Any]:
    """Metadata stamping (``DigitalTwins.cs:302-327,459-463``):
    per-property ``lastUpdateTime`` (+``lastUpdatedBy``), component
    ``$metadata``, global ``$lastUpdateTime``, fresh ``$etag``."""
    out = copy.deepcopy(doc)
    out["$dtId"] = dt_id
    meta = out.get("$metadata")
    if not isinstance(meta, dict):
        meta = {}
    meta = dict(meta)
    for prop, value in list(out.items()):
        if prop.startswith("$"):
            continue
        prop_meta = meta.get(prop)
        prop_meta = dict(prop_meta) if isinstance(prop_meta, dict) else {}
        prop_meta["lastUpdateTime"] = ts
        if user_id is not None:
            prop_meta["lastUpdatedBy"] = user_id
        meta[prop] = prop_meta
        if isinstance(value, dict) and not prop.startswith("$"):
            # component object: stamp its own $metadata when it has one
            # or when the model declares a component (lenient: presence
            # of nested $metadata marks components in storage)
            comp_meta = value.get("$metadata")
            if isinstance(comp_meta, dict) or _looks_like_component(value):
                cm = dict(comp_meta) if isinstance(comp_meta, dict) else {}
                cm["lastUpdateTime"] = ts
                if user_id is not None:
                    cm["lastUpdatedBy"] = user_id
                new_value = dict(value)
                new_value["$metadata"] = cm
                out[prop] = new_value
    meta["$lastUpdateTime"] = ts
    out["$metadata"] = meta
    out["$etag"] = generate_etag(dt_id, ts)
    return out


def _looks_like_component(value: dict[str, Any]) -> bool:
    return "$metadata" in value


def _merge_twin_rows(store: GraphStore, rows: list[tuple], ids: list[str]) -> GraphStore:
    """MERGE: delete-by-key + insert, one shuffle-free union of the
    filtered base with a tiny literal DataFrame.  Materialized stores
    carry a VARIANT ``vdoc`` column, so both sides are normalized."""
    new_df = store.spark.createDataFrame(rows, TWIN_SCHEMA)
    base = store.twins.filter(~F.col("dt_id").isin(ids))
    if "vdoc" in base.columns:
        new_df = with_vdoc(new_df)
    twins = base.unionByName(new_df)
    return _replace(
        store, twins=twins,
        _twin_index=_carried(store, twins, put=[(r[0], r[4]) for r in rows]),
    )


def _carried(store: GraphStore, twins, **writes):
    """The twin index of a mutation's ``twins``: the old snapshot's
    index with the mutation's writes (``TwinIndex.carried``), or none
    when the old one was never built."""
    idx = store.built_twin_index()
    return None if idx is None else idx.carried(twins, **writes)


def _replace(store: GraphStore, **kw) -> GraphStore:
    return GraphStore(
        spark=store.spark,
        twins=kw.get("twins", store.twins),
        relationships=kw.get("relationships", store.relationships),
        models=kw.get("models", store.models),
        model_edges=kw.get("model_edges", store.model_edges),
        # the target_id-clustered index mirrors the base table; any
        # relationship mutation invalidates it (rebuilt on next
        # save/load of the bucketed layout)
        relationships_in=(
            None if "relationships" in kw else store.relationships_in
        ),
        # the plain-read twin frame mirrors the twin files; any twin
        # mutation invalidates it
        twins_plain=(None if "twins" in kw else store.twins_plain),
        # the long-id layout (vertex_ids / edges_vid) mirrors the
        # relationship rows' endpoint universe; any relationship
        # mutation invalidates both (twin-only mutations are safe: the
        # universe is edge-derived, and the edge guard forces edge
        # deletion before twin deletion)
        vertex_ids=(None if "relationships" in kw else store.vertex_ids),
        edges_vid=(None if "relationships" in kw else store.edges_vid),
        _descendants=store._descendants,
        # the twin index mirrors the twin rows: a twin mutation passes
        # its carried copy, any other new twin frame starts without one
        _twin_index=kw.get(
            "_twin_index", None if "twins" in kw else store._twin_index
        ),
        _key_reads=store._key_reads,
    )


def create_or_replace_twin(
    store: GraphStore,
    registry: ModelRegistry,
    dt_id: str,
    doc: dict[str, Any],
    *,
    if_none_match: str | None = None,
    user_id: str | None = None,
    ts: str | None = None,
) -> tuple[GraphStore, dict[str, Any], dict[str, Any] | None]:
    """D2: validate → stamp → MERGE.  Returns (store', new_doc, old_doc).

    ``if_none_match='*'`` fails with 412 when the twin exists
    (``DigitalTwins.cs:229-244``)."""
    validate_entity_id(dt_id, "twin")
    try:
        old = get_twin(store, dt_id)
    except NotFoundError:
        old = None
    if if_none_match == "*" and old is not None:
        raise PreconditionFailedError(
            f"Digital Twin with ID {dt_id} already exists (If-None-Match: *)"
        )
    validate_twin(registry, doc)
    ts = ts or now_iso()
    stamped = stamp_twin(doc, dt_id, ts, user_id)
    store2 = _merge_twin_rows(store, [_twin_row(stamped)], [dt_id])
    return store2, stamped, old


def update_twin(
    store: GraphStore,
    registry: ModelRegistry,
    dt_id: str,
    patch: list[dict[str, Any]],
    *,
    if_match: str | None = None,
    user_id: str | None = None,
    ts: str | None = None,
) -> tuple[GraphStore, dict[str, Any], dict[str, Any]]:
    """D3: fetch → RFC-6902 patch → re-validate → MERGE
    (``DigitalTwins.cs:558-758``)."""
    old = get_twin(store, dt_id)
    if if_match is not None and if_match != "*" and old.get("$etag") != if_match:
        raise PreconditionFailedError(f"ETag mismatch for {dt_id}")
    patched = jsonpatch.apply_patch(old, patch)
    patched.pop("$etag", None)
    validate_twin(registry, patched)
    ts = ts or now_iso()
    stamped = stamp_twin(patched, dt_id, ts, user_id)
    store2 = _merge_twin_rows(store, [_twin_row(stamped)], [dt_id])
    return store2, stamped, old


def delete_twin(
    store: GraphStore, dt_id: str, *, if_match: str | None = None
) -> tuple[GraphStore, dict[str, Any]]:
    """D4: delete the vertex; fails when edges still reference it (plain
    Cypher DELETE semantics — no DETACH, ``DigitalTwins.cs:805-829``)."""
    old = get_twin(store, dt_id)
    if if_match is not None and if_match != "*" and old.get("$etag") != if_match:
        raise PreconditionFailedError(f"ETag mismatch for {dt_id}")
    has_edges = (
        store.relationships.filter(
            (F.col("source_id") == dt_id) | (F.col("target_id") == dt_id)
        ).take(1)
    )
    if has_edges:
        raise ValidationError(
            f"Cannot delete twin {dt_id}: relationships still reference it"
        )
    twins = store.twins.filter(F.col("dt_id") != dt_id)
    return (
        _replace(
            store, twins=twins, _twin_index=_carried(store, twins, drop=[dt_id])
        ),
        old,
    )


def create_twins_batch(
    store: GraphStore,
    registry: ModelRegistry,
    docs: list[dict[str, Any]],
    *,
    user_id: str | None = None,
    ts: str | None = None,
    max_batch: int = 100,
) -> tuple[GraphStore, list[dict[str, Any]], list[tuple[str, dict | None, dict | None]]]:
    """D5: batched create (≤100/request like ``DigitalTwins.cs:844``) —
    per-item validation results, ONE vectorized MERGE for the survivors."""
    if len(docs) > max_batch:
        raise ValidationError(f"Batch size {len(docs)} exceeds limit {max_batch}")
    ts = ts or now_iso()
    results: list[dict[str, Any]] = []
    rows: dict[str, tuple] = {}  # dt_id -> its row
    changes: list[tuple[str, dict | None, dict | None]] = []
    olds = _fetch_docs(store, [d.get("$dtId") for d in docs if d.get("$dtId")])
    for d in docs:
        dt_id = d.get("$dtId")
        try:
            if not dt_id:
                raise ValidationError("Twin document requires $dtId")
            validate_twin(registry, d)
            stamped = stamp_twin(d, dt_id, ts, user_id)
            changes.append((dt_id, olds.get(dt_id), stamped))
            # an id the batch repeats is written in order, the last one
            # wins (as in the import job): its row replaces the earlier
            # one, whose document is the old one of the next change
            olds[dt_id] = stamped
            rows[dt_id] = _twin_row(stamped)
            results.append({"$dtId": dt_id, "status": "ok"})
        except (ValidationError, KeyError) as exc:
            results.append({"$dtId": dt_id, "status": "error", "error": str(exc)})
    store2 = _merge_twin_rows(store, list(rows.values()), list(rows)) if rows else store
    return store2, results, changes


def _fetch_docs(store: GraphStore, ids: list[str]) -> dict[str, dict]:
    if not ids:
        return {}
    docs = store.twin_docs()
    if docs is not None:
        return {i: json.loads(docs[i]) for i in ids if i in docs}
    rows = store.twins.filter(F.col("dt_id").isin(ids)).select("doc").collect()
    out = {}
    for (doc,) in rows:
        d = json.loads(doc)
        out[d["$dtId"]] = d
    return out


def _fetch_rel_docs(
    store: GraphStore, keys: list[tuple[str, str]]
) -> dict[tuple[str, str], dict]:
    """Existing relationship docs by (source_id, relationship_id) — one
    IN-list scan for the whole batch, not per-row point reads."""
    if not keys:
        return {}
    key_col = F.concat_ws("\x00", F.col("source_id"), F.col("relationship_id"))
    rows = (
        store.relationships.filter(key_col.isin(["\x00".join(k) for k in keys]))
        .select("doc")
        .collect()
    )
    out: dict[tuple[str, str], dict] = {}
    for (doc,) in rows:
        d = json.loads(doc)
        out[(d["$sourceId"], d["$relationshipId"])] = d
    return out


# ----------------------------------------------------------------------
# components (D9)
# ----------------------------------------------------------------------

def get_component(store: GraphStore, dt_id: str, component: str) -> dict[str, Any]:
    doc = get_twin(store, dt_id)
    value = doc.get(component)
    if not isinstance(value, dict):
        raise NotFoundError(f"Component {component} not found on {dt_id}")
    return value


def update_component(
    store: GraphStore,
    registry: ModelRegistry,
    dt_id: str,
    component: str,
    patch: list[dict[str, Any]],
    **kw,
) -> tuple[GraphStore, dict[str, Any], dict[str, Any]]:
    """Component patch = twin patch with paths prefixed by the component
    name (``Components.cs:345-356``)."""
    prefixed = [
        {**op, "path": f"/{component}{op['path']}", **(
            {"from": f"/{component}{op['from']}"} if "from" in op else {}
        )}
        for op in patch
    ]
    return update_twin(store, registry, dt_id, prefixed, **kw)


# ----------------------------------------------------------------------
# relationships (D6-D8)
# ----------------------------------------------------------------------

def get_relationship(store: GraphStore, dt_id: str, rel_id: str) -> dict[str, Any]:
    rows = (
        store.relationships.filter(
            (F.col("source_id") == dt_id) & (F.col("relationship_id") == rel_id)
        )
        .select("doc")
        .take(1)
    )
    if not rows:
        raise NotFoundError(f"Relationship {rel_id} on {dt_id} not found")
    return json.loads(rows[0][0])


def list_relationships(store: GraphStore, dt_id: str, name: str | None = None):
    """Outgoing edges (``Relationships.cs:134-136``) — filters on
    promoted columns; with name-partitioned storage the label filter is
    partition pruning."""
    df = store.relationships.filter(F.col("source_id") == dt_id)
    if name:
        df = df.filter(F.col("name") == name)
    return [json.loads(r[0]) for r in df.select("doc").collect()]


def list_incoming_relationships(store: GraphStore, dt_id: str):
    # target-keyed point lookup: the incoming-edge index (clustered by
    # target_id) row-group-skips; the base table would full-scan
    base = (
        store.relationships_in
        if store.relationships_in is not None
        else store.relationships
    )
    df = base.filter(F.col("target_id") == dt_id)
    return [json.loads(r[0]) for r in df.select("doc").collect()]


def create_or_replace_relationship(
    store: GraphStore,
    dt_id: str,
    rel_id: str,
    doc: dict[str, Any],
    *,
    if_none_match: str | None = None,
    ts: str | None = None,
    registry: ModelRegistry | None = None,
) -> tuple[GraphStore, dict[str, Any], dict[str, Any] | None]:
    """D7: reserved-prop validation, source+target existence, ETag, MERGE
    (``Relationships.cs:260-420``).

    With ``registry``, additionally enforces the source model's DTDL
    Relationship declaration — target interface, declared properties,
    and ``maxMultiplicity`` — which EXCEEDS the reference (acknowledged
    TODO at ``Relationships.cs:370``).  Undeclared relationship names
    stay lenient, matching the reference's current behavior."""
    validate_entity_id(rel_id, "relationship")
    doc = dict(doc)
    doc["$relationshipId"] = rel_id
    doc["$sourceId"] = dt_id
    validate_relationship(doc)
    target = doc["$targetId"]
    models = {
        i: (d.get("$metadata") or {}).get("$model")
        for i, d in _fetch_docs(store, [dt_id, target]).items()
    }
    if dt_id not in models:
        raise NotFoundError(f"Source twin {dt_id} not found")
    if target not in models:
        raise NotFoundError(f"Target twin {target} not found")
    if registry is not None:
        validate_relationship_against_model(
            registry, models[dt_id], models[target], doc
        )
    old = None
    try:
        old = get_relationship(store, dt_id, rel_id)
    except NotFoundError:
        pass
    if if_none_match == "*" and old is not None:
        raise PreconditionFailedError(f"Relationship {rel_id} already exists")
    if registry is not None and old is None:
        mx = relationship_max_multiplicity(
            registry, models[dt_id], doc["$relationshipName"]
        )
        if mx is not None:
            existing = store.relationships.filter(
                (F.col("source_id") == dt_id)
                & (F.col("name") == doc["$relationshipName"])
            ).count()
            if existing + 1 > mx:
                raise ValidationError(
                    f"Relationship '{doc['$relationshipName']}' on {dt_id} "
                    f"exceeds maxMultiplicity {mx}"
                )
    ts = ts or now_iso()
    doc["$etag"] = generate_etag(rel_id, ts)
    row = _rel_row(doc)
    base = store.relationships.filter(
        ~((F.col("source_id") == dt_id) & (F.col("relationship_id") == rel_id))
    )
    new_df = store.spark.createDataFrame([row], REL_SCHEMA)
    if "vdoc" in base.columns:
        new_df = with_vdoc(new_df)
    return _replace(store, relationships=base.unionByName(new_df)), doc, old


def update_relationship(
    store: GraphStore,
    dt_id: str,
    rel_id: str,
    patch: list[dict[str, Any]],
    *,
    if_match: str | None = None,
    ts: str | None = None,
) -> tuple[GraphStore, dict[str, Any], dict[str, Any]]:
    """D6/D7: fetch → ETag If-Match → RFC-6902 patch → re-validate →
    re-stamp → MERGE (``Relationships.cs:420-510``)."""
    old = get_relationship(store, dt_id, rel_id)
    if if_match is not None and if_match != "*" and old.get("$etag") != if_match:
        raise PreconditionFailedError(f"ETag mismatch for {rel_id}")
    patched = jsonpatch.apply_patch(old, patch)
    patched["$relationshipId"] = rel_id
    patched["$sourceId"] = dt_id
    patched.pop("$etag", None)
    validate_relationship(patched)
    if patched["$targetId"] != old["$targetId"]:
        raise ValidationError("Cannot patch $targetId of a relationship")
    ts = ts or now_iso()
    patched["$etag"] = generate_etag(rel_id, ts)
    row = _rel_row(patched)
    base = store.relationships.filter(
        ~((F.col("source_id") == dt_id) & (F.col("relationship_id") == rel_id))
    )
    new_df = store.spark.createDataFrame([row], REL_SCHEMA)
    if "vdoc" in base.columns:
        new_df = with_vdoc(new_df)
    return _replace(store, relationships=base.unionByName(new_df)), patched, old


def delete_relationship(
    store: GraphStore, dt_id: str, rel_id: str, *, if_match: str | None = None
) -> tuple[GraphStore, dict[str, Any]]:
    old = get_relationship(store, dt_id, rel_id)
    if if_match is not None and if_match != "*" and old.get("$etag") != if_match:
        raise PreconditionFailedError(f"ETag mismatch for {rel_id}")
    return (
        _replace(
            store,
            relationships=store.relationships.filter(
                ~((F.col("source_id") == dt_id) & (F.col("relationship_id") == rel_id))
            ),
        ),
        old,
    )


def create_relationships_batch(
    store: GraphStore,
    docs: list[dict[str, Any]],
    *,
    ts: str | None = None,
) -> tuple[GraphStore, list[dict[str, Any]], list[tuple[str, dict | None, dict | None]]]:
    """D8: one vectorized MERGE for the batch; endpoint existence is
    join-validated against the twins table (not per-row point reads)."""
    ts = ts or now_iso()
    results = []
    rows = []
    keys = []
    changes = []
    valid_docs = []
    for d in docs:
        try:
            validate_relationship(d)
            valid_docs.append(d)
        except ValidationError as exc:
            results.append(
                {"$relationshipId": d.get("$relationshipId"), "status": "error", "error": str(exc)}
            )
    endpoint_ids = {d["$sourceId"] for d in valid_docs} | {d["$targetId"] for d in valid_docs}
    present = set(_fetch_docs(store, list(endpoint_ids)))
    # Prefetch existing docs so a replace logs Update+old (the twin
    # batch path does the same; CloudEventFactory.cs:35-133 pins the
    # Create-vs-Update+patch contract downstream).
    olds = _fetch_rel_docs(
        store, [(d["$sourceId"], d["$relationshipId"]) for d in valid_docs]
    )
    for d in valid_docs:
        if d["$sourceId"] not in present or d["$targetId"] not in present:
            results.append(
                {
                    "$relationshipId": d["$relationshipId"],
                    "status": "error",
                    "error": "source or target twin not found",
                }
            )
            continue
        doc = dict(d)
        doc["$etag"] = generate_etag(doc["$relationshipId"], ts)
        rows.append(_rel_row(doc))
        keys.append((doc["$sourceId"], doc["$relationshipId"]))
        changes.append(
            (doc["$relationshipId"], olds.get((doc["$sourceId"], doc["$relationshipId"])), doc)
        )
        results.append({"$relationshipId": doc["$relationshipId"], "status": "ok"})
    if not rows:
        return store, results, changes
    key_col = F.concat_ws("\x00", F.col("source_id"), F.col("relationship_id"))
    key_lits = ["\x00".join(k) for k in keys]
    base = store.relationships.filter(~key_col.isin(key_lits))
    new_df = store.spark.createDataFrame(rows, REL_SCHEMA)
    if "vdoc" in base.columns:
        new_df = with_vdoc(new_df)
    return _replace(store, relationships=base.unionByName(new_df)), results, changes
