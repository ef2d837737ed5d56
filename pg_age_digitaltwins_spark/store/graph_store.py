"""The graph store: twins / relationships / models as DataFrames.

Storage model (SURVEY.md §1.4, FIXTURES.md §1):

* ``twins(dt_id, model_id, etag, last_update_time, doc)`` — one row per
  twin; ``doc`` is the full JSON document (reference stores an ``agtype``
  blob per vertex, ``src/AgeDigitalTwins/GraphInitialization.cs:12-20``).
  Hot fields are *promoted* to real columns so Catalyst can push filters
  into the scan: ``dt_id`` replaces the reference's unique ``$dtId``
  expression index, ``model_id`` its ``$metadata.$model`` btree index.
* ``relationships(relationship_id, source_id, target_id, name, etag,
  doc)`` — the reference keeps one edge table per relationship name
  (dynamic labels, ``AgeDigitalTwinsClient.Relationships.cs:384-389``);
  we use ONE table with a ``name`` column and recover per-label pruning
  by partitioning on ``name``.
* ``models(id, model, display_name, description, upload_time,
  decommissioned, bases, descendants, embedding)`` + ``model_edges(src,
  dst, kind)`` — a tiny dimension, always broadcastable; the
  bases/descendants closure is precomputed as in the reference
  (``Models.cs:263-324``).

Scale design: twins are hash-distributed on ``dt_id`` (point lookups,
MERGE) and partitioned by ``model_id`` on disk (IS_OF_MODEL pruning);
relationships partitioned by ``name`` and sorted/bucketed by
``source_id`` so traversal joins co-locate.  A VARIANT column (``vdoc``)
is derived once per scan for dynamic-typed property access — JVM-side,
no Python in the hot path.
"""

from __future__ import annotations

import json
import threading
from dataclasses import dataclass, field
from typing import Any, ClassVar, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from pg_age_digitaltwins_spark.functions.model_closure import closure_from_dtdl

TWIN_SCHEMA = T.StructType(
    [
        T.StructField("dt_id", T.StringType(), False),
        T.StructField("model_id", T.StringType(), True),
        T.StructField("etag", T.StringType(), True),
        T.StructField("last_update_time", T.TimestampType(), True),
        T.StructField("doc", T.StringType(), True),
    ]
)

REL_SCHEMA = T.StructType(
    [
        T.StructField("relationship_id", T.StringType(), False),
        T.StructField("source_id", T.StringType(), False),
        T.StructField("target_id", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("etag", T.StringType(), True),
        T.StructField("doc", T.StringType(), True),
    ]
)

MODEL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),
        T.StructField("model", T.StringType(), True),
        T.StructField("display_name", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("description", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("upload_time", T.TimestampType(), True),
        T.StructField("decommissioned", T.BooleanType(), True),
        T.StructField("bases", T.ArrayType(T.StringType()), True),
        T.StructField("descendants", T.ArrayType(T.StringType()), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    ]
)

MODEL_EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
    ]
)


# Bound of a snapshot's driver-side twin index, in bytes of document
# text: sf0.01 (18,630 twins, 5.1 MB) is indexed, sf0.1 (186,030 twins,
# 50.9 MB) reads by key on Spark.  Read at call time.
TWIN_INDEX_BYTES = 16 << 20


@dataclass(frozen=True, eq=False)
class TwinIndex:
    """One snapshot's twins by key: ``docs`` maps ``dt_id`` to the
    document text, or is None when the documents are over
    :data:`TWIN_INDEX_BYTES` (reads by key then run on Spark).  Valid
    for the ``twins`` frame it names only."""

    twins: DataFrame
    docs: dict[str, str] | None
    nbytes: int = 0

    @classmethod
    def build(cls, twins: DataFrame) -> "TwinIndex":
        """One size check, then, under the bound, one collect of
        ``(dt_id, doc)``.  Raises ``ValueError`` naming a ``dt_id`` two
        rows share: a read by key would have to pick one of them."""
        nbytes = twins.agg(F.sum(F.octet_length("doc"))).first()[0] or 0
        if nbytes > TWIN_INDEX_BYTES:
            return cls(twins, None)
        docs: dict[str, str] = {}
        for dt_id, doc in twins.select("dt_id", "doc").collect():
            if dt_id in docs:
                raise ValueError(f"two twin rows share dt_id {dt_id!r}")
            docs[dt_id] = doc
        return cls(twins, docs, nbytes)

    def carried(
        self, twins: DataFrame, put: Iterable[tuple[str, str]] = (),
        drop: Iterable[str] = (),
    ) -> "TwinIndex":
        """The index of ``twins``, the frame a mutation made from this
        one by writing ``put`` (``(dt_id, doc)`` pairs) and deleting
        ``drop``: a copy with those writes, or the over-bound verdict
        when it is or grows over the bound."""
        if self.docs is None:
            return TwinIndex(twins, None)
        docs, nbytes = dict(self.docs), self.nbytes
        for dt_id in drop:
            old = docs.pop(dt_id, None)
            nbytes -= 0 if old is None else len(old.encode())
        for dt_id, doc in put:
            old = docs.get(dt_id)
            nbytes += len(doc.encode()) - (0 if old is None else len(old.encode()))
            docs[dt_id] = doc
        if nbytes > TWIN_INDEX_BYTES:
            return TwinIndex(twins, None)
        return TwinIndex(twins, docs, nbytes)


def with_vdoc(df: DataFrame) -> DataFrame:
    """Attach the VARIANT view of the JSON document.

    The materialized store persists ``vdoc`` as a real parquet VARIANT
    column — documents are parsed ONCE at write time and queries
    navigate binary variant directly, exactly like AGE's binary
    ``agtype`` storage (the reference's decode cascade is
    ``AgeDigitalTwinsClient.Query.cs:162-201``).  Measured at sf0.1 this
    is ~15× faster than re-parsing JSON per query.  For plan-backed
    (non-materialized) stores the parse happens here, per scan.
    """
    if "vdoc" in df.columns:
        return df
    return df.withColumn("vdoc", F.try_parse_json(F.col("doc")))


@dataclass
class GraphStore:
    """Immutable snapshot of the digital-twin graph as DataFrames.

    Reads by key (``crud.get_twin``, the read-before-write of every twin
    mutation, the endpoint checks of relationship writes and the ADT
    ``$dtId`` point query) are answered from the snapshot's twin index,
    :meth:`twin_docs`: a driver-side ``dt_id`` -> document text map.
    The first read by key of a new store runs a Spark filter on
    ``dt_id``; the second builds the index with one size check and one
    collect of ``(dt_id, doc)``, at most once per snapshot, so a
    snapshot read by key only once never pays the build.  The index is
    valid while ``twins`` is the frame it was built from.  A twin
    mutation gives the new snapshot a copy with its own writes, a
    mutation that keeps ``twins`` shares it, and ``client.commit`` hands
    it to the store it reloads when that store provably holds the same
    twins; every other new store (loads, jobs, ``checkpoint``,
    ``DELETE``, stores built here) starts without one.  Stores derived
    from this one (``crud._replace``, ``client.commit``) keep its count
    of reads by key, so a chain of mutations each read once still
    builds on its second read.  Over :data:`TWIN_INDEX_BYTES` of
    document text the index records only that verdict, carried along
    the same paths, and reads by key stay Spark filters on ``dt_id``."""

    spark: SparkSession
    twins: DataFrame
    relationships: DataFrame
    models: DataFrame
    model_edges: DataFrame
    # Optional INCOMING-edge index: the same relationship rows
    # clustered by ``target_id`` (the reference keeps btree indexes on
    # BOTH endpoints, GraphInitialization.cs:13-29).  Reverse hops and
    # incoming-relationship lookups read this copy exchange-free; it
    # exists only on loaded bucketed snapshots — mutations invalidate
    # it (crud._replace sets it back to None) and the next
    # save/load rebuilds it.
    relationships_in: DataFrame | None = None
    # Non-catalog (un-bucketed) read of the SAME twin files, present
    # only on loaded bucketed snapshots.  Bucketed scans satisfy join
    # distribution requirements directly, so predicate-bearing hop
    # targets plan as exchange-free sort-merge joins that AQE can never
    # re-plan (no shuffle stage = no runtime stats).  Reading the
    # filtered leg through THIS frame re-introduces an
    # ENSURE_REQUIREMENTS exchange whose materialized size lets AQE
    # demote the join to broadcast when the filter is selective — the
    # adaptive escape hatch over the bucketed layout.  Mutations
    # invalidate it alongside relationships_in.
    twins_plain: DataFrame | None = None
    # Optional ORDER-PRESERVING long vertex ids over the edge-endpoint
    # universe (r16 optimization): ``vertex_ids`` is (dt_id, vid) with
    # vid ORDER == dt_id ORDER, and ``edges_vid`` the same relationship
    # rows pre-encoded as (source_vid, target_vid, name).  The wedge
    # family (triangle_count / local_clustering / node_similarity /
    # link_prediction) runs its Σ C(deg,2)-sized joins in long id space;
    # computing this encoding per query costs a distinct + orderBy +
    # checkpoint over the endpoint universe EVERY run (~6 s at sf1), so
    # it is paid once at save time instead — the same write-time-for-
    # query-time trade as the bucketed layout itself.  Only on loaded
    # bucketed snapshots; any relationship mutation invalidates both
    # (crud._replace) and operators fall back to the per-query encode.
    vertex_ids: DataFrame | None = None
    edges_vid: DataFrame | None = None
    # model_id -> sorted list of descendants (not incl. self); driver-side
    # copy of the closure for compile-time IS_OF_MODEL expansion.
    _descendants: dict[str, list[str]] = field(default_factory=dict)
    # Corpus-side dataset tables (documents/embeddings) the
    # text.*/dedup.*/ann.* procedure families run on (r16): the loader
    # attaches the fixture directory; tables read lazily on first use
    # and memoized.  A store without datasets (crafted test stores,
    # CRUD-built graphs) raises a targeted error from dataset().
    datasets_dir: str | None = None
    _datasets: dict[str, DataFrame] = field(default_factory=dict)
    # the graph kernels' vertex universe, built on first use; every
    # snapshot is a new GraphStore, so each starts without one
    _universe: Any = field(default=None, init=False, repr=False, compare=False)
    # the snapshot's TwinIndex, built by twin_docs() or handed over by
    # the mutation that made this snapshot
    _twin_index: TwinIndex | None = field(default=None, repr=False, compare=False)
    # reads by key of this snapshot and the stores it was derived from
    # while none had its index built: the second one builds it
    _key_reads: int = field(default=0, repr=False, compare=False)
    _index_lock: Any = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    @property
    def universe(self):
        """This snapshot's ``operators.graph_analytics.VertexUniverse``:
        its |V| count and its layout check run at most once per
        snapshot, however many kernels read them (rebuilt if a frame
        is reassigned while the store is being assembled).  With the
        twin index built, |V| is its size and no count job runs."""
        u = self._universe
        if u is None or u.twins is not self.twins or (
            u.relationships is not self.relationships
        ):
            from pg_age_digitaltwins_spark.operators.graph_analytics import (
                VertexUniverse,
            )

            u = self._universe = VertexUniverse(
                self.twins, self.relationships, self.vertex_ids, self.edges_vid
            )
        idx = self.built_twin_index()
        if idx is not None and idx.docs is not None:
            u._facts.setdefault("n", len(idx.docs))
        return u

    def built_twin_index(self) -> TwinIndex | None:
        """This snapshot's :class:`TwinIndex` if it was built or handed
        over, else None; builds nothing."""
        idx = self._twin_index
        return idx if idx is not None and idx.twins is self.twins else None

    def twin_docs(self) -> dict[str, str] | None:
        """One read by key's view of the twin index: ``dt_id`` ->
        document text of every twin, or None when the read runs on
        Spark — on the first read by key (``_key_reads``) and over
        :data:`TWIN_INDEX_BYTES`.  The second read builds the index
        (one size check, one collect), at most once however many
        requests ask at once."""
        idx = self.built_twin_index()
        if idx is None:
            with self._index_lock:
                idx = self.built_twin_index()
                if idx is None:
                    self._key_reads += 1
                    if self._key_reads < 2:
                        return None
                    idx = self._twin_index = TwinIndex.build(self.twins)
        return idx.docs

    def dataset(self, name: str) -> DataFrame:
        """The named corpus dataset (``documents`` / ``embeddings``) —
        lazily read from ``datasets_dir`` and memoized, or previously
        attached via :meth:`with_datasets`."""
        if name not in self._datasets:
            if self.datasets_dir is None:
                raise KeyError(
                    f"this graph store attaches no corpus datasets — "
                    f"'{name}' is unavailable (load via tpch_loader."
                    "load_graph, or attach with with_datasets())"
                )
            import os as _os

            self._datasets[name] = self.spark.read.parquet(
                _os.path.join(self.datasets_dir, f"{name}.parquet")
            )
        return self._datasets[name]

    def with_datasets(self, **named: DataFrame) -> "GraphStore":
        """Attach corpus datasets in-place (tests / programmatic use);
        returns self for chaining."""
        self._datasets.update(named)
        return self

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def empty(cls, spark: SparkSession) -> "GraphStore":
        return cls(
            spark=spark,
            twins=spark.createDataFrame([], TWIN_SCHEMA),
            relationships=spark.createDataFrame([], REL_SCHEMA),
            models=spark.createDataFrame([], MODEL_SCHEMA),
            model_edges=spark.createDataFrame([], MODEL_EDGE_SCHEMA),
        )

    @classmethod
    def from_documents(
        cls,
        spark: SparkSession,
        twin_docs: Iterable[dict[str, Any] | str] = (),
        relationship_docs: Iterable[dict[str, Any] | str] = (),
        model_docs: Iterable[dict[str, Any] | str] = (),
    ) -> "GraphStore":
        """Build a store from ADT-format JSON documents (test fixtures,
        ND-JSON import sections — ``ImportJob.cs:442-604`` format)."""
        store = cls.empty(spark)
        if model_docs:
            store = store.with_models(model_docs)
        twins = [_twin_row(d) for d in map(_as_dict, twin_docs)]
        rels = [_rel_row(d) for d in map(_as_dict, relationship_docs)]
        if twins:
            store.twins = spark.createDataFrame(twins, TWIN_SCHEMA)
        if rels:
            store.relationships = spark.createDataFrame(rels, REL_SCHEMA)
        return store

    def with_models(self, model_docs: Iterable[dict[str, Any] | str]) -> "GraphStore":
        """Create models: parse DTDL, compute bases/descendants closure,
        store the dim table + ``_extends``/``_hasComponent`` edges
        (reference: ``Models.cs:248-470``)."""
        docs, bases, descendants, edges = closure_from_dtdl(model_docs)
        rows = []
        for d in docs:
            mid = d["@id"]
            rows.append(
                (
                    mid,
                    json.dumps(d, separators=(",", ":"), sort_keys=True),
                    _lang_map(d.get("displayName")),
                    _lang_map(d.get("description")),
                    None,
                    False,
                    bases.get(mid, []),
                    descendants.get(mid, []),
                    None,
                )
            )
        models_df = self.spark.createDataFrame(rows, MODEL_SCHEMA)
        edges_df = (
            self.spark.createDataFrame(edges, MODEL_EDGE_SCHEMA)
            if edges
            else self.spark.createDataFrame([], MODEL_EDGE_SCHEMA)
        )
        return GraphStore(
            spark=self.spark,
            twins=self.twins,
            relationships=self.relationships,
            models=models_df,
            model_edges=edges_df,
            _descendants=descendants,
        )

    # ------------------------------------------------------------------
    # derived views
    # ------------------------------------------------------------------
    def twins_v(self) -> DataFrame:
        """Twins with the VARIANT document column attached."""
        return with_vdoc(self.twins)

    def twins_adaptive_v(self) -> DataFrame:
        """Twins frame for PREDICATE-BEARING hop-target scans.

        On bucketed stores this is the plain (non-catalog) read of the
        same files: the planner inserts a shuffle under the join, and
        AQE — seeing the filtered leg's true size at runtime — demotes
        the sort-merge join to broadcast when the predicate is
        selective.  When it is not, the shuffle costs no more than the
        per-query Sort the bucketed SMJ would have forced on the same
        filtered rows.  Unfiltered scans and bucket-key point lookups
        must keep ``twins_v()`` (bucket pruning / exchange-free joins).
        """
        if self.twins_plain is not None:
            return with_vdoc(self.twins_plain)
        return with_vdoc(self.twins)

    def relationships_v(self) -> DataFrame:
        return with_vdoc(self.relationships)

    def relationships_in_v(self) -> DataFrame:
        """The incoming-edge index (target_id-clustered) when loaded,
        else the base table — same rows either way, so callers use it
        unconditionally for target-keyed access."""
        if self.relationships_in is not None:
            return with_vdoc(self.relationships_in)
        return with_vdoc(self.relationships)

    def model_and_descendants(self, model_id: str) -> list[str]:
        """``{model_id} ∪ descendants(model_id)`` — the IS_OF_MODEL
        membership set (reference fast path,
        ``GraphInitialization.cs:72-118``).  Driver-side: the model dim
        is tiny; the result becomes an IN-list literal that Catalyst
        pushes into the scan."""
        desc = self._descendants.get(model_id)
        if desc is None:
            rows = (
                self.models.filter(F.col("id") == model_id)
                .select("descendants")
                .collect()
            )
            desc = rows[0][0] if rows and rows[0][0] is not None else []
            self._descendants[model_id] = list(desc)
        return sorted(set(desc) | {model_id})

    # ------------------------------------------------------------------
    # persistence (parquet layout tuned for pruning at scale)
    # ------------------------------------------------------------------
    def save(self, path: str, mode: str = "overwrite") -> None:
        """Persist with the scale-oriented layout: hive-partitioned by
        ``model_id`` / ``name`` (partition pruning for IS_OF_MODEL and
        edge-label filters) and the document stored BOTH as JSON text
        (fidelity) and parquet VARIANT (parse-once binary access)."""
        with_vdoc(self.twins).write.mode(mode).partitionBy("model_id").parquet(
            f"{path}/twins"
        )
        with_vdoc(self.relationships).write.mode(mode).partitionBy("name").parquet(
            f"{path}/relationships"
        )
        self.models.write.mode(mode).parquet(f"{path}/models")
        self.model_edges.write.mode(mode).parquet(f"{path}/model_edges")

    def save_compacted(self, path: str, mode: str = "overwrite") -> None:
        """The ``OPTIMIZE``-with-clustering equivalent for the plain
        parquet layout: rewrite each table with rows range-clustered on
        (partition key, lookup key) before the hive-partitioned write.

        Effect at scale: (1) the small files that accumulate from
        per-commit COW writes collapse to ~one file per range split;
        (2) rows inside every file are sorted by ``dt_id`` /
        ``source_id``, so parquet row-group min/max statistics skip
        row groups on point lookups — the Z-order stand-in for a
        single-key access pattern.  ``repartitionByRange`` (not
        ``repartition(col)``) is deliberate: a hash repartition on the
        partition column alone would put an entire hot model into ONE
        task; ranges over the (partition, key) pair split large
        partitions across tasks while keeping each output file
        key-clustered.  Run after bulk imports or every few hundred
        commits, like Delta's OPTIMIZE cadence."""
        (
            with_vdoc(self.twins)
            .repartitionByRange("model_id", "dt_id")
            .sortWithinPartitions("model_id", "dt_id")
            .write.mode(mode)
            .partitionBy("model_id")
            .parquet(f"{path}/twins")
        )
        (
            with_vdoc(self.relationships)
            .repartitionByRange("name", "source_id")
            .sortWithinPartitions("name", "source_id")
            .write.mode(mode)
            .partitionBy("name")
            .parquet(f"{path}/relationships")
        )
        # model tables are dimension-sized: single file each
        self.models.coalesce(1).write.mode(mode).parquet(f"{path}/models")
        self.model_edges.coalesce(1).write.mode(mode).parquet(
            f"{path}/model_edges"
        )

    def save_bucketed(
        self,
        prefix: str,
        path: str | None = None,
        n_buckets: int = 32,
        partitioned: bool = False,
    ) -> None:
        """Persist as BUCKETED tables — the co-located-join layout for
        the 100 TB target (SURVEY §4: replaces AGE's btree on
        ``source_id``/``dt_id``).

        ``twins`` is bucketed+sorted on ``dt_id`` and ``relationships``
        on ``source_id`` with the same bucket count, so every traversal
        hop (``rel.source_id = twin.dt_id`` — Q6/Q8, C1) sort-merge
        joins with NO exchange: the shuffle that dominates multi-hop
        queries at scale is paid once at write time, never per query.
        Requires a catalog (``saveAsTable``) — bucketing metadata lives
        there, a plain parquet path cannot carry it.

        ``partitioned=True`` additionally hive-partitions twins by
        ``model_id`` and relationships by ``name`` — the full production
        layout: IS_OF_MODEL / edge-label partition pruning AND
        co-located traversal joins.  The cost is one file per
        (partition, bucket), so each bucket spans several files and the
        scan can no longer report per-bucket sortedness — traversal
        joins keep zero Exchange but pay a per-task in-memory Sort.
        At 100 TB, scale ``n_buckets`` with the data (buckets are the
        unit of join-task parallelism); Spark's auto-bucketed-scan
        disables bucket-aligned reads for queries that don't join or
        aggregate on the bucket key, so non-traversal scans still split
        by file size."""
        spark = self.spark

        def opts(w, sub):
            return w if path is None else w.option("path", f"{path}/{sub}")

        tw = with_vdoc(self.twins).write.mode("overwrite")
        if partitioned:
            tw = tw.partitionBy("model_id")
        (
            opts(tw, "twins")
            .bucketBy(n_buckets, "dt_id")
            .sortBy("dt_id")
            .saveAsTable(f"{prefix}_twins")
        )
        rw = with_vdoc(self.relationships).write.mode("overwrite")
        if partitioned:
            rw = rw.partitionBy("name")
        (
            opts(rw, "relationships")
            .bucketBy(n_buckets, "source_id")
            .sortBy("source_id")
            .saveAsTable(f"{prefix}_relationships")
        )
        if partitioned:
            # incoming-edge index: same rows, target_id-clustered
            (
                opts(
                    with_vdoc(self.relationships).write.mode("overwrite")
                    .partitionBy("name"),
                    "relationships_in",
                )
                .bucketBy(n_buckets, "target_id")
                .sortBy("target_id")
                .saveAsTable(f"{prefix}_relationships_in")
            )
            # order-preserving long vertex ids + pre-encoded edges (r16):
            # the encoding every wedge-family query would otherwise
            # rebuild per run.  The id map is WRITTEN FIRST and read
            # back for the edge encode — monotonically_increasing_id is
            # only deterministic per execution, so the persisted table
            # is the one assignment every consumer (including task
            # retries of the encode below) sees.
            ends = self.relationships.select(
                F.col("source_id").alias("dt_id")
            ).unionByName(self.relationships.select(F.col("target_id").alias("dt_id")))
            vmap = (
                ends.distinct()
                .orderBy("dt_id")
                .select("dt_id", F.monotonically_increasing_id().alias("vid"))
            )
            (
                opts(vmap.write.mode("overwrite"), "vertex_ids")
                .saveAsTable(f"{prefix}_vertex_ids")
            )
            vmap = spark.table(f"{prefix}_vertex_ids")
            evid = (
                self.relationships.select("source_id", "target_id", "name")
                .join(
                    vmap.select(
                        F.col("dt_id").alias("source_id"),
                        F.col("vid").alias("source_vid"),
                    ),
                    "source_id",
                )
                .join(
                    vmap.select(
                        F.col("dt_id").alias("target_id"),
                        F.col("vid").alias("target_vid"),
                    ),
                    "target_id",
                )
                .select("source_vid", "target_vid", "name")
            )
            # bucketed by source_vid (r16b): the iterative kernels'
            # source-keyed aggregations (CC level-1 local min, PageRank
            # out-degrees), source-keyed joins (contract, per-round
            # edges⋈state) and (source, target) distincts all plan
            # exchange-free off the bucketed scan — the same property
            # the string path gets from the relationships table, now in
            # long id space.  Pre-repartitioned on the bucket key so
            # each bucket is one file (guide §6 — the first cut wrote
            # 117 sub-MB files via partitionBy(name), which no vid
            # consumer ever pruned by).
            (
                opts(
                    evid.repartition(n_buckets, F.col("source_vid"))
                    .write.mode("overwrite"),
                    "edges_vid",
                )
                .bucketBy(n_buckets, "source_vid")
                .sortBy("source_vid")
                .saveAsTable(f"{prefix}_edges_vid")
            )
        opts(self.models.write.mode("overwrite"), "models").saveAsTable(
            f"{prefix}_models"
        )
        opts(self.model_edges.write.mode("overwrite"), "model_edges").saveAsTable(
            f"{prefix}_model_edges"
        )

    # bucket/partition column per bucketed table (partitioned=True
    # layout); ClassVar so the dataclass machinery ignores it
    _BUCKET_SPEC: ClassVar[dict] = {
        "twins": ("dt_id", "model_id"),
        "relationships": ("source_id", "name"),
        # incoming-edge index; only written by partitioned=True layouts
        "relationships_in": ("target_id", "name"),
        "models": (None, None),
        "model_edges": (None, None),
        # r16 long-id layout; only written by partitioned=True layouts
        "vertex_ids": (None, None),
        "edges_vid": ("source_vid", None),
    }

    # derived tables absent from pre-r16 / non-partitioned layouts —
    # register/load skip them when the directory is missing
    _OPTIONAL_TABLES: ClassVar[frozenset] = frozenset(
        {"relationships_in", "vertex_ids", "edges_vid"}
    )

    @classmethod
    def register_bucketed(
        cls,
        spark: SparkSession,
        prefix: str,
        path: str,
        n_buckets: int = 32,
        partitioned: bool = False,
    ) -> None:
        """Re-attach a ``save_bucketed(path=...)`` layout to THIS
        session's catalog.

        Bucketing metadata lives in the catalog, and the default
        in-memory catalog dies with the session — a new process reading
        the same files as plain parquet would silently lose the
        exchange-free join property.  This issues ``CREATE TABLE ...
        CLUSTERED BY ... LOCATION`` DDL (idempotent: skips tables the
        session already knows) and recovers hive partitions, so every
        session sees ``Bucketed: true`` scans over the shared files —
        the local stand-in for a persistent metastore / Delta log."""
        import os as _os

        for sub, (bucket_col, part_col) in cls._BUCKET_SPEC.items():
            table = f"{prefix}_{sub}"
            if spark.catalog.tableExists(table):
                continue
            if sub in cls._OPTIONAL_TABLES and not _os.path.isdir(
                f"{path}/{sub}"
            ):
                continue  # older layouts lack the derived tables
            df = spark.read.parquet(f"{path}/{sub}")
            if not partitioned:
                part_col = None
            data = [f for f in df.schema.fields if f.name != part_col]
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in data
            )
            ddl = [f"CREATE TABLE `{table}` ({cols}"]
            if part_col is not None:
                ddl[0] += f", `{part_col}` string"
            ddl[0] += ") USING PARQUET"
            if part_col is not None:
                ddl.append(f"PARTITIONED BY (`{part_col}`)")
            if bucket_col is not None:
                ddl.append(
                    f"CLUSTERED BY (`{bucket_col}`) SORTED BY (`{bucket_col}`) "
                    f"INTO {n_buckets} BUCKETS"
                )
            ddl.append(f"LOCATION '{path}/{sub}'")
            spark.sql(" ".join(ddl))
            if part_col is not None:
                spark.sql(f"MSCK REPAIR TABLE `{table}`")

    @classmethod
    def drop_bucketed(cls, spark: SparkSession, prefix: str) -> None:
        """Drop the catalog entries for a bucketed store (files are
        external — they survive; ``save_bucketed`` overwrite removes
        them)."""
        for sub in cls._BUCKET_SPEC:
            spark.sql(f"DROP TABLE IF EXISTS `{prefix}_{sub}`")

    @classmethod
    def load_bucketed(
        cls, spark: SparkSession, prefix: str, path: str | None = None
    ) -> "GraphStore":
        """Load a ``save_bucketed`` store; scans report their bucketing
        to Catalyst, so traversal joins plan exchange-free.  With
        ``path``, also attach ``twins_plain`` (a non-catalog read of the
        same twin files) — the AQE escape hatch for predicate-bearing
        hop targets (see ``twins_adaptive_v``)."""
        rels_in = None
        if spark.catalog.tableExists(f"{prefix}_relationships_in"):
            rels_in = spark.table(f"{prefix}_relationships_in")
        twins_plain = None
        if path is not None:
            twins_plain = spark.read.parquet(f"{path}/twins")
        vertex_ids = None
        edges_vid = None
        if spark.catalog.tableExists(f"{prefix}_vertex_ids"):
            vertex_ids = spark.table(f"{prefix}_vertex_ids")
        if spark.catalog.tableExists(f"{prefix}_edges_vid"):
            edges_vid = spark.table(f"{prefix}_edges_vid")
        return cls(
            spark=spark,
            twins=spark.table(f"{prefix}_twins"),
            relationships=spark.table(f"{prefix}_relationships"),
            models=spark.table(f"{prefix}_models"),
            model_edges=spark.table(f"{prefix}_model_edges"),
            relationships_in=rels_in,
            twins_plain=twins_plain,
            vertex_ids=vertex_ids,
            edges_vid=edges_vid,
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphStore":
        from pyspark.sql.utils import AnalysisException

        def read(sub: str, schema: T.StructType, vdoc: bool) -> DataFrame:
            # An EMPTY partitioned table writes no parquet files, so the
            # read cannot infer a schema — fall back to the canonical
            # empty frame (with the vdoc column save() would have added).
            try:
                return spark.read.parquet(f"{path}/{sub}")
            except AnalysisException:
                df = spark.createDataFrame([], schema)
                return with_vdoc(df) if vdoc else df

        return cls(
            spark=spark,
            twins=read("twins", TWIN_SCHEMA, True),
            relationships=read("relationships", REL_SCHEMA, True),
            models=read("models", MODEL_SCHEMA, False),
            model_edges=read("model_edges", MODEL_EDGE_SCHEMA, False),
        )


# ----------------------------------------------------------------------
# document helpers
# ----------------------------------------------------------------------

def _as_dict(d: dict[str, Any] | str) -> dict[str, Any]:
    return json.loads(d) if isinstance(d, str) else d


def _twin_row(d: dict[str, Any]):
    meta = d.get("$metadata") or {}
    return (
        d["$dtId"],
        meta.get("$model"),
        d.get("$etag"),
        None,
        json.dumps(d, separators=(",", ":"), sort_keys=True),
    )


def _rel_row(d: dict[str, Any]):
    return (
        d["$relationshipId"],
        d["$sourceId"],
        d["$targetId"],
        d["$relationshipName"],
        d.get("$etag"),
        json.dumps(d, separators=(",", ":"), sort_keys=True),
    )


def _lang_map(v) -> dict[str, str] | None:
    if v is None:
        return None
    if isinstance(v, str):
        return {"en": v}
    return {str(k): str(x) for k, x in v.items()}
