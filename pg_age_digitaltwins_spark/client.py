"""Client facade — the engine's user-facing API.

Mirrors the reference SDK's surface (``AgeDigitalTwinsClient``): query
with pagination, twin/relationship/component/model CRUD with ETag
optimistic concurrency, telemetry publish, and a change log feeding the
event pipeline.  Mutations are snapshot-functional (each op swaps in a
new GraphStore) — the Delta ``MERGE INTO`` equivalent is the
cluster-deployment story (SURVEY.md §3.2).
"""

from __future__ import annotations

import base64
import dataclasses
import json
import re
import threading
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from pg_age_digitaltwins_spark import crud
from pg_age_digitaltwins_spark.adtql import ast as A
from pg_age_digitaltwins_spark.adtql.compiler import QueryCompiler
from pg_age_digitaltwins_spark.adtql.parser import parse
from pg_age_digitaltwins_spark.store.graph_store import GraphStore
from pg_age_digitaltwins_spark.streaming.changes import ChangeLog
from pg_age_digitaltwins_spark.validation import ModelRegistry


@dataclass
class QueryPage:
    rows: list[dict]
    continuation_token: str | None
    charge: float = 0.0


def _shape_rows(rows: "list[dict]", df) -> "list[dict]":
    """Re-shape whole-entity columns for the API surface: the compiler
    keeps documents as JSON strings in the DataFrame (stable for
    SQL/oracle consumers) and marks them via ``_pgage_doc_cols``;
    here they become parsed objects, and a single-alias ``SELECT *``
    flattens to the bare document — reference row shape
    (``SELECT * FROM DIGITALTWINS`` yields ``$dtId`` at the root,
    QueryTests.cs:539-656)."""
    doc_cols = getattr(df, "_pgage_doc_cols", None)
    if not doc_cols:
        return rows
    flatten = getattr(df, "_pgage_flatten", False)
    out = []
    for r in rows:
        r = dict(r)
        for c in doc_cols:
            v = r.get(c)
            if isinstance(v, str):
                try:
                    r[c] = json.loads(v)
                except ValueError:  # pragma: no cover — malformed doc
                    pass
        if flatten and len(r) == 1 and isinstance(r.get(doc_cols[0]), dict):
            r = r[doc_cols[0]]
        out.append(r)
    return out


def _jsonable(v):
    """Row values → JSON-typed Python: VariantType columns (dynamic
    properties reaching RETURN unconverted, e.g. ``UNWIND t.xs``)
    collect as ``VariantVal``, which would break every JSON consumer
    downstream (the reference returns agtype-decoded JSON values)."""
    try:
        from pyspark.sql.types import VariantVal
    except ImportError:  # pragma: no cover
        VariantVal = ()
    if isinstance(v, VariantVal):
        return v.toPython()
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_jsonable(x) for x in v]
    return v


def _cypher_paging_order(df: DataFrame):
    """A deterministic total order for paging an un-ORDERed Cypher
    result: typed (orderable) output columns sort natively — and first,
    so ties rarely reach the expensive ones — while complex columns
    (variant/array/struct) sort through a string rendering added as
    hidden ``__ks{i}`` columns.  Returns (df with those columns, the
    sort column names); the pager sorts each page on exactly them."""
    from pyspark.sql import functions as F, types as T

    native_types = (
        T.StringType, T.BooleanType, T.ByteType, T.ShortType, T.IntegerType,
        T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.DateType,
        T.TimestampType, T.TimestampNTZType,
    )
    native = [f.name for f in df.schema.fields if isinstance(f.dataType, native_types)]
    complex_ = [f.name for f in df.schema.fields if f.name not in native]
    sort_cols = list(native)
    for i, c in enumerate(complex_):
        df = df.withColumn(f"__ks{i}", F.col(c).cast("string"))
        sort_cols.append(f"__ks{i}")
    return df, sort_cols


def _keyset_ge(df: DataFrame, names: list[str], vals: list):
    """Lexicographic ``(names) >= (vals)`` over ``df``'s columns under
    Spark's default ascending-nulls-first order, as one comparison of
    two structs: Spark orders structs field by field, nulls first.  The
    values stay literals (they come from a client's token), cast as one
    struct to the key columns' types, so the predicate costs a fixed
    handful of Column calls plus one ``lit`` per key.  A leading
    ``c0 >= v0`` conjunct (implied by the rest) is a plain
    column-vs-literal bound that cached-batch and file min/max
    statistics can prune on."""
    from pyspark.sql import functions as F, types as T

    key_type = T.StructType(
        [T.StructField(c, df.schema[c].dataType, True) for c in names]
    )
    lits = [F.lit(v) for v in vals]
    pred = F.struct(*names) >= F.struct(*lits).cast(key_type)
    if vals[0] is None:  # every value is >= null under nulls-first
        return pred
    return (F.col(names[0]) >= lits[0]) & pred


def _token_encode_val(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, datetime.datetime):
        return {"__t": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"__d": v.isoformat()}
    if isinstance(v, Decimal):
        return {"__n": str(v)}
    return v


def _token_decode_val(v):
    import datetime
    from decimal import Decimal

    if isinstance(v, dict):
        if "__t" in v:
            return datetime.datetime.fromisoformat(v["__t"])
        if "__d" in v:
            return datetime.date.fromisoformat(v["__d"])
        if "__n" in v:
            return Decimal(v["__n"])
    return v


# Detection regexes lifted from the reference's generated patterns
# (``AgeDigitalTwinsClient.Query.cs:295-306`` VariableLengthEdgeRegex,
# ``Query.cs:245-255`` aggregate keyword scan).
_VAR_LEN_RE = re.compile(r"\[[^\]]*(?::\w*)?\*[\d.]*\]", re.IGNORECASE)
_AGG_RE = re.compile(r"COUNT|SUM|AVG|MIN|MAX|is_of_model", re.IGNORECASE)


def compute_query_charge(
    rows: list[dict], query: str, cartesian_products: int = 0
) -> float:
    """Reference arithmetic (``Query.cs:240-257``): page rows + total
    top-level properties, +10 for a variable-length edge query, +5 when
    the text contains an aggregate or ``IS_OF_MODEL``.  Beyond the
    reference: +10 per disconnected-pattern cartesian product (compiler-
    reported — text regexes cannot tell ``MATCH (a), (b)`` apart from
    comma-paths sharing a variable), pricing the blowup like the
    var-length surcharge prices traversal closures."""
    charge = float(len(rows))
    for row in rows:
        charge += len(row)
    if _VAR_LEN_RE.search(query):
        charge += 10
    if _AGG_RE.search(query):
        charge += 5
    charge += 10.0 * cartesian_products
    return charge


# Cache caps.  A plan is a small lazy object; a paged query's entry
# holds at most one block of ready pages and, from its second Spark
# page read in a snapshot, a persisted copy of the whole answer, so only
# the few queries a session is paging through at once keep one.  The
# cap counts entries, not bytes: a paged full scan keeps the whole scan
# (memory, spilling to disk).
_PLAN_CACHE_CAP = 64
_RESULT_CACHE_CAP = 8

# Rows one Spark page read collects: the page asked for and the pages
# after it, FETCH_ROWS // n of them (at least one), plus one look-ahead
# row.  A top-1001 costs what a top-101 costs; a Spark job costs more
# than shipping the extra rows.
FETCH_ROWS = 1000

# The row-position column an offset-paged (Cypher ORDER BY) entry adds
# to its persisted copy, so each block read is one top-N over it.
_ROW_COL = "__pgage_row"


@dataclass
class _PagedResult:
    """A paged query's state in one store snapshot."""

    store: GraphStore  # the snapshot it belongs to
    plan: DataFrame  # the compiled plan: row shape and charge
    # what a Spark page read reads: the plan with its paging columns,
    # or the persisted copy of that once built
    frame: DataFrame
    sort_cols: list[str]  # keyset columns; empty → offset paging
    hidden: frozenset  # paging columns stripped from served rows
    reads: int = 0  # Spark page reads so far
    persisted: bool = False
    # the last block read, cut into pages:
    # (incoming token or None, page size) -> (Rows, outgoing token)
    ready: dict = field(default_factory=dict)


def _point_query_id(tree: "A.Query | None") -> "tuple[str, str | None] | None":
    """``(dt_id, alias)`` when ``tree`` is an ADT point query by key —
    ``SELECT <a> FROM DIGITALTWINS <a> WHERE <a>.$dtId = '<id>'`` (alias
    ``a``) or ``SELECT * FROM DIGITALTWINS WHERE $dtId = '<id>'`` (alias
    None) — else None."""
    if tree is None or tree.source != "digitaltwins" or tree.top is not None:
        return None
    if tree.match is not None or tree.joins:
        return None
    a = tree.source_alias
    if a is None:
        if not isinstance(tree.select, A.Star):
            return None
    elif tree.select != [A.Projection(A.PropRef(None, [a]))]:
        return None
    w = tree.where
    if not (
        isinstance(w, A.Cmp)
        and w.op == "="
        and w.left == A.PropRef(None, ["$dtId"] if a is None else [a, "$dtId"])
        and isinstance(w.right, A.Lit)
        and w.right.kind == "string"
    ):
        return None
    return w.right.value, a


def _token(tok: dict) -> str:
    return base64.b64encode(json.dumps(tok).encode()).decode()


def _release(entries: list) -> None:
    """Unpersist the persisted copies of released entries."""
    for e in entries:
        if e.persisted:
            e.frame.unpersist()


def _cut_block(block: list, n: int, m: int, token: "str | None", next_token) -> dict:
    """Cut ``block``, read from the page ``token`` starts, into up to
    ``m`` pages of ``n`` rows: ``{(incoming token, n): (rows, outgoing
    token)}``.  ``next_token(i, rows)`` is page ``i``'s outgoing token,
    asked only when the block holds a row past that page."""
    pages = {}
    for i in range(m):
        rows = block[i * n:(i + 1) * n]
        out = next_token(i, rows) if len(block) > (i + 1) * n else None
        pages[(token, n)] = (rows, out)
        if out is None:
            break
        token = out
    return pages


def _keyset_block(frame, sort_cols, query, n, m, tok):
    """A keyset block read (one top-N) and the token rule that cuts
    it: a page's token names its last key and how many rows with
    that key it served, carried over a page of nothing else."""
    boundary = tok.get("_ks")
    skip = int(tok.get("_kd", 0))
    vals = None
    if boundary is not None:
        if len(boundary) != len(sort_cols):
            # a token from a build with other paging keys: zipping
            # would misalign the values and serve a wrong page
            raise ValueError(
                "continuation token does not match this query's paging "
                f"keys ({len(boundary)} values, {len(sort_cols)} keys); "
                "restart from the first page"
            )
        vals = [_token_decode_val(v) for v in boundary]
        frame = frame.filter(_keyset_ge(frame, sort_cols, vals))
    # the page order comes from here: neither the keyset plan nor
    # its persisted copy is sorted.  A top-N is one Spark job
    # whatever the partition layout.
    block = frame.orderBy(*sort_cols).offset(skip).limit(m * n + 1).collect()

    def next_token(i, rows):
        nonlocal vals, skip
        if not rows:
            return None
        last = [rows[-1][c] for c in sort_cols]
        dups = 0
        for r in reversed(rows):
            if [r[c] for c in sort_cols] == last:
                dups += 1
            else:
                break
        if vals is not None and last == vals and dups == len(rows):
            # the whole page was boundary duplicates — carry the skip
            dups += skip
        vals, skip = last, dups
        return _token(
            {"_ks": [_token_encode_val(v) for v in last], "_kd": dups, "_q": query}
        )

    return block, next_token


def _point_page(
    point: tuple[str, str | None] | None, query: str, n: int | None,
    store: GraphStore,
) -> QueryPage | None:
    """The answer of a point query by key (``point``, its
    ``_point_query_id``) from the twin index of ``store``, or None to
    run the compiled plan: another shape, a page size under 1, or no
    index to read (``GraphStore.twin_docs``)."""
    if point is None or (n is not None and n < 1):
        return None
    docs = store.twin_docs()
    if docs is None:
        return None
    dt_id, alias = point
    doc = docs.get(dt_id)
    rows = []
    if doc is not None:
        rows = [json.loads(doc) if alias is None else {alias: json.loads(doc)}]
    return QueryPage(rows, None, compute_query_charge(rows, query))


class DigitalTwinsSparkClient:
    def __init__(self, store: GraphStore, graph_name: str = "digitaltwins"):
        self.store = store
        self.changes = ChangeLog(graph_name)
        self.telemetry_events: list[dict[str, Any]] = []
        self._registry: ModelRegistry | None = None
        # Both caches are least-recently-used first and hold entries of
        # the current store only.
        # (query, order_for_paging) -> (store-at-compile-time, plan)
        self._plan_cache: OrderedDict[tuple, tuple] = OrderedDict()
        # query text -> its paged result
        self._result_cache: OrderedDict[str, _PagedResult] = OrderedDict()
        self._cache_lock = threading.Lock()
        # (root, version) of this client's last commit
        self._committed: tuple[str, int] | None = None

    # ------------------------------------------------------------------
    # query (read path, SURVEY §3.1)
    # ------------------------------------------------------------------
    def register_views(self, prefix: str = "") -> None:
        """Expose the graph as Spark SQL temp views (``twins``,
        ``relationships``, ``models``, ``model_edges``, optionally
        prefixed) so analysts can drop below the ADT QL / Cypher
        dialects and run raw ``spark.sql`` over the same snapshots —
        the escape hatch a Spark-native engine owes its users.  Views
        track the CURRENT store; re-register after mutations swap the
        snapshot (or call this from a post-mutation hook)."""
        s = self.store
        s.twins.createOrReplaceTempView(f"{prefix}twins")
        s.relationships.createOrReplaceTempView(f"{prefix}relationships")
        s.models.createOrReplaceTempView(f"{prefix}models")
        s.model_edges.createOrReplaceTempView(f"{prefix}model_edges")

    def query_df(self, query: str, order_for_paging: bool = False) -> DataFrame:
        """Compile a query to a DataFrame (lazy).

        Dialect detection mirrors the reference (``Query.cs:44-55``):
        contains SELECT and no RETURN → ADT QL; otherwise raw Cypher.

        Compiled plans are cached per (store snapshot, query text),
        so a query asked again — every page of a paged query — skips
        parse and compile.  DataFrames are immutable, so re-executing
        a cached plan is safe.  An entry pins the store object it
        compiled against and is valid only while that exact store is
        current, which also makes an ``id()``-reuse collision
        impossible.  Every store swap (each mutation, commit,
        checkpoint, job and ``DELETE``) drops the entries of the old
        store.  At most ``_PLAN_CACHE_CAP`` plans are kept; the least
        recently used one is evicted first.  The plan is lazy: this
        call runs no Spark job."""
        return self._plan(query, order_for_paging, self.store)

    def _cached_plan(
        self, query: str, order_for_paging: bool, store: GraphStore
    ) -> tuple | None:
        """The plan cache's entry of ``query`` compiled against
        ``store``: (store, plan, its ``_point_query_id``), or None."""
        key = (query, order_for_paging)
        with self._cache_lock:
            hit = self._plan_cache.get(key)
            if hit is not None and hit[0] is store:
                self._plan_cache.move_to_end(key)
                return hit
        return None

    def _plan(
        self, query: str, order_for_paging: bool, store: GraphStore,
        tree: A.Query | None = None,
    ) -> DataFrame:
        """``query_df`` against ``store``, the snapshot the caller read
        once for its whole request; ``tree`` is the ADT query's parse
        when the caller has it."""
        hit = self._cached_plan(query, order_for_paging, store)
        if hit is not None:
            return hit[1]
        point = None
        if self.detect_dialect(query) == "adt":
            tree = tree or parse(query)
            point = _point_query_id(tree)
            df = QueryCompiler(store).compile(tree, order_for_paging)
        else:
            from pg_age_digitaltwins_spark.cypher import compile_cypher

            df = compile_cypher(store, query)
        key = (query, order_for_paging)
        with self._cache_lock:
            if self.store is store:  # not swapped while compiling
                self._plan_cache[key] = (store, df, point)
                self._plan_cache.move_to_end(key)
                while len(self._plan_cache) > _PLAN_CACHE_CAP:
                    self._plan_cache.popitem(last=False)
        return df

    @staticmethod
    def detect_dialect(query: str) -> str:
        import re as _re

        has_select = _re.search(r"\bSELECT\b", query, _re.IGNORECASE)
        has_return = _re.search(r"\bRETURN\b", query, _re.IGNORECASE)
        return "adt" if (has_select and not has_return) else "cypher"

    def explain(self, query: str, mode: str = "formatted") -> str:
        """The query's physical plan as text — the diagnostics parity
        for the reference's EXPLAIN ANALYZE pass-through
        (``QueryTests.cs:1309`` ExplainAnalyze_IsOfModel): where the
        reference surfaces the Postgres plan, this surfaces the Spark
        plan (scan pushdown / partition pruning / join strategies) for
        either dialect.  ``mode``: formatted | simple | extended |
        codegen | cost."""
        df = self.query_df(query)
        return df._jdf.queryExecution().explainString(
            self.store.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def query(
        self,
        query: str,
        max_items_per_page: int | None = None,
        continuation_token: str | None = None,
    ) -> QueryPage:
        """Run a query; with ``max_items_per_page``, return one page and
        a continuation token for the next.

        Tokens embed the query like the reference
        (``Models/ContinuationToken.cs:9-16``) but are KEYSET tokens
        wherever the engine controls the page order: base64
        ``{"_ks": [last sort-key values], "_kd": <boundary-dup skip>,
        "_q": <query>}`` — the next page filters ``sort_key >= _ks``
        and skips ``_kd`` boundary duplicates.  The ADT path keysets on
        the compiler's hidden ``__pk*`` primary-key columns; un-ORDERed
        Cypher keysets on a deterministic order over the output columns
        (typed columns natively, complex columns via a string rendering
        — only those get cast).  Only explicit Cypher ORDER BY falls
        back to offset tokens (``{"_tr": <row offset>}``): its sort keys
        are arbitrary expressions that need not appear in the
        projection.

        Paged queries keep one entry per (store snapshot, query text):

        * A page read that runs on Spark reads a BLOCK in one job: the
          page asked for and the ``FETCH_ROWS // n`` pages after it (at
          least one page), plus one look-ahead row — one top-N for
          keyset pages, one offset/limit for offset pages.  The block
          is cut into pages exactly as page-by-page reads would cut
          it: the same rows, tokens and charges.  The first is served;
          all of them are kept on the entry as READY pages, keyed by
          (incoming token or none, page size).
        * A request whose key has a ready page returns it with no Spark
          job and no compile; rows are shaped when served.  A token
          replayed with another page size misses and reads its own
          block.
        * An entry keeps one block, at most ``max(FETCH_ROWS, n) + 1``
          rows; a newer block replaces the older one.  A query whose
          first read finds a one-page answer (a point query) keeps no
          entry.
        * The second Spark read of a query in one snapshot persists its
          answer with its paging keys (that read fills the copy); every
          later block read is one Spark job over the copy, with no
          re-run of the query's joins or broadcast builds.  A walk
          shorter than two blocks, an unpaged query and a point query
          persist nothing.
        * Entries, with their ready pages and persisted copies, are
          released when the store is swapped — every mutation, commit,
          checkpoint, job and ``DELETE`` — and, least recently used
          first, when more than ``_RESULT_CACHE_CAP`` queries hold one.
          Pages therefore read the current snapshot, as keyset tokens
          always did: a page after a write runs against the new store.
          A page read racing a release recomputes its rows from the
          lineage the persisted frame keeps.

        An ADT point query by key — ``SELECT <a> FROM DIGITALTWINS <a>
        WHERE <a>.$dtId = '<id>'`` or ``SELECT * FROM DIGITALTWINS WHERE
        $dtId = '<id>'`` — is answered from the snapshot's twin index
        (``GraphStore.twin_docs``) with no compile and no Spark job:
        the rows, token (none) and charge of the compiled path.  The
        shape is checked on the parse of a plan-cache miss and kept
        with the plan, so a hit pays no parse; with no index to read
        (the snapshot's first read by key, or over its bound) the
        query runs its compiled plan."""
        tok: dict[str, Any] = {}
        if continuation_token:
            tok = json.loads(base64.b64decode(continuation_token))
            query = tok["_q"]
        # one read of the current store serves the whole request, so
        # the plan and the paged entry it feeds are of one snapshot
        store = self.store
        tree = None
        if not continuation_token:
            hit = self._cached_plan(query, max_items_per_page is not None, store)
            if hit is not None:
                point = hit[2]
            elif self.detect_dialect(query) == "adt":
                tree = parse(query)
                point = _point_query_id(tree)
            else:
                point = None
            page = _point_page(point, query, max_items_per_page, store)
            if page is not None:
                return page
        if max_items_per_page is None:
            df = self._plan(query, False, store, tree)
            rows = _shape_rows(
                [_jsonable(r.asDict(recursive=True)) for r in df.collect()], df
            )
            return QueryPage(
                rows,
                None,
                compute_query_charge(rows, query, getattr(df, "_pgage_cartesians", 0)),
            )

        key = (continuation_token or None, max_items_per_page)
        entry = self._paged_entry(query, store, tree)
        with self._cache_lock:
            page = entry.ready.get(key)
        if page is None:
            page = self._read_block(entry, query, key, tok)
        rows = _shape_rows(
            [
                _jsonable(
                    {k: v for k, v in r.asDict(recursive=True).items() if k not in entry.hidden}
                )
                for r in page[0]
            ],
            entry.plan,
        )
        cartesians = getattr(entry.plan, "_pgage_cartesians", 0)
        return QueryPage(rows, page[1], compute_query_charge(rows, query, cartesians))

    def _paged_entry(
        self, query: str, store: GraphStore, tree: A.Query | None = None
    ) -> _PagedResult:
        """The cached entry of ``query`` in ``store``, or a new one
        (compiling the plan) that ``_read_block`` decides to keep."""
        with self._cache_lock:
            hit = self._result_cache.get(query)
            if hit is not None and hit.store is store:
                self._result_cache.move_to_end(query)
                return hit
        plan = self._plan(query, True, store, tree)
        if self.detect_dialect(query) == "adt":
            frame, sort_cols = plan, [c for c in plan.columns if c.startswith("__pk")]
        elif re.search(r"\bORDER\s+BY\b", query, re.IGNORECASE):
            frame, sort_cols = plan, []
        else:
            frame, sort_cols = _cypher_paging_order(plan)
        hidden = frozenset(
            [c for c in frame.columns if c.startswith(("__pk", "__ks"))]
            if sort_cols
            else [_ROW_COL]
        )
        return _PagedResult(store, plan, frame, sort_cols, hidden)

    def _read_block(
        self, entry: _PagedResult, query: str, key: tuple, tok: dict[str, Any]
    ) -> tuple[list, str | None]:
        """Read the block that starts at the page ``key`` names in one
        Spark job, keep it as the entry's ready pages and return the
        page asked for: (Rows, outgoing token)."""
        from pyspark.sql import functions as F

        token, n = key
        m = max(1, FETCH_ROWS // n) if n > 0 else 1
        with self._cache_lock:
            entry.reads += 1
            # persist on the second read, and only an entry still cached
            # (an evicted or swapped-out one would never be released)
            if entry.reads == 2 and self._result_cache.get(query) is entry:
                frame = entry.frame
                if not entry.sort_cols:
                    frame = frame.withColumn(_ROW_COL, F.monotonically_increasing_id())
                # persist, not localCheckpoint: the frame keeps its
                # lineage, so a read that races the release recomputes
                # instead of failing.  This read fills it.
                entry.frame, entry.persisted = frame.persist(), True
            frame, persisted = entry.frame, entry.persisted
        if entry.sort_cols:
            block, next_token = _keyset_block(frame, entry.sort_cols, query, n, m, tok)
        else:
            offset = int(tok.get("_tr", 0))
            if persisted:
                # the copy keeps the sorted order in its row positions: a
                # top-N over them is one job at any depth, where a limit
                # over the copy scans partitions incrementally
                frame = frame.orderBy(_ROW_COL)
            block = frame.offset(offset).limit(m * n + 1).collect()

            def next_token(i, rows):
                return _token({"_tr": offset + (i + 1) * n, "_q": query})

        pages = _cut_block(block, n, m, token, next_token)
        released = []
        with self._cache_lock:
            entry.ready = pages  # one block per entry: replaces the last
            # a new entry is kept when its answer has another page (a
            # one-page answer, such as a point query, would only evict
            # the entries of queries being paged), and only while its
            # store is current
            new = self._result_cache.get(query) is not entry
            if new and pages[key][1] is not None and self.store is entry.store:
                old = self._result_cache.pop(query, None)
                released = [] if old is None else [old]
                self._result_cache[query] = entry
                while len(self._result_cache) > _RESULT_CACHE_CAP:
                    released.append(self._result_cache.popitem(last=False)[1])
        _release(released)
        return pages[key]

    def query_charge(self, page: QueryPage) -> float:
        """Per-page charge, reference arithmetic incl. the +10
        var-length and +5 aggregate surcharges (``Query.cs:240-257``) —
        computed at query time, carried on the page."""
        return page.charge

    # ------------------------------------------------------------------
    # model registry
    # ------------------------------------------------------------------
    @property
    def registry(self) -> ModelRegistry:
        if self._registry is None:
            docs = [json.loads(r[0]) for r in self.store.models.select("model").collect()]
            self._registry = ModelRegistry(docs)
        return self._registry

    def _swap(self, store: GraphStore, logged: bool = True) -> None:
        """Make ``store`` current; drop the cached plans and release the
        paged results of every other store.  ``logged=False`` marks a
        change the buffered change log does not describe (jobs, a reset
        of the graph): the next ``commit`` then writes a full snapshot,
        as a copy-on-write commit rewrites only what the events name."""
        with self._cache_lock:
            self.store = store
            if not logged:
                self.changes.complete = False
            self._plan_cache = OrderedDict(
                (k, v) for k, v in self._plan_cache.items() if v[0] is store
            )
            released = [e for e in self._result_cache.values() if e.store is not store]
            self._result_cache = OrderedDict(
                (k, e) for k, e in self._result_cache.items() if e.store is store
            )
        _release(released)

    def checkpoint(self, path: str | None = None, compact: bool = False) -> None:
        """Storage maintenance (SURVEY §7 hard-#5: update-heavy OLTP on
        immutable snapshots).  Every point mutation swaps in a plan
        built on the previous one, so after N mutations each query
        replays an N-deep anti-join/union chain.  With ``path``, rewrite
        the store in the partitioned parquet layout and reload — the
        Delta ``OPTIMIZE``/compaction equivalent, restoring partition
        pruning and statistics; without, cut the lineage in place with
        ``localCheckpoint`` (executor-memory materialization).  Run it
        every few hundred mutations or after bulk imports.  With
        ``compact=True`` the rewrite additionally range-clusters rows on
        the lookup keys and collapses small files
        (``GraphStore.save_compacted`` — the OPTIMIZE-with-clustering
        form)."""
        if compact and path is None:
            raise ValueError(
                "checkpoint(compact=True) requires a path: the clustered "
                "rewrite is a storage operation, not an in-memory cut"
            )
        if path is not None:
            if compact:
                self.store.save_compacted(path)
            else:
                self.store.save(path)
            self._swap(GraphStore.load(self.store.spark, path))
            return
        s = self.store
        self._swap(
            crud._replace(
                s,
                twins=s.twins.localCheckpoint(eager=True),
                relationships=s.relationships.localCheckpoint(eager=True),
                models=s.models.localCheckpoint(eager=True),
                model_edges=s.model_edges.localCheckpoint(eager=True),
            )
        )

    def commit(self, root: str) -> int:
        """Durably commit the current snapshot plus the buffered change
        log to a versioned table root (``store/commit_log.py``): one
        atomic manifest, one compacted change batch, then reload from
        the committed parquet so subsequent queries scan the pruned
        layout instead of the mutation plan chain.  Raises
        ``CommitConflict`` (buffered events retained) if another writer
        committed first — reload, rebase, retry."""
        from pg_age_digitaltwins_spark.store.commit_log import (
            CommitLog,
            changed_partitions_from_events,
            commit_cow,
            commit_snapshot,
            load_latest,
        )

        snap = self.store
        events = list(self.changes.events)
        complete = self.changes.complete
        base = CommitLog(root).latest_version()
        # Copy-on-write when the buffered events fully describe what
        # changed since the base version: rewrite O(touched partitions)
        # instead of the whole table set.  An empty buffer, a drain or a
        # swap the buffer does not describe means the mutations were
        # captured out-of-band (feed mode, the change pipeline, jobs, a
        # graph reset), so only the full snapshot is provably consistent.
        cow = bool(events) and complete and base > 0
        if cow:
            version = commit_cow(
                snap,
                root,
                changed=changed_partitions_from_events(events),
                events=events,
            )
        else:
            version = commit_snapshot(snap, root, events=events or None)
        # Only drop the buffered events once the commit is durable.
        self.changes.committed()
        store, loaded = load_latest(snap.spark, root)
        store._key_reads = snap._key_reads
        # The reload holds exactly the committed snapshot's twins after
        # a full snapshot, or after a copy-on-write commit on the
        # version this client itself committed last; then it gets the
        # same index.
        same = not cow or self._committed == (root, base)
        idx = snap.built_twin_index()
        if loaded == version and same and idx is not None:
            store._twin_index = dataclasses.replace(idx, twins=store.twins)
        self._committed = (root, version)
        self._swap(store)
        return version

    # ------------------------------------------------------------------
    # twins (D1-D5)
    # ------------------------------------------------------------------
    def get_digital_twin(self, dt_id: str) -> dict[str, Any]:
        return crud.get_twin(self.store, dt_id)

    def create_or_replace_digital_twin(
        self, dt_id: str, doc: dict[str, Any], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.create_or_replace_twin(
            self.store, self.registry, dt_id, doc, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            "Twin", dt_id, old, new, "Update" if old is not None else "Insert", ts
        )
        return new

    def update_digital_twin(
        self, dt_id: str, patch: list[dict[str, Any]], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.update_twin(
            self.store, self.registry, dt_id, patch, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append("Twin", dt_id, old, new, "Update", ts)
        return new

    def delete_digital_twin(self, dt_id: str, **kw) -> None:
        store, old = crud.delete_twin(self.store, dt_id, **kw)
        self._swap(store)
        self.changes.begin()
        self.changes.append("Twin", dt_id, old, None, "Delete", crud.now_iso())

    def create_or_replace_digital_twins(
        self, docs: list[dict[str, Any]], **kw
    ) -> list[dict[str, Any]]:
        """D5: batch ≤100, per-item results, one vectorized MERGE."""
        ts = kw.setdefault("ts", crud.now_iso())
        store, results, changes = crud.create_twins_batch(
            self.store, self.registry, docs, **kw
        )
        self._swap(store)
        self.changes.begin()
        for dt_id, old, new in changes:
            self.changes.append(
                "Twin", dt_id, old, new, "Update" if old is not None else "Insert", ts
            )
        return results

    # ------------------------------------------------------------------
    # components (D9)
    # ------------------------------------------------------------------
    def get_component(self, dt_id: str, component: str) -> dict[str, Any]:
        return crud.get_component(self.store, dt_id, component)

    def update_component(
        self, dt_id: str, component: str, patch: list[dict[str, Any]], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.update_component(
            self.store, self.registry, dt_id, component, patch, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append("Twin", dt_id, old, new, "Update", ts)
        return new

    # ------------------------------------------------------------------
    # relationships (D6-D8)
    # ------------------------------------------------------------------
    def get_relationship(self, dt_id: str, rel_id: str) -> dict[str, Any]:
        return crud.get_relationship(self.store, dt_id, rel_id)

    def list_relationships(self, dt_id: str, relationship_name: str | None = None):
        return crud.list_relationships(self.store, dt_id, relationship_name)

    def list_incoming_relationships(self, dt_id: str):
        return crud.list_incoming_relationships(self.store, dt_id)

    def create_or_replace_relationship(
        self, dt_id: str, rel_id: str, doc: dict[str, Any], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        kw.setdefault("registry", self.registry)
        store, new, old = crud.create_or_replace_relationship(
            self.store, dt_id, rel_id, doc, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            new["$relationshipName"],
            rel_id,
            old,
            new,
            "Update" if old is not None else "Insert",
            ts,
        )
        return new

    def update_relationship(
        self, dt_id: str, rel_id: str, patch: list[dict[str, Any]], **kw
    ) -> dict[str, Any]:
        ts = kw.setdefault("ts", crud.now_iso())
        store, new, old = crud.update_relationship(
            self.store, dt_id, rel_id, patch, **kw
        )
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            new["$relationshipName"], rel_id, old, new, "Update", ts
        )
        return new

    def delete_relationship(self, dt_id: str, rel_id: str, **kw) -> None:
        store, old = crud.delete_relationship(self.store, dt_id, rel_id, **kw)
        self._swap(store)
        self.changes.begin()
        self.changes.append(
            old["$relationshipName"], rel_id, old, None, "Delete", crud.now_iso()
        )

    def create_or_replace_relationships(self, docs: list[dict[str, Any]], **kw):
        ts = kw.setdefault("ts", crud.now_iso())
        store, results, changes = crud.create_relationships_batch(self.store, docs, **kw)
        self._swap(store)
        self.changes.begin()
        for rel_id, old, new in changes:
            self.changes.append(
                new["$relationshipName"],
                rel_id,
                old,
                new,
                "Update" if old is not None else "Insert",
                ts,
            )
        return results

    # ------------------------------------------------------------------
    # models (D10) — delegated to the store + registry invalidation
    # ------------------------------------------------------------------
    def create_models(self, model_docs: list[dict[str, Any]], ts: str | None = None):
        from pg_age_digitaltwins_spark import models as model_ops

        store, created = model_ops.create_models(self.store, model_docs)
        self._swap(store)
        self._registry = None
        ts = ts or crud.now_iso()
        self.changes.begin()
        for doc in created:
            self.changes.append("Model", doc["@id"], None, doc, "Insert", ts)
        return created

    def get_model(
        self, model_id: str, include_base_model_contents: bool = False
    ) -> dict[str, Any]:
        from pg_age_digitaltwins_spark import models as model_ops

        return model_ops.get_model(
            self.store, model_id,
            include_base_model_contents=include_base_model_contents,
        )

    def list_models(self, dependencies_for: list[str] | None = None):
        from pg_age_digitaltwins_spark import models as model_ops

        return model_ops.list_models(self.store, dependencies_for)

    def decommission_model(self, model_id: str) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        self._swap(model_ops.decommission_model(self.store, model_id))
        self._registry = None

    def delete_model(self, model_id: str) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        store, old = model_ops.delete_model(self.store, model_id)
        self._swap(store)
        self._registry = None
        self.changes.begin()
        self.changes.append("Model", model_id, old, None, "Delete", crud.now_iso())

    def delete_all_models(self) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        self._swap(model_ops.delete_all_models(self.store))
        self._registry = None

    def update_model_embedding(self, model_id: str, embedding: list[float]) -> None:
        from pg_age_digitaltwins_spark import models as model_ops

        self._swap(model_ops.update_model_embedding(self.store, model_id, embedding))

    def search_models(self, embedding=None, text=None, limit: int = 10):
        """D18: hybrid vector + lexical model search
        (``Models.cs:864-942``)."""
        from pg_age_digitaltwins_spark import models as model_ops

        return model_ops.search_models(
            self.store, embedding=embedding, text=text, limit=limit
        )

    # ------------------------------------------------------------------
    # telemetry (D11): fire-and-forget, never stored — queued for the
    # event pipeline exactly like pg_notify (``Telemetry.cs:93-197``)
    # ------------------------------------------------------------------
    def publish_telemetry(
        self,
        dt_id: str,
        payload: dict[str, Any],
        message_id: str | None = None,
        component_name: str | None = None,
        ts: str | None = None,
    ) -> dict[str, Any]:
        doc = crud.get_twin(self.store, dt_id)  # twin must exist
        event = {
            "digitalTwinId": dt_id,
            "messageId": message_id or str(uuid.uuid4()),
            "timestamp": ts or crud.now_iso(),
            "telemetry": payload,
            "modelId": (doc.get("$metadata") or {}).get("$model"),
        }
        if component_name is not None:
            event["componentName"] = component_name
        self.telemetry_events.append(event)
        return event
