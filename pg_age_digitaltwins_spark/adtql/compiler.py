"""ADT QL AST → Spark DataFrame plans.

Where the reference emits a Cypher string for AGE's executor
(``AdtQueryHelpers.cs``), we build a *declarative DataFrame plan* and let
Catalyst do predicate pushdown / column pruning / join selection:

* ``FROM DIGITALTWINS``            → scan of the twins table
* ``FROM RELATIONSHIPS``           → scan of the relationships table
* ``MATCH (a)-[r:X]->(b)``         → equi-joins rel.source_id = a.dt_id,
                                     rel.target_id = b.dt_id (+ name
                                     filter, pushed into the scan → with
                                     name-partitioned storage this is
                                     partition pruning)
* ``JOIN B RELATED A.rel``         → the same join shape (Q8)
* ``IS_OF_MODEL(m)``               → model_id IN <closure literal list>
                                     (broadcast-free: compile-time
                                     expansion of the precomputed
                                     closure, SURVEY.md §4)
* ``!=``                           → ``NOT (a = b)`` with three-valued
                                     NULL semantics (AGE parity: rows
                                     with missing operands drop out)

Dynamic-typed property access rides on the VARIANT helpers in
``functions/json_props.py`` — strictly typed, like agtype.

Determinism: ADT QL has no ORDER BY; the reference leans on Postgres
scan order for TOP/pagination.  Spark guarantees nothing, so TOP(n) and
paged queries sort by each bound alias's primary key (documented
divergence; SURVEY.md §4 'Pagination rewrite').
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from pg_age_digitaltwins_spark.adtql import ast as A
from pg_age_digitaltwins_spark.adtql.parser import parse
from pg_age_digitaltwins_spark.functions import json_props as J
from pg_age_digitaltwins_spark.store.graph_store import GraphStore

TWIN_PROMOTED = {
    ("$dtId",): "dt_id",
    ("$etag",): "etag",
    ("$metadata", "$model"): "model_id",
}
REL_PROMOTED = {
    ("$relationshipId",): "relationship_id",
    ("$sourceId",): "source_id",
    ("$targetId",): "target_id",
    ("$relationshipName",): "name",
    ("$etag",): "etag",
}


class CompileError(ValueError):
    pass


def _pin(c: Column) -> Column:
    """Pin an expensive expression to its projection.

    ``shuffle(array(c))[0]`` is semantically just ``c`` (one-element
    array), but the nondeterministic ``shuffle`` stops the optimizer
    from (a) pushing filters through the projection — which substitutes
    the expression into the predicate and re-evaluates the whole variant
    navigation per reference — and (b) collapsing it into downstream
    projections.  (``when(rand() >= -1, c)`` does NOT survive: Spark 4
    range-folds the rand comparison.)  Measured on the sf0.1
    relationship-property filter: 187 s unpinned vs ~2 s pinned."""
    return F.shuffle(F.array(c))[0]


def _pred_aliases(e: A.Expr, aliases: set[str]) -> set[str]:
    """Alias names a predicate references; ``'?'`` marks an unqualified
    property (resolvable only in single-alias queries)."""
    out: set[str] = set()
    if isinstance(e, A.PropRef):
        out.add(e.path[0] if e.path and e.path[0] in aliases else "?")
    elif isinstance(e, (A.And, A.Or)):
        for item in e.items:
            out |= _pred_aliases(item, aliases)
    elif isinstance(e, A.Not):
        out |= _pred_aliases(e.item, aliases)
    elif isinstance(e, A.Cmp):
        out |= _pred_aliases(e.left, aliases) | _pred_aliases(e.right, aliases)
    elif isinstance(e, A.InList):
        out |= _pred_aliases(e.operand, aliases)
    elif isinstance(e, A.FuncCall):
        if e.name == "IS_OF_MODEL":
            for a in e.args:
                if isinstance(a, A.PropRef) and len(a.path) == 1:
                    if a.path[0] in aliases:
                        out.add(a.path[0])
                    elif a.path[0].lower() != "exact":
                        out.add("?")
            if not out:
                out.add("?")  # implicit twin — bind only in single-alias queries
        else:
            for a in e.args:
                out |= _pred_aliases(a, aliases)
    return out


def _conjuncts(e: A.Expr) -> list[A.Expr]:
    """Flatten top-level ANDs so each conjunct can be placed at the
    right depth relative to the shared-variant projection."""
    if isinstance(e, A.And):
        out: list[A.Expr] = []
        for item in e.items:
            out.extend(_conjuncts(item))
        return out
    return [e]


def _lit_kind(e: A.Expr) -> str | None:
    """Literal type kind driving typed extraction on the other side."""
    if isinstance(e, A.Lit):
        return e.kind
    return None


@dataclass
class Bound:
    name: str  # referenceable alias ('' for anonymous)
    kind: str  # 'twin' | 'rel'
    df_alias: str
    # Join-eliminated pass-through twin: no twin scan was joined — the
    # binding rides the adjacent relationship frame and ``key_col``
    # (source_id/target_id) IS its $dtId (dt_id is a key and the store
    # enforces referential integrity, so the twin join is 1:1 and
    # droppable when nothing reads the twin's document).
    key_col: str = "dt_id"
    virtual: bool = False


@dataclass
class Prop:
    """A resolved property reference, not yet typed."""
    bound: Bound
    path: list[str]
    promoted: str | None  # promoted plain column name, if any
    compiler: "QueryCompiler"

    def col(self, name: str) -> Column:
        return F.col(f"{self.bound.df_alias}.{name}")

    @property
    def vdoc(self) -> Column:
        return self.col("vdoc")

    @property
    def v(self) -> Column:
        """``vget(vdoc, path)`` — materialized shared helper column, or
        the inline expression in scan-predicate mode (single use,
        evaluated at the pattern leg's scan before any join)."""
        if self.compiler._inline:
            return J.vget(self.vdoc, self.path)
        return self.compiler._shared_v(self)

    @property
    def s(self) -> Column:
        """``schema_of_variant(v)`` — shared helper or inline (see v)."""
        if self.compiler._inline:
            return F.schema_of_variant(J.vget(self.vdoc, self.path))
        return self.compiler._shared_s(self)

    def typed(self, kind: str) -> Column:
        """Column for a comparison against a literal of ``kind``."""
        if self.promoted:
            c = self.col(self.promoted)
            if kind == "number":
                return c.cast("double")
            if kind == "bool":
                return c.cast("boolean")
            return c
        if kind == "number":
            return J.num_of(self.v, self.s)
        if kind == "bool":
            return J.bool_of(self.v, self.s)
        return J.str_of(self.v, self.s)

    def loose(self) -> Column:
        if self.promoted:
            return self.col(self.promoted)
        return J.loose_str_of(self.v)


class QueryCompiler:
    def __init__(self, store: GraphStore):
        self.store = store
        self._twins = store.twins_v()
        self._twins_adaptive = store.twins_adaptive_v()
        self._rels = store.relationships_v()
        self._rels_in = store.relationships_in_v()
        self._anon = 0
        # (df_alias, path, level) -> injected helper column name; variant
        # navigation and schema introspection are NOT shared by Spark's
        # subexpression elimination (CodegenFallback), so we project each
        # vget / schema_of_variant exactly once per (alias, path) and
        # reference the materialized column everywhere.  Measured on
        # sf0.1: inline NUMBER(prop) projection 110 s vs 10 s shared.
        self._shared: dict[tuple[str, tuple[str, ...], str], str] = {}
        self._pending_v: list[tuple[str, Column]] = []
        self._pending_s: list[tuple[str, Column]] = []
        self._barrier = 0
        # Single-alias WHERE conjuncts pushed into that alias's scan
        # (populated by _split_where, drained by _scan).
        self._scan_preds: dict[str, list[A.Expr]] = {}
        # Inline mode: scan-level predicates compile variant access
        # inline (one use, pre-join) instead of via shared helpers.
        self._inline = False
        # "alias.column" -> an earlier column a pattern join equates it
        # to (``_add_hop``); the paging order skips such redundant keys.
        self._same: dict[str, str] = {}

    # ------------------------------------------------------------------
    # shared variant helper columns
    # ------------------------------------------------------------------
    def _shared_v(self, prop: Prop) -> Column:
        key = (prop.bound.df_alias, tuple(prop.path), "v")
        name = self._shared.get(key)
        if name is None:
            name = f"__v{len(self._shared)}"
            self._shared[key] = name
            self._pending_v.append((name, _pin(J.vget(prop.vdoc, prop.path))))
        return F.col(name)

    def _shared_s(self, prop: Prop) -> Column:
        key = (prop.bound.df_alias, tuple(prop.path), "s")
        name = self._shared.get(key)
        if name is None:
            name = f"__s{len(self._shared)}"
            self._shared[key] = name
            self._pending_s.append(
                (name, _pin(F.schema_of_variant(self._shared_v(prop))))
            )
        return F.col(name)

    def _inject(self, df: DataFrame) -> DataFrame:
        """Project any newly-registered helper columns (v first — the
        schema helpers reference them by name).

        Each helper projection carries a ``rand()`` guard column: Spark
        only pushes a Filter through / collapses a Project whose fields
        are ALL deterministic, so the guard pins the helpers in place.
        Without it, predicate pushdown substitutes the helper expression
        into the filter and the variant navigation is re-evaluated once
        per reference — measured 187 s vs ~2 s on the sf0.1
        relationship-property filter.  Promoted-column conjuncts are
        filtered BEFORE injection (see ``compile``), so partition
        pruning and parquet pushdown still happen."""
        for pending in (self._pending_v, self._pending_s):
            if pending:
                df = df.select("*", *[c.alias(n) for n, c in pending])
                pending.clear()
        return df

    # ------------------------------------------------------------------
    def compile(self, query: A.Query, order_for_paging: bool = False) -> DataFrame:
        # Predicate placement, most selective first:
        #   1. conjuncts that reference exactly ONE alias → filtered at
        #      that alias's scan, BEFORE any join (graph patterns shrink
        #      at the leg: `Rg.name = 'ASIA'` prunes region twins before
        #      the 3-hop join tree, not after) — all pattern joins are
        #      inner, so this commutes;
        #   2. multi-alias promoted-column conjuncts → plain filters
        #      (Catalyst pushes them through the joins itself);
        #   3. multi-alias variant conjuncts → above the pinned shared
        #      helper projection.
        top_conjs = self._split_where(query)
        self._eliminable = self._eliminable_aliases(query)
        env, df = self._bind_sources(query)
        for conj in top_conjs:
            mark = (len(self._pending_v), len(self._pending_s), len(self._shared))
            pred = self._expr(conj, env, as_predicate=True)
            if (len(self._pending_v), len(self._pending_s), len(self._shared)) == mark:
                df = df.filter(pred)
            else:
                df = self._inject(df).filter(pred)
        if isinstance(query.select, A.CountAll):
            return df.agg(F.count(F.lit(1)).alias("count"))
        need_order = query.top is not None or order_for_paging
        keys: list[Column] = []
        if need_order:
            # ADT guarantees $relationshipId uniqueness only per source
            # twin, so a relationship binding keysets on the composite
            # (source_id, relationship_id) — a true primary key; sorting
            # on relationship_id alone would make tied rows
            # interchangeable and let the boundary-dup skip drop or
            # double-serve rows across pages.  A key a join equates to
            # an earlier key (a hop's near endpoint = the previous
            # twin's key) adds no order and is skipped.
            seen: set[str] = set()
            for b in env.values():
                # a virtual (join-eliminated) binding's key_col is the
                # adjacent edge's endpoint — same VALUES as the twin's
                # dt_id, so the page order is unchanged
                names = (
                    [f"{b.df_alias}.{b.key_col}"]
                    if b.kind == "twin"
                    else [f"{b.df_alias}.source_id", f"{b.df_alias}.relationship_id"]
                )
                for name in names:
                    same = self._same.get(name, name)
                    if same not in seen:
                        seen.add(same)
                        keys.append(F.col(name))
            # a paging client sorts each page itself (a top-N over the
            # __pk columns); only TOP needs the order inside the plan
            if query.top is not None:
                df = df.orderBy(*keys)
        # Paging exposes the sort keys as hidden ``__pk{i}`` columns so
        # the client can issue KEYSET continuations (filter > last-key
        # instead of re-executing an O(offset) slice); the client strips
        # them from returned rows.
        pk_cols = (
            [k.alias(f"__pk{i}") for i, k in enumerate(keys)]
            if order_for_paging
            else []
        )
        proj_cols = (
            None
            if isinstance(query.select, A.Star)
            else [self._projection_col(p, env) for p in query.select]
        )
        df = self._inject(df)
        df = (
            self._project_star(df, env, extra=pk_cols)
            if proj_cols is None
            else df.select(*proj_cols, *pk_cols)
        )
        if query.top is not None:
            df = df.limit(query.top)
        # Whole-entity columns carry the document as a JSON string in
        # the DataFrame (stable for SQL/oracle consumers); the CLIENT
        # page layer re-shapes them to parsed objects — and flattens a
        # single-alias ``SELECT *`` to the bare document — matching the
        # reference's rows (``SELECT * FROM DIGITALTWINS`` returns twin
        # documents with ``$dtId`` at the root, Query.cs /
        # QueryTests.cs:539-656).
        doc_cols: list[str] = []
        if isinstance(query.select, A.Star):
            doc_cols = [b.name for b in env.values() if b.name and not b.virtual]
        elif not isinstance(query.select, A.CountAll):
            for p in query.select:
                e = p.expr
                if (
                    isinstance(e, A.PropRef)
                    and len(e.path) == 1
                    and e.path[0] in env
                ):
                    doc_cols.append(p.alias or env[e.path[0]].name)
        if doc_cols:
            df._pgage_doc_cols = doc_cols
            df._pgage_flatten = (
                isinstance(query.select, A.Star) and len(doc_cols) == 1
            )
        return df

    # ------------------------------------------------------------------
    # predicate placement
    # ------------------------------------------------------------------
    def _split_where(self, query: A.Query) -> list[A.Expr]:
        """Partition WHERE conjuncts into per-alias scan predicates
        (returned via ``self._scan_preds``) and top-level conjuncts."""
        self._scan_preds = {}
        if query.where is None:
            return []
        aliases: set[str] = set()
        if query.source == "relationships":
            default = query.source_alias or "R"
            aliases.add(default)
        else:
            default = (query.source_alias or "T") if query.match is None else None
            if default:
                aliases.add(default)
        if query.match is not None:
            for n in query.match.nodes:
                if n.alias:
                    aliases.add(n.alias)
            for e in query.match.edges:
                if e.alias:
                    aliases.add(e.alias)
        for j in query.joins:
            aliases.add(j.target_alias)
            if j.rel_alias:
                aliases.add(j.rel_alias)
        single = default if (query.match is None and not query.joins) else None
        top: list[A.Expr] = []
        for conj in _conjuncts(query.where):
            names = _pred_aliases(conj, aliases)
            if names == {"?"} and single:
                names = {single}
            if len(names) == 1 and "?" not in names:
                self._scan_preds.setdefault(next(iter(names)), []).append(conj)
            else:
                top.append(conj)
        return top

    def _scan(self, frame: DataFrame, b: Bound) -> DataFrame:
        """Alias a base frame and apply its pushed-down predicates
        (inline variant access — evaluated once, pre-join)."""
        df = frame.alias(b.df_alias)
        preds = self._scan_preds.pop(b.name, None) if b.name else None
        if preds:
            env1 = {b.name: b}
            self._inline = True
            try:
                for p in preds:
                    df = df.filter(self._expr(p, env1, as_predicate=True))
            finally:
                self._inline = False
        return df

    # ------------------------------------------------------------------
    # graph-aware join elimination (Spark-first optimization)
    # ------------------------------------------------------------------
    def _eliminable_aliases(self, query: A.Query) -> set[str] | None:
        """Twin aliases whose node scan can be DROPPED from the plan.

        A pattern hop compiles to ``rel.near = left.dt_id`` plus a join
        to the target twin.  When the target twin's DOCUMENT is never
        read — the alias is anonymous, or referenced only as ``X.$dtId``
        / as a later hop's anchor — the twin join is pure existence
        checking.  ``dt_id`` is a key and the CRUD surface enforces
        referential integrity (delete guards, import endpoint
        validation), so that join is 1:1 and droppable: the next hop
        chains directly on the edge's far column.  This is the
        FK-join-elimination a relational optimizer does from key +
        foreign-key constraints — Catalyst has no constraint framework,
        so the graph compiler (which owns the invariants) does it.  At
        scale it removes a fact-sized join (and its sort/shuffle) per
        pass-through hop.

        Returns the set of eliminable NAMED aliases, or ``None`` when
        nothing named may be eliminated (``SELECT *`` / unqualified
        property present — everything is potentially read).  Anonymous
        hop targets are always eliminable."""
        hard: set[str] = set()
        universe: set[str] = set()  # every referenceable alias
        candidates: set[str] = set()  # named hop targets (eliminable)
        if query.source == "relationships":
            universe.add(query.source_alias or "R")
        elif query.match is None:
            universe.add(query.source_alias or "T")
        if query.match is not None:
            for i, n in enumerate(query.match.nodes):
                if n.alias:
                    universe.add(n.alias)
                    if i > 0:
                        candidates.add(n.alias)
            for e in query.match.edges:
                if e.alias:
                    universe.add(e.alias)
        for j in query.joins:
            universe.add(j.target_alias)
            candidates.add(j.target_alias)
            if j.rel_alias:
                universe.add(j.rel_alias)

        def walk(e: A.Expr) -> None:
            if isinstance(e, A.PropRef):
                head = e.path[0] if e.path else None
                if head in universe:
                    # $dtId-only references are SOFT — they ride the
                    # adjacent edge's key column and don't block
                    # elimination; anything else reads the document
                    if not (len(e.path) == 2 and e.path[1] == "$dtId"):
                        hard.add(head)
                else:
                    hard.add("*")  # unqualified/other — be conservative
            elif isinstance(e, (A.And, A.Or)):
                for item in e.items:
                    walk(item)
            elif isinstance(e, A.Not):
                walk(e.item)
            elif isinstance(e, A.Cmp):
                walk(e.left)
                walk(e.right)
            elif isinstance(e, A.InList):
                walk(e.operand)
            elif isinstance(e, A.FuncCall):
                if e.name == "IS_OF_MODEL":
                    for a in e.args:
                        if isinstance(a, A.PropRef) and len(a.path) == 1:
                            hard.add(a.path[0] if a.path[0] in universe else "*")
                    if not any(isinstance(a, A.PropRef) for a in e.args):
                        hard.add("*")
                else:
                    for a in e.args:
                        walk(a)

        if isinstance(query.select, A.Star):
            hard.add("*")
        elif not isinstance(query.select, A.CountAll):
            for p in query.select:
                walk(p.expr)
        if query.where is not None:
            walk(query.where)
        # JOIN RELATED source anchors need only the key — soft, like
        # $dtId references: they never block elimination.
        # An alias with scan-pushed predicates keeps its scan
        hard.update(self._scan_preds)
        if "*" in hard:
            return None
        return candidates - hard

    # ------------------------------------------------------------------
    # source binding
    # ------------------------------------------------------------------
    def _anon_alias(self) -> str:
        self._anon += 1
        return f"__a{self._anon}"

    def _bind_sources(self, query: A.Query) -> tuple[dict[str, Bound], DataFrame]:
        env: dict[str, Bound] = {}
        order: list[Bound] = []

        def bind(
            name: str | None,
            kind: str,
            df_alias: str | None = None,
            key_col: str = "dt_id",
            virtual: bool = False,
        ) -> Bound:
            df_alias = df_alias or (name if name else self._anon_alias())
            if name and name in env:
                raise CompileError(f"Duplicate alias {name!r}")
            b = Bound(name or "", kind, df_alias, key_col, virtual)
            if name:
                env[name] = b
            order.append(b)
            return b

        if query.source == "relationships":
            b = bind(query.source_alias or "R", "rel")
            return env, self._scan(self._rels, b)

        if query.match is None:
            b = bind(query.source_alias or "T", "twin")
            df = self._scan(self._twins, b)
        else:
            nodes = query.match.nodes
            first = bind(nodes[0].alias, "twin")
            df = self._scan(self._twins, first)
            left = first
            for edge, node in zip(query.match.edges, nodes[1:]):
                right_b = env.get(node.alias) if node.alias else None
                df, left = self._add_hop(df, left, edge, node.alias, bind, right_b)

        for j in query.joins:
            if j.source_alias not in env:
                raise CompileError(f"JOIN RELATED source alias {j.source_alias!r} not bound")
            src = env[j.source_alias]
            edge = A.PatternEdge(j.rel_alias, [j.rel_name], "->")
            existing = env.get(j.target_alias)
            df, _ = self._add_hop(df, src, edge, j.target_alias, bind, existing)
        return env, df

    def _add_hop(self, df, left: Bound, edge: A.PatternEdge, right_alias, bind, existing_right: Bound | None):
        """Join one relationship hop + target twin onto the plan.

        Equi-joins on promoted key columns — sort-merge/broadcast chosen
        by Catalyst/AQE; the label filter lands in the rel scan
        (partition pruning on name-partitioned storage).  Reverse hops
        read the target_id-clustered incoming-edge index when the store
        carries one (both-endpoint btree parity) so the near-side join
        is co-located either way."""
        rel_df = self._rels_in if edge.direction == "<-" else self._rels
        if len(edge.labels) == 1:
            rel_df = rel_df.filter(F.col("name") == edge.labels[0])
        elif len(edge.labels) > 1:
            rel_df = rel_df.filter(F.col("name").isin(edge.labels))
        e = bind(edge.alias, "rel")
        rel_df = self._scan(rel_df, e)
        lcol = F.col(f"{left.df_alias}.{left.key_col}")
        src = F.col(f"{e.df_alias}.source_id")
        dst = F.col(f"{e.df_alias}.target_id")
        if edge.direction == "--":
            # NON-DIRECTIONAL hop (ADT QL `-[r]-`): the pattern matches
            # in BOTH orientations — one row per (edge, orientation),
            # exactly the two rows AGE's Cypher `-[r]-` produces.  The
            # near condition is an OR of the endpoints; the far twin
            # binds the opposite endpoint below.
            near, far = None, None
            df = df.join(rel_df, (src == lcol) | (dst == lcol))
        else:
            if edge.direction == "<-":
                near, far = "target_id", "source_id"
            else:
                near, far = "source_id", "target_id"
            df = df.join(
                rel_df,
                F.col(f"{e.df_alias}.{near}") == lcol,
            )
            self._equate(f"{e.df_alias}.{near}", f"{left.df_alias}.{left.key_col}")
        if existing_right is not None:
            # pattern chain revisits an alias: (a)-[..]->(b),(b)-[..]->(c)
            rcol = F.col(
                f"{existing_right.df_alias}.{existing_right.key_col}"
            )
            if far is None:
                df = df.filter(
                    ((src == lcol) & (dst == rcol))
                    | ((dst == lcol) & (src == rcol))
                )
            else:
                df = df.filter(F.col(f"{e.df_alias}.{far}") == rcol)
                self._equate(
                    f"{e.df_alias}.{far}",
                    f"{existing_right.df_alias}.{existing_right.key_col}",
                )
            return df, existing_right
        if far is None:
            # undirected: no single far column to anchor on — always
            # join the twin side with the orientation-aware condition
            t = bind(right_alias, "twin")
            frame = (
                self._twins_adaptive
                if right_alias and self._scan_preds.get(right_alias)
                else self._twins
            )
            tcol = F.col(f"{t.df_alias}.dt_id")
            df = df.join(
                self._scan(frame, t),
                ((src == lcol) & (dst == tcol))
                | ((dst == lcol) & (src == tcol)),
            )
            return df, t
        if right_alias is None or (
            self._eliminable is not None and right_alias in self._eliminable
        ):
            # graph-aware join elimination (_eliminable_aliases): the
            # target twin's document is never read, dt_id is a key, and
            # the store enforces referential integrity — skip the twin
            # join; downstream hops anchor on the edge's far column.
            t = bind(right_alias, "twin", df_alias=e.df_alias,
                     key_col=far, virtual=True)
            return df, t
        t = bind(right_alias, "twin")
        # Predicate-bearing hop targets read the plain frame so the
        # filtered leg shuffles through a measurable exchange and AQE
        # can demote the join to broadcast when the filter is selective
        # (a bucketed scan plans exchange-free SMJ that AQE can never
        # re-plan — the r6 adt_match_3hop regression).  Unfiltered
        # targets keep the bucketed frame.
        frame = (
            self._twins_adaptive
            if self._scan_preds.get(right_alias)
            else self._twins
        )
        df = df.join(
            self._scan(frame, t),
            F.col(f"{e.df_alias}.{far}") == F.col(f"{t.df_alias}.dt_id"),
        )
        self._equate(f"{t.df_alias}.dt_id", f"{e.df_alias}.{far}")
        return df, t

    def _equate(self, col: str, earlier: str) -> None:
        """Record that an inner equi-join makes ``col`` equal to the
        already-bound column ``earlier`` on every result row."""
        self._same[col] = self._same.get(earlier, earlier)

    # ------------------------------------------------------------------
    # expression compilation
    # ------------------------------------------------------------------
    def _resolve(self, ref: A.PropRef, env: dict[str, Bound]) -> Prop:
        segs = ref.path
        if segs and segs[0] in env:
            bound, path = env[segs[0]], segs[1:]
        else:
            if (
                len(segs) >= 2
                and not segs[0].startswith("$")
                and segs[1].startswith("$")
            ):
                # ``Z.$dtId``: a $-reserved segment can only follow an
                # alias, so an unbound head is a typo'd alias, not a
                # nested property — the reference's translation fails on
                # the unbound Cypher variable; silently yielding nulls
                # would hide it.
                raise CompileError(
                    f"Unknown alias {segs[0]!r} in {'.'.join(segs)!r} "
                    f"(bound aliases: {sorted(env)})"
                )
            if len(env) != 1:
                raise CompileError(
                    f"Property {'.'.join(segs)!r} must be alias-qualified when "
                    f"multiple aliases are bound ({sorted(env)})"
                )
            bound, path = next(iter(env.values())), segs
        promoted_map = TWIN_PROMOTED if bound.kind == "twin" else REL_PROMOTED
        promoted = promoted_map.get(tuple(path))
        if bound.virtual:
            # join-eliminated binding: only its key survives on the
            # edge frame; _eliminable_aliases guarantees nothing else
            # is referenced
            if tuple(path) != ("$dtId",):
                raise CompileError(
                    f"internal: eliminated alias {bound.name!r} "
                    f"referenced beyond $dtId ({'.'.join(path)})"
                )  # pragma: no cover — analysis bug guard
            promoted = bound.key_col
        return Prop(bound, path, promoted, self)

    def _expr(self, e: A.Expr, env: dict[str, Bound], as_predicate: bool = False) -> Column:
        if isinstance(e, A.And):
            out = self._expr(e.items[0], env, True)
            for item in e.items[1:]:
                out = out & self._expr(item, env, True)
            return out
        if isinstance(e, A.Or):
            out = self._expr(e.items[0], env, True)
            for item in e.items[1:]:
                out = out | self._expr(item, env, True)
            return out
        if isinstance(e, A.Not):
            return ~self._expr(e.item, env, True)
        if isinstance(e, A.Cmp):
            return self._cmp(e, env)
        if isinstance(e, A.InList):
            return self._in_list(e, env)
        if isinstance(e, A.FuncCall):
            return self._func(e, env)
        if isinstance(e, A.Lit):
            return F.lit(e.value)
        if isinstance(e, A.PropRef):
            if as_predicate:
                # bare property in boolean position: truthy boolean prop
                p = self._resolve(e, env)
                return p.typed("bool")
            return self._resolve(e, env).loose()
        raise CompileError(f"Unsupported expression {e!r}")

    def _cmp(self, e: A.Cmp, env) -> Column:
        lk = _lit_kind(e.left) or _lit_kind(e.right)
        left = self._operand(e.left, env, lk)
        right = self._operand(e.right, env, lk)
        op = e.op
        if op == "=":
            return left == right
        if op == "!=":
            # AGE rewrite: NOT (a = b) — NULL-propagating (SURVEY §7 hard#1)
            return ~(left == right)
        if op == "<":
            return left < right
        if op == ">":
            return left > right
        if op == "<=":
            return left <= right
        return left >= right

    def _operand(self, e: A.Expr, env, kind: str | None) -> Column:
        if isinstance(e, A.Lit):
            return F.lit(e.value)
        if isinstance(e, A.PropRef):
            p = self._resolve(e, env)
            return p.typed(kind) if kind else p.loose()
        if isinstance(e, A.FuncCall):
            return self._func(e, env)
        raise CompileError(f"Unsupported operand {e!r}")

    def _in_list(self, e: A.InList, env) -> Column:
        kinds = {i.kind for i in e.items.items} or {"string"}
        kind = "number" if kinds == {"number"} else ("bool" if kinds == {"bool"} else "string")
        operand = self._operand(e.operand, env, kind)
        pred = operand.isin([i.value for i in e.items.items])
        return ~pred if e.negated else pred

    # ------------------------------------------------------------------
    def _func(self, e: A.FuncCall, env) -> Column:
        name = e.name
        if name == "IS_OF_MODEL":
            return self._is_of_model(e.args, env)
        if name in ("STARTSWITH", "ENDSWITH", "CONTAINS"):
            p = self._string_arg(e.args[0], env)
            lit = e.args[1]
            if not isinstance(lit, A.Lit) or lit.kind != "string":
                raise CompileError(f"{name} needs a string literal")
            if name == "STARTSWITH":
                return p.startswith(lit.value)
            if name == "ENDSWITH":
                return p.endswith(lit.value)
            return p.contains(lit.value)
        if name == "ARRAY_CONTAINS":
            prop = self._prop_arg(e.args[0], env, name)
            lit = e.args[1]
            if not isinstance(lit, A.Lit):
                raise CompileError("ARRAY_CONTAINS needs a literal")
            etype = {"string": "string", "number": "double", "bool": "boolean"}[lit.kind]
            if prop.promoted:
                return F.lit(False)
            arr = J.array_of(prop.v, etype)
            val = F.lit(float(lit.value) if lit.kind == "number" else lit.value)
            return F.coalesce(F.array_contains(arr, val), F.lit(False))
        if name in ("IS_NULL", "IS_DEFINED", "IS_BOOL", "IS_NUMBER", "IS_STRING",
                    "IS_OBJECT", "IS_PRIMITIVE"):
            prop = self._prop_arg(e.args[0], env, name)
            if prop.promoted:
                c = prop.col(prop.promoted)
                return {
                    "IS_NULL": c.isNull(),
                    "IS_DEFINED": c.isNotNull(),
                    "IS_BOOL": F.lit(False),
                    "IS_NUMBER": F.lit(False),
                    "IS_STRING": c.isNotNull(),
                    "IS_OBJECT": F.lit(False),
                    "IS_PRIMITIVE": c.isNotNull(),
                }[name]
            if name == "IS_NULL":
                return J.is_null_of(prop.v)
            if name == "IS_DEFINED":
                return J.is_defined_of(prop.v)
            fn = {
                "IS_BOOL": J.is_bool_of,
                "IS_NUMBER": J.is_number_of,
                "IS_STRING": J.is_string_of,
                "IS_OBJECT": J.is_object_of,
                "IS_PRIMITIVE": J.is_primitive_of,
            }[name]
            return fn(prop.s)
        if name in ("NUMBER", "STRING", "BOOL", "JSON"):
            prop = self._prop_arg(e.args[0], env, name)
            if prop.promoted:
                c = prop.col(prop.promoted)
                return c.cast("double") if name == "NUMBER" else c
            return {
                "NUMBER": lambda: J.num_of(prop.v, prop.s),
                "STRING": lambda: J.str_of(prop.v, prop.s),
                "BOOL": lambda: J.bool_of(prop.v, prop.s),
                "JSON": lambda: J.json_of(prop.v),
            }[name]()
        raise CompileError(f"Unknown function {name}")

    def _string_arg(self, e: A.Expr, env) -> Column:
        prop = self._prop_arg(e, env, "string function")
        if prop.promoted:
            return prop.col(prop.promoted)
        return J.str_of(prop.v, prop.s)

    def _prop_arg(self, e: A.Expr, env, ctx: str) -> Prop:
        if not isinstance(e, A.PropRef):
            raise CompileError(f"{ctx} expects a property reference")
        return self._resolve(e, env)

    def _is_of_model(self, args: list[A.Expr], env) -> Column:
        """Q16: membership in the model's precomputed closure.

        Compile-time expansion — the models dim is tiny, so the closure
        becomes an IN-list literal on the promoted ``model_id`` column;
        with model_id-partitioned storage that is pure partition pruning
        (reference fast path: ``GraphInitialization.cs:72-118``)."""
        twin_alias: str | None = None
        model_id: str | None = None
        exact = False
        for a in args:
            if isinstance(a, A.Lit) and a.kind == "string":
                model_id = a.value
            elif isinstance(a, A.PropRef) and len(a.path) == 1:
                if a.path[0].lower() == "exact":
                    exact = True
                elif a.path[0] in env:
                    twin_alias = a.path[0]
                else:
                    raise CompileError(f"IS_OF_MODEL: unknown alias {a.path[0]!r}")
            else:
                raise CompileError(f"IS_OF_MODEL: bad argument {a!r}")
        if model_id is None:
            raise CompileError("IS_OF_MODEL needs a model id string")
        if twin_alias is None:
            twins = [b for b in env.values() if b.kind == "twin"]
            if len(twins) != 1:
                raise CompileError("IS_OF_MODEL needs an explicit twin alias here")
            bound = twins[0]
        else:
            bound = env[twin_alias]
        col = F.col(f"{bound.df_alias}.model_id")
        if exact:
            return col == model_id
        members = self.store.model_and_descendants(model_id)
        return col.isin(members)

    # ------------------------------------------------------------------
    # projection
    # ------------------------------------------------------------------
    def _project_star(
        self, df: DataFrame, env: dict[str, Bound], extra: list[Column] | None = None
    ) -> DataFrame:
        cols = [
            F.col(f"{b.df_alias}.doc").alias(b.name)
            for b in env.values()
            if b.name
        ]
        if not cols:
            raise CompileError("SELECT * with no named aliases")
        return df.select(*cols, *(extra or []))

    def _projection_col(self, proj: A.Projection, env) -> Column:
        e = proj.expr
        if isinstance(e, A.PropRef):
            segs = e.path
            if len(segs) == 1 and segs[0] in env:
                b = env[segs[0]]
                return F.col(f"{b.df_alias}.doc").alias(proj.alias or b.name)
            prop = self._resolve(e, env)
            default_name = segs[-1].lstrip("$")
            return prop.loose().alias(proj.alias or default_name)
        if isinstance(e, A.FuncCall):
            col = self._func(e, env)
            name = proj.alias
            if name is None:
                arg0 = e.args[0] if e.args else None
                if isinstance(arg0, A.PropRef):
                    name = arg0.path[-1].lstrip("$")
                else:
                    name = e.name.lower()
            return col.alias(name)
        if isinstance(e, A.Lit):
            return F.lit(e.value).alias(proj.alias or "literal")
        raise CompileError(f"Unsupported projection {e!r}")


def compile_query(store: GraphStore, text: str, order_for_paging: bool = False) -> DataFrame:
    return QueryCompiler(store).compile(parse(text), order_for_paging)
