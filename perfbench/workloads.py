"""The benchmark's workloads: seeded closed-loop schedules driven
in process through the HTTP service (``ApiService.handle``) and the
SDK client, with every output checked.

One client issues one operation at a time and waits for its answer, as
an ADT SDK caller paging through results does.  An operation (op) is
one HTTP request, one analytics call, one commit, one change-feed
drain or one replication pass.  Each op is timed on its own; the
checks on its output run outside the timed region.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import numpy as np

from probes import tree_cpu_s

PAGE_SIZE = 100

# Paged query set of serve_read: name -> (text, the project's DuckDB
# oracle key for its full answer).  The texts repeat every round, so
# after the first page of the first round they hit the plan cache.
PAGED_QUERIES = {
    "is_of_model": (
        "SELECT T.$dtId AS dt_id FROM DIGITALTWINS T "
        "WHERE IS_OF_MODEL('dtmi:demo:Party;1')",
        "adt_is_of_model_inheritance",
    ),
    "match_3hop": (
        "SELECT O.$dtId AS order_id FROM DIGITALTWINS "
        "MATCH (O)-[R1:placedBy]->(C)-[R2:locatedIn]->(N)-[R3:partOf]->(Rg) "
        "WHERE Rg.name = 'ASIA'",
        "adt_match_3hop",
    ),
    "cypher_agg": (
        "MATCH (o)-[r:contains]->(p) RETURN p.`$dtId` AS part_id, "
        "count(*) AS cnt, round(sum(r.quantity), 2) AS total_qty",
        "cypher_agg_by_part",
    ),
    # a long, cheap listing: one edge label's partition, 15 pages
    "rel_scan": (
        "SELECT R.$sourceId AS src, R.$targetId AS dst FROM RELATIONSHIPS R "
        "WHERE R.$relationshipName = 'placedBy'",
        "adt_rel_scan_filter",
    ),
}

# The analytics call of serve_read, aggregated to one row so collect
# and row shaping cost nothing.  ``{a}`` becomes a per-call alias
# suffix: the plan cache is keyed on the text, so every call compiles
# and runs the kernel.  Checked against the project's DuckDB oracle.
PAGERANK = (
    "CALL graph.pageRank(5) YIELD node, rank "
    "RETURN count(*) AS n{a}, sum(rank) AS s{a}, max(rank) AS m{a}"
)
PAGERANK_ORACLE = "graph_pagerank"

CUSTOMER_MODEL = "dtmi:demo:Customer;1"
CUSTOMER_PAGES = (
    "MATCH (c:Twin) WHERE c.`$metadata`.`$model` = '" + CUSTOMER_MODEL + "' "
    "RETURN c.`$dtId` AS id, c.acctbal AS acctbal"
)
CUSTOMER_PAGE_SIZE = 25


@dataclass
class Op:
    kind: str
    seconds: float
    cpu_s: float
    ok: bool = True
    round: int = 0
    label: str = ""
    seq: int = 0


@dataclass
class Session:
    """State shared by the workloads: the Spark session, the service
    under test, the tracer, and every op recorded so far."""

    spark: object
    api: object
    client: object
    tracer: object
    rng: np.random.Generator
    work: str
    ops: list[Op] = field(default_factory=list)
    extra: dict[str, list[float]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    round: int = 0
    measuring: bool = False
    seq: int = 0

    def timed(self, kind: str, fn, label: str = ""):
        """Run one op under its own span, recording wall and CPU time."""
        self.seq += 1
        self.tracer.op = self.seq
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span("op." + kind):
            result = fn()
        op = Op(
            kind, time.perf_counter() - t0, tree_cpu_s() - c0,
            round=self.round, label=label, seq=self.seq,
        )
        self.ops.append(op)
        return result, op

    def check(self, op: Op, ok: bool, what: str) -> None:
        if not ok:
            op.ok = False
            self.errors.append(f"round {op.round} {op.kind}: {what}")

    def note(self, key: str, value: float) -> None:
        if self.measuring:
            self.extra.setdefault(key, []).append(value)

    def request(
        self, kind: str, method: str, path: str, body=None, headers=None, label: str = ""
    ):
        from pg_age_digitaltwins_spark.http_api import Request

        req = Request(method, path, body=body, headers=headers or {})
        resp, op = self.timed(kind, lambda: self.api.handle(req), label)
        self.note("http_api.response_bytes", len(json.dumps(resp.body, default=str)))
        return resp, op


def _num(v):
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _listing(root: str) -> dict[str, int]:
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    }


def _rows_key(rows) -> list[tuple]:
    """Order-free form of a result: each row as a tuple of its values
    in column order, floats rounded to the oracle's 2 decimals."""
    def norm(v):
        return round(v, 2) if isinstance(v, float) else v

    return sorted(
        tuple(norm(v) for v in (r.values() if isinstance(r, dict) else r)) for r in rows
    )


def fetch_pages(
    s: Session, name: str, query: str, page_size: int = PAGE_SIZE,
    max_pages: int | None = None,
) -> tuple[list[dict], list[Op], bool]:
    """Page through ``query``: the first page is a ``query_first`` op,
    every continuation a ``query_next`` op.  Returns the rows, the ops
    and whether the last page was reached."""
    headers = {"max-items-per-page": str(page_size)}
    rows: list[dict] = []
    ops: list[Op] = []
    body = {"query": query}
    kind = "query_first"
    while True:
        resp, op = s.request(kind, "POST", "/query", body, headers, label=name)
        ops.append(op)
        if resp.status != 200:
            s.check(op, False, f"status {resp.status}: {resp.body}")
            return rows, ops, True
        rows.extend(resp.body["value"])
        token = resp.body.get("continuationToken")
        if not token:
            return rows, ops, True
        if max_pages is not None and len(ops) >= max_pages:
            return rows, ops, False
        body, kind = {"continuationToken": token}, "query_next"


def read_twin(
    s: Session, how: str, dt_id: str, value: float | None = None,
    old_etag: str | None = None,
) -> str | None:
    """Read one twin by ``GET`` (``how="get"``) or by an ADT point query
    with its own literal, which misses the plan cache, and check that it
    is the twin asked for.  A twin just written must show its written
    ``value`` and, by ``GET``, an etag other than ``old_etag``.  Returns
    the etag a ``GET`` read."""
    if how == "get":
        resp, op = s.request("get", "GET", f"/digitaltwins/{dt_id}")
        twin = resp.body if resp.status == 200 else {}
    else:
        q = f"SELECT T FROM DIGITALTWINS T WHERE T.$dtId = '{dt_id}'"
        resp, op = s.request("query_first", "POST", "/query", {"query": q}, label="point_query")
        vals = resp.body.get("value", []) if resp.status == 200 else []
        twin = vals[0].get("T", {}) if len(vals) == 1 else {}
    etag = twin.get("$etag")
    s.check(
        op,
        twin.get("$dtId") == dt_id
        and (
            value is None
            or twin.get("acctbal") == value
            and (how != "get" or etag not in (None, old_etag))
        ),
        f"{how} {dt_id}: {resp.status} acctbal={twin.get('acctbal')} want {value}, "
        f"etag {etag} was {old_etag}; {str(resp.body)[:200]}",
    )
    return etag


def oracle_tables(data_dir: str):
    """A DuckDB connection with one view per generated table."""
    import duckdb

    con = duckdb.connect()
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        path = os.path.join(data_dir, f"{name}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def expectations(data_dir: str) -> tuple[dict[str, list[tuple]], dict]:
    """Expected answers from the project's DuckDB oracles over the same
    generated tables: every row of each paged query, and a fingerprint
    of the PageRank call's one-row answer."""
    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = oracle_tables(data_dir)
    pages = {
        name: _rows_key(con.execute(oracles[key]).fetchall())
        for name, (_, key) in PAGED_QUERIES.items()
    }
    ranks = [r[1] for r in con.execute(oracles[PAGERANK_ORACLE]).fetchall()]
    con.close()
    return pages, {"n": len(ranks), "s": sum(ranks), "m": max(ranks)}


def analytics_matches(got: dict, want: dict) -> bool:
    for k, v in want.items():
        g = got.get(k)
        if g is None:
            return False
        if isinstance(v, float):
            if abs(g - v) > 1e-5 * max(1.0, abs(v)):
                return False
        elif g != v:
            return False
    return True


# ----------------------------------------------------------------------
# serve_read
# ----------------------------------------------------------------------
class ServeRead:
    """Reads and analytics on a store that never changes.

    A round is: 30 point reads (4 ``GET /digitaltwins/{id}`` and 2 ADT
    point queries of each of five twin kinds, each query with its own
    literal so each misses the plan cache), the four paged queries
    twice (every page the first time, the first page only the second
    time), and one PageRank call.  Which twins are read and in which
    order is drawn from the seed; how many of each kind is fixed, so
    every seed reads the same mix.  The point reads are spread between
    the heavier ops, so their latencies sample the whole round."""

    GETS_PER_KIND, QUERIES_PER_KIND = 4, 2

    def __init__(self, s: Session, twin_ids: dict[str, list[str]], data_dir: str):
        self.s = s
        self.ids = twin_ids  # twin kind -> ids
        self.data_dir = data_dir
        self.calls = 0

    def prepare(self) -> None:
        """Expected answers from the DuckDB oracles, untimed."""
        self.expected_pages, self.expected_pagerank = expectations(self.data_dir)

    def paged(self, name: str, max_pages: int | None) -> None:
        """Page through a query: all of it, checked against the oracle,
        or its first ``max_pages`` pages, checked to be full pages of
        the oracle's rows."""
        s = self.s
        rows, ops, complete = fetch_pages(s, name, PAGED_QUERIES[name][0], max_pages=max_pages)
        want = self.expected_pages[name]
        if complete:
            s.check(
                ops[-1],
                _rows_key(rows) == want,
                f"{name}: pages concatenate to {len(rows)} rows, the oracle has {len(want)}",
            )
        else:
            got = _rows_key(rows)
            s.check(
                ops[-1],
                len(got) == PAGE_SIZE * len(ops) and set(got) <= set(want),
                f"{name}: {len(ops)} pages hold {len(got)} rows, not all the oracle's",
            )

    def pagerank(self) -> None:
        s = self.s
        self.calls += 1
        suffix = f"_{self.calls}"
        page, op = s.timed(
            "analytics", lambda: s.client.query(PAGERANK.format(a=suffix)), label="pagerank"
        )
        s.note("analytics.pagerank_ms", op.seconds * 1000)
        got = {k[: -len(suffix)]: v for k, v in page.rows[0].items()} if page.rows else {}
        s.check(
            op,
            analytics_matches(got, self.expected_pagerank),
            f"pagerank: {got} != oracle {self.expected_pagerank}",
        )

    def round(self, warmup: bool = False) -> None:
        """One round.  The warm-up round makes one read of each kind
        and way, and reads at most two pages of each query once: enough
        to run every plan shape once."""
        rng = self.s.rng
        gets, queries = (1, 1) if warmup else (self.GETS_PER_KIND, self.QUERIES_PER_KIND)
        reads = []
        for ids in self.ids.values():
            picks = [ids[k] for k in rng.choice(len(ids), gets + queries, replace=False)]
            reads += [("get", i) for i in picks[:gets]] + [("query", i) for i in picks[gets:]]
        reads = [reads[k] for k in rng.permutation(len(reads))]
        if warmup:
            heavy = [lambda name=name: self.paged(name, 2) for name in PAGED_QUERIES]
            heavy.append(self.pagerank)
        else:
            heavy = [lambda name=name: self.paged(name, None) for name in PAGED_QUERIES]
            heavy.append(self.pagerank)
            heavy += [lambda name=name: self.paged(name, 1) for name in PAGED_QUERIES]
        for chunk, op in zip(np.array_split(np.arange(len(reads)), len(heavy)), heavy):
            for i in chunk:
                read_twin(self.s, *reads[i])
            op()


# ----------------------------------------------------------------------
# write_commit_stream
# ----------------------------------------------------------------------
class WriteCommitStream:
    """Write transactions on a commit-log-backed store, each followed by
    a change-feed drain and a replication pass.

    A transaction is: 3 ``PATCH`` calls on distinct customers and one
    ``POST /digitaltwins`` batch upsert of 4 new customers, then
    ``client.commit``, an ``availableNow`` drain of the change feed into
    an ND-JSON sink (one persistent checkpoint), reads of the committed
    store (a ``GET`` of each written twin and of 18 other customers, an
    ADT point query of each patched twin and of 10 other customers,
    every page of a Cypher query over all customers at 25 rows a page
    twice, and its first page once more) and ``replicate_catch_up`` into
    a replica."""

    N_PATCH, N_BATCH = 3, 4
    N_OTHER_GETS, N_OTHER_QUERIES = 18, 10

    def __init__(self, s: Session, root: str, customers: list[str]):
        from pg_age_digitaltwins_spark.streaming.sinks import (
            EventRoute,
            EventRouter,
            NdjsonDirSink,
        )

        self.s = s
        self.root = root
        self.customers = customers
        self.lake = os.path.join(s.work, "lake")
        self.ckpt = os.path.join(s.work, "feed-ckpt")
        self.replica = os.path.join(s.work, "replica")
        self.router = EventRouter(source="perfbench")
        self.router.add_sink(NdjsonDirSink(self.lake, name="lake"))
        self.router.add_route(EventRoute("lake", "EventNotification"))
        self.etags: dict[str, str] = {}
        self.n_twins = 0
        self.n_customers = len(customers)
        self.version = 0
        self.txn = 0
        self.lake_seen: set[str] = set()

    def prepare(self) -> None:
        """Bootstrap the replica and read the starting etags, untimed."""
        from pg_age_digitaltwins_spark.store.commit_log import CommitLog
        from pg_age_digitaltwins_spark.streaming import replica

        c = self.s.client
        rows = c.query(
            "SELECT T.$dtId AS id, T.$etag AS etag FROM DIGITALTWINS T "
            f"WHERE IS_OF_MODEL('{CUSTOMER_MODEL}', exact)"
        ).rows
        self.etags = {r["id"]: r["etag"] for r in rows}
        self.n_twins = c.query("SELECT COUNT() FROM DIGITALTWINS").rows[0]["count"]
        self.version = CommitLog(self.root).latest_version()
        replica.bootstrap_replica(self.s.spark, self.root, self.replica)

    def _new_lake_events(self) -> list[dict]:
        events = []
        for dirpath, _, files in os.walk(self.lake):
            for name in files:
                path = os.path.join(dirpath, name)
                if name.endswith(".json") and path not in self.lake_seen:
                    self.lake_seen.add(path)
                    with open(path) as f:
                        events.extend(json.loads(line) for line in f if line.strip())
        return events

    def round(self, warmup: bool = False) -> None:
        """One transaction; the warm-up one reads one twin of each kind
        and way, and two pages."""
        from pg_age_digitaltwins_spark.store.commit_log import load_latest
        from pg_age_digitaltwins_spark.streaming import replica, sinks

        s = self.s
        t = self.txn
        self.txn += 1
        patched = [
            self.customers[i]
            for i in s.rng.choice(len(self.customers), self.N_PATCH, replace=False)
        ]
        values = [round(float(v), 2) for v in s.rng.uniform(-1000, 10000, self.N_PATCH)]
        for dt_id, v in zip(patched, values):
            resp, op = s.request(
                "patch", "PATCH", f"/digitaltwins/{dt_id}",
                [{"op": "replace", "path": "/acctbal", "value": v}],
            )
            s.check(op, resp.status == 204, f"PATCH {dt_id}: {resp.status} {resp.body}")
        new_ids = [f"pb-{t}-{j}" for j in range(self.N_BATCH)]
        docs = [
            {
                "$dtId": dt_id,
                "$metadata": {"$model": CUSTOMER_MODEL},
                "name": f"Customer#pb{t}{j}",
                "acctbal": round(float(s.rng.uniform(0, 100)), 2),
                "mktsegment": "BUILDING",
            }
            for j, dt_id in enumerate(new_ids)
        ]
        resp, op = s.request("batch", "POST", "/digitaltwins", docs)
        s.check(
            op,
            resp.status == 200 and all(r.get("status") == "ok" for r in resp.body),
            f"batch: {resp.status} {str(resp.body)[:200]}",
        )
        self.customers.extend(new_ids)
        self.n_customers += self.N_BATCH
        self.n_twins += self.N_BATCH

        user_bytes = len(json.dumps(docs)) + sum(
            len(json.dumps([{"op": "replace", "path": "/acctbal", "value": v}]))
            for v in values
        )
        before = _listing(self.root)
        version, op = s.timed("commit", lambda: s.client.commit(self.root))
        written = {p: n for p, n in _listing(self.root).items() if before.get(p) != n}
        s.note("commit_log.files_written_per_commit", len(written))
        s.note("commit_log.bytes_written_per_commit", sum(written.values()))
        s.note("commit_log.bytes_per_user_byte", sum(written.values()) / user_bytes)
        s.check(op, version == self.version + 1, f"commit version {version} after {self.version}")
        self.version = version
        acked = time.perf_counter()

        def drain():
            q = sinks.run_change_stream(s.spark, self.root, self.router, self.ckpt)
            # the micro-batches (listing, planning, offset and WAL
            # commits) run while this waits: they are streaming time
            with s.tracer.span("streaming.await"):
                finished = q.awaitTermination(120)
                if not finished:
                    q.stop()
            return q, finished

        (query, finished), op = s.timed("drain", drain)
        s.note("cdc_delivery_ms", (time.perf_counter() - acked) * 1000)
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        s.note("streaming.batches_per_drain", len(progress))
        for key in ("addBatch", "triggerExecution", "walCommit", "queryPlanning"):
            s.note(f"streaming.{key}_ms", sum(p["durationMs"].get(key, 0) for p in progress))
        events = self._new_lake_events()
        want = sorted(patched + new_ids)
        s.check(
            op,
            finished and sorted(e.get("subject") for e in events) == want,
            f"drain delivered {sorted(e.get('subject') for e in events)}, want {want}",
        )

        # read the committed store: every written twin and some other
        # customers by GET (the patched ones with a new etag), the same
        # way by ADT point query, and all customers through paged Cypher
        want = dict(zip(patched, values)) | {d["$dtId"]: d["acctbal"] for d in docs}
        others = [c for c in self.customers if c not in want]
        picks = [
            others[i]
            for i in s.rng.choice(
                len(others), self.N_OTHER_GETS + self.N_OTHER_QUERIES, replace=False
            )
        ]
        k = 1 if warmup else None
        reads = [("get", i) for i in list(want)[:k] + picks[: self.N_OTHER_GETS][:k]]
        reads += [("query", i) for i in patched[:k] + picks[self.N_OTHER_GETS :][:k]]
        for how, dt_id in reads:
            etag = read_twin(s, how, dt_id, want.get(dt_id), self.etags.get(dt_id))
            if dt_id in want:
                self.etags[dt_id] = etag
        for max_pages in [2] if warmup else [None, None, 1]:
            rows, ops, complete = fetch_pages(
                s, "customers", CUSTOMER_PAGES, page_size=CUSTOMER_PAGE_SIZE,
                max_pages=max_pages,
            )
            got = {r["id"]: _num(r["acctbal"]) for r in rows}
            s.check(
                ops[-1],
                len(rows) == len(got) == self.n_customers
                and all(got.get(i) == v for i, v in want.items())
                if complete
                else len(rows) == CUSTOMER_PAGE_SIZE * len(ops)
                and set(got) <= set(self.customers),
                f"customer pages: {len(rows)} rows ({len(got)} ids) in {len(ops)} "
                f"pages, all {self.n_customers} wanted: {complete}; written "
                f"{[(i, got.get(i), v) for i, v in want.items()]}",
            )

        _, op = s.timed(
            "replicate", lambda: replica.replicate_catch_up(s.spark, self.root, self.replica)
        )
        n = load_latest(s.spark, self.replica)[0].twins.count()
        s.check(op, n == self.n_twins, f"replica has {n} twins, source {self.n_twins}")

