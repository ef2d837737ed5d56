"""HTTP API parity layer (SURVEY.md §2.5 — the reference's primary
interface).

Maps the reference's ASP.NET minimal-API surface
(``src/AgeDigitalTwins.ApiService/Extensions/DigitalTwinsEndpoints.cs:16-133``,
``RelationshipsEndpoints.cs``, ``ComponentsEndpoints.cs``,
``ModelsEndpoints.cs``, ``QueryEndpoints.cs``, ``TelemetryEndpoints.cs``,
``ImportJobEndpoints.cs``) onto the Spark client, with the same routes,
verbs, headers, status codes, and JSON shapes the Azure Digital Twins
SDK expects.

Framework-free by design: handlers are pure functions
``Request -> Response`` dispatched from a route table, so the whole
surface is testable in-process with zero network I/O, and ``serve()``
adapts the same table onto the stdlib ``ThreadingHTTPServer`` for a real
socket.  (No ASP.NET/FastAPI equivalent ships in this container; the
stdlib adapter keeps the wiring honest.)

Error mapping mirrors ``ExceptionHandler.cs:16-47``: domain exceptions
carry their HTTP status, everything renders as an RFC-7807
ProblemDetails body.  Rate limiting mirrors
``Configuration/RateLimitingConfiguration.cs`` + the weighted-query
middleware (``WeightedQueryRateLimitingMiddleware.cs``): fixed windows
for light/heavy/admin tiers and a token bucket on ``/query`` charged by
the page's query charge.
"""

from __future__ import annotations

import base64
import json
import re
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from typing import Any, Callable

from pg_age_digitaltwins_spark import crud, jobs as jobs_mod
from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
from pg_age_digitaltwins_spark.models import (
    ModelAlreadyExistsError,
    ModelNotFoundError,
    ModelReferencedError,
)
from pg_age_digitaltwins_spark.validation import (
    ModelNotFoundError as RegistryModelNotFoundError,
    ValidationError,
)

DEFAULT_MAX_ITEMS_PER_PAGE = 2000  # RequestHelper.cs:10

# ClaimTypes.NameIdentifier — the claim ParseUserId checks before the
# bare "sub" fallback (RequestHelper.cs:106-111)
NAME_IDENTIFIER_CLAIM = (
    "http://schemas.xmlsoap.org/ws/2005/05/identity/claims/nameidentifier"
)


@dataclass
class Request:
    method: str
    path: str
    body: Any = None
    query: dict[str, list[str]] = field(default_factory=dict)
    headers: dict[str, str] = field(default_factory=dict)
    # authenticated principal's claims (the validated-JWT shape); None
    # = anonymous.  Token validation itself is the host's job — the
    # reference receives a ClaimsPrincipal the same way.
    claims: dict[str, Any] | None = None

    def header(self, name: str) -> str | None:
        for k, v in self.headers.items():
            if k.lower() == name.lower():
                return v
        return None

    @property
    def user_id(self) -> str | None:
        """The acting user's id from the authenticated principal:
        the NameIdentifier claim, falling back to ``sub``; None when
        anonymous or neither claim is present
        (``Helpers/RequestHelper.cs:106-111`` ParseUserId)."""
        if not self.claims:
            return None
        for key in (NAME_IDENTIFIER_CLAIM, "nameid", "sub"):
            val = self.claims.get(key)
            if isinstance(val, list):
                val = val[0] if val else None
            if isinstance(val, str) and val:
                return val
        return None

    def qparam(self, name: str) -> str | None:
        vals = self.query.get(name)
        return vals[0] if vals else None

    @property
    def max_items_per_page(self) -> int:
        raw = self.header("max-items-per-page")
        if raw is not None:
            try:
                # clamp: a non-positive page size would return an empty
                # page whose continuation token points at the same
                # offset — a paging client would loop forever
                return max(1, int(raw))
            except ValueError:
                pass
        return DEFAULT_MAX_ITEMS_PER_PAGE


@dataclass
class Response:
    status: int
    body: Any = None
    headers: dict[str, str] = field(default_factory=dict)


def _problem(status: int, exc: Exception) -> Response:
    """RFC-7807 body, same fields as ``ExceptionHandler.cs:35-44``."""
    return Response(
        status,
        {
            "title": "An error occurred",
            "detail": str(exc),
            "type": type(exc).__name__,
            "status": status,
        },
    )


# ----------------------------------------------------------------------
# rate limiting (RateLimitingConfiguration.cs defaults)
# ----------------------------------------------------------------------


class FixedWindowLimiter:
    """Fixed-window permit limiter (light/heavy/admin tiers)."""

    def __init__(self, permit_limit: int, window_s: float = 1.0, clock=time.monotonic):
        self.permit_limit = permit_limit
        self.window_s = window_s
        self.clock = clock
        self._window_start = clock()
        self._used = 0
        self._lock = threading.Lock()

    def try_acquire(self, permits: int = 1) -> bool:
        with self._lock:
            now = self.clock()
            if now - self._window_start >= self.window_s:
                self._window_start = now
                self._used = 0
            if self._used + permits > self.permit_limit:
                return False
            self._used += permits
            return True


class TokenBucketLimiter:
    """Weighted-query bucket: /query consumes its page's query charge
    (``WeightedQueryRateLimitingMiddleware.cs:30-44``; defaults
    TokenLimit=1000, TokensPerPeriod replenished per second)."""

    def __init__(
        self,
        token_limit: int = 1000,
        tokens_per_period: int = 100,
        period_s: float = 1.0,
        clock=time.monotonic,
    ):
        self.token_limit = token_limit
        self.tokens_per_period = tokens_per_period
        self.period_s = period_s
        self.clock = clock
        self._tokens = float(token_limit)
        self._last = clock()
        self._lock = threading.Lock()

    def try_acquire(self, tokens: float = 1.0) -> bool:
        with self._lock:
            now = self.clock()
            periods = (now - self._last) / self.period_s
            self._tokens = min(
                self.token_limit, self._tokens + periods * self.tokens_per_period
            )
            self._last = now
            if tokens > self._tokens:
                return False
            self._tokens -= tokens
            return True

    def debit(self, tokens: float) -> None:
        """Unconditional deduction (post-hoc settlement of a charge
        that could only be computed after the work ran); may leave the
        bucket negative, delaying replenishment-based recovery."""
        with self._lock:
            self._tokens -= tokens


# ----------------------------------------------------------------------
# pagination over driver-side row lists (list endpoints page OLTP-sized
# results; /query pages inside the engine itself)
# ----------------------------------------------------------------------


def _page_rows(rows: list, req: Request) -> dict[str, Any]:
    """``PageWithNextLink`` shape: {"value": [...], "continuationToken",
    "nextLink"}.  Token = base64 {"_tr": offset}, matching the engine's
    own tokens; ``nextLink`` re-targets the SAME request URL with the
    continuation token swapped into the query string
    (``PageWithNextLink.cs:22-38``) so a client can follow links
    without token plumbing."""
    offset = 0
    tok = req.qparam("continuationToken")
    if tok:
        offset = int(json.loads(base64.b64decode(tok))["_tr"])
    n = req.max_items_per_page
    page = rows[offset : offset + n]
    out: dict[str, Any] = {"value": page}
    if offset + n < len(rows):
        next_tok = base64.b64encode(
            json.dumps({"_tr": offset + n}).encode()
        ).decode()
        out["continuationToken"] = next_tok
        query = {k: list(v) for k, v in req.query.items()}
        query["continuationToken"] = [next_tok]
        qs = "&".join(
            f"{k}={urllib.parse.quote(v, safe='')}"
            for k, vs in query.items()
            for v in vs
        )
        host = req.header("host") or "localhost"
        out["nextLink"] = f"http://{host}{req.path}?{qs}"
    return out


# ----------------------------------------------------------------------
# service
# ----------------------------------------------------------------------

_SEG = r"[^/]+"


class ApiService:
    """The route table + dispatch.  One instance per client (per graph),
    like the reference's singleton ``AgeDigitalTwinsClient`` DI."""

    def __init__(
        self,
        client: DigitalTwinsSparkClient,
        rate_limiting: bool = False,
        limiter_clock=time.monotonic,
        health=None,
        authorization=None,
        track_last_updated_by: bool = False,
    ):
        self.client = client
        # Parameters:TrackLastUpdatedBy (Program.cs:131): when on, twin
        # PUT/PATCH stamp per-property ``lastUpdatedBy`` with the
        # authenticated user's id (DigitalTwinsEndpoints.cs:50,79).
        self.track_last_updated_by = track_last_updated_by
        self.jobs = jobs_mod.JobService()
        # scheme/host-routed blob access for job input/output URIs
        # (BlobStorageServiceRouter.cs) — file/local real, cloud
        # providers pluggable via .storage.register(...)
        from pg_age_digitaltwins_spark.storage import BlobStorageRouter

        self.storage = BlobStorageRouter()
        self._job_inputs: dict[str, str] = {}
        # original request URIs, echoed in job JSON (ImportJob.cs:8)
        self._job_uris: dict[str, dict[str, str]] = {}
        self.rate_limiting = rate_limiting
        # optional authz.AuthorizationConfig — per-route permission
        # requirements mirroring each endpoint's RequirePermission call
        # (ServiceDefaults/Authorization); None = authorization off,
        # every request allowed (the reference's Enabled=false mode)
        self.authorization = authorization
        # optional StreamingHealthListener (streaming.sinks) — exposes
        # the reference's /health surface (ReplicationHealthCheck +
        # EventSinksHealthCheck aggregated by the ASP.NET host)
        self.health = health
        # Documented tier defaults (SURVEY §2.5 / performance.mdx:16-22):
        # Global 1000/s, Light 100/s, Medium 50/s, Heavy 20/s, Admin 50/min
        self.limiters = {
            "global": FixedWindowLimiter(1000, clock=limiter_clock),
            "light": FixedWindowLimiter(100, clock=limiter_clock),
            "medium": FixedWindowLimiter(50, clock=limiter_clock),
            "heavy": FixedWindowLimiter(20, clock=limiter_clock),
            "admin": FixedWindowLimiter(50, window_s=60.0, clock=limiter_clock),
            "query": TokenBucketLimiter(clock=limiter_clock),
        }
        # Per-route (resource, action) requirements mirror the
        # reference's RequirePermission calls in
        # {DigitalTwins,Relationships,Components,Telemetry,Query,
        #  Models,ImportJob}Endpoints.cs; /health and the dev-surface
        # graph admin routes are anonymous (the reference maps health
        # checks outside the authorized group).
        from pg_age_digitaltwins_spark import authz

        TW, REL = authz.ResourceType.DIGITAL_TWINS, authz.ResourceType.RELATIONSHIPS
        MOD, JOB = authz.ResourceType.MODELS, authz.ResourceType.JOBS_IMPORTS
        QRY = authz.ResourceType.QUERY
        RD, WR = authz.PermissionAction.READ, authz.PermissionAction.WRITE
        DEL, ACT = authz.PermissionAction.DELETE, authz.PermissionAction.ACTION

        self.routes: list[tuple[str, re.Pattern, Callable, str, Any]] = []
        r = self._route
        # --- twins (DigitalTwinsEndpoints.cs) ---
        r("GET", f"/digitaltwins/(?P<id>{_SEG})", self.twin_get, "light", (TW, RD))
        r("PUT", f"/digitaltwins/(?P<id>{_SEG})", self.twin_put, "heavy", (TW, WR))
        r("PATCH", f"/digitaltwins/(?P<id>{_SEG})", self.twin_patch, "heavy", (TW, WR))
        r("DELETE", f"/digitaltwins/(?P<id>{_SEG})", self.twin_delete, "heavy", (TW, DEL))
        r("POST", "/digitaltwins", self.twins_batch, "heavy", (TW, WR))
        r("POST", "/digitaltwins/search", self.twin_search, "light", (TW, RD))
        # --- relationships (RelationshipsEndpoints.cs) ---
        r(
            "GET",
            f"/digitaltwins/(?P<id>{_SEG})/relationships",
            self.rels_list,
            "light",
            (REL, RD),
        )
        r(
            "GET",
            f"/digitaltwins/(?P<id>{_SEG})/incomingrelationships",
            self.rels_incoming,
            "light",
            (REL, RD),
        )
        r(
            "GET",
            f"/digitaltwins/(?P<id>{_SEG})/relationships/(?P<rid>{_SEG})",
            self.rel_get,
            "light",
            (REL, RD),
        )
        r(
            "PUT",
            f"/digitaltwins/(?P<id>{_SEG})/relationships/(?P<rid>{_SEG})",
            self.rel_put,
            "heavy",
            (REL, WR),
        )
        r(
            "PATCH",
            f"/digitaltwins/(?P<id>{_SEG})/relationships/(?P<rid>{_SEG})",
            self.rel_patch,
            "heavy",
            (REL, WR),
        )
        r(
            "DELETE",
            f"/digitaltwins/(?P<id>{_SEG})/relationships/(?P<rid>{_SEG})",
            self.rel_delete,
            "heavy",
            (REL, DEL),
        )
        r("POST", "/relationships", self.rels_batch, "heavy", (REL, WR))
        # --- components (ComponentsEndpoints.cs) ---
        r(
            "GET",
            f"/digitaltwins/(?P<id>{_SEG})/components/(?P<name>{_SEG})",
            self.component_get,
            "light",
            (TW, RD),
        )
        r(
            "PATCH",
            f"/digitaltwins/(?P<id>{_SEG})/components/(?P<name>{_SEG})",
            self.component_patch,
            "heavy",
            (TW, WR),
        )
        # --- telemetry (TelemetryEndpoints.cs) ---
        r(
            "POST",
            f"/digitaltwins/(?P<id>{_SEG})/telemetry",
            self.telemetry_post,
            "light",
            (TW, WR),
        )
        r(
            "POST",
            f"/digitaltwins/(?P<id>{_SEG})/telemetry/components/(?P<name>{_SEG})",
            self.telemetry_component_post,
            "light",
            (TW, WR),
        )
        # --- query (QueryEndpoints.cs) ---
        r("POST", "/query", self.query_post, "query", (QRY, ACT))
        r("GET", "/health", self.health_get, "light", None)
        # OpenAPI self-description (Program.cs:311 MapOpenApi — the
        # reference serves /openapi/v1.json when OpenApi:Enabled);
        # generated from the live route table so it can never drift
        r("GET", "/openapi/v1.json", self.openapi_get, "light", None)
        # operation tracing/metrics (the OTel diagnostics surface,
        # docs/advanced-topics/logs-diagnostics.mdx)
        r("GET", "/stats", self.stats_get, "light", None)
        # root liveness probe (HostAndClientTests::GetWebResourceRoot)
        r("GET", "/", lambda req: Response(200, {"service": "pg-age-digitaltwins-spark"}), "light", None)
        # --- MCP (docs/concepts/mcp-server.mdx; HTTP transport) ---
        r("POST", "/mcp", self.mcp_post, "light", None)
        # --- models (ModelsEndpoints.cs) ---
        r("GET", "/models", self.models_list, "admin", (MOD, RD))
        r("POST", "/models", self.models_create, "admin", (MOD, WR))
        r("DELETE", "/models", self.models_delete_all, "admin", (MOD, DEL))
        r("POST", "/models/search", self.models_search, "admin", (MOD, RD))
        r("GET", f"/models/(?P<id>{_SEG})", self.model_get, "admin", (MOD, RD))
        r("DELETE", f"/models/(?P<id>{_SEG})", self.model_delete, "admin", (MOD, DEL))
        # --- graph admin (GraphEndpoints.cs; dev/test surface) ---
        r("PUT", "/graph/create", self.graph_create, "admin", None)
        r("DELETE", "/graph/delete", self.graph_delete, "admin", None)
        # --- import jobs (ImportJobEndpoints.cs) ---
        r("PUT", f"/jobs/imports/(?P<id>{_SEG})", self.job_create, "admin", (JOB, WR))
        r("GET", "/jobs/imports", self.jobs_list, "admin", (JOB, RD))
        r("GET", f"/jobs/imports/(?P<id>{_SEG})", self.job_get, "admin", (JOB, RD))
        r("POST", f"/jobs/imports/(?P<id>{_SEG})/cancel", self.job_cancel, "admin", (JOB, ACT))
        r("POST", f"/jobs/imports/(?P<id>{_SEG})/resume", self.job_resume, "admin", (JOB, ACT))
        r("DELETE", f"/jobs/imports/(?P<id>{_SEG})", self.job_delete, "admin", (JOB, DEL))
        # --- deletion jobs (AgeDigitalTwinsClient.Jobs.cs:460-580;
        #     ADT /jobs/deletions surface, ResourceType.JobsDeletions) ---
        JOBD = authz.ResourceType.JOBS_DELETIONS
        r("PUT", f"/jobs/deletions/(?P<id>{_SEG})", self.delete_job_create, "admin", (JOBD, WR))
        r("GET", "/jobs/deletions", self.delete_jobs_list, "admin", (JOBD, RD))
        r("GET", f"/jobs/deletions/(?P<id>{_SEG})", self.delete_job_get, "admin", (JOBD, RD))
        r("DELETE", f"/jobs/deletions/(?P<id>{_SEG})", self.delete_job_remove, "admin", (JOBD, DEL))

    def _route(
        self, method: str, pattern: str, handler: Callable, policy: str, require=None
    ):
        from pg_age_digitaltwins_spark import authz

        req_perm = authz.Permission(*require) if require is not None else None
        self.routes.append((method, re.compile(f"^{pattern}$"), handler, policy, req_perm))

    # ------------------------------------------------------------------
    def handle(self, req: Request) -> Response:
        """Dispatch: literal routes win over parameterized ones (so
        POST /digitaltwins/search is not a twin id), then longest
        pattern."""
        candidates = []
        for method, rx, handler, policy, require in self.routes:
            if method != req.method:
                continue
            m = rx.match(req.path)
            if m:
                # Fewer captured params = more literal = higher priority
                candidates.append(
                    (len(m.groupdict()), -len(rx.pattern), handler, policy, require, m)
                )
        if not candidates:
            return Response(404, {"title": "Not found", "status": 404})
        candidates.sort(key=lambda t: (t[0], t[1]))
        _, _, handler, policy, require, m = candidates[0]
        params = {k: urllib.parse.unquote(v) for k, v in m.groupdict().items()}
        if self.rate_limiting:
            if not self.limiters["global"].try_acquire():
                return Response(429, {"title": "Too many requests", "status": 429})
            if policy != "query" and not self.limiters[policy].try_acquire():
                return Response(429, {"title": "Too many requests", "status": 429})
        if self.authorization is not None:
            denied = self.authorization.check(req.claims, require)
            if denied == 401:
                return Response(401, {"title": "Unauthorized", "status": 401})
            if denied == 403:
                return Response(
                    403,
                    {"title": "Forbidden", "status": 403,
                     "detail": f"Missing permission '{require}'"},
                )
        try:
            return handler(req, **params)
        except crud.PreconditionFailedError as exc:
            return _problem(412, exc)
        # Conflict family first (ExceptionHandler.cs: ModelIdAlreadyExists /
        # ModelReferencesNotDeleted carry 409)
        except (ModelAlreadyExistsError, ModelReferencedError) as exc:
            return _problem(409, exc)
        # Only the dedicated not-found exception types map to 404 — a
        # bare KeyError is an implementation bug and falls through to
        # the 500 handler (both subclass KeyError, so they must be
        # caught here, not via the base class).
        except (ModelNotFoundError, RegistryModelNotFoundError, crud.NotFoundError) as exc:
            return _problem(404, exc)
        except (ValidationError, ValueError) as exc:
            return _problem(400, exc)
        except Exception as exc:  # noqa: BLE001 — 500 fallback, like the reference
            return _problem(500, exc)

    # ------------------------------------------------------------------
    # twins
    # ------------------------------------------------------------------
    def twin_get(self, req: Request, id: str) -> Response:
        return Response(200, self.client.get_digital_twin(id))

    def twin_put(self, req: Request, id: str) -> Response:
        kw: dict[str, Any] = {}
        etag = req.header("If-None-Match")
        if etag is not None:
            kw["if_none_match"] = etag
        if self.track_last_updated_by and req.user_id is not None:
            kw["user_id"] = req.user_id
        return Response(200, self.client.create_or_replace_digital_twin(id, req.body, **kw))

    def twin_patch(self, req: Request, id: str) -> Response:
        kw: dict[str, Any] = {}
        etag = req.header("If-Match")
        if etag is not None:
            kw["if_match"] = etag
        if self.track_last_updated_by and req.user_id is not None:
            kw["user_id"] = req.user_id
        self.client.update_digital_twin(id, req.body, **kw)
        return Response(204)

    def twin_delete(self, req: Request, id: str) -> Response:
        self.client.delete_digital_twin(id)
        return Response(204)

    def twins_batch(self, req: Request) -> Response:
        return Response(200, self.client.create_or_replace_digital_twins(req.body))

    def twin_search(self, req: Request) -> Response:
        """Hybrid search = the same Cypher the reference composes
        (``AgeDigitalTwinsClient.DigitalTwins.cs:1223-1249``): model
        filter + ORDER BY l2_distance LIMIT n via the query engine."""
        body = req.body or {}
        vector = body.get("vector")
        if not vector:
            raise ValueError("vector is required")
        prop = body.get("embeddingProperty") or "embedding"
        # Composed into Cypher text: the property must be a plain
        # identifier and the model filter is quote-escaped (the
        # reference's HybridSearchAsync interpolates both raw — an
        # injection surface we don't reproduce).
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", prop):
            raise ValueError(f"invalid embeddingProperty: {prop!r}")
        limit = int(body.get("limit") or 10)
        model_filter = body.get("modelFilter")
        where = (
            " WHERE t.`$metadata`.`$model` = '{}'".format(
                str(model_filter).replace("\\", "\\\\").replace("'", "\\'")
            )
            if model_filter
            else ""
        )
        cypher = (
            f"MATCH (t:Twin){where} RETURN t "
            f"ORDER BY l2_distance(t.{prop}, {json.dumps(vector)}) ASC LIMIT {limit}"
        )
        rows = self.client.query(cypher).rows
        # The reference serializes vertex.Properties — the twin docs
        return Response(
            200,
            [json.loads(r["t"]) if isinstance(r.get("t"), str) else r for r in rows],
        )

    # ------------------------------------------------------------------
    # relationships
    # ------------------------------------------------------------------
    def rels_list(self, req: Request, id: str) -> Response:
        rows = self.client.list_relationships(id, req.qparam("relationshipName"))
        return Response(200, _page_rows(rows, req))

    def rels_incoming(self, req: Request, id: str) -> Response:
        rows = self.client.list_incoming_relationships(id)
        return Response(200, _page_rows(rows, req))

    def rel_get(self, req: Request, id: str, rid: str) -> Response:
        return Response(200, self.client.get_relationship(id, rid))

    def rel_put(self, req: Request, id: str, rid: str) -> Response:
        doc = dict(req.body or {})
        # Path params win over (and backfill) body ids, like the
        # reference handler (RelationshipsEndpoints.cs:118-131)
        doc.setdefault("$sourceId", id)
        doc.setdefault("$relationshipId", rid)
        kw: dict[str, Any] = {}
        etag = req.header("If-None-Match")
        if etag is not None:
            kw["if_none_match"] = etag
        return Response(
            200, self.client.create_or_replace_relationship(id, rid, doc, **kw)
        )

    def rel_patch(self, req: Request, id: str, rid: str) -> Response:
        kw: dict[str, Any] = {}
        etag = req.header("If-Match")
        if etag is not None:
            kw["if_match"] = etag
        self.client.update_relationship(id, rid, req.body, **kw)
        return Response(204)

    def rel_delete(self, req: Request, id: str, rid: str) -> Response:
        self.client.delete_relationship(id, rid)
        return Response(204)

    def rels_batch(self, req: Request) -> Response:
        return Response(200, self.client.create_or_replace_relationships(req.body))

    # ------------------------------------------------------------------
    # components
    # ------------------------------------------------------------------
    def component_get(self, req: Request, id: str, name: str) -> Response:
        return Response(200, self.client.get_component(id, name))

    def component_patch(self, req: Request, id: str, name: str) -> Response:
        kw: dict[str, Any] = {}
        etag = req.header("If-Match")
        if etag is not None:
            kw["if_match"] = etag
        self.client.update_component(id, name, req.body, **kw)
        return Response(204)

    # ------------------------------------------------------------------
    # telemetry
    # ------------------------------------------------------------------
    def telemetry_post(self, req: Request, id: str) -> Response:
        self.client.publish_telemetry(id, req.body, message_id=req.header("Message-Id"))
        return Response(204)

    def telemetry_component_post(self, req: Request, id: str, name: str) -> Response:
        self.client.publish_telemetry(
            id, req.body, message_id=req.header("Message-Id"), component_name=name
        )
        return Response(204)

    # ------------------------------------------------------------------
    # MCP (JSON-RPC 2.0 over HTTP POST — the reference's hosted MCP
    # endpoint shape, docs/concepts/mcp-server.mdx)
    # ------------------------------------------------------------------
    def stats_get(self, req: Request) -> Response:
        tracer = getattr(self.client, "tracer", None)
        if tracer is None:
            from pg_age_digitaltwins_spark.telemetry import SOURCE_NAME

            return Response(
                200, {"source": SOURCE_NAME, "operations": {}, "recentSpans": []}
            )
        return Response(200, tracer.snapshot())

    def mcp_post(self, req: Request) -> Response:
        from pg_age_digitaltwins_spark.mcp_server import McpServer

        if getattr(self, "_mcp", None) is None:
            self._mcp = McpServer(self.client)
        resp = self._mcp.handle(req.body or {})
        # Notifications get 202-no-body (MCP streamable-HTTP contract)
        return Response(202, None) if resp is None else Response(200, resp)

    # ------------------------------------------------------------------
    # query
    # ------------------------------------------------------------------
    def query_post(self, req: Request) -> Response:
        body = req.body or {}
        query = body.get("query")
        token = body.get("continuationToken")
        if not query and not token:
            return Response(
                400,
                {
                    "error": "Invalid request body. Expected a JSON object with at "
                    "least one of 'query' or 'continuationToken' properties."
                },
            )
        # Acquire the minimum charge BEFORE running the engine so a
        # rate-limited caller is rejected without doing the work; the
        # true page charge is only known afterwards and is settled as
        # an unconditional debit (can drive the bucket negative, which
        # blocks subsequent requests until replenished).
        if self.rate_limiting and not self.limiters["query"].try_acquire(1.0):
            return Response(429, {"title": "Too many requests", "status": 429})
        page = self.client.query(
            query or "",
            max_items_per_page=req.max_items_per_page,
            continuation_token=token,
        )
        charge = self.client.query_charge(page)
        if self.rate_limiting and charge > 1.0:
            self.limiters["query"].debit(charge - 1.0)
        out: dict[str, Any] = {"value": page.rows}
        if page.continuation_token:
            out["continuationToken"] = page.continuation_token
        return Response(200, out, headers={"query-charge": str(charge)})

    # ------------------------------------------------------------------
    # OpenAPI self-description (Program.cs:311 MapOpenApi)
    # ------------------------------------------------------------------
    def openapi_get(self, req: Request) -> Response:
        """OpenAPI 3 document generated from the LIVE route table —
        paths, methods, path parameters, plus the engine-specific
        rate-limit policy and required permission as ``x-`` extensions.
        Derived (not hand-written) so route changes can never drift
        from the published contract."""
        paths: dict[str, dict] = {}
        for method, rx, handler, policy, require in self.routes:
            pattern = rx.pattern
            if pattern.startswith("^"):
                pattern = pattern[1:]
            if pattern.endswith("$"):
                pattern = pattern[:-1]
            names = list(rx.groupindex)
            path = re.sub(r"\(\?P<([A-Za-z_]\w*)>[^)]*\)", r"{\1}", pattern)
            op: dict[str, Any] = {
                "operationId": getattr(handler, "__name__", "op").replace(
                    "<lambda>", "root_get"
                ),
                "tags": [path.strip("/").split("/")[0] or "root"],
                "responses": {"200": {"description": "Success"}},
                "x-rate-limit-policy": policy,
            }
            if names:
                op["parameters"] = [
                    {
                        "name": g,
                        "in": "path",
                        "required": True,
                        "schema": {"type": "string"},
                    }
                    for g in names
                ]
            if require is not None:
                op["x-required-permission"] = (
                    f"{require.resource.value}:{require.action.value}"
                )
            paths.setdefault(path, {})[method.lower()] = op
        return Response(
            200,
            {
                "openapi": "3.0.3",
                "info": {
                    "title": "pg-age-digitaltwins-spark",
                    "version": "v1",
                },
                "paths": dict(sorted(paths.items())),
            },
        )

    # ------------------------------------------------------------------
    # health (HealthCheckEndpoints: aggregated status, 503 when degraded)
    # ------------------------------------------------------------------
    def health_get(self, req: Request) -> Response:
        if self.health is None:
            # no streaming attached: the API surface itself is the check
            return Response(200, {"status": "Healthy", "checks": {}})
        snap = self.health.snapshot()
        status = "Healthy" if snap.get("healthy") else "Unhealthy"
        return Response(200 if snap.get("healthy") else 503,
                        {"status": status, "checks": snap})

    # ------------------------------------------------------------------
    # models
    # ------------------------------------------------------------------
    def models_list(self, req: Request) -> Response:
        deps = [d for d in req.query.get("dependenciesFor", []) if d]
        include_def = (req.qparam("includeModelDefinition") or "").lower() == "true"
        rows = self.client.list_models(dependencies_for=deps or None)
        if not include_def:
            rows = [
                {k: v for k, v in m.items() if k != "model"} if "model" in m else m
                for m in rows
            ]
        return Response(200, _page_rows(rows, req))

    def models_create(self, req: Request) -> Response:
        return Response(200, self.client.create_models(req.body))

    def models_delete_all(self, req: Request) -> Response:
        self.client.delete_all_models()
        return Response(204)

    def model_get(self, req: Request, id: str) -> Response:
        # ?includeBaseModelContents=true merges contents across the
        # extends chain (ModelsEndpoints.cs:116-123)
        include = (req.qparam("includeBaseModelContents") or "").lower() == "true"
        return Response(
            200, self.client.get_model(id, include_base_model_contents=include)
        )

    def model_delete(self, req: Request, id: str) -> Response:
        self.client.delete_model(id)
        return Response(204)

    def models_search(self, req: Request) -> Response:
        body = req.body or {}
        return Response(
            200,
            self.client.search_models(
                embedding=body.get("vector"),
                text=body.get("query"),
                limit=int(body.get("limit") or 10),
            ),
        )

    # ------------------------------------------------------------------
    # graph admin (dev/test surface, GraphEndpoints.cs:11-23)
    # ------------------------------------------------------------------
    def _reset_graph(self) -> None:
        from pg_age_digitaltwins_spark.store.graph_store import GraphStore

        self.client._swap(GraphStore.empty(self.client.store.spark), logged=False)
        self.client._registry = None

    def graph_create(self, req: Request) -> Response:
        self._reset_graph()
        return Response(204)

    def graph_delete(self, req: Request) -> Response:
        self._reset_graph()
        return Response(204)

    # ------------------------------------------------------------------
    # import jobs
    # ------------------------------------------------------------------
    # JobStatus serializes camelCase over HTTP (Program.cs:295-297
    # JsonStringEnumConverter(CamelCase)): Succeeded → "succeeded",
    # PartiallySucceeded → "partiallySucceeded", …
    @staticmethod
    def _status_json(status: str) -> str:
        return status[:1].lower() + status[1:] if status else status

    def _job_json(self, rec: jobs_mod.JobRecord) -> dict[str, Any]:
        out = {
            "id": rec.id,
            "status": self._status_json(rec.status),
            "modelsCreated": rec.models_created,
            "twinsCreated": rec.twins_created,
            "relationshipsCreated": rec.relationships_created,
            "errorCount": rec.error_count,
            "errors": rec.errors,
        }
        if rec.job_type == "deletion":
            out = {
                "id": rec.id,
                "status": self._status_json(rec.status),
                "relationshipsDeleted": rec.relationships_deleted,
                "twinsDeleted": rec.twins_deleted,
                "modelsDeleted": rec.models_deleted,
                "errorCount": rec.error_count,
                "errors": rec.errors,
            }
        # lifecycle timestamps with the ADT API field names
        # (ApiService/Models/ImportJob.cs:23-38: createdDateTime /
        # lastActionDateTime / finishedDateTime / purgeDateTime,
        # camelCase per the ASP.NET serializer); epoch → ISO-8601 UTC
        from datetime import datetime, timezone

        for attr, key in (
            ("created_at", "createdDateTime"),
            ("updated_at", "lastActionDateTime"),
            ("finished_at", "finishedDateTime"),
            ("purge_at", "purgeDateTime"),
        ):
            val = getattr(rec, attr)
            if val is not None:
                out[key] = (
                    datetime.fromtimestamp(val, tz=timezone.utc)
                    .isoformat()
                    .replace("+00:00", "Z")
                )
        # ImportJob extends ImportJobRequest — responses echo the blob
        # URIs the job was created with (ImportJob.cs:8)
        uris = self._job_uris.get(rec.id)
        if uris:
            out.update(uris)
        return out

    def job_create(self, req: Request, id: str) -> Response:
        body = req.body or {}
        uri = body.get("inputBlobUri")
        if not uri:
            raise ValueError("inputBlobUri is required")
        if id in self.jobs.records:
            exc = ValueError(f"Import job with ID '{id}' already exists.")
            return _problem(409, exc)
        # Synchronous in tests; the reference runs in background and the
        # record is polled via GET — same contract, eager completion.
        # The router streams the input by provider (file/local here;
        # s3/gcs/azure raise unless a backend is registered — at scale
        # the distributed import path reads storage.spark_path(uri)).
        job = jobs_mod.ImportJob(self.client, job_service=self.jobs)
        rec = job.run(self.storage.open_read_lines(uri), id)
        self._job_inputs[id] = self.storage._local_path(uri)
        self._job_uris[id] = {"inputBlobUri": uri}
        if body.get("outputBlobUri"):
            self._job_uris[id]["outputBlobUri"] = body["outputBlobUri"]
        out_uri = body.get("outputBlobUri")
        if out_uri:
            # the reference streams a structured job log to the output
            # blob (ImportJob.cs:625-700): per-line errors + terminal
            # status line
            self.storage.write_lines(
                out_uri,
                [
                    json.dumps({"error": e}, separators=(",", ":"))
                    for e in rec.errors
                ]
                + [
                    json.dumps(
                        {"status": rec.status, "errorCount": rec.error_count},
                        separators=(",", ":"),
                    )
                ],
            )
        return Response(201, self._job_json(rec))

    def jobs_list(self, req: Request) -> Response:
        rows = [self._job_json(r) for r in self.jobs.records.values()]
        return Response(200, _page_rows(rows, req))

    def job_get(self, req: Request, id: str) -> Response:
        if id not in self.jobs.records:
            return _problem(404, KeyError(id))
        return Response(200, self._job_json(self.jobs.records[id]))

    def job_cancel(self, req: Request, id: str) -> Response:
        if id not in self.jobs.records:
            return _problem(404, KeyError(id))
        rec = self.jobs.records[id]
        if rec.status != "Running":
            return _problem(
                400, ValueError(f"Job '{id}' is not running (status={rec.status})")
            )
        rec.status = "Cancelled"
        # terminal transition: lastActionDateTime/finishedDateTime must
        # reflect the cancel, not the creation
        self.jobs.finish(rec)
        return Response(200, self._job_json(rec))

    def job_resume(self, req: Request, id: str) -> Response:
        if id not in self.jobs.records:
            return _problem(404, KeyError(id))
        rec = self.jobs.records[id]
        if rec.status not in ("Running", "Failed"):
            return _problem(
                400,
                ValueError(f"Job '{id}' is not resumable (status={rec.status})"),
            )
        cp = self.jobs.checkpoints.get(id)
        path = self._job_inputs.get(id)
        if path is None or cp is None:
            return _problem(400, ValueError(f"No checkpoint for job '{id}'"))
        job = jobs_mod.ImportJob(self.client, job_service=self.jobs)
        with open(path) as f:
            rec = job.run((line.rstrip("\n") for line in f), id, resume_from=cp)
        return Response(200, self._job_json(rec))

    def job_delete(self, req: Request, id: str) -> Response:
        if id not in self.jobs.records:
            return _problem(404, KeyError(id))
        del self.jobs.records[id]
        self.jobs.checkpoints.pop(id, None)
        self._job_inputs.pop(id, None)
        self._job_uris.pop(id, None)
        return Response(204)

    def purge_expired_jobs(self) -> int:
        """Retention sweep: purge expired job records and drop the
        API-side request bookkeeping for any job that no longer has a
        record (else ``_job_inputs``/``_job_uris`` grow for the service
        lifetime)."""
        n = self.jobs.purge_expired_jobs()
        for d in (self._job_inputs, self._job_uris):
            for jid in [j for j in d if j not in self.jobs.records]:
                d.pop(jid, None)
        return n

    # --- deletion jobs -------------------------------------------------
    def delete_job_create(self, req: Request, id: str) -> Response:
        if id in self.jobs.records:
            return _problem(409, ValueError(f"Job with ID '{id}' already exists."))
        job = jobs_mod.DeleteJob(self.client, self.jobs)
        rec = job.run(id)
        return Response(201, self._job_json(rec))

    def delete_jobs_list(self, req: Request) -> Response:
        rows = [
            self._job_json(r)
            for r in self.jobs.records.values()
            if r.job_type == "deletion"
        ]
        return Response(200, _page_rows(rows, req))

    def delete_job_get(self, req: Request, id: str) -> Response:
        rec = self.jobs.records.get(id)
        if rec is None or rec.job_type != "deletion":
            return _problem(404, KeyError(id))
        return Response(200, self._job_json(rec))

    def delete_job_remove(self, req: Request, id: str) -> Response:
        rec = self.jobs.records.get(id)
        if rec is None or rec.job_type != "deletion":
            return _problem(404, KeyError(id))
        del self.jobs.records[id]
        self.jobs.drop_delete_checkpoint(id)
        return Response(204)


# ----------------------------------------------------------------------
# stdlib socket adapter
# ----------------------------------------------------------------------


def serve(api: ApiService, host: str = "127.0.0.1", port: int = 0):
    """Mount the service on a real socket (stdlib ThreadingHTTPServer).
    Returns the server; call ``.shutdown()`` to stop.  The bound port is
    ``server.server_address[1]`` (``port=0`` picks a free one)."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _do(self, method: str) -> None:
            parsed = urllib.parse.urlsplit(self.path)
            body = None
            length = int(self.headers.get("Content-Length") or 0)
            if length:
                raw = self.rfile.read(length)
                try:
                    body = json.loads(raw)
                except json.JSONDecodeError:
                    body = raw.decode("utf-8", "replace")
            # NOTE: the path stays percent-ENCODED here — ``handle()``
            # decodes captured route values (ASP.NET route-value
            # decoding), so decoding again would corrupt ids whose
            # decoded form contains '%' (the SDK's '10%B2H6_H2' case).
            req = Request(
                method=method,
                path=parsed.path.rstrip("/") or "/",
                body=body,
                query=urllib.parse.parse_qs(parsed.query),
                headers=dict(self.headers.items()),
            )
            resp = api.handle(req)
            payload = (
                b""
                if resp.body is None
                else json.dumps(resp.body, separators=(",", ":")).encode()
            )
            self.send_response(resp.status)
            for k, v in resp.headers.items():
                self.send_header(k, v)
            if payload:
                self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            if payload:
                self.wfile.write(payload)

        def do_GET(self):
            self._do("GET")

        def do_POST(self):
            self._do("POST")

        def do_PUT(self):
            self._do("PUT")

        def do_PATCH(self):
            self._do("PATCH")

        def do_DELETE(self):
            self._do("DELETE")

    server = ThreadingHTTPServer((host, port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
