"""Multi-tenant workspace management.

Reference parity:
- ``TenantMetadata`` registry with per-tenant metadata and per-service
  suspend/resume (src/tenants/mod.rs:35-161);
- tenant lifecycle ``add_tenant`` / ``suspend_tenant_service`` /
  ``resume_tenant_service`` / ``delete_tenant`` / ``load_tenants`` /
  ``list_tenants`` (src/parseable/mod.rs:1178-1332);
- tenant-id validation ``^[a-zA-Z0-9][a-zA-Z0-9_-]{0,35}$``, never
  "default" (src/parseable/mod.rs:113-121);
- the ``x-p-tenant`` / ``intra-cluster-tenant`` request headers and the
  ``P_MULTI_TENANCY`` switch (src/handlers/mod.rs:44,
  src/handlers/http/middleware.rs:150-260, src/cli.rs:248-256,711).

Architecture: each tenant is a full :class:`ParseableAPI` instance — its
own storage root (``<root>/_tenants/<id>``), stream stores, RBAC users/
roles, alerts, dashboards, filters, API keys — sharing ONE SparkSession.
Cross-tenant isolation inside the shared session is enforced by the
query engine's global view lock + view-ownership registry
(query/engine.py): a tenant's query can never resolve another tenant's
temp view. This is the whole-instance analog of the reference's
per-tenant maps (users, streams, dashboards all keyed by tenant id) and
is deliberately wholesale: there is no per-route tenant plumbing to get
wrong, because every route dispatches through the tenant's own API
object.

The ``_tenants`` directory name starts with an underscore so it can
never collide with a default-tenant stream directory (stream names must
start alphanumeric — server.validate_stream_name), the same injectivity
trick as rbac.tenant_view_name. The reference instead mixes tenant dirs
and streams at the storage root and distinguishes them by metadata
probing (src/parseable/mod.rs:1266-1322); a reserved prefix needs no
probe and no "delete invalid directory" repair path.

Quota fields (``ingestionQuota``/``quotaPeriod``) are stored and served
exactly like the reference OSS tree, which persists them in
StorageMetadata (src/storage/store_metadata.rs:57-108) but ships no OSS
enforcement hook.
"""

from __future__ import annotations

import json
import os
import re
import threading
from dataclasses import dataclass, field
from typing import Any

from .rbac import DEFAULT_TENANT, Action

TENANT_ID_HEADER = "x-p-tenant"
INTRA_CLUSTER_TENANT_HEADER = "intra-cluster-tenant"
TENANTS_DIRNAME = "_tenants"
TENANT_META_FILE = "tenant.json"

_TENANT_ID_RE = re.compile(r"^[a-zA-Z0-9][a-zA-Z0-9_-]{0,35}$")

# reference Service enum (src/tenants/mod.rs:45-51)
SERVICES = ("ingest", "query", "workspace")


class TenantNotFound(KeyError):
    def __init__(self, tenant_id: str) -> None:
        super().__init__(tenant_id)
        self.tenant_id = tenant_id

    def __str__(self) -> str:  # reference src/tenants/mod.rs:159-161
        return f"Tenant not found: {self.tenant_id}"


def validate_tenant_id(tenant_id: str) -> None:
    """Reference validate_tenant_id (src/parseable/mod.rs:113-121)."""
    if not _TENANT_ID_RE.match(tenant_id):
        raise ValueError(
            "tenant ID should follow regex- ^[a-zA-Z0-9][a-zA-Z0-9_-]{0,35}$"
        )
    if tenant_id == DEFAULT_TENANT:
        raise ValueError(f"tenant ID can't be {DEFAULT_TENANT}")


@dataclass
class TenantMeta:
    """Per-tenant StorageMetadata subset the tenant APIs don't already
    persist themselves (reference src/storage/store_metadata.rs:77-108:
    users/roles/streams live with the tenant's own config; these are the
    workspace-level fields)."""

    customer_name: str | None = None
    start_date: str | None = None
    end_date: str | None = None
    plan: str | None = None
    ingestion_quota: dict[str, Any] | None = None  # {"type", "limit"}
    quota_period: str | None = None  # Monthly | Yearly | Lifetime
    suspended_services: set[str] = field(default_factory=set)

    def to_json(self) -> dict[str, Any]:
        return {
            "customerName": self.customer_name,
            "startDate": self.start_date,
            "endDate": self.end_date,
            "plan": self.plan,
            "ingestionQuota": self.ingestion_quota,
            "quotaPeriod": self.quota_period,
            "suspendedServices": sorted(self.suspended_services) or None,
        }

    @classmethod
    def from_json(cls, obj: dict[str, Any]) -> "TenantMeta":
        return cls(
            customer_name=obj.get("customerName"),
            start_date=obj.get("startDate"),
            end_date=obj.get("endDate"),
            plan=obj.get("plan"),
            ingestion_quota=obj.get("ingestionQuota"),
            quota_period=obj.get("quotaPeriod"),
            suspended_services=set(obj.get("suspendedServices") or []),
        )


class TenantManager:
    """Owns the per-tenant ParseableAPI instances and their metadata.

    ``multi_tenant`` mirrors ``P_MULTI_TENANCY`` (src/cli.rs:248-256):
    when False, tenant creation errors and the HTTP layer rejects the
    tenant header outright (middleware.rs:380-389)."""

    def __init__(self, default_api, multi_tenant: bool | None = None) -> None:
        if multi_tenant is None:
            multi_tenant = os.environ.get("P_MULTI_TENANCY", "false").lower() in (
                "1",
                "true",
            )
        self.multi_tenant = bool(multi_tenant)
        self.default_api = default_api
        self._apis: dict[str, Any] = {DEFAULT_TENANT: default_api}
        self._meta: dict[str, TenantMeta] = {}
        self._lock = threading.RLock()
        # all tenants' hot tiers cache onto ONE volume: each API's
        # disk-capacity gate must count every OTHER tenant's quota
        # (server.put_hot_tier; review finding)
        default_api._peer_hottier_bytes = self._peer_hottier_bytes_fn(
            default_api
        )
        if self.multi_tenant:
            self._load_tenants()

    def _peer_hottier_bytes_fn(self, owner_api):
        def total() -> int:
            # LOCK-FREE by design (r7 review): the caller holds its own
            # API lock (put_hot_tier), and taking the manager lock here
            # inverted against tenant_of_credentials (manager → api),
            # deadlocking the whole server. Reads go through atomic
            # snapshots: dict.copy() is a single C-level op, so neither
            # the api registry nor a peer's store dict can change size
            # under the iteration (the old raw iteration 500'd on a
            # concurrent stream creation). Peer API locks are NOT taken
            # either — two concurrent PUTs would otherwise deadlock
            # api_A↔api_B.
            out = 0
            for api in list(self._apis.copy().values()):
                if api is owner_api:
                    continue
                for s in list(api._stores.copy().values()):
                    ht = getattr(s, "hot_tier", None)
                    if ht is not None:
                        # UNUSED headroom only — cached bytes are
                        # already inside disk_usage().used (same
                        # double-count the r7 review fixed for
                        # same-API tiers)
                        out += max(ht.size_limit - ht.used_bytes(), 0)
            return out

        return total

    # -- storage layout -------------------------------------------------------
    def tenant_root(self, tenant_id: str) -> str:
        return os.path.join(self.default_api.root, TENANTS_DIRNAME, tenant_id)

    def _meta_path(self, tenant_id: str) -> str:
        return os.path.join(self.tenant_root(tenant_id), TENANT_META_FILE)

    def _persist_meta(self, tenant_id: str) -> None:
        from .migration import save_versioned

        save_versioned(
            "tenant", self._meta_path(tenant_id), self._meta[tenant_id].to_json(), indent=2
        )

    def _build_api(self, tenant_id: str):
        from .server import ParseableAPI

        # the server's built-in credential pair acts as the reference's
        # SuperAdmin across every tenant (middleware.rs:359); tenant
        # users are created through the tenant's own RBAC routes
        api = ParseableAPI(
            self.default_api.spark,
            self.tenant_root(tenant_id),
            time_col=self.default_api.time_col,
            auth=self.default_api.auth,
            oidc=None,
            tenant=tenant_id,
        )
        api._peer_hottier_bytes = self._peer_hottier_bytes_fn(api)
        return api

    def _load_tenants(self) -> None:
        """Boot-time discovery (reference load_tenants,
        src/parseable/mod.rs:1266-1322): every ``_tenants/<id>`` dir with
        a tenant.json re-registers; invalid ids are skipped (never
        deleted — we don't own dirs we can't parse)."""
        base = os.path.join(self.default_api.root, TENANTS_DIRNAME)
        from .metastore import get_metastore
        from .migration import load_versioned

        ms = get_metastore()
        for tid in ms.list_dirs(base):
            mpath = os.path.join(base, tid, TENANT_META_FILE)
            if not ms.exists(mpath):
                continue
            try:
                validate_tenant_id(tid)
            except ValueError:
                continue
            try:
                obj = load_versioned("tenant", mpath)
            except Exception:  # noqa: BLE001
                # one torn/hand-edited tenant.json must not abort boot
                # and take every healthy tenant offline — the contract
                # says unparseable dirs are skipped, never deleted
                import logging

                logging.getLogger(__name__).exception(
                    "skipping unparseable tenant metadata %s", mpath
                )
                continue
            self._meta[tid] = TenantMeta.from_json(obj or {})
            self._apis[tid] = self._build_api(tid)

    # -- lifecycle (reference src/parseable/mod.rs:1178-1263) -----------------
    def add_tenant(
        self,
        tenant_id: str,
        meta: TenantMeta | None = None,
        adopt_existing: bool = False,
    ):
        if not self.multi_tenant:
            raise ValueError("P_MULTI_TENANCY is set to false")
        validate_tenant_id(tenant_id)
        with self._lock:
            if tenant_id in self._apis:
                raise ValueError(f"Tenant with id- {tenant_id} already exists")
            # case-insensitive collision check: on a case-insensitive
            # filesystem 'Acme' and 'acme' share tenant_root — building
            # a second API over the same directory would load the other
            # tenant's users/API keys/streams (cross-tenant breach) and
            # clobber its tenant.json (r7 review)
            clash = next(
                (t for t in self._apis if t.lower() == tenant_id.lower()), None
            )
            if clash is not None:
                raise ValueError(
                    f"tenant id {tenant_id!r} collides case-insensitively "
                    f"with existing tenant {clash!r}"
                )
            # a retained root WITHOUT tenant.json is a deleted tenant's
            # remains (delete_tenant tombstones only the registration):
            # building an API over it would silently resurrect the old
            # tenant's users, API keys, and streams under the "new" id —
            # the old credentials would authenticate against it. Require
            # an explicit opt-in to adopt the retained data.
            root = self.tenant_root(tenant_id)
            from .metastore import get_metastore

            ms = get_metastore()
            if (
                not adopt_existing
                and not ms.exists(self._meta_path(tenant_id))
                # exists(root) catches roots retaining only FILES —
                # _config.json holds the deleted tenant's users and API
                # keys even when every stream dir is gone, and
                # list_dirs alone missed it (r7 review: the old
                # credentials silently authenticated against the new
                # tenant)
                and (ms.list_dirs(root) or ms.exists(root))
            ):
                raise ValueError(
                    f"tenant id {tenant_id!r} has retained storage from a "
                    f"deleted tenant (users/API keys/streams would be "
                    f"resurrected); pass adopt_existing=True to re-attach "
                    f"it deliberately, or purge {root!r} first"
                )
            self._meta[tenant_id] = meta or TenantMeta()
            self._persist_meta(tenant_id)
            self._apis[tenant_id] = self._build_api(tenant_id)
            return self._apis[tenant_id]

    def delete_tenant(self, tenant_id: str) -> None:
        """Drop the tenant's in-memory state — users, sessions,
        streams, views (reference delete_tenant drops the per-tenant
        maps but leaves stream storage; src/parseable/mod.rs:1238-1263)
        — AND tombstone its registration durably: ``tenant.json`` is
        deleted through the metastore seam so ``_load_tenants`` cannot
        silently resurrect the tenant (with all its users and API keys)
        on restart. Stream data under the tenant root is retained,
        matching the reference's leave-storage semantics."""
        from .metastore import get_metastore

        with self._lock:
            if tenant_id == DEFAULT_TENANT:
                raise ValueError("cannot delete the default tenant")
            api = self._apis.pop(tenant_id, None)
            if api is None:
                raise TenantNotFound(tenant_id)
            self._meta.pop(tenant_id, None)
            get_metastore().delete_prefix(self._meta_path(tenant_id))
        # slow teardown OUTSIDE the manager lock (r7 review):
        # scheduler.stop() joins the alert thread (up to 5 s mid-
        # evaluate) and would stall tenant resolution for every
        # in-flight request; the tenant is already unregistered above,
        # so nothing can route to it meanwhile
        for name in list(api._stores):
            api.engine.deregister_stream(name)
        api.scheduler.stop()

    def api_for(self, tenant_id: str):
        api = self._apis.get(tenant_id)
        if api is None:
            raise TenantNotFound(tenant_id)
        return api

    def list_tenants(self) -> list[dict[str, Any]]:
        with self._lock:
            return [
                {"tenantId": tid, **self._meta[tid].to_json()}
                for tid in sorted(self._meta)
            ]

    def get_meta(self, tenant_id: str) -> TenantMeta:
        if tenant_id not in self._meta:
            raise TenantNotFound(tenant_id)
        return self._meta[tenant_id]

    def update_meta(self, tenant_id: str, body: dict[str, Any]) -> None:
        """Reference update_tenant_meta (src/tenants/mod.rs:70-91):
        workspace fields are replaced wholesale."""
        with self._lock:
            m = self.get_meta(tenant_id)
            m.customer_name = body.get("customerName")
            m.start_date = body.get("startDate")
            m.end_date = body.get("endDate")
            m.plan = body.get("plan")
            m.ingestion_quota = body.get("ingestionQuota")
            m.quota_period = body.get("quotaPeriod")
            self._persist_meta(tenant_id)

    # -- suspension (reference src/tenants/mod.rs:101-149,
    #    src/parseable/mod.rs:1200-1236: in-memory + persisted) --------------
    def suspend_service(self, tenant_id: str, service: str) -> None:
        if service not in SERVICES:
            raise ValueError(f"unknown service {service!r} (one of {SERVICES})")
        with self._lock:
            self.get_meta(tenant_id).suspended_services.add(service)
            self._persist_meta(tenant_id)

    def resume_service(self, tenant_id: str, service: str) -> None:
        if service not in SERVICES:
            raise ValueError(f"unknown service {service!r} (one of {SERVICES})")
        with self._lock:
            self.get_meta(tenant_id).suspended_services.discard(service)
            self._persist_meta(tenant_id)

    def is_action_suspended(self, tenant_id: str, action: Action) -> str | None:
        """Reference is_action_suspended (src/tenants/mod.rs:123-142):
        message when the (tenant, action) pair is suspended, else None.
        The default tenant is never suspended."""
        if tenant_id == DEFAULT_TENANT:
            return None
        meta = self._meta.get(tenant_id)
        if meta is None:
            raise TenantNotFound(tenant_id)
        s = meta.suspended_services
        if "ingest" in s and action is Action.INGEST:
            return "Ingestion is suspended for your workspace"
        if "query" in s and action is Action.QUERY:
            return "Querying is suspended for your workspace"
        if "workspace" in s:
            return "Your workspace is suspended"
        return None

    def is_workspace_suspended(self, tenant_id: str) -> bool:
        meta = self._meta.get(tenant_id)
        return meta is not None and "workspace" in meta.suspended_services

    # -- request-side helpers (middleware.rs tenant derivation) ---------------
    def tenant_of_credentials(self, probe) -> list[str]:
        """Every tenant whose user store authenticates the request,
        default first — ``probe(api)`` returns a principal or None.
        Used both to derive the tenant when no header is supplied
        (middleware.rs:361-377 derives it from the authenticated user)
        and to distinguish 403 wrong-tenant from 401 unknown."""
        out = []
        # snapshot under the lock, probe OUTSIDE it: each probe takes
        # that API's own lock (possibly contended by a slow request),
        # and holding the manager lock across them serialized every
        # header-less request behind the slowest tenant (r7 review —
        # this is also the manager→api edge of the former ABBA
        # deadlock, kept one-directional now)
        with self._lock:
            apis = dict(self._apis)
        ids = [DEFAULT_TENANT] + sorted(t for t in apis if t != DEFAULT_TENANT)
        for tid in ids:
            # '*' (built-in admin / open server) matches everywhere
            # the same credential pair is configured — the
            # SuperAdmin analog; tenant users match only their home
            if probe(apis[tid]) is not None:
                out.append(tid)
        return out
