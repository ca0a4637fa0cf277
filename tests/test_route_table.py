"""The HTTP route table (`server._ROUTES`): every route states its access
rule, one dispatcher applies it, and paths match exactly.

- Every row is public, open to any authenticated principal (the handler
  filters by it), for the server administrator only, or gated by an
  RBAC action; the public and authenticated rows are listed here by
  name, so a new route must choose its rule on purpose.
- A principal with no grants gets 403 on every gated row. Each gated
  row has one sample request below; a row without a sample fails.
- An unmatched path is 404 on every method, before authentication.
- A path with segments beyond a route's pattern is 404 and acts on
  nothing (it used to act on a prefix of its segments).
"""

from __future__ import annotations

import base64
import json
import urllib.error
import urllib.request
from datetime import datetime, timedelta, timezone

import pytest

from parseable_spark.rbac import Action
from parseable_spark.server import (
    _ROUTES,
    AUTHENTICATED,
    PUBLIC,
    SUPERADMIN,
    ParseableAPI,
    serve_background,
)


def _basic(user: str, pw: str) -> dict[str, str]:
    return {"Authorization": "Basic " + base64.b64encode(f"{user}:{pw}".encode()).decode()}


ADMIN = _basic("admin", "root-pw")
NOBODY = _basic("nobody", "nopw")

PUBLIC_ROWS = {
    ("GET", "/api/v1/liveness"),
    ("GET", "/api/v1/readiness"),
    ("GET", "/api/v1/o/login"),
    ("GET", "/api/v1/o/code"),
    ("GET", "/api/v1/o/logout"),
    ("GET", "/api/v1/sse"),
}

AUTHENTICATED_ROWS = {
    ("GET", "/api/v1/about"),
    ("GET", "/api/v1/logstream"),
    ("POST", "/api/v1/logstream/schema/detect"),
    ("GET", "/api/prism/v1/home"),
    ("GET", "/api/prism/v1/home/search"),
    ("POST", "/api/prism/v1/datasets"),
    ("POST", "/api/prism/v1/apikeys/validate"),
    ("GET", "/api/v1/dashboards"),
    ("POST", "/api/v1/dashboards"),
    ("GET", "/api/v1/dashboards/list_tags"),
    ("GET", "/api/v1/dashboards/{did}"),
    ("PUT", "/api/v1/dashboards/{did}"),
    ("PUT", "/api/v1/dashboards/{did}/add_tile"),
    ("DELETE", "/api/v1/dashboards/{did}"),
}


def _window() -> dict[str, str]:
    now = datetime.now(timezone.utc)
    fmt = "%Y-%m-%dT%H:%M:%SZ"
    return {
        "startTime": (now - timedelta(minutes=10)).strftime(fmt),
        "endTime": (now + timedelta(minutes=10)).strftime(fmt),
    }


STREAM = {"x-p-stream": "s1"}
QUERY = {"query": "SELECT count(*) FROM s1", **_window()}
CORRELATION = {
    "title": "c",
    "tableConfigs": [
        {"tableName": "s1", "selectedFields": ["level"]},
        {"tableName": "s2", "selectedFields": ["level"]},
    ],
    "joinConfig": {"joinConditions": [
        {"tableName": "s1", "field": "level"},
        {"tableName": "s2", "field": "level"},
    ]},
}

# (method, pattern) of every gated row → (path, JSON body, extra headers)
# of a request that reaches the row's gate. "{cid}" is a saved correlation.
SAMPLES = {
    ("GET", "/api/v1/tenants"): ("/api/v1/tenants", None, {}),
    ("PUT", "/api/v1/tenants/{tid}"): ("/api/v1/tenants/t1", {}, {}),
    ("POST", "/api/v1/tenants/{tid}"): ("/api/v1/tenants/t1", {}, {}),
    ("DELETE", "/api/v1/tenants/{tid}"): ("/api/v1/tenants/t1", None, {}),
    ("PUT", "/api/v1/tenants/{tid}/suspend"): ("/api/v1/tenants/t1/suspend?service=query", None, {}),
    ("PUT", "/api/v1/tenants/{tid}/resume"): ("/api/v1/tenants/t1/resume?service=query", None, {}),
    ("POST", "/api/v1/ingest"): ("/api/v1/ingest", [{"a": 1}], STREAM),
    ("POST", "/v1/logs"): ("/v1/logs", {}, STREAM),
    ("POST", "/v1/metrics"): ("/v1/metrics", {}, STREAM),
    ("POST", "/v1/traces"): ("/v1/traces", {}, STREAM),
    ("POST", "/api/v1/query"): ("/api/v1/query", QUERY, {}),
    ("POST", "/api/v1/counts"): ("/api/v1/counts", {"stream": "s1", "numBins": 2, **_window()}, {}),
    ("POST", "/api/v1/services/traces/list"): ("/api/v1/services/traces/list", {"dataset": "s1"}, {}),
    ("POST", "/api/v1/services/traces/detail"): ("/api/v1/services/traces/detail", {"dataset": "s1"}, {}),
    ("POST", "/api/v1/query/context"): ("/api/v1/query/context", {"dataset": "s1"}, {}),
    ("POST", "/api/prism/v1/dataset_stats"): ("/api/prism/v1/dataset_stats", {"dataset_name": "s1"}, {}),
    ("GET", "/api/v1/livetail"): ("/api/v1/livetail?stream=s1", None, {}),
    ("GET", "/api/prism/v1/logstream/{name}/info"): ("/api/prism/v1/logstream/s1/info", None, {}),
    ("PUT", "/api/v1/logstream/{name}"): ("/api/v1/logstream/s3", None, {}),
    ("DELETE", "/api/v1/logstream/{name}"): ("/api/v1/logstream/s1", None, {}),
    ("GET", "/api/v1/logstream/{name}/schema"): ("/api/v1/logstream/s1/schema", None, {}),
    ("GET", "/api/v1/logstream/{name}/stats"): ("/api/v1/logstream/s1/stats", None, {}),
    ("GET", "/api/v1/logstream/{name}/info"): ("/api/v1/logstream/s1/info", None, {}),
    ("GET", "/api/v1/logstream/{name}/retention"): ("/api/v1/logstream/s1/retention", None, {}),
    ("GET", "/api/v1/logstream/{name}/hottier"): ("/api/v1/logstream/s1/hottier", None, {}),
    ("PUT", "/api/v1/logstream/{name}/retention"): ("/api/v1/logstream/s1/retention", [], {}),
    ("PUT", "/api/v1/logstream/{name}/hottier"): ("/api/v1/logstream/s1/hottier", {"size": "1GiB"}, {}),
    ("DELETE", "/api/v1/logstream/{name}/hottier"): ("/api/v1/logstream/s1/hottier", None, {}),
    ("POST", "/api/v1/correlation"): ("/api/v1/correlation", CORRELATION, {}),
    ("POST", "/api/v1/correlation/{cid}/run"): ("/api/v1/correlation/{cid}/run", {}, {}),
    ("GET", "/api/v1/demodata"): ("/api/v1/demodata?action=filters", None, {}),
    ("GET", "/api/v1/otel_generator"): ("/api/v1/otel_generator", None, {}),
    ("POST", "/api/v1/otel_generator"): ("/api/v1/otel_generator", {}, {}),
    ("DELETE", "/api/v1/otel_generator"): ("/api/v1/otel_generator", None, {}),
    ("GET", "/api/v1/metrics"): ("/api/v1/metrics", None, {}),
    ("GET", "/api/v1/alert-target-policy"): ("/api/v1/alert-target-policy", None, {}),
    ("PUT", "/api/v1/alert-target-policy"): ("/api/v1/alert-target-policy", {}, {}),
    ("GET", "/api/v1/cluster/info"): ("/api/v1/cluster/info", None, {}),
    ("GET", "/api/v1/cluster/metrics"): ("/api/v1/cluster/metrics", None, {}),
    ("DELETE", "/api/v1/cluster/{domain}"): ("/api/v1/cluster/localhost:1", None, {}),
    ("GET", "/api/prism/v1/apikeys"): ("/api/prism/v1/apikeys", None, {}),
    ("POST", "/api/prism/v1/apikeys"): ("/api/prism/v1/apikeys", {}, {}),
    ("GET", "/api/prism/v1/apikeys/{kid}"): ("/api/prism/v1/apikeys/k1", None, {}),
    ("DELETE", "/api/prism/v1/apikeys/{kid}"): ("/api/prism/v1/apikeys/k1", None, {}),
    ("GET", "/api/v1/user"): ("/api/v1/user", None, {}),
    ("POST", "/api/v1/user/{name}"): ("/api/v1/user/eve", {}, {}),
    ("DELETE", "/api/v1/user/{name}"): ("/api/v1/user/nobody", None, {}),
    ("POST", "/api/v1/user/{name}/generate-new-password"): (
        "/api/v1/user/nobody/generate-new-password", None, {}),
    ("GET", "/api/v1/user/{name}/role"): ("/api/v1/user/nobody/role", None, {}),
    ("PATCH", "/api/v1/user/{name}/role/add"): ("/api/v1/user/nobody/role/add", ["admin"], {}),
    ("PATCH", "/api/v1/user/{name}/role/remove"): ("/api/v1/user/nobody/role/remove", [], {}),
    ("GET", "/api/v1/users"): ("/api/v1/users", None, {}),
    ("GET", "/api/v1/users/{userid}"): ("/api/v1/users/nobody", None, {}),
    ("GET", "/api/v1/role"): ("/api/v1/role", None, {}),
    ("GET", "/api/v1/roles"): ("/api/v1/roles", None, {}),
    ("GET", "/api/v1/role/{name}"): ("/api/v1/role/r1", None, {}),
    ("GET", "/api/v1/roles/{name}"): ("/api/v1/roles/r1", None, {}),
    ("PUT", "/api/v1/role/{name}"): ("/api/v1/role/r1", [{"privilege": "admin"}], {}),
    ("DELETE", "/api/v1/role/{name}"): ("/api/v1/role/r1", None, {}),
    ("GET", "/api/v1/filters"): ("/api/v1/filters", None, {}),
    ("POST", "/api/v1/filters"): ("/api/v1/filters", {}, {}),
    ("GET", "/api/v1/filters/{fid}"): ("/api/v1/filters/f1", None, {}),
    ("DELETE", "/api/v1/filters/{fid}"): ("/api/v1/filters/f1", None, {}),
    ("GET", "/api/v1/correlation"): ("/api/v1/correlation", None, {}),
    ("GET", "/api/v1/correlation/{cid}"): ("/api/v1/correlation/{cid}", None, {}),
    ("DELETE", "/api/v1/correlation/{cid}"): ("/api/v1/correlation/{cid}", None, {}),
    ("GET", "/api/v1/targets"): ("/api/v1/targets", None, {}),
    ("POST", "/api/v1/targets"): ("/api/v1/targets", {}, {}),
    ("GET", "/api/v1/targets/{tid}"): ("/api/v1/targets/t1", None, {}),
    ("DELETE", "/api/v1/targets/{tid}"): ("/api/v1/targets/t1", None, {}),
    ("GET", "/api/v1/alerts"): ("/api/v1/alerts", None, {}),
    ("POST", "/api/v1/alerts"): ("/api/v1/alerts", {}, {}),
    ("GET", "/api/v1/alerts/{aid}"): ("/api/v1/alerts/a1", None, {}),
    ("PUT", "/api/v1/alerts/{aid}"): ("/api/v1/alerts/a1", {}, {}),
    ("DELETE", "/api/v1/alerts/{aid}"): ("/api/v1/alerts/a1", None, {}),
    ("POST", "/api/v1/alerts/{aid}/evaluate"): ("/api/v1/alerts/a1/evaluate", {}, {}),
    ("PATCH", "/api/v1/alerts/{aid}/enable"): ("/api/v1/alerts/a1/enable", None, {}),
    ("PATCH", "/api/v1/alerts/{aid}/disable"): ("/api/v1/alerts/a1/disable", None, {}),
    ("PATCH", "/api/v1/alerts/{aid}/update_notification_state"): (
        "/api/v1/alerts/a1/update_notification_state", {}, {}),
}

# paths with segments beyond a route's pattern (the row they overrun)
MALFORMED = [
    ("GET", "/api/prism/v1"),
    ("POST", "/api/v1/user/alice/role"),
    ("POST", "/api/v1/user/a/b/c"),
    ("GET", "/api/v1/user/x/y/z"),
    ("GET", "/api/v1/filters/a/b"),
    ("GET", "/api/v1/users/a/b"),
    ("GET", "/api/v1/role/a/b"),
    ("GET", "/api/v1/alerts/a/b"),
    ("PUT", "/api/v1/dashboards/a/b/c"),
    ("GET", "/api/prism/v1/apikeys/a/b"),
    ("POST", "/api/v1/alerts/a/b/evaluate"),
    ("POST", "/api/v1/correlation/a/b/run"),
]


def _call(base, method, path, body=None, headers=None, read_ok=True):
    """(status, decoded JSON body or None) of one request. With
    ``read_ok`` False a 2xx body is not read: a route that let the
    request through may stream (livetail, SSE) until the client leaves."""
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(
        base + path, data=data, method=method,
        headers={"Content-Type": "application/json", **(headers or {})},
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            status, raw = resp.status, resp.read() if read_ok else b""
    except urllib.error.HTTPError as e:
        status, raw = e.code, e.read()
    try:
        return status, json.loads(raw) if raw else None
    except ValueError:
        return status, None


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    """(base, correlation id): two streams, a saved correlation over
    them, and a user with no grants."""
    api = ParseableAPI(spark, str(tmp_path_factory.mktemp("routes")), auth=("admin", "root-pw"))
    srv, base = serve_background(api)
    try:
        for s in ("s1", "s2"):
            assert _call(base, "POST", "/api/v1/ingest", [{"level": "info"}],
                         {"x-p-stream": s, **ADMIN})[0] == 200
        assert _call(base, "POST", "/api/v1/user/nobody",
                     {"password": "nopw", "grants": []}, ADMIN)[0] == 200
        status, corr = _call(base, "POST", "/api/v1/correlation", CORRELATION, ADMIN)
        assert status == 200
        yield base, corr["id"]
    finally:
        srv.shutdown()


def test_every_row_states_its_access_rule():
    keys = [(r.method, r.pattern) for r in _ROUTES]
    assert len(keys) == len(set(keys)), "duplicate route"
    assert {k for k, r in zip(keys, _ROUTES) if r.access == PUBLIC} == PUBLIC_ROWS
    assert {k for k, r in zip(keys, _ROUTES) if r.access == AUTHENTICATED} == AUTHENTICATED_ROWS
    gated = {k for k, r in zip(keys, _ROUTES) if isinstance(r.access, Action)}
    superadmin = {k for k, r in zip(keys, _ROUTES) if r.access == SUPERADMIN}
    assert gated | superadmin | PUBLIC_ROWS | AUTHENTICATED_ROWS == set(keys)
    # every gated row carries a sample request for the 403 walk
    assert set(SAMPLES) == gated | superadmin


def test_zero_grant_user_is_forbidden_on_every_gated_row(server):
    base, cid = server
    got = {}
    for key, (path, body, headers) in SAMPLES.items():
        status, _ = _call(base, key[0], path.replace("{cid}", cid), body,
                          {**NOBODY, **headers}, read_ok=False)
        got[key] = status
    assert {k: s for k, s in got.items() if s != 403} == {}
    # nothing the user tried took effect
    assert _call(base, "GET", "/api/v1/logstream", None, ADMIN)[1] == [
        {"name": "s1"}, {"name": "s2"}
    ]


@pytest.mark.parametrize("method", ["GET", "PUT", "PATCH", "DELETE", "POST"])
def test_unmatched_path_is_404_before_authentication(server, method):
    base, _ = server
    status, body = _call(base, method, "/api/v1/no-such-route", {} if method != "GET" else None)
    assert (status, body) == (404, {"error": "no route /api/v1/no-such-route"})


@pytest.mark.parametrize("method, path", MALFORMED)
def test_segments_beyond_a_pattern_are_404_and_act_on_nothing(server, method, path):
    base, _ = server
    users = _call(base, "GET", "/api/v1/user", None, ADMIN)[1]
    status, body = _call(base, method, path, {} if method != "GET" else None, ADMIN)
    assert (status, body) == (404, {"error": f"no route {path}"})
    assert _call(base, "GET", "/api/v1/user", None, ADMIN)[1] == users
