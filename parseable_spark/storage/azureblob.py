"""Azure Blob object storage: Shared Key client, metastore backend,
and an in-process mini Blob server for protocol-level e2e tests.

Reference: ``src/storage/azure_blob.rs`` (1,176 LoC) — the second of
the reference's four object-store backends (s3.rs is covered by
objectstore.py; gcs.rs speaks S3-interop through the same module;
localfs.rs is the default FilesystemMetastore). Same Spark-first split
as the S3 module:

- **Data plane → Hadoop ABFS.** Parquet I/O against Azure belongs to
  the ``abfss://`` filesystem (hadoop-azure, JVM-side, integrated with
  Spark's committers). ``abfs_spark_conf`` maps the reference's
  AzureBlobConfig fields (azure_blob.rs:80-140: endpoint/account/
  access-key/container) onto ``spark.hadoop.fs.azure.*`` keys, and
  ``require_abfs`` fails LOUD when the hadoop-azure jar is absent.
- **Metadata plane → ``AzureMetastore``.** The five metastore
  primitives over the Blob REST API, so all engine metadata can live
  in the container alongside the data.
- **Protocol, not SDK.** No azure-storage-blob in the container and no
  network in tests; ``AzureBlobClient`` speaks the public Blob REST
  API over urllib with Shared Key authorization computed from the
  published algorithm (learn.microsoft.com/rest/api/storageservices/
  authorize-with-shared-key), and ``MiniAzureServer`` VERIFIES each
  request's signature by recomputation before acting.

Scope notes (loud, deliberate): Shared Key (account key) auth only —
the reference's AAD client-credential path (azure_blob.rs:99-127
client_id/client_secret/tenant_id) needs a token service and is
rejected with an explicit error, not silently ignored. Single-shot
Put Blob only (metadata JSON is small; block-list uploads are the
data plane's job). Batch deletion loops Delete Blob: the Blob Batch
API is multipart/mixed framing for the same per-blob subrequests, and
metadata objects number in the hundreds, not millions.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import threading
import urllib.error
import urllib.parse
import urllib.request
import xml.etree.ElementTree as ET
from dataclasses import dataclass
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any

from ..metastore import KeyMappedMetastore

API_VERSION = "2021-08-06"  # x-ms-version pinned by the client

# ---------------------------------------------------------------------------
# Shared Key authorization — from the published algorithm (2015-02-21+
# string-to-sign shape). The signing key is the BASE64-DECODED account
# key; the signature is Base64(HMAC-SHA256(key, string_to_sign)).
# ---------------------------------------------------------------------------

_STANDARD_HEADERS = (
    "content-encoding",
    "content-language",
    "content-length",
    "content-md5",
    "content-type",
    "date",
    "if-modified-since",
    "if-match",
    "if-none-match",
    "if-unmodified-since",
    "range",
)


def string_to_sign(
    *,
    method: str,
    account: str,
    path: str,
    query: list[tuple[str, str]],
    headers: dict[str, str],
) -> str:
    """Canonical string for Shared Key: 12 standard header slots (the
    empty-when-zero Content-Length rule included), then the sorted
    ``x-ms-*`` headers, then the canonicalized resource — ``/account``
    + URI path + one ``\\nname:value`` line per (decoded, lowercased,
    sorted) query parameter."""
    lower = {k.lower(): " ".join(v.split()) for k, v in headers.items()}
    if lower.get("content-length") == "0":
        lower["content-length"] = ""  # 2015-02-21+ rule
    lines = [method.upper()]
    for h in _STANDARD_HEADERS:
        # Date slot is empty when x-ms-date is signed (the usual case)
        lines.append("" if h == "date" and "x-ms-date" in lower else lower.get(h, ""))
    for name in sorted(k for k in lower if k.startswith("x-ms-")):
        lines.append(f"{name}:{lower[name]}")
    resource = f"/{account}{path}"
    params: dict[str, list[str]] = {}
    for k, v in query:
        params.setdefault(k.lower(), []).append(v)
    for name in sorted(params):
        resource += f"\n{name}:{','.join(sorted(params[name]))}"
    lines.append(resource)
    return "\n".join(lines)


def sign_shared_key(account: str, account_key_b64: str, sts: str) -> str:
    key = base64.b64decode(account_key_b64)
    mac = hmac.new(key, sts.encode("utf-8"), hashlib.sha256).digest()
    return f"SharedKey {account}:{base64.b64encode(mac).decode()}"


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


@dataclass
class AzureBlobConfig:
    """Reference AzureBlobConfig fields that matter to the protocol
    (azure_blob.rs:80-140). ``endpoint_url`` is the account endpoint,
    e.g. ``https://{account}.blob.core.windows.net`` or a local
    emulator address."""

    endpoint_url: str
    account: str
    container: str
    access_key: str = ""  # base64 account key (Shared Key auth)


class AzureError(Exception):
    def __init__(self, status: int, body: str):
        super().__init__(f"Azure Blob error {status}: {body[:200]}")
        self.status = status


class AzureBlobClient:
    """Minimal but real Blob REST client (Put/Get/Delete/Head Blob,
    List Blobs with prefix/delimiter/marker paging), Shared Key
    signed."""

    def __init__(self, cfg: AzureBlobConfig):
        if not cfg.access_key:
            raise ValueError(
                "AzureBlobClient requires an account access key (Shared Key "
                "auth). The AAD client-credential path of the reference "
                "(azure_blob.rs:99-127) is not implemented — supply "
                "P_AZR_ACCESS_KEY."
            )
        self.cfg = cfg
        self._base = cfg.endpoint_url.rstrip("/")

    def _request(
        self,
        method: str,
        key: str,
        params: list[tuple[str, str]] | None = None,
        body: bytes = b"",
        extra_headers: dict[str, str] | None = None,
    ) -> tuple[int, dict[str, str], bytes]:
        params = params or []
        path = "/" + self.cfg.container + ("/" + urllib.parse.quote(key) if key else "")
        url = self._base + path
        if params:
            url += "?" + urllib.parse.urlencode(params)
        from email.utils import formatdate

        headers = {
            # RFC 1123 via email.utils — strftime %a/%b are
            # locale-dependent and a non-C LC_TIME would break auth
            # against the real service (review finding)
            "x-ms-date": formatdate(usegmt=True),
            "x-ms-version": API_VERSION,
            **{k.lower(): v for k, v in (extra_headers or {}).items()},
        }
        if method in ("PUT", "POST"):
            headers["content-length"] = str(len(body))
            # set Content-Type OURSELVES: urllib would otherwise add a
            # form-encoded default to the wire that the signature never
            # covered, and a verifying server must reject that
            headers.setdefault("content-type", "application/octet-stream")
        sts = string_to_sign(
            method=method,
            account=self.cfg.account,
            path=path,
            query=params,
            headers=headers,
        )
        headers["Authorization"] = sign_shared_key(
            self.cfg.account, self.cfg.access_key, sts
        )
        def attempt() -> tuple[int, dict[str, str], bytes]:
            req = urllib.request.Request(
                url,
                data=body if method in ("PUT", "POST") else None,
                method=method,
                headers=headers,
            )
            try:
                with urllib.request.urlopen(req, timeout=60) as resp:
                    return resp.status, dict(resp.headers), resp.read()
            except urllib.error.HTTPError as e:
                return e.code, dict(e.headers), e.read()

        # transient 5xx/429/connection failures retry with backoff —
        # the object_store crate's default the reference relies on
        # (r11 review; the Shared Key signature covers x-ms-date, which
        # Azure accepts within a 15-minute skew, so re-sends stay valid)
        from .net import with_retries

        return with_retries(attempt)

    # -- blob ops ----------------------------------------------------------
    def put_blob(self, key: str, body: bytes) -> None:
        # Content-MD5 occupies a signed slot in the string-to-sign, so
        # sending it extends the signature over the payload (Shared Key
        # itself only covers Content-Length); the service rejects a
        # body that does not hash to it.
        md5 = base64.b64encode(hashlib.md5(body).digest()).decode()
        st, _, out = self._request(
            "PUT",
            key,
            body=body,
            extra_headers={"x-ms-blob-type": "BlockBlob", "content-md5": md5},
        )
        if st != 201:
            raise AzureError(st, out.decode(errors="replace"))

    def get_blob(self, key: str) -> bytes | None:
        st, _, out = self._request("GET", key)
        if st == 404:
            return None
        if st != 200:
            raise AzureError(st, out.decode(errors="replace"))
        return out

    def head_blob(self, key: str) -> bool:
        st, _, _ = self._request("HEAD", key)
        if st == 200:
            return True
        if st == 404:
            return False
        raise AzureError(st, "HEAD failed")

    def delete_blob(self, key: str) -> None:
        st, _, out = self._request("DELETE", key)
        if st not in (202, 404):
            raise AzureError(st, out.decode(errors="replace"))

    def delete_blobs(self, keys: list[str]) -> None:
        for k in keys:
            self.delete_blob(k)

    def list_blobs(
        self,
        prefix: str = "",
        delimiter: str = "",
        max_results: int = 1000,
        paged: bool = True,
    ) -> tuple[list[str], list[str]]:
        """All (blob names, blob prefixes) under ``prefix``, paging
        through NextMarker. ``paged=False`` issues exactly ONE request
        (first page only) — the existence-probe shape, where paging to
        exhaustion would turn one question into N round trips (review
        finding)."""
        names: list[str] = []
        prefixes: list[str] = []
        marker = ""
        while True:
            params = [("restype", "container"), ("comp", "list"),
                      ("maxresults", str(max_results))]
            if prefix:
                params.append(("prefix", prefix))
            if delimiter:
                params.append(("delimiter", delimiter))
            if marker:
                params.append(("marker", marker))
            st, _, out = self._request("GET", "", params=params)
            if st != 200:
                raise AzureError(st, out.decode(errors="replace"))
            doc = ET.fromstring(out)
            for b in doc.iter("Blob"):
                names.append(b.findtext("Name"))
            for p in doc.iter("BlobPrefix"):
                prefixes.append(p.findtext("Name"))
            marker = doc.findtext("NextMarker") or ""
            if not marker or not paged:
                return names, prefixes

    def check(self) -> None:
        """Connectivity + credential probe (reference ``check``)."""
        key = ".parseable.json"
        self.put_blob(key, b"{}")
        if self.get_blob(key) != b"{}":
            raise AzureError(500, "check round-trip mismatch")
        self.delete_blob(key)


# ---------------------------------------------------------------------------
# Metastore backend
# ---------------------------------------------------------------------------


class AzureMetastore(KeyMappedMetastore):
    """Azure Blob transport verbs for the shared key-mapped metastore
    (mapping + primitive semantics live in ``KeyMappedMetastore`` so
    they cannot drift from the S3 backend's; Put Blob is atomic per
    blob, satisfying put_json's contract)."""

    def __init__(self, client: AzureBlobClient, root: str, key_prefix: str = "meta"):
        super().__init__(root, key_prefix)
        self.client = client

    def _get(self, key: str) -> bytes | None:
        return self.client.get_blob(key)

    def _put(self, key: str, body: bytes) -> None:
        self.client.put_blob(key, body)

    def _head(self, key: str) -> bool:
        return self.client.head_blob(key)

    def _list(self, prefix, delimiter=None, max_n=None, paged=True):
        return self.client.list_blobs(
            prefix=prefix,
            delimiter=delimiter or "",
            max_results=max_n if max_n is not None else 1000,
            paged=paged,
        )

    def _delete_many(self, keys: list[str]) -> None:
        self.client.delete_blobs(keys)


def azure_config_from_env(env: dict[str, str] | None = None) -> AzureBlobConfig:
    """The reference's ``blob-store`` mode configuration, same env vars
    (azure_blob.rs:80-140): P_AZR_URL / P_AZR_ACCOUNT / P_AZR_CONTAINER
    required; P_AZR_ACCESS_KEY for Shared Key auth. The AAD triple
    (P_AZR_CLIENT_ID/SECRET/TENANT_ID) is detected and rejected loudly
    rather than silently ignored."""
    import os

    e = os.environ if env is None else env
    missing = [
        k for k in ("P_AZR_URL", "P_AZR_ACCOUNT", "P_AZR_CONTAINER") if not e.get(k)
    ]
    if missing:
        raise ValueError(f"blob-store mode requires env: {', '.join(missing)}")
    if not e.get("P_AZR_ACCESS_KEY"):
        if e.get("P_AZR_CLIENT_ID") or e.get("P_AZR_CLIENT_SECRET"):
            raise ValueError(
                "AAD client-credential auth (P_AZR_CLIENT_ID/...) is not "
                "implemented; use P_AZR_ACCESS_KEY (Shared Key)"
            )
        raise ValueError("blob-store mode requires env: P_AZR_ACCESS_KEY")
    return AzureBlobConfig(
        endpoint_url=e["P_AZR_URL"],
        account=e["P_AZR_ACCOUNT"],
        container=e["P_AZR_CONTAINER"],
        access_key=e["P_AZR_ACCESS_KEY"],
    )


def use_azure_storage(root: str, cfg: AzureBlobConfig | None = None) -> dict[str, str]:
    """Boot-time wiring for blob-store mode: install the Azure
    metastore over ``root`` and return the abfs conf for the parquet
    data plane (same hybrid semantics as use_s3_storage)."""
    from ..metastore import set_metastore

    cfg = cfg or azure_config_from_env()
    set_metastore(AzureMetastore(AzureBlobClient(cfg), root))
    return abfs_spark_conf(cfg)


# ---------------------------------------------------------------------------
# Data plane: Hadoop ABFS conf mapping + loud capability check
# ---------------------------------------------------------------------------


def abfs_spark_conf(cfg: AzureBlobConfig) -> dict[str, str]:
    """``spark.hadoop.fs.azure.*`` conf for this account — what a
    deployment passes so ``data_root_uri`` paths resolve. ABFS commits
    via real renames (hierarchical namespace), so no special committer
    is needed, unlike s3a. The listing threshold goes back to Spark's
    default, as for s3a (REMOTE_LISTING_CONF)."""
    from ..session import REMOTE_LISTING_CONF

    host = f"{cfg.account}.dfs.core.windows.net"
    return {
        **REMOTE_LISTING_CONF,
        f"spark.hadoop.fs.azure.account.key.{host}": cfg.access_key,
        "spark.hadoop.fs.azure.account.auth.type": "SharedKey",
    }


def data_root_uri(cfg: AzureBlobConfig, prefix: str = "data") -> str:
    return f"abfss://{cfg.container}@{cfg.account}.dfs.core.windows.net/{prefix}"


def require_abfs(spark) -> None:
    """Fail loud when the ABFS filesystem isn't on the classpath (the
    hadoop-azure jar is NOT bundled with pyspark)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.hadoop.fs.azurebfs.AzureBlobFileSystem"
        )
    except Exception as e:
        raise RuntimeError(
            "abfs data plane unavailable: org.apache.hadoop.fs.azurebfs."
            "AzureBlobFileSystem not on the classpath. Add hadoop-azure "
            "matching your Hadoop version, e.g. "
            "--packages org.apache.hadoop:hadoop-azure:3.4.1 . "
            "The Azure metastore works without it; parquet I/O does not."
        ) from e


# ---------------------------------------------------------------------------
# Mini Azure Blob server (test double) — verifies Shared Key on every
# request
# ---------------------------------------------------------------------------


class MiniAzureServer:
    """In-process Blob endpoint over in-memory objects.

    Implements exactly what the client speaks: Put/Get/Delete/Head
    Blob and List Blobs (prefix/delimiter/maxresults/marker) — and
    authenticates every request by recomputing its Shared Key
    signature from the raw request line, received headers, and
    account-key table, so a wrong key, a tampered path, or a tampered
    body all fail 403 in tests the same way they would against the
    real endpoint."""

    def __init__(self, accounts: dict[str, str]):
        self.accounts = dict(accounts)  # account -> base64 key
        self.objects: dict[str, dict[str, bytes]] = {}  # container -> key -> body
        self._lock = threading.RLock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # silent
                pass

            def _fail(self, status: int, code: str) -> None:
                body = f"<Error><Code>{code}</Code></Error>".encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/xml")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if self.command != "HEAD":
                    self.wfile.write(body)

            def _ok(self, body: bytes = b"", status: int = 200) -> None:
                self.send_response(status)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                if self.command != "HEAD" and body:
                    self.wfile.write(body)

            def _read_body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            def _verify(self, body: bytes) -> bool:
                auth = self.headers.get("Authorization", "")
                if not auth.startswith("SharedKey "):
                    return False
                try:
                    account, got_sig = auth[len("SharedKey ") :].split(":", 1)
                except ValueError:
                    return False
                key_b64 = outer.accounts.get(account)
                if key_b64 is None:
                    return False
                raw_path, _, raw_q = self.path.partition("?")
                pairs = urllib.parse.parse_qsl(raw_q, keep_blank_values=True)
                headers = {k: v for k, v in self.headers.items()}
                # the wire carries Content-Length for bodied requests;
                # mirror what the client signed
                sts = string_to_sign(
                    method=self.command,
                    account=account,
                    path=raw_path,
                    query=pairs,
                    headers=headers,
                )
                expect = sign_shared_key(account, key_b64, sts)
                return hmac.compare_digest(expect.split(":", 1)[1], got_sig)

            def _route(self) -> None:
                body = self._read_body()
                if not self._verify(body):
                    self._fail(403, "AuthenticationFailed")
                    return
                raw_path, _, raw_q = self.path.partition("?")
                q = dict(urllib.parse.parse_qsl(raw_q, keep_blank_values=True))
                path = urllib.parse.unquote(raw_path)
                _, _, rest = path.partition("/")
                container, _, key = rest.partition("/")
                if not container:
                    self._fail(400, "InvalidUri")
                    return
                with outer._lock:
                    store = outer.objects.setdefault(container, {})
                    if self.command == "PUT":
                        if self.headers.get("x-ms-blob-type") != "BlockBlob":
                            self._fail(400, "MissingRequiredHeader")
                            return
                        md5 = self.headers.get("Content-MD5")
                        if md5 is not None and md5 != base64.b64encode(
                            hashlib.md5(body).digest()
                        ).decode():
                            self._fail(400, "Md5Mismatch")
                            return
                        store[key] = body
                        self._ok(status=201)
                    elif self.command in ("GET", "HEAD") and key:
                        if key not in store:
                            self._fail(404, "BlobNotFound")
                        else:
                            self._ok(store[key])
                    elif self.command == "GET" and q.get("comp") == "list":
                        self._list(store, q)
                    elif self.command == "DELETE":
                        if store.pop(key, None) is None:
                            self._fail(404, "BlobNotFound")
                        else:
                            self._ok(status=202)
                    else:
                        self._fail(400, "InvalidRequest")

            def _list(self, store: dict[str, bytes], q: dict[str, str]) -> None:
                prefix = q.get("prefix", "")
                delim = q.get("delimiter", "")
                max_results = int(q.get("maxresults", "5000"))
                after = q.get("marker", "")
                names = sorted(k for k in store if k.startswith(prefix) and k > after)
                from .objectstore import paginate_listing

                blobs, prefixes, truncated, marker = paginate_listing(
                    names, prefix, delim, max_results
                )
                from xml.sax.saxutils import escape

                xml = ["<EnumerationResults><Blobs>"]
                for k in blobs:
                    xml.append(f"<Blob><Name>{escape(k)}</Name></Blob>")
                for p in prefixes:
                    xml.append(f"<BlobPrefix><Name>{escape(p)}</Name></BlobPrefix>")
                xml.append("</Blobs>")
                if truncated:
                    xml.append(f"<NextMarker>{escape(marker)}</NextMarker>")
                xml.append("</EnumerationResults>")
                self._ok("".join(xml).encode())

            do_GET = do_PUT = do_POST = do_DELETE = do_HEAD = _route

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def endpoint_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def start(self) -> "MiniAzureServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
