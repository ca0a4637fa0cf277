"""S3-compatible object storage: SigV4 client, metastore backend, and
an in-process mini S3 server for protocol-level e2e tests.

Reference: ``src/storage/s3.rs`` (1,456 LoC), ``azure_blob.rs``,
``gcs.rs``, ``localfs.rs`` — the reference hand-rolls four object-store
backends because it IS the data plane: it uploads every parquet part
itself (multipart at ``s3.rs:719-861``), serves reads through its own
client, and hosts all metadata JSON on the same store.

The Spark-first split is different, and this module implements exactly
the part that remains OURS:

- **Data plane → Spark/Hadoop s3a.** On a cluster, parquet I/O against
  S3 belongs to the `s3a://` filesystem (multipart upload, ranged
  reads, retries, IAM — all JVM-side, already integrated with Spark's
  committers). ``s3a_spark_conf`` maps the reference's S3Config fields
  (``s3.rs:88-150``: endpoint/region/bucket/keys/path-style) onto the
  exact ``spark.hadoop.fs.s3a.*`` keys, and ``require_s3a`` fails LOUD
  when the hadoop-aws jars are absent (they are not bundled with
  pyspark — same posture as the Kafka connector pin and the codec
  seam: no silent fallback).
- **Metadata plane → ``S3Metastore``.** The engine's metastore seam
  (metastore.py) needs five primitives; this implements them over the
  S3 REST API so ALL engine metadata (manifests, snapshots, schemas,
  users, tenants, stream config) can live in the same bucket the data
  does — the reference's object_store_metastore.rs arrangement.
- **Protocol, not SDK.** The container has no boto3 and tests have no
  network; ``S3Client`` speaks the public S3 REST API over urllib with
  AWS Signature Version 4 computed from the published algorithm
  (docs.aws.amazon.com/IAM/latest/UserGuide/create-signed-request.html)
  and ``MiniS3Server`` is an in-process server that VERIFIES each
  request's signature by recomputation before acting — so the e2e
  tests prove the bytes on the wire, not a mock. GCS interop mode
  speaks this same protocol against its public endpoint (wired by
  storage/boot.py ``gcs-store``); Azure Blob has its own Shared Key
  signer in storage/azureblob.py.

Scope notes (loud, deliberate): single-object PUT only (metadata JSON
is small; parquet uploads are s3a's job, so client-side multipart is
intentionally NOT reimplemented); no IMDS/STS credential chain (static
keys or pre-signed environments); MiniS3Server is a test double —
in-memory, single node, no versioning.
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
from typing import Any, Iterable

from ..metastore import KeyMappedMetastore

# ---------------------------------------------------------------------------
# AWS Signature Version 4 — from the published algorithm. S3 uses
# single-encoding for the canonical URI (the raw request path is signed
# as sent); unreserved characters per RFC 3986.
# ---------------------------------------------------------------------------

_UNRESERVED = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~")


def uri_encode(value: str, *, encode_slash: bool = True) -> str:
    out = []
    for ch in value:
        if ch in _UNRESERVED or (ch == "/" and not encode_slash):
            out.append(ch)
        else:
            out.append("".join(f"%{b:02X}" for b in ch.encode("utf-8")))
    return "".join(out)


def canonical_query(params: Iterable[tuple[str, str]]) -> str:
    enc = sorted((uri_encode(k), uri_encode(v)) for k, v in params)
    return "&".join(f"{k}={v}" for k, v in enc)


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode("utf-8"), hashlib.sha256).digest()


def signing_key(secret_key: str, date: str, region: str, service: str) -> bytes:
    k = _hmac(("AWS4" + secret_key).encode("utf-8"), date)
    k = _hmac(k, region)
    k = _hmac(k, service)
    return _hmac(k, "aws4_request")


def sign_request(
    *,
    method: str,
    canonical_uri: str,
    query: str,
    headers: dict[str, str],
    signed_headers: list[str],
    payload_hash: str,
    access_key: str,
    secret_key: str,
    region: str,
    amz_date: str,
    service: str = "s3",
) -> str:
    """Authorization header value for the given request parts.

    ``headers`` must contain every name in ``signed_headers`` (names
    case-insensitive); ``amz_date`` is YYYYMMDD'T'HHMMSS'Z'.
    """
    lower = {k.lower(): " ".join(v.split()) for k, v in headers.items()}
    names = sorted(h.lower() for h in signed_headers)
    canon_headers = "".join(f"{h}:{lower[h]}\n" for h in names)
    signed = ";".join(names)
    canonical = "\n".join(
        [method, canonical_uri, query, canon_headers, signed, payload_hash]
    )
    date = amz_date[:8]
    scope = f"{date}/{region}/{service}/aws4_request"
    to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amz_date,
            scope,
            hashlib.sha256(canonical.encode("utf-8")).hexdigest(),
        ]
    )
    sig = hmac.new(
        signing_key(secret_key, date, region, service),
        to_sign.encode("utf-8"),
        hashlib.sha256,
    ).hexdigest()
    return (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed}, Signature={sig}"
    )


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


@dataclass
class S3Config:
    """Reference ``S3Config`` fields (s3.rs:88-150) that matter to the
    protocol; the reference's checksum/SSE-C/IMDS options map to s3a
    conf keys on the data plane instead."""

    endpoint_url: str  # e.g. "http://127.0.0.1:9000" or "https://s3.us-east-1.amazonaws.com"
    bucket: str
    region: str = "us-east-1"
    access_key: str = ""
    secret_key: str = ""
    use_path_style: bool = True  # MinIO/mini-server style; AWS prefers vhost


class S3Error(Exception):
    def __init__(self, status: int, body: str):
        super().__init__(f"S3 error {status}: {body[:200]}")
        self.status = status


_S3_NS = "{http://s3.amazonaws.com/doc/2006-03-01/}"


class S3Client:
    """Minimal but real S3 REST client (GET/PUT/DELETE/HEAD object,
    ListObjectsV2, batch DeleteObjects), SigV4-signed."""

    def __init__(self, cfg: S3Config):
        self.cfg = cfg
        u = urllib.parse.urlparse(cfg.endpoint_url)
        self._scheme = u.scheme or "http"
        self._endpoint_host = u.netloc

    # -- request plumbing --------------------------------------------------
    def _url_parts(self, key: str, params: list[tuple[str, str]]):
        if self.cfg.use_path_style:
            host = self._endpoint_host
            path = "/" + self.cfg.bucket + ("/" + key if key else "")
        else:
            host = f"{self.cfg.bucket}.{self._endpoint_host}"
            path = "/" + key
        canonical_uri = uri_encode(path, encode_slash=False)
        query = canonical_query(params)
        url = f"{self._scheme}://{host}{canonical_uri}"
        if query:
            url += "?" + query
        return host, canonical_uri, query, url

    def _request(
        self,
        method: str,
        key: str,
        params: list[tuple[str, str]] | None = None,
        body: bytes = b"",
        extra_headers: dict[str, str] | None = None,
    ) -> tuple[int, dict[str, str], bytes]:
        params = params or []
        host, canonical_uri, query, url = self._url_parts(key, params)
        amz_date = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ")
        payload_hash = hashlib.sha256(body).hexdigest()
        headers = {
            "host": host,
            "x-amz-date": amz_date,
            "x-amz-content-sha256": payload_hash,
            **{k.lower(): v for k, v in (extra_headers or {}).items()},
        }
        auth = sign_request(
            method=method,
            canonical_uri=canonical_uri,
            query=query,
            headers=headers,
            signed_headers=list(headers),
            payload_hash=payload_hash,
            access_key=self.cfg.access_key,
            secret_key=self.cfg.secret_key,
            region=self.cfg.region,
            amz_date=amz_date,
        )
        send = dict(headers)
        send.pop("host")  # urllib sets Host itself; value is identical
        send["Authorization"] = auth

        def attempt() -> tuple[int, dict[str, str], bytes]:
            req = urllib.request.Request(
                url, data=body if method in ("PUT", "POST") else None,
                method=method, headers=send,
            )
            try:
                with urllib.request.urlopen(req, timeout=60) as resp:
                    return resp.status, dict(resp.headers), resp.read()
            except urllib.error.HTTPError as e:
                return e.code, dict(e.headers), e.read()

        # transient 5xx/429/connection failures retry with backoff —
        # the object_store crate's default the reference relies on
        # (r11 review; note the SigV4 signature stays valid across
        # retries: AWS accepts x-amz-date within a 15-minute skew)
        from .net import with_retries

        return with_retries(attempt)

    # -- object ops ---------------------------------------------------------
    def put_object(self, key: str, body: bytes) -> None:
        st, _, out = self._request("PUT", key, body=body)
        if st != 200:
            raise S3Error(st, out.decode(errors="replace"))

    def get_object(self, key: str) -> bytes | None:
        st, _, out = self._request("GET", key)
        if st == 404:
            return None
        if st != 200:
            raise S3Error(st, out.decode(errors="replace"))
        return out

    def head_object(self, key: str) -> bool:
        st, _, _ = self._request("HEAD", key)
        if st == 200:
            return True
        if st == 404:
            return False
        raise S3Error(st, "HEAD failed")

    def delete_object(self, key: str) -> None:
        st, _, out = self._request("DELETE", key)
        if st not in (200, 204, 404):
            raise S3Error(st, out.decode(errors="replace"))

    def delete_objects(self, keys: list[str]) -> None:
        """Batch DeleteObjects (POST /?delete): 1000 keys per request —
        the shape that matters when delete_prefix covers a whole
        stream's manifests at scale (s3.rs:1053-1096 delete_prefix)."""
        for i in range(0, len(keys), 1000):
            chunk = keys[i : i + 1000]
            root = ET.Element("Delete")
            for k in chunk:
                o = ET.SubElement(root, "Object")
                ET.SubElement(o, "Key").text = k
            ET.SubElement(root, "Quiet").text = "true"
            body = ET.tostring(root, encoding="utf-8")
            md5 = base64.b64encode(hashlib.md5(body).digest()).decode()
            st, _, out = self._request(
                "POST", "", params=[("delete", "")], body=body,
                extra_headers={"content-md5": md5},
            )
            if st != 200:
                raise S3Error(st, out.decode(errors="replace"))

    def list_objects(
        self,
        prefix: str = "",
        delimiter: str = "",
        max_keys: int = 1000,
        paged: bool = True,
    ) -> tuple[list[str], list[str]]:
        """All (keys, common_prefixes) under ``prefix``, paging through
        continuation tokens. ``paged=False`` issues exactly one request
        (existence-probe shape; review finding on the Azure twin)."""
        keys: list[str] = []
        prefixes: list[str] = []
        token: str | None = None
        while True:
            params = [("list-type", "2"), ("max-keys", str(max_keys))]
            if prefix:
                params.append(("prefix", prefix))
            if delimiter:
                params.append(("delimiter", delimiter))
            if token:
                params.append(("continuation-token", token))
            st, _, out = self._request("GET", "", params=params)
            if st != 200:
                raise S3Error(st, out.decode(errors="replace"))
            doc = ET.fromstring(out)
            ns = _S3_NS if doc.tag.startswith(_S3_NS) else ""
            keys.extend(
                c.findtext(f"{ns}Key") for c in doc.iter(f"{ns}Contents")
            )
            prefixes.extend(
                p.findtext(f"{ns}Prefix") for p in doc.iter(f"{ns}CommonPrefixes")
            )
            if doc.findtext(f"{ns}IsTruncated") != "true" or not paged:
                return keys, prefixes
            token = doc.findtext(f"{ns}NextContinuationToken")
            if not token:
                return keys, prefixes

    def check(self) -> None:
        """Connectivity + credential probe (reference ``check``,
        s3.rs:1098-1121): round-trip a marker object."""
        key = ".parseable.json"
        self.put_object(key, b"{}")
        if self.get_object(key) != b"{}":
            raise S3Error(500, "check round-trip mismatch")
        self.delete_object(key)


# ---------------------------------------------------------------------------
# Metastore backend
# ---------------------------------------------------------------------------


class S3Metastore(KeyMappedMetastore):
    """S3 transport verbs for the shared key-mapped metastore (the
    path→key mapping and primitive semantics live in
    ``KeyMappedMetastore`` so they cannot drift from the Azure
    backend's)."""

    def __init__(self, client: S3Client, root: str, key_prefix: str = "meta"):
        super().__init__(root, key_prefix)
        self.client = client

    def _get(self, key: str) -> bytes | None:
        return self.client.get_object(key)

    def _put(self, key: str, body: bytes) -> None:
        self.client.put_object(key, body)

    def _head(self, key: str) -> bool:
        return self.client.head_object(key)

    def _list(self, prefix, delimiter=None, max_n=None, paged=True):
        return self.client.list_objects(
            prefix=prefix,
            delimiter=delimiter or "",
            max_keys=max_n if max_n is not None else 1000,
            paged=paged,
        )

    def _delete_many(self, keys: list[str]) -> None:
        self.client.delete_objects(keys)


def s3_config_from_env(env: dict[str, str] | None = None) -> S3Config:
    """The reference's ``s3-store`` mode configuration, same env vars
    (s3.rs:88-150): P_S3_URL / P_S3_REGION / P_S3_BUCKET required,
    P_S3_ACCESS_KEY + P_S3_SECRET_KEY together or neither,
    P_S3_PATH_STYLE truthy-string optional (default true, like the
    reference's default)."""
    import os

    e = os.environ if env is None else env
    missing = [k for k in ("P_S3_URL", "P_S3_REGION", "P_S3_BUCKET") if not e.get(k)]
    if missing:
        raise ValueError(f"s3-store mode requires env: {', '.join(missing)}")
    ak, sk = e.get("P_S3_ACCESS_KEY", ""), e.get("P_S3_SECRET_KEY", "")
    if bool(ak) != bool(sk):
        raise ValueError("P_S3_ACCESS_KEY and P_S3_SECRET_KEY must be set together")
    return S3Config(
        endpoint_url=e["P_S3_URL"],
        bucket=e["P_S3_BUCKET"],
        region=e["P_S3_REGION"],
        access_key=ak,
        secret_key=sk,
        use_path_style=e.get("P_S3_PATH_STYLE", "true").lower() != "false",
    )


def use_s3_storage(root: str, cfg: S3Config | None = None) -> dict[str, str]:
    """Boot-time wiring for s3-store mode: install the S3 metastore
    over ``root`` (all metadata JSON now lives in the bucket) and
    return the s3a conf the deployment must apply for the parquet data
    plane. The caller decides where data goes — on a jar-less local
    run, parquet stays on the local root and only metadata is remote
    (a valid hybrid); with hadoop-aws present, point the root at
    ``data_root_uri(cfg)`` and apply the returned conf."""
    from ..metastore import set_metastore

    cfg = cfg or s3_config_from_env()
    set_metastore(S3Metastore(S3Client(cfg), root))
    return s3a_spark_conf(cfg)


# ---------------------------------------------------------------------------
# Data plane: Spark s3a conf mapping + loud capability check
# ---------------------------------------------------------------------------


def s3a_spark_conf(cfg: S3Config) -> dict[str, str]:
    """The ``spark.hadoop.fs.s3a.*`` conf for this S3Config — what a
    deployment passes so ``data_root_uri`` paths resolve. Committer
    keys included: the magic committer is the correct zero-rename
    commit protocol for S3 (directory rename is O(data) there). The
    listing threshold goes back to Spark's default (REMOTE_LISTING_CONF):
    per-path object-store round trips make the parallel listing pay."""
    from ..session import REMOTE_LISTING_CONF

    conf = {
        **REMOTE_LISTING_CONF,
        "spark.hadoop.fs.s3a.endpoint": cfg.endpoint_url,
        "spark.hadoop.fs.s3a.endpoint.region": cfg.region,
        "spark.hadoop.fs.s3a.path.style.access": str(cfg.use_path_style).lower(),
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
    }
    if cfg.access_key:
        conf["spark.hadoop.fs.s3a.access.key"] = cfg.access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = cfg.secret_key
    return conf


def data_root_uri(cfg: S3Config, prefix: str = "data") -> str:
    return f"s3a://{cfg.bucket}/{prefix}"


def require_s3a(spark) -> None:
    """Fail loud when the s3a filesystem isn't on the classpath (the
    hadoop-aws + aws-sdk jars are NOT bundled with pyspark). Same
    posture as the codec seam: never a silent fallback."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
    except Exception as e:
        raise RuntimeError(
            "s3a data plane unavailable: org.apache.hadoop.fs.s3a.S3AFileSystem "
            "not on the classpath. Add hadoop-aws (and its aws-sdk bundle) "
            "matching your Hadoop version, e.g. "
            "--packages org.apache.hadoop:hadoop-aws:3.4.1 . "
            "The S3 metastore works without it; parquet I/O does not."
        ) from e


# ---------------------------------------------------------------------------
# Mini S3 server (test double) — verifies SigV4 on every request
# ---------------------------------------------------------------------------


def paginate_listing(
    sorted_names: list[str], prefix: str, delim: str, max_n: int
) -> tuple[list[str], list[str], bool, str]:
    """Shared delimiter-grouping pagination for the mini object-store
    servers (S3 ListObjectsV2 and Azure List Blobs implement the same
    algorithm with different wire framing — review finding: keep ONE
    copy). ``sorted_names`` must already be filtered to the prefix and
    past the resume marker. Returns (entries, common_prefixes,
    truncated, resume_marker); the marker resumes AFTER every key under
    an emitted common prefix, so a page break inside a group cannot
    re-emit it on the next page."""
    entries: list[str] = []
    prefixes: list[str] = []
    n = 0
    truncated, marker = False, ""
    for k in sorted_names:
        if n >= max_n:
            truncated = True
            break
        if delim:
            rest = k[len(prefix) :]
            if delim in rest:
                p = prefix + rest.split(delim, 1)[0] + delim
                if p not in prefixes:
                    prefixes.append(p)
                    n += 1
                    marker = p + chr(0x10FFFF)
                continue
        entries.append(k)
        n += 1
        marker = k
    return entries, prefixes, truncated, marker


class MiniS3Server:
    """In-process path-style S3 endpoint over in-memory objects.

    Implements exactly what the client speaks: object GET/PUT/DELETE/
    HEAD, ListObjectsV2 (prefix/delimiter/max-keys/continuation-token),
    and batch DeleteObjects — and authenticates every request by
    recomputing its SigV4 signature from the raw request line, the
    SignedHeaders the client declared, and the received payload, so a
    wrong secret, a tampered path, or a tampered body all fail 403 in
    tests the same way they would against a real endpoint."""

    def __init__(self, credentials: dict[str, str], region: str = "us-east-1"):
        self.credentials = dict(credentials)  # access_key -> secret_key
        self.region = region
        self.objects: dict[str, dict[str, bytes]] = {}  # bucket -> key -> body
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
                if not auth.startswith("AWS4-HMAC-SHA256 "):
                    return False
                try:
                    parts = dict(
                        p.strip().split("=", 1)
                        for p in auth[len("AWS4-HMAC-SHA256 ") :].split(",")
                    )
                    akid, date, region, service, _ = parts["Credential"].split("/")
                    signed = parts["SignedHeaders"].split(";")
                except (ValueError, KeyError):
                    return False
                secret = outer.credentials.get(akid)
                if secret is None or region != outer.region or service != "s3":
                    return False
                # payload integrity, then signature over declared parts
                payload_hash = hashlib.sha256(body).hexdigest()
                if self.headers.get("x-amz-content-sha256") != payload_hash:
                    return False
                raw_path, _, raw_q = self.path.partition("?")
                pairs = urllib.parse.parse_qsl(raw_q, keep_blank_values=True)
                headers = {}
                for h in signed:
                    v = self.headers.get(h)
                    if v is None:
                        return False
                    headers[h] = v
                expect = sign_request(
                    method=self.command,
                    canonical_uri=raw_path,
                    query=canonical_query(pairs),
                    headers=headers,
                    signed_headers=signed,
                    payload_hash=payload_hash,
                    access_key=akid,
                    secret_key=secret,
                    region=region,
                    amz_date=self.headers.get("x-amz-date", ""),
                )
                got = parts.get("Signature", "")
                return hmac.compare_digest(expect.rsplit("=", 1)[1], got)

            def _route(self) -> None:
                body = self._read_body()
                if not self._verify(body):
                    self._fail(403, "SignatureDoesNotMatch")
                    return
                raw_path, _, raw_q = self.path.partition("?")
                q = dict(urllib.parse.parse_qsl(raw_q, keep_blank_values=True))
                path = urllib.parse.unquote(raw_path)
                _, _, rest = path.partition("/")
                bucket, _, key = rest.partition("/")
                if not bucket:
                    self._fail(400, "InvalidRequest")
                    return
                with outer._lock:
                    store = outer.objects.setdefault(bucket, {})
                    if self.command == "PUT":
                        store[key] = body
                        self._ok()
                    elif self.command == "POST" and "delete" in q:
                        doc = ET.fromstring(body)
                        for o in doc.iter("Object"):
                            store.pop(o.findtext("Key"), None)
                        self._ok(b"<DeleteResult/>")
                    elif self.command in ("GET", "HEAD") and key:
                        if key not in store:
                            self._fail(404, "NoSuchKey")
                        else:
                            self._ok(store[key])
                    elif self.command == "GET":  # ListObjectsV2
                        self._list(store, q)
                    elif self.command == "DELETE":
                        store.pop(key, None)
                        self._ok(status=204)
                    else:
                        self._fail(400, "InvalidRequest")

            def _list(self, store: dict[str, bytes], q: dict[str, str]) -> None:
                prefix = q.get("prefix", "")
                delim = q.get("delimiter", "")
                max_keys = int(q.get("max-keys", "1000"))
                after = ""
                if "continuation-token" in q:
                    after = base64.b64decode(q["continuation-token"]).decode()
                names = sorted(k for k in store if k.startswith(prefix) and k > after)
                contents, prefixes, truncated, token = paginate_listing(
                    names, prefix, delim, max_keys
                )
                n = len(contents) + len(prefixes)
                from xml.sax.saxutils import escape

                xml = ["<ListBucketResult>"]
                for k in contents:
                    # escape like the Azure twin: '&'/'<' are legal in
                    # S3 keys and unescaped they break ET.fromstring on
                    # the client side
                    xml.append(
                        f"<Contents><Key>{escape(k)}</Key>"
                        f"<Size>{len(store[k])}</Size></Contents>"
                    )
                for p in prefixes:
                    xml.append(
                        f"<CommonPrefixes><Prefix>{escape(p)}</Prefix></CommonPrefixes>"
                    )
                xml.append(f"<KeyCount>{n}</KeyCount>")
                xml.append(f"<IsTruncated>{str(truncated).lower()}</IsTruncated>")
                if truncated:
                    tok = base64.b64encode(token.encode()).decode()
                    xml.append(f"<NextContinuationToken>{tok}</NextContinuationToken>")
                xml.append("</ListBucketResult>")
                self._ok("".join(xml).encode())

            do_GET = do_PUT = do_POST = do_DELETE = do_HEAD = _route

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def endpoint_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def start(self) -> "MiniS3Server":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
