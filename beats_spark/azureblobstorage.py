"""azure-blob-storage input — Azure Blob Storage polling, live.

The reference input (x-pack/filebeat/input/azureblobstorage/) lists a
container's blobs in lexicographic pages, schedules one job per new
blob past the (BlobName, LatestEntryTime) checkpoint, decodes each
blob (JSON stream / CSV / parquet, gzip, expand lists) and publishes
one event per decoded item. This module implements it from scratch on
the shared HTTP transport, httpconn (the gcs/awss3 playbook):

Wire layer (public Azure Storage REST spec):
- List Blobs: GET /{container}?restype=container&comp=list
  (include=metadata, maxresults, prefix, marker pagination) — XML
  EnumerationResults (scheduler.go fetchBlobPager; the reference
  deliberately does NOT use the marker as a checkpoint — listing is
  lexicographic, so every poll walks the listing and the
  moveToLastSeenJob filter advances instead, scheduler.go:269-289)
- Get Blob: GET /{container}/{blob}
- Shared Key authorization (the published signature scheme:
  canonicalized headers/resource, HMAC-SHA256 over the
  base64-decoded account key) — azblob.NewSharedKeyCredential
- Connection string parsing (AccountName/AccountKey/BlobEndpoint/
  DefaultEndpointsProtocol/EndpointSuffix) —
  service.NewClientFromConnectionString
- OAuth2 client-credentials against AAD
  (login.microsoftonline.com/{tenant}/oauth2/v2.0/token, scope
  https://storage.azure.com/.default) — azidentity
  ClientSecretCredential; the token endpoint is overridable the way
  the reference injects clientOptions for tests
- The SDK's pipeline retry policy: bounded exponential backoff on
  the transient status set {408, 429, 500, 502, 503, 504}
  (config.go retryConfig defaults 3 × 800ms..60s;
  scheduler.go transientListStatusCodes)

Input semantics (file:line cites against the reference):
- config.Validate wordings (config.go:210-226, durations rendered
  Go-style), the OAuth2 triple requirement
- configure/tryOverrideOrDefault (input.go:58-169): per-container
  Source resolution — batch_size falls back to max_workers (back
  compat), poll defaults false, poll_interval 300s, the
  all-or-nothing ReaderConfig override, timestamp_epoch validity
  ("invalid timestamp epoch: %d"), storage_url parse check, default
  service URL https://{account}.blob.core.windows.net/
- state.go Checkpoint: case-insensitive max BlobName + max
  LatestEntryTime, saved per published blob
- scheduler.go: file-selector regexes, timestamp_epoch filter,
  moveToLastSeenJob (timestamp-after OR name-greater, stable sort
  around the timestamp pivot), content-type/encoding overrides
  honoring override_* and unset-only rules, fetchJobID
- job.go: the allowed-content-type gate publishing the error event,
  gzip by content type or encoding, CSV/parquet codecs (the shared
  x-pack decoder package — reused from the awss3 module), JSON
  stream with evaluateJSON root-array/BOM handling,
  expand_event_list_from_field, createEvent's exact field shape,
  objectID = sha256(container+blob)[:10] + "-%012d" offset

Execution surfaces follow the repo playbook: `azureblob_poll_once` /
`azureblob_poll_records` run one scheduleOnce cycle driver-side;
`azureblob_objects_df` is the fleet-scale stage — listing + checkpoint
on the driver (blob metadata only crosses the driver), download +
decode ON executors via mapInPandas with one client per task.
`readerConfig.parsers` is accepted as config surface but not consumed
by the decode path — exactly like the reference's job.go, which
declares parser.Config but never invokes it for blobs.
"""

from __future__ import annotations

import base64
import hashlib
import hmac as _hmac
import http.client
import json
import re
import time as _time
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Iterator, Optional
from urllib.parse import quote, urlparse

from . import httpconn
from .httpjson.gotime import duration_string, parse_go_duration
from .gcs.input import _evaluate_json  # evaluateJSON is byte-identical

__all__ = [
    "AzureBlobError", "AzureBlobClient", "BlobItem",
    "SharedKeyCredential", "parse_connection_string",
    "OAuth2TokenProvider", "validate_config", "resolve_sources",
    "Checkpoint", "azure_object_hash", "object_id",
    "process_azure_blob", "azureblob_poll_once",
    "azureblob_poll_records", "azureblob_objects_df",
    "AZUREBLOB_RECORDS_DDL", "TRANSIENT_LIST_STATUS_CODES",
    "fetch_job_id", "new_service_client",
]

# scheduler.go:33-40 — the Azure SDK's retryable set
TRANSIENT_LIST_STATUS_CODES = {408, 429, 500, 502, 503, 504}

_ALLOWED_CONTENT_TYPES = {
    "application/json", "application/octet-stream",
    "application/x-ndjson", "application/x-gzip", "text/csv",
}
_GZ_TYPE = "application/x-gzip"
_ENCODING_GZIP = "gzip"

X_MS_VERSION = "2023-11-03"


class AzureBlobError(Exception):
    def __init__(self, message: str, status: int = 0, code: str = ""):
        super().__init__(message)
        self.status = status
        self.code = code


# ---------------------------------------------------------------- auth

class SharedKeyCredential:
    """azblob.NewSharedKeyCredential — the published Shared Key
    scheme: HMAC-SHA256 of the canonicalized request over the
    base64-decoded account key."""

    def __init__(self, account_name: str, account_key: str):
        self.account_name = account_name
        try:
            self.key = base64.b64decode(account_key, validate=True)
        except Exception as e:
            raise AzureBlobError(
                "decode account key: illegal base64 data") from e

    def sign(self, method: str, path: str,
             query: dict[str, str], headers: dict[str, str]) -> str:
        """Returns the Authorization header value. Canonicalization
        per the public spec: the 12 standard headers in order, then
        x-ms-* headers sorted, then the canonicalized resource with
        sorted query params (comma-joined values, lowercase keys)."""
        h = {k.lower(): v for k, v in headers.items()}

        def std(name):
            return h.get(name, "")

        content_length = std("content-length")
        if content_length == "0":
            content_length = ""  # 2015-02-21+ rule: empty for zero
        canon_headers = "".join(
            f"{k}:{h[k]}\n" for k in sorted(h)
            if k.startswith("x-ms-"))
        canon_resource = f"/{self.account_name}{path}"
        for k in sorted(query):
            vals = query[k]
            if not isinstance(vals, (list, tuple)):
                vals = [vals]
            canon_resource += f"\n{k.lower()}:{','.join(vals)}"
        string_to_sign = "\n".join([
            method.upper(), std("content-encoding"),
            std("content-language"), content_length, std("content-md5"),
            std("content-type"), std("date"), std("if-modified-since"),
            std("if-match"), std("if-none-match"),
            std("if-unmodified-since"), std("range"),
        ]) + "\n" + canon_headers + canon_resource
        sig = base64.b64encode(_hmac.new(
            self.key, string_to_sign.encode("utf-8"),
            hashlib.sha256).digest()).decode()
        return f"SharedKey {self.account_name}:{sig}"


def parse_connection_string(uri: str) -> dict[str, str]:
    """service.NewClientFromConnectionString's parse: semi-colon
    separated key=value pairs; BlobEndpoint overrides the endpoint
    derived from AccountName + EndpointSuffix."""
    parts: dict[str, str] = {}
    for seg in uri.split(";"):
        if not seg.strip():
            continue
        k, sep, v = seg.partition("=")
        if not sep:
            raise AzureBlobError(
                "connection string is either blank or malformed")
        parts[k.strip()] = v.strip()
    if "AccountName" not in parts or "AccountKey" not in parts:
        if "BlobEndpoint" not in parts:
            raise AzureBlobError(
                "connection string missing required connection details")
    endpoint = parts.get("BlobEndpoint")
    if not endpoint and parts.get("AccountName"):
        proto = parts.get("DefaultEndpointsProtocol", "https")
        suffix = parts.get("EndpointSuffix", "core.windows.net")
        endpoint = (f"{proto}://{parts['AccountName']}.blob.{suffix}/")
    return {"endpoint": endpoint or "",
            "account_name": parts.get("AccountName", ""),
            "account_key": parts.get("AccountKey", "")}


class OAuth2TokenProvider:
    """azidentity.ClientSecretCredential — the AAD client-credentials
    grant over the public v2.0 token endpoint; token cached until
    expiry. token_endpoint is overridable for tests (the reference
    injects clientOptions the same way)."""

    SCOPE = "https://storage.azure.com/.default"

    def __init__(self, tenant_id: str, client_id: str,
                 client_secret: str, *,
                 token_endpoint: str = ""):
        self.tenant_id = tenant_id
        self.client_id = client_id
        self.client_secret = client_secret
        self.token_endpoint = token_endpoint or (
            f"https://login.microsoftonline.com/{tenant_id}"
            "/oauth2/v2.0/token")
        self._token = ""
        self._expiry = 0.0

    def token(self) -> str:
        if self._token and _time.time() < self._expiry - 60:
            return self._token
        from urllib.parse import urlencode
        body = urlencode({
            "client_id": self.client_id,
            "client_secret": self.client_secret,
            "grant_type": "client_credentials",
            "scope": self.SCOPE,
        }).encode()
        status, _, _, data = httpconn.request(
            "POST", self.token_endpoint, body,
            {"Content-Type": "application/x-www-form-urlencoded"}, 30)
        if status != 200:
            raise AzureBlobError(
                "failed to create client secret credential with "
                f"oauth2 config: {data.decode('utf-8', 'replace')[:200]}",
                status=status)
        obj = json.loads(data)
        self._token = obj["access_token"]
        self._expiry = _time.time() + float(obj.get("expires_in", 3600))
        return self._token


# ---------------------------------------------------------------- wire

@dataclass
class BlobItem:
    name: str
    last_modified: str = ""  # RFC1123
    etag: str = ""
    content_length: int = 0
    content_type: str = ""
    content_encoding: str = ""
    metadata: dict[str, str] = field(default_factory=dict)

    def last_modified_ts(self) -> datetime:
        try:
            return datetime.strptime(
                self.last_modified, "%a, %d %b %Y %H:%M:%S %Z"
            ).replace(tzinfo=timezone.utc)
        except ValueError:
            return datetime.min.replace(tzinfo=timezone.utc)


class AzureBlobClient:
    """List Blobs + Get Blob over one keep-alive connection, with the
    SDK-matching pipeline retry policy applied to every request."""

    def __init__(self, endpoint: str, *,
                 credential: Optional[SharedKeyCredential] = None,
                 token_provider: Optional[OAuth2TokenProvider] = None,
                 retry: Optional[dict] = None, timeout: float = 60.0,
                 sleep: Callable[[float], None] = _time.sleep):
        u = urlparse(endpoint)
        if not u.scheme or not u.netloc:
            raise AzureBlobError(f"error parsing url : {endpoint}")
        self._http = httpconn.KeepAlive(u.scheme, u.netloc, timeout)
        self._base_path = u.path.rstrip("/")
        self.credential = credential
        self.token_provider = token_provider
        r = retry or {}
        self.max_retries = int(r.get("max_retries", 3))
        self.initial_delay = float(r.get("initial_retry_delay", 0.8))
        self.max_delay = float(r.get("max_retry_delay", 60.0))
        self.timeout = timeout
        self._sleep = sleep

    def close(self) -> None:
        self._http.close()

    def _do(self, method: str, path: str,
            query: dict[str, str]) -> tuple[int, bytes, dict]:
        path = self._base_path + path
        headers = {
            "x-ms-date": _time.strftime("%a, %d %b %Y %H:%M:%S GMT",
                                        _time.gmtime()),
            "x-ms-version": X_MS_VERSION,
            "Content-Length": "0",
        }
        if self.credential is not None:
            headers["Authorization"] = self.credential.sign(
                method, path, query, headers)
        elif self.token_provider is not None:
            headers["Authorization"] = \
                "Bearer " + self.token_provider.token()
        url = quote(path, safe="/")
        if query:
            qs = "&".join(f"{quote(k)}={quote(str(v))}"
                          for k, v in sorted(query.items()))
            url += "?" + qs
        for attempt in (0, 1):
            conn = self._http.get()
            try:
                conn.request(method, url, headers=headers)
                resp = conn.getresponse()
                data = resp.read()
                return resp.status, data, dict(resp.getheaders())
            except (http.client.HTTPException, OSError):
                self.close()
                if attempt:
                    raise
        raise AssertionError("unreachable")

    def _do_with_retry(self, method: str, path: str,
                       query: dict[str, str]) -> tuple[int, bytes, dict]:
        """The pipeline retry policy (config.go retryConfig →
        policy.RetryOptions): up to max_retries retries after the
        first attempt on the transient status set, exponential delay
        initial*2^n capped at max_delay."""
        delay = self.initial_delay
        attempt = 0
        while True:
            status, data, headers = self._do(method, path, query)
            if status not in TRANSIENT_LIST_STATUS_CODES \
                    or attempt >= max(0, self.max_retries):
                return status, data, headers
            self._sleep(min(delay, self.max_delay))
            delay *= 2
            attempt += 1

    @staticmethod
    def _error(status: int, data: bytes) -> AzureBlobError:
        code, msg = "", data.decode("utf-8", "replace")[:300]
        try:
            root = ET.fromstring(data)
            code = root.findtext("Code") or ""
            msg = root.findtext("Message") or msg
        except ET.ParseError:
            pass
        return AzureBlobError(f"RESPONSE {status}: {msg}",
                              status=status, code=code)

    def list_blobs(self, container: str, *, prefix: str = "",
                   max_results: int = 0,
                   include_metadata: bool = True
                   ) -> Iterator[list[BlobItem]]:
        """NewListBlobsFlatPager: ?restype=container&comp=list with
        NextMarker pagination. Yields one page of BlobItems at a
        time."""
        marker = ""
        while True:
            q = {"restype": "container", "comp": "list"}
            if include_metadata:
                q["include"] = "metadata"
            if prefix:
                q["prefix"] = prefix
            if max_results:
                q["maxresults"] = str(max_results)
            if marker:
                q["marker"] = marker
            status, data, _ = self._do_with_retry(
                "GET", f"/{container}", q)
            if status != 200:
                raise self._error(status, data)
            root = ET.fromstring(data)
            page = []
            for b in root.iter("Blob"):
                props = b.find("Properties")

                def _p(name):
                    el = props.find(name) if props is not None else None
                    return (el.text or "") if el is not None else ""

                page.append(BlobItem(
                    name=b.findtext("Name") or "",
                    last_modified=_p("Last-Modified"),
                    etag=_p("Etag"),
                    content_length=int(_p("Content-Length") or 0),
                    content_type=_p("Content-Type"),
                    content_encoding=_p("Content-Encoding"),
                    metadata={el.tag: (el.text or "")
                              for el in (b.find("Metadata") or [])},
                ))
            yield page
            marker = root.findtext("NextMarker") or ""
            if not marker:
                return

    def download_blob(self, container: str, blob: str) -> bytes:
        status, data, _ = self._do_with_retry(
            "GET", f"/{container}/{blob}", {})
        if status not in (200, 206):
            raise self._error(status, data)
        return data


def new_service_client(cfg: dict, *, endpoint: str = "",
                       token_endpoint: str = "",
                       retry: Optional[dict] = None,
                       sleep: Callable[[float], None] = _time.sleep
                       ) -> AzureBlobClient:
    """client.go fetchServiceClientAndCreds: shared_credentials →
    connection_string → oauth2 → 'no valid auth specified'."""
    auth = cfg.get("auth") or {}
    url = endpoint or service_url(cfg)
    retry = retry if retry is not None else cfg.get("retry")
    if auth.get("shared_credentials") is not None:
        cred = SharedKeyCredential(
            cfg["account_name"],
            auth["shared_credentials"].get("account_key", ""))
        return AzureBlobClient(url, credential=cred, retry=retry,
                               sleep=sleep)
    if auth.get("connection_string") is not None:
        parts = parse_connection_string(
            auth["connection_string"].get("uri", ""))
        cred = None
        if parts["account_name"] and parts["account_key"]:
            cred = SharedKeyCredential(parts["account_name"],
                                       parts["account_key"])
        return AzureBlobClient(endpoint or parts["endpoint"],
                               credential=cred, retry=retry,
                               sleep=sleep)
    if auth.get("oauth2") is not None:
        o = auth["oauth2"]
        tp = OAuth2TokenProvider(o.get("tenant_id", ""),
                                 o.get("client_id", ""),
                                 o.get("client_secret", ""),
                                 token_endpoint=token_endpoint)
        return AzureBlobClient(url, token_provider=tp, retry=retry,
                               sleep=sleep)
    raise AzureBlobError("no valid auth specified")


# -------------------------------------------------------------- config

def _dur(v, default: float) -> float:
    if v is None:
        return default
    if isinstance(v, str):
        return parse_go_duration(v) / 1e9
    return float(v)


def validate_config(cfg: dict) -> None:
    """config.go:210-226 Validate with the exact wordings (durations
    rendered like Go's time.Duration.String)."""
    auth = cfg.get("auth") or {}
    o = auth.get("oauth2")
    if o is not None and (not o.get("client_id")
                          or not o.get("client_secret")
                          or not o.get("tenant_id")):
        raise ValueError("client_id, client_secret and tenant_id are "
                         "required for OAuth2 auth")
    retry = cfg.get("retry") or {}
    initial = _dur(retry.get("initial_retry_delay"), 0.8)
    maxd = _dur(retry.get("max_retry_delay"), 60.0)
    if initial < 0:
        raise ValueError(
            "retry.initial_retry_delay must not be negative, got "
            + duration_string(int(initial * 1e9)))
    if maxd < 0:
        raise ValueError(
            "retry.max_retry_delay must not be negative, got "
            + duration_string(int(maxd * 1e9)))
    if maxd > 0 and initial > maxd:
        raise ValueError(
            f"retry.max_retry_delay ({duration_string(int(maxd * 1e9))})"
            " must not be smaller than retry.initial_retry_delay "
            f"({duration_string(int(initial * 1e9))})")


def service_url(cfg: dict) -> str:
    """input.go:91-99."""
    storage_url = cfg.get("storage_url") or ""
    if storage_url:
        u = urlparse(storage_url)
        if not u.scheme or not u.netloc:
            raise ValueError(f"error parsing url : {storage_url}")
        return storage_url
    return ("https://" + cfg.get("account_name", "")
            + ".blob.core.windows.net/")


# valid Unix timestamp range (input.go:33-36)
_MIN_TS = 0
_MAX_TS = 32503680000  # 3000-01-01T00:00:00Z


def resolve_sources(cfg: dict) -> list[dict]:
    """configure + tryOverrideOrDefault (input.go:58-169): one
    resolved Source dict per container; container values override the
    globals; the ReaderConfig override is all-or-nothing."""
    validate_config(cfg)
    service_url(cfg)  # raises the parse error eagerly like configure
    containers = cfg.get("containers")
    if not containers:
        raise ValueError("containers is required")
    # backward compat: an unset global batch_size takes max_workers
    global_batch = cfg.get("batch_size") or cfg.get("max_workers") or 0
    reader_keys = ("content_type", "encoding", "override_content_type",
                   "override_encoding", "decoding", "parsers")
    out = []
    for c in containers:
        if not c.get("name"):
            raise ValueError("container name is required")
        max_workers = c.get("max_workers")
        if max_workers is None:
            max_workers = cfg.get("max_workers") or 1
        batch = c.get("batch_size")
        if batch is None:
            batch = global_batch or max_workers
        poll = c.get("poll")
        if poll is None:
            poll = bool(cfg.get("poll") or False)
        interval = c.get("poll_interval")
        if interval is None:
            interval = cfg.get("poll_interval")
        interval = _dur(interval, 300.0)
        epoch = c.get("timestamp_epoch")
        if epoch is None:
            epoch = cfg.get("timestamp_epoch")
        if epoch is not None and not (_MIN_TS <= int(epoch) <= _MAX_TS):
            raise ValueError(f"invalid timestamp epoch: {epoch}")
        expand = c.get("expand_event_list_from_field") \
            or cfg.get("expand_event_list_from_field") or ""
        selectors = c.get("file_selectors") \
            or cfg.get("file_selectors") or []
        path_prefix = c.get("path_prefix") \
            or cfg.get("path_prefix") or ""
        # all-or-nothing ReaderConfig: if the container sets none of
        # the reader keys, the global block applies wholesale
        if any(c.get(k) is not None for k in reader_keys):
            reader = {k: c.get(k) for k in reader_keys}
        else:
            reader = {k: cfg.get(k) for k in reader_keys}
        src = {
            "account_name": cfg.get("account_name", ""),
            "container_name": c["name"],
            "batch_size": int(batch),
            "max_workers": int(max_workers),
            "poll": bool(poll),
            "poll_interval": interval,
            "timestamp_epoch": epoch,
            "expand_event_list_from_field": expand,
            "file_selectors": selectors,
            "path_prefix": path_prefix,
            "retry": cfg.get("retry") or {},
        }
        src.update({k: reader.get(k) for k in reader_keys})
        out.append(src)
    return out


# ------------------------------------------------------------ checkpoint

@dataclass
class Checkpoint:
    """state.go — BlobName advances on case-insensitive max
    (state.go:40-52); no failed-jobs map in this input."""

    blob_name: str = ""
    latest_entry_time: str = ""  # RFC1123 as listed

    def save(self, name: str, last_modified: str) -> None:
        if not self.blob_name or \
                name.lower() > self.blob_name.lower():
            self.blob_name = name
        if not self.latest_entry_time or \
                _rfc1123(last_modified) > _rfc1123(
                    self.latest_entry_time):
            self.latest_entry_time = last_modified

    def to_dict(self) -> dict:
        return {"blob_name": self.blob_name,
                "latest_entry_time": self.latest_entry_time}

    @classmethod
    def from_dict(cls, d: Optional[dict]) -> "Checkpoint":
        d = d or {}
        return cls(blob_name=d.get("blob_name", ""),
                   latest_entry_time=d.get("latest_entry_time", ""))


def _rfc1123(s: str) -> datetime:
    try:
        return datetime.strptime(s, "%a, %d %b %Y %H:%M:%S %Z"
                                 ).replace(tzinfo=timezone.utc)
    except ValueError:
        return datetime.min.replace(tzinfo=timezone.utc)


# ------------------------------------------------------------- scheduler

def fetch_job_id(worker_id: int, container: str, blob: str) -> str:
    """scheduler.go:263-267."""
    return f"{container}-{blob}-worker-{worker_id}"


def _create_jobs(src: dict, blobs: list[BlobItem]) -> list[BlobItem]:
    """scheduler.go:178-205: selector regexes + epoch filter."""
    sels = src.get("file_selectors") or []
    epoch = src.get("timestamp_epoch")
    out = []
    for b in blobs:
        if sels and not any(re.search(s["regex"], b.name)
                            for s in sels):
            continue
        if epoch is not None and \
                b.last_modified_ts().timestamp() < float(epoch):
            continue
        out.append(b)
    return out


def _move_to_last_seen(jobs: list[BlobItem], cp: Checkpoint
                       ) -> list[BlobItem]:
    """moveToLastSeenJob (scheduler.go:293-307): keep jobs newer by
    timestamp OR greater by (case-sensitive) name, then stable-sort
    timestamp-newer jobs first."""
    pivot = _rfc1123(cp.latest_entry_time)
    jobs = [j for j in jobs
            if j.last_modified_ts() > pivot or j.name > cp.blob_name]
    return sorted(jobs, key=lambda j: 0 if j.last_modified_ts() > pivot
                  else 1)


def _apply_overrides(src: dict, b: BlobItem) -> BlobItem:
    """scheduler.go:223-233: honor override_* flags, else only fill
    unset properties."""
    ct = src.get("content_type") or ""
    if ct and (src.get("override_content_type") or not b.content_type):
        b.content_type = ct
    enc = src.get("encoding") or ""
    if enc and (src.get("override_encoding")
                or not b.content_encoding):
        b.content_encoding = enc
    return b


# ----------------------------------------------------------------- job

def azure_object_hash(container: str, blob_name: str) -> str:
    """azureObjectHash (job.go:91-97)."""
    h = hashlib.sha256()
    h.update(container.encode())
    h.update(blob_name.encode())
    return h.hexdigest()[:10]


def object_id(object_hash: str, offset: int) -> str:
    return f"{object_hash}-{offset:012d}"


def process_azure_blob(body: Optional[bytes], blob: BlobItem,
                       src: dict, *, service_url: str = "",
                       job_id: str = "") -> Iterator[dict]:
    """job.do's decode/publish stage over a downloaded body. Yields
    flat record dicts; raises for processing errors."""
    container = src["container_name"]
    obj_hash = azure_object_hash(container, blob.name)
    blob_url = (service_url or "https://" + src.get("account_name", "")
                + ".blob.core.windows.net/") + container + "/" + blob.name

    def make(message: str, offset: int) -> dict:
        return {
            "message": message,
            "offset": offset,
            "meta_id": object_id(obj_hash, offset),
            "container_name": container,
            "blob_name": blob.name,
            "blob_content_type": blob.content_type,
            "blob_url": blob_url,
            "provider": "azure",
        }

    # content-type gate (job.go:113-150): unsupported types publish
    # ONE event carrying the error message (with offset-0 id)
    if blob.content_type not in _ALLOWED_CONTENT_TYPES:
        yield make(
            f"job with jobId {job_id} encountered an error: "
            f"content-type {blob.content_type} not supported", 0)
        return
    if body is None:
        raise AzureBlobError(
            "failed to download data from blob with error: no body")

    if blob.content_type == _GZ_TYPE \
            or blob.content_encoding == _ENCODING_GZIP \
            or body[:2] == b"\x1f\x8b":
        from .awss3.client import gzip_decode_if_needed

        body = gzip_decode_if_needed(body)

    codec = ((src.get("decoding") or {}).get("codec")) or {}
    if codec.get("csv"):
        from .awss3.objects import _decode_csv

        yield from _decode_csv(
            body, codec["csv"],
            lambda m, off, fields=None: make(m, off or 0))
        return
    if codec.get("parquet"):
        from .awss3.objects import _decode_parquet

        class _Shim:
            expand_event_list_from_field = \
                src.get("expand_event_list_from_field", "") or ""

        yield from _decode_parquet(
            body, codec["parquet"], _Shim(),
            lambda m, off, fields=None: make(m, off or 0))
        return

    # readJsonAndPublish (job.go:246-295)
    from .awss3.objects import _iter_raw_json, _iter_raw_json_array

    text, is_root_array = _evaluate_json(body.decode("utf-8", "replace"))
    items = _iter_raw_json_array(text) if is_root_array \
        else _iter_raw_json(text)
    expand = src.get("expand_event_list_from_field", "") or ""
    for offset, raw, parsed in items:
        if expand:
            yield from _split_event_list(expand, raw, parsed, offset,
                                         make)
            continue
        yield make(raw, offset)


def _split_event_list(key: str, raw: str, parsed: Any, offset: int,
                      make) -> Iterator[dict]:
    """splitEventList (job.go:324-397) with the reference wordings."""
    if not isinstance(parsed, dict):
        raise ValueError("failed to unmarshal JSON: not an object")
    if key not in parsed:
        raise ValueError(
            f"expand_event_list_from_field key <{key}> is not in event")
    from .awss3.objects import _iter_raw_json_array, _object_field_raw

    sub = _object_field_raw(raw, key) or json.dumps(parsed[key])
    if not sub.lstrip().startswith("["):
        raise ValueError(
            f"expand_event_list_from_field <{key}> is not an array")
    for arr_off, elem_raw, _ in _iter_raw_json_array(sub):
        yield make(elem_raw, offset + arr_off)


# --------------------------------------------------------- driver poll

def azureblob_poll_once(src: dict, client: AzureBlobClient,
                        cp: Checkpoint,
                        publish: Callable[[dict], None], *,
                        service_url: str = "") -> int:
    """scheduleOnce (scheduler.go:142-260). Returns jobs run."""
    n = 0
    for page in client.list_blobs(
            src["container_name"],
            prefix=src.get("path_prefix") or "",
            max_results=src.get("batch_size") or 0):
        jobs = _create_jobs(src, page)
        if cp.latest_entry_time:
            jobs = _move_to_last_seen(jobs, cp)
        for i, b in enumerate(jobs):
            job_id = fetch_job_id(i, src["container_name"], b.name)
            b = _apply_overrides(src, b)
            n += 1
            try:
                supported = b.content_type in _ALLOWED_CONTENT_TYPES
                body = (client.download_blob(src["container_name"],
                                             b.name)
                        if supported else None)
                for rec in process_azure_blob(
                        body, b, src, service_url=service_url,
                        job_id=job_id):
                    publish(rec)
            except Exception:
                # job.do logs and moves on without a checkpoint save —
                # the blob is retried on the next poll
                continue
            cp.save(b.name, b.last_modified)
    return n


def azureblob_poll_records(src: dict, client: AzureBlobClient,
                           cp: Checkpoint, *,
                           service_url: str = "") -> list[dict]:
    out: list[dict] = []
    azureblob_poll_once(src, client, cp, out.append,
                        service_url=service_url)
    return out


# ------------------------------------------------------------ Spark DF

AZUREBLOB_RECORDS_DDL = (
    "message string, offset bigint, meta_id string,"
    " container_name string, blob_name string,"
    " blob_content_type string, blob_url string, provider string,"
    " error string"
)


def azureblob_objects_df(spark, src: dict, *, endpoint: str,
                         account_key: str = "",
                         cp: Optional[Checkpoint] = None,
                         objects_per_task: int = 8,
                         service_url_override: str = ""):
    """The fleet-scale stage: listing + checkpoint filter on the
    driver (blob metadata only), download + decode ON executors via
    mapInPandas — one AzureBlobClient per task. Returns
    (records_df, scheduled_blobs); advance the checkpoint with
    cp.save per blob AFTER the records were written
    (checkpoint-after-commit)."""
    import pandas as pd

    cp = cp or Checkpoint()
    cred = (SharedKeyCredential(src.get("account_name", ""),
                                account_key) if account_key else None)
    client = AzureBlobClient(endpoint, credential=cred,
                             retry=src.get("retry"))
    scheduled: list[BlobItem] = []
    try:
        for page in client.list_blobs(
                src["container_name"],
                prefix=src.get("path_prefix") or "",
                max_results=src.get("batch_size") or 0):
            jobs = _create_jobs(src, page)
            if cp.latest_entry_time:
                jobs = _move_to_last_seen(jobs, cp)
            scheduled.extend(_apply_overrides(src, b) for b in jobs)
    finally:
        client.close()

    if not scheduled:
        return spark.createDataFrame([], AZUREBLOB_RECORDS_DDL), []

    rows = [(b.name, b.content_type, b.content_encoding,
             b.last_modified) for b in scheduled]
    objs = spark.createDataFrame(
        rows, "name string, content_type string,"
        " content_encoding string, last_modified string")
    n_tasks = max(1, (len(rows) + objects_per_task - 1)
                  // objects_per_task)
    objs = objs.repartition(n_tasks)
    src_b = dict(src)
    svc_url = service_url_override or service_url(
        {"account_name": src.get("account_name", "")})
    cols = ["message", "offset", "meta_id", "container_name",
            "blob_name", "blob_content_type", "blob_url", "provider",
            "error"]

    def fetch(batches):
        task_cred = (SharedKeyCredential(src_b.get("account_name", ""),
                                         account_key)
                     if account_key else None)
        task_client = AzureBlobClient(endpoint, credential=task_cred,
                                      retry=src_b.get("retry"))
        try:
            for pdf in batches:
                out = []
                for i, row in enumerate(pdf.itertuples(index=False)):
                    b = BlobItem(name=row.name,
                                 content_type=row.content_type,
                                 content_encoding=row.content_encoding,
                                 last_modified=row.last_modified)
                    job_id = fetch_job_id(i, src_b["container_name"],
                                          b.name)
                    try:
                        supported = (b.content_type
                                     in _ALLOWED_CONTENT_TYPES)
                        body = (task_client.download_blob(
                            src_b["container_name"], b.name)
                            if supported else None)
                        for rec in process_azure_blob(
                                body, b, src_b, service_url=svc_url,
                                job_id=job_id):
                            rec["error"] = None
                            out.append([rec.get(c) for c in cols])
                    except AzureBlobError:
                        raise  # transport → task retry
                    except Exception as e:  # decode error → row
                        out.append([None, None, None,
                                    src_b["container_name"], b.name,
                                    b.content_type, None, "azure",
                                    str(e)])
                yield pd.DataFrame(out, columns=cols)
        finally:
            task_client.close()

    return objs.mapInPandas(fetch, schema=AZUREBLOB_RECORDS_DDL), \
        scheduled
