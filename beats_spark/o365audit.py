"""o365audit input — the Office 365 Management Activity API, live.

The reference input (x-pack/filebeat/input/o365audit/) polls the
Management Activity API per (tenant, content type) stream: list
content "blobs" over repeating [start, end) windows (max 24 h wide,
bounded by the 7-day retention), fetch each blob's audit objects, and
publish one event per object with a (timestamp, line, start_time)
checkpoint that makes resume line-exact inside a blob. This module
implements it from scratch on the shared HTTP transport (httpconn):

- config.go     → defaults (the five documented content types, the
                  API block), Validate's exact wordings
                  (secret-xor-certificate, forceURLScheme), and the
                  stringList unpack semantics
- auth/secret.go→ the AAD v1 client-credentials grant: POST
                  {auth_endpoint}/{tenant}/oauth2/token with
                  grant_type/client_id/client_secret/resource;
                  certificate auth is LIVE (CertTokenProvider:
                  the x5t client-assertion flow)
- state.go      → checkpoint: Before / TryAdvance (equal-timestamp
                  blobs reprocess only when seeking a line) /
                  WithStartTime / ForNextLine
- dates.go      → the API date formats (second-resolution layout +
                  the Z/RFC3339 safeguards) and HTTP date parsing for
                  the server-clock delta
- listblobs.go  → adjustTimes' window math (retention clamp, 24 h
                  max query, future clamp with the poll-interval
                  delay), the subscriptions/content request shape,
                  OnResponse (created-then-id sort, cursor
                  WithStartTime, TryAdvance gating, NextPageUri/
                  NextPageUrl pagination, next-window chaining) and
                  the full handleError decision table (401/408/503
                  repeats, the fatal AF200xx set, AF20022/AF20023
                  subscribe-and-retry, AF20030/AF20055 clock
                  adjustment with the min-difference gate, AF429/
                  AF5000x retries)
- contentblob.go→ blob fetch: skipLines resume, per-line
                  ForNextLine cursors, 404 drops the blob, 401/other
                  delayed retries
- subscribe.go  → subscriptions/start with the "unable to subscribe.
                  Got status: %s" and "got an error when subscribing"
                  wordings
- poll/poll.go  → the poller: a FIFO of transactions, each waited on
                  max(Delay, min_request_interval) with the Bearer
                  token attached; OnResponse's actions (fetch /
                  terminate) drive the loop
- input.go      → initCheckpoint's retention clamp, toBeatEvent
                  (@timestamp from CreationTime with the
                  failed-parse fallback + error.message list, the
                  o365audit fields prefix, SetID from the record Id,
                  event.original preservation) and apiError's
                  pipeline_error event shape

Surfaces: `o365_collect` (a bounded poller run for one stream,
returning records + final checkpoint), `o365_events_df`, and
`o365_stream` (per-tenant×content-type cycles on the tick clock with
checkpoint-after-sink).
"""

from __future__ import annotations

import json
import time as _time
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta, timezone
from email.utils import parsedate_to_datetime
from typing import Any, Callable, Iterator, Optional
from urllib.parse import urlencode, urlparse

from . import httpconn

__all__ = [
    "O365Error", "Config", "APIConfig", "default_config",
    "validate_config", "force_url_scheme", "string_list",
    "Checkpoint", "parse_api_date", "API_DATE_FORMAT",
    "TokenProvider", "CertTokenProvider", "Poller",
    "make_list_blob", "o365_collect",
    "o365_events_df", "o365_stream", "O365_RECORDS_DDL",
    "FATAL_ERRORS", "init_checkpoint", "to_beat_event",
    "api_error_event",
]

API_DATE_FORMAT = "%Y-%m-%dT%H:%M:%S"
TIME_DAY = 24 * 3600.0

FATAL_ERRORS = {"AF20001", "AF20002", "AF20003", "AF20010", "AF20011",
                "AF20012", "AF20013", "AF20020", "AF20021"}


class O365Error(Exception):
    pass


# -------------------------------------------------------------- config

@dataclass
class APIConfig:
    authentication_endpoint: str = "https://login.microsoftonline.com/"
    resource: str = "https://manage.office.com"
    max_retention: float = 7 * TIME_DAY
    adjust_clock: bool = True
    adjust_clock_min_difference: float = 300.0
    adjust_clock_warn: bool = True
    error_retry_interval: float = 300.0
    poll_interval: float = 180.0
    max_requests_per_minute: int = 2000
    set_id_from_audit_record: bool = True
    preserve_original_event: bool = False
    max_query_size: float = TIME_DAY


@dataclass
class Config:
    application_id: str = ""
    client_secret: str = ""
    certificate: str = ""
    key: str = ""
    tenant_id: list[str] = field(default_factory=list)
    content_type: list[str] = field(default_factory=lambda: [
        "Audit.AzureActiveDirectory", "Audit.Exchange",
        "Audit.SharePoint", "Audit.General", "DLP.All"])
    api: APIConfig = field(default_factory=APIConfig)


def default_config() -> Config:
    return Config()


def string_list(value) -> list[str]:
    """stringList.Unpack (config.go:167-187)."""
    if isinstance(value, str):
        return [value]
    if isinstance(value, list):
        out = []
        for idx, v in enumerate(value):
            if not isinstance(v, str):
                raise ValueError(
                    f"string value required. Found {v} "
                    f"(type {type(v).__name__}) at position {idx + 1}")
            out.append(v)
        return out
    raise ValueError(f"array of strings required. Found {value} "
                     f"(type {type(value).__name__})")


def force_url_scheme(base_url: str, scheme: str) -> str:
    """config.go:211-224."""
    parsed = urlparse(base_url)
    if not parsed.scheme:
        with_scheme = scheme + "://" + base_url
        parsed = urlparse(with_scheme)
        return parsed.geturl()
    return parsed.geturl()


def validate_config(cfg: Config) -> None:
    """config.go:138-162 with the exact wordings."""
    has_secret = cfg.client_secret != ""
    has_cert = cfg.certificate != ""
    if not has_secret and not has_cert:
        raise ValueError("no authentication configured. Configure a "
                         "client_secret or a certificate and key.")
    if has_secret and has_cert:
        raise ValueError("both client_secret and certificate are "
                         "configured. Only one authentication method "
                         "can be used.")
    cfg.api.resource = force_url_scheme(cfg.api.resource, "https")
    cfg.api.authentication_endpoint = force_url_scheme(
        cfg.api.authentication_endpoint, "https")


# ---------------------------------------------------------------- auth

class TokenProvider:
    """auth/secret.go — the AAD v1 client-credentials grant. The
    certificate flow lives in CertTokenProvider below (auth/cert.go:
    the x5t client-assertion JWT)."""

    def __init__(self, endpoint: str, resource: str, application_id:
                 str, tenant_id: str, secret: str,
                 timeout: float = 60.0):
        self.endpoint = endpoint.rstrip("/")
        self.resource = resource
        self.application_id = application_id
        self.tenant_id = tenant_id
        self.secret = secret
        self.timeout = timeout
        self._token = ""
        self._expiry = 0.0

    def token(self) -> str:
        if self._token and _time.time() < self._expiry - 60:
            return self._token
        url = f"{self.endpoint}/{self.tenant_id}/oauth2/token"
        body = urlencode({
            "grant_type": "client_credentials",
            "client_id": self.application_id,
            "client_secret": self.secret,
            "resource": self.resource,
        }).encode()
        status, _, _, data = httpconn.request("POST", url, body, {
            "Content-Type": "application/x-www-form-urlencoded"},
            self.timeout)
        if status != 200:
            raise O365Error(
                "unable to acquire authentication token for tenant:"
                f"{self.tenant_id}: http status {status}")
        obj = json.loads(data)
        self._token = obj["access_token"]
        self._expiry = _time.time() + float(obj.get("expires_in", 3600))
        return self._token


class CertTokenProvider(TokenProvider):
    """auth/cert.go — certificate-based authentication: the AAD
    client-assertion flow (an RS256 JWT whose x5t header carries the
    certificate's SHA-1 thumbprint, exchanged with
    client_assertion_type=jwt-bearer against the same v1 token
    endpoint). PEM certificate + RSA key, matching loadConfigCerts'
    error wordings."""

    def __init__(self, endpoint: str, resource: str, application_id:
                 str, tenant_id: str, certificate: str, key: str,
                 timeout: float = 60.0,
                 now: Callable[[], float] = _time.time):
        super().__init__(endpoint, resource, application_id,
                         tenant_id, "", timeout)
        self.now = now
        from cryptography import x509 as _x509
        from cryptography.hazmat.primitives import serialization
        from cryptography.hazmat.primitives.asymmetric import rsa
        try:
            with open(certificate, "rb") as fh:
                self.cert = _x509.load_pem_x509_certificate(
                    fh.read())
        except (OSError, ValueError) as err:
            raise O365Error("error loading X509 certificate from "
                            f"'{certificate}': {err}")
        try:
            with open(key, "rb") as fh:
                self.key = serialization.load_pem_private_key(
                    fh.read(), password=None)
        except (OSError, ValueError) as err:
            raise O365Error(
                f"failed loading private key from '{key}': {err}")
        if not isinstance(self.key, rsa.RSAPrivateKey):
            raise O365Error(f"private key at '{key}' is not an RSA "
                            "private key")

    def _assertion(self, aud: str) -> str:
        import hashlib
        import uuid as _uuid
        from cryptography.hazmat.primitives import serialization
        from .dpop import b64url, sign_jwt
        der = self.cert.public_bytes(serialization.Encoding.DER)
        x5t = b64url(hashlib.sha1(der).digest())
        iat = int(self.now())
        header = {"alg": "RS256", "typ": "JWT", "x5t": x5t}
        claims = {"aud": aud, "iss": self.application_id,
                  "sub": self.application_id,
                  "jti": str(_uuid.uuid4()), "nbf": iat,
                  "exp": iat + 600}
        return sign_jwt(header, claims, self.key, "RS256")

    def token(self) -> str:
        if self._token and self.now() < self._expiry - 60:
            return self._token
        url = f"{self.endpoint}/{self.tenant_id}/oauth2/token"
        body = urlencode({
            "grant_type": "client_credentials",
            "client_id": self.application_id,
            "client_assertion_type":
                "urn:ietf:params:oauth:client-assertion-type:"
                "jwt-bearer",
            "client_assertion": self._assertion(url),
            "resource": self.resource,
        }).encode()
        status, _, _, data = httpconn.request("POST", url, body, {
            "Content-Type": "application/x-www-form-urlencoded"},
            self.timeout)
        if status != 200:
            raise O365Error(
                "unable to acquire authentication token for tenant:"
                f"{self.tenant_id}: http status {status}")
        obj = json.loads(data)
        self._token = obj["access_token"]
        self._expiry = self.now() + float(obj.get("expires_in",
                                                  3600))
        return self._token


# --------------------------------------------------------------- dates

_API_DATE_PARSERS = [
    "%Y-%m-%dT%H:%M:%S",
    "%Y-%m-%dT%H:%M:%SZ",
    "%Y-%m-%dT%H:%M:%S.%f%z",
    "%Y-%m-%dT%H:%M:%S%z",
    "%Y-%m-%dT%H:%M:%S.%fZ",
]


def parse_api_date(s: str) -> datetime:
    """dateFormats.Parse over the apiDateFormats list."""
    for fmt in _API_DATE_PARSERS:
        try:
            t = datetime.strptime(s, fmt)
            if t.tzinfo is None:
                t = t.replace(tzinfo=timezone.utc)
            return t.astimezone(timezone.utc)
        except ValueError:
            continue
    raise O365Error(f"unable to parse date '{s}'")


def _server_time_delta(headers: dict, now: Callable[[], datetime]
                       ) -> float:
    date = ""
    for k, v in headers.items():
        if k.lower() == "date":
            date = v
    if not date:
        return 0.0
    try:
        server = parsedate_to_datetime(date)
    except (TypeError, ValueError):
        return 0.0
    return (server - now()).total_seconds()


# --------------------------------------------------------------- state

@dataclass
class Checkpoint:
    """state.go."""
    timestamp: datetime = field(
        default_factory=lambda: datetime.fromtimestamp(0, timezone.utc))
    line: int = 0
    start_time: datetime = field(
        default_factory=lambda: datetime.fromtimestamp(0, timezone.utc))

    def before(self, other: "Checkpoint") -> bool:
        return (self.timestamp < other.timestamp
                or (self.timestamp == other.timestamp
                    and self.line < other.line))

    def try_advance(self, created: datetime) -> bool:
        if created < self.timestamp:
            return False
        if created == self.timestamp:
            return self.line > 0
        self.timestamp = created
        self.line = 0
        return True

    def with_start_time(self, s: datetime) -> "Checkpoint":
        return Checkpoint(self.timestamp, self.line, s)

    def for_next_line(self) -> "Checkpoint":
        return Checkpoint(self.timestamp, self.line + 1,
                          self.start_time)

    def to_dict(self) -> dict:
        return {"timestamp": self.timestamp.isoformat(),
                "line": self.line,
                "start_time": self.start_time.isoformat()}

    @classmethod
    def from_dict(cls, d: dict) -> "Checkpoint":
        return cls(datetime.fromisoformat(d["timestamp"]),
                   int(d.get("line", 0)),
                   datetime.fromisoformat(d["start_time"]))


def init_checkpoint(cp: Optional[Checkpoint], max_retention: float,
                    now: Callable[[], datetime]) -> Checkpoint:
    """initCheckpoint (input.go:199-230)."""
    retention_limit = now() - timedelta(seconds=max_retention)
    if cp is None:
        return Checkpoint(timestamp=retention_limit)
    if cp.timestamp < retention_limit:
        return Checkpoint(timestamp=retention_limit)
    return cp


# -------------------------------------------------------------- events

def to_beat_event(raw: str, doc: dict, api: APIConfig,
                  now: Callable[[], datetime]) -> dict:
    """apiEnvironment.toBeatEvent (input.go:268-299)."""
    errs = []
    ts_str = doc.get("CreationTime")
    if isinstance(ts_str, str):
        try:
            ts = parse_api_date(ts_str)
        except O365Error as e:
            ts = now()
            errs.append(f"failed parsing CreationTime: {e}")
    else:
        ts = now()
        errs.append("failed parsing CreationTime: key not found")
    ev: dict[str, Any] = {"ts": ts.timestamp(),
                          "fields": {"o365audit": doc}}
    if api.set_id_from_audit_record:
        rec_id = doc.get("Id")
        if isinstance(rec_id, str) and rec_id:
            ev["meta_id"] = rec_id
    if api.preserve_original_event:
        ev["fields"]["event"] = {"original": raw}
    if errs:
        ev["fields"]["error"] = {"message": errs}
    return ev


def api_error_event(code: str, message: str,
                    now: Callable[[], datetime]) -> dict:
    """apiError.toBeatEvent (schema.go) — '(none)' placeholders."""
    return {"ts": now().timestamp(),
            "fields": {"error": {"code": code or "(none)",
                                 "message": message or "(none)"},
                       "event": {"kind": "pipeline_error"}}}


# -------------------------------------------------------------- poller

@dataclass
class Transaction:
    kind: str                      # "list" | "blob" | "subscribe"
    delay: float = 0.0
    # live marks the poll-interval delay of a window clamped at the
    # present (adjustTimes' to>now branch) — the bounded runner stops
    # there; error-retry delays are NOT live and are slept through
    live: bool = False
    # list
    cursor: Optional[Checkpoint] = None
    start_time: Optional[datetime] = None
    end_time: Optional[datetime] = None
    # blob
    url: str = ""
    blob_id: str = ""
    skip_lines: int = 0
    # pagination
    page_url: str = ""


class Poller:
    """poll.Poller + apiEnvironment for one (tenant, contentType)
    stream. Synchronous FIFO; every request waits
    max(Delay, min_request_interval) through the injectable sleep."""

    def __init__(self, cfg: Config, tenant_id: str, content_type: str,
                 *, token_provider: TokenProvider,
                 publish: Callable[[dict, Optional[Checkpoint]], None],
                 now: Optional[Callable[[], datetime]] = None,
                 sleep: Callable[[float], None] = _time.sleep,
                 resource_override: str = ""):
        self.cfg = cfg
        self.api = cfg.api
        self.tenant_id = tenant_id
        self.content_type = content_type
        self.tokens = token_provider
        self.publish = publish
        self.sleep = sleep
        self.clock = now or (lambda: datetime.now(timezone.utc))
        self.resource = resource_override or self.api.resource
        # MaxRequestsPerMinute is per tenant (input.go:162-163)
        self.min_interval = (len(cfg.content_type) * 60.0
                             / self.api.max_requests_per_minute)
        self.requests: list[tuple[str, str, dict]] = []

    # ---- window math

    def adjust_times(self, tx: Transaction, since: datetime
                     ) -> Transaction:
        """listBlob.adjustTimes (listblobs.go:48-71)."""
        now = self.clock()
        from_limit = now - timedelta(seconds=self.api.max_retention)
        if since < from_limit:
            since = from_limit
        to = since + timedelta(seconds=self.api.max_query_size)
        delay = 0.0
        if to > now:
            since = now - timedelta(seconds=self.api.max_query_size)
            if since < tx.cursor.timestamp:
                since = tx.cursor.timestamp
            to = now
            delay = self.api.poll_interval
        return replace(tx, start_time=since.astimezone(timezone.utc),
                       end_time=to.astimezone(timezone.utc),
                       delay=delay, live=delay > 0)

    # ---- requests

    def _request(self, method: str, url: str,
                 params: Optional[dict] = None
                 ) -> tuple[int, bytes, dict]:
        if params:
            url += ("&" if "?" in url else "?") + urlencode(params)
        self.requests.append((method, url, dict(params or {})))
        r = httpconn.request(method, url, headers={
            "Authorization": "Bearer " + self.tokens.token()})
        return r.status, r.body, dict(r.headers)

    def _list_url(self) -> str:
        return (f"{self.resource.rstrip('/')}/api/v1.0/"
                f"{self.tenant_id}/activity/feed/subscriptions/content")

    def _subscribe_url(self) -> str:
        return (f"{self.resource.rstrip('/')}/api/v1.0/"
                f"{self.tenant_id}/activity/feed/subscriptions/start")

    @staticmethod
    def _read_json(data: bytes):
        body = data
        if body.startswith("﻿".encode()):
            body = body[len("﻿".encode()):]
        try:
            return json.loads(body) if body.strip() else None
        except ValueError as e:
            raise O365Error(f"decoding json failed: {e}") from e

    # ---- transactions

    def run(self, start: Checkpoint, *, max_requests: int = 50,
            stop_when_live: bool = True) -> Checkpoint:
        """poll.Poller.Run bounded: executes transactions until the
        queue would wait for the live window (stop_when_live) or the
        request budget is spent. Returns the final checkpoint."""
        tx = Transaction(kind="list", cursor=start)
        tx = self.adjust_times(tx, start.timestamp)
        if start.line > 0:
            tx = self.adjust_times(tx, start.start_time)
        queue: list[Transaction] = [tx]
        final = start
        n = 0
        while queue and n < max_requests:
            tx = queue.pop(0)
            if tx.delay > 0:
                if tx.live and stop_when_live:
                    return final
                self.sleep(tx.delay)
            else:
                self.sleep(self.min_interval)
            n += 1
            if tx.kind == "list":
                actions, final = self._do_list(tx, final)
            elif tx.kind == "blob":
                actions, final = self._do_blob(tx, final)
            elif tx.kind == "subscribe":
                actions = self._do_subscribe()
            else:
                raise AssertionError(tx.kind)
            # poll.go's transactionList is pure FIFO: every action
            # appends to the tail
            queue = queue + actions
        return final

    def _do_list(self, tx: Transaction, final: Checkpoint
                 ) -> tuple[list[Transaction], Checkpoint]:
        """listBlob.OnResponse + handleError."""
        if tx.page_url:
            status, data, headers = self._request("GET", tx.page_url)
        else:
            status, data, headers = self._request(
                "GET", self._list_url(), {
                    "contentType": self.content_type,
                    "startTime": tx.start_time.strftime(
                        API_DATE_FORMAT),
                    "endTime": tx.end_time.strftime(API_DATE_FORMAT),
                    "publisherIdentifier": self.tenant_id,
                })
        if status != 200:
            return self._list_error(tx, status, data, headers), final

        try:
            items = self._read_json(data) or []
        except O365Error as e:
            raise O365Error(str(e)) from e
        entries = []
        for it in items:
            entries.append({
                "id": it.get("contentId", ""),
                "uri": it.get("contentUri", ""),
                "created": parse_api_date(it.get("contentCreated")),
            })
        entries.sort(key=lambda e: (e["created"], e["id"]))
        cursor = tx.cursor.with_start_time(tx.start_time)
        actions: list[Transaction] = []
        for e in entries:
            if cursor.try_advance(e["created"]):
                actions.append(Transaction(
                    kind="blob", url=e["uri"], blob_id=e["id"],
                    cursor=replace(cursor),
                    skip_lines=cursor.line))
        next_page = self._next_page(headers)
        if next_page:
            actions.append(replace(tx, cursor=cursor,
                                   page_url=next_page))
            return actions, final
        nxt = replace(tx, cursor=cursor, page_url="")
        actions.append(self.adjust_times(nxt, tx.end_time))
        return actions, final

    @staticmethod
    def _next_page(headers: dict) -> str:
        for h in ("NextPageUri", "NextPageUrl"):
            for k, v in headers.items():
                if k.lower() == h.lower() and v:
                    return v
        return ""

    def _list_error(self, tx: Transaction, status: int, data: bytes,
                    headers: dict) -> list[Transaction]:
        """listBlob.handleError (listblobs.go:179-275)."""
        try:
            msg = self._read_json(data) or {}
        except O365Error:
            msg = {}
        err = (msg.get("error") or {})
        code = err.get("code", "")
        tx = replace(tx, delay=self.api.error_retry_interval,
                     live=False)
        if status == 401:
            return [replace(tx, delay=self.api.poll_interval,
                            live=False)]
        if status in (408, 503):
            return [tx]
        if code in FATAL_ERRORS:
            self.publish(api_error_event(code, err.get("message", ""),
                                         self.clock), None)
            raise O365Error(err.get("message", ""))
        if code in ("AF20022", "AF20023"):
            return [Transaction(kind="subscribe"),
                    replace(tx, delay=0.0)]
        if code in ("AF20030", "AF20055"):
            now = self.clock()
            delta = (now - tx.start_time).total_seconds()
            if delta > self.api.max_retention + 1800:
                tx = replace(tx, delay=self.api.poll_interval)
                return [self.adjust_times(tx, tx.start_time)]
            sdelta = _server_time_delta(headers, self.clock)
            if self.api.adjust_clock and abs(sdelta) >= \
                    self.api.adjust_clock_min_difference:
                real = self.clock
                self.clock = lambda: real() + timedelta(seconds=sdelta)
            return [self.adjust_times(tx, tx.start_time)]
        if code:
            self.publish(api_error_event(code, err.get("message", ""),
                                         self.clock), None)
        return [tx]

    def _do_blob(self, tx: Transaction, final: Checkpoint
                 ) -> tuple[list[Transaction], Checkpoint]:
        """contentBlob.OnResponse + handleError."""
        url = tx.page_url or tx.url
        status, data, headers = self._request("GET", url)
        if status != 200:
            try:
                msg = self._read_json(data) or {}
            except O365Error:
                msg = {}
            err = (msg.get("error") or {})
            code = err.get("code", "")
            if code in FATAL_ERRORS:
                self.publish(api_error_event(
                    code, err.get("message", ""), self.clock), None)
                raise O365Error(err.get("message", ""))
            if status == 401:
                return [replace(tx, delay=self.api.poll_interval)], \
                    final
            if status == 404:
                return [], final
            if code:
                self.publish(api_error_event(
                    code, err.get("message", ""), self.clock), None)
            return [replace(tx,
                            delay=self.api.error_retry_interval)], \
                final
        raws = self._read_json(data) or []
        cursor = replace(tx.cursor)
        skip = tx.skip_lines
        if len(raws) > skip:
            for entry in raws[skip:]:
                cursor = cursor.for_next_line()
                self.publish(to_beat_event(
                    json.dumps(entry, separators=(",", ":")), entry,
                    self.api, self.clock), cursor)
                final = cursor
        next_page = self._next_page(headers)
        if next_page:
            return [replace(tx, page_url=next_page,
                            cursor=cursor, skip_lines=0)], final
        return [], final

    def _do_subscribe(self) -> list[Transaction]:
        """subscribe.OnResponse (subscribe.go)."""
        status, data, _ = self._request(
            "POST", self._subscribe_url(),
            {"contentType": self.content_type,
             "publisherIdentifier": self.tenant_id})
        if status != 200:
            try:
                msg = self._read_json(data) or {}
            except O365Error:
                msg = {}
            raise O365Error("got an error when subscribing: "
                            f"{status} body: {msg}")
        js = self._read_json(data) or {}
        if js.get("status") != "enabled":
            raise O365Error("unable to subscribe. Got status: "
                            f"{js.get('status')}")
        return []


# ------------------------------------------------------ driver collect

def o365_collect(cfg: Config, tenant_id: str, content_type: str, *,
                 checkpoint: Optional[Checkpoint] = None,
                 token_provider: Optional[TokenProvider] = None,
                 resource_override: str = "",
                 auth_endpoint_override: str = "",
                 now: Optional[Callable[[], datetime]] = None,
                 sleep: Callable[[float], None] = lambda s: None,
                 max_requests: int = 50) -> tuple[list, Checkpoint]:
    """One bounded run for a stream: init the checkpoint (retention
    clamp), poll until the live window, return (records, final_cp)."""
    validate_config(cfg)
    clock = now or (lambda: datetime.now(timezone.utc))
    if token_provider is None:
        endpoint = (auth_endpoint_override
                    or cfg.api.authentication_endpoint)
        if cfg.certificate:
            token_provider = CertTokenProvider(
                endpoint, cfg.api.resource, cfg.application_id,
                tenant_id, cfg.certificate, cfg.key)
        else:
            token_provider = TokenProvider(
                endpoint, cfg.api.resource, cfg.application_id,
                tenant_id, cfg.client_secret)
    records: list = []

    def publish(event, cursor):
        records.append(event)

    poller = Poller(cfg, tenant_id, content_type,
                    token_provider=token_provider, publish=publish,
                    now=clock, sleep=sleep,
                    resource_override=resource_override)
    start = init_checkpoint(checkpoint, cfg.api.max_retention, clock)
    final = poller.run(start, max_requests=max_requests)
    return records, final


# ------------------------------------------------------------ Spark DF

O365_RECORDS_DDL = ("ts timestamp, content_type string,"
                    " tenant_id string, record_id string,"
                    " operation string, workload string,"
                    " fields string")


def o365_events_df(spark, records: list, tenant_id: str = "",
                   content_type: str = ""):
    import datetime as _dt

    rows = []
    for r in records:
        doc = r["fields"].get("o365audit") or {}
        rows.append((
            _dt.datetime.fromtimestamp(r["ts"], _dt.timezone.utc
                                       ).replace(tzinfo=None),
            content_type, tenant_id, r.get("meta_id"),
            doc.get("Operation"), doc.get("Workload"),
            json.dumps(r["fields"], sort_keys=True)))
    return spark.createDataFrame(rows, O365_RECORDS_DDL)


def o365_stream(spark, cfg: Config, *,
                sink: Callable[[Any, int], None],
                checkpoint_dir: str,
                checkpoints: Optional[dict] = None,
                resource_override: str = "",
                auth_endpoint_override: str = "",
                poll_seconds: float = 0.0):
    """All (tenant × content type) streams on the tick clock: each
    tick runs one bounded collect per stream and advances its stored
    checkpoint AFTER the sink consumed the batch."""
    interval = poll_seconds or cfg.api.poll_interval
    cps = checkpoints if checkpoints is not None else {}

    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("advanceMillisPerBatch", int(interval * 1000))
        .load()
    )

    def one_cycle(_tick_df, batch_id: int) -> None:
        for tenant in cfg.tenant_id:
            for ct in cfg.content_type:
                key = f"{tenant}::{ct}"
                cp = cps.get(key)
                recs, final = o365_collect(
                    cfg, tenant, ct, checkpoint=cp,
                    resource_override=resource_override,
                    auth_endpoint_override=auth_endpoint_override)
                df = o365_events_df(spark, recs, tenant, ct)
                sink(df, batch_id)
                cps[key] = final  # checkpoint-after-sink

    return (ticks.writeStream.foreachBatch(one_cycle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{interval} seconds")
            .start())
