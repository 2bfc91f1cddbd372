"""salesforce input — the Event Monitoring API (SOQL + EventLogFile),
live.

The reference input (x-pack/filebeat/input/salesforce/) collects
Salesforce events two ways on independent intervals: the Object method
(a templated SOQL query over real-time event objects) and the
EventLogFile method (a SOQL query listing log files whose CSV bodies
are downloaded and streamed row by row). This module implements the
whole program from scratch on the shared HTTP transport (httpconn)
and the repo's Go text/template engine:

- value_tpl.go → the SOQL value templates ride the httpjson template
                 engine ([[ ]] delimiters, missingkey=error) with the
                 salesforce func map: now / parseDuration (quiet) /
                 parseTime / formatTime with the predefinedLayouts
                 table (incl. CustomRFC3339Like), and the Execute
                 contract (failures and empty results fall back to
                 the default template)
- state.go     → the per-method dateTimeCursor
                 (first/last_event_time, last_event_id,
                 progress_time) and parseCursor's default-vs-value
                 template dispatch
- config*.go   → Validate with the exact wordings (auth xor, the
                 enabled-method requirement, interval checks, the
                 batch placeholder cross-checks, version ≥ 46), the
                 UserPasswordFlow / JWTBearerFlow validation tables,
                 and normalizeOAuthTokenURL
- go-sfdc      → session.Open's password grant (POST
                 {url}/services/oauth2/token) and the JWT bearer
                 grant (RS256 assertion via `cryptography`, iss/sub/
                 aud/exp per the public Salesforce JWT flow), the
                 SOQL query REST surface
                 (GET /services/data/v{N}.0/query?q=... with
                 totalSize/done/records/nextRecordsUrl pagination)
- batch.go     → the bounded Object batching: the canonical
                 batchCursorTimeLayout, parseBatchCursorTime's
                 fail-loud layouts, nextObjectBatchWindow's
                 progress_time-first priority with the legacy
                 watermark projections (laterBatchStart), window
                 clamping, max_windows_per_run
- input.go     → RunObject / runObjectBatches (cursor snapshot and
                 rollback on error), runObjectQuery's per-row cursor
                 side effects (first row → first_event_time, every
                 row → last_event_time, Id rows → last_event_id reset
                 per run), RunEventLogFile (cursor advanced only
                 after the whole CSV published), processCSVRecords
                 (LazyQuotes, 1-based row numbers counting the
                 header, empty body OK), publishEvent's
                 message/event.provider shape, isAuthError +
                 reopenSession retry-once, formatCollectionStatus /
                 nextBackoffUntil

Surfaces: `salesforce_collect` runs each enabled method once and
returns records + the updated cursor state; `salesforce_events_df` is
the DataFrame handoff; `salesforce_stream` runs the two methods on
their intervals via the tick clock with cursor-after-sink.
"""

from __future__ import annotations

import base64
import json
import time as _time
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta, timezone
from typing import Any, Callable, Iterator, Optional
from urllib.parse import quote, urlencode

from . import httpconn
from .httpjson.tpl import (TemplateError, _Evaluator, _MissingKey,
                           _parse_template)
from .httpjson.gotime import (GoDuration, GoTime, GoTimeError,
                              parse_go_duration)

__all__ = [
    "SalesforceError", "SfValueTpl", "QueryConfig", "CursorConfig",
    "BatchConfig", "MethodConfig", "OAuth2Config", "Config",
    "validate_config", "normalize_oauth_token_url", "DateTimeCursor",
    "State", "parse_cursor", "SalesforceSession", "soql_query",
    "format_batch_cursor_time", "parse_batch_cursor_time",
    "next_object_batch_window", "later_batch_start",
    "process_csv_records", "publish_event_shape", "is_auth_error",
    "SalesforceCollector", "salesforce_collect", "salesforce_events_df",
    "salesforce_stream", "SALESFORCE_RECORDS_DDL",
    "format_collection_status", "next_backoff_until",
]

FORMAT_RFC3339_LIKE = "2006-01-02T15:04:05.999Z"
BATCH_CURSOR_LAYOUT = "2006-01-02T15:04:05.000Z07:00"
SUPPORTED_BATCH_LAYOUTS = [
    BATCH_CURSOR_LAYOUT,
    "2006-01-02T15:04:05.000Z0700",
    "2006-01-02T15:04:05Z07:00",       # RFC3339
    "2006-01-02T15:04:05.999999999Z07:00",  # RFC3339Nano
    FORMAT_RFC3339_LIKE,
]

PREDEFINED_LAYOUTS = {
    "ANSIC": "Mon Jan _2 15:04:05 2006",
    "UnixDate": "Mon Jan _2 15:04:05 MST 2006",
    "RubyDate": "Mon Jan 02 15:04:05 -0700 2006",
    "RFC822": "02 Jan 06 15:04 MST",
    "RFC822Z": "02 Jan 06 15:04 -0700",
    "RFC850": "Monday, 02-Jan-06 15:04:05 MST",
    "RFC1123": "Mon, 02 Jan 2006 15:04:05 MST",
    "RFC1123Z": "Mon, 02 Jan 2006 15:04:05 -0700",
    "RFC3339": "2006-01-02T15:04:05Z07:00",
    "CustomRFC3339Like": FORMAT_RFC3339_LIKE,
    "RFC3339Nano": "2006-01-02T15:04:05.999999999Z07:00",
    "Kitchen": "3:04PM",
}


class SalesforceError(Exception):
    pass


# ---------------------------------------------------------- value tpl

def _sf_funcs(now: Callable[[], GoTime]) -> dict:
    def parse_duration(s):
        try:
            return GoDuration(parse_go_duration(s))
        except (GoTimeError, TypeError):
            return GoDuration(0)

    def parse_time(ts, layout):
        layout = PREDEFINED_LAYOUTS.get(layout, layout)
        try:
            return GoTime.parse(layout, ts)
        except (GoTimeError, TypeError):
            return GoTime.from_unix(0, 0)

    def format_time(t, layout):
        layout = PREDEFINED_LAYOUTS.get(layout, layout)
        return t.format(layout)

    return {"now": now, "parseDuration": parse_duration,
            "parseTime": parse_time, "formatTime": format_time}


class SfValueTpl:
    """valueTpl: the salesforce template dialect on the shared Go
    text/template engine, with the Execute fallback contract
    (value_tpl.go:29-61)."""

    def __init__(self, src: str,
                 now: Optional[Callable[[], GoTime]] = None):
        self.source = src
        self.nodes = _parse_template(src)
        self._now = now or (lambda: GoTime.from_unix(
            int(_time.time()), 0))

    def execute(self, data: dict,
                default: Optional["SfValueTpl"] = None) -> str:
        def fallback(err):
            if default is not None:
                return default.execute({}, None)
            raise SalesforceError(str(err))

        try:
            val = _Evaluator(dict(data),
                             _sf_funcs(self._now)).render(self.nodes)
        except (_MissingKey, TemplateError) as e:
            return fallback(e)
        except Exception:
            return fallback("template execution failed")
        if val == "":
            return fallback("template result is empty")
        return val


@dataclass
class QueryConfig:
    default: Optional[SfValueTpl] = None
    value: Optional[SfValueTpl] = None


@dataclass
class CursorConfig:
    field: str = ""


@dataclass
class BatchConfig:
    enabled: bool = False
    initial_interval: float = 0.0
    max_windows_per_run: Optional[int] = None
    window: float = 0.0

    def get_max_windows_per_run(self) -> int:
        return self.max_windows_per_run \
            if self.max_windows_per_run is not None else 1


@dataclass
class MethodConfig:
    enabled: bool = False
    interval: float = 0.0
    query: Optional[QueryConfig] = None
    cursor: Optional[CursorConfig] = None
    batch: Optional[BatchConfig] = None


@dataclass
class OAuth2Config:
    # user_password_flow
    up_enabled: bool = False
    client_id: str = ""
    client_secret: str = ""
    password: str = ""
    token_url: str = ""
    username: str = ""
    # jwt_bearer_flow
    jwt_enabled: bool = False
    jwt_url: str = ""
    jwt_token_url: str = ""
    jwt_client_id: str = ""
    jwt_client_username: str = ""
    jwt_client_key_path: str = ""


@dataclass
class Config:
    url: str = ""
    version: int = 0
    auth: Optional[OAuth2Config] = None
    event_log_file: MethodConfig = field(default_factory=MethodConfig)
    object: MethodConfig = field(default_factory=MethodConfig)


def validate_user_password_flow(o: OAuth2Config) -> None:
    """config_auth.go UserPasswordFlow.Validate."""
    if not o.up_enabled:
        return
    if not o.token_url:
        raise ValueError("token_url must be provided")
    if not o.client_id:
        raise ValueError("client.id must be provided")
    if not o.client_secret:
        raise ValueError("client.secret must be provided")
    if not o.username:
        raise ValueError("username must be provided")
    if not o.password:
        raise ValueError("password must be provided")


def validate_jwt_bearer_flow(o: OAuth2Config) -> None:
    """config_auth.go JWTBearerFlow.Validate."""
    if not o.jwt_enabled:
        return
    if not o.jwt_url:
        raise ValueError("url must be provided")
    if not o.jwt_client_id:
        raise ValueError("client.id must be provided")
    if not o.jwt_client_username:
        raise ValueError("client.username must be provided")
    if not o.jwt_client_key_path:
        raise ValueError("client.key_path must be provided")


def _validate_method(path: str, m: MethodConfig) -> None:
    """validateEnabledMethodConfig (config.go:131-152)."""
    if not m.enabled:
        return
    if m.query is None:
        raise ValueError(f'"{path}.query" must be configured when '
                         f'"{path}.enabled" is true')
    if m.query.default is None:
        raise ValueError(f'"{path}.query.default" must be configured '
                         f'when "{path}.enabled" is true')
    if m.query.value is None:
        raise ValueError(f'"{path}.query.value" must be configured '
                         f'when "{path}.enabled" is true')
    if m.cursor is None:
        raise ValueError(f'"{path}.cursor" must be configured when '
                         f'"{path}.enabled" is true')
    if not m.cursor.field:
        raise ValueError(f'"{path}.cursor.field" must be configured '
                         f'when "{path}.enabled" is true')


_BATCH_START_PH = ".cursor.object.batch_start_time"
_BATCH_END_PH = ".cursor.object.batch_end_time"


def validate_config(cfg: Config) -> None:
    """config.Validate (config.go:181-255) with the exact wordings."""
    o = cfg.auth
    if o is None or (not o.jwt_enabled and not o.up_enabled):
        raise ValueError("no auth provider enabled")
    if o.jwt_enabled and o.up_enabled:
        raise ValueError("only one auth provider must be enabled")
    if not cfg.url:
        raise ValueError("no instance url is configured")
    if not cfg.object.enabled and not cfg.event_log_file.enabled:
        raise ValueError(
            'at least one of "event_monitoring_method.event_log_file.'
            'enabled" or "event_monitoring_method.object.enabled" '
            "must be set to true")
    validate_user_password_flow(o)
    validate_jwt_bearer_flow(o)
    if cfg.event_log_file.enabled:
        if cfg.event_log_file.interval == 0:
            raise ValueError("not a valid interval 0")
        _validate_method("event_monitoring_method.event_log_file",
                         cfg.event_log_file)
    if cfg.object.enabled:
        m = cfg.object
        if m.interval == 0:
            raise ValueError("not a valid interval 0")
        src = m.query.value.source if m.query and m.query.value else ""
        uses_start = _BATCH_START_PH in src
        uses_end = _BATCH_END_PH in src
        batch_on = m.batch is not None and m.batch.enabled
        if batch_on and m.batch.initial_interval <= 0:
            raise ValueError(
                '"event_monitoring_method.object.batch.'
                'initial_interval" must be greater than zero')
        if batch_on and m.batch.window <= 0:
            raise ValueError(
                '"event_monitoring_method.object.batch.window" must '
                "be greater than zero")
        if batch_on and m.batch.get_max_windows_per_run() <= 0:
            raise ValueError(
                '"event_monitoring_method.object.batch.'
                'max_windows_per_run" must be greater than zero')
        _validate_method("event_monitoring_method.object", m)
        if batch_on and (not uses_start or not uses_end):
            raise ValueError(
                '"event_monitoring_method.object.query.value" must '
                'reference both ".cursor.object.batch_start_time" and '
                '".cursor.object.batch_end_time" when '
                '"event_monitoring_method.object.batch.enabled" is '
                "true")
        if not batch_on and (uses_start or uses_end):
            raise ValueError(
                '"event_monitoring_method.object.query.value" must '
                'not reference ".cursor.object.batch_start_time" or '
                '".cursor.object.batch_end_time" when '
                '"event_monitoring_method.object.batch.enabled" is '
                "false")
    if cfg.version < 46:
        raise ValueError("not a valid version i.e., 46.0 or above")


def normalize_oauth_token_url(raw: str) -> str:
    """input.go:865-869."""
    trimmed = raw.strip().rstrip("/")
    if trimmed.endswith("/services/oauth2/token"):
        trimmed = trimmed[:-len("/services/oauth2/token")]
    return trimmed.rstrip("/")


# --------------------------------------------------------------- state

@dataclass
class DateTimeCursor:
    first_event_time: str = ""
    last_event_time: str = ""
    last_event_id: str = ""
    progress_time: str = ""


@dataclass
class State:
    object: DateTimeCursor = field(default_factory=DateTimeCursor)
    event_log_file: DateTimeCursor = field(
        default_factory=DateTimeCursor)


def parse_cursor(query: QueryConfig, cursor: Optional[dict]) -> str:
    """parseCursor (state.go:57-71)."""
    if cursor is not None:
        return query.value.execute({"cursor": cursor})
    return query.default.execute({"cursor": None})


# --------------------------------------------------------- batch math

def format_batch_cursor_time(t: datetime) -> str:
    return t.astimezone(timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def parse_batch_cursor_time(raw: str) -> datetime:
    """parseBatchCursorTime — fail loud on corrupt state."""
    fmts = ["%Y-%m-%dT%H:%M:%S.%f%z", "%Y-%m-%dT%H:%M:%S%z"]
    s = raw
    if s.endswith("Z"):
        s = s[:-1] + "+0000"
    for fmt in fmts:
        try:
            return datetime.strptime(s, fmt).astimezone(timezone.utc)
        except ValueError:
            continue
    raise SalesforceError(
        f'unsupported Salesforce cursor time format: "{raw}"')


def later_batch_start(progress_ts: datetime,
                      *fallbacks: str) -> datetime:
    """laterBatchStart (batch.go:148-163)."""
    start = progress_ts
    for fb in fallbacks:
        if not fb:
            continue
        try:
            ts = parse_batch_cursor_time(fb)
        except SalesforceError:
            continue
        if ts > start:
            start = ts
    return start


def next_object_batch_window(cursor: DateTimeCursor,
                             batch: BatchConfig, run_end: datetime
                             ) -> Optional[tuple[datetime, datetime]]:
    """nextObjectBatchWindow (batch.go:103-145)."""
    if cursor.progress_time:
        start = later_batch_start(
            parse_batch_cursor_time(cursor.progress_time),
            cursor.first_event_time, cursor.last_event_time)
    elif cursor.first_event_time:
        start = parse_batch_cursor_time(cursor.first_event_time)
    elif cursor.last_event_time:
        start = parse_batch_cursor_time(cursor.last_event_time)
    else:
        start = run_end - timedelta(seconds=batch.initial_interval)
    end = start + timedelta(seconds=batch.window)
    if end > run_end:
        end = run_end
    if end <= start:
        return None
    return start, end


# ---------------------------------------------------------------- auth

class SalesforceSession:
    """go-sfdc session.Open: the password or JWT bearer grant against
    {base}/services/oauth2/token; retains access token + instance
    URL, exposes the Authorization header, and re-opens on demand."""

    def __init__(self, cfg: Config, *, now=None):
        self.cfg = cfg
        self.access_token = ""
        self.instance_url = ""
        self.opens = 0

    def open(self) -> None:
        o = self.cfg.auth
        if o.up_enabled:
            base = normalize_oauth_token_url(o.token_url)
            form = {"grant_type": "password",
                    "client_id": o.client_id,
                    "client_secret": o.client_secret,
                    "username": o.username,
                    "password": o.password}
        else:
            base = normalize_oauth_token_url(o.jwt_token_url
                                             or o.jwt_url)
            form = {"grant_type":
                    "urn:ietf:params:oauth:grant-type:jwt-bearer",
                    "assertion": self._jwt_assertion()}
        status, _, _, data = httpconn.request(
            "POST", base + "/services/oauth2/token",
            urlencode(form).encode(),
            {"Content-Type": "application/x-www-form-urlencoded"})
        if status != 200:
            raise SalesforceError(
                "failed to open salesforce connection: http status "
                f"{status}: {data.decode('utf-8', 'replace')[:200]}")
        obj = json.loads(data)
        self.access_token = obj.get("access_token", "")
        self.instance_url = obj.get("instance_url", "") or self.cfg.url
        self.opens += 1

    def _jwt_assertion(self) -> str:
        """The Salesforce JWT bearer assertion (RS256; iss=client id,
        sub=username, aud=login url, exp=now+3m)."""
        from cryptography.hazmat.primitives import hashes, serialization
        from cryptography.hazmat.primitives.asymmetric import padding

        o = self.cfg.auth
        with open(o.jwt_client_key_path, "rb") as f:
            key = serialization.load_pem_private_key(f.read(), None)

        def b64(obj) -> str:
            raw = json.dumps(obj, separators=(",", ":")).encode() \
                if isinstance(obj, dict) else obj
            return base64.urlsafe_b64encode(raw).rstrip(b"=").decode()

        header = b64({"alg": "RS256", "typ": "JWT"})
        claims = b64({"iss": o.jwt_client_id,
                      "sub": o.jwt_client_username,
                      "aud": o.jwt_url,
                      "exp": int(_time.time()) + 180})
        signing_input = f"{header}.{claims}".encode()
        sig = key.sign(signing_input, padding.PKCS1v15(),
                       hashes.SHA256())
        return f"{header}.{claims}.{b64(sig)}"

    def auth_header(self) -> dict:
        return {"Authorization": "Bearer " + self.access_token}


def is_auth_error(msg: str) -> bool:
    """isAuthError (input.go:311-320)."""
    return ("INVALID_SESSION_ID" in msg
            or "INVALID_AUTH_HEADER" in msg
            or ": 401 " in msg or "status code 401" in msg)


# ----------------------------------------------------------------- SOQL

def soql_query(session: SalesforceSession, version: int, query: str
               ) -> Iterator[dict]:
    """The SOQL REST surface: GET /services/data/v{N}.0/query with
    nextRecordsUrl pagination. Yields raw record dicts with the
    `attributes` key stripped (go-sfdc Record.Fields)."""
    if not query.strip():
        raise SalesforceError("query is empty")
    base = session.instance_url.rstrip("/")
    url = (f"{base}/services/data/v{version}.0/query"
           f"?q={quote(query)}")
    while True:
        status, _, _, data = httpconn.request(
            "GET", url, headers=session.auth_header())
        if status != 200:
            raise SalesforceError(
                f"soql query failed: {status} "
                f"{data.decode('utf-8', 'replace')[:300]}")
        obj = json.loads(data)
        for rec in obj.get("records") or []:
            yield {k: v for k, v in rec.items() if k != "attributes"}
        nxt = obj.get("nextRecordsUrl")
        if not obj.get("done", True) and nxt:
            url = base + nxt
            continue
        return


# ----------------------------------------------------------------- CSV

def process_csv_records(text: str,
                        on_record: Callable[[dict], None]) -> int:
    """processCSVRecords (input.go:1095-1139): LazyQuotes CSV with
    header-keyed rows, 1-based row numbers counting the header; an
    empty body or header-only body returns 0."""
    import csv as _csv
    import io as _io

    reader = _csv.reader(_io.StringIO(text))
    try:
        header = next(reader)
    except StopIteration:
        return 0
    count = 0
    row_num = 1
    while True:
        row_num += 1
        try:
            record = next(reader)
        except StopIteration:
            return count
        except _csv.Error as e:
            raise SalesforceError(
                f"failed to read CSV row {row_num}: {e}") from e
        event = {h: (record[i] if i < len(record) else "")
                 for i, h in enumerate(header)}
        on_record(event)
        count += 1


def publish_event_shape(json_str: str, method: str,
                        now: Optional[float] = None) -> dict:
    """publishEvent (input.go:1062-1078)."""
    if now is None:
        now = _time.time()
    return {"ts": now,
            "fields": {"message": json_str,
                       "event": {"provider": method}}}


def format_collection_status(method: str, fails: int,
                             err: str) -> str:
    """formatCollectionStatus (input.go:267-272)."""
    if fails > 1:
        return (f"Error running {method} collection ({fails} "
                f"consecutive failures): {err}")
    return f"Error running {method} collection: {err}"


def next_backoff_until(interval: float,
                       now: Optional[float] = None) -> float:
    """nextBackoffUntil (input.go:284-286): interval + interval/2."""
    if now is None:
        now = _time.time()
    return now + interval + interval / 2


# ------------------------------------------------------------ collector

class SalesforceCollector:
    """The run loop's collection methods for one input instance."""

    def __init__(self, cfg: Config, *, state: Optional[State] = None,
                 session: Optional[SalesforceSession] = None,
                 now: Optional[Callable[[], datetime]] = None):
        validate_config(cfg)
        self.cfg = cfg
        self.state = state or State()
        self.session = session or SalesforceSession(cfg)
        self.clock = now or (lambda: datetime.now(timezone.utc))
        self.records: list[dict] = []
        if not self.session.access_token:
            self.session.open()

    def _publish(self, json_str: str, method: str) -> None:
        self.records.append(publish_event_shape(
            json_str, method, self.clock().timestamp()))

    def _query_with_reauth(self, query: str) -> list[dict]:
        """queryWithReauth: retry exactly once on an auth error."""
        try:
            return list(soql_query(self.session, self.cfg.version,
                                   query))
        except SalesforceError as e:
            if not is_auth_error(str(e)):
                raise
            self.session.open()
            return list(soql_query(self.session, self.cfg.version,
                                   query))

    # ---- Object

    def object_cursor(self, batch_window=None) -> Optional[dict]:
        """objectCursor (input.go:467-500)."""
        c = self.state.object
        if not (c.first_event_time or c.last_event_time
                or c.progress_time or batch_window is not None):
            return None
        obj: dict[str, Any] = {}
        first, last = c.first_event_time, c.last_event_time
        if batch_window is None and c.progress_time:
            first = _later_watermark(first, c.progress_time)
            last = _later_watermark(last, c.progress_time)
        if first:
            obj["first_event_time"] = first
        if last:
            obj["last_event_time"] = last
        if batch_window is None or c.last_event_id:
            obj["last_event_id"] = c.last_event_id
        if c.progress_time:
            obj["progress_time"] = c.progress_time
        if batch_window is not None:
            obj["batch_start_time"] = format_batch_cursor_time(
                batch_window[0])
            obj["batch_end_time"] = format_batch_cursor_time(
                batch_window[1])
        return {"object": obj}

    def run_object(self) -> int:
        m = self.cfg.object
        if m.batch is not None and m.batch.enabled:
            return self._run_object_batches()
        prev = replace(self.state.object)
        try:
            return self._run_object_query(self.object_cursor(None))
        except SalesforceError:
            self.state.object = prev
            raise

    def _run_object_batches(self) -> int:
        m = self.cfg.object
        run_end = self.clock()
        total = 0
        for _ in range(m.batch.get_max_windows_per_run()):
            window = next_object_batch_window(self.state.object,
                                              m.batch, run_end)
            if window is None:
                break
            prev = replace(self.state.object)
            try:
                total += self._run_object_query(
                    self.object_cursor(window))
            except SalesforceError:
                self.state.object = prev
                raise
            self.state.object.progress_time = \
                format_batch_cursor_time(window[1])
            if window[1] >= run_end:
                break
        return total

    def _run_object_query(self, cursor: Optional[dict]) -> int:
        m = self.cfg.object
        query = parse_cursor(m.query, cursor)
        rows = self._query_with_reauth(query)
        total = 0
        first = True
        # reset per run (input.go:639-643)
        self.state.object.last_event_id = ""
        for val in rows:
            js = json.dumps(val, separators=(",", ":"))
            ts = val.get(m.cursor.field)
            if isinstance(ts, str):
                if first:
                    self.state.object.first_event_time = ts
                self.state.object.last_event_time = ts
            rid = val.get("Id")
            if isinstance(rid, str):
                self.state.object.last_event_id = rid
            self._publish(js, "Object")
            first = False
            total += 1
        return total

    # ---- EventLogFile

    def run_event_log_file(self) -> int:
        m = self.cfg.event_log_file
        c = self.state.event_log_file
        cursor = None
        if c.first_event_time or c.last_event_time:
            elf: dict[str, Any] = {}
            if c.first_event_time:
                elf["first_event_time"] = c.first_event_time
            if c.last_event_time:
                elf["last_event_time"] = c.last_event_time
            elf["last_event_id"] = c.last_event_id
            cursor = {"event_log_file": elf}
        query = parse_cursor(m.query, cursor)
        rows = self._query_with_reauth(query)
        total = 0
        first = True
        for val in rows:
            logfile = val.get("LogFile")
            if not isinstance(logfile, str):
                raise SalesforceError(
                    "LogFile field not found or not a string in "
                    f"Salesforce event log file: {val}")
            published = self._fetch_and_publish_log_file(logfile)
            ts = val.get(m.cursor.field)
            if isinstance(ts, str):
                if first:
                    c.first_event_time = ts
                c.last_event_time = ts
                c.last_event_id = ""
                rid = val.get("Id")
                if isinstance(rid, str):
                    c.last_event_id = rid
            total += published
            first = False
        return total

    def _fetch_and_publish_log_file(self, logfile: str) -> int:
        status, _, _, data = httpconn.request(
            "GET", self.cfg.url.rstrip("/") + logfile,
            headers=self.session.auth_header())
        if status == 401:
            self.session.open()
            status, _, _, data = httpconn.request(
                "GET", self.cfg.url.rstrip("/") + logfile,
                headers=self.session.auth_header())
        if status != 200:
            raise SalesforceError(
                f"unexpected status code {status} for log file")
        try:
            return process_csv_records(
                data.decode("utf-8", "replace"),
                lambda ev: self._publish(
                    json.dumps(ev, separators=(",", ":")),
                    "EventLogFile"))
        except SalesforceError as e:
            raise SalesforceError(
                f"error processing log file CSV: {e}") from e


def _later_watermark(legacy: str, progress: str) -> str:
    """laterObjectResumeWatermark (input.go:513-532)."""
    if not progress:
        return legacy
    try:
        pts = parse_batch_cursor_time(progress)
    except SalesforceError:
        return legacy
    if not legacy:
        return progress
    try:
        lts = parse_batch_cursor_time(legacy)
    except SalesforceError:
        return legacy
    return progress if pts > lts else legacy


def salesforce_collect(cfg: Config, *,
                       state: Optional[State] = None,
                       session: Optional[SalesforceSession] = None,
                       now: Optional[Callable[[], datetime]] = None
                       ) -> tuple[list, State]:
    """Run each enabled method once (the startup-phase collection of
    run(), input.go:165-189) and return (records, state)."""
    col = SalesforceCollector(cfg, state=state, session=session,
                              now=now)
    if cfg.event_log_file.enabled:
        col.run_event_log_file()
    if cfg.object.enabled:
        col.run_object()
    return col.records, col.state


# ------------------------------------------------------------ Spark DF

SALESFORCE_RECORDS_DDL = ("ts timestamp, provider string,"
                          " message string")


def salesforce_events_df(spark, records: list):
    import datetime as _dt

    rows = [(_dt.datetime.fromtimestamp(r["ts"], _dt.timezone.utc
                                        ).replace(tzinfo=None),
             r["fields"]["event"]["provider"],
             r["fields"]["message"]) for r in records]
    return spark.createDataFrame(rows, SALESFORCE_RECORDS_DDL)


def salesforce_stream(spark, cfg: Config, *,
                      sink: Callable[[Any, int], None],
                      checkpoint_dir: str,
                      state: Optional[State] = None,
                      poll_seconds: float = 0.0):
    """Both methods on the tick clock, each cycle one collect with
    the shared cursor state advanced AFTER the sink consumed the
    batch (cursor rollbacks on error are the collector's own
    contract, so a failed cycle re-runs the same window)."""
    interval = poll_seconds or min(
        [m.interval for m in (cfg.object, cfg.event_log_file)
         if m.enabled] or [60.0])
    st = state if state is not None else State()
    holder: dict[str, Any] = {"session": None}

    def one_cycle(_tick_df, batch_id: int) -> None:
        records, _ = salesforce_collect(cfg, state=st,
                                        session=holder.get("session"))
        df = salesforce_events_df(spark, records)
        sink(df, batch_id)

    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("advanceMillisPerBatch", int(interval * 1000))
        .load()
    )
    return (ticks.writeStream.foreachBatch(one_cycle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{interval} seconds")
            .start())
