"""cloudfoundry input — loggregator RLP gateway streaming, live.

The reference input (x-pack/filebeat/input/cloudfoundry/ +
x-pack/libbeat/common/cloudfoundry/) follows the Cloud Foundry
loggregator. Two consumer versions exist: v1 (doppler firehose —
dropsonde protobuf over websocket via the noaa SDK) and v2 (the RLP
gateway — loggregator v2 JSON envelopes over an HTTP server-sent-event
stream via go-loggregator). This module implements the v2 path live
from the public protocol and re-expresses the whole event-conversion
layer:

- config.go     → Config defaults (cache 120 s / retry 20 s, version
                  v1 default) and Validate's exact wording; input.go's
                  "not supported consumer version" dispatch
- doer.go       → authTokenDoer: a fresh UAA token per request
                  (POST {uaa}/oauth/token, client_credentials form +
                  Basic auth; the Authorization header is
                  "{token_type} {access_token}" verbatim)
- hub.go        → endpoint resolution: GET {api}/v2/info discovers
                  the UAA/doppler endpoints (the go-cfclient flow);
                  the RLP address defaults to the api address with
                  "api" → "log-stream" replaced (hub.go:106-111)
- rlplistener.go→ the egress stream: GET {rlp}/v2/read with shard_id
                  and the selector presence flags derived from the
                  registered callbacks exactly like getSelectors
                  (timer/log/counter/gauge/event), read as SSE
                  `data:` lines of envelope-batch JSON
- conversion    → loggregator v2 → v1 (go-loggregator/conversion
                  ToV1, re-derived from the public package): base
                  fields pulled from the origin/deployment/job/index/
                  ip tags, base64 log payloads with OUT/ERR streams,
                  string-int counter fields, gauges fanning out to
                  one ValueMetric per metric EXCEPT the five-key
                  container set {cpu, memory, disk, memory_quota,
                  disk_quota} which forms a ContainerMetric, "http"
                  timers to HttpStartStop from the request tags, and
                  events to v1 Error envelopes (source/code tags)
- events.go     → EnvelopeToEvent + every ToFields shape, ported
                  field-for-field and pinned by events_test.go's
                  golden maps (incl. the little-endian UUID format
                  vector and the tagsToMeta app/space/org routing
                  with DeDot'ed custom tags)

The v1 doppler consumer is live too (`beats_spark.dropsonde`): the
dropsonde protobuf codec is re-derived from the public
dropsonde-protocol definitions and the firehose runs over the repo's
RFC 6455 websocket client, feeding the same envelope_to_event /
event_to_fields layer below.

Surfaces: `cloudfoundry_collect` (bounded driver-side stream read),
`cloudfoundry_events_df` (typed DataFrame handoff), and
`cloudfoundry_stream` (background follower + tick-clock drain).
"""

from __future__ import annotations

import base64
import json
import threading
import time as _time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Optional
from urllib.parse import urlencode, urlparse

from . import httpconn

__all__ = [
    "CloudFoundryError", "Config", "validate_config", "AuthTokenDoer",
    "get_cf_info", "rlp_address_from_api", "format_uuid",
    "convert_v2_to_v1", "envelope_to_event", "event_to_fields",
    "get_selector_params", "RlpGatewayClient", "cloudfoundry_collect",
    "cloudfoundry_events_df", "cloudfoundry_stream",
    "CLOUDFOUNDRY_RECORDS_DDL", "dedot",
]

CONTAINER_METRIC_KEYS = {"cpu", "memory", "disk", "memory_quota",
                         "disk_quota"}


class CloudFoundryError(Exception):
    pass


# -------------------------------------------------------------- config

@dataclass
class Config:
    """config.go:21-55."""
    client_id: str = ""
    client_secret: str = ""
    api_address: str = ""
    doppler_address: str = ""
    uaa_address: str = ""
    rlp_address: str = ""
    shard_id: str = ""
    version: str = "v1"
    cache_duration: float = 120.0
    cache_retry_delay: float = 20.0


def validate_config(cfg: Config) -> None:
    if cfg.version not in ("v1", "v2"):
        raise ValueError(f"not supported version {cfg.version}, "
                         "expected one of v1, v2")


def configure(cfg: Config):
    """input.go:42-55's dispatch. Both consumer versions are live:
    v2 = the RLP gateway (this module), v1 = the doppler firehose
    (beats_spark.dropsonde — the dropsonde protobuf codec re-derived
    from the public dropsonde-protocol definitions, over the repo's
    RFC 6455 client)."""
    if cfg.version in ("v1", "v2"):
        return cfg
    raise ValueError(f"not supported consumer version: {cfg.version}")


# ---------------------------------------------------------------- auth

class AuthTokenDoer:
    """doer.go — a fresh UAA token per request. token() returns the
    full Authorization header value '{token_type} {access_token}'."""

    def __init__(self, uaa_url: str, client_id: str,
                 client_secret: str, timeout: float = 60.0):
        self.url = uaa_url.rstrip("/")
        self.client_id = client_id
        self.client_secret = client_secret
        self.timeout = timeout

    def token(self) -> str:
        body = urlencode({"client_id": self.client_id,
                          "grant_type": "client_credentials"}).encode()
        basic = base64.b64encode(
            f"{self.client_id}:{self.client_secret}".encode()).decode()
        status, _, _, data = httpconn.request(
            "POST", self.url + "/oauth/token", body,
            {"Content-Type": "application/x-www-form-urlencoded",
             "Authorization": "Basic " + basic}, self.timeout)
        if status != 200:
            raise CloudFoundryError(
                f"error retrieving UUA token: received a status code "
                f"{status}")
        obj = json.loads(data)
        return f"{obj.get('token_type', '')} " \
               f"{obj.get('access_token', '')}"


def get_cf_info(api_address: str, timeout: float = 60.0) -> dict:
    """The go-cfclient endpoint discovery: GET {api}/v2/info."""
    status, _, _, data = httpconn.request(
        "GET", api_address.rstrip("/") + "/v2/info", timeout=timeout)
    if status != 200:
        raise CloudFoundryError(
            f"error creating cloudfoundry client: http status {status}")
    return json.loads(data)


def rlp_address_from_api(api_address: str) -> str:
    """hub.go:106-111 — 'api' → 'log-stream', first occurrence."""
    return api_address.replace("api", "log-stream", 1)


# ------------------------------------------------------------- v2 → v1

def format_uuid(low: Optional[int], high: Optional[int]) -> str:
    """events.go:560-568 — the dropsonde UUID little-endian dump."""
    if low is None and high is None:
        return ""
    b = (int(low or 0).to_bytes(8, "little")
         + int(high or 0).to_bytes(8, "little"))
    h = b.hex()
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _uuid_to_low_high(s: str) -> tuple[int, int]:
    """Inverse of format_uuid for v2 string request ids."""
    b = bytes.fromhex(s.replace("-", ""))
    return (int.from_bytes(b[:8], "little"),
            int.from_bytes(b[8:], "little"))


def _pop_tag(tags: dict, name: str) -> str:
    v = tags.pop(name, "")
    if isinstance(v, dict):  # deprecated_tags carry typed values
        v = v.get("text") or v.get("integer") or v.get("decimal") or ""
    return str(v)


def convert_v2_to_v1(env: dict) -> list[dict]:
    """go-loggregator conversion.ToV1 over the gateway's JSON
    envelope encoding. Returns a list of v1 envelope dicts (gauges
    fan out). The v1 base fields ride the origin/deployment/job/
    index/ip tags; remaining tags stay as envelope tags."""
    tags: dict = {}
    tags.update(env.get("deprecated_tags") or {})
    tags.update(env.get("tags") or {})
    base = {
        "origin": _pop_tag(tags, "origin"),
        "deployment": _pop_tag(tags, "deployment"),
        "job": _pop_tag(tags, "job"),
        "index": _pop_tag(tags, "index"),
        "ip": _pop_tag(tags, "ip"),
        "timestamp": int(env.get("timestamp") or 0),
    }
    tags.pop("__v1_type", None)
    source_id = env.get("source_id", "") or ""
    instance_id = env.get("instance_id", "") or ""

    if "log" in env:
        log = env["log"] or {}
        source_type = _pop_tag(tags, "source_type")
        v1 = dict(base, eventType="LogMessage", tags=tags)
        v1["logMessage"] = {
            "message": base64.b64decode(log.get("payload") or ""
                                        ).decode("utf-8", "replace"),
            "message_type": 2 if log.get("type") == "ERR" else 1,
            "app_id": source_id,
            "source_type": source_type,
            "source_instance": instance_id,
        }
        return [v1]

    if "counter" in env:
        c = env["counter"] or {}
        v1 = dict(base, eventType="CounterEvent", tags=tags)
        v1["counterEvent"] = {
            "name": c.get("name", ""),
            "delta": int(c.get("delta") or 0),
            "total": int(c.get("total") or 0),
        }
        return [v1]

    if "gauge" in env:
        metrics = (env["gauge"] or {}).get("metrics") or {}
        if set(metrics) == CONTAINER_METRIC_KEYS:
            v1 = dict(base, eventType="ContainerMetric", tags=tags)
            try:
                idx = int(instance_id)
            except ValueError:
                idx = 0
            v1["containerMetric"] = {
                "applicationId": source_id,
                "instanceIndex": idx,
                "cpuPercentage": float(metrics["cpu"].get("value", 0)),
                "memoryBytes": int(metrics["memory"].get("value", 0)),
                "diskBytes": int(metrics["disk"].get("value", 0)),
                "memoryBytesQuota": int(
                    metrics["memory_quota"].get("value", 0)),
                "diskBytesQuota": int(
                    metrics["disk_quota"].get("value", 0)),
            }
            return [v1]
        out = []
        for name, m in metrics.items():
            v1 = dict(base, eventType="ValueMetric", tags=dict(tags))
            v1["valueMetric"] = {
                "name": name,
                "value": float(m.get("value", 0)),
                "unit": m.get("unit", ""),
            }
            out.append(v1)
        return out

    if "timer" in env:
        t = env["timer"] or {}
        if t.get("name") != "http":
            return []
        req_id = _pop_tag(tags, "request_id")
        try:
            low, high = _uuid_to_low_high(req_id) if req_id \
                else (None, None)
        except ValueError:
            low, high = None, None
        try:
            status_code = int(_pop_tag(tags, "status_code") or 0)
        except ValueError:
            status_code = 0
        try:
            content_length = int(_pop_tag(tags, "content_length") or 0)
        except ValueError:
            content_length = 0
        try:
            instance_index = int(_pop_tag(tags, "instance_index")
                                 or instance_id or 0)
        except ValueError:
            instance_index = 0
        forwarded = _pop_tag(tags, "forwarded")
        v1 = dict(base, eventType="HttpStartStop", tags=tags)
        alow, ahigh = (None, None)
        if source_id:
            try:
                alow, ahigh = _uuid_to_low_high(source_id)
            except ValueError:
                pass
        v1["httpStartStop"] = {
            "startTimestamp": int(t.get("start") or 0),
            "stopTimestamp": int(t.get("stop") or 0),
            "requestId": {"low": low, "high": high},
            "peerType": _pop_tag(tags, "peer_type") or "Client",
            "method": _pop_tag(tags, "method") or "GET",
            "uri": _pop_tag(tags, "uri"),
            "remoteAddress": _pop_tag(tags, "remote_address"),
            "userAgent": _pop_tag(tags, "user_agent"),
            "statusCode": status_code,
            "contentLength": content_length,
            "applicationId": {"low": alow, "high": ahigh},
            "instanceIndex": instance_index,
            "forwarded": forwarded.split("\n") if forwarded else [],
        }
        return [v1]

    if "event" in env:
        e = env["event"] or {}
        try:
            code = int(_pop_tag(tags, "code") or 0)
        except ValueError:
            code = 0
        v1 = dict(base, eventType="Error", tags=tags)
        v1["error"] = {
            "source": _pop_tag(tags, "source") or e.get("title", ""),
            "code": code,
            "message": e.get("body", ""),
        }
        return [v1]

    return []


# ----------------------------------------------------------- v1 events

def envelope_to_event(env: dict) -> Optional[dict]:
    """events.go EnvelopeToEvent — a typed event dict with a 'type'
    discriminator, the shared base, and the per-type payload."""
    base = {
        "origin": env.get("origin", ""),
        "timestamp": env.get("timestamp", 0) / 1e9,
        "deployment": env.get("deployment", ""),
        "job": env.get("job", ""),
        "index": env.get("index", ""),
        "ip": env.get("ip", ""),
        "tags": dict(env.get("tags") or {}),
    }
    et = env.get("eventType")
    if et == "HttpStartStop":
        m = env["httpStartStop"]
        rid = m.get("requestId") or {}
        aid = m.get("applicationId") or {}
        return dict(base, type="access",
                    app_guid=format_uuid(aid.get("low"),
                                         aid.get("high")),
                    start_timestamp=m.get("startTimestamp", 0) / 1e9,
                    stop_timestamp=m.get("stopTimestamp", 0) / 1e9,
                    request_id=format_uuid(rid.get("low"),
                                           rid.get("high")),
                    peer_type=str(m.get("peerType", "")).lower(),
                    method=m.get("method", ""), uri=m.get("uri", ""),
                    remote_address=m.get("remoteAddress", ""),
                    user_agent=m.get("userAgent", ""),
                    status_code=m.get("statusCode", 0),
                    content_length=m.get("contentLength", 0),
                    instance_index=m.get("instanceIndex", 0) or 0,
                    forwarded=m.get("forwarded") or [])
    if et == "LogMessage":
        m = env["logMessage"]
        return dict(base, type="log", app_guid=m.get("app_id", ""),
                    message=m.get("message", ""),
                    message_type=("stderr"
                                  if m.get("message_type") == 2
                                  else "stdout"),
                    source_type=m.get("source_type", ""),
                    source_id=m.get("source_instance", ""))
    if et == "CounterEvent":
        m = env["counterEvent"]
        return dict(base, type="counter", name=m.get("name", ""),
                    delta=m.get("delta", 0), total=m.get("total", 0))
    if et == "ValueMetric":
        m = env["valueMetric"]
        return dict(base, type="value", name=m.get("name", ""),
                    value=m.get("value", 0.0), unit=m.get("unit", ""))
    if et == "ContainerMetric":
        m = env["containerMetric"]
        return dict(base, type="container",
                    app_guid=m.get("applicationId", ""),
                    instance_index=m.get("instanceIndex", 0),
                    cpu_percentage=m.get("cpuPercentage", 0.0),
                    memory_bytes=m.get("memoryBytes", 0),
                    disk_bytes=m.get("diskBytes", 0),
                    memory_bytes_quota=m.get("memoryBytesQuota", 0),
                    disk_bytes_quota=m.get("diskBytesQuota", 0))
    if et == "Error":
        m = env["error"]
        return dict(base, type="error", message=m.get("message", ""),
                    code=m.get("code", 0), source=m.get("source", ""))
    return None


def dedot(s: str) -> str:
    """common.DeDot."""
    return s.replace(".", "_")


def _tags_to_meta(event_tags: dict) -> tuple[dict, dict]:
    """tagsToMeta (events.go:511-533)."""
    tags: dict = {}
    meta: dict = {}
    routing = {
        "app_id": ("app", "id"), "app_name": ("app", "name"),
        "space_id": ("space", "id"), "space_name": ("space", "name"),
        "organization_id": ("org", "id"),
        "organization_name": ("org", "name"),
    }
    for name, value in event_tags.items():
        if name in routing:
            grp, key = routing[name]
            meta.setdefault(grp, {})[key] = value
        else:
            tags[dedot(name)] = value
    return tags, meta


def _url_map(uri: str) -> dict:
    u = urlparse(uri)
    if not u.scheme and not u.netloc:
        return {"original": uri}
    return {"original": uri, "scheme": u.scheme,
            "port": str(u.port) if u.port else "",
            "path": u.path, "domain": u.hostname or ""}


def event_to_fields(evt: dict) -> dict:
    """ToFields (events.go) — the exact published shapes, pinned by
    events_test.go's golden maps."""
    tags, meta = _tags_to_meta(evt["tags"])
    cf: dict[str, Any] = {
        "type": evt["type"],
        "envelope": {
            "origin": evt["origin"], "deployment": evt["deployment"],
            "ip": evt["ip"], "job": evt["job"], "index": evt["index"],
        },
    }
    if tags:
        cf["tags"] = tags
    for grp, vals in meta.items():
        cf.setdefault(grp, {}).update(vals)
    fields: dict[str, Any] = {"cloudfoundry": cf}
    app_guid = evt.get("app_guid", "")
    if evt["type"] in ("access", "log", "container") and app_guid:
        cf.setdefault("app", {})["id"] = app_guid

    t = evt["type"]
    if t == "access":
        fields["http"] = {"response": {
            "status_code": evt["status_code"],
            "method": evt["method"], "bytes": evt["content_length"]}}
        fields["user_agent"] = {"original": evt["user_agent"]}
        fields["url"] = _url_map(evt["uri"])
    elif t == "log":
        cf["log"] = {"source": {"instance": evt["source_id"],
                                "type": evt["source_type"]}}
        fields["message"] = evt["message"]
        fields["stream"] = evt["message_type"]
    elif t == "counter":
        cf["counter"] = {"name": evt["name"], "delta": evt["delta"],
                         "total": evt["total"]}
    elif t == "value":
        cf["value"] = {"name": evt["name"], "value": evt["value"],
                       "unit": evt["unit"]}
    elif t == "container":
        cf["container"] = {
            "instance_index": evt["instance_index"],
            "cpu.pct": evt["cpu_percentage"],
            "memory.bytes": evt["memory_bytes"],
            "memory.quota.bytes": evt["memory_bytes_quota"],
            "disk.bytes": evt["disk_bytes"],
            "disk.quota.bytes": evt["disk_bytes_quota"]}
    elif t == "error":
        cf["error"] = {"source": evt["source"]}
        fields["message"] = evt["message"]
        fields["code"] = evt["code"]
    return fields


# ------------------------------------------------------------- gateway

def get_selector_params(callbacks: set[str]) -> list[str]:
    """getSelectors (rlplistener.go:116-154) lowered to the gateway's
    query flags, order-preserving: timer, log, counter, gauge,
    event."""
    out = []
    if "http_access" in callbacks:
        out.append("timer")
    if "log" in callbacks:
        out.append("log")
    if "counter" in callbacks:
        out.append("counter")
    if "value_metric" in callbacks or "container_metric" in callbacks:
        out.append("gauge")
    if "error" in callbacks:
        out.append("event")
    return out


class RlpGatewayClient:
    """The RLP gateway egress stream: GET /v2/read as server-sent
    events, each `data:` line an envelope-batch JSON."""

    def __init__(self, rlp_address: str, doer: AuthTokenDoer, *,
                 shard_id: str = "", timeout: float = 120.0):
        self.rlp_address = rlp_address.rstrip("/")
        self.doer = doer
        self.shard_id = shard_id
        self.timeout = timeout
        self._conn = None
        self._resp = None
        self._stop = threading.Event()

    def connect(self, selectors: list[str]) -> None:
        u = urlparse(self.rlp_address)
        self._conn = httpconn.open_connection(u.scheme, u.netloc,
                                              self.timeout)
        params = [("shard_id", self.shard_id)] if self.shard_id else []
        qs = urlencode(params)
        for sel in selectors:
            qs += ("&" if qs else "") + sel
        path = (u.path or "") + "/v2/read" + ("?" + qs if qs else "")
        self._conn.request("GET", path, headers={
            "Authorization": self.doer.token(),
            "Accept": "text/event-stream",
        })
        self._resp = self._conn.getresponse()
        if self._resp.status != 200:
            body = self._resp.read()
            raise CloudFoundryError(
                f"RLP gateway returned {self._resp.status}: "
                f"{body.decode('utf-8', 'replace')[:200]}")

    def batches(self) -> Iterator[list[dict]]:
        """Yield envelope batches until the stream closes."""
        buf = b""
        while not self._stop.is_set():
            chunk = self._resp.read1(65536)
            if not chunk:
                return
            buf += chunk
            while b"\n" in buf:
                line, _, buf = buf.partition(b"\n")
                line = line.strip()
                if not line.startswith(b"data:"):
                    continue  # heartbeats / event: lines
                payload = line[5:].strip()
                if not payload:
                    continue
                try:
                    obj = json.loads(payload)
                except ValueError:
                    continue
                batch = obj.get("batch") or []
                if batch:
                    yield batch

    def close(self) -> None:
        self._stop.set()
        if self._conn is not None:
            try:
                self._conn.close()
            finally:
                self._conn = None


ALL_CALLBACKS = {"http_access", "log", "counter", "value_metric",
                 "container_metric", "error"}


def cloudfoundry_collect(cfg: Config, *, max_events: int = 0,
                         callbacks: Optional[set] = None,
                         rlp_address: str = "",
                         uaa_address: str = "") -> list[dict]:
    """One bounded v2 stream read: resolve endpoints, open the egress
    stream with the callback-derived selectors, convert each v2
    envelope through v1 to the published field maps."""
    validate_config(cfg)
    callbacks = callbacks if callbacks is not None else ALL_CALLBACKS
    uaa = uaa_address or cfg.uaa_address
    rlp = rlp_address or cfg.rlp_address \
        or rlp_address_from_api(cfg.api_address)
    if not uaa:
        info = get_cf_info(cfg.api_address)
        uaa = cfg.uaa_address or info.get("token_endpoint", "")
    doer = AuthTokenDoer(uaa, cfg.client_id, cfg.client_secret)
    client = RlpGatewayClient(rlp, doer, shard_id=cfg.shard_id)
    client.connect(get_selector_params(callbacks))
    out: list[dict] = []
    try:
        for batch in client.batches():
            for v2env in batch:
                for v1env in convert_v2_to_v1(v2env):
                    evt = envelope_to_event(v1env)
                    if evt is None:
                        continue
                    out.append({"ts": evt["timestamp"],
                                "type": evt["type"],
                                "fields": event_to_fields(evt)})
                    if max_events and len(out) >= max_events:
                        return out
    finally:
        client.close()
    return out


# ------------------------------------------------------------ Spark DF

CLOUDFOUNDRY_RECORDS_DDL = (
    "ts timestamp, type string, message string, app_id string,"
    " origin string, fields string"
)


def cloudfoundry_events_df(spark, records: list[dict]):
    import datetime as _dt

    def _ts(sec):
        return _dt.datetime.fromtimestamp(sec, _dt.timezone.utc
                                          ).replace(tzinfo=None)

    rows = []
    for r in records:
        f = r["fields"]
        cf = f.get("cloudfoundry", {})
        rows.append((
            _ts(r["ts"]), r["type"], f.get("message"),
            (cf.get("app") or {}).get("id"),
            (cf.get("envelope") or {}).get("origin"),
            json.dumps(f, sort_keys=True)))
    return spark.createDataFrame(rows, CLOUDFOUNDRY_RECORDS_DDL)


def cloudfoundry_stream(spark, cfg: Config, *,
                        sink: Callable[[Any, int], None],
                        checkpoint_dir: str,
                        poll_seconds: float = 1.0,
                        callbacks: Optional[set] = None,
                        rlp_address: str = "",
                        uaa_address: str = ""):
    """A background stream reader buffers events; each tick drains
    the buffer into the sink (the websocket_stream drain pattern —
    the input is stateless, so there is no cursor to commit)."""
    buf: list[dict] = []
    lock = threading.Lock()
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                for rec in cloudfoundry_collect(
                        cfg, callbacks=callbacks,
                        rlp_address=rlp_address,
                        uaa_address=uaa_address):
                    with lock:
                        buf.append(rec)
                    if stop.is_set():
                        return
            except CloudFoundryError:
                stop.wait(1.0)  # reconnect like the input watchdog

    t = threading.Thread(target=reader, daemon=True)
    t.start()

    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("advanceMillisPerBatch", int(poll_seconds * 1000))
        .load()
    )

    def one_drain(_tick_df, batch_id: int) -> None:
        with lock:
            batch, buf[:] = list(buf), []
        sink(cloudfoundry_events_df(spark, batch), batch_id)

    q = (ticks.writeStream.foreachBatch(one_drain)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(processingTime=f"{poll_seconds} seconds")
         .start())
    q._beats_stop = stop
    return q
