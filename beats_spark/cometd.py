"""cometd input — Salesforce CometD (Bayeux long-polling), live.

The reference input (x-pack/filebeat/input/cometd/) consumes a
Salesforce streaming channel through github.com/elastic/bayeux. This
module implements the Bayeux protocol layer that library produces,
from the public Bayeux spec + the wire shapes the reference's own
test server pins (input_test.go oauth2Handler):

- GetSalesforceCredentials → the OAuth2 password grant: POST
  token_url with form grant_type=password/client_id/client_secret/
  username/password → {access_token, instance_url}
- handshake  → POST {instance_url}/cometd/38.0 with
  {"channel": "/meta/handshake", "supportedConnectionTypes":
  ["long-polling"], "version": "1.0", "minimumVersion": "1.0"} →
  [{clientId, successful}]
- subscribe  → {"channel": "/meta/subscribe", "clientId": ...,
  "subscription": "/topic/<channel>", "ext": {"replay":
  {"/topic/<channel>": "<replay-id>"}}} — the input always passes
  replay "-1" (new events only, input.go:86)
- connect    → the long-poll: {"channel": "/meta/connect",
  "connectionType": "long-polling", "clientId": ...} → an ARRAY of
  messages ({"data": {"payload"|"sobject": ..., "event":
  {"replayId": N}}, "channel": ...}) or the bare `{}` object the
  server sends when the stream is drained
- session cookies from the handshake ride every subsequent request

Run-loop semantics ported from input.go:81-136: a recoverable
transport failure surfaces as an error containing "trying again"
(the bayeux library's wording) and the loop continues; any other
failure aborts with "error collecting events: ..."; a message whose
data carries neither payload nor object ends the cycle (the
empty-`{}` final response); each event's message is the raw
payload-or-sobject JSON, its id the payload's EventIdentifier field,
and the published shape is makeEvent's (event.id/event.created,
message, cometd.channel_name, meta _id).

Surfaces: `cometd_collect` (one bounded run cycle driver-side),
`cometd_events_df` (DataFrame handoff), `cometd_stream` (the worker
loop on the tick-clock pattern).
"""

from __future__ import annotations

import http.client
import json
import time as _time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Optional
from urllib.parse import urlencode

from . import httpconn

__all__ = [
    "CometDError", "Config", "default_config", "validate_oauth2",
    "get_salesforce_credentials", "BayeuxClient", "make_event",
    "cometd_collect", "cometd_events_df", "cometd_stream",
    "COMETD_RECORDS_DDL",
]

API_VERSION = "38.0"


class CometDError(Exception):
    pass


@dataclass
class Config:
    channel_name: str = "cometd-channel"
    client_id: str = ""
    client_secret: str = ""
    user: str = ""
    password: str = ""
    token_url: str = ""

    def validate(self) -> None:
        """config.go + config_auth.go with the exact wordings."""
        if not self.channel_name:
            raise ValueError(
                "no channel name was configured or detected")
        validate_oauth2(self)


def default_config() -> Config:
    return Config()


def validate_oauth2(cfg: Config) -> None:
    """config_auth.go:23-37."""
    if not cfg.token_url:
        raise ValueError("token_url must be provided")
    if not cfg.client_id:
        raise ValueError("client.id must be provided")
    if not cfg.client_secret:
        raise ValueError("client.secret must be provided")
    if not cfg.user or not cfg.password:
        raise ValueError("both user and password must be provided")


# ---------------------------------------------------------------- wire

def get_salesforce_credentials(cfg: Config,
                               timeout: float = 120.0
                               ) -> dict[str, str]:
    """bayeux GetSalesforceCredentials: the password grant."""
    body = urlencode({
        "grant_type": "password",
        "client_id": cfg.client_id,
        "client_secret": cfg.client_secret,
        "username": cfg.user,
        "password": cfg.password,
    }).encode()
    status, _, _, data = httpconn.request(
        "POST", cfg.token_url, body,
        {"Content-Type": "application/x-www-form-urlencoded"},
        timeout)
    if status != 200:
        raise CometDError(
            f"unable to fetch access token: http status {status}")
    try:
        obj = json.loads(data)
    except ValueError as e:
        raise CometDError(
            f"unable to fetch access token: {e}") from e
    token = obj.get("access_token") or ""
    instance = obj.get("instance_url") or ""
    if not token or not instance:
        raise CometDError("unable to fetch access token: missing "
                          "access_token or instance_url")
    return {"access_token": token, "instance_url": instance}


class BayeuxClient:
    """The Bayeux long-polling session over one endpoint, with the
    handshake's session cookies carried on every request."""

    def __init__(self, creds: dict[str, str], *,
                 timeout: float = 120.0):
        self.creds = creds
        self.endpoint = (creds["instance_url"].rstrip("/")
                         + "/cometd/" + API_VERSION)
        self.timeout = timeout
        self.client_id = ""
        self.cookies: dict[str, str] = {}
        self.requests: list[dict] = []  # sent bodies (test surface)

    def _post(self, payload: dict) -> Any:
        self.requests.append(payload)
        headers = {
            "Content-Type": "application/json",
            "Authorization": "Bearer " + self.creds["access_token"],
        }
        if self.cookies:
            headers["Cookie"] = "; ".join(
                f"{k}={v}" for k, v in self.cookies.items())
        body = json.dumps(payload).encode()
        try:
            status, _, resp_headers, data = httpconn.request(
                "POST", self.endpoint, body, headers, self.timeout)
        except (OSError, http.client.HTTPException) as e:
            raise CometDError(
                f"{e}: trying again") from e
        for k, v in dict(resp_headers).items():
            if k.lower() == "set-cookie":
                name, _, rest = v.partition("=")
                self.cookies[name.strip()] = rest.split(";")[0]
        if status != 200:
            raise CometDError(
                f"http status {status}: trying again")
        try:
            return json.loads(data) if data.strip() else {}
        except ValueError as e:
            raise CometDError(f"invalid response: {e}: trying again")

    def handshake(self) -> None:
        out = self._post({
            "channel": "/meta/handshake",
            "supportedConnectionTypes": ["long-polling"],
            "version": "1.0",
            "minimumVersion": "1.0",
        })
        if not (isinstance(out, list) and out
                and out[0].get("successful")):
            raise CometDError("handshake failed")
        self.client_id = out[0].get("clientId", "")

    def subscribe(self, channel: str, replay: str = "-1") -> None:
        topic = "/topic/" + channel
        out = self._post({
            "channel": "/meta/subscribe",
            "clientId": self.client_id,
            "subscription": topic,
            "ext": {"replay": {topic: replay}},
        })
        if not (isinstance(out, list) and out
                and out[0].get("successful")):
            raise CometDError(f"subscribe to {channel} failed")

    def connect(self) -> list[dict]:
        """One long-poll. Returns the message array; the drained
        bare-`{}` response returns [{}] (the sentinel the run loop
        reads as end-of-stream, input.go:117-120)."""
        out = self._post({
            "channel": "/meta/connect",
            "connectionType": "long-polling",
            "clientId": self.client_id,
        })
        if isinstance(out, dict):
            return [out]
        return out


# --------------------------------------------------------------- input

def make_event(event_id: str, channel: str, body: str,
               now: Optional[float] = None) -> dict:
    """makeEvent (input.go:232-250)."""
    if now is None:
        now = _time.time()
    return {
        "ts": now,
        "meta_id": event_id,
        "fields": {
            "event": {"id": event_id, "created": now},
            "message": body,
            "cometd": {"channel_name": channel},
        },
    }


@dataclass
class CollectResult:
    records: list = field(default_factory=list)
    warnings: list = field(default_factory=list)
    error: Optional[str] = None


def cometd_collect(cfg: Config, *, max_events: int = 0,
                   client: Optional[BayeuxClient] = None,
                   max_polls: int = 1000) -> CollectResult:
    """One run() cycle (input.go:81-136): handshake, subscribe with
    replay -1, long-poll until the drained sentinel (or max_events /
    max_polls). Recoverable failures ("trying again") warn and
    continue; anything else aborts with the wrapped wording."""
    cfg.validate()
    res = CollectResult()
    if client is None:
        creds = get_salesforce_credentials(cfg)
        client = BayeuxClient(creds)
    try:
        client.handshake()
        client.subscribe(cfg.channel_name, "-1")
    except CometDError as e:
        res.error = f"error collecting events: {e}"
        return res
    polls = 0
    while polls < max_polls:
        polls += 1
        try:
            msgs = client.connect()
        except CometDError as e:
            if "trying again" in str(e):
                res.warnings.append(str(e))
                continue
            res.error = f"error collecting events: {e}"
            return res
        for m in msgs:
            if m.get("successful"):
                continue  # meta acks carry no event data
            data = m.get("data") or {}
            payload = data.get("payload")
            obj = data.get("sobject")
            if payload is not None:
                msg = json.dumps(payload, separators=(",", ":"))
            elif obj is not None:
                msg = json.dumps(obj, separators=(",", ":"))
            else:
                # the empty final response ends the cycle
                return res
            try:
                parsed = json.loads(msg)
            except ValueError:
                continue  # "error while parsing JSON" — logged
            event_id = parsed.get("EventIdentifier", "") \
                if isinstance(parsed, dict) else ""
            res.records.append(
                make_event(event_id, m.get("channel", ""), msg))
            if max_events and len(res.records) >= max_events:
                return res
    return res


# ------------------------------------------------------------ Spark DF

COMETD_RECORDS_DDL = ("ts timestamp, message string, event_id string,"
                      " channel_name string, meta_id string")


def cometd_events_df(spark, records: list[dict]):
    import datetime as _dt

    def _ts(sec):
        return _dt.datetime.fromtimestamp(sec, _dt.timezone.utc
                                          ).replace(tzinfo=None)

    rows = [(_ts(r["ts"]), r["fields"]["message"],
             r["fields"]["event"]["id"],
             r["fields"]["cometd"]["channel_name"], r["meta_id"])
            for r in records]
    return spark.createDataFrame(rows, COMETD_RECORDS_DDL)


def cometd_stream(spark, cfg: Config, *,
                  sink: Callable[[Any, int], None],
                  checkpoint_dir: str, poll_seconds: float = 1.0,
                  client_factory: Optional[Callable[[], BayeuxClient]]
                  = None):
    """The worker loop on the tick-clock pattern: each tick runs one
    bounded collect cycle (fresh credentials per cycle like the
    reference's rate-limited watchdog restart) and hands the records
    DataFrame to the sink."""
    holder: dict[str, Any] = {}

    def one_cycle(_tick_df, batch_id: int) -> None:
        client = holder.get("client")
        if client is None:
            client = (client_factory() if client_factory
                      else BayeuxClient(get_salesforce_credentials(cfg)))
            holder["client"] = client
        res = cometd_collect(cfg, client=client, max_polls=1)
        df = cometd_events_df(spark, res.records)
        sink(df, batch_id)
        if res.error:
            holder.pop("client", None)  # restart next tick

    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("advanceMillisPerBatch", int(poll_seconds * 1000))
        .load()
    )
    return (ticks.writeStream.foreachBatch(one_cycle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{poll_seconds} seconds")
            .start())
