"""gcp-pubsub input — Google Cloud Pub/Sub subscription pull, live.

The reference input (x-pack/filebeat/input/gcppubsub/) consumes a
Pub/Sub subscription through cloud.google.com/go/pubsub (gRPC
streaming pull) and acks each message when the pipeline acknowledges
delivery. This module implements the same program over Pub/Sub's
public REST v1 API on stdlib http.client (the gcs playbook):

- config.go   → Config/default_config/validate: the
                alternative_host-with-proxy refusal, the
                credentials_file existence check, and the
                credentials_file → credentials_json → ADC resolution
                with the reference's exact no-credentials wording
- input.go    → makeTopicID (sha256(project+topic) hex prefix[:10]),
                makeEvent's exact field shape (event.id =
                topicID-msgID, event.created, message, labels),
                getOrCreateSubscription (exists check → create when
                subscription.create → the exact refusal otherwise)
                with run()'s "failed to subscribe to pub/sub topic"
                wrapping
- ack flow    → the acker.EventPrivateReporter contract: a message is
                ACKed only after the pipeline acknowledged delivery,
                and a rejected event is NACKed (modifyAckDeadline 0,
                the SDK's Nack) for quick redelivery

Wire surface (public REST v1, JSON over HTTP):
  GET  /v1/projects/{p}/subscriptions/{s}          (exists)
  PUT  /v1/projects/{p}/subscriptions/{s}          (create)
  POST /v1/projects/{p}/subscriptions/{s}:pull
  POST /v1/projects/{p}/subscriptions/{s}:acknowledge
  POST /v1/projects/{p}/subscriptions/{s}:modifyAckDeadline
plus the topic create/publish calls the reference's testutil uses to
drive its emulator tests. Authentication rides the gcs module's
OAuth2 service-account JWT flow (Bearer token); `alternative_host`
selects an unauthenticated emulator endpoint exactly like
option.WithGRPCConn(insecure) does.

Execution surfaces follow the repo playbook:

- `pubsub_collect`  — one bounded driver-side pull cycle; the returned
                      finalize() ACKs the batch AFTER the sink consumed
                      it (ack-after-sink; reject(msg) NACKs instead).
- `pubsub_stream`   — the receive loop on the rate-micro-batch tick
                      clock (s3_poll_stream precedent): each tick pulls
                      one batch, hands the DataFrame to the sink, and
                      acknowledges after the sink returns. A crash
                      mid-batch leaves the messages unacked — Pub/Sub's
                      redelivery carries the at-least-once contract,
                      idempotent sinks key on meta_id (event.SetID).
- `pubsub_events_df` — buffered records → DataFrame handoff.
"""

from __future__ import annotations

import base64
import hashlib
import http.client
import json
import time as _time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Iterator, Optional
from urllib.parse import quote, urlparse

from . import httpconn

__all__ = [
    "PubSubError", "PubSubClient", "PubSubMessage", "Config",
    "default_config", "make_topic_id", "make_event",
    "get_or_create_subscription", "pubsub_collect", "pubsub_stream",
    "pubsub_events_df", "PUBSUB_RECORDS_DDL", "new_pubsub_client",
]


class PubSubError(Exception):
    def __init__(self, message: str, status: int = 0,
                 reason: str = ""):
        super().__init__(message)
        self.status = status
        self.reason = reason


@dataclass
class PubSubMessage:
    """pubsub.Message — data is raw bytes, publish_time epoch secs."""
    id: str
    data: bytes
    attributes: dict[str, str]
    publish_time: float
    ack_id: str = ""


# -------------------------------------------------------------- config

@dataclass
class Config:
    """config.go:23-99 — defaults from defaultConfig()."""
    project_id: str = ""
    topic: str = ""
    subscription_name: str = ""
    subscription_num_goroutines: int = 1
    # the input blocks until flush.min_events; the default clears it
    subscription_max_outstanding_messages: int = 1600
    subscription_create: bool = True
    credentials_file: str = ""
    credentials_json: str = ""
    alternative_host: str = ""
    proxy_url: str = ""
    proxy_disable: bool = False

    def validate(self) -> None:
        import os
        if (self.alternative_host != "" and not self.proxy_disable
                and self.proxy_url != ""):
            raise ValueError(
                "alternative_host may not be configured with a proxy")
        if self.credentials_file != "":
            if not os.path.exists(self.credentials_file):
                raise ValueError(
                    "credentials_file is configured, but the file "
                    f'"{self.credentials_file}" cannot be found')
            return
        if self.credentials_json:
            return
        # Application Default Credentials (ADC)
        if os.environ.get("GOOGLE_APPLICATION_CREDENTIALS"):
            return
        if self.alternative_host != "":
            # the emulator path needs no credentials (the reference
            # reaches Validate only through go-ucfg, but its emulator
            # tests always pass a fake credentials_file; emulator use
            # without one is accepted here because the wire client is
            # explicitly unauthenticated for alternative_host)
            return
        raise ValueError(
            "no authentication credentials were configured or detected "
            "(credentials_file, credentials_json, and application "
            "default credentials (ADC))")


def default_config() -> Config:
    return Config()


# ---------------------------------------------------------------- wire

class PubSubClient:
    """The Pub/Sub REST v1 surface the input consumes, over one
    keep-alive connection. token_provider is an object with a
    .token() method (gcs.auth.ServiceAccountAuth) or None for the
    emulator path."""

    def __init__(self, endpoint: str, project: str, *,
                 token_provider=None, timeout: float = 30.0,
                 user_agent: str = ""):
        u = urlparse(endpoint)
        if not u.scheme or not u.netloc:
            raise PubSubError(f"failed to parse endpoint: {endpoint}")
        self._http = httpconn.KeepAlive(u.scheme, u.netloc, timeout)
        self.project = project
        self.token_provider = token_provider
        self.timeout = timeout
        self.user_agent = user_agent

    def close(self) -> None:
        self._http.close()

    def _request(self, method: str, path: str,
                 payload: Optional[dict] = None) -> tuple[int, dict]:
        body = (json.dumps(payload, separators=(",", ":")).encode()
                if payload is not None else b"")
        hdrs = {"Content-Type": "application/json",
                "Content-Length": str(len(body))}
        if self.user_agent:
            hdrs["User-Agent"] = self.user_agent
        if self.token_provider is not None:
            hdrs["Authorization"] = "Bearer " + self.token_provider.token()
        for attempt in (0, 1):
            conn = self._http.get()
            try:
                conn.request(method, quote(path, safe="/:~"),
                             body=body or None, headers=hdrs)
                resp = conn.getresponse()
                data = resp.read()
                break
            except (http.client.HTTPException, OSError):
                self.close()
                if attempt:
                    raise
        try:
            obj = json.loads(data) if data.strip() else {}
        except ValueError:
            obj = {"raw": data.decode("utf-8", "replace")[:200]}
        return resp.status, obj

    def _call(self, method: str, path: str,
              payload: Optional[dict] = None) -> dict:
        status, obj = self._request(method, path, payload)
        if status >= 300:
            err = obj.get("error") or {}
            raise PubSubError(
                err.get("message")
                or obj.get("raw", f"http status {status}"),
                status=status, reason=err.get("status", ""))
        return obj

    # ---- subscriptions

    def _sub_path(self, sub: str) -> str:
        return f"/v1/projects/{self.project}/subscriptions/{sub}"

    def subscription_exists(self, sub: str) -> bool:
        status, obj = self._request("GET", self._sub_path(sub))
        if status == 200:
            return True
        if status == 404:
            return False
        err = (obj.get("error") or {})
        raise PubSubError(err.get("message", f"http status {status}"),
                          status=status, reason=err.get("status", ""))

    def create_subscription(self, sub: str, topic: str) -> dict:
        return self._call("PUT", self._sub_path(sub), {
            "topic": f"projects/{self.project}/topics/{topic}"})

    def pull(self, sub: str, max_messages: int) -> list[PubSubMessage]:
        out = self._call("POST", self._sub_path(sub) + ":pull",
                         {"maxMessages": max_messages})
        msgs = []
        for rm in out.get("receivedMessages") or []:
            m = rm.get("message") or {}
            msgs.append(PubSubMessage(
                id=m.get("messageId", ""),
                data=base64.b64decode(m.get("data", "") or ""),
                attributes=m.get("attributes") or {},
                publish_time=_parse_rfc3339(m.get("publishTime", "")),
                ack_id=rm.get("ackId", "")))
        return msgs

    def acknowledge(self, sub: str, ack_ids: list[str]) -> None:
        if not ack_ids:
            return
        self._call("POST", self._sub_path(sub) + ":acknowledge",
                   {"ackIds": ack_ids})

    def modify_ack_deadline(self, sub: str, ack_ids: list[str],
                            seconds: int) -> None:
        if not ack_ids:
            return
        self._call("POST", self._sub_path(sub) + ":modifyAckDeadline",
                   {"ackIds": ack_ids, "ackDeadlineSeconds": seconds})

    # ---- topics (the testutil surface)

    def _topic_path(self, topic: str) -> str:
        return f"/v1/projects/{self.project}/topics/{topic}"

    def create_topic(self, topic: str) -> dict:
        return self._call("PUT", self._topic_path(topic), {})

    def publish(self, topic: str, messages: list[dict]) -> list[str]:
        """messages: [{"data": bytes, "attributes": {...}}] → ids."""
        payload = {"messages": [
            {"data": base64.b64encode(m.get("data", b"")).decode(),
             **({"attributes": m["attributes"]}
                if m.get("attributes") else {})}
            for m in messages]}
        out = self._call("POST", self._topic_path(topic) + ":publish",
                         payload)
        return out.get("messageIds") or []


def _parse_rfc3339(s: str) -> float:
    if not s:
        return 0.0
    s = s.rstrip("Z")
    if "." in s:
        head, frac = s.split(".", 1)
        frac = (frac + "000000")[:6]
        s = head + "." + frac
        fmt = "%Y-%m-%dT%H:%M:%S.%f"
    else:
        fmt = "%Y-%m-%dT%H:%M:%S"
    return datetime.strptime(s, fmt).replace(
        tzinfo=timezone.utc).timestamp()


def new_pubsub_client(cfg: Config, *, user_agent: str = "",
                      timeout: float = 30.0) -> PubSubClient:
    """input.go newPubsubClient: alternative_host selects the
    unauthenticated emulator endpoint; otherwise the public endpoint
    with the service-account Bearer flow (gcs.auth)."""
    if cfg.alternative_host != "":
        host = cfg.alternative_host
        if "://" not in host:
            host = "http://" + host
        return PubSubClient(host, cfg.project_id, timeout=timeout,
                            user_agent=user_agent)
    from .gcs.auth import ServiceAccountAuth, load_credentials
    auth_cfg: dict[str, Any] = {}
    if cfg.credentials_file:
        auth_cfg["credentials_file"] = {"path": cfg.credentials_file}
    elif cfg.credentials_json:
        auth_cfg["credentials_json"] = cfg.credentials_json
    creds = load_credentials(auth_cfg)
    tp = (ServiceAccountAuth(
        creds, scope="https://www.googleapis.com/auth/pubsub")
        if creds else None)
    return PubSubClient("https://pubsub.googleapis.com",
                        cfg.project_id, token_provider=tp,
                        timeout=timeout, user_agent=user_agent)


# --------------------------------------------------------------- input

def make_topic_id(project: str, topic: str) -> str:
    """input.go:295-301 — a short sha256 prefix joined with message
    ids to build unique document _ids."""
    h = hashlib.sha256()
    h.update(project.encode())
    h.update(topic.encode())
    return h.hexdigest()[:10]


def make_event(topic_id: str, msg: PubSubMessage,
               now: Optional[float] = None) -> dict:
    """input.go:303-324 — the exact published field shape."""
    if now is None:
        now = _time.time()
    event_id = topic_id + "-" + msg.id
    fields: dict[str, Any] = {
        "event": {"id": event_id, "created": now},
        "message": msg.data.decode("utf-8", "replace"),
    }
    if msg.attributes:
        fields["labels"] = dict(msg.attributes)
    return {"ts": msg.publish_time, "meta_id": event_id,
            "fields": fields, "message_id": msg.id,
            "ack_id": msg.ack_id}


def get_or_create_subscription(client: PubSubClient, cfg: Config) -> str:
    """input.go:326-350 with run()'s wrapping (input.go:255-259)."""
    try:
        exists = client.subscription_exists(cfg.subscription_name)
    except PubSubError as e:
        raise PubSubError(
            "failed to subscribe to pub/sub topic: failed to check if "
            f"subscription exists: {e}", status=e.status,
            reason=e.reason) from e
    if exists:
        return cfg.subscription_name
    if cfg.subscription_create:
        try:
            client.create_subscription(cfg.subscription_name, cfg.topic)
        except PubSubError as e:
            raise PubSubError(
                "failed to subscribe to pub/sub topic: failed to "
                f"create subscription: {e}", status=e.status,
                reason=e.reason) from e
        return cfg.subscription_name
    raise PubSubError(
        "failed to subscribe to pub/sub topic: no subscription exists "
        "and 'subscription.create' is not enabled")


# ------------------------------------------------------ driver collect

class CollectResult:
    def __init__(self, records: list[dict], client: PubSubClient,
                 sub: str):
        self.records = records
        self._client = client
        self._sub = sub
        self._nacked: set[str] = set()

    def reject(self, record: dict) -> None:
        """NACK one record (msg.Nack — modifyAckDeadline 0 for quick
        redelivery). Call before finalize()."""
        self._nacked.add(record["ack_id"])

    def finalize(self) -> None:
        """ACK everything not rejected — AFTER the sink consumed the
        batch (the acker.EventPrivateReporter delivery gate)."""
        nack = [a for a in self._nacked if a]
        ack = [r["ack_id"] for r in self.records
               if r["ack_id"] and r["ack_id"] not in self._nacked]
        if nack:
            self._client.modify_ack_deadline(self._sub, nack, 0)
        if ack:
            self._client.acknowledge(self._sub, ack)


def pubsub_collect(client: PubSubClient, cfg: Config,
                   max_messages: Optional[int] = None) -> CollectResult:
    """One bounded pull cycle: ensure the subscription, pull up to
    max_outstanding_messages, build events. ACK/NACK are deferred to
    the returned CollectResult (ack-after-sink)."""
    sub = get_or_create_subscription(client, cfg)
    limit = max_messages or cfg.subscription_max_outstanding_messages
    topic_id = make_topic_id(cfg.project_id, cfg.topic)
    msgs = client.pull(sub, limit)
    records = [make_event(topic_id, m) for m in msgs]
    return CollectResult(records, client, sub)


# ------------------------------------------------------------ Spark DF

PUBSUB_RECORDS_DDL = (
    "ts timestamp, message string, event_id string, message_id string,"
    " labels map<string,string>, meta_id string"
)


def pubsub_events_df(spark, records: list[dict]):
    import datetime as _dt

    def _ts(sec):
        return _dt.datetime.fromtimestamp(sec, _dt.timezone.utc
                                          ).replace(tzinfo=None)

    rows = [(_ts(r["ts"]), r["fields"]["message"],
             r["fields"]["event"]["id"], r["message_id"],
             r["fields"].get("labels"), r["meta_id"])
            for r in records]
    return spark.createDataFrame(rows, PUBSUB_RECORDS_DDL)


def pubsub_stream(spark, cfg: Config, client: PubSubClient, *,
                  sink: Callable[[Any, int], None],
                  checkpoint_dir: str, poll_seconds: float = 1.0,
                  max_messages: Optional[int] = None):
    """The receive loop on the tick-clock pattern: each tick pulls one
    batch, hands the records DataFrame to `sink(df, batch_id)`, then
    ACKs — ack-after-sink, so a crash mid-batch leaves the messages
    unacked for Pub/Sub redelivery (at-least-once; dedupe by meta_id)."""
    ticks = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 1)
        .option("advanceMillisPerBatch", int(poll_seconds * 1000))
        .load()
    )

    def one_cycle(_tick_df, batch_id: int) -> None:
        res = pubsub_collect(client, cfg, max_messages=max_messages)
        df = pubsub_events_df(spark, res.records)
        sink(df, batch_id)
        res.finalize()  # ACK after the sink consumed the batch

    return (ticks.writeStream.foreachBatch(one_cycle)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{poll_seconds} seconds")
            .start())
