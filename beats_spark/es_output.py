"""Live Elasticsearch bulk output over HTTP — the primary beats output
(libbeat/outputs/elasticsearch) as a result-returning Spark stage.

The repo already carries the DECISION layer as replayable Columns
(routing.py: es_bulk_action / es_pipeline_column / bulk_item_action /
bulk_result_stats / dead_letter_reencode, each driver-oracled). This
module adds the WIRE layer those columns feed, written against the
public Elasticsearch bulk API with stdlib http.client — no SDK:

  * connection — eslegclient/connection.go: Ping/getVersion (GET /,
    version.number + build_flavor, non-2xx refused), Basic and ApiKey
    auth headers (connection.go:484-491), the allow_older_versions
    major.minor gate with the reference's error wording
    (client.go:47, cmd/instance/beat.go:1153-1159);
  * request — eslegclient/bulkapi.go Bulk: POST <path>/_bulk with
    filter_path=errors,items.*.error,items.*.status,items.*.failure_store
    (client.go:123-125), `Content-Type: application/json; charset=UTF-8`
    + X-Elastic-Uncompressed-Request-Length (enc.go:131-134), gzip
    Content-Encoding when compression_level > 0, X-Elastic-Event-Count
    (client.go:51,311-312), NDJSON action/doc line pairs (delete ships
    the action line only, client.go:383-390);
  * response — bulk.go bulkReadToItems/bulkReadItemStatus strictness:
    items walked in request order, each item a SINGLE-KEY object with an
    integer status; a malformed tail marks the REMAINING events
    retryable (client.go:469-476); a non-200 bulk status marks ALL
    events retryable (client.go:457-459);
  * policy — client.go:495-554 applyItemStatus, the SAME table
    bulk_item_action replays as a Column, driving the live retry loop:
    <300 ack (dead_letter_ack for a dead-letter retry), 409 duplicate,
    429 retry, other <500 → dead-letter redirect (setDeadLetter,
    event_encoder.go:140-152) or drop, ≥500 retry — bounded by
    max_retries (config.go:68, default 3) with exponential backoff
    (config.go Backoff init/max);
  * 413 — handleBulkResultError (client.go:327-345): split the chunk in
    halves and retry; a single event that still doesn't fit drops with
    errPayloadTooLarge's message.

Spark-first shape: everything declarative stays declarative — the doc
line comes from codec_json(envelope=True), the action line from
es_bulk_action, index/pipeline routing from the selector Columns — so
the worker moves bytes and applies the response policy; the only
per-event JSON work is the rare dead-letter rewrap. One HTTP connection
per partition ON the executors (the write_lumberjack / write_redis
worker-pool pattern). Delivery contract: the stage RETURNS a per-event
outcome DataFrame (status / result / attempts); a connection-level
failure raises so Spark's task retry replays the partition —
at-least-once, the coarser sibling of batch.RetryEvents.
"""

from __future__ import annotations

import base64
import gzip as _gzip
import io
import json
import time
from typing import Any, Callable, Iterable
from urllib.parse import urlencode, urlsplit

from pyspark.sql import DataFrame

from .httpconn import KeepAlive

__all__ = [
    "ESProtocolError",
    "ESConnection",
    "es_ping",
    "check_older_version",
    "bulk_publish",
    "write_es_bulk",
]

# client.go:45 errPayloadTooLarge (the batch-has-been-dropped wording)
_PAYLOAD_TOO_LARGE = (
    "the bulk payload is too large for the server. Consider to adjust "
    "`http.max_content_length` parameter in Elasticsearch or `bulk_max_size` "
    "in the beat. The batch has been dropped"
)

# client.go:47 ErrTooOld
_TOO_OLD = (
    "Elasticsearch is too old. Please upgrade the instance. If you would "
    "like to connect to older instances set "
    "output.elasticsearch.allow_older_versions to true"
)

# client.go:123-125 bulkRequestParams — response filtered to what the
# item walk needs.
_BULK_PARAMS = {"filter_path": "errors,items.*.error,items.*.status,items.*.failure_store"}


class ESProtocolError(ValueError):
    """Connection-level bulk failure (raised so the task retries)."""


class ESConnection:
    """One keep-alive HTTP connection to one ES host (eslegclient
    Connection analog, over the shared transport httpconn).

    `url` is scheme://host:port[/path-prefix]. Auth: `username`/
    `password` → Basic (connection.go:486), `api_key` ("id:key") →
    `Authorization: ApiKey base64(...)` (connection.go:190-192,490).
    `params` are merged under the bulk call's filter_path like
    mergeParams (bulkapi.go:184-199, call params win). TLS is built
    from the beats-style `tls` config block (beats_spark.tlsutil:
    certificate_authorities, client cert, verification_mode) with the
    ca_sha256 pin checked after the handshake (httpconn).
    """

    def __init__(
        self,
        url: str,
        username: str = "",
        password: str = "",
        api_key: str = "",
        headers: dict[str, str] | None = None,
        params: dict[str, str] | None = None,
        timeout: float = 30.0,
        tls: dict | None = None,
    ):
        parts = urlsplit(url)
        if parts.scheme not in ("http", "https"):
            raise ValueError(f"unsupported scheme in ES url: {url!r}")
        host = parts.hostname or "localhost"
        if ":" in host:
            host = f"[{host}]"  # IPv6 literal
        port = parts.port or (443 if parts.scheme == "https" else 9200)
        self._http = KeepAlive(parts.scheme, f"{host}:{port}", timeout,
                               tls)
        self._prefix = parts.path.rstrip("/")
        self.params = dict(params or {})
        self.headers: dict[str, str] = dict(headers or {})
        if username:
            tok = base64.b64encode(f"{username}:{password}".encode()).decode()
            self.headers["Authorization"] = "Basic " + tok
        elif api_key:
            self.headers["Authorization"] = (
                "ApiKey " + base64.b64encode(api_key.encode()).decode()
            )

    def request(
        self,
        method: str,
        path: str,
        body: bytes | None = None,
        headers: dict[str, str] | None = None,
        params: dict[str, str] | None = None,
    ) -> tuple[int, bytes]:
        merged = dict(self.params)
        merged.update(params or {})
        qs = ("?" + urlencode(merged)) if merged else ""
        hdrs = dict(self.headers)
        hdrs.update(headers or {})
        conn = self._http.get()
        try:
            conn.request(method, self._prefix + path + qs, body=body, headers=hdrs)
            resp = conn.getresponse()
            return resp.status, resp.read()
        except OSError:
            self.close()
            raise
        except Exception as e:  # http.client protocol errors
            self.close()
            raise ESProtocolError(f"ES request failed: {e}") from e

    def close(self) -> None:
        self._http.close()


def parse_version(number: str) -> tuple[int, int]:
    """'8.19.2' → (8, 19); libversion.New's major.minor slice."""
    parts = number.split(".")
    try:
        return int(parts[0]), int(parts[1]) if len(parts) > 1 else 0
    except ValueError as e:
        raise ValueError(f"Invalid version from Elasticsearch: {number!r}") from e


def es_ping(conn: ESConnection) -> dict[str, Any]:
    """GET / — connection.go:309-332 Ping + getVersion: non-2xx refused,
    returns {'version': (major, minor), 'number': str, 'flavor': str}
    ('serverless' marks the connection serverless, connection.go:454-460).
    """
    status, body = conn.request("GET", "/")
    if status >= 300:
        raise ESProtocolError(f"non 2xx response code: {status}")
    try:
        data = json.loads(body)
        number = data["version"]["number"]
    except (ValueError, KeyError, TypeError) as e:
        raise ESProtocolError(f"failed to parse JSON response: {e}") from e
    return {
        "version": parse_version(number),
        "number": number,
        "flavor": data["version"].get("build_flavor", ""),
    }


def check_older_version(
    es_version: tuple[int, int],
    beat_version: tuple[int, int],
    allow_older: bool = True,
) -> None:
    """cmd/instance/beat.go:1153-1159: unless allow_older_versions
    (default true since 8.11), an ES major.minor below the beat's is
    refused with ErrTooOld's wording."""
    if allow_older:
        return
    if es_version < beat_version:
        raise ESProtocolError(
            f"{_TOO_OLD} ES={es_version[0]}.{es_version[1]}, "
            f"Beat={beat_version[0]}.{beat_version[1]}"
        )


def _set_dead_letter(doc: str, ts_iso: str, status: int, msg: str) -> str:
    """event_encoder.go:140-152 setDeadLetter — wrap the ORIGINAL encoded
    event as the dead-letter document's `message`. Field order matches
    routing.dead_letter_reencode's Column twin (Go's sorted-map marshal:
    @timestamp, error.message, error.type, message) so live-path docs and
    the replayable Column agree byte-for-byte."""
    return json.dumps(
        {
            "@timestamp": ts_iso,
            "error.message": msg,
            "error.type": status,
            "message": doc,
        },
        separators=(",", ":"),
    )


def _swap_index(action: str, new_index: str) -> str:
    """Rebuild the action line with the dead-letter index. setDeadLetter
    swaps encodedEvent.index and the next createEventBulkMeta re-derives
    the meta from unchanged id/opType — equivalent to replacing _index
    in place (key order preserved)."""
    obj = json.loads(action)
    (op, meta), = obj.items()
    meta["_index"] = new_index
    return json.dumps({op: meta}, separators=(",", ":"))


def _parse_items(body: bytes, n: int) -> list[tuple[int, str]] | None:
    """bulk.go bulkReadToItems + bulkReadItemStatus, with the same
    failure surface: returns up to n (status, error-message) pairs; a
    missing/malformed structure returns None (caller retries everything
    not yet consumed). Each item must be a SINGLE-KEY object whose value
    carries an integer `status` (bulk.go:74-112)."""
    try:
        data = json.loads(body)
        items = data["items"]
        if not isinstance(items, list):
            return None
    except (ValueError, KeyError, TypeError):
        return None
    out: list[tuple[int, str]] = []
    for item in items[:n]:
        if not isinstance(item, dict) or len(item) != 1:
            break
        (inner,) = item.values()
        status = inner.get("status") if isinstance(inner, dict) else None
        if not isinstance(status, int):
            break
        err = inner.get("error", "")
        out.append((status, err if isinstance(err, str) else json.dumps(err)))
    return out


class _Event:
    """Worker-side mutable event state (encodedEvent analog)."""

    __slots__ = ("idx", "action", "doc", "ts_iso", "dead_letter", "status", "attempts", "result")

    def __init__(self, idx: int, action: str | None, doc: str | None, ts_iso: str | None):
        self.idx = idx
        self.action = action
        self.doc = doc
        self.ts_iso = ts_iso
        self.dead_letter = False
        self.status = 0
        self.attempts = 0
        self.result: str | None = None


def _is_delete(action: str) -> bool:
    return action.lstrip().startswith('{"delete"')


def _encode_chunk(events: list[_Event]) -> bytes:
    lines: list[str] = []
    for ev in events:
        lines.append(ev.action)
        if not _is_delete(ev.action):
            lines.append(ev.doc)  # type: ignore[arg-type]
    return ("\n".join(lines) + "\n").encode("utf-8")


def _send_chunk(
    events: list[_Event],
    request: Callable[[bytes, int, int], tuple[int, bytes]],
    compression_level: int,
    dead_letter_index: str | None,
) -> list[_Event]:
    """One bulk request over `events`; returns the retryable subset.
    Terminal outcomes are written onto the events. 413 splits in halves
    like batch.SplitRetry (client.go:330-345)."""
    if not events:
        return []
    body = _encode_chunk(events)
    raw_len = len(body)
    if compression_level > 0:
        body = _gzip.compress(body, compresslevel=compression_level)
    for ev in events:
        ev.attempts += 1
    status, resp = request(body, raw_len, len(events))
    if status == 413:
        if len(events) == 1:
            ev = events[0]
            ev.status, ev.result = 413, "drop"
            return []
        mid = len(events) // 2
        return _send_chunk(
            events[:mid], request, compression_level, dead_letter_index
        ) + _send_chunk(events[mid:], request, compression_level, dead_letter_index)
    if status != 200:
        # client.go:457-459 — no per-item response, everything retries
        for ev in events:
            ev.status = status
        return list(events)
    items = _parse_items(resp, len(events))
    if items is None:
        items = []
    retry: list[_Event] = []
    for i, ev in enumerate(events):
        if i >= len(items):
            # malformed tail → remaining events retry (client.go:469-476)
            ev.status = 0
            retry.append(ev)
            continue
        ev.status, msg = items[i]
        if _apply_item_status(ev, msg, dead_letter_index):
            retry.append(ev)
    return retry


def _apply_item_status(ev: _Event, msg: str, dead_letter_index: str | None) -> bool:
    """client.go:495-554 applyItemStatus — returns True to retry. The
    Column twin is routing.bulk_item_action; test_es_output pins the two
    to identical verdicts over the live run's recorded statuses."""
    status = ev.status
    if status < 300:
        ev.result = "dead_letter_ack" if ev.dead_letter else "ack"
        return False
    if status == 409:
        ev.result = "duplicate"
        return False
    if status == 429:
        return True
    if status < 500:
        if ev.dead_letter or not dead_letter_index:
            ev.result = "drop"
            return False
        # redirect to the dead-letter index and retry (client.go:542-548)
        ev.dead_letter = True
        ev.doc = _set_dead_letter(ev.doc or "", ev.ts_iso or "", status, msg)
        ev.action = _swap_index(ev.action, dead_letter_index)
        return True
    return True


def bulk_publish(
    events: list[_Event],
    request: Callable[[bytes, int, int], tuple[int, bytes]],
    *,
    dead_letter_index: str | None = None,
    bulk_max_size: int = 1600,
    max_retries: int = 3,
    backoff_init: float = 1.0,
    backoff_max: float = 60.0,
    compression_level: int = 0,
    sleep: Callable[[float], None] = time.sleep,
) -> None:
    """Publish → collect fails → retry, the Publish/RetryEvents loop
    (client.go:249-277) bounded by max_retries (config.go:68 default 3,
    the pipeline's retry budget for non-guaranteed events) with
    exponential backoff between rounds (config.go Backoff{1s, 60s}).
    Events that exhaust the budget finish as result='retry_exhausted'
    (the pipeline's drop-after-max_retries)."""
    pending = [ev for ev in events if ev.result is None]
    rounds = 0
    while pending:
        retry: list[_Event] = []
        for start in range(0, len(pending), bulk_max_size):
            retry.extend(
                _send_chunk(
                    pending[start : start + bulk_max_size],
                    request,
                    compression_level,
                    dead_letter_index,
                )
            )
        if not retry:
            return
        if rounds >= max_retries:
            for ev in retry:
                ev.result = "retry_exhausted"
            return
        sleep(min(backoff_init * (2**rounds), backoff_max))
        rounds += 1
        pending = retry


def write_es_bulk(
    df: DataFrame,
    url: str,
    *,
    action_col: str = "es_action",
    doc_col: str = "serialized",
    ts_col: str = "ts",
    carry_cols: list[str] | None = None,
    dead_letter_index: str | None = None,
    bulk_max_size: int = 1600,
    max_retries: int = 3,
    backoff_init: float = 1.0,
    backoff_max: float = 60.0,
    compression_level: int = 1,
    username: str = "",
    password: str = "",
    api_key: str = "",
    headers: dict[str, str] | None = None,
    params: dict[str, str] | None = None,
    timeout: float = 30.0,
) -> DataFrame:
    """Ship (action line, doc) pairs to ES over live bulk requests and
    RETURN the per-event outcome frame:

      carry_cols… , es_status int, es_result string, es_attempts int

    es_result ∈ ack / dead_letter_ack / duplicate / drop /
    retry_exhausted / encode_error (NULL action or doc — the
    bulkEncodePublishRequest skip, client.go:366-382, observed as a
    permanent error). Compose upstream: codec_json(envelope=True) →
    `serialized`, es_bulk_action(...) → `es_action`.

    LAZY like every mapInPandas stage — the POST happens when the result
    is consumed; run .count()/.write on the return value to drive the
    send exactly once per partition. Connection-level errors raise so
    the task retries (at-least-once)."""
    import pandas as pd  # noqa: F401 — worker-side

    carry = list(carry_cols or [])
    cols = carry + [action_col, doc_col] + ([ts_col] if ts_col else [])
    proj = df.select(*dict.fromkeys(cols))  # dedup, keep order
    schema = ", ".join(
        [f"`{c}` {t}" for c, t in proj.dtypes if c in carry]
        + ["es_status int", "es_result string", "es_attempts int"]
    )

    conn_kwargs = dict(
        username=username,
        password=password,
        api_key=api_key,
        headers=headers,
        params=params,
        timeout=timeout,
    )

    def run_partition(batches: Iterable["pd.DataFrame"]) -> Iterable["pd.DataFrame"]:
        import pandas as pd

        conn: ESConnection | None = None

        def request(body: bytes, raw_len: int, n_events: int) -> tuple[int, bytes]:
            hdrs = {
                # enc.go:131-134 + client.go:51,311-312
                "Content-Type": "application/json; charset=UTF-8",
                "X-Elastic-Uncompressed-Request-Length": str(raw_len),
                "X-Elastic-Event-Count": str(n_events),
            }
            if compression_level > 0:
                hdrs["Content-Encoding"] = "gzip"
            assert conn is not None
            return conn.request("POST", "/_bulk", body=body, headers=hdrs, params=_BULK_PARAMS)

        try:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if conn is None:
                    conn = ESConnection(url, **conn_kwargs)
                events: list[_Event] = []
                for i in range(len(pdf)):
                    action = pdf[action_col].iloc[i]
                    doc = pdf[doc_col].iloc[i]
                    ts_iso = None
                    if ts_col:
                        ts = pdf[ts_col].iloc[i]
                        if ts is not None and not pd.isna(ts):
                            ts_iso = (
                                pd.Timestamp(ts).strftime("%Y-%m-%dT%H:%M:%S.")
                                + f"{pd.Timestamp(ts).microsecond // 1000:03d}Z"
                            )
                    ev = _Event(i, action, doc, ts_iso)
                    if action is None or (doc is None and not _is_delete(action or "")):
                        ev.result = "encode_error"  # bulkEncodePublishRequest skip
                    events.append(ev)
                bulk_publish(
                    [ev for ev in events if ev.result is None],
                    request,
                    dead_letter_index=dead_letter_index,
                    bulk_max_size=bulk_max_size,
                    max_retries=max_retries,
                    backoff_init=backoff_init,
                    backoff_max=backoff_max,
                    compression_level=compression_level,
                )
                out = {c: pdf[c] for c in carry}
                out["es_status"] = pd.array([ev.status for ev in events], dtype="int32")
                out["es_result"] = [ev.result for ev in events]
                out["es_attempts"] = pd.array([ev.attempts for ev in events], dtype="int32")
                yield pd.DataFrame(out)
        finally:
            if conn is not None:
                conn.close()

    return proj.mapInPandas(run_partition, schema=schema)
