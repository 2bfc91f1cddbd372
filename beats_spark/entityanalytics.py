"""entity-analytics input (okta provider) — identity asset sync, live.

The reference input (x-pack/filebeat/input/entityanalytics/ +
provider/okta/) maintains a local database of identity entities
(users, devices) synchronized from the Okta management API: a
periodic FULL sync republishes every known entity between start/end
write markers, and an incremental UPDATE publishes only entities
whose `lastUpdated` moved past the stored watermark query. This
module implements the okta provider from scratch on the shared HTTP
transport (httpconn):

- internal/okta/okta.go  → the API surface (GET /api/v1/users,
                           /api/v1/devices, per-user groups/factors/
                           roles/role-permissions/devices, per-device
                           users) with the SSWS token header, the
                           `search=status pr` deprovisioned-users
                           query, client-side `omit` redaction
                           (credentials / credentials links /
                           transitioningToStatus), the Link-header
                           `rel="next"` pagination (Next, io.EOF
                           port), and the Okta Error envelope with
                           its lowercased summary + joined causes
                           rendering
- ratelimiter.go         → the per-endpoint limiter translating
                           X-Rate-Limit-Limit/Remaining/Reset per the
                           published Okta policy: rate =
                           remaining/until-reset with burst 1, the
                           zero-quota block-until-reset with the
                           lim/window estimate, fixed_limit override
- statestore.go          → the users/devices state database on a
                           kvstore transaction: storeUser/storeDevice
                           Discovered-vs-Modified marking, the
                           nextUsers/nextDevices search watermarks
                           (`lastUpdated ge "<max seen>" and status
                           pr`, ge not gt because timestamps are
                           second-resolution), lastSync/lastUpdate
- okta.go                → runFullSync (start/end markers carrying
                           labels.identity_source + event.action
                           started/completed, every user/device
                           republished) and runIncrementalUpdate
                           (changed entities only); enrich_with
                           groups/factors/roles/perms (custom-role
                           permissions cached per run)/devices/
                           supervises (derived from profile.managerId
                           with ID-sorted subordinate lists, changed
                           managers outside the batch republished);
                           the publishUser/publishDevice/marker
                           document shapes
- internal/kvstore       → a JSON-file store with snapshot
                           transactions (begin → mutate → commit via
                           atomic rename / rollback discards)

Surfaces: `okta_full_sync` / `okta_incremental_update` driver-side
(records + committed state), `entity_events_df`, and `okta_stream`
(full-sync/update cadence on the tick clock, state committed after
the sink consumed the batch).
"""

from __future__ import annotations

import json
import os
import time as _time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Iterator, Optional
from urllib.parse import parse_qsl, urlencode, urlparse

from . import httpconn

__all__ = [
    "OktaError", "OktaRateLimiter", "OktaClient", "next_link_query",
    "Conf", "default_conf", "KVStore", "StateStore", "User", "Device",
    "DISCOVERED", "MODIFIED", "DELETED", "okta_full_sync",
    "okta_incremental_update", "entity_events_df", "okta_stream",
    "ENTITY_RECORDS_DDL", "ISO8601", "okta_oauth2_validate",
    "okta_oauth2_authorization",
]

ISO8601 = "%Y-%m-%dT%H:%M:%S.000Z"

DISCOVERED, MODIFIED, DELETED = 1, 2, 3
_STATE_ACTION = {DISCOVERED: "discovered", MODIFIED: "modified",
                 DELETED: "deleted"}


class OktaError(Exception):
    """The Okta API error envelope with the reference's rendering
    (okta.go Error.Error: lowercased summary, trailing '.' trimmed,
    causes joined with ',')."""

    def __init__(self, payload: dict):
        self.code = payload.get("errorCode", "")
        self.summary = payload.get("errorSummary", "")
        self.causes = [OktaError(c)
                       for c in payload.get("errorCauses") or []]
        super().__init__(self._render())

    def _render(self) -> str:
        summary = self.summary.rstrip(".").lower()
        if not self.causes:
            return summary
        return summary + ": " + ",".join(c._render()
                                         for c in self.causes)


# ------------------------------------------------------------- oauth2

def okta_oauth2_validate(cfg: dict) -> None:
    """provider/okta oAuth2Config.Validate (conf.go:118-189) — the
    OAuth2 alternative to the SSWS token, with the exact wordings."""
    client_id = (cfg.get("client", {}) or {}).get("id") \
        or cfg.get("client.id", "")
    if not client_id:
        raise ValueError(
            "oauth2 validation error: client.id is required")
    if not cfg.get("scopes"):
        raise ValueError(
            "oauth2 validation error: scopes are required")
    if not cfg.get("token_url"):
        raise ValueError(
            "oauth2 validation error: token_url is required")
    secret = (cfg.get("client", {}) or {}).get("secret") \
        or cfg.get("client.secret", "")
    jwk_keys = [k for k in ("jwk_file", "jwk_json", "jwk_pem")
                if cfg.get(k)]
    if secret and jwk_keys:
        raise ValueError("oauth2 validation error: cannot use both "
                         "client secret and JWT private keys")
    if not secret and not jwk_keys:
        raise ValueError(
            "oauth2 validation error: must provide either "
            "client.secret or one of jwk_file, jwk_json, or jwk_pem")
    if len(jwk_keys) > 1:
        raise ValueError(
            "oauth2 validation error: only one of jwk_file, "
            "jwk_json, or jwk_pem should be provided")
    if cfg.get("jwk_file") and not os.path.exists(cfg["jwk_file"]):
        raise ValueError(
            "oauth2 validation error: jwk file "
            f"\"{cfg['jwk_file']}\" does not exist")
    if cfg.get("jwk_json"):
        try:
            json.loads(cfg["jwk_json"]) if isinstance(
                cfg["jwk_json"], str) else dict(cfg["jwk_json"])
        except (ValueError, TypeError) as err:
            raise ValueError("oauth2 validation error: invalid JWK "
                             f"JSON format: {err}")
    if cfg.get("jwk_pem"):
        from .httpjson.okta_auth import pem_pkcs8_private_key
        from .dpop import DPoPError
        try:
            pem_pkcs8_private_key(cfg["jwk_pem"])
        except DPoPError as err:
            raise ValueError(f"oauth2 validation error: {err}")


def okta_oauth2_authorization(cfg: dict, *,
                              http_post=None) -> Callable[[], str]:
    """fetchOktaOauthClient (provider/okta/oauth2.go:55-146) on the
    shared okta machinery: client-secret OR JWT-key token sources
    producing the 'Bearer …' Authorization value for OktaClient's
    `authorization` hook."""
    okta_oauth2_validate(cfg)
    from .crowdstrike import OAuth2CC, RateLimitHTTP
    secret = (cfg.get("client", {}) or {}).get("secret") \
        or cfg.get("client.secret", "")
    client_id = (cfg.get("client", {}) or {}).get("id") \
        or cfg.get("client.id", "")
    if secret:
        cc = OAuth2CC(client_id, secret, cfg["token_url"],
                      scopes=cfg.get("scopes") or (),
                      http=RateLimitHTTP(transport=http_post)
                      if http_post else None)
        return lambda: "Bearer " + cc.token()
    # JWT-bearer: translate the provider's bare key names onto the
    # shared httpjson okta flow
    from .httpjson.okta_auth import OktaOAuth2
    mapped = {"token_url": cfg["token_url"],
              "client": {"id": client_id},
              "scopes": list(cfg.get("scopes") or [])}
    for src, dst in (("jwk_file", "okta.jwk_file"),
                     ("jwk_json", "okta.jwk_json"),
                     ("jwk_pem", "okta.jwk_pem")):
        if cfg.get(src):
            mapped[dst] = cfg[src]
    source = OktaOAuth2(mapped)

    def do_request(method, url, headers, body):
        import urllib.error
        import urllib.request
        req = urllib.request.Request(url, data=body,
                                     headers=headers, method=method)
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                return r.status, dict(r.headers), r.read()
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers or {}), e.read()

    return lambda: "Bearer " + source.token_raw(do_request)


# --------------------------------------------------------- rate limits

class OktaRateLimiter:
    """ratelimiter.go — per-endpoint token buckets driven by the
    X-Rate-Limit headers. Deterministic: wait() returns the number of
    seconds the caller must sleep (the injectable-sleep test
    surface)."""

    def __init__(self, window: float = 60.0,
                 fixed_limit: Optional[int] = None,
                 clock: Callable[[], float] = _time.time):
        self.window = window
        self.fixed_limit = fixed_limit
        self.clock = clock
        # endpoint -> {"rate": float, "burst": int, "tokens": float,
        #              "at": float, "blocked_until": float|None,
        #              "next_rate": float}
        self.by_endpoint: dict[str, dict] = {}

    def _endpoint(self, path: str) -> dict:
        if path not in self.by_endpoint:
            rate = 1.0
            if self.fixed_limit is not None:
                rate = self.fixed_limit / self.window
            self.by_endpoint[path] = {
                "rate": rate, "burst": 1, "tokens": 1.0,
                "at": self.clock(), "blocked_until": None,
                "next_rate": rate}
        return self.by_endpoint[path]

    def wait_time(self, endpoint: str) -> float:
        """Seconds to wait before the next request to endpoint."""
        e = self._endpoint(endpoint)
        now = self.clock()
        delay = 0.0
        if e["blocked_until"] is not None:
            if now < e["blocked_until"]:
                delay = e["blocked_until"] - now
                now = e["blocked_until"]
            e["rate"] = e["next_rate"]
            e["burst"] = 1
            e["tokens"] = 0.0
            e["at"] = now
            e["blocked_until"] = None
        e["tokens"] = min(e["burst"],
                          e["tokens"] + (now - e["at"]) * e["rate"])
        e["at"] = now
        if e["tokens"] >= 1.0:
            e["tokens"] -= 1.0
            return delay
        need = (1.0 - e["tokens"]) / max(e["rate"], 1e-9)
        e["tokens"] = 0.0
        e["at"] = now + need
        return delay + need

    def update(self, endpoint: str, headers: dict) -> None:
        """The Okta rate-limit policy translation
        (ratelimiter.go:97-170)."""
        if self.fixed_limit is not None:
            return
        h = {k.lower(): v for k, v in headers.items()}
        limit = h.get("x-rate-limit-limit", "")
        remaining = h.get("x-rate-limit-remaining", "")
        reset = h.get("x-rate-limit-reset", "")
        if not limit or not remaining or not reset:
            return
        lim = float(limit)
        rem = float(remaining)
        reset_time = int(reset)
        per = reset_time - self.clock()
        e = self._endpoint(endpoint)
        rate = rem / per if per > 0 else 0.0
        if rate <= 0:
            # zero quota: block until reset, then resume at the
            # lim/window estimate (or 1 rps when lim == 0)
            e["blocked_until"] = float(reset_time)
            e["next_rate"] = (1.0 if lim == 0
                              else lim / self.window)
            e["tokens"] = 0.0
            return
        e["rate"] = rate
        e["burst"] = 1


# ---------------------------------------------------------------- wire

def next_link_query(headers: dict) -> Optional[dict]:
    """okta.Next (internal/okta/okta.go:574-599): the RFC 5988 Link
    header's rel="next" URL query, or None at the end (io.EOF).
    Values may be a string or a list (repeated Link headers)."""
    links: list[str] = []
    for k, v in headers.items():
        if k.lower() != "link":
            continue
        if isinstance(v, list):
            links.extend(v)
        elif "," in v:
            links.extend(x.strip() for x in v.split(","))
        else:
            links.append(v)
    for v in links:
        f = v.split(";")
        if len(f) == 1:
            continue
        for p in f[1:]:
            if "rel" not in p:
                continue
            _, _, rel = p.partition("rel")
            _, ok, rel = rel.partition("=")
            if ok and rel.strip().startswith('"next"'):
                u = urlparse(f[0].strip().strip("<>"))
                return dict(parse_qsl(u.query))
    return None


# omit flags (okta.go): applied client-side after decode
OMIT_CREDENTIALS = 1
OMIT_CREDENTIALS_LINKS = 2
OMIT_TRANSITIONING = 4
OMIT_DEFAULT = (OMIT_CREDENTIALS | OMIT_CREDENTIALS_LINKS
                | OMIT_TRANSITIONING)


class OktaClient:
    """The management-API subset the provider consumes, with the
    rate limiter woven through every request."""

    def __init__(self, domain: str, token: str, *,
                 limiter: Optional[OktaRateLimiter] = None,
                 sleep: Callable[[float], None] = _time.sleep,
                 timeout: float = 30.0, scheme: str = "",
                 authorization: Optional[Callable[[], str]] = None):
        u = urlparse(domain if "://" in domain
                     else "https://" + domain)
        self.scheme = scheme or u.scheme
        self.netloc = u.netloc
        self.token = token
        # OAuth2 alternative to the SSWS token (okta/oauth2.go): a
        # callable returning the full Authorization header value
        # ("Bearer …"); see okta_oauth2_authorization below
        self.authorization = authorization
        self.lim = limiter or OktaRateLimiter()
        self.sleep = sleep
        self.timeout = timeout
        self.requests: list[str] = []

    def _get(self, path: str, query: Optional[dict]
             ) -> tuple[Any, dict]:
        delay = self.lim.wait_time(path)
        if delay > 0:
            self.sleep(delay)
        url = path
        if query:
            url += "?" + urlencode(sorted(query.items()))
        self.requests.append(url)
        headers = {"Accept": "application/json"}
        if self.authorization is not None:
            headers["Authorization"] = self.authorization()
        elif self.token:
            headers["Authorization"] = "SSWS " + self.token
        resp = httpconn.request(
            "GET", f"{self.scheme}://{self.netloc}{url}",
            headers=headers, timeout=self.timeout)
        hdrs: dict[str, Any] = {}
        for k, v in resp.headers:
            if k.lower() == "link":
                hdrs.setdefault("link", []).append(v)
            else:
                hdrs[k] = v
        self.lim.update(path, hdrs)
        try:
            obj = json.loads(resp.body)
        except ValueError as e:
            raise OktaError({"errorSummary": f"invalid response: {e}"})
        if isinstance(obj, dict) and ("errorCode" in obj
                                      or resp.status >= 400):
            raise OktaError(obj)
        if resp.status >= 400:
            raise OktaError({"errorSummary": f"http {resp.status}"})
        return obj, hdrs

    @staticmethod
    def _apply_omit(u: dict, omit: int) -> dict:
        u = dict(u)
        if omit & OMIT_CREDENTIALS:
            u.pop("credentials", None)
        elif omit & OMIT_CREDENTIALS_LINKS:
            creds = u.get("credentials")
            if isinstance(creds, dict):
                creds = dict(creds)
                creds.pop("_links", None)
                u["credentials"] = creds
        if omit & OMIT_TRANSITIONING:
            u.pop("transitioningToStatus", None)
        return u

    def _paged(self, path: str, query: Optional[dict],
               omit: int = 0) -> Iterator[tuple[list, dict]]:
        while True:
            batch, headers = self._get(path, query)
            if omit:
                batch = [self._apply_omit(x, omit) for x in batch]
            yield batch, headers
            query = next_link_query(headers)
            if query is None:
                return

    # entity listings
    def get_users(self, query, omit=OMIT_DEFAULT):
        return self._paged("/api/v1/users", query, omit)

    def get_devices(self, query):
        return self._paged("/api/v1/devices", query)

    def get_device_users(self, device_id, query, omit=OMIT_DEFAULT):
        return self._paged(f"/api/v1/devices/{device_id}/users",
                           query, omit)

    # enrichment (single page semantics kept simple: the reference
    # treats these as one fetch too)
    def get_user_groups(self, user_id):
        return self._get(f"/api/v1/users/{user_id}/groups", None)[0]

    def get_user_factors(self, user_id):
        return self._get(f"/api/v1/users/{user_id}/factors", None)[0]

    def get_user_roles(self, user_id):
        return self._get(f"/api/v1/users/{user_id}/roles", None)[0]

    def get_role_permissions(self, role_id):
        out = self._get(f"/api/v1/iam/roles/{role_id}/permissions",
                        None)[0]
        if isinstance(out, dict):
            return out.get("permissions") or []
        return out

    def get_user_devices(self, user_id):
        return self._get(f"/api/v1/users/{user_id}/devices", None)[0]


# -------------------------------------------------------------- config

@dataclass
class Conf:
    """conf.go with defaultConfig()'s values."""
    okta_domain: str = ""
    okta_token: str = ""
    dataset: str = ""                   # "", "all", "users", "devices"
    enrich_with: list[str] = field(default_factory=lambda: ["groups"])
    sync_interval: float = 24 * 3600.0
    update_interval: float = 15 * 60.0
    batch_size: int = 0
    limit_window: float = 60.0
    limit_fixed: Optional[int] = None

    def want_users(self) -> bool:
        return self.dataset in ("", "all", "users")

    def want_devices(self) -> bool:
        return self.dataset in ("", "all", "devices")


def default_conf() -> Conf:
    return Conf()


# ------------------------------------------------------------- kvstore

class KVStore:
    """internal/kvstore as a JSON file with snapshot transactions:
    begin() copies the data; commit() writes atomically; rollback
    discards. One writer at a time (the provider's contract)."""

    def __init__(self, path: Optional[str]):
        self.path = path
        self.data: dict = {}
        if path and os.path.exists(path):
            with open(path) as f:
                self.data = json.load(f)

    def begin(self) -> dict:
        return json.loads(json.dumps(self.data))

    def commit(self, snapshot: dict) -> None:
        self.data = snapshot
        if not self.path:
            return
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f)
        os.replace(tmp, self.path)


@dataclass
class User:
    properties: dict
    groups: list = field(default_factory=list)
    roles: list = field(default_factory=list)
    factors: list = field(default_factory=list)
    devices: list = field(default_factory=list)
    supervises: list = field(default_factory=list)
    state: int = 0

    @property
    def id(self) -> str:
        return self.properties.get("id", "")


@dataclass
class Device:
    properties: dict
    users: list = field(default_factory=list)
    state: int = 0

    @property
    def id(self) -> str:
        return self.properties.get("id", "")


class StateStore:
    """statestore.go on a KVStore snapshot transaction."""

    def __init__(self, store: KVStore):
        self.store = store
        self.snapshot = store.begin()
        st = self.snapshot.setdefault("state", {})
        self.last_sync = st.get("last_sync", "")
        self.last_update = st.get("last_update", "")
        self.next_users = st.get("users_link", "")
        self.next_devices = st.get("devices_link", "")
        self.users: dict[str, User] = {
            uid: User(**u) for uid, u in
            (self.snapshot.get("users") or {}).items()}
        self.devices: dict[str, Device] = {
            did: Device(**d) for did, d in
            (self.snapshot.get("devices") or {}).items()}

    def store_user(self, props: dict) -> User:
        uid = props.get("id", "")
        su = User(properties=props)
        if uid in self.users:
            su.state = MODIFIED
            self.users[uid] = su
        else:
            su.state = DISCOVERED
            self.users[uid] = su
        return su

    def store_device(self, props: dict, users: list) -> Device:
        did = props.get("id", "")
        sd = Device(properties=props, users=users)
        if did in self.devices:
            sd.state = MODIFIED
        else:
            sd.state = DISCOVERED
        self.devices[did] = sd
        return sd

    def close(self, commit: bool) -> None:
        if not commit:
            return  # rollback: discard the snapshot
        st = self.snapshot["state"]
        if self.last_sync:
            st["last_sync"] = self.last_sync
        if self.last_update:
            st["last_update"] = self.last_update
        st["users_link"] = self.next_users
        st["devices_link"] = self.next_devices
        self.snapshot["users"] = {
            uid: {"properties": u.properties, "groups": u.groups,
                  "roles": u.roles, "factors": u.factors,
                  "devices": u.devices, "supervises": u.supervises,
                  "state": u.state}
            for uid, u in self.users.items()}
        self.snapshot["devices"] = {
            did: {"properties": d.properties, "users": d.users,
                  "state": d.state}
            for did, d in self.devices.items()}
        self.store.commit(self.snapshot)


# ------------------------------------------------------------- provider

def _publish_marker(records: list, ts: float, input_id: str,
                    start: bool) -> None:
    """publishMarker (okta.go:823-848)."""
    fields: dict[str, Any] = {
        "labels": {"identity_source": input_id},
        "event": {"action": "started" if start else "completed"},
    }
    fields["event"]["start" if start else "end"] = ts
    records.append({"ts": ts, "fields": fields})


def _publish_user(records: list, u: User, input_id: str,
                  now: float) -> None:
    """publishUser (okta.go:851-882)."""
    records.append({"ts": now, "fields": {
        "okta": u.properties,
        "labels": {"identity_source": input_id},
        "user": {"id": u.id},
        "groups": u.groups, "roles": u.roles, "factors": u.factors,
        "devices": u.devices, "supervises": u.supervises,
        "event": {"action": f"user-{_STATE_ACTION[u.state]}"},
    }})


def _publish_device(records: list, d: Device, input_id: str,
                    now: float) -> None:
    """publishDevice (okta.go:885-911)."""
    records.append({"ts": now, "fields": {
        "okta": dict(d.properties, users=d.users),
        "labels": {"identity_source": input_id},
        "device": {"id": d.id},
        "event": {"action": f"device-{_STATE_ACTION[d.state]}"},
    }})


def _max_last_updated(items: list, current: str) -> str:
    for it in items:
        lu = it.get("lastUpdated", "")
        if isinstance(lu, str) and lu > current:
            current = lu
    return current


def _watermark_query(last_updated: str) -> str:
    """The next-update search watermark (okta.go:549-556): ge not gt
    because timestamps are second resolution."""
    # normalize to the okta.ISO8601 rendering
    ts = last_updated or "1970-01-01T00:00:00.000Z"
    try:
        dt = datetime.fromisoformat(ts.replace("Z", "+00:00"))
        ts = dt.astimezone(timezone.utc).strftime(ISO8601)
    except ValueError:
        pass
    return urlencode({"search":
                      f'lastUpdated ge "{ts}" and status pr'})


def _base_query(cfg: Conf, stored_link: str, full_sync: bool) -> dict:
    query: Optional[dict] = None
    if not full_sync and stored_link:
        query = dict(parse_qsl(stored_link))
    if not query:
        query = {"search": "status pr"}
    if cfg.batch_size > 0:
        query["limit"] = str(cfg.batch_size)
    return query


def _fetch_users(client: OktaClient, cfg: Conf, state: StateStore,
                 full_sync: bool, publish: Callable[[User], None]
                 ) -> None:
    """doFetchUsers (okta.go:419-560)."""
    if not cfg.want_users():
        return
    query = _base_query(cfg, state.next_users, full_sync)
    want_supervises = "supervises" in cfg.enrich_with
    buffer: list[User] = []
    do_publish = buffer.append if want_supervises else publish
    perms_cache: dict[str, list] = {}
    last_updated = ""
    for batch, _ in client.get_users(query):
        for props in batch:
            do_publish(_add_user_metadata(client, cfg, props, state,
                                          perms_cache))
        last_updated = _max_last_updated(batch, last_updated)

    if want_supervises:
        old = {uid: list(u.supervises)
               for uid, u in state.users.items()}
        buffered = {u.id for u in buffer}
        _assign_supervises(state)
        for u in buffer:
            publish(u)
        for uid, u in state.users.items():
            if uid in buffered:
                continue
            if old.get(uid, []) != u.supervises:
                publish(u)

    state.next_users = _watermark_query(last_updated)


def _add_user_metadata(client: OktaClient, cfg: Conf, props: dict,
                       state: StateStore,
                       perms_cache: dict) -> User:
    """addUserMetadata (okta.go:562-628) — enrichment failures warn
    and continue in the reference; here they surface as the plain
    OktaError only when the API itself fails hard."""
    su = state.store_user(props)
    ew = cfg.enrich_with
    if not ew or ew == ["none"]:
        return su
    uid = su.id
    if "groups" in ew:
        try:
            su.groups = client.get_user_groups(uid)
        except OktaError:
            pass
    if "factors" in ew:
        try:
            su.factors = client.get_user_factors(uid)
        except OktaError:
            pass
    if "roles" in ew or "perms" in ew:
        try:
            roles = client.get_user_roles(uid)
        except OktaError:
            roles = None
        if roles is not None:
            if "perms" in ew:
                for role in roles:
                    if role.get("type") != "CUSTOM":
                        continue
                    rid = role.get("role", "") or role.get("id", "")
                    if rid not in perms_cache:
                        try:
                            perms_cache[rid] = \
                                client.get_role_permissions(rid)
                        except OktaError:
                            continue
                    role["permissions"] = perms_cache[rid]
            su.roles = roles
    if "devices" in ew:
        try:
            su.devices = client.get_user_devices(uid)
        except OktaError:
            pass
    return su


def _assign_supervises(state: StateStore) -> None:
    """assignSupervises (okta.go:634-657)."""
    manager_map: dict[str, list] = {}
    for u in state.users.values():
        profile = u.properties.get("profile") or {}
        manager_id = profile.get("managerId") or ""
        if not manager_id:
            continue
        manager_map.setdefault(manager_id, []).append({
            "id": u.id,
            "email": profile.get("email") or "",
            "username": profile.get("login") or ""})
    for subs in manager_map.values():
        subs.sort(key=lambda s: s["id"])
    for uid, u in state.users.items():
        u.supervises = manager_map.get(uid, [])


def _fetch_devices(client: OktaClient, cfg: Conf, state: StateStore,
                   full_sync: bool,
                   publish: Callable[[Device], None]) -> None:
    """doFetchDevices (okta.go:676-807): every device's users are
    fetched through the per-device pagination before publishing."""
    if not cfg.want_devices():
        return
    query = _base_query(cfg, state.next_devices, full_sync)
    user_query_init = dict(query)
    last_updated = ""
    for batch, _ in client.get_devices(query):
        for props in batch:
            users: list = []
            for upage, _ in client.get_device_users(
                    props.get("id", ""), dict(user_query_init)):
                users.extend(upage)
            publish(state.store_device(props, users))
        last_updated = _max_last_updated(batch, last_updated)
    state.next_devices = _watermark_query(last_updated)


def okta_full_sync(cfg: Conf, store: KVStore, *, input_id: str,
                   client: Optional[OktaClient] = None,
                   now: Callable[[], float] = _time.time
                   ) -> list[dict]:
    """runFullSync (okta.go:301-362): markers + every entity, state
    committed only on success."""
    client = client or OktaClient(cfg.okta_domain, cfg.okta_token,
                                  limiter=OktaRateLimiter(
                                      cfg.limit_window,
                                      cfg.limit_fixed))
    state = StateStore(store)
    records: list[dict] = []
    try:
        if cfg.want_users() or cfg.want_devices():
            start = now()
            _publish_marker(records, start, input_id, True)
            _fetch_users(client, cfg, state, True,
                         lambda u: _publish_user(records, u,
                                                 input_id, now()))
            _fetch_devices(client, cfg, state, True,
                           lambda d: _publish_device(records, d,
                                                     input_id, now()))
            end = now()
            _publish_marker(records, end, input_id, False)
        state.last_sync = datetime.fromtimestamp(
            now(), timezone.utc).isoformat()
        state.close(True)
    except Exception:
        state.close(False)
        raise
    return records


def okta_incremental_update(cfg: Conf, store: KVStore, *,
                            input_id: str,
                            client: Optional[OktaClient] = None,
                            now: Callable[[], float] = _time.time
                            ) -> list[dict]:
    """runIncrementalUpdate (okta.go:367-414)."""
    client = client or OktaClient(cfg.okta_domain, cfg.okta_token,
                                  limiter=OktaRateLimiter(
                                      cfg.limit_window,
                                      cfg.limit_fixed))
    state = StateStore(store)
    records: list[dict] = []
    try:
        _fetch_users(client, cfg, state, False,
                     lambda u: _publish_user(records, u, input_id,
                                             now()))
        _fetch_devices(client, cfg, state, False,
                       lambda d: _publish_device(records, d,
                                                 input_id, now()))
        state.last_update = datetime.fromtimestamp(
            now(), timezone.utc).isoformat()
        state.close(True)
    except Exception:
        state.close(False)
        raise
    return records


# ------------------------------------------------------------ Spark DF

ENTITY_RECORDS_DDL = ("ts timestamp, action string, entity_id string,"
                      " identity_source string, fields string")


def entity_events_df(spark, records: list[dict]):
    import datetime as _dt

    rows = []
    for r in records:
        f = r["fields"]
        eid = (f.get("user") or {}).get("id") \
            or (f.get("device") or {}).get("id") \
            or (f.get("group") or {}).get("id")
        rows.append((
            _dt.datetime.fromtimestamp(r["ts"], _dt.timezone.utc
                                       ).replace(tzinfo=None),
            (f.get("event") or {}).get("action"),
            eid,
            (f.get("labels") or {}).get("identity_source"),
            json.dumps(f, sort_keys=True, default=str)))
    return spark.createDataFrame(rows, ENTITY_RECORDS_DDL)


def okta_stream(spark, cfg: Conf, store: KVStore, *, input_id: str,
                sink: Callable[[Any, int], None],
                checkpoint_dir: str, poll_seconds: float = 1.0,
                client_factory: Optional[Callable[[], OktaClient]]
                = None):
    """The provider's dual-timer loop on the tick clock: a full sync
    when sync_interval has elapsed since the stored last_sync (which
    also resets the update cadence, okta.go:156-166), else an
    incremental update when update_interval elapsed. State commits
    inside the collect AFTER records exist; the sink consumes the
    batch each tick."""

    def one_cycle(_tick_df, batch_id: int) -> None:
        client = client_factory() if client_factory else None
        st = store.data.get("state", {})
        now = _time.time()

        def _age(iso):
            if not iso:
                return float("inf")
            return now - datetime.fromisoformat(iso).timestamp()

        if _age(st.get("last_sync")) >= cfg.sync_interval:
            records = okta_full_sync(cfg, store, input_id=input_id,
                                     client=client)
        elif _age(st.get("last_update")) >= cfg.update_interval:
            records = okta_incremental_update(
                cfg, store, input_id=input_id, client=client)
        else:
            records = []
        sink(entity_events_df(spark, records), batch_id)

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
