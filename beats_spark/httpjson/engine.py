"""httpjson engine: request → decode → split → transform → publish.

Ports the reference's single-request program end to end
(request.go, response.go, pagination.go, rate_limiter.go, cursor.go,
input.go) over stdlib http.client — the same no-SDK discipline as the
repo's live ES/kafka/redis wire paths.  Driver-side by design: one
poll per interval produces a bounded batch of events that feed Spark
as a DataFrame (`httpjson_events_df`) or stream through the
`beats_httpjson` Python Data Source with the cursor checkpointed in
stream offsets (the statestore registry analog, input.go:289-296).

Chain steps and while blocks (request.go:112-239, config_chain.go) are
implemented: ids collected over jsonpath replace expressions, per-step
clients with tryAssignAuth credentials and the while `until` retry
policy, replace_with context fetches, origin locking for replace-less
steps, and chain replay per root pagination page
(processRemainingChainEvents).  Intermediate step responses publish no
events — their bodies are consumed by the id extraction, exactly like
the reference (request.go:618-627).

Scope lines (loud, config-time):
- OAuth2 = every config_auth.go provider, live: client_credentials,
  the password grant, okta (okta_auth.py: JWT-bearer with optional
  RFC 9449 DPoP), azure and google (provider_auth.py);
- `response.xsd` / XML decode rides elastic's mito typed-XML engine —
  out of scope (encdec.py).
"""

from __future__ import annotations

import gzip as _gzip
import json
import time as _time
from typing import Any, Callable, Dict, List, Optional, Tuple

from .. import httpconn
from . import mapstr
from .chain import ChainError, ids_from_bodies
from .encdec import (REGISTERED_DECODERS, REGISTERED_ENCODERS, DecodeError,
                     decode, encode)
from .splitter import (ERR_EMPTY_FIELD, ERR_EMPTY_ROOT_FIELD, SplitError,
                       new_split_response)
from .tpl import (ERR_EMPTY_RESULT, ERR_EXECUTING, Header, URL, ValueTpl,
                  user_agent_string)
from .transforms import (ERR_NEW_URL_VALUE_NOT_SET, PAGINATION_NS,
                         REQUEST_NS, RESPONSE_NS, Cursor, Response,
                         Transformable, TransformContext, TransformError,
                         new_transforms)

_sleep = _time.sleep  # patchable in tests


class HTTPJSONError(ValueError):
    pass


class HttpError(HTTPJSONError):
    """httpError (request.go:38-49)."""

    def __init__(self, status_code: int, status: str, body: bytes):
        self.status_code = status_code
        self.status = status
        self.body = body
        if body:
            msg = (f"server responded with status code {status}: "
                   f"{body.decode('utf-8', 'replace')}")
        else:
            msg = f"server responded with status code {status}"
        super().__init__(msg)


# ------------------------------------------------------------------ config

def unflatten(flat: Dict[str, Any]) -> dict:
    """Expand dotted config keys ('request.url') into nested dicts — the
    shape the reference test matrix uses for its baseConfig maps."""
    out: dict = {}
    for k, v in flat.items():
        mapstr.put(out, k, v)
    return out


class Config:
    """config.go config + defaults + Validate()."""

    def __init__(self, cfg: dict):
        cfg = dict(cfg)
        self.interval = _duration(cfg.get("interval", 60.0))
        if self.interval <= 0:
            raise HTTPJSONError("interval must be greater than 0")
        auth = cfg.get("auth") or {}
        basic = auth.get("basic") or {}
        self.basic_user = basic.get("user", "")
        self.basic_password = basic.get("password", "")
        self.oauth2 = auth.get("oauth2") or None
        if self.oauth2:
            provider = self.oauth2.get("provider") or "default"
            if provider == "okta":
                from .okta_auth import validate_okta_config
                validate_okta_config(self.oauth2)
            elif provider in ("", "default", "azure", "google"):
                from .provider_auth import validate_oauth2
                validate_oauth2(self.oauth2)
            else:
                raise HTTPJSONError(
                    f"unknown provider {provider!r}")

        req = cfg.get("request") or {}
        if not req.get("url"):
            raise HTTPJSONError("request.url is required")
        self.url = URL(str(req["url"]))
        if not self.url.Scheme:
            raise HTTPJSONError(f'url {req["url"]!r} is missing scheme')
        self.method = str(req.get("method", "GET")).upper()
        self.body = req.get("body")
        if self.method == "GET" and self.body is not None:
            raise HTTPJSONError('body can\'t be used with method: "GET"')
        if self.method not in ("GET", "POST"):
            raise HTTPJSONError(f"unsupported method {self.method!r}")
        self.encode_as = req.get("encode_as", "")
        if self.encode_as and self.encode_as not in REGISTERED_ENCODERS:
            raise HTTPJSONError(
                f"encoder not found for contentType: {self.encode_as}")
        retry = req.get("retry") or {}
        self.retry_max_attempts = retry.get("max_attempts", 5)
        self.retry_wait_min = _duration(retry.get("wait_min", 1.0))
        self.retry_wait_max = _duration(retry.get("wait_max", 60.0))
        self.timeout = _duration(req.get("timeout", 30.0))
        self.max_redirects = req.get("redirect", {}).get("max_redirects", 10)
        self.rate_limit = req.get("rate_limit") or None
        self.request_transforms = new_transforms(req.get("transforms"),
                                                 REQUEST_NS)

        resp = cfg.get("response") or {}
        self.decode_as = resp.get("decode_as", "")
        if self.decode_as and self.decode_as not in REGISTERED_DECODERS:
            raise HTTPJSONError(
                f"decoder not found for contentType: {self.decode_as}")
        from .encdec import xsd_details
        self.xml_details = xsd_details(str(resp["xsd"])) \
            if resp.get("xsd") else None
        self.response_transforms = new_transforms(resp.get("transforms"),
                                                  RESPONSE_NS)
        self.pagination_transforms_cfg = resp.get("pagination") or []
        # validate at config time like responseConfig.Validate
        new_transforms(self.pagination_transforms_cfg, PAGINATION_NS)
        self.split = new_split_response(resp.get("split"))
        self.save_first_response = resp.get("save_first_response", False)
        self.request_body_on_pagination = resp.get(
            "request_body_on_pagination", False)
        self.pagination_allowed_hosts = resp.get("pagination_allowed_hosts",
                                                 []) or []
        self.cursor_cfg = cfg.get("cursor") or {}
        self.chain = [ChainStepConfig(c, self)
                      for c in (cfg.get("chain") or [])]


class ChainStepConfig:
    """config_chain.go chainConfig: one step or while block.  Step/while
    dicts may carry dotted keys ('request.url') like the reference test
    matrix — they are unflattened here, matching go-ucfg."""

    def __init__(self, raw: dict, parent: Config):
        raw = unflatten(dict(raw))
        step = raw.get("step")
        while_ = raw.get("while")
        if step is None and while_ is None:
            raise HTTPJSONError(
                "both step & while blocks in a chain cannot be empty")
        self.kind = "step" if step is not None else "while"
        c = unflatten(dict(step if step is not None else while_))

        req = c.get("request") or {}
        if not req.get("url"):
            raise HTTPJSONError("chain step request.url is required")
        self.url_raw = str(req["url"])
        self.method = str(req.get("method", "GET")).upper()
        if self.method not in ("GET", "POST"):
            raise HTTPJSONError(f"unsupported method {self.method!r}")
        self.body = req.get("body")
        self.transforms = new_transforms(req.get("transforms"), REQUEST_NS)
        retry = req.get("retry") or {}
        # getMaxAttempts()==0 when unset → no retryable client wrap: one
        # attempt and the until policy never runs (config_chain.go:84-88)
        self.retry_max_attempts = retry.get("max_attempts", 1)
        self.retry_wait_min = _duration(retry.get("wait_min", 1.0))
        self.retry_wait_max = _duration(retry.get("wait_max", 60.0))
        self.timeout = _duration(req.get("timeout", 30.0))
        self.rate_limit = req.get("rate_limit") or None

        resp = c.get("response") or {}
        self.split = new_split_response(resp.get("split"))
        self.response_transforms = new_transforms(resp.get("transforms"),
                                                  RESPONSE_NS)

        self.replace = c.get("replace", "") or ""
        self.replace_with = c.get("replace_with", "") or ""
        if self.replace_with and \
                len(self.replace_with.split(",", 2)) > 2:
            raise HTTPJSONError(
                "invalid number of parameters inside step replace_with: "
                f'"{self.replace_with}"')

        self.until = None
        if self.kind == "while":
            if not c.get("until"):
                raise HTTPJSONError(
                    "a while block in a chain requires an until expression")
            self.until = ValueTpl(str(c["until"]))

        # tryAssignAuth (request.go:459-464): parent auth when the step
        # does not define its own
        auth = c.get("auth")
        if auth is None:
            self.basic_user = parent.basic_user
            self.basic_password = parent.basic_password
            self.oauth2 = parent.oauth2
        else:
            auth = unflatten(dict(auth))
            basic = auth.get("basic") or {}
            self.basic_user = basic.get("user", "")
            self.basic_password = basic.get("password", "")
            self.oauth2 = auth.get("oauth2") or None
        self.max_redirects = parent.max_redirects
        self.encode_as = parent.encode_as  # request.go:375 uses root's


def _duration(v) -> float:
    """Seconds from a number or a Go duration string ('30s', '1m')."""
    if isinstance(v, (int, float)):
        return float(v)
    from .gotime import parse_go_duration
    return parse_go_duration(str(v)) / 1e9


# ------------------------------------------------------------- HTTP client

class RateLimiter:
    """rate_limiter.go rateLimiter."""

    def __init__(self, cfg: Optional[dict]):
        self.enabled = cfg is not None
        cfg = cfg or {}
        self.limit = ValueTpl(cfg["limit"]) if cfg.get("limit") else None
        self.reset = ValueTpl(cfg["reset"]) if cfg.get("reset") else None
        self.remaining = ValueTpl(cfg["remaining"]) \
            if cfg.get("remaining") else None
        self.early_limit = cfg.get("early_limit")

    def execute(self, fn: Callable[[], Tuple[int, Header, bytes, URL]]):
        while True:
            resp = fn()
            if not self.enabled:
                return resp
            applied = self._apply(resp)
            if resp[0] == 200 or not applied:
                return resp

    def _apply(self, resp) -> bool:
        limited, resume_at = self._get_rate_limit(resp[1])
        from .tpl import _time_now as now_fn
        now_unix = now_fn().Unix()
        wait = resume_at - now_unix
        if resume_at == 0 or wait <= 0:
            return limited
        _sleep(wait)
        return limited

    def _get_rate_limit(self, header: Header) -> Tuple[bool, int]:
        """getRateLimit (rate_limiter.go:110-175)."""
        if self.remaining is None:
            return False, 0
        ctx = TransformContext()
        ctx.update_last_response(Response(header=header.clone()))
        tr = Transformable()
        remaining, _ = self.remaining.execute(ctx, tr, "rate-limit_remaining")
        if remaining == "":
            return False, 0
        try:
            m = int(remaining)
        except ValueError as e:
            raise HTTPJSONError(
                f"failed to parse rate-limit remaining value: {e}")
        min_remaining = 0
        if self.early_limit is not None:
            early = float(self.early_limit)
            if 0 < early < 1 and self.limit is not None:
                limit, _ = self.limit.execute(ctx, tr, "early_limit")
                if limit:
                    try:
                        lim = int(limit)
                        min_remaining = lim - int(early * lim)
                    except ValueError:
                        pass
            elif early >= 1:
                min_remaining = int(early)
        if m > min_remaining:
            return False, 0
        if self.reset is None:
            return False, 0
        reset, _ = self.reset.execute(ctx, tr, "rate-limit_reset")
        if reset == "":
            return False, 0
        try:
            resume_at = int(reset)
        except ValueError as e:
            raise HTTPJSONError(
                f"failed to parse rate-limit reset value: {e}")
        from .tpl import _time_now as now_fn
        if now_fn().Unix() > resume_at:
            return True, 0
        return True, resume_at


class OAuth2ClientCredentials:
    """config_auth.go oAuth2Config, the client_credentials grant only:
    POST token_url with client id/secret + scopes + endpoint params,
    cache until expiry, send Authorization: Bearer."""

    def __init__(self, cfg: dict):
        self.token_url = cfg["token_url"]
        self.client_id = cfg.get("client", {}).get("id") or cfg.get(
            "client.id", "")
        self.client_secret = cfg.get("client", {}).get("secret") or cfg.get(
            "client.secret", "")
        self.scopes = cfg.get("scopes") or []
        self.endpoint_params = cfg.get("endpoint_params") or {}
        self._token: Optional[str] = None
        self._expires_at = 0.0

    def token(self, do_plain) -> str:
        if self._token and _time.time() < self._expires_at - 10:
            return self._token
        from urllib.parse import urlencode
        params = [("grant_type", "client_credentials")]
        if self.scopes:
            params.append(("scope", " ".join(self.scopes)))
        for k, v in self.endpoint_params.items():
            for item in (v if isinstance(v, list) else [v]):
                params.append((k, item))
        params.append(("client_id", self.client_id))
        params.append(("client_secret", self.client_secret))
        body = urlencode(params).encode()
        hdr = Header()
        hdr.Set("Content-Type", "application/x-www-form-urlencoded")
        status, _h, data, _u = do_plain("POST", URL(self.token_url), hdr,
                                        body)
        if status != 200:
            raise HttpError(status, str(status), data)
        tok = json.loads(data)
        self._token = tok["access_token"]
        self._expires_at = _time.time() + float(tok.get("expires_in", 3600))
        return self._token


def _make_oauth2(cfg: dict):
    """config_auth.go's client() provider dispatch."""
    provider = cfg.get("provider") or "default"
    if provider == "okta":
        from .okta_auth import OktaOAuth2
        return OktaOAuth2(cfg)
    if provider == "google":
        from .provider_auth import GoogleOAuth2
        return GoogleOAuth2(cfg)
    if provider == "azure":
        from .provider_auth import (azure_endpoint_params,
                                    azure_token_url)
        derived = dict(cfg)
        derived["token_url"] = azure_token_url(cfg)
        derived["endpoint_params"] = azure_endpoint_params(cfg)
        return OAuth2ClientCredentials(derived)
    if cfg.get("user") or cfg.get("password"):
        from .provider_auth import OAuth2PasswordGrant
        return OAuth2PasswordGrant(cfg)
    return OAuth2ClientCredentials(cfg)


class HttpClient:
    """httpClient: one-shot HTTP with retryablehttp-style retries and
    the rate limiter wrapped around each attempt (request.go:266-289)."""

    def __init__(self, cfg, until=None):
        """cfg is the Config (root client) or a ChainStepConfig (chain
        client) — both carry the same client attribute surface.  `until`
        is the while-block expression compiled into the retry policy
        (newHTTPPolicy, request.go:391); like the reference it is only
        active when a retryable client exists (max_attempts > 1,
        input.go:352-366)."""
        self.cfg = cfg
        self.limiter = RateLimiter(cfg.rate_limit)
        self.oauth2 = _make_oauth2(cfg.oauth2) if cfg.oauth2 else None
        self.until = until if cfg.retry_max_attempts > 1 else None

    # -- single physical request, following redirects
    def _do_plain(self, method: str, url: URL, header: Header,
                  body: Optional[bytes]):
        redirects = 0
        while True:
            headers = {k: ", ".join(v) for k, v in header.items()}
            status, _, pairs, data = httpconn.request(
                method, url.String(), body, headers, self.cfg.timeout)
            h = Header()
            for k, v in pairs:
                h.Add(k, v)
            if status in (301, 302, 303, 307, 308) and redirects < \
                    self.cfg.max_redirects and h.Get("Location"):
                from urllib.parse import urljoin
                url = URL(urljoin(url.String(), h.Get("Location")))
                if status == 303:
                    method, body = "GET", None
                redirects += 1
                continue
            if h.Get("Content-Encoding") == "gzip" and data:
                data = _gzip.decompress(data)
            return status, h, data, url

    def do(self, method: str, url: URL, header: Header,
           body: Optional[bytes]):
        """httpClient.do: limiter(execute attempt-with-retries); raises
        HttpError on terminal >=400 like request.go:280-288."""
        header = header.clone()
        if self.cfg.basic_user or self.cfg.basic_password:
            import base64
            cred = f"{self.cfg.basic_user}:{self.cfg.basic_password}"
            header.Set("Authorization",
                       "Basic " + base64.b64encode(cred.encode()).decode())
        if self.oauth2 is not None:
            if hasattr(self.oauth2, "authorize"):
                # okta: Bearer, or DPoP token + per-request ath proof
                self.oauth2.authorize(header, method, url.String(),
                                      self._do_plain)
            else:
                header.Set("Authorization", "Bearer "
                           + self.oauth2.token(self._do_plain))

        def attempt():
            max_attempts = max(1, self.cfg.retry_max_attempts)
            last_exc: Optional[Exception] = None
            for i in range(max_attempts):
                try:
                    resp = self._do_plain(method, url, header, body)
                except OSError as e:
                    last_exc = e
                    resp = None
                if resp is not None:
                    status = resp[0]
                    retryable = status == 429 or (500 <= status <= 599
                                                  and status != 501)
                    if not retryable and self.until is not None:
                        # CustomRetryPolicy (policy.go:62-133): evaluate
                        # the while-block expression on the body; a
                        # template/ParseBool error is terminal, a false
                        # result retries
                        from .chain import ChainError, evaluate_response
                        try:
                            done = evaluate_response(self.until, resp[2])
                        except ChainError as e:
                            raise HTTPJSONError(str(e))
                        if done:
                            return resp
                        retryable = True
                        last_exc = HTTPJSONError(
                            f"giving up after {max_attempts} attempt(s)")
                    elif not retryable:
                        return resp
                    else:
                        last_exc = HttpError(status, str(status), resp[2])
                if i + 1 < max_attempts:
                    _sleep(min(self.cfg.retry_wait_max,
                               self.cfg.retry_wait_min * (2 ** i)))
            if resp is not None and self.until is None:
                return resp
            raise HTTPJSONError(f"failed to execute http {method}: "
                                f"{last_exc}")

        resp = self.limiter.execute(attempt)
        status, h, data, final_url = resp
        if status >= 400:
            raise HttpError(status, str(status), data)
        return resp


# --------------------------------------------------------- request factory

class RequestFactory:
    """requestFactory (request.go:291-314) for the regular call and the
    pagination factory (pagination.go:79-97)."""

    def __init__(self, cfg: Config, transforms, origin_url: Optional[URL],
                 body: Optional[dict], user_agent: str,
                 url: Optional[URL] = None, method: Optional[str] = None):
        self.cfg = cfg
        self.url = url if url is not None else cfg.url
        self.method = method or cfg.method
        self.body = body
        self.transforms = transforms
        self.encoder = REGISTERED_ENCODERS.get(cfg.encode_as) \
            if cfg.encode_as else None
        self.origin_url = origin_url
        self.allowed_origins = [URL(s) for s in
                                cfg.pagination_allowed_hosts]
        self.user_agent = user_agent
        self.is_chain = False

    def new_request(self, ctx: TransformContext) -> Transformable:
        """newRequest (request.go:511-543)."""
        req = Transformable()
        req.set_url(self.url.clone())
        if self.body is not None:
            req.set_body(mapstr.clone(self.body))
        header = Header()
        header.Set("Accept", "application/json")
        header.Set("User-Agent", self.user_agent)
        req.set_header(header)
        for t in self.transforms:
            req = t.run(ctx, req)
        if self.method == "POST":
            header = req.header()
            if header.Get("Content-Type") == "":
                header.Set("Content-Type", "application/json")
        return req

    def new_http_request(self, ctx: TransformContext):
        """newHTTPRequest (request.go:466-509) → (method, url, header,
        body bytes)."""
        tr_req = self.new_request(ctx)
        if self.origin_url is not None:
            target = tr_req.url()
            if not allowed_origin(self.origin_url, self.allowed_origins,
                                  target):
                raise HTTPJSONError(
                    f'pagination URL origin "{target.Host}" does not match '
                    f'configured origin "{self.origin_url.Host}"')
        body = None
        if self.method == "POST":
            if self.encoder is not None:
                body = self.encoder(tr_req)
            else:
                body = encode(tr_req.header().Get("Content-Type"), tr_req)
        return self.method, tr_req.url(), tr_req.header(), body


def _port_or_default(u: URL) -> str:
    host = u.Host
    if ":" in host:
        return host.rsplit(":", 1)[1]
    return {"https": "443", "http": "80"}.get(u.Scheme, "")


def _hostname(u: URL) -> str:
    return u.Host.rsplit(":", 1)[0] if ":" in u.Host else u.Host


def same_origin(base: URL, target: URL) -> bool:
    """sameOrigin (request.go:570-575)."""
    if base.Scheme == "https" and target.Scheme != "https":
        return False
    return _hostname(base) == _hostname(target) and \
        _port_or_default(base) == _port_or_default(target)


def allowed_origin(base: URL, allowed: List[URL], target: URL) -> bool:
    """allowedOrigin (request.go:550-563)."""
    if same_origin(base, target):
        return True
    if base.Scheme == "https" and target.Scheme != "https":
        return False
    return any(same_origin(a, target) for a in allowed)


# --------------------------------------------------------------- pagination

_PAGINATION_STOPPERS = (ERR_NEW_URL_VALUE_NOT_SET, ERR_EMPTY_RESULT,
                        ERR_EXECUTING)


class Pagination:
    """pagination.go pagination: the request factory built from request
    transforms + response.pagination transforms."""

    def __init__(self, cfg: Config, client: HttpClient, user_agent: str):
        self.client = client
        self.decoder = REGISTERED_DECODERS.get(cfg.decode_as) \
            if cfg.decode_as else None
        self.xml_details = cfg.xml_details
        self.request_factory: Optional[RequestFactory] = None
        if cfg.pagination_transforms_cfg:
            rts = cfg.request_transforms
            pts = new_transforms(cfg.pagination_transforms_cfg,
                                 PAGINATION_NS)
            body = cfg.body if cfg.request_body_on_pagination else {}
            self.request_factory = RequestFactory(
                cfg, list(rts) + list(pts), origin_url=cfg.url.clone(),
                body=body, user_agent=user_agent)

    @classmethod
    def bare(cls, client: "HttpClient", decoder=None,
             xml_details=None) -> "Pagination":
        """A factory-less pagination over an existing client — the
        chain response processor's shape (response.go:167)."""
        p = cls.__new__(cls)
        p.client = client
        p.decoder = decoder
        p.xml_details = xml_details
        p.request_factory = None
        return p


class PageIterator:
    """pagination.go pageIterator."""

    def __init__(self, pagination: Pagination, tr_ctx: TransformContext,
                 resp):
        self.pagination = pagination
        self.tr_ctx = tr_ctx
        self.resp = resp  # (status, Header, bytes, URL)
        self.is_first = True
        self.done = False
        self.n = 0

    def next(self) -> Tuple[Optional[Response], bool]:
        if self.resp is None or self.done:
            return None, False
        if self.is_first:
            self.is_first = False
            page = self._get_page()
            if self.pagination.request_factory is None:
                self.done = True
            return page, True

        try:
            method, url, header, body = \
                self.pagination.request_factory.new_http_request(self.tr_ctx)
        except TransformError as e:
            if e.reason in _PAGINATION_STOPPERS:
                self.done = True
                return None, False
            raise
        self.resp = self.pagination.client.do(method, url, header, body)
        page = self._get_page()
        if page.body is None:
            self.done = True
            return None, False
        return page, True

    def _get_page(self) -> Response:
        """getPage (pagination.go:178-210)."""
        status, header, data, url = self.resp
        r = Response(header=header, url=url, page=self.n)
        r.xml_details = self.pagination.xml_details
        self.n += 1
        if data:
            if self.pagination.decoder is not None:
                self.pagination.decoder(data, r)
            else:
                decode(header.Get("Content-Type"), data, r)
        return r


# ---------------------------------------------------------------- response

class Publisher:
    """publisher (request.go:881-939): collect events + track
    first/last event + cursor updates per published event."""

    def __init__(self, tr_ctx: TransformContext, publish: bool = True,
                 sink: Optional[List[dict]] = None,
                 error_sink: Optional[List[str]] = None):
        self.tr_ctx = tr_ctx
        self.publish = publish
        self.events: List[dict] = sink if sink is not None else []
        self.errors: List[str] = error_sink if error_sink is not None \
            else []

    def handle_event(self, msg: dict) -> None:
        if self.publish:
            self.events.append(mapstr.clone(msg))
        if not self.tr_ctx.first_event:
            self.tr_ctx.update_first_event(mapstr.clone(msg))
        self.tr_ctx.update_last_event(mapstr.clone(msg))
        self.tr_ctx.update_cursor()

    def handle_error(self, err: Exception) -> None:
        self.errors.append(str(err))


class ResponseProcessor:
    """responseProcessor.startProcessing (response.go:207-277) over a
    list of responses — the chain path feeds several."""

    def __init__(self, transforms, split, pagination: Pagination):
        self.transforms = transforms
        self.split = split
        self.pagination = pagination

    @classmethod
    def from_config(cls, cfg: Config, pagination: Pagination
                    ) -> "ResponseProcessor":
        return cls(cfg.response_transforms, cfg.split, pagination)

    def start_processing(self, tr_ctx: TransformContext, resps: list,
                         paginate: bool, handler,
                         allow_string_array: bool = False) -> None:
        tr_ctx.clear_interval_data()
        for i, resp in enumerate(resps):
            iterator = PageIterator(self.pagination, tr_ctx, resp)
            while True:
                try:
                    page, has_next = iterator.next()
                except (HTTPJSONError, DecodeError, TransformError) as e:
                    handler.handle_error(e)
                    return
                if not has_next:
                    if i + 1 != len(resps):
                        break
                    return
                resp_trs = page.as_transformables(allow_string_array)
                if not resp_trs:
                    return
                tr_ctx.update_last_response(page)
                for tr in resp_trs:
                    try:
                        for t in self.transforms:
                            tr = t.run(tr_ctx, tr)
                    except TransformError as e:
                        handler.handle_error(e)
                        return
                    if self.split is None:
                        handler.handle_event(tr.body())
                        continue
                    try:
                        self.split.run(tr_ctx, tr, handler)
                    except SplitError as e:
                        if e.kind in (ERR_EMPTY_FIELD,
                                      ERR_EMPTY_ROOT_FIELD):
                            pass  # quiet page end (response.go:258-266)
                        else:
                            handler.handle_error(e)
                            return
                if not paginate:
                    break


class ChainRequestFactory(RequestFactory):
    """The chain-step requestFactory (request.go:354-424): its own
    client (step retry/rate-limit + tryAssignAuth credentials, plus the
    while-block until policy), its own response processor (step
    response.split/transforms over a factory-less pagination), and the
    replace/replace_with URL skeleton."""

    def __init__(self, step: "ChainStepConfig", root_cfg: Config,
                 user_agent: str):
        super().__init__(root_cfg, step.transforms, origin_url=None,
                         body=step.body, user_agent=user_agent,
                         url=URL(step.url_raw), method=step.method)
        self.is_chain = True
        self.url_template = step.url_raw
        self.replace = step.replace
        self.replace_with = step.replace_with
        self.until = step.until
        self.chain_client = HttpClient(step, until=step.until)
        # newChainResponseProcessor (response.go:166-205): pagination
        # with no request factory over the chain client
        chain_pagination = Pagination.bare(
            self.chain_client,
            REGISTERED_DECODERS.get(root_cfg.decode_as)
            if root_cfg.decode_as else None,
            xml_details=root_cfg.xml_details)
        self.chain_response_processor = ResponseProcessor(
            step.response_transforms, step.split, chain_pagination)
        if step.replace == "":
            # request.go:381-384: a step with no replace pattern is
            # origin-locked to its configured URL (+ allowlist)
            self.origin_url = URL(step.url_raw)
            self.allowed_origins = [
                URL(s) for s in root_cfg.pagination_allowed_hosts]


class Requester:
    """requester.doRequest (request.go:52-242): the single-request
    path plus the chain step/while execution over collected ids,
    including chain-with-root-pagination replay
    (processRemainingChainEvents, request.go:660-666)."""

    def __init__(self, cfg: Config, user_agent: str = ""):
        self.cfg = cfg
        self.user_agent = user_agent or user_agent_string()
        self.client = HttpClient(cfg)
        self.request_factory = RequestFactory(
            cfg, cfg.request_transforms, origin_url=None, body=cfg.body,
            user_agent=self.user_agent)
        self.request_factories: List[RequestFactory] = \
            [self.request_factory] + \
            [ChainRequestFactory(s, cfg, self.user_agent)
             for s in cfg.chain]
        self.pagination = Pagination(cfg, self.client, self.user_agent)
        self.response_processor = ResponseProcessor.from_config(
            cfg, self.pagination)

    def _collect_response(self, rf: RequestFactory,
                          tr_ctx: TransformContext):
        """collectResponse (request.go:244-263): chain steps go through
        their own client."""
        method, url, header, body = rf.new_http_request(tr_ctx)
        if rf.is_chain:
            try:
                return rf.chain_client.do(method, url, header, body)
            except (HTTPJSONError, HttpError) as e:
                raise HTTPJSONError(
                    f"failed to execute chain http {method}: {e}")
        return self.client.do(method, url, header, body)

    def _run_chain_step(self, i: int, ids: List[str],
                        tr_ctx: TransformContext,
                        publisher: Publisher) -> List[str]:
        """One chain factory over the collected ids — the shared body of
        doRequest's tail branch (request.go:149-228) and
        processChainPaginationEvents (request.go:772-848).  Returns the
        ids for the NEXT factory (unchanged for the last).  Responses of
        intermediate steps are processed body-drained, exactly like the
        reference (getIdsFromResponses closes the bodies,
        request.go:618-627), so only the last step publishes events."""
        from .chain import fetch_value_from_context, generate_new_url
        rf = self.request_factories[i]
        n_factories = len(self.request_factories)
        chain_tr_ctx = tr_ctx.clone()

        do_replace_with = False
        val = ""
        replace_arr: List[str] = []
        if rf.replace_with:
            replace_arr = rf.replace_with.split(",")
            val, do_replace_with = fetch_value_from_context(
                chain_tr_ctx, replace_arr[1].strip())

        final_resps = []
        intermediate = []
        for id_ in ids:
            url_str = generate_new_url(rf.replace, rf.url_template, id_)
            if do_replace_with:
                url_str = generate_new_url(replace_arr[0].strip(),
                                           url_str, val)
            rf.url = URL(url_str)
            try:
                resp = self._collect_response(rf, chain_tr_ctx)
            finally:
                rf.url = URL(rf.url_template)
            if i == n_factories - 1:
                final_resps.append(resp)
            else:
                intermediate.append(resp)

        if i == n_factories - 1:
            resps = final_resps
            next_ids = ids
        else:
            next_ids = ids_from_bodies(
                [r[2] for r in intermediate],
                self.request_factories[i + 1].replace)
            # bodies are consumed by the id extraction — the processor
            # sees drained pages and publishes nothing for this step
            resps = [(r[0], r[1], b"", r[3]) for r in intermediate]

        p = Publisher(chain_tr_ctx, publish=True, sink=publisher.events,
                      error_sink=publisher.errors)
        rf.chain_response_processor.start_processing(
            chain_tr_ctx, resps, True, p,
            allow_string_array=i < n_factories - 1)
        return next_ids

    def do_request(self, tr_ctx: TransformContext,
                   publisher: Publisher) -> None:
        n_factories = len(self.request_factories)
        ids: List[str] = []
        is_chain_with_page_expected = False
        initial_response: list = []
        chain_index = 0

        for i in range(n_factories):
            if i == 0:
                rf = self.request_factories[0]
                resp = self._collect_response(rf, tr_ctx)

                if self.cfg.save_first_response:
                    status, h, data, u = resp
                    body_map: Any = None
                    try:
                        parsed = json.loads(data)
                        # Go unmarshals into map[string]interface{}
                        if isinstance(parsed, dict):
                            body_map = parsed
                    except (json.JSONDecodeError, ValueError):
                        pass
                    tr_ctx.update_first_response(
                        Response(body=body_map, header=h.clone(),
                                 url=u.clone()))

                if n_factories == 1:
                    self.response_processor.start_processing(
                        tr_ctx, [resp], True, publisher)
                    continue

                # a chain follows (request.go:112-146)
                chain_index = 1
                final_resps = [resp]
                if self.pagination.request_factory is not None:
                    is_chain_with_page_expected = True
                    initial_response = [resp]
                ids = ids_from_bodies(
                    [resp[2]], self.request_factories[1].replace)
                # no pagination here — it would update cursor values the
                # chain replay owns; events are not published either
                p = Publisher(tr_ctx, publish=False,
                              sink=publisher.events,
                              error_sink=publisher.errors)
                self.response_processor.start_processing(
                    tr_ctx, final_resps, False, p,
                    allow_string_array=True)
            else:
                if not ids:
                    continue
                ids = self._run_chain_step(i, ids, tr_ctx, publisher)

        # for each further page of the parent request, replay the chain
        if is_chain_with_page_expected:
            self._process_remaining_chain_events(
                tr_ctx, publisher, initial_response, chain_index)

    def _process_remaining_chain_events(self, tr_ctx: TransformContext,
                                        publisher: Publisher,
                                        initial_resps: list,
                                        chain_index: int) -> None:
        """processRemainingChainEvents (request.go:660-666): paginate
        the root response; the first event was already processed, each
        later one re-enters the chain."""
        p = _ChainProcessor(self, tr_ctx, publisher, chain_index)
        self.response_processor.start_processing(
            tr_ctx, initial_resps, True, p, allow_string_array=True)

    def _process_chain_pagination_events(self, tr_ctx: TransformContext,
                                         publisher: Publisher,
                                         response, chain_index: int
                                         ) -> None:
        """processChainPaginationEvents (request.go:754-851)."""
        ids = ids_from_bodies(
            [response[2]], self.request_factories[chain_index].replace)
        for i in range(chain_index, len(self.request_factories)):
            if not ids:
                continue
            ids = self._run_chain_step(i, ids, tr_ctx, publisher)


class _ChainProcessor:
    """chainProcessor (request.go:669-750): handles the paginated root
    events, skipping the first, re-running the chain for each."""

    def __init__(self, requester: Requester, tr_ctx: TransformContext,
                 publisher: Publisher, idx: int):
        self.requester = requester
        self.tr_ctx = tr_ctx
        self.publisher = publisher
        self.idx = idx
        self.tail = False

    def handle_event(self, msg: dict) -> None:
        if not self.tail:
            # skip the first event — already processed
            self.tail = True
            return
        body = json.dumps(msg, sort_keys=True,
                          separators=(",", ":")).encode()
        # updates last_event & cursor for the pagination page
        self.tr_ctx.update_last_event(mapstr.clone(msg))
        self.tr_ctx.update_cursor()
        from .chain import ChainError
        try:
            self.requester._process_chain_pagination_events(
                self.tr_ctx, self.publisher,
                (200, Header(), body, URL("")), self.idx)
        except (HTTPJSONError, ChainError, DecodeError,
                TransformError) as e:
            self.publisher.errors.append(
                f"error processing chain event: {e}")

    def handle_error(self, err: Exception) -> None:
        self.publisher.errors.append(f"error processing response: {err}")


# --------------------------------------------------------------- run loop

def make_event(body: dict) -> dict:
    """makeEvent (input.go:493-510): the published event carries the
    object as a JSON `message` + created timestamp."""
    from .tpl import _time_now as now_fn
    now = now_fn()
    return {
        "@timestamp": now.format("2006-01-02T15:04:05.999999999Z07:00"),
        "event": {"created": now.format(
            "2006-01-02T15:04:05.999999999Z07:00")},
        "message": json.dumps(body, sort_keys=True, separators=(",", ":")),
    }


def httpjson_collect(config: dict, intervals: int = 1,
                     cursor_state: Optional[dict] = None,
                     raw: bool = False) -> Tuple[List[dict], dict]:
    """Run the httpjson program for `intervals` polls and return
    (events, cursor_state).  Events are makeEvent dicts unless `raw`,
    in which case the bare body objects are returned (the shape the
    reference test matrix asserts on)."""
    cfg = Config(config)
    requester = Requester(cfg)
    tr_ctx = TransformContext()
    tr_ctx.cursor = Cursor(cfg.cursor_cfg)
    tr_ctx.cursor.load(cursor_state)

    events: List[dict] = []
    errors: List[str] = []
    for i in range(intervals):
        publisher = Publisher(tr_ctx)
        try:
            requester.do_request(tr_ctx, publisher)
        except (HTTPJSONError, ChainError, DecodeError,
                TransformError) as e:
            errors.append(str(e))
        events.extend(publisher.events)
        errors.extend(publisher.errors)
        # Clear response bodies between evaluations (input.go:247-250)
        if tr_ctx.first_response is not None:
            tr_ctx.first_response.body = None
        tr_ctx.last_response.body = None
        if i + 1 < intervals:
            _sleep(cfg.interval)
    out = events if raw else [make_event(e) for e in events]
    return out, tr_ctx.cursor.clone()


# ------------------------------------------------------------ spark surface

def httpjson_events_df(spark, config: dict, intervals: int = 1,
                       cursor_state: Optional[dict] = None):
    """Poll once (or n intervals) and return the events as a DataFrame
    with the reference event shape: (ts timestamp, message string)."""
    events, _cursor = httpjson_collect(config, intervals, cursor_state)
    rows = [(e["@timestamp"], e["message"]) for e in events]
    df = spark.createDataFrame(rows, "ts string, message string")
    from pyspark.sql import functions as F
    return df.select(F.to_timestamp("ts").alias("ts"), "message")


def register_httpjson_source(spark) -> None:
    """Register the `beats_httpjson` streaming source: one poll per
    microbatch, cursor state checkpointed in the offset (the
    statestore/registry analog).  Same SimpleDataSourceStreamReader
    pattern as the mqtt/udp sources (mqtt_input.py)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
    from pyspark.sql.types import StringType, StructField, StructType

    class HTTPJSONDataSource(DataSource):
        @classmethod
        def name(cls):
            return "beats_httpjson"

        def schema(self):
            return StructType([
                StructField("ts", StringType()),
                StructField("message", StringType()),
            ])

        def simpleStreamReader(self, schema):
            options = dict(self.options)

            class HTTPJSONSimpleStreamReader(SimpleDataSourceStreamReader):
                def initialOffset(self):
                    return {"cursor": "{}", "polls": 0}

                def read(self, start):
                    config = json.loads(options["config"])
                    cursor_state = json.loads(start.get("cursor") or "{}")
                    events, new_cursor = httpjson_collect(
                        config, intervals=1, cursor_state=cursor_state)
                    rows = [(e["@timestamp"], e["message"])
                            for e in events]
                    end = {"cursor": json.dumps(new_cursor),
                           "polls": start.get("polls", 0) + 1}
                    return iter(rows), end

                def readBetweenOffsets(self, start, end):
                    # Replay is best-effort for a live HTTP API: the
                    # cursor in `start` re-fetches from the same point
                    # (at-least-once, like the reference registry).
                    config = json.loads(options["config"])
                    cursor_state = json.loads(start.get("cursor") or "{}")
                    events, _ = httpjson_collect(
                        config, intervals=1, cursor_state=cursor_state)
                    return iter([(e["@timestamp"], e["message"])
                                 for e in events])

                def commit(self, end):
                    pass

            return HTTPJSONSimpleStreamReader()

    spark.dataSource.register(HTTPJSONDataSource)


def read_httpjson(spark, config: dict):
    """readStream wrapper: spark.readStream.format('beats_httpjson')."""
    register_httpjson_source(spark)
    return (spark.readStream.format("beats_httpjson")
            .option("config", json.dumps(config)).load())
