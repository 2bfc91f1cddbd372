"""The mito extension surface the cel input's program corpus uses.

Each function documents the mito lib file whose observable behavior
it reproduces (elastic/mito is an external module; behavior is
re-derived from the reference input's own test corpus — the wants in
x-pack/filebeat/input/cel/input_test.go pin every semantic detail
asserted here, the same golden-fixture method as the httpjson
template engine). Unknown names fail at compile time via
engine.compile_program's validation.
"""

from __future__ import annotations

import base64
import binascii
import gzip as _gzip
import io
import json
import time as _time
from datetime import datetime, timedelta, timezone
from typing import Any, Callable, Optional
from urllib.parse import parse_qsl, quote, urlencode, urlparse, urlunparse

from .. import httpconn
from .engine import (
    CELError,
    Env,
    Optional_,
    OPT_NONE,
    UInt,
    evaluate,
    format_value,
)

__all__ = ["build_registry", "go_type_name", "encode_json_value"]


def go_type_name(v) -> str:
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, UInt):
        return "uint64"
    if isinstance(v, int):
        return "int64"
    if isinstance(v, float):
        return "float64"
    if isinstance(v, str):
        return "string"
    if isinstance(v, bytes):
        return "[]uint8"
    if isinstance(v, list):
        return "[]interface {}"
    if isinstance(v, dict):
        return "map[string]interface {}"
    if v is None:
        return "<nil>"
    return type(v).__name__


def _json_default(v):
    if isinstance(v, bytes):
        return base64.b64encode(v).decode()
    if isinstance(v, datetime):
        from .engine import _format_ts

        return _format_ts(v)
    if isinstance(v, timedelta):
        from .engine import _format_dur

        return _format_dur(v)
    if isinstance(v, Optional_):
        return v.value if v.has else None
    raise TypeError(f"not JSON serializable: {type(v)}")


def encode_json_value(v) -> str:
    """Go json.Marshal: compact, sorted object keys."""
    return json.dumps(v, sort_keys=True, separators=(",", ":"),
                      default=_json_default, ensure_ascii=False)


def _parse_rfc3339(s: str) -> datetime:
    try:
        return datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError as e:
        raise CELError(f"cannot parse timestamp: {e}")


def _parse_duration(s: str) -> timedelta:
    """Go time.ParseDuration."""
    import re

    m = re.fullmatch(
        r"([+-])?((?:\d+(?:\.\d*)?|\.\d+)(?:ns|us|µs|ms|s|m|h))+", s)
    if not m:
        raise CELError(f"time: invalid duration {s!r}")
    sign = -1 if s.startswith("-") else 1
    total = 0.0
    for num, unit in re.findall(
            r"(\d+(?:\.\d*)?|\.\d+)(ns|us|µs|ms|s|m|h)", s):
        mult = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3,
                "s": 1.0, "m": 60.0, "h": 3600.0}[unit]
        total += float(num) * mult
    return timedelta(seconds=sign * total)


# ------------------------------------------------------------------ sprintf

def _sprintf(fmt: str, args: list) -> str:
    """Go fmt.Sprintf subset: %s %d %v %f %g %t %q %x."""
    out = []
    ai = 0
    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c != "%":
            out.append(c)
            i += 1
            continue
        spec = fmt[i + 1] if i + 1 < len(fmt) else ""
        i += 2
        if spec == "%":
            out.append("%")
            continue
        a = args[ai] if ai < len(args) else "%!(" + spec + ")"
        ai += 1
        if spec in ("s", "v"):
            out.append(format_value(a))
        elif spec == "d":
            out.append(str(int(a)))
        elif spec in ("f", "g"):
            out.append(f"{float(a):f}" if spec == "f" else repr(float(a)))
        elif spec == "t":
            out.append("true" if a else "false")
        elif spec == "q":
            out.append(json.dumps(str(a)))
        elif spec == "x":
            out.append(a.hex() if isinstance(a, bytes)
                       else format(int(a), "x"))
        else:
            out.append(f"%!{spec}({format_value(a)})")
    return "".join(out)


# -------------------------------------------------------------------- HTTP

_CANON = {"user-agent": "User-Agent", "content-type": "Content-Type",
          "authorization": "Authorization", "retry-after": "Retry-After"}


def _canon_header(name: str) -> str:
    return "-".join(p.capitalize() for p in name.split("-"))


class HttpDialer:
    """One keep-alive-less HTTP dialer for the program's
    get/post/do_request calls, with the input's resource options
    (basic/token auth headers, default headers, useragent). https
    verifies the server certificate (httpconn)."""

    def __init__(self, *, useragent: str = "", headers=None,
                 basic_auth=None, token_auth=None, timeout: float = 30.0):
        self.useragent = useragent
        self.headers = headers or {}
        self.basic_auth = basic_auth  # (user, pass)
        self.token_auth = token_auth  # (type, value)
        self.timeout = timeout

    def do(self, request: dict) -> dict:
        url = request.get("URL", "")
        u = urlparse(url)
        if u.scheme == "file":
            raise CELError("file scheme not supported by do_request")
        headers = {}
        for k, v in (self.headers or {}).items():
            headers[_canon_header(k)] = v if isinstance(v, str) \
                else ", ".join(v)
        for k, v in (request.get("Header") or {}).items():
            headers[_canon_header(k)] = v if isinstance(v, str) \
                else ", ".join(str(x) for x in v)
        if "User-Agent" not in headers and self.useragent:
            headers["User-Agent"] = self.useragent
        if self.basic_auth and "Authorization" not in headers:
            tok = base64.b64encode(
                f"{self.basic_auth[0]}:{self.basic_auth[1]}".encode()
            ).decode()
            headers["Authorization"] = "Basic " + tok
        if self.token_auth and "Authorization" not in headers:
            headers["Authorization"] = \
                f"{self.token_auth[0]} {self.token_auth[1]}"
        body = request.get("Body", b"")
        if isinstance(body, str):
            body = body.encode()
        method = request.get("Method", "GET")
        try:
            resp = httpconn.request(method, url, body or None, headers,
                                    self.timeout)
        except OSError as e:
            raise CELError(f"{method} {url} gave: {e}")
        hdr: dict[str, list[str]] = {}
        for k, v in resp.headers:
            hdr.setdefault(_canon_header(k), []).append(v)
        return {
            "StatusCode": resp.status,
            "Status": f"{resp.status} {resp.reason}",
            "Header": hdr,
            "Body": resp.body,
            "ContentLength": len(resp.body),
        }


def _read_file_url(url: str) -> bytes:
    path = url
    if path.startswith("file://"):
        path = path[len("file://"):]
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError as e:
        raise CELError(str(e))


def _decode_body(data: bytes, mime: str):
    """mito file()/MIME dispatch: returns the decoded value(s)."""
    if mime in ("application/json", ""):
        try:
            return json.loads(data)
        except ValueError as e:
            raise CELError(f"failed to unmarshal JSON message: {e}")
    if mime == "application/x-ndjson":
        out = []
        for ln in data.decode("utf-8", "replace").splitlines():
            if not ln.strip():
                continue
            try:
                out.append(json.loads(ln))
            except ValueError as e:
                out.append(CELError(
                    f"failed to unmarshal JSON message: {e}"))
        return out
    if mime == "text/csv; header=present":
        import csv

        r = csv.reader(io.StringIO(data.decode("utf-8", "replace")))
        rows = list(r)
        hdr = rows[0]
        return [dict(zip(hdr, row)) for row in rows[1:]]
    raise CELError(f"unsupported media type: {mime}")


# --------------------------------------------------------------- registry

def build_registry(*, dialer: Optional[HttpDialer] = None,
                   now: Optional[Callable[[], datetime]] = None,
                   xsds: Optional[dict] = None,
                   emitter=None):
    """Returns (functions, lazy_functions, methods) for
    engine.compile_program / Env."""
    now = now or (lambda: datetime.now(timezone.utc))
    dialer = dialer or HttpDialer()
    xsds = xsds or {}

    # ---------------- plain global functions

    def f_sprintf(env, args):
        fmt = args[0]
        rest = args[1] if len(args) > 1 else []
        return _sprintf(fmt, rest)

    def f_sum(env, args):
        (xs,) = args
        if not isinstance(xs, list):
            raise CELError("no such overload: sum(" + go_type_name(xs)
                           + ")")
        total = 0
        for x in xs:
            total = total + x
        return total

    def f_front(env, args):
        xs, n = args
        return xs[:int(n)]

    def f_tail(env, args):
        xs, n = args
        return xs[int(n):]

    def f_hex_decode(env, args):
        try:
            return binascii.unhexlify(args[0])
        except (binascii.Error, ValueError) as e:
            raise CELError(f"hex_decode: {e}")

    def f_base64_decode(env, args):
        try:
            return base64.b64decode(args[0])
        except (binascii.Error, ValueError) as e:
            raise CELError(f"base64_decode: {e}")

    def f_string(env, args):
        (v,) = args
        if isinstance(v, Optional_):
            v = v.value if v.has else None
        return format_value(v)

    def f_int(env, args):
        (v,) = args
        if isinstance(v, bool):
            raise CELError("no such overload: int(bool)")
        if isinstance(v, (int, float)):
            return int(v)
        if isinstance(v, str):
            try:
                return int(v, 0)
            except ValueError:
                try:
                    return int(float(v))
                except ValueError:
                    raise CELError(
                        f"cannot convert string to int: {v!r}")
        if isinstance(v, datetime):
            return int(v.timestamp())
        raise CELError("no such overload: int(" + go_type_name(v) + ")")

    def f_double(env, args):
        (v,) = args
        if isinstance(v, str):
            try:
                return float(v)
            except ValueError:
                raise CELError(
                    f"cannot convert string to double: {v!r}")
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
        raise CELError("no such overload: double("
                       + go_type_name(v) + ")")

    def f_uint(env, args):
        v = f_int(env, args)
        if v < 0:
            raise CELError("unsigned integer overflow")
        return UInt(v)

    def f_bytes(env, args):
        (v,) = args
        if isinstance(v, bytes):
            return v
        if isinstance(v, str):
            return v.encode()
        raise CELError("no such overload: bytes("
                       + go_type_name(v) + ")")

    def f_bool(env, args):
        (v,) = args
        if isinstance(v, bool):
            return v
        if isinstance(v, str):
            if v in ("true", "True", "TRUE", "t", "1"):
                return True
            if v in ("false", "False", "FALSE", "f", "0"):
                return False
        raise CELError("no such overload: bool(" + go_type_name(v) + ")")

    def f_size(env, args):
        (v,) = args
        if isinstance(v, (str, bytes, list, dict)):
            return len(v)
        raise CELError("no such overload: size(" + go_type_name(v) + ")")

    def f_timestamp(env, args):
        (v,) = args
        if isinstance(v, datetime):
            return v
        if isinstance(v, str):
            return _parse_rfc3339(v)
        if isinstance(v, int) and not isinstance(v, bool):
            return datetime.fromtimestamp(v, tz=timezone.utc)
        raise CELError("no such overload: timestamp("
                       + go_type_name(v) + ")")

    def f_duration(env, args):
        (v,) = args
        if isinstance(v, timedelta):
            return v
        if isinstance(v, str):
            return _parse_duration(v)
        raise CELError("no such overload: duration("
                       + go_type_name(v) + ")")

    def f_get(env, args):
        (url,) = args
        return dialer.do({"Method": "GET", "URL": url})

    def f_post(env, args):
        url, content_type, body = args
        req = {"Method": "POST", "URL": url, "Body": body,
               "Header": {}}
        if content_type:
            req["Header"]["Content-Type"] = [content_type]
        return dialer.do(req)

    def f_get_request(env, args):
        (url,) = args
        return {"Method": "GET", "URL": url, "Header": {}}

    def f_post_request(env, args):
        url, content_type, body = args
        hdr = {}
        if content_type:
            hdr["Content-Type"] = [content_type]
        return {"Method": "POST", "URL": url, "Header": hdr,
                "Body": body}

    def f_file(env, args):
        url = args[0]
        mime = args[1] if len(args) > 1 else ""
        data = _read_file_url(url)
        decoded = _decode_body(data, mime)
        if isinstance(decoded, list):
            # per-element errors stay embedded as error values for the
            # inner try() to absorb
            return _ErrList(decoded)
        return decoded

    def f_rate_limit(env, args):
        header, policy, window = args
        if policy != "okta":
            raise CELError(f"unknown rate limit policy: {policy}")
        h = {k.lower(): v for k, v in (header or {}).items()}

        def first(name):
            v = h.get(name.lower())
            if isinstance(v, list):
                return v[0] if v else ""
            return v or ""

        try:
            limit = float(first("X-Rate-Limit-Limit"))
            remaining = float(first("X-Rate-Limit-Remaining"))
            reset = float(first("X-Rate-Limit-Reset"))
        except (TypeError, ValueError) as e:
            return {"error": f"okta rate limit headers: {e}"}
        reset_dt = datetime.fromtimestamp(reset, tz=timezone.utc)
        window_s = window.total_seconds() or 1.0
        per_s = max((reset_dt - now()).total_seconds(), 1.0)
        return {
            "rate": remaining / per_s,
            "next": limit / window_s,
            "burst": 1,
            "reset": reset_dt,
        }

    def f_debug_lazy(env, argns):
        tag = evaluate(argns[0], env)
        try:
            v = evaluate(argns[1], env)
        except CELError as e:
            # mito debug logs and passes the error VALUE through —
            # it stays an error in the data flow
            log = env.globals.get("__debug_log__")
            if log is not None:
                log.append((tag, str(e)))
            raise
        log = env.globals.get("__debug_log__")
        if log is not None:
            log.append((tag, v))
        return v

    def f_try_lazy(env, argns):
        try:
            v = evaluate(argns[0], env)
        except CELError as e:
            return _error_value(str(e), argns, env)
        if isinstance(v, CELError):
            return _error_value(str(v), argns, env)
        return v

    def _error_value(msg: str, argns, env):
        if len(argns) > 1:
            field = evaluate(argns[1], env)
            parts = field.split(".")
            out: Any = msg
            for p in reversed(parts):
                out = {p: out}
            return out
        return msg

    def f_is_error_lazy(env, argns):
        try:
            v = evaluate(argns[0], env)
        except CELError:
            return True
        return isinstance(v, CELError)

    functions = {
        "sprintf": f_sprintf, "sum": f_sum, "front": f_front,
        "tail": f_tail, "hex_decode": f_hex_decode,
        "base64_decode": f_base64_decode, "string": f_string,
        "int": f_int, "uint": f_uint, "double": f_double,
        "bytes": f_bytes, "bool": f_bool, "size": f_size,
        "timestamp": f_timestamp, "duration": f_duration,
        "get": f_get, "post": f_post, "get_request": f_get_request,
        "post_request": f_post_request, "file": f_file,
        "rate_limit": f_rate_limit,
        "decode_json": lambda env, args: m_decode_json(env, args[0], []),
    }
    lazy = {"try": f_try_lazy, "is_error": f_is_error_lazy,
            "debug": f_debug_lazy}

    # ---------------- methods

    def m_decode_json(env, obj, args):
        if isinstance(obj, bytes):
            obj = obj.decode("utf-8", "replace")
        if not isinstance(obj, str):
            raise CELError("no such overload: decode_json("
                           + go_type_name(obj) + ")")
        try:
            return json.loads(obj)
        except ValueError as e:
            raise CELError(f"failed to unmarshal JSON message: {e}")

    def m_encode_json(env, obj, args):
        return encode_json_value(obj)

    def m_decode_xml(env, obj, args):
        from ..httpjson.encdec import xml_unmarshal, xsd_details

        details = None
        if args:
            xsd = xsds.get(args[0])
            if xsd:
                details = xsd_details(xsd)
        if isinstance(obj, bytes):
            data = obj
        else:
            data = str(obj).encode()
        cdata, body = xml_unmarshal(data, details)
        return {"doc": body}

    def m_split(env, obj, args):
        return obj.split(args[0])

    def m_contains(env, obj, args):
        return args[0] in obj

    def m_startswith(env, obj, args):
        return obj.startswith(args[0])

    def m_endswith(env, obj, args):
        return obj.endswith(args[0])

    def m_matches(env, obj, args):
        import re

        return re.search(args[0], obj) is not None

    def m_stream_gzip(env, obj, args):
        try:
            return _gzip.decompress(obj)
        except OSError as e:
            raise CELError(f"stream_gzip: {e}")

    def m_decode_lines(env, obj, args):
        text = obj.decode("utf-8", "replace") if isinstance(obj, bytes) \
            else obj
        return [ln for ln in text.split("\n") if ln != ""]

    def m_decode_csv_stream_lazy(env, obj, args, header=True):
        import csv

        text = obj.decode("utf-8", "replace") if isinstance(obj, bytes) \
            else obj
        rows = list(csv.reader(io.StringIO(text)))
        if not rows:
            return []
        if header:
            hdr = rows[0]
            return [dict(zip(hdr, r)) for r in rows[1:]]
        return [list(r) for r in rows]

    def m_flatten(env, obj, args):
        out = []
        for x in obj:
            if isinstance(x, list):
                out.extend(x)
            else:
                out.append(x)
        return out

    def m_with(env, obj, args):
        (other,) = args
        out = dict(obj)
        out.update(other)
        return out

    def m_with_update(env, obj, args):
        """mito With_Update: add keys, do NOT replace existing."""
        (other,) = args
        out = dict(obj)
        for k, v in other.items():
            if k not in out:
                out[k] = v
        return out

    def m_with_replace(env, obj, args):
        """mito WithReplace: replace only EXISTING keys."""
        (other,) = args
        out = dict(obj)
        for k, v in other.items():
            if k in out:
                out[k] = v
        return out

    def m_drop(env, obj, args):
        (keys,) = args
        if isinstance(keys, str):
            keys = [keys]
        return {k: v for k, v in obj.items() if k not in keys}

    def m_parse_url(env, obj, args):
        u = urlparse(obj)
        user = ""
        if u.username:
            user = u.username + (f":{u.password}" if u.password else "")
        return {
            "Scheme": u.scheme,
            "Opaque": "",
            "User": user,
            "Host": u.netloc.rsplit("@", 1)[-1],
            "Path": u.path,
            "RawPath": "",
            "OmitHost": False,
            "ForceQuery": False,
            "RawQuery": u.query,
            "Fragment": u.fragment,
            "RawFragment": "",
        }

    def m_format_url(env, obj, args):
        netloc = obj.get("Host", "")
        if obj.get("User"):
            netloc = obj["User"] + "@" + netloc
        return urlunparse((
            obj.get("Scheme", ""), netloc, obj.get("Path", ""),
            "", obj.get("RawQuery", ""), obj.get("Fragment", "")))

    def m_format_query(env, obj, args):
        """map[string][]string → sorted URL-encoded query (Go
        url.Values.Encode)."""
        pairs = []
        for k in sorted(obj):
            vs = obj[k]
            if not isinstance(vs, list):
                vs = [vs]
            for v in vs:
                pairs.append((k, format_value(v)))
        # Go url.Values.Encode → QueryEscape: '+' for spaces
        return urlencode(pairs)

    def m_parse_query(env, obj, args):
        out: dict[str, list[str]] = {}
        for k, v in parse_qsl(obj, keep_blank_values=True):
            out.setdefault(k, []).append(v)
        return out

    def m_do_request(env, obj, args):
        return dialer.do(obj)

    def m_sign_aws_from_static(env, obj, args):
        """mito AWS SigV4 request signing — built on the repo's own
        from-scratch signer (awss3/sigv4.py, botocore-cross-checked)."""
        from ..awss3.sigv4 import payload_hash, sign_request

        akid, secret, token = args[0], args[1], args[2]
        opts = args[3] if len(args) > 3 else {}
        req = dict(obj)
        u = urlparse(req.get("URL", ""))
        sign_time = opts.get("sign_time") or now()
        amz_date = sign_time.astimezone(timezone.utc).strftime(
            "%Y%m%dT%H%M%SZ")
        body = req.get("Body", b"")
        if isinstance(body, str):
            body = body.encode()
        sha = payload_hash(body)
        headers = {"Host": u.netloc, "x-amz-date": amz_date,
                   "x-amz-content-sha256": sha}
        query = [(k, v) for k, v in parse_qsl(u.query,
                                              keep_blank_values=True)]
        signed = sign_request(
            req.get("Method", "GET"), u.path or "/", query, headers,
            sha, access_key=akid, secret_key=secret,
            region=opts.get("region", ""),
            service=opts.get("service", ""), amz_date=amz_date,
            session_token=(None if opts.get("disable_session_token")
                           else (token or None)),
        )
        hdr = dict(req.get("Header") or {})
        for k, v in headers.items():
            if k.lower() != "host":
                hdr[_canon_header(k)] = [v]
        hdr["Authorization"] = [signed["Authorization"]]
        if "x-amz-security-token" in signed:
            hdr["X-Amz-Security-Token"] = \
                [signed["x-amz-security-token"]]
        req["Header"] = hdr
        return req

    def m_round(env, obj, args):
        (d,) = args
        ns = d.total_seconds()
        t = obj.timestamp()
        r = round(t / ns) * ns
        return datetime.fromtimestamp(r, tz=timezone.utc)

    def m_truncate(env, obj, args):
        (d,) = args
        ns = d.total_seconds()
        t = obj.timestamp()
        r = (t // ns) * ns
        return datetime.fromtimestamp(r, tz=timezone.utc)

    def m_or_value(env, obj, args):
        if isinstance(obj, Optional_):
            return obj.value if obj.has else args[0]
        return obj

    def m_has_value(env, obj, args):
        return isinstance(obj, Optional_) and obj.has

    def m_optional_unwrap(env, obj, args):
        return [o.value for o in obj
                if isinstance(o, Optional_) and o.has]

    methods = {
        "decode_json": m_decode_json,
        "encode_json": m_encode_json,
        "decode_xml": m_decode_xml,
        "split": m_split,
        "contains": m_contains,
        "startsWith": m_startswith,
        "endsWith": m_endswith,
        "matches": m_matches,
        "stream_gzip": m_stream_gzip,
        "decode_lines": m_decode_lines,
        "decode_csv_stream_lazy":
            lambda env, obj, args: m_decode_csv_stream_lazy(
                env, obj, args, header=True),
        "decode_csv_stream_lazy_no_header":
            lambda env, obj, args: m_decode_csv_stream_lazy(
                env, obj, args, header=False),
        "flatten": m_flatten,
        "with": m_with,
        "with_update": m_with_update,
        "with_replace": m_with_replace,
        "drop": m_drop,
        "parse_url": m_parse_url,
        "format_url": m_format_url,
        "format_query": m_format_query,
        "parse_query": m_parse_query,
        "do_request": m_do_request,
        "sign_aws_from_static": m_sign_aws_from_static,
        "round": m_round,
        "truncate": m_truncate,
        "orValue": m_or_value,
        "hasValue": m_has_value,
        "size": lambda env, obj, args: f_size(env, [obj]),
    }

    # optional.* namespace rides the globals: "optional" resolves to a
    # map whose of/none/unwrap members are methods
    optional_ns = {"__optional_ns__": True}

    def m_of(env, obj, args):
        if obj is optional_ns:
            return Optional_(args[0], True)
        raise CELError("no such overload: of")

    def m_none(env, obj, args):
        if obj is optional_ns:
            return OPT_NONE
        raise CELError("no such overload: none")

    def m_unwrap(env, obj, args):
        if obj is optional_ns:
            return m_optional_unwrap(env, args[0], [])
        raise CELError("no such overload: unwrap")

    methods["of"] = m_of
    methods["none"] = m_none
    methods["unwrap"] = m_unwrap

    return functions, lazy, methods, optional_ns


class _ErrList(list):
    """A list whose elements may be embedded CELError values (the
    file() NDJSON path); iteration by map() re-raises so inner try()
    can absorb per-element errors."""
