"""The one HTTP transport the HTTP inputs and the ES output open
connections through (libbeat/common/transport/httpcommon over
tlscommon).

`open_connection` picks plain or TLS from the scheme. TLS uses the
beats-style `ssl` block through `tlsutil.client_ssl_context` when one
is given, else the system trust store with hostname checking; either
way the certificate is verified unless the block's
`verification_mode` says `none`. A `ca_sha256` pin is checked right
after the handshake and the connection is closed on a mismatch.

`KeepAlive` holds one lazily opened connection for a client that
issues many requests to one host; `request` is one request on a
fresh connection. Callers keep their own retry, backoff and error
wording.
"""

from __future__ import annotations

import http.client
import ssl
from typing import NamedTuple, Optional
from urllib.parse import urlsplit

from .tlsutil import check_ca_sha256, client_ssl_context

__all__ = ["open_connection", "KeepAlive", "Response", "request"]


def open_connection(scheme: str, netloc: str, timeout: float,
                    tls: Optional[dict] = None
                    ) -> http.client.HTTPConnection:
    """An http.client connection to `netloc` (host[:port]); https
    verifies the peer, other schemes are plain HTTP."""
    if scheme != "https":
        return http.client.HTTPConnection(netloc, timeout=timeout)
    ctx = client_ssl_context(tls) if tls else ssl.create_default_context()
    conn = http.client.HTTPSConnection(netloc, timeout=timeout,
                                       context=ctx)
    if tls and tls.get("ca_sha256"):
        conn.connect()
        try:
            check_ca_sha256(conn.sock, tls["ca_sha256"],
                            tls.get("certificate_authorities"))
        except Exception:
            conn.close()
            raise
    return conn


class KeepAlive:
    """One keep-alive connection, opened on first `get()`; `close()`
    drops it so the next `get()` reconnects (the stale keep-alive
    recovery every holder runs). A connection that failed its pin
    check is never held."""

    def __init__(self, scheme: str, netloc: str, timeout: float,
                 tls: Optional[dict] = None):
        self.scheme, self.netloc = scheme, netloc
        self.timeout, self.tls = timeout, tls
        self._conn: Optional[http.client.HTTPConnection] = None

    def get(self) -> http.client.HTTPConnection:
        if self._conn is None:
            self._conn = open_connection(self.scheme, self.netloc,
                                         self.timeout, self.tls)
        return self._conn

    def close(self) -> None:
        if self._conn is not None:
            try:
                self._conn.close()
            finally:
                self._conn = None


class Response(NamedTuple):
    status: int
    reason: str
    headers: list  # (name, value) pairs in wire order, repeats kept
    body: bytes


def request(method: str, url: str, body: Optional[bytes] = None,
            headers: Optional[dict] = None,
            timeout: float = 60.0) -> Response:
    """One request on its own connection, closed before returning.
    The path and query of `url` are sent as given; http.client adds
    Host and, for a body, Content-Length."""
    u = urlsplit(url)
    conn = open_connection(u.scheme, u.netloc, timeout)
    try:
        path = (u.path or "/") + ("?" + u.query if u.query else "")
        conn.request(method, path, body=body, headers=headers or {})
        resp = conn.getresponse()
        data = resp.read()
        return Response(resp.status, resp.reason, resp.getheaders(), data)
    finally:
        conn.close()
