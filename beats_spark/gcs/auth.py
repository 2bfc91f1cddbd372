"""OAuth2 service-account authentication for Google APIs, from the
public spec (RFC 7523 JWT bearer grant as Google documents it):
build a RS256-signed JWT over the service account's key, POST it to
the account's token_uri, cache the bearer token until expiry.

The reference delegates this to golang.org/x/oauth2/google
(config.go:168-195); only the credential RESOLUTION ORDER is ported
from there: credentials_file → credentials_json → Application
Default Credentials (GOOGLE_APPLICATION_CREDENTIALS), with the
reference's exact no-credentials wording.

RSA signing uses the `cryptography` package when present; the import
is function-local so unauthenticated clients (the mock-server/test
path, like option.WithoutAuthentication) never need it.
"""

from __future__ import annotations

import base64
import json
import os
import time
from typing import Any, Optional

__all__ = ["ServiceAccountAuth", "load_credentials", "b64url"]


def b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def load_credentials(auth_cfg: dict[str, Any] | None) -> Optional[dict]:
    """authConfig.Validate's resolution order (config.go:168-195).
    Returns the parsed service-account JSON, or None for the
    unauthenticated path; raises ValueError with the reference's
    wording when nothing resolves."""
    auth_cfg = auth_cfg or {}
    f = (auth_cfg.get("credentials_file") or {}).get("path")
    if f:
        if not os.path.exists(f):
            raise ValueError(
                f"credentials_file is configured, but the file \"{f}\" "
                "cannot be found")
        with open(f) as fh:
            return json.load(fh)
    j = (auth_cfg.get("credentials_json") or {}).get("account_key")
    if j:
        return json.loads(j) if isinstance(j, str) else j
    adc = os.environ.get("GOOGLE_APPLICATION_CREDENTIALS")
    if adc and os.path.exists(adc):
        with open(adc) as fh:
            return json.load(fh)
    if auth_cfg.get("unauthenticated"):
        return None
    raise ValueError(
        "no authentication credentials were configured or detected "
        "(credentials_file, credentials_json, and application default "
        "credentials (ADC))")


class ServiceAccountAuth:
    """Bearer-token provider over the JWT grant.

    scope defaults to devstorage.read_only — the storage SDK's
    ScopeReadOnly the reference requests."""

    SCOPE = "https://www.googleapis.com/auth/devstorage.read_only"
    GRANT = "urn:ietf:params:oauth:grant-type:jwt-bearer"

    def __init__(self, creds: dict, *, scope: str = SCOPE,
                 token_uri: str = "", lifetime: int = 3600,
                 now=time.time):
        self.creds = creds
        self.scope = scope
        self.token_uri = token_uri or creds.get(
            "token_uri", "https://oauth2.googleapis.com/token")
        self.lifetime = lifetime
        self._now = now
        self._token: Optional[str] = None
        self._expires = 0.0

    # -- JWT ---------------------------------------------------------

    def _sign_rs256(self, message: bytes) -> bytes:
        from cryptography.hazmat.primitives import hashes, serialization
        from cryptography.hazmat.primitives.asymmetric import padding

        key = serialization.load_pem_private_key(
            self.creds["private_key"].encode(), password=None)
        return key.sign(message, padding.PKCS1v15(), hashes.SHA256())

    def make_assertion(self) -> str:
        iat = int(self._now())
        header = {"alg": "RS256", "typ": "JWT"}
        if self.creds.get("private_key_id"):
            header["kid"] = self.creds["private_key_id"]
        claims = {
            "iss": self.creds["client_email"],
            "scope": self.scope,
            "aud": self.token_uri,
            "iat": iat,
            "exp": iat + self.lifetime,
        }
        signing_input = (
            b64url(json.dumps(header, separators=(",", ":")).encode())
            + "." +
            b64url(json.dumps(claims, separators=(",", ":")).encode())
        )
        sig = self._sign_rs256(signing_input.encode())
        return signing_input + "." + b64url(sig)

    # -- token exchange ------------------------------------------------

    def token(self) -> str:
        if self._token and self._now() < self._expires - 60:
            return self._token
        from urllib.parse import urlencode

        from ..httpconn import request

        body = urlencode({"grant_type": self.GRANT,
                          "assertion": self.make_assertion()}).encode()
        status, _, _, data = request("POST", self.token_uri, body, {
            "Content-Type": "application/x-www-form-urlencoded"}, 30)
        if status != 200:
            raise ValueError(
                f"oauth2: cannot fetch token: {status}: "
                f"{data.decode('utf-8', 'replace')[:200]}")
        tok = json.loads(data)
        self._token = tok["access_token"]
        self._expires = self._now() + float(tok.get("expires_in", 3600))
        return self._token
