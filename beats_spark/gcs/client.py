"""GCS JSON-API client over the shared HTTP transport (httpconn).

Request shapes are the ones cloud.google.com/go/storage emits — the
reference's own mock server (x-pack/filebeat/input/gcs/mock/mock.go)
pins them: `GET /b/{bucket}` bucket attrs, `GET /b/{bucket}/o` paged
object listing (storage#objects with items[] / nextPageToken), and
`GET /{bucket}/{object}` media download. Retries follow the input's
retryConfig (bounded exponential backoff on 429/5xx,
config.go:157-167).
"""

from __future__ import annotations

import http.client
import json
import time
from dataclasses import dataclass, field
from typing import Iterator, Optional
from urllib.parse import quote, urlencode, urlparse

from ..httpconn import KeepAlive

__all__ = ["GCSError", "GCSObject", "GCSClient"]


class GCSError(Exception):
    def __init__(self, message: str, status: int = 0):
        super().__init__(message)
        self.status = status


OBJECT_NOT_EXIST = "storage: object doesn't exist"


@dataclass
class GCSObject:
    """storage.ObjectAttrs — the fields the input consumes."""

    name: str
    bucket: str = ""
    content_type: str = ""
    content_encoding: str = ""
    size: int = 0
    updated: str = ""  # RFC3339
    raw: dict = field(default_factory=dict)


def _attrs(item: dict) -> GCSObject:
    return GCSObject(
        name=item.get("name", ""),
        bucket=item.get("bucket", ""),
        content_type=item.get("contentType", ""),
        content_encoding=item.get("contentEncoding", ""),
        size=int(item.get("size", 0) or 0),
        updated=item.get("updated", ""),
        raw=item,
    )


class GCSClient:
    def __init__(self, endpoint: str, *, token_provider=None,
                 timeout: float = 50.0,
                 retry: Optional[dict] = None,
                 sleep=time.sleep):
        u = urlparse(endpoint)
        if not u.scheme or not u.netloc:
            raise GCSError(f"failed to parse endpoint: {endpoint}")
        self._http = KeepAlive(u.scheme, u.netloc, timeout)
        self.token_provider = token_provider
        self.timeout = timeout
        r = retry or {}
        self.max_attempts = int(r.get("max_attempts", 3))
        self.initial_backoff = float(r.get("initial_backoff_duration", 1))
        self.max_backoff = float(r.get("max_backoff_duration", 30))
        self.multiplier = float(r.get("backoff_multiplier", 2.0))
        self._sleep = sleep

    def close(self) -> None:
        self._http.close()

    def _get(self, path: str, query: Optional[dict] = None
             ) -> tuple[int, bytes]:
        url = quote(path, safe="/-._~")
        if query:
            url += "?" + urlencode(query)
        headers = {}
        if self.token_provider is not None:
            headers["Authorization"] = "Bearer " + \
                self.token_provider.token()
        backoff = self.initial_backoff
        last: tuple[int, bytes] = (0, b"")
        for attempt in range(self.max_attempts):
            conn = self._http.get()
            try:
                conn.request("GET", url, headers=headers)
                resp = conn.getresponse()
                data = resp.read()
            except (http.client.HTTPException, OSError) as e:
                self.close()
                if attempt == self.max_attempts - 1:
                    raise GCSError(f"request failed: {e}") from e
                self._sleep(backoff)
                backoff = min(backoff * self.multiplier,
                              self.max_backoff)
                continue
            if resp.status in (429,) or resp.status >= 500:
                last = (resp.status, data)
                if attempt == self.max_attempts - 1:
                    break
                self._sleep(backoff)
                backoff = min(backoff * self.multiplier, self.max_backoff)
                continue
            return resp.status, data
        return last

    def bucket_attrs(self, bucket: str) -> dict:
        status, data = self._get(f"/b/{bucket}")
        if status != 200:
            raise GCSError(
                f"failed to get bucket attributes: {status}: "
                f"{data.decode('utf-8', 'replace')[:200]}",
                status=status)
        return json.loads(data)

    def list_objects(self, bucket: str, page_size: int = 0
                     ) -> Iterator[list[GCSObject]]:
        """Paged listing (scheduler.go fetchObjectPager)."""
        token = ""
        while True:
            q = {}
            if page_size:
                q["maxResults"] = page_size
            if token:
                q["pageToken"] = token
            status, data = self._get(f"/b/{bucket}/o", q)
            if status != 200:
                raise GCSError(
                    f"failed to get page token from storage: {status}: "
                    f"{data.decode('utf-8', 'replace')[:200]}",
                    status=status)
            doc = json.loads(data)
            yield [_attrs(i) for i in doc.get("items") or []]
            token = doc.get("nextPageToken") or ""
            if not token:
                return

    def object_attrs(self, bucket: str, name: str) -> GCSObject:
        status, data = self._get(f"/b/{bucket}/o/{name}")
        if status == 404:
            raise GCSError(OBJECT_NOT_EXIST, status=404)
        if status != 200:
            raise GCSError(
                f"failed to get object attributes: {status}",
                status=status)
        return _attrs(json.loads(data))

    def download(self, bucket: str, name: str) -> bytes:
        """Media download — the SDK's `GET /{bucket}/{object}` shape
        the reference mock serves."""
        status, data = self._get(f"/{bucket}/{name}")
        if status == 404:
            raise GCSError(OBJECT_NOT_EXIST, status=404)
        if status != 200:
            raise GCSError(
                f"failed to open reader for object: {name}, with "
                f"error: {status}", status=status)
        return data
