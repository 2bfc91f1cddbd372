"""S3 REST (XML) and SQS (JSON 1.0) clients over stdlib http.client.

The reference input consumes both services through aws-sdk-go-v2
(x-pack/filebeat/input/awss3/interfaces.go:100-340); this module
implements the two wire protocols those SDK calls produce, from the
public API documentation:

- S3: GET ?list-type=2 (ListObjectsV2 + continuation pagination),
  GetObject, GetBucketLocation, CopyObject (x-amz-copy-source),
  DeleteObject; XML <Error><Code>> error envelope; virtual-host vs
  path-style addressing (config.go `path_style`), custom endpoints
  for non-AWS stores.
- SQS: the AWS JSON 1.0 protocol (Content-Type
  application/x-amz-json-1.0 + X-Amz-Target: AmazonSQS.<Op>) used by
  aws-sdk-go-v2: ReceiveMessage / DeleteMessage /
  ChangeMessageVisibility / GetQueueAttributes, with the smithy
  `__type` error-code envelope.

Error strings mirror the reference wrappers ("sqs ReceiveMessage
failed: ...", "api_timeout exceeded", interfaces.go:119-199) so the
retry/poison-pill decision tables compare like for like.
"""

from __future__ import annotations

import gzip
import http.client
import io
import json
import socket
import time
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field
from typing import Any, Iterator, Optional
from urllib.parse import quote, urlparse

from ..httpconn import KeepAlive
from .sigv4 import payload_hash, sign_request

__all__ = ["AWSError", "S3Client", "SQSClient", "SQSMessage",
           "get_region_from_queue_url", "get_bucket_name_from_arn",
           "is_valid_access_point_arn"]


class AWSError(Exception):
    """An API error with the service's error code (S3 XML <Code> or
    SQS/smithy __type tail)."""

    def __init__(self, message: str, code: str = "", status: int = 0):
        super().__init__(message)
        self.code = code
        self.status = status


def _amz_now() -> str:
    return time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())


def _encode_path(path: str) -> str:
    return quote(path, safe="/-._~")


@dataclass
class _HttpBase:
    endpoint: str  # scheme://host[:port]
    region: str
    access_key: str = ""
    secret_key: str = ""
    session_token: Optional[str] = None
    timeout: float = 120.0  # api_timeout
    service: str = ""

    def __post_init__(self):
        u = urlparse(self.endpoint)
        if not u.scheme or not u.netloc:
            raise AWSError(f"failed to parse endpoint: {self.endpoint}")
        self._netloc = u.netloc
        # one keep-alive connection per client instance (per executor
        # task in the distributed stage — the write_es_bulk pattern)
        self._http = KeepAlive(u.scheme, u.netloc, self.timeout)

    def close(self) -> None:
        self._http.close()

    def _request(self, method: str, path: str,
                 query: list[tuple[str, str]] | None,
                 headers: dict[str, str] | None = None,
                 body: bytes = b"") -> tuple[int, dict, bytes]:
        sha = payload_hash(body)
        amz_date = _amz_now()
        hdrs = {
            "Host": self._netloc,
            "x-amz-date": amz_date,
            "x-amz-content-sha256": sha,
        }
        if headers:
            hdrs.update(headers)
        hdrs.update(sign_request(
            method, path, query, hdrs, sha,
            access_key=self.access_key, secret_key=self.secret_key,
            region=self.region, service=self.service, amz_date=amz_date,
            session_token=self.session_token,
        ))
        url = _encode_path(path)
        if query:
            from .sigv4 import canonical_query
            qs = canonical_query(query)
            if qs:
                url += "?" + qs
        # http.client sends Host itself; don't duplicate it
        send_hdrs = {k: v for k, v in hdrs.items() if k.lower() != "host"}

        for attempt in (0, 1):
            conn = self._http.get()
            try:
                conn.request(method, url, body=body or None,
                             headers=send_hdrs)
                resp = conn.getresponse()
                data = resp.read()
                return resp.status, dict(resp.getheaders()), data
            except socket.timeout as e:
                self.close()
                raise AWSError(f"api_timeout exceeded: {e}") from e
            except (http.client.HTTPException, OSError):
                # stale keep-alive — reconnect once, then surface
                self.close()
                if attempt:
                    raise
        raise AssertionError("unreachable")


# ---------------------------------------------------------------------- S3


def _parse_s3_error(status: int, data: bytes) -> AWSError:
    code, msg = "", ""
    try:
        root = ET.fromstring(data)
        code = root.findtext("Code") or ""
        msg = root.findtext("Message") or ""
    except ET.ParseError:
        msg = data.decode("utf-8", "replace")[:200]
    return AWSError(f"{code or status}: {msg}", code=code, status=status)


@dataclass
class S3Object:
    key: str
    etag: str
    last_modified: str  # ISO8601 as listed
    size: int


@dataclass
class S3GetResult:
    body: bytes
    content_type: str
    content_encoding: str
    etag: str
    last_modified: str
    metadata: dict[str, str]  # x-amz-meta-* (keys without the prefix)
    headers: dict[str, str]
    request_url: str = ""  # the log.file.path value (s3RequestURL)


class S3Client(_HttpBase):
    """interfaces.go's awsS3API surface over the REST XML API."""

    def __init__(self, endpoint: str, region: str, *,
                 access_key: str = "", secret_key: str = "",
                 session_token: Optional[str] = None,
                 path_style: bool = False, timeout: float = 120.0):
        super().__init__(endpoint=endpoint, region=region,
                         access_key=access_key, secret_key=secret_key,
                         session_token=session_token, timeout=timeout,
                         service="s3")
        # with a custom endpoint the fake/minio-style server is
        # path-style; AWS production uses virtual-host addressing,
        # where bucket.s3.region.amazonaws.com is the endpoint itself
        self.path_style = path_style

    def _path(self, bucket: str, key: str = "") -> str:
        if self.path_style:
            return f"/{bucket}" + (f"/{key}" if key else "")
        return f"/{key}" if key else "/"

    def _call(self, method: str, bucket: str, key: str,
              query: list[tuple[str, str]] | None = None,
              headers: dict[str, str] | None = None,
              ok: tuple[int, ...] = (200,),
              ) -> tuple[int, dict, bytes]:
        status, hdrs, data = self._request(
            method, self._path(bucket, key), query, headers)
        if status not in ok:
            raise _parse_s3_error(status, data)
        return status, hdrs, data

    def get_bucket_location(self, bucket: str) -> str:
        """GetBucketLocation; us-east-1 lists as an empty constraint
        (s3.go:73-77)."""
        try:
            _, _, data = self._call("GET", bucket, "",
                                    [("location", "")])
        except AWSError as e:
            raise AWSError(f"failed to get AWS region for bucket: {e}",
                           code=e.code, status=e.status) from e
        try:
            root = ET.fromstring(data)
        except ET.ParseError as e:
            raise AWSError(f"failed to get AWS region for bucket: {e}")
        return (root.text or "").strip() or "us-east-1"

    def list_objects(self, bucket: str, prefix: str = "",
                     start_after: str = "", page_size: int = 1000,
                     ) -> Iterator[list[S3Object]]:
        """ListObjectsPaginator (interfaces.go:323-331): ListObjectsV2
        pages via continuation tokens."""
        token = ""
        while True:
            q = [("list-type", "2"), ("prefix", prefix),
                 ("max-keys", str(page_size))]
            if start_after:
                q.append(("start-after", start_after))
            if token:
                q.append(("continuation-token", token))
            _, _, data = self._call("GET", bucket, "", q)
            root = ET.fromstring(data)
            ns = ""
            if root.tag.startswith("{"):
                ns = root.tag[: root.tag.index("}") + 1]
            page = []
            for c in root.findall(f"{ns}Contents"):
                page.append(S3Object(
                    key=c.findtext(f"{ns}Key") or "",
                    etag=(c.findtext(f"{ns}ETag") or "").strip('"'),
                    last_modified=c.findtext(f"{ns}LastModified") or "",
                    size=int(c.findtext(f"{ns}Size") or 0),
                ))
            yield page
            if (root.findtext(f"{ns}IsTruncated") or "").lower() != "true":
                return
            token = root.findtext(f"{ns}NextContinuationToken") or ""
            if not token:
                return

    def get_object(self, bucket: str, key: str) -> S3GetResult:
        try:
            _, hdrs, data = self._call("GET", bucket, key)
        except AWSError:
            raise
        except Exception as e:  # connectivity — never permanent
            raise AWSError(f"s3 GetObject failed: {e}") from e
        low = {k.lower(): v for k, v in hdrs.items()}
        meta = {k[len("x-amz-meta-"):]: v for k, v in low.items()
                if k.startswith("x-amz-meta-")}
        return S3GetResult(
            body=data,
            content_type=low.get("content-type", ""),
            content_encoding=low.get("content-encoding", ""),
            etag=low.get("etag", "").strip('"'),
            last_modified=low.get("last-modified", ""),
            metadata=meta,
            headers=low,
            request_url=self.endpoint
            + _encode_path(self._path(bucket, key)),
        )

    def copy_object(self, from_bucket: str, to_bucket: str,
                    from_key: str, to_key: str) -> None:
        src = "/" + from_bucket + "/" + quote(from_key, safe="/-._~")
        self._call("PUT", to_bucket, to_key,
                   headers={"x-amz-copy-source": src})

    def delete_object(self, bucket: str, key: str) -> None:
        self._call("DELETE", bucket, key, ok=(200, 204))

    # test/fixture helper — also the backup-bucket write path
    def put_object(self, bucket: str, key: str, body: bytes,
                   content_type: str = "",
                   metadata: dict[str, str] | None = None) -> None:
        headers = {}
        if content_type:
            headers["Content-Type"] = content_type
        for k, v in (metadata or {}).items():
            headers[f"x-amz-meta-{k}"] = v
        status, hdrs, data = self._request(
            "PUT", self._path(bucket, key), None, headers, body)
        if status != 200:
            raise _parse_s3_error(status, data)


def gzip_decode_if_needed(body: bytes) -> bytes:
    """x_reader.AddGzipDecoderIfNeeded: sniff the 1f8b magic rather
    than trusting headers (gzipped objects routinely carry their inner
    content type)."""
    if body[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=io.BytesIO(body)).read()
    return body


# --------------------------------------------------------------------- SQS


@dataclass
class SQSMessage:
    message_id: str
    receipt_handle: str
    body: str
    attributes: dict[str, str] = field(default_factory=dict)


def get_region_from_queue_url(queue_url: str) -> str:
    """sqs.go:36-63's heuristic: sqs.X.* → X; X.sqs.Y.* (vpce) → Y."""
    u = urlparse(queue_url)
    host_split = (u.hostname or "").split(".", 4)
    if len(host_split) >= 4 and host_split[0] == "sqs":
        return host_split[1]
    if len(host_split) == 5 and host_split[1] == "sqs":
        return host_split[2]
    return ""


def is_valid_access_point_arn(arn: str) -> bool:
    """interfaces.go's access-point shape check."""
    parts = arn.split(":")
    return (len(parts) >= 6 and parts[0] == "arn" and parts[2] == "s3"
            and parts[5].startswith("accesspoint/"))


def get_bucket_name_from_arn(bucket_arn: str) -> str:
    """s3.go:89-95: access-point ARNs stay whole, bucket ARNs keep the
    last :-segment."""
    if is_valid_access_point_arn(bucket_arn):
        return bucket_arn
    return bucket_arn.split(":")[-1]


class SQSClient(_HttpBase):
    """interfaces.go's awsSQSAPI over the AWS JSON 1.0 protocol (the
    wire aws-sdk-go-v2 speaks to SQS)."""

    MAX_MESSAGES_LIMIT = 10  # interfaces.go:115

    def __init__(self, queue_url: str, *, region: str = "",
                 endpoint: str = "", access_key: str = "",
                 secret_key: str = "", session_token: Optional[str] = None,
                 api_timeout: float = 120.0, visibility_timeout: float = 300.0,
                 wait_time: float = 20.0):
        u = urlparse(queue_url)
        endpoint = endpoint or f"{u.scheme}://{u.netloc}"
        region = region or get_region_from_queue_url(queue_url)
        super().__init__(endpoint=endpoint, region=region,
                         access_key=access_key, secret_key=secret_key,
                         session_token=session_token, timeout=api_timeout,
                         service="sqs")
        self.queue_url = queue_url
        self.visibility_timeout = visibility_timeout
        self.wait_time = wait_time

    def _op(self, op: str, payload: dict[str, Any]) -> dict[str, Any]:
        body = json.dumps(payload, separators=(",", ":")).encode()
        status, _, data = self._request(
            "POST", "/", None,
            {"Content-Type": "application/x-amz-json-1.0",
             "X-Amz-Target": f"AmazonSQS.{op}"},
            body)
        if status != 200:
            try:
                err = json.loads(data)
                typ = str(err.get("__type", ""))
                code = typ.rsplit("#", 1)[-1]
                msg = err.get("message") or err.get("Message") or ""
            except (ValueError, AttributeError):
                code, msg = "", data.decode("utf-8", "replace")[:200]
            raise AWSError(f"{code or status}: {msg}", code=code,
                           status=status)
        return json.loads(data) if data.strip() else {}

    def receive_message(self, max_messages: int) -> list[SQSMessage]:
        """ReceiveMessage (interfaces.go:114-134): caps at 10, asks
        for the two attributes the processor consumes."""
        try:
            out = self._op("ReceiveMessage", {
                "QueueUrl": self.queue_url,
                "MaxNumberOfMessages": min(max_messages,
                                           self.MAX_MESSAGES_LIMIT),
                "VisibilityTimeout": int(self.visibility_timeout),
                "WaitTimeSeconds": int(self.wait_time),
                "AttributeNames": ["ApproximateReceiveCount",
                                   "SentTimestamp"],
            })
        except AWSError as e:
            raise AWSError(f"sqs ReceiveMessage failed: {e}",
                           code=e.code, status=e.status) from e
        return [
            SQSMessage(
                message_id=m.get("MessageId", ""),
                receipt_handle=m.get("ReceiptHandle", ""),
                body=m.get("Body", ""),
                attributes=m.get("Attributes") or {},
            )
            for m in out.get("Messages") or []
        ]

    def delete_message(self, msg: SQSMessage) -> None:
        try:
            self._op("DeleteMessage", {
                "QueueUrl": self.queue_url,
                "ReceiptHandle": msg.receipt_handle,
            })
        except AWSError as e:
            raise AWSError(f"sqs DeleteMessage failed: {e}",
                           code=e.code, status=e.status) from e

    def change_message_visibility(self, msg: SQSMessage,
                                  timeout: float) -> None:
        try:
            self._op("ChangeMessageVisibility", {
                "QueueUrl": self.queue_url,
                "ReceiptHandle": msg.receipt_handle,
                "VisibilityTimeout": int(timeout),
            })
        except AWSError as e:
            raise AWSError(f"sqs ChangeMessageVisibility failed: {e}",
                           code=e.code, status=e.status) from e

    def get_queue_attributes(self, names: list[str]) -> dict[str, str]:
        try:
            out = self._op("GetQueueAttributes", {
                "QueueUrl": self.queue_url,
                "AttributeNames": names,
            })
        except AWSError as e:
            raise AWSError(f"sqs GetQueueAttributes failed: {e}",
                           code=e.code, status=e.status) from e
        return out.get("Attributes") or {}
