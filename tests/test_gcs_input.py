"""gcs input battery — the reference's mock-server test matrix
(input_test.go + mock/) ported over its own testdata files, plus the
OAuth2 service-account JWT flow against a live fake token endpoint
that verifies the RS256 signature with the real public key."""

from __future__ import annotations

import base64
import gzip
import hashlib
import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

from beats_spark.gcs.auth import ServiceAccountAuth, b64url, load_credentials
from beats_spark.gcs.client import GCSClient, GCSError, GCSObject
from beats_spark.gcs.input import (
    Checkpoint,
    _create_jobs,
    _move_to_last_seen,
    gcs_object_hash,
    gcs_objects_df,
    gcs_poll_records,
    object_id,
    process_gcs_object,
    resolve_sources,
)

TESTDATA = "/root/reference/x-pack/filebeat/input/gcs/testdata"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(TESTDATA), reason="reference testdata not present"
)

# the reference mock's content-type mapping (mock/mock.go:70-82)
CONTENT_TYPES = {
    "multiline.json": "application/octet-stream",
    "multiline.json.gz": "application/json",
    "log.json": "application/json",
    "events-array.json": "application/json",
    "array-at-root.json": "application/json",
    "nested-arrays.json": "application/json",
    "log.ndjson": "application/x-ndjson",
    "txn1.csv": "text/csv",
    "txn.csv": "text/csv",
}


def load(name: str) -> bytes:
    with open(os.path.join(TESTDATA, name), "rb") as f:
        return f.read()


class FakeGCSServer:
    """The reference mock server's exact endpoint shapes
    (mock/mock.go): GET /b/{bucket} attrs, GET /b/{bucket}/o listing,
    GET /{bucket}/{object} media. Optionally requires a Bearer
    token."""

    def __init__(self, require_token: str | None = None):
        self.buckets: dict[str, dict[str, tuple[bytes, str, str]]] = {}
        self.requests: list[str] = []
        self.fail_next: dict[str, int] = {}  # object -> count of 503s
        outer = self

        class H(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _send(self, status, body=b"", ct="application/json"):
                self.send_response(status)
                self.send_header("Content-Type", ct)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                outer.requests.append(self.path)
                if require_token is not None:
                    if self.headers.get("Authorization") != \
                            "Bearer " + require_token:
                        return self._send(401, b'{"error":"unauthorized"}')
                parts = urlparse(self.path).path.lstrip("/").split("/")
                if len(parts) >= 3 and parts[0] == "b" and parts[2] == "o":
                    store = outer.buckets.get(parts[1])
                    if store is None:
                        return self._send(404, b"{}")
                    if len(parts) > 3:  # object attrs
                        name = "/".join(parts[3:])
                        if name not in store:
                            return self._send(404, b"{}")
                        body, ct, updated = store[name]
                        return self._send(200, json.dumps(
                            outer._item(parts[1], name)).encode())
                    items = [outer._item(parts[1], n)
                             for n in sorted(store)]
                    return self._send(200, json.dumps(
                        {"kind": "storage#objects",
                         "items": items}).encode())
                if len(parts) == 2 and parts[0] == "b":
                    if parts[1] in outer.buckets:
                        return self._send(200, json.dumps(
                            {"kind": "storage#bucket",
                             "name": parts[1]}).encode())
                    return self._send(404, b"{}")
                bucket, name = parts[0], "/".join(parts[1:])
                store = outer.buckets.get(bucket, {})
                if name in store:
                    n = outer.fail_next.get(name, 0)
                    if n > 0:
                        outer.fail_next[name] = n - 1
                        return self._send(503, b"try later")
                    body, ct, updated = store[name]
                    return self._send(200, body, ct)
                return self._send(404, b"not found", "text/plain")

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.endpoint = "http://127.0.0.1:%d" % self.httpd.server_address[1]
        threading.Thread(target=self.httpd.serve_forever,
                         daemon=True).start()

    def _item(self, bucket, name):
        body, ct, updated = self.buckets[bucket][name]
        return {"kind": "storage#object", "name": name,
                "bucket": bucket, "contentType": ct,
                "size": str(len(body)), "updated": updated}

    def put(self, bucket, name, body, content_type="application/json",
            updated="2022-08-24T12:20:19.911Z"):
        self.buckets.setdefault(bucket, {})[name] = \
            (body, content_type, updated)

    def put_testdata(self, bucket, name, **kw):
        self.put(bucket, name, load(name),
                 content_type=CONTENT_TYPES[name], **kw)

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()


@pytest.fixture
def srv():
    s = FakeGCSServer()
    yield s
    s.close()


def run_bucket(srv, bucket, **src_extra):
    src = resolve_sources({"project_id": "elastic-sa",
                           "auth": {"unauthenticated": True},
                           "buckets": [dict({"name": bucket},
                                            **src_extra)]})[0]
    client = GCSClient(srv.endpoint)
    cp = Checkpoint()
    recs = gcs_poll_records(src, client, cp)
    client.close()
    return recs, cp


# ------------------------------------------------------ read-case matrix

@needs_ref
def test_read_json(srv):
    # mock.BeatsFilesBucket_log_json — raw value bytes preserved; the
    # mock's JSON bucket holds log.json AND events-array.json
    srv.put_testdata("beatsjsonbucket", "events-array.json")
    srv.put_testdata("beatsjsonbucket", "log.json")
    recs, _ = run_bucket(srv, "beatsjsonbucket")
    recs.sort(key=lambda r: r["object_name"], reverse=True)
    assert [r["message"] for r in recs] == [
        '{"@timestamp":"2021-05-25T17:25:42.806Z","log.level":"error",'
        '"message":"error making http request"}',
        '{"@timestamp":"2021-05-25T17:25:51.391Z","log.level":"info",'
        '"message":"available disk space 44.3gb"}',
        "{\n    \"Events\": [\n        {\n            \"time\": "
        "\"2021-05-25 18:20:58 UTC\",\n            \"msg\": \"hello\""
        "\n        },\n        {\n            \"time\": "
        "\"2021-05-26 22:21:40 UTC\",\n            \"msg\": \"world\""
        "\n        }\n    ]\n}",
    ]
    assert all(r["provider"] == "google cloud" for r in recs)
    assert recs[0]["object_uri"] == "gs://beatsjsonbucket/log.json"


@needs_ref
def test_read_octet_stream_json(srv):
    srv.put_testdata("beatsmultilinejsonbucket", "multiline.json")
    recs, _ = run_bucket(srv, "beatsmultilinejsonbucket")
    assert len(recs) == 2
    assert json.loads(recs[0]["message"])["message"] == \
        "error making request"


@needs_ref
def test_read_ndjson(srv):
    srv.put_testdata("beatsndjsonbucket", "log.ndjson")
    recs, _ = run_bucket(srv, "beatsndjsonbucket")
    assert [r["message"] for r in recs] == [
        '{"@timestamp":"2021-05-25T17:25:42.806Z","log.level":"error",'
        '"message":"error in http request"}',
        '{"@timestamp":"2021-05-25T17:25:51.391Z","log.level":"info",'
        '"message":"available space is 44.3gb"}',
    ]


@needs_ref
def test_read_multiline_gz_json(srv):
    srv.put_testdata("beatsgzjsonbucket", "multiline.json.gz")
    recs, _ = run_bucket(srv, "beatsgzjsonbucket")
    assert len(recs) == 2
    assert json.loads(recs[1]["message"])["message"] == \
        "available disk space 44.3gb"


@needs_ref
def test_read_json_with_root_as_array(srv):
    # BeatsFilesBucket_json_array: object elements publish raw, and
    # ARRAY elements publish raw too (nested-arrays.json)
    srv.put_testdata("beatsjsonwitharraybucket", "array-at-root.json")
    srv.put_testdata("beatsjsonwitharraybucket", "nested-arrays.json")
    recs, _ = run_bucket(srv, "beatsjsonwitharraybucket")
    msgs = [r["message"] for r in recs]
    assert len(msgs) == 4
    assert sum(1 for m in msgs if m.startswith("[")) == 2
    assert json.loads(msgs[0])["msg"] == "hello"
    nested = [json.loads(m) for m in msgs if m.startswith("[")]
    assert nested[0][0]["msg"] == "hello" or nested[0][0]["msg"] == "hi"


@needs_ref
def test_expand_event_list_from_field(srv):
    srv.put_testdata("beatseventsarraybucket", "events-array.json")
    recs, _ = run_bucket(srv, "beatseventsarraybucket",
                         expand_event_list_from_field="Events")
    # mock.BeatsFilesBucket_events_array_json — raw inner bytes
    assert [json.loads(r["message"]) for r in recs] == [
        {"time": "2021-05-25 18:20:58 UTC", "msg": "hello"},
        {"time": "2021-05-26 22:21:40 UTC", "msg": "world"},
    ]
    assert recs[0]["offset"] < recs[1]["offset"]


@needs_ref
def test_read_csv(srv):
    srv.put_testdata("beatscsvbucket", "txn1.csv")
    recs, _ = run_bucket(
        srv, "beatscsvbucket",
        decoding={"codec": {"csv": {"enabled": True, "comma": " "}}})
    # mock.BeatsFilesBucket_csv (values; key order is Go-internal)
    assert [json.loads(r["message"]) for r in recs] == [
        {"id": "1", "name": "Alice", "email": "alice@example.com",
         "status": "active"},
        {"id": "2", "name": "Bob", "email": "bob@example.com",
         "status": "inactive"},
    ]


def test_parse_json_objectifies(srv):
    srv.put("b1", "a.json", b'{"x": 1, "y": {"z": "deep"}}')
    recs, _ = run_bucket(srv, "b1", parse_json=True)
    assert len(recs) == 1
    assert recs[0]["json_data"] == [{"x": 1, "y": {"z": "deep"}}]


def test_unsupported_content_type_publishes_error_event(srv):
    srv.put("b1", "a.bin", b"\x00\x01", content_type="text/plain")
    recs, cp = run_bucket(srv, "b1")
    assert len(recs) == 1
    assert "content-type text/plain not supported" in recs[0]["message"]
    # the job still checkpoints (job.go:133-143)
    assert cp.object_name == "a.bin"


def test_filter_by_timestamp_epoch(srv):
    srv.put("b1", "old.json", b"{}", updated="2022-01-01T00:00:00Z")
    srv.put("b1", "new.json", b'{"a":1}', updated="2023-01-01T00:00:00Z")
    import datetime
    epoch = int(datetime.datetime(2022, 6, 1,
                                  tzinfo=datetime.timezone.utc).timestamp())
    recs, _ = run_bucket(srv, "b1", timestamp_epoch=epoch)
    assert [r["object_name"] for r in recs] == ["new.json"]


def test_filter_by_file_selector_regex(srv):
    srv.put("b1", "docs/ata.json", b'{"a":1}')
    srv.put("b1", "ata.json", b'{"b":2}')
    recs, _ = run_bucket(srv, "b1",
                         file_selectors=[{"regex": "docs/"}])
    assert [r["object_name"] for r in recs] == ["docs/ata.json"]


def test_directories_skipped(srv):
    srv.put("b1", "docs/", b"")
    srv.put("b1", "docs/a.json", b'{"a":1}')
    recs, _ = run_bucket(srv, "b1")
    assert [r["object_name"] for r in recs] == ["docs/a.json"]


# ---------------------------------------------------- checkpoint matrix

def obj(name, updated, ct="application/json"):
    return GCSObject(name=name, content_type=ct, updated=updated)


def test_move_to_last_seen():
    cp = Checkpoint(object_name="m.json",
                    latest_entry_time="2022-08-24T12:00:00Z")
    jobs = [
        obj("a.json", "2022-08-25T12:00:00Z"),  # newer ts, smaller name
        obj("n.json", "2022-08-23T12:00:00Z"),  # older ts, greater name
        obj("b.json", "2022-08-20T12:00:00Z"),  # older + smaller: drop
    ]
    out = _move_to_last_seen(jobs, cp)
    # newer-timestamp jobs sort before name-greater ones (the pivot
    # sort, scheduler.go:228-234)
    assert [j.name for j in out] == ["a.json", "n.json"]


def test_checkpoint_save_semantics():
    cp = Checkpoint()
    cp.save("B.json", "2022-08-24T12:00:00Z")
    # case-insensitive name comparison (state.go:52-56)
    cp.save("a.json", "2022-08-23T12:00:00Z")
    assert cp.object_name == "B.json"
    assert cp.latest_entry_time == "2022-08-24T12:00:00Z"
    cp.save("c.json", "2022-08-25T12:00:00Z")
    assert cp.object_name == "c.json"
    assert cp.latest_entry_time == "2022-08-25T12:00:00Z"
    # a failed job's save only clears the failure entry
    cp.update_failed("z.json")
    cp.save("z.json", "2022-08-26T12:00:00Z")
    assert cp.object_name == "c.json"
    assert "z.json" not in cp.failed_jobs


def test_failed_jobs_capped_at_three_retries():
    cp = Checkpoint()
    for i in range(3):
        cp.update_failed("bad.json")
        assert cp.failed_jobs["bad.json"] == i + 1
    cp.update_failed("bad.json")  # 4th failure → dropped
    assert "bad.json" not in cp.failed_jobs


def test_failed_job_retried_and_vanished_deleted(srv):
    src = resolve_sources({"project_id": "p",
                           "auth": {"unauthenticated": True},
                           "buckets": [{"name": "b1"}]})[0]
    srv.put("b1", "a.json", b'{"a":1}')
    srv.put("b1", "flaky.json", b'{"f":1}')
    client = GCSClient(srv.endpoint, retry={"max_attempts": 1},
                       sleep=lambda s: None)
    cp = Checkpoint()
    # first poll: flaky.json 503s → failed-jobs map
    srv.fail_next["flaky.json"] = 1
    recs = gcs_poll_records(src, client, cp)
    assert [r["object_name"] for r in recs] == ["a.json"]
    assert cp.failed_jobs == {"flaky.json": 1}
    # second poll: flaky is re-added via addFailedJobs and succeeds
    recs = gcs_poll_records(src, client, cp)
    assert [r["object_name"] for r in recs] == ["flaky.json"]
    assert cp.failed_jobs == {}
    # vanished failed jobs are dropped from the map
    cp.update_failed("gone.json")
    gcs_poll_records(src, client, cp)
    assert "gone.json" not in cp.failed_jobs
    client.close()


def test_poll_resume_only_new_objects(srv):
    src = resolve_sources({"project_id": "p",
                           "auth": {"unauthenticated": True},
                           "buckets": [{"name": "b1"}]})[0]
    srv.put("b1", "a.json", b'{"a":1}', updated="2022-08-24T12:00:00Z")
    client = GCSClient(srv.endpoint)
    cp = Checkpoint()
    assert len(gcs_poll_records(src, client, cp)) == 1
    assert gcs_poll_records(src, client, cp) == []
    srv.put("b1", "b.json", b'{"b":2}', updated="2022-08-25T12:00:00Z")
    assert [r["object_name"] for r in gcs_poll_records(src, client, cp)] \
        == ["b.json"]
    # the checkpoint round-trips through its dict form (persistence)
    cp2 = Checkpoint.from_dict(cp.to_dict())
    assert gcs_poll_records(src, client, cp2) == []
    client.close()


# -------------------------------------------------------------- config

def test_resolve_sources_overrides():
    cfg = {"project_id": "p", "max_workers": 3, "parse_json": True,
           "buckets": [{"name": "b1"},
                       {"name": "b2", "max_workers": 7,
                        "parse_json": False}]}
    s1, s2 = resolve_sources(cfg)
    assert s1["max_workers"] == 3 and s1["parse_json"] is True
    assert s2["max_workers"] == 7 and s2["parse_json"] is False
    assert s1["bucket_name"] == "b1" and s2["project_id"] == "p"
    with pytest.raises(ValueError, match="project_id is required"):
        resolve_sources({"buckets": [{"name": "b"}]})
    with pytest.raises(ValueError, match="buckets is required"):
        resolve_sources({"project_id": "p"})


def test_load_credentials_resolution(tmp_path):
    with pytest.raises(ValueError,
                       match="credentials_file is configured, but the "
                             "file"):
        load_credentials({"credentials_file": {"path": "/nope.json"}})
    p = tmp_path / "creds.json"
    p.write_text('{"client_email": "a@b", "private_key": "k"}')
    creds = load_credentials({"credentials_file": {"path": str(p)}})
    assert creds["client_email"] == "a@b"
    creds = load_credentials(
        {"credentials_json": {"account_key":
                              '{"client_email": "x@y"}'}})
    assert creds["client_email"] == "x@y"
    with pytest.raises(ValueError,
                       match="no authentication credentials were "
                             "configured or detected"):
        load_credentials({})


def test_object_id_and_hash():
    h = gcs_object_hash("bucket", "obj.json")
    assert len(h) == 10  # 5 bytes hex (job.go:85-90)
    assert h == hashlib.sha256(b"bucketobj.json").hexdigest()[:10]
    assert object_id(h, 42) == f"{h}-000000000042"


# ---------------------------------------------------------------- auth

def test_jwt_token_flow_and_authorized_download(srv):
    pytest.importorskip("cryptography")
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding, rsa

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    pem = key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()).decode()
    pub = key.public_key()
    issued = {}

    class TokenH(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            q = parse_qs(self.rfile.read(n).decode())
            assertion = q["assertion"][0]
            head, claims, sig = assertion.split(".")
            # verify the RS256 signature with the real public key
            pub.verify(
                base64.urlsafe_b64decode(sig + "=" * (-len(sig) % 4)),
                f"{head}.{claims}".encode(),
                padding.PKCS1v15(), hashes.SHA256())
            c = json.loads(base64.urlsafe_b64decode(
                claims + "=" * (-len(claims) % 4)))
            issued.update(c)
            body = json.dumps({"access_token": "tok-123",
                               "expires_in": 3600}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    tok_srv = ThreadingHTTPServer(("127.0.0.1", 0), TokenH)
    threading.Thread(target=tok_srv.serve_forever, daemon=True).start()
    token_uri = "http://127.0.0.1:%d/token" % tok_srv.server_address[1]
    try:
        auth = ServiceAccountAuth(
            {"client_email": "sa@project.iam.gserviceaccount.com",
             "private_key": pem, "private_key_id": "kid1",
             "token_uri": token_uri})
        assert auth.token() == "tok-123"
        assert issued["iss"] == "sa@project.iam.gserviceaccount.com"
        assert issued["aud"] == token_uri
        assert issued["scope"].endswith("devstorage.read_only")
        # token is cached
        assert auth.token() == "tok-123"

        # an authenticated GCS server accepts the bearer token
        auth_srv = FakeGCSServer(require_token="tok-123")
        try:
            auth_srv.put("b1", "a.json", b'{"a":1}')
            client = GCSClient(auth_srv.endpoint, token_provider=auth)
            assert client.download("b1", "a.json") == b'{"a":1}'
            client.close()
            # and rejects a client without one
            noauth = GCSClient(auth_srv.endpoint,
                               retry={"max_attempts": 1})
            with pytest.raises(GCSError):
                noauth.download("b1", "a.json")
            noauth.close()
        finally:
            auth_srv.close()
    finally:
        tok_srv.shutdown()
        tok_srv.server_close()


# -------------------------------------------------------- retry policy

def test_retry_backoff_on_5xx(srv):
    sleeps = []
    srv.put("b1", "a.json", b'{"a":1}')
    srv.fail_next["a.json"] = 2
    client = GCSClient(srv.endpoint,
                       retry={"max_attempts": 3,
                              "initial_backoff_duration": 1,
                              "max_backoff_duration": 30,
                              "backoff_multiplier": 2},
                       sleep=sleeps.append)
    assert client.download("b1", "a.json") == b'{"a":1}'
    assert sleeps == [1, 2]
    client.close()


# --------------------------------------------------- distributed stage

def test_gcs_objects_df_distributed(spark, srv):
    for i in range(5):
        srv.put("dist", f"p/obj{i}.json",
                json.dumps({"i": i}).encode())
    src = resolve_sources({"project_id": "p",
                           "auth": {"unauthenticated": True},
                           "buckets": [{"name": "dist"}]})[0]
    cp = Checkpoint()
    df, scheduled = gcs_objects_df(spark, src, endpoint=srv.endpoint,
                                   cp=cp, objects_per_task=2)
    rows = df.collect()
    assert len(rows) == 5 and len(scheduled) == 5
    assert sorted(json.loads(r.message)["i"] for r in rows) == \
        list(range(5))
    assert all(r.meta_id for r in rows)
    # commit the checkpoint; the next listing schedules nothing
    for o in scheduled:
        cp.save(o.name, o.updated)
    df2, scheduled2 = gcs_objects_df(spark, src, endpoint=srv.endpoint,
                                     cp=cp)
    assert scheduled2 == [] and df2.count() == 0
