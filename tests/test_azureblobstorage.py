"""azure-blob-storage input battery.

Ports the reference matrices (x-pack/filebeat/input/azureblobstorage/):
config_test.go validation wordings, input.go tryOverrideOrDefault
resolution, state.go checkpoint semantics, scheduler.go
moveToLastSeenJob / selectors / overrides, job.go decode semantics
over the reference's OWN mock fixtures (mock/data.go blob contents and
testdata/*.json|csv|gz), the Shared Key signature (verified
SERVER-side from the raw wire bytes by an independent in-test
implementation of the published canonicalization), connection-string
parsing, the AAD OAuth2 client-credentials flow against a live fake
token endpoint, the SDK-matching transient retry policy, and the
driver/distributed/resume Spark surfaces.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import hmac
import json
import os
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path
from urllib.parse import parse_qsl, unquote, urlparse
from xml.sax.saxutils import escape

import pytest

from beats_spark.azureblobstorage import (
    AzureBlobClient, AzureBlobError, BlobItem, Checkpoint,
    OAuth2TokenProvider, SharedKeyCredential, azure_object_hash,
    azureblob_objects_df, azureblob_poll_once, azureblob_poll_records,
    fetch_job_id, new_service_client, object_id,
    parse_connection_string, process_azure_blob, resolve_sources,
    service_url, validate_config,
)

REF = Path("/root/reference/x-pack/filebeat/input/azureblobstorage")
TESTDATA = REF / "testdata"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(TESTDATA), reason="reference testdata not present"
)

ACCOUNT = "beatsblobnew"
# the key the reference's own test configs use (mock data, not a secret)
ACCOUNT_KEY = ("7pfLm1betGiRyyABEM/RFrLYlafLZHbLtGhB52LkWVeBxE7la9mIvk6"
               "YYAbQKYE/f0GdhiaOZeV8+AStsAdr/Q==")

# the reference's mock blob fixtures (mock/data.go)
ATA_JSON = """{
    "id": 1,
    "title": "iPhone 9",
    "description": "An apple mobile which is nothing like apple",
    "price": 549,
    "discountPercentage": 12.96,
    "rating": 4.69,
    "stock": 94,
    "brand": "Apple",
    "category": "smartphones",
    "thumbnail": "https://dummyjson.com/image/i/products/1/thumbnail.jpg",
    "images": [
        "https://dummyjson.com/image/i/products/1/1.jpg",
        "https://dummyjson.com/image/i/products/1/2.jpg",
        "https://dummyjson.com/image/i/products/1/3.jpg",
        "https://dummyjson.com/image/i/products/1/4.jpg",
        "https://dummyjson.com/image/i/products/1/thumbnail.jpg"
    ]
}"""
DATA3_JSON = """{
    "id": 3,
    "title": "Samsung Universe 9",
    "description": "Samsung's new variant which goes beyond Galaxy to the Universe",
    "price": 1249,
    "discountPercentage": 15.46,
    "rating": 4.09,
    "stock": 36,
    "brand": "Samsung",
    "category": "smartphones",
    "thumbnail": "https://dummyjson.com/image/i/products/3/thumbnail.jpg",
    "images": [
        "https://dummyjson.com/image/i/products/3/1.jpg"
    ]
}"""


# ----------------------------------------------- independent verifier

def _verify_shared_key(handler, account: str, key_b64: str) -> bool:
    """Server-side Shared Key verification, re-derived independently
    from the published canonicalization rules over the RAW wire
    request (the awss3 SigV4-fakes recipe)."""
    auth = handler.headers.get("Authorization", "")
    if not auth.startswith(f"SharedKey {account}:"):
        return False
    got_sig = auth.split(":", 1)[1]
    u = urlparse(handler.path)
    h = {k.lower(): v for k, v in handler.headers.items()}
    cl = h.get("content-length", "")
    if cl == "0":
        cl = ""
    canon_headers = "".join(
        f"{k}:{h[k]}\n" for k in sorted(h) if k.startswith("x-ms-"))
    canon_resource = f"/{account}{unquote(u.path)}"
    q: dict[str, list] = {}
    for k, v in parse_qsl(u.query, keep_blank_values=True):
        q.setdefault(k.lower(), []).append(v)
    for k in sorted(q):
        canon_resource += f"\n{k}:{','.join(q[k])}"
    sts = "\n".join([
        handler.command.upper(), h.get("content-encoding", ""),
        h.get("content-language", ""), cl, h.get("content-md5", ""),
        h.get("content-type", ""), h.get("date", ""),
        h.get("if-modified-since", ""), h.get("if-match", ""),
        h.get("if-none-match", ""), h.get("if-unmodified-since", ""),
        h.get("range", ""),
    ]) + "\n" + canon_headers + canon_resource
    want = base64.b64encode(hmac.new(
        base64.b64decode(key_b64), sts.encode(),
        hashlib.sha256).digest()).decode()
    return hmac.compare_digest(want, got_sig)


# ------------------------------------------------------------ fake API

class FakeAzureBlob:
    """Azure Blob Storage List/Get over the XML protocol; Shared Key
    verified server-side when `verify_auth`; NextMarker pagination at
    `maxresults`."""

    def __init__(self, verify_auth: bool = True,
                 fail_first: int = 0, fail_status: int = 503):
        self.verify_auth = verify_auth
        # containers: name -> {blob_name: (bytes, content_type,
        #                                  content_encoding, rfc1123)}
        self.containers: dict[str, dict] = {}
        self.fail_first = fail_first
        self.fail_status = fail_status
        self.requests: list[str] = []
        self._lock = threading.Lock()
        outer = self

        class H(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):
                pass

            def _send(self, status, body: bytes,
                      ctype="application/xml"):
                self.send_response(status)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                with outer._lock:
                    outer.requests.append(self.path)
                    if outer.fail_first > 0:
                        outer.fail_first -= 1
                        return self._send(outer.fail_status,
                                          b"<Error><Code>ServerBusy"
                                          b"</Code></Error>")
                if outer.verify_auth and not _verify_shared_key(
                        self, ACCOUNT, ACCOUNT_KEY):
                    return self._send(
                        403, b"<Error><Code>AuthenticationFailed"
                             b"</Code><Message>signature mismatch"
                             b"</Message></Error>")
                u = urlparse(self.path)
                q = dict(parse_qsl(u.query, keep_blank_values=True))
                parts = u.path.strip("/").split("/", 1)
                cont = outer.containers.get(unquote(parts[0]))
                if cont is None:
                    return self._send(
                        404, b"<Error><Code>ContainerNotFound</Code>"
                             b"<Message>resource not found</Message>"
                             b"</Error>")
                if q.get("comp") == "list":
                    return self._list(cont, q)
                if len(parts) == 2:
                    blob = cont.get(unquote(parts[1]))
                    if blob is None:
                        return self._send(
                            404, b"<Error><Code>BlobNotFound</Code>"
                                 b"<Message>resource not found"
                                 b"</Message></Error>")
                    return self._send(200, blob[0], ctype=blob[1])
                self._send(404, b"<Error><Code>ResourceNotFound"
                                b"</Code></Error>")

            def _list(self, cont, q):
                prefix = q.get("prefix", "")
                names = sorted(n for n in cont if n.startswith(prefix))
                start = int(q.get("marker") or 0)
                maxres = int(q.get("maxresults") or 5000)
                page = names[start:start + maxres]
                blobs_xml = "".join(
                    "<Blob><Name>%s</Name><Properties>"
                    "<Last-Modified>%s</Last-Modified>"
                    "<Etag>0x1</Etag>"
                    "<Content-Length>%d</Content-Length>"
                    "<Content-Type>%s</Content-Type>"
                    "<Content-Encoding>%s</Content-Encoding>"
                    "<BlobType>BlockBlob</BlobType>"
                    "</Properties><Metadata /></Blob>"
                    % (escape(n), cont[n][3], len(cont[n][0]),
                       escape(cont[n][1]), escape(cont[n][2]))
                    for n in page)
                nxt = (str(start + maxres)
                       if start + maxres < len(names) else "")
                xml = ('<?xml version="1.0" encoding="utf-8"?>'
                       "<EnumerationResults><Blobs>%s</Blobs>"
                       "<NextMarker>%s</NextMarker>"
                       "</EnumerationResults>" % (blobs_xml, nxt))
                self._send(200, xml.encode())

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.port = self.httpd.server_address[1]
        self.endpoint = f"http://127.0.0.1:{self.port}"
        self.thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def add_blob(self, container, name, body: bytes,
                 content_type="application/json", content_encoding="",
                 last_modified="Wed, 14 Sep 2022 12:12:28 GMT"):
        self.containers.setdefault(container, {})[name] = (
            body, content_type, content_encoding, last_modified)

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()


@pytest.fixture()
def fake_abs():
    srv = FakeAzureBlob()
    # the reference mock's beatscontainer
    srv.add_blob("beatscontainer", "ata.json", ATA_JSON.encode(),
                 last_modified="Wed, 12 Sep 2022 12:12:28 GMT")
    srv.add_blob("beatscontainer", "data_3.json", DATA3_JSON.encode(),
                 last_modified="Wed, 14 Sep 2022 12:12:44 GMT")
    srv.add_blob("beatscontainer", "docs/ata.json", ATA_JSON.encode(),
                 last_modified="Thu, 15 Sep 2022 12:13:07 GMT")
    yield srv
    srv.close()


def _client(srv, **kw):
    return AzureBlobClient(
        srv.endpoint,
        credential=SharedKeyCredential(ACCOUNT, ACCOUNT_KEY), **kw)


def _src(**over):
    src = resolve_sources({
        "account_name": ACCOUNT,
        "auth": {"shared_credentials": {"account_key": ACCOUNT_KEY}},
        "containers": [{"name": "beatscontainer"}],
        **over.pop("globals", {}),
    })[0]
    src.update(over)
    return src


# -------------------------------------------------------------- config

def test_validate_oauth2_requires_triple():
    with pytest.raises(ValueError, match="client_id, client_secret and "
                       "tenant_id are required for OAuth2 auth"):
        validate_config({"auth": {"oauth2": {
            "client_id": "a", "client_secret": "b"}}})
    validate_config({"auth": {"oauth2": {
        "client_id": "a", "client_secret": "b", "tenant_id": "c"}}})


def test_validate_retry_wordings():
    with pytest.raises(ValueError) as ei:
        validate_config({"retry": {"initial_retry_delay": "-1s"}})
    assert str(ei.value) == \
        "retry.initial_retry_delay must not be negative, got -1s"
    with pytest.raises(ValueError) as ei:
        validate_config({"retry": {"initial_retry_delay": "30s",
                                   "max_retry_delay": "5s"}})
    assert str(ei.value) == ("retry.max_retry_delay (5s) must not be "
                             "smaller than retry.initial_retry_delay "
                             "(30s)")


def test_service_url_default_and_parse_error():
    assert service_url({"account_name": "acc"}) == \
        "https://acc.blob.core.windows.net/"
    with pytest.raises(ValueError, match="error parsing url : "):
        service_url({"storage_url": "not a url"})


def test_resolve_sources_overrides():
    cfg = {
        "account_name": ACCOUNT,
        "auth": {"shared_credentials": {"account_key": "k"}},
        "max_workers": 3,
        "poll": True,
        "poll_interval": "10s",
        "content_type": "application/json",
        "containers": [
            {"name": "c1"},
            {"name": "c2", "max_workers": 7, "poll": False,
             "poll_interval": "1m", "batch_size": 11,
             "content_type": "text/csv",
             "override_content_type": True},
        ],
    }
    s1, s2 = resolve_sources(cfg)
    # c1 inherits the globals; batch_size back-compat = max_workers
    assert (s1["max_workers"], s1["poll"], s1["poll_interval"],
            s1["batch_size"]) == (3, True, 10.0, 3)
    assert s1["content_type"] == "application/json"
    # c2 overrides everything; container reader block wins wholesale
    assert (s2["max_workers"], s2["poll"], s2["poll_interval"],
            s2["batch_size"]) == (7, False, 60.0, 11)
    assert s2["content_type"] == "text/csv"
    assert s2["override_content_type"] is True


def test_resolve_sources_defaults():
    s = _src()
    assert (s["max_workers"], s["poll"], s["poll_interval"],
            s["batch_size"]) == (1, False, 300.0, 1)


def test_resolve_sources_invalid_epoch():
    with pytest.raises(ValueError, match="invalid timestamp epoch: "
                       "99999999999"):
        resolve_sources({
            "account_name": ACCOUNT,
            "auth": {"shared_credentials": {"account_key": "k"}},
            "timestamp_epoch": 99999999999,
            "containers": [{"name": "c"}]})


def test_connection_string_parse():
    p = parse_connection_string(
        "DefaultEndpointsProtocol=https;AccountName=acc;"
        "AccountKey=a2V5;EndpointSuffix=core.windows.net")
    assert p == {"endpoint": "https://acc.blob.core.windows.net/",
                 "account_name": "acc", "account_key": "a2V5"}
    p = parse_connection_string(
        "BlobEndpoint=http://127.0.0.1:10000/acc;AccountName=acc;"
        "AccountKey=a2V5")
    assert p["endpoint"] == "http://127.0.0.1:10000/acc"
    with pytest.raises(AzureBlobError):
        parse_connection_string("JustOneToken")


def test_new_service_client_no_valid_auth():
    with pytest.raises(AzureBlobError, match="no valid auth specified"):
        new_service_client({"account_name": "a", "auth": {}})


def test_shared_key_invalid_base64():
    with pytest.raises(AzureBlobError, match="decode account key"):
        SharedKeyCredential("a", "not-base-64!!!")


def test_shared_key_signature_pinned():
    """A fixed-vector regression pin of the canonicalization."""
    cred = SharedKeyCredential("myaccount", base64.b64encode(
        b"0123456789abcdef").decode())
    sig = cred.sign("GET", "/cont", {"restype": "container",
                                     "comp": "list"},
                    {"x-ms-date": "Wed, 01 Jan 2020 00:00:00 GMT",
                     "x-ms-version": "2023-11-03",
                     "Content-Length": "0"})
    sts = ("GET\n\n\n\n\n\n\n\n\n\n\n\n"
           "x-ms-date:Wed, 01 Jan 2020 00:00:00 GMT\n"
           "x-ms-version:2023-11-03\n"
           "/myaccount/cont\ncomp:list\nrestype:container")
    want = base64.b64encode(hmac.new(
        b"0123456789abcdef", sts.encode(), hashlib.sha256
    ).digest()).decode()
    assert sig == f"SharedKey myaccount:{want}"


# ----------------------------------------------------------- checkpoint

def test_checkpoint_case_insensitive_max():
    cp = Checkpoint()
    cp.save("beta.json", "Wed, 14 Sep 2022 12:12:44 GMT")
    cp.save("ALPHA.json", "Wed, 12 Sep 2022 12:12:28 GMT")
    assert cp.blob_name == "beta.json"  # 'alpha' < 'beta' lowered
    assert cp.latest_entry_time == "Wed, 14 Sep 2022 12:12:44 GMT"
    cp.save("GAMMA.json", "Wed, 10 Sep 2022 12:00:00 GMT")
    assert cp.blob_name == "GAMMA.json"
    assert cp.latest_entry_time == "Wed, 14 Sep 2022 12:12:44 GMT"


def test_move_to_last_seen_pivot_sort():
    from beats_spark.azureblobstorage import _move_to_last_seen

    cp = Checkpoint(blob_name="m.json",
                    latest_entry_time="Wed, 14 Sep 2022 12:00:00 GMT")
    jobs = [
        BlobItem("a.json",
                 last_modified="Thu, 15 Sep 2022 12:00:00 GMT"),
        BlobItem("b.json",
                 last_modified="Tue, 13 Sep 2022 12:00:00 GMT"),
        BlobItem("z.json",
                 last_modified="Mon, 12 Sep 2022 12:00:00 GMT"),
    ]
    got = _move_to_last_seen(jobs, cp)
    # b.json: older AND name <= checkpoint → dropped;
    # a.json newer-by-time sorts before z.json (name-greater only)
    assert [j.name for j in got] == ["a.json", "z.json"]


def test_object_id_format():
    h = azure_object_hash("beatscontainer", "ata.json")
    assert len(h) == 10
    assert object_id(h, 5) == f"{h}-000000000005"
    assert fetch_job_id(2, "c", "b.json") == "c-b.json-worker-2"


# ------------------------------------------------------------- live API

def test_poll_once_mock_fixtures(fake_abs):
    """SingleContainerWithPoll_NoErr: all three reference mock blobs
    publish with their exact contents."""
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(_src(), c, Checkpoint(),
                                      service_url=fake_abs.endpoint
                                      + "/")
    finally:
        c.close()
    msgs = {r["message"] for r in recs}
    assert msgs == {ATA_JSON, DATA3_JSON}  # docs/ata.json == ATA_JSON
    assert len(recs) == 3
    # createEvent shape
    r = next(r for r in recs if r["blob_name"] == "data_3.json")
    assert r["container_name"] == "beatscontainer"
    assert r["blob_content_type"] == "application/json"
    assert r["blob_url"].endswith("/beatscontainer/data_3.json")
    assert r["meta_id"] == object_id(
        azure_object_hash("beatscontainer", "data_3.json"), r["offset"])
    assert r["provider"] == "azure"


def test_path_prefix_filters_listing(fake_abs):
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(
            _src(path_prefix="docs/"), c, Checkpoint())
    finally:
        c.close()
    assert [r["blob_name"] for r in recs] == ["docs/ata.json"]
    # the prefix went to the service (server-side filter)
    assert any("prefix=docs" in p for p in fake_abs.requests)


def test_file_selectors(fake_abs):
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(
            _src(file_selectors=[{"regex": r"data_3"}]), c,
            Checkpoint())
    finally:
        c.close()
    assert [r["blob_name"] for r in recs] == ["data_3.json"]


def test_timestamp_epoch_filter(fake_abs):
    # epoch between ata.json (Sep 12) and data_3.json (Sep 14)
    epoch = int(time.mktime(time.strptime(
        "2022-09-13", "%Y-%m-%d")))
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(
            _src(timestamp_epoch=epoch), c, Checkpoint())
    finally:
        c.close()
    assert {r["blob_name"] for r in recs} == \
        {"data_3.json", "docs/ata.json"}


def test_checkpoint_resume_ships_only_new(fake_abs):
    src = _src()
    cp = Checkpoint()
    c = _client(fake_abs)
    try:
        first = azureblob_poll_records(src, c, cp)
        assert len(first) == 3
        # nothing new → nothing shipped
        assert azureblob_poll_records(src, c, cp) == []
        fake_abs.add_blob("beatscontainer", "zeta.json",
                          b'{"k": 1}',
                          last_modified="Fri, 16 Sep 2022 10:00:00 GMT")
        second = azureblob_poll_records(src, c, cp)
        assert [r["blob_name"] for r in second] == ["zeta.json"]
    finally:
        c.close()


def test_pagination_with_maxresults(fake_abs):
    src = _src(batch_size=2)
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(src, c, Checkpoint())
    finally:
        c.close()
    assert len(recs) == 3
    assert sum("maxresults=2" in p for p in fake_abs.requests) == 2


def test_unsupported_content_type_publishes_error_event(fake_abs):
    fake_abs.add_blob("beatscontainer", "image.png", b"\x89PNG",
                      content_type="image/png",
                      last_modified="Fri, 16 Sep 2022 10:00:00 GMT")
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(_src(), c, Checkpoint())
    finally:
        c.close()
    err = next(r for r in recs if r["blob_name"] == "image.png")
    # the default batch size (== max_workers == 1) lists one blob per
    # page, so every job is index 0 within its page — exactly the
    # reference's fetchJobID(i, ...) with i per ListBlobs page
    jid = fetch_job_id(0, "beatscontainer", "image.png")
    assert err["message"] == (f"job with jobId {jid} encountered an "
                              "error: content-type image/png not "
                              "supported")
    assert err["meta_id"].endswith("-000000000000")


@needs_ref
def test_root_array_and_expand_event_list(fake_abs):
    fake_abs.containers.clear()
    fake_abs.add_blob("c", "array-at-root.json",
                      (TESTDATA / "array-at-root.json").read_bytes())
    fake_abs.add_blob("c", "events-array.json",
                      (TESTDATA / "events-array.json").read_bytes(),
                      last_modified="Thu, 15 Sep 2022 12:00:00 GMT")
    src = _src()
    src["container_name"] = "c"
    c = _client(fake_abs)
    try:
        # root array: one event per element
        recs = azureblob_poll_records(
            {**src, "file_selectors": [{"regex": "array-at-root"}]},
            c, Checkpoint())
        root_items = json.loads(
            (TESTDATA / "array-at-root.json").read_text())
        assert len(recs) == len(root_items)
        assert [json.loads(r["message"]) for r in recs] == root_items
        # expand_event_list_from_field
        recs = azureblob_poll_records(
            {**src, "file_selectors": [{"regex": "events-array"}],
             "expand_event_list_from_field": "Events"},
            c, Checkpoint())
        events = json.loads(
            (TESTDATA / "events-array.json").read_text())["Events"]
        assert [json.loads(r["message"]) for r in recs] == events
    finally:
        c.close()


@needs_ref
def test_gzip_and_csv_decoding(fake_abs):
    """The shared decoder battery over the reference's own testdata:
    txn.csv.gz with the space-comma CSV codec must equal txn.json."""
    fake_abs.containers.clear()
    fake_abs.add_blob("c", "txn.csv.gz",
                      (TESTDATA / "txn.csv.gz").read_bytes(),
                      content_type="application/x-gzip")
    fake_abs.add_blob("c", "multiline.json.gz",
                      (TESTDATA / "multiline.json.gz").read_bytes(),
                      content_type="application/x-gzip",
                      last_modified="Thu, 15 Sep 2022 12:00:00 GMT")
    src = _src()
    src["container_name"] = "c"
    src["decoding"] = {"codec": {"csv": {"enabled": True,
                                         "comma": " "}}}
    c = _client(fake_abs)
    try:
        recs = azureblob_poll_records(
            {**src, "file_selectors": [{"regex": r"txn\.csv"}]},
            c, Checkpoint())
        want = json.loads((TESTDATA / "txn.json").read_text())
        assert [json.loads(r["message"]) for r in recs] == want
        # gzip JSON stream (multiline objects)
        src2 = {**src, "decoding": None,
                "file_selectors": [{"regex": "multiline"}]}
        recs = azureblob_poll_records(src2, c, Checkpoint())
        plain = gzip.decompress(
            (TESTDATA / "multiline.json.gz").read_bytes()).decode()
        want_objs = []
        dec = json.JSONDecoder()
        idx = 0
        while idx < len(plain):
            while idx < len(plain) and plain[idx].isspace():
                idx += 1
            if idx >= len(plain):
                break
            obj, end = dec.raw_decode(plain, idx)
            want_objs.append(obj)
            idx = end
        assert [json.loads(r["message"]) for r in recs] == want_objs
    finally:
        c.close()


def test_bad_signature_refused(fake_abs):
    bad = AzureBlobClient(
        fake_abs.endpoint,
        credential=SharedKeyCredential(
            ACCOUNT, base64.b64encode(b"wrong-key").decode()))
    try:
        with pytest.raises(AzureBlobError) as ei:
            list(bad.list_blobs("beatscontainer"))
    finally:
        bad.close()
    assert ei.value.status == 403
    assert ei.value.code == "AuthenticationFailed"


def test_transient_retry_policy():
    srv = FakeAzureBlob(verify_auth=False, fail_first=2,
                        fail_status=503)
    srv.add_blob("c", "a.json", b'{"x": 1}')
    sleeps = []
    client = AzureBlobClient(srv.endpoint,
                             retry={"max_retries": 3,
                                    "initial_retry_delay": 0.01,
                                    "max_retry_delay": 0.02},
                             sleep=sleeps.append)
    try:
        pages = list(client.list_blobs("c"))
    finally:
        client.close()
        srv.close()
    assert [b.name for p in pages for b in p] == ["a.json"]
    assert sleeps == [0.01, 0.02]  # exponential, capped


def test_permanent_error_not_retried():
    srv = FakeAzureBlob(verify_auth=False)
    sleeps = []
    client = AzureBlobClient(srv.endpoint, sleep=sleeps.append)
    try:
        with pytest.raises(AzureBlobError) as ei:
            list(client.list_blobs("missing"))
    finally:
        client.close()
        srv.close()
    assert ei.value.status == 404 and sleeps == []


def test_oauth2_token_flow():
    """Live AAD client-credentials flow: the fake token endpoint
    verifies the form fields and issues a token the blob request must
    carry."""
    seen = {}

    class TokenH(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            seen.update(dict(parse_qsl(self.rfile.read(n).decode())))
            body = json.dumps({"access_token": "aad-tok",
                               "expires_in": 3600,
                               "token_type": "Bearer"}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    tok_srv = ThreadingHTTPServer(("127.0.0.1", 0), TokenH)
    threading.Thread(target=tok_srv.serve_forever, daemon=True).start()
    tp = OAuth2TokenProvider(
        "tenant-1", "client-1", "secret-1",
        token_endpoint=f"http://127.0.0.1:{tok_srv.server_address[1]}"
                       "/tenant-1/oauth2/v2.0/token")
    assert tp.token() == "aad-tok"
    assert seen == {"client_id": "client-1",
                    "client_secret": "secret-1",
                    "grant_type": "client_credentials",
                    "scope": "https://storage.azure.com/.default"}
    # token cached
    assert tp.token() == "aad-tok"
    tok_srv.shutdown()
    tok_srv.server_close()


# ------------------------------------------------------ Spark surfaces

def test_azureblob_objects_df_distributed(spark, fake_abs):
    src = _src()
    df, scheduled = azureblob_objects_df(
        spark, src, endpoint=fake_abs.endpoint,
        account_key=ACCOUNT_KEY,
        service_url_override=fake_abs.endpoint + "/")
    rows = df.collect()
    assert {r.blob_name for r in rows} == \
        {"ata.json", "data_3.json", "docs/ata.json"}
    assert {r.message for r in rows} == {ATA_JSON, DATA3_JSON}
    assert len(scheduled) == 3
    # distributed == driver
    c = _client(fake_abs)
    try:
        driver = azureblob_poll_records(
            src, c, Checkpoint(),
            service_url=fake_abs.endpoint + "/")
    finally:
        c.close()
    assert {(r.blob_name, r.message, r.meta_id) for r in rows} == \
        {(r["blob_name"], r["message"], r["meta_id"]) for r in driver}
    # checkpoint-after-commit resume
    cp = Checkpoint()
    for b in scheduled:
        cp.save(b.name, b.last_modified)
    df2, scheduled2 = azureblob_objects_df(
        spark, src, endpoint=fake_abs.endpoint,
        account_key=ACCOUNT_KEY, cp=cp,
        service_url_override=fake_abs.endpoint + "/")
    assert scheduled2 == [] and df2.count() == 0
