"""s3_objects.go + decoding_test.go + sqs_s3_event_test.go matrices,
ported over the reference's own testdata files."""

from __future__ import annotations

import gzip
import json
import os

import pytest

from beats_spark.awss3.client import S3GetResult
from beats_spark.awss3.notifications import (
    S3EventRecord,
    get_s3_notifications,
)
from beats_spark.awss3.objects import (
    FileSelector,
    ReaderConfig,
    S3DownloadError,
    find_reader_config,
    object_id,
    process_s3_object,
    s3_object_hash,
)

TESTDATA = "/root/reference/x-pack/filebeat/input/awss3/testdata"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(TESTDATA), reason="reference testdata not present"
)


def load(name: str) -> bytes:
    with open(os.path.join(TESTDATA, name), "rb") as f:
        return f.read()


def s3event(key: str) -> S3EventRecord:
    # sqs_test.go newS3Event
    return S3EventRecord(
        aws_region="us-east-1", event_source="aws:s3",
        event_name="ObjectCreated:Put", provider="aws",
        bucket_name="foo", bucket_arn="arn:aws:s3:::foo",
        object_key=key,
    )


def run_object(filename: str, content_type: str,
               reader: ReaderConfig | None = None) -> list[dict]:
    body = load(filename)
    result = S3GetResult(body=body, content_type=content_type,
                         content_encoding="", etag="etag",
                         last_modified="", metadata={}, headers={})
    return list(process_s3_object(
        result, s3event("testdata/" + filename),
        reader or ReaderConfig()))


# --------------------------------------------- TestS3ObjectProcessor

@needs_ref
def test_download_text_plain():
    events = run_object("log.txt", "text/plain")
    assert [e["message"] for e in events] == ["logline1", "logline2"]
    assert [e["offset"] for e in events] == [0, 9]


@needs_ref
def test_multiline_content():
    reader = ReaderConfig(parsers=[{"multiline": {
        "pattern": "^<Event", "negate": True, "match": "after"}}])
    events = run_object("multiline.txt", "text/plain", reader)
    assert len(events) == 2
    assert events[0]["message"].startswith("<Event><Data>")
    assert events[1]["offset"] > 0


@needs_ref
def test_application_json_content_type():
    events = run_object("log.json", "application/json")
    assert len(events) == 2
    # json.RawMessage keeps the ORIGINAL bytes of each value
    assert json.loads(events[0]["message"])["message"] == \
        "error making http request"
    assert events[0]["message"].startswith('{"@timestamp"')


@needs_ref
def test_ndjson_content_type():
    events = run_object("log.ndjson", "application/x-ndjson")
    assert len(events) == 2


@needs_ref
def test_ndjson_parser_without_message_key_not_dropped():
    # s3_objects_test.go's regression case: ndjson parser moves data
    # into fields and clears content; readFile must still publish
    reader = ReaderConfig(parsers=[{"ndjson": {}}])
    events = run_object("log.ndjson", "text/plain", reader)
    assert len(events) == 2
    assert events[0]["fields"]["message"] == "error making http request"


@needs_ref
def test_configured_content_type_overrides():
    reader = ReaderConfig(content_type="application/json")
    events = run_object("multiline.json", "application/octet-stream",
                        reader)
    assert len(events) == 2


@needs_ref
def test_gzip_sniffed_json():
    events = run_object("multiline.json.gz", "application/json")
    assert len(events) == 2


@needs_ref
def test_unparsable_json_raises():
    with pytest.raises(ValueError, match="failed to decode json"):
        run_object("invalid.json", "application/json")


@needs_ref
def test_split_array():
    reader = ReaderConfig(expand_event_list_from_field="Events")
    events = run_object("events-array.json", "application/json", reader)
    assert len(events) == 2
    assert json.loads(events[0]["message"]) == {
        "time": "2021-05-25 18:20:58 UTC", "msg": "hello"}
    # offsets are distinct and increasing (objectID uniqueness)
    assert events[0]["offset"] < events[1]["offset"]


@needs_ref
def test_split_array_missing_key_raises():
    reader = ReaderConfig(expand_event_list_from_field="Records")
    with pytest.raises(ValueError,
                       match="expand_event_list_from_field key "
                             "<Records> is not in event"):
        run_object("events-array.json", "application/json", reader)


@needs_ref
def test_split_root_array():
    reader = ReaderConfig(expand_event_list_from_field=".[]")
    events = run_object("array.json", "application/json", reader)
    assert len(events) == 2
    assert json.loads(events[1]["message"])["msg"] == "world"


@needs_ref
def test_root_array_without_expand_is_one_event():
    events = run_object("array.json", "application/json")
    assert len(events) == 1


@needs_ref
def test_events_have_unique_repeatable_id():
    events = run_object("log.txt", "text/plain")
    ids = [e["meta_id"] for e in events]
    assert all(ids) and len(set(ids)) == 2
    assert run_object("log.txt", "text/plain")[0]["meta_id"] == ids[0]


def test_empty_download_raises():
    with pytest.raises(S3DownloadError):
        list(process_s3_object(None, s3event("k"), ReaderConfig()))


@needs_ref
def test_no_content_type_reads_lines():
    events = run_object("log.txt", "")
    assert len(events) == 2


@needs_ref
def test_no_eol_final_line_collected():
    # CollectOnEOF: a final line without a terminator still publishes
    assert len(run_object("no-eol.txt", "text/plain")) == 1
    assert len(run_object("no-eol-twolines.txt", "text/plain")) == 2


# ----------------------------------------------------- decoding_test.go

@needs_ref
def test_parquet_vpc_flow_counts():
    for cfg in ({"batch_size": 1}, {"batch_size": 100}, {}):
        reader = ReaderConfig(decoding={"codec": {"parquet":
                                                  dict(cfg, enabled=True)}})
        events = run_object("vpc-flow.gz.parquet",
                            "application/octet-stream", reader)
        assert len(events) == 1304


@needs_ref
def test_parquet_cloudtrail_content_check():
    reader = ReaderConfig(decoding={"codec": {"parquet": {
        "enabled": True, "batch_size": 1}}})
    events = run_object("cloudtrail.parquet",
                        "application/octet-stream", reader)
    expected = json.loads(load("cloudtrail.json"))
    assert len(events) == len(expected) == 1
    # assert.JSONEq — semantic JSON equality
    assert json.loads(events[0]["message"]) == expected[0]


@needs_ref
@pytest.mark.parametrize("filename", ["txn.csv", "txn.csv.gz"])
def test_csv_txn_content_check(filename):
    reader = ReaderConfig(decoding={"codec": {"csv": {
        "enabled": True, "comma": " "}}})
    events = run_object(filename, "text/csv", reader)
    expected = json.loads(load("txn.json"))
    assert len(events) == len(expected) == 4
    for got, want in zip(events, expected):
        assert json.loads(got["message"]) == want


# --------------------------------------------------------- Test_objectID

def test_object_id_golden():
    assert object_id("2024-11-07T12:44:22Z", "fe8a230c26", 42) == \
        "1730983462000000000-fe8a230c26-000000000042"


def test_s3_object_hash_stable():
    h = s3_object_hash("arn:aws:s3:::foo", "log.txt")
    assert len(h) == 10 and h == s3_object_hash("arn:aws:s3:::foo",
                                                "log.txt")


# ---------------------------------------------------- file_selectors

def test_find_reader_config():
    sels = [
        FileSelector(regex=r"\.ndjson$",
                     reader=ReaderConfig(content_type="application/x-ndjson")),
        FileSelector(regex=r"\.txt$", reader=ReaderConfig()),
    ]
    assert find_reader_config(sels, "a/b.ndjson").content_type == \
        "application/x-ndjson"
    assert find_reader_config(sels, "a/b.txt").content_type == ""
    assert find_reader_config(sels, "a/b.csv") is None  # skip object


# ------------------------------------- TestSqsProcessor_getS3Notifications

def _sqs_body(*records: dict) -> str:
    return json.dumps({"Records": list(records)})


def _record(key: str, event_name: str = "ObjectCreated:Put") -> dict:
    return {
        "awsRegion": "us-east-1", "eventSource": "aws:s3",
        "eventName": event_name, "provider": "aws",
        "s3": {"bucket": {"name": "foo", "arn": "arn:aws:s3:::foo"},
               "object": {"key": key}},
    }


def test_s3_key_is_url_unescaped():
    events = get_s3_notifications(_sqs_body(_record("Happy+Face.jpg")))
    assert len(events) == 1
    assert events[0].object_key == "Happy Face.jpg"


def test_invalid_escape_raises():
    with pytest.raises(ValueError, match="url unescape failed"):
        get_s3_notifications(_sqs_body(_record("bad%zzkey")))


def test_non_object_created_ignored():
    warnings = []
    events = get_s3_notifications(
        _sqs_body(_record("HappyFace.jpg", "ObjectRemoved:Delete")),
        warnings=warnings)
    assert events == []
    assert warnings == ["ObjectRemoved:Delete"]


def test_sns_sqs_notification():
    body = json.dumps({
        "TopicArn": "arn:aws:sns:us-east-1:1234:sns-topic",
        "Message": json.dumps({"Records": [{
            "eventSource": "aws:s3", "awsRegion": "us-east-1",
            "eventName": "ObjectCreated:Put",
            "s3": {"bucket": {"name": "vpc-flow-logs-ks",
                              "arn": "arn:aws:s3:::vpc-flow-logs-ks"},
                   "object": {"key": "test-object-key"}}}]}),
    })
    events = get_s3_notifications(body)
    assert len(events) == 1
    assert events[0].object_key == "test-object-key"
    assert events[0].bucket_arn == "arn:aws:s3:::vpc-flow-logs-ks"
    assert events[0].bucket_name == "vpc-flow-logs-ks"


def test_eventbridge_sqs_notification():
    # sqs_test.go newEventBridgeSQSMessage, verbatim
    body = ('{ "version": "0", "id": "f17994c0-7cb9-ee01-79fd-ae46df89e3a4",'
            ' "detail-type": "Object Created", "source": "aws.s3",'
            ' "account": "952856826737", "time": "2024-06-24T08:31:26Z",'
            ' "region": "eu-west-1",'
            ' "resources": ["arn:aws:s3:::vpc-flow-logs-ks" ],'
            ' "detail": {"version": "0","bucket": { "name":'
            ' "vpc-flow-logs-ks"},"object": { "key": "test-object-key",'
            ' "size": 744, "etag": "2ba6b152f13c75a9155b87b5b072963c",'
            ' "version-id": "uoW5awQhqux4rhi4Nuh6il967FzQlsHJ",'
            ' "sequencer": "0066792EC46EC0B037"},"request-id":'
            ' "Q93BVWXD5G6FKWC2","requester": "516635408544",'
            ' "source-ip-address": "10.0.27.95","reason": "PutObject" }}')
    events = get_s3_notifications(body)
    assert len(events) == 1
    assert events[0].object_key == "test-object-key"
    assert events[0].bucket_arn == "arn:aws:s3:::vpc-flow-logs-ks"
    assert events[0].bucket_name == "vpc-flow-logs-ks"
    assert events[0].event_name == "ObjectCreated:Put"
    assert events[0].event_source == "aws:s3"
    assert events[0].aws_region == "eu-west-1"


def test_missing_records_fail():
    for body in ('{"message":"missing records"}',
                 '{"message":"null records", "Records": null}'):
        with pytest.raises(ValueError) as ei:
            get_s3_notifications(body)
        assert str(ei.value) == ("the message is an invalid S3 "
                                 "notification: missing Records field")


def test_empty_records_do_not_fail():
    assert get_s3_notifications('{"Records":[]}') == []


def test_test_events_skipped():
    body = json.dumps({
        "Service": "Amazon S3", "Event": "s3:TestEvent",
        "Time": "2014-10-13T15:57:02.089Z",
        "Bucket": "amzn-s3-demo-bucket",
        "RequestId": "5582815E1AEA5ADF", "HostId": "8cLeGAmw098X5cv4Zkw",
    })
    assert get_s3_notifications(body) == []


def test_test_events_via_sns_skipped():
    body = json.dumps({
        "TopicArn": "arn:aws:sns:us-east-1:123456789012:test-topic",
        "Message": json.dumps({"Service": "Amazon S3",
                               "Event": "s3:TestEvent"}),
    })
    assert get_s3_notifications(body) == []


def test_invalid_json_body_errors():
    with pytest.raises(ValueError,
                       match="failed to decode SQS message body as an "
                             "S3 notification"):
        get_s3_notifications("this is not json")


def test_expand_event_list_key_lookalike_in_string():
    """The raw slice must find the real field, not a key-lookalike
    inside an earlier string value (review regression)."""
    from beats_spark.awss3.objects import _object_field_raw

    raw = '{"decoy": "\\"Events\\": [1,2],", "Events": [ {"a": 1} ]}'
    assert _object_field_raw(raw, "Events") == '[ {"a": 1} ]'
    body = raw.encode()
    reader = ReaderConfig(expand_event_list_from_field="Events")
    result = S3GetResult(body=body, content_type="application/json",
                         content_encoding="", etag="e",
                         last_modified="", metadata={}, headers={})
    events = list(process_s3_object(result, s3event("k"), reader))
    assert [e["message"] for e in events] == ['{"a": 1}']


def test_multiline_equivalence_with_dataframe_stage(spark):
    """The per-object Python multiline must group EXACTLY like the
    reference-matrix-tested DataFrame stage, in both match modes."""
    import pandas as pd

    from beats_spark.awss3.objects import _apply_parsers
    from beats_spark.processors.stateful import multiline_pattern

    lines = ["<Event>a", " b", " c", "<Event>d", " e", "plain",
             "<Event>f"]
    for match, negate in (("after", True), ("after", False),
                          ("before", True), ("before", False)):
        cfg = [{"multiline": {"pattern": "^<Event", "negate": negate,
                              "match": match}}]
        got = [m for m, _, _ in
               _apply_parsers([(ln, len(ln) + 1) for ln in lines], cfg)]
        df = spark.createDataFrame(
            [("k", i, ln) for i, ln in enumerate(lines)],
            "conv_id string, turn_idx int, text string")
        stage = multiline_pattern("^<Event", match=match, negate=negate)
        want = [r.text for r in
                stage(df).orderBy("turn_idx").collect()]
        assert got == want, (match, negate, got, want)
