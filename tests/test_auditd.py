"""auditd parser — golden-corpus parity + unit table + Spark stage.

The strongest check is TestLogFiles' own loop (auditd_test.go:286-336):
every line of all 9 reference testdata/*.log files must produce exactly
the fields recorded in its *-expected.json twin (153 records). That
corpus pins the whole auparse normalization surface this module
re-derives from the public audit-log format."""

from __future__ import annotations

import json
import os

import pytest

from beats_spark.processors.auditd import auditd_parse, parse_auditd_line

TESTDATA = "/root/reference/libbeat/reader/auditd/testdata"
LOG_FILES = [
    "sample.log", "avc.log", "audit-cent7-node.log", "audit-rhel6.log",
    "audit-ubuntu1604.log", "useradd.log", "test.log", "execve.log", "rare.log",
]

needs_ref = pytest.mark.skipif(
    not os.path.isdir(TESTDATA), reason="reference testdata not present"
)


def _fields_of(line: str) -> dict:
    fields, _ts, err = parse_auditd_line(line)
    got: dict = {}
    if fields is not None:
        got["auditd"] = {"log": fields}
    if err is not None:
        got["error"] = {"message": err}
    return got


@needs_ref
@pytest.mark.parametrize("log_file", LOG_FILES)
def test_golden_corpus(log_file):
    lines = [
        l.rstrip("\n")
        for l in open(os.path.join(TESTDATA, log_file), encoding="utf-8", errors="replace")
        if l.strip()
    ]
    expected = json.load(open(os.path.join(TESTDATA, log_file + "-expected.json")))
    assert len(lines) == len(expected)
    for i, (line, want) in enumerate(zip(lines, expected)):
        assert _fields_of(line) == want, f"{log_file}:{i}: {line[:120]}"


# --- auditd_test.go TestParser table (the named unit cases) ---
def test_syscall_record():
    f, ts, err = parse_auditd_line(
        'type=SYSCALL msg=audit(1485893834.891:18877199): arch=c000003e syscall=59 '
        'success=yes exit=0 a0=7f095d0a4b88 items=2 ppid=1234 pid=5678 auid=1000 '
        'uid=0 gid=0 comm="ls" exe="/bin/ls" key=(null)'
    )
    assert err is None
    assert int(ts) == 1485893834
    assert f["arch"] == "x86_64" and f["syscall"] == "execve"
    assert f["ppid"] == "1234" and f["auid"] == "1000" and f["comm"] == "ls"
    assert "key" not in f  # key=(null) drops


def test_node_prefix_strip():
    f, ts, err = parse_auditd_line(
        "node=myhost.example.com type=SYSCALL msg=audit(1485893834.891:18877199): "
        'arch=c000003e syscall=59 success=yes exit=0 a0=7f095d0a4b88 items=2 '
        'ppid=1234 pid=5678 auid=1000 uid=0 gid=0 comm="ls" exe="/bin/ls" key=(null)'
    )
    assert err is None
    assert f["node"] == "myhost.example.com"
    assert f["syscall"] == "execve"


def test_key_double_prefix_form():
    f, _, err = parse_auditd_line(
        "type=SYSCALL msg=audit(1492752520.441:8832): arch=c000003e syscall=43 "
        "success=yes exit=5 a0=3 items=0 ppid=1 pid=1663 auid=4294967295 uid=0 "
        'gid=0 tty=(none) ses=4294967295 comm="sshd" exe="/usr/sbin/sshd" key="key=net"'
    )
    assert err is None
    assert f["key"] == "net"
    assert f["tty"] == "(none)"  # (none) stays; only '?' drops


def test_execve_missing_arg_keeps_header_fields():
    f, _, err = parse_auditd_line(
        'type=EXECVE msg=audit(1485893834.891:18877201): argc=3 a0="ls" a2="/tmp"'
    )
    assert f == {"record_type": "EXECVE", "sequence": "18877201"}
    assert err == "error extracting auditd data fields: failed to find arg a1"


def test_invalid_line_error():
    f, ts, err = parse_auditd_line("not a valid audit line")
    assert f is None and ts is None
    assert err.startswith("error parsing auditd log line: ")


def test_multi_word_inner_op():
    f, _, err = parse_auditd_line(
        "type=ADD_GROUP msg=audit(1610903553.686:584): pid=2940 uid=0 auid=1000 "
        "ses=14 msg='op=adding group to /etc/group id=1004 exe=\"/usr/sbin/groupadd\" "
        "hostname=ubuntu-bionic addr=127.0.0.1 terminal=pts/2 res=success'"
    )
    assert err is None
    assert f["op"] == "adding group to /etc/group"
    assert f["result"] == "success" and f["id"] == "1004"


def test_multi_record_sequences_not_consolidated():
    # TestParserMultiRecord: same sequence on two lines stays two rows
    f1, _, _ = parse_auditd_line(
        "type=SYSCALL msg=audit(1485893834.891:42): arch=c000003e syscall=59 "
        'success=yes exit=0 a0=7f095d0a4b88 items=1 ppid=1234 pid=5678 auid=1000 '
        'uid=0 gid=0 comm="ls" exe="/bin/ls" key=(null)'
    )
    f2, _, _ = parse_auditd_line(
        'type=EXECVE msg=audit(1485893834.891:42): argc=1 a0="ls"'
    )
    assert f1["sequence"] == f2["sequence"] == "42"
    assert f1["record_type"] == "SYSCALL" and f2["record_type"] == "EXECVE"


def test_sockaddr_ipv6_and_unix():
    f, _, _ = parse_auditd_line(
        "type=SOCKADDR msg=audit(1.0:1): saddr="
        "0A001F90000000000000000000000000000000000000000100000000"
    )
    assert f["family"] == "ipv6" and f["port"] == "8080" and f["addr"] == "::1"
    f2, _, _ = parse_auditd_line(
        "type=SOCKADDR msg=audit(1.0:2): saddr=01002F746D702F736F636B00"
    )
    assert f2["family"] == "unix" and f2["path"] == "/tmp/sock"


def test_unknown_syscall_number_falls_back_numeric():
    f, _, err = parse_auditd_line(
        "type=SYSCALL msg=audit(1.0:3): arch=c000003e syscall=99999 success=no exit=-13"
    )
    assert err is None
    assert f["syscall"] == "99999"  # documented fallback
    assert f["result"] == "fail"
    assert f["exit"] == "EACCES"  # errno name for -13


# --- Spark stage ---
@needs_ref
def test_auditd_parse_distributed_matches_driver(spark):
    lines = []
    for log_file in LOG_FILES:
        lines += [
            l.rstrip("\n")
            for l in open(os.path.join(TESTDATA, log_file), encoding="utf-8", errors="replace")
            if l.strip()
        ]
    df = spark.createDataFrame([(i, l) for i, l in enumerate(lines)], "id int, message string")
    rows = {r["id"]: r for r in auditd_parse(df.repartition(4)).collect()}
    assert len(rows) == len(lines)
    for i, line in enumerate(lines):
        fields, ts, err = parse_auditd_line(line)
        r = rows[i]
        assert r["auditd_error"] == err, line[:120]
        if fields is None:
            assert r["auditd_log"] is None
            continue
        assert r["auditd_record_type"] == fields["record_type"]
        assert r["auditd_sequence"] == fields["sequence"]
        # flat-map equivalence (nested avc → dotted keys, lists joined)
        want = {}
        for k, v in fields.items():
            if isinstance(v, dict):
                want.update({f"{k}.{k2}": str(v2) for k2, v2 in v.items()})
            elif isinstance(v, list):
                want[k] = ",".join(map(str, v))
            else:
                want[k] = str(v)
        assert dict(r["auditd_log"]) == want, line[:120]
        if ts is not None and err is None:
            assert abs(r["auditd_ts"].timestamp() - ts) < 1e-3


def test_parsers_chain_accepts_auditd(spark):
    from beats_spark.processors.parser_config import parsers_chain

    chain = parsers_chain([{"auditd": {}}], text_col="message")
    df = spark.createDataFrame(
        [("type=EXECVE msg=audit(1481077231.372:481): argc=3 a0=\"auditctl\" a1=\"-e\" a2=\"1\"",)],
        "message string",
    )
    out = chain(df).collect()[0]
    assert out["auditd_record_type"] == "EXECVE"
    assert out["auditd_log"]["a0"] == "auditctl"


def test_parsers_chain_auditd_unknown_knob_refused():
    from beats_spark.processors.parser_config import parsers_chain

    with pytest.raises(ValueError, match="auditd"):
        parsers_chain([{"auditd": {"stream": "stdout"}}])
