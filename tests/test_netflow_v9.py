"""NetFlow v9 / IPFIX golden matrix — the reference's full corpus.

Replays every .dat test case from
x-pack/filebeat/input/netflow/testdata/dat_tests.yaml (44 cases across
24 vendors: options templates, variable-length fields, reduced-size
encoding, enterprise PENs, custom field files, zero-filled padding,
invalid packets) plus the pcap replays, comparing every produced event
— the complete converted ECS JSON including flow.id, community_id,
localities, and nanosecond timestamps — against the reference's golden
files.  Also ports case_test.go's snake-case matrix and checks the
distributed decode stage equals the sequential walk.
"""

from __future__ import annotations

import glob
import json
import os
import struct

import pytest
import yaml

from beats_spark.processors import netflow_v9 as N

BASE = "/root/reference/x-pack/filebeat/input/netflow/testdata"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(BASE), reason="reference testdata not present"
)


def _golden_name(test_name: str) -> str:
    return (
        test_name.replace("-", "--").replace("/", "-").replace(",", "")
        .replace(" ", "-") + ".golden.json"
    )


def _dat_cases():
    if not os.path.isdir(BASE):
        return []
    tests = yaml.safe_load(open(BASE + "/dat_tests.yaml"))["tests"]
    return sorted(tests.items())


def _run_dat(tc: dict):
    known = dict(N.load_global_fields())
    for ff in tc.get("custom_fields") or []:
        known.update(
            N.load_field_definitions(yaml.safe_load(open(f"{BASE}/fields/{ff}")))
        )
    sessions = N.SessionMap()
    events = []
    for f in tc["files"]:
        data = open(f"{BASE}/dat/{f}", "rb").read()
        recs = N.decode_buffer(data, "192.0.2.1:4444", sessions, known)
        events.extend(
            N.event_to_jsonable(N.to_beat_event(r, ("private",))) for r in recs
        )
    return events


@needs_ref
@pytest.mark.parametrize(
    "name,tc", _dat_cases(), ids=[n for n, _ in _dat_cases()]
)
def test_dat_golden(name, tc):
    golden = json.load(open(f"{BASE}/golden/{_golden_name(name)}"))
    gev = golden.get("events") or []
    events = _run_dat(tc)
    assert len(events) == len(gev)
    for i, (g, m) in enumerate(zip(gev, events)):
        assert g == m, f"event {i} differs"


# ---------------------------------------------------------------------------
# pcap replays (per-packet exporter addresses)
# ---------------------------------------------------------------------------
def pcap_udp_payloads(path):
    data = open(path, "rb").read()
    magic = data[:4]
    endian = {b"\xa1\xb2\xc3\xd4": ">", b"\xd4\xc3\xb2\xa1": "<"}[magic]
    linktype = struct.unpack(endian + "I", data[20:24])[0]
    pos = 24
    while pos + 16 <= len(data):
        _s, _us, incl, _orig = struct.unpack(endian + "IIII", data[pos : pos + 16])
        pos += 16
        pkt = data[pos : pos + incl]
        pos += incl
        if linktype == 1:
            ethertype = struct.unpack(">H", pkt[12:14])[0]
            ofs = 14
            while ethertype in (0x8100, 0x88A8):
                ethertype = struct.unpack(">H", pkt[ofs + 2 : ofs + 4])[0]
                ofs += 4
            if ethertype != 0x0800:
                continue
        elif linktype == 101:
            ofs = 0
        else:
            raise ValueError(f"linktype {linktype}")
        ihl = (pkt[ofs] & 0xF) * 4
        if pkt[ofs + 9] != 17:
            continue
        src_ip = ".".join(str(b) for b in pkt[ofs + 12 : ofs + 16])
        u = ofs + ihl
        sport = struct.unpack(">H", pkt[u : u + 2])[0]
        yield pkt[u + 8 :], f"{src_ip}:{sport}"


def _pcap_names():
    return sorted(
        os.path.basename(p)[:-5]
        for p in glob.glob(BASE + "/pcap/*.pcap")
        if not p.endswith(".reversed.pcap")  # reference skips it (flaky)
    )


@needs_ref
@pytest.mark.parametrize("name", _pcap_names())
def test_pcap_golden(name):
    golden = json.load(open(f"{BASE}/golden/{name}.pcap.golden.json"))
    gev = golden.get("events") or []
    sessions = N.SessionMap()
    events = []
    for payload, source in pcap_udp_payloads(f"{BASE}/pcap/{name}.pcap"):
        recs = N.decode_packet(bytes(payload), source, sessions)
        events.extend(
            N.event_to_jsonable(N.to_beat_event(r, ("private",))) for r in recs
        )
    assert len(events) == len(gev)
    for i, (g, m) in enumerate(zip(gev, events)):
        assert g == m, f"event {i} differs"


# ---------------------------------------------------------------------------
# case.go snake-case matrix (case_test.go:13-29)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "camel,snake",
    [
        ("aBCDe", "a_bc_de"),
        ("postNATSourceIPv4Address", "post_nat_source_ipv4_address"),
        ("selectorIDTotalFlowsObserved", "selector_id_total_flows_observed"),
        ("engineId", "engine_id"),
        ("samplerRandomInterval", "sampler_random_interval"),
        ("dot1qVlanId", "dot1q_vlan_id"),
        ("messageMD5Checksum", "message_md5_checksum"),
        ("hashIPPayloadSize", "hash_ip_payload_size"),
        ("upperCILimit", "upper_ci_limit"),
        ("virtualStationUUID", "virtual_station_uuid"),
        ("postMCastLayer2OctetDeltaCount", "post_mcast_layer2_octet_delta_count"),
        ("IPSecSPI", "ip_sec_spi"),
        ("VRFname", "vrf_name"),
    ],
)
def test_camel_to_snake(camel, snake):
    assert N.camel_to_snake(camel) == snake


# ---------------------------------------------------------------------------
# custom field definitions loader (definitions.go dialect)
# ---------------------------------------------------------------------------
def test_load_field_definitions_netflow_layout():
    defs = N.load_field_definitions(
        {33002: [":uint16", ":fw_ext_event"], 40000: [":string", ":asa_username"]}
    )
    assert defs[(0, 33002)] == ("fw_ext_event", "Unsigned16")
    assert defs[(0, 40000)] == ("asa_username", "String")


def test_load_field_definitions_ipfix_layout_and_skip():
    defs = N.load_field_definitions(
        {3054: {110: [":uint32", ":ixia_thing"], 111: [":skip"]}}
    )
    assert defs[(3054, 110)] == ("ixia_thing", "Unsigned32")
    assert (3054, 111) not in defs


def test_load_field_definitions_integer_type_means_uint():
    defs = N.load_field_definitions({100: [2, ":two_bytes"], 101: [0, ":four"]})
    assert defs[(0, 100)][1] == "Unsigned16"
    assert defs[(0, 101)][1] == "Unsigned32"


def test_load_field_definitions_rejects_bad_type():
    with pytest.raises(ValueError, match="invalid field type"):
        N.load_field_definitions({1: [":nosuch", ":x"]})


# ---------------------------------------------------------------------------
# Spark stages: distributed decode == sequential walk
# ---------------------------------------------------------------------------
def _all_pcap_datagrams():
    rows = []
    order = 0
    for name in _pcap_names():
        for payload, source in pcap_udp_payloads(f"{BASE}/pcap/{name}.pcap"):
            rows.append((bytearray(payload), source, order))
            order += 1
    return rows


@needs_ref
def test_netflow_v9_events_distributed_matches_sequential(spark):
    rows = _all_pcap_datagrams()
    df = spark.createDataFrame(rows, "payload binary, source string, order long")
    dist = N.netflow_v9_events_distributed(df)
    got = sorted(r["event_json"] for r in dist.collect())

    # driver-side sequential per exporter (sessions never cross sources)
    by_source = {}
    for payload, source, order in rows:
        by_source.setdefault(source, []).append(bytes(payload))
    expected = []
    for source, packets in by_source.items():
        sessions = N.SessionMap()
        for data in packets:
            for rec in N.decode_packet(data, source, sessions):
                expected.append(
                    json.dumps(
                        N.event_to_jsonable(N.to_beat_event(rec, ("private",))),
                        sort_keys=True,
                    )
                )
    assert got == sorted(expected)
    assert len(got) == 45  # 29 + 6 + 10 golden events


@needs_ref
def test_netflow_v9_events_sequential_stage(spark):
    rows = _all_pcap_datagrams()
    df = spark.createDataFrame(rows, "payload binary, source string, order long")
    out = N.netflow_v9_events(df)
    assert out.count() == 45


# ---------------------------------------------------------------------------
# legacy fixed-layout protocols (decoder/v{1,5,6,7}_test.go vectors)
# ---------------------------------------------------------------------------
_V5_RAW = (
    "00050002000000015bf68d8b35fcb9780000000000000000"
    "acd910e5c0a8017b00000000000000000000000e00002cfa"
    "ffe8086cffe80f6201bbd711001806000000000000000000"
    "c0a8017bacd910e500000000000000000000000700000c5b"
    "ffe8086cffe80f62d71101bb001806000000000000000000"
)


def _decode_legacy_hex(raw_hex):
    sessions = N.SessionMap()
    return N.decode_packet(bytes.fromhex(raw_hex), "127.0.0.1:59707", sessions)


def test_v5_reference_vector():
    flows = _decode_legacy_hex(_V5_RAW)
    assert len(flows) == 2
    f = flows[0]["fields"]
    assert f["sourceIPv4Address"] == "172.217.16.229"
    assert f["destinationIPv4Address"] == "192.168.1.123"
    assert f["sourceTransportPort"] == 443
    assert f["destinationTransportPort"] == 55057
    assert f["octetDeltaCount"] == 11514
    assert f["packetDeltaCount"] == 14
    assert f["protocolIdentifier"] == 6
    assert f["tcpControlBits"] == 24
    assert f["flowStartSysUpTime"] == 4293396588
    assert f["flowEndSysUpTime"] == 4293398370
    exp = flows[0]["exporter"]
    assert exp["version"] == 5 and exp["uptimeMillis"] == 1
    assert exp["engineId"] == 0 and exp["samplingInterval"] == 0
    assert flows[0]["ts"].json() == "2018-11-22T11:05:47.905755Z"
    # second record is the reverse direction
    assert flows[1]["fields"]["sourceIPv4Address"] == "192.168.1.123"
    assert flows[1]["fields"]["octetDeltaCount"] == 3163


def test_v1_reference_vector():
    raw = (
        "00010002000000015bf689f605946fb0"
        "acd910e5c0a8017b00000000000000000000000e00002cfa"
        "fff609a0fff6109601bbd711000006001800000000000000"
        "c0a8017bacd910e500000000000000000000000700000c5b"
        "fff609a0fff61096d71101bb000006001800000000000000"
    )
    flows = _decode_legacy_hex(raw)
    assert len(flows) == 2
    f = flows[0]["fields"]
    assert f["sourceIPv4Address"] == "172.217.16.229"
    assert f["protocolIdentifier"] == 6
    assert f["tcpControlBits"] == 24
    assert "bgpSourceAsNumber" not in f  # v1 has no AS fields
    assert flows[0]["exporter"]["version"] == 1
    assert "engineType" not in flows[0]["exporter"]


def test_v6_and_v7_layouts():
    v6 = (
        "00060002000000015bf68d8b35fcb9780000000000000000"
        + "acd910e5c0a8017b00000000000000000000000e00002cfa"
          "ffe8086cffe80f6201bbd711001806000000000000"
          "00000000000000"  # v6 record = 52 bytes (6-byte tail pad)
        + "c0a8017bacd910e500000000000000000000000700000c5b"
          "ffe8086cffe80f62d71101bb001806000000000000"
          "00000000000000"
    )
    flows = _decode_legacy_hex(v6)
    assert len(flows) == 2
    assert flows[0]["fields"]["sourceTransportPort"] == 443
    assert flows[0]["exporter"]["version"] == 6

    v7 = (
        "00070002000000015bf68d8b35fcb9780000000000000000"
        + "acd910e5c0a8017b00000000000000000000000e00002cfa"
          "ffe8086cffe80f6201bbd71100180600000000000000"
          "0000" "0a0a0a0a"  # flagsAndSamplerId + ipv4RouterSc
        + "c0a8017bacd910e500000000000000000000000700000c5b"
          "ffe8086cffe80f62d71101bb00180600000000000000"
          "0001" "0b0b0b0b"
    )
    flows = _decode_legacy_hex(v7)
    assert len(flows) == 2
    assert flows[0]["fields"]["ipv4RouterSc"] == "10.10.10.10"
    assert flows[1]["fields"]["flagsAndSamplerId"] == 1


def test_v8_router_as_aggregation():
    import struct as _s

    header = _s.pack(
        ">HHIIII BBBB I",
        8, 1, 1000, 1542886747, 905755000, 7, 1, 2, 1, 2, 0,
    )
    record = (
        _s.pack(">IIIII", 5, 100, 2000, 10, 20)
        + _s.pack(">HHHH", 64512, 64513, 3, 4)
    )
    flows = _decode_legacy_hex((header + record).hex())
    assert len(flows) == 1
    f = flows[0]["fields"]
    assert f["deltaFlowCount"] == 5
    assert f["packetDeltaCount"] == 100
    assert f["octetDeltaCount"] == 2000
    assert f["bgpSourceAsNumber"] == 64512
    assert f["bgpDestinationAsNumber"] == 64513
    assert f["ingressInterface"] == 3 and f["egressInterface"] == 4
    exp = flows[0]["exporter"]
    assert exp["aggregation"] == 1 and exp["aggregationVersion"] == 2
    assert exp["engineType"] == 1 and exp["engineId"] == 2


def test_v8_unknown_aggregation_is_error():
    import struct as _s

    header = _s.pack(
        ">HHIIII BBBB I", 8, 1, 1000, 1542886747, 0, 7, 1, 2, 99, 2, 0
    )
    with pytest.raises(N.DecodeError, match="unsupported V8 aggregation"):
        _decode_legacy_hex(header.hex())


# ---------------------------------------------------------------------------
# streaming decode: template state survives across micro-batches
# ---------------------------------------------------------------------------
@needs_ref
def test_netflow_v9_stream_state_across_batches(spark, tmp_path):
    """Live applyInPandasWithState decode: the template-bearing packets
    arrive in micro-batch 1 (one file per trigger), the data packets in
    batch 2 — records decode ONLY because the session's template state
    survived the batch boundary. Output equals the sequential walk."""
    from datetime import datetime, timedelta

    from beats_spark.streaming.netflow import netflow_v9_stream

    name = "netflow9_ubiquiti_edgerouter"
    packets = [
        (bytes(p), s) for p, s in pcap_udp_payloads(f"{BASE}/pcap/{name}.pcap")
    ]
    assert len(packets) >= 2
    t0 = datetime(2026, 8, 19, 12, 0, 0)
    rows = [
        (bytearray(p), s, t0 + timedelta(seconds=i))
        for i, (p, s) in enumerate(packets)
    ]
    half = max(1, len(rows) // 2)
    src = str(tmp_path / "in")
    schema = "payload binary, source string, ts timestamp"
    spark.createDataFrame(rows[:half], schema).coalesce(1).write.parquet(
        src + "/b1"
    )
    spark.createDataFrame(rows[half:], schema).coalesce(1).write.parquet(
        src + "/b2"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = netflow_v9_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("nfv9_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r["event_json"] for r in spark.sql("select * from nfv9_stream").collect()
    )

    sessions = N.SessionMap()
    expected = []
    for p, s in packets:
        for rec in N.decode_packet(p, s, sessions):
            expected.append(
                json.dumps(
                    N.event_to_jsonable(N.to_beat_event(rec, ("private",))),
                    sort_keys=True,
                )
            )
    assert got == sorted(expected)
    assert len(got) == 10  # the golden's event count for this capture


@needs_ref
def test_netflow_corruption_robustness():
    """decode_buffer over truncated / bit-flipped packets must stop at
    the first undecodable packet (the harness contract) and never raise
    out of the walk."""
    import random

    rng = random.Random(11)
    dats = sorted(glob.glob(BASE + "/dat/*.dat"))[:8]
    for p in dats:
        base = open(p, "rb").read()
        for _ in range(40):
            data = bytearray(base)
            if rng.randrange(2):
                data = data[: rng.randrange(max(1, len(data)))]
            else:
                for _ in range(rng.randrange(1, 15)):
                    if data:
                        data[rng.randrange(len(data))] = rng.randrange(256)
            N.decode_buffer(bytes(data), "x:1", N.SessionMap())  # must not raise


def test_netflow_v9_stream_fn_orders_across_chunks():
    """The state function must order a key's datagrams across Arrow
    CHUNKS, not just within one: feed the template packet in a second
    chunk with an earlier event time than the data packet in the first —
    per-chunk sorting would decode the data set template-less and emit
    nothing."""
    import pickle
    from datetime import datetime

    import pandas as pd

    from beats_spark.streaming.netflow import netflow_v9_stream

    # reuse the module's inner fn via a tiny harness: build the closure
    # by calling the public API on a dummy batch frame is not possible
    # (fn is local), so replicate the call through applyInPandasWithState
    # semantics with a fake GroupState.
    class FakeState:
        hasTimedOut = False
        exists = False

        def __init__(self):
            self.updated = None

        @property
        def get(self):
            raise AssertionError("state.exists is False")

        def update(self, v):
            self.updated = v

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            pass

    # grab fn through the function's code: simplest robust route is to
    # rebuild the closure by invoking netflow_v9_stream on a foreachBatch
    # -- instead, exercise the equivalent path: decode with the packets
    # delivered as two chunks via the module-level helper
    tpl = struct.pack(">HHIIII", 9, 1, 1000, 1700000000, 0, 5)
    tpl += struct.pack(">HH", 0, 24) + struct.pack(">HH", 256, 4)
    tpl += struct.pack(">HHHHHHHH", 8, 4, 12, 4, 7, 2, 11, 2)
    data = struct.pack(">HHIIII", 9, 1, 2000, 1700000100, 1, 5)
    data += struct.pack(">HH", 256, 16) + bytes([10, 0, 0, 1, 192, 168, 1, 2])
    data += struct.pack(">HH", 1234, 80)

    import beats_spark.streaming.netflow as SN

    captured = {}
    orig = SN.netflow_v9_stream

    # extract fn by monkey-patching applyInPandasWithState off a stub df
    class StubGrouped:
        def applyInPandasWithState(self, fn, **kw):
            captured["fn"] = fn
            return None

    class StubDF:
        def groupBy(self, *a):
            return StubGrouped()

    SN.netflow_v9_stream(StubDF())
    fn = captured["fn"]

    t0 = datetime(2026, 8, 19, 12, 0, 0)
    t1 = datetime(2026, 8, 19, 12, 0, 1)
    # chunk 1 carries the LATER data packet; chunk 2 the EARLIER template
    c1 = pd.DataFrame({"payload": [data], "source": ["x:1"], "ts": [t1]})
    c2 = pd.DataFrame({"payload": [tpl], "source": ["x:1"], "ts": [t0]})
    state = FakeState()
    out = list(fn(("x:1",), iter([c1, c2]), state))
    assert len(out) == 1 and len(out[0]) == 1, out
    assert '"source": {"ip": "10.0.0.1"' in out[0].iloc[0]["event_json"]
    # template survives into state for the next micro-batch
    assert state.updated is not None
    sessions = pickle.loads(bytes(state.updated[0]))
    assert 256 in sessions[("x:1", 5)]


# ---------------------------------------------------------------------------
# sequence reset detection (session.go CheckReset, v9.go OnPacket)
# ---------------------------------------------------------------------------
def test_session_check_reset_matrix():
    """TestSessionCheckReset (session_test.go:232-276) ported verbatim."""
    cases = [
        ("regular advance", 12345, 12385, False),
        ("out of order packet", 12388, 12345, False),
        ("actual reset", 12345, 9, True),
        ("32-bit wrap around", 0xFFFFFFFF, 9, False),
        ("non-sequential stream", 12345, 78910, True),
    ]
    for title, current, nxt, want in cases:
        s = N.Session()
        s.last_seq = current
        s[256] = "sentinel-template"
        assert s.check_reset(nxt) is want, title
        assert s.last_seq == nxt, title
        assert (256 not in s) is want, title


def _v9_pair(seq_tpl, seq_data):
    tpl = struct.pack(">HHIIII", 9, 1, 1000, 1700000000, seq_tpl, 5)
    tpl += struct.pack(">HH", 0, 24) + struct.pack(">HH", 256, 4)
    tpl += struct.pack(">HHHHHHHH", 8, 4, 12, 4, 7, 2, 11, 2)
    data = struct.pack(">HHIIII", 9, 1, 2000, 1700000100, seq_data, 5)
    data += struct.pack(">HH", 256, 16) + bytes([10, 0, 0, 1, 192, 168, 1, 2])
    data += struct.pack(">HH", 1234, 80)
    return tpl, data


def test_sequence_reset_drops_templates():
    """A data packet whose sequence jumped >= MaxSequenceDifference
    decodes nothing (templates wiped, the exporter restarted); the next
    template re-send re-learns. With detect_reset off (the golden
    harness config) the same stream keeps decoding."""
    tpl, data_ok = _v9_pair(1, 2)
    _, data_jump = _v9_pair(1, 50_000)

    s = N.SessionMap(detect_reset=True)
    assert N.decode_packet(tpl, "x:1", s) == []
    assert len(N.decode_packet(data_ok, "x:1", s)) == 1
    assert N.decode_packet(data_jump, "x:1", s) == []  # reset wiped tpl
    tpl2, data2 = _v9_pair(50_001, 50_002)
    assert N.decode_packet(tpl2, "x:1", s) == []
    assert len(N.decode_packet(data2, "x:1", s)) == 1

    s_off = N.SessionMap(detect_reset=False)
    N.decode_packet(tpl, "x:1", s_off)
    assert len(N.decode_packet(data_jump, "x:1", s_off)) == 1


def test_session_pickle_roundtrip():
    """The streaming state pickles Session objects: templates AND the
    last sequence number must survive (reset detection across
    micro-batches)."""
    import pickle

    tpl, data = _v9_pair(7, 8)
    s = N.SessionMap(detect_reset=True)
    N.decode_packet(tpl, "x:1", s)
    restored = pickle.loads(pickle.dumps(s.sessions))
    assert restored[("x:1", 5)].last_seq == 7
    s2 = N.SessionMap(detect_reset=True)
    s2.sessions = restored
    assert len(N.decode_packet(data, "x:1", s2)) == 1
