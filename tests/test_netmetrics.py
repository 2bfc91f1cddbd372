"""netmetrics battery.

Ports TestProcNetTCP / TestProcNetUDP
(filebeat/input/netmetrics/{tcp,udp}_test.go) verbatim against the
reference's OWN testdata procfs tables, plus the address-form
helpers and a live poll against the real /proc for a bound socket.
"""

from __future__ import annotations

import os
import socket
from pathlib import Path

import pytest

from beats_spark.netmetrics import (
    addrs, contains_unspecified_addr, ip_v4, ip_v6, poll_udp_metrics,
    proc_net_tcp, proc_net_udp,
)

TD = Path("/root/reference/filebeat/input/netmetrics/testdata")
TCP4, TCP6 = str(TD / "proc_net_tcp.txt"), str(TD / "proc_net_tcp6.txt")
UDP4, UDP6 = str(TD / "proc_net_udp.txt"), str(TD / "proc_net_udp6.txt")

needs_ref = pytest.mark.skipif(
    not os.path.isdir(TD), reason="reference testdata not present"
)


def _run(fn, path, addr):
    has, unspec, bad = contains_unspecified_addr(addr)
    return fn(path, addr, has, unspec), bad


# --------------------------------------------------------------- TCP

@needs_ref
def test_tcp4_with_match():
    addr = [ip_v4(bytes([0x7F, 0, 0, 0x01]), 0x17AC)]
    (rx, bad) = _run(proc_net_tcp, TCP4, addr)
    assert bad is None and rx == 1


@needs_ref
def test_tcp4_leading_zero():
    addr = [ip_v4(bytes([0x00, 0x7F, 0x01, 0x00]), 0x17AF)]
    (rx, bad) = _run(proc_net_tcp, TCP4, addr)
    assert bad is None and rx == 1


@needs_ref
def test_tcp4_unspecified():
    addr = [ip_v4(socket.inet_aton("0.0.0.0"), 0x17AC)]
    (rx, bad) = _run(proc_net_tcp, TCP4, addr)
    assert bad is None and rx == 2


@needs_ref
def test_tcp4_without_match():
    addr = [ip_v4(bytes([0xDE, 0xAD, 0xBE, 0xEF]), 0xF00D),
            ip_v4(bytes([0xBA, 0x1D, 0xFA, 0xCE]), 0x1135)]
    has, unspec, bad = contains_unspecified_addr(addr)
    assert bad is None
    with pytest.raises(ValueError, match="entry not found"):
        proc_net_tcp(TCP4, addr, has, unspec)


@needs_ref
def test_tcp4_bad_addrs():
    addr = ["FOO:BAR", "BAR:BAZ"]
    has, unspec, bad = contains_unspecified_addr(addr)
    assert bad == addr
    with pytest.raises(ValueError, match="entry not found"):
        proc_net_tcp(TCP4, addr, has, unspec)


@needs_ref
def test_tcp6_with_match():
    ip = bytearray(16)
    ip[0], ip[3] = 0x7F, 0x01
    addr = [ip_v6(bytes(ip), 0x17AC)]
    (rx, bad) = _run(proc_net_tcp, TCP6, addr)
    assert bad is None and rx == 1


@needs_ref
def test_tcp6_leading_zero():
    ip = bytearray(16)
    ip[1], ip[2] = 0x7F, 0x01
    addr = [ip_v6(bytes(ip), 0x17AF)]
    (rx, bad) = _run(proc_net_tcp, TCP6, addr)
    assert bad is None and rx == 1


@needs_ref
def test_tcp6_unspecified():
    # net.ParseIP("[::]") is nil in Go — %032X renders 32 zeros
    addr = [ip_v6(None, 0x17AC)]
    (rx, bad) = _run(proc_net_tcp, TCP6, addr)
    assert bad is None and rx == 2


@needs_ref
def test_tcp6_without_match():
    addr = [ip_v6(bytes([0xDE, 0xAD, 0xBE, 0xEF] * 4), 0xF00D),
            ip_v6(bytes([0xBA, 0x1D, 0xFA, 0xCE] * 4), 0x1135)]
    has, unspec, bad = contains_unspecified_addr(addr)
    assert bad is None
    with pytest.raises(ValueError, match="entry not found"):
        proc_net_tcp(TCP6, addr, has, unspec)


def test_tcp_empty_addr_list():
    assert proc_net_tcp(TCP4, [], False, []) == 0


# --------------------------------------------------------------- UDP

@needs_ref
def test_udp4_with_match_and_drops():
    addr = [ip_v4(bytes([0x0A, 0x64, 0x08, 0x25]), 0x1BBE)]
    ((rx, drops), bad) = _run(proc_net_udp, UDP4, addr)
    assert bad is None and rx == 1 and drops == 2


@needs_ref
def test_udp4_leading_zero():
    addr = [ip_v4(bytes([0x00, 0x7F, 0x01, 0x00]), 0x1EEF)]
    ((rx, drops), bad) = _run(proc_net_udp, UDP4, addr)
    assert bad is None and rx == 1 and drops == 2


@needs_ref
def test_udp4_unspecified_sums():
    addr = [ip_v4(socket.inet_aton("0.0.0.0"), 0x1BBE)]
    ((rx, drops), bad) = _run(proc_net_udp, UDP4, addr)
    assert bad is None and rx == 2 and drops == 4


@needs_ref
def test_udp6_with_match():
    ip = bytearray(16)
    ip[0], ip[3] = 0x7F, 0x01
    addr = [ip_v6(bytes(ip), 0x1BBD)]
    ((rx, drops), bad) = _run(proc_net_udp, UDP6, addr)
    assert bad is None and rx == 1 and drops == 475174


@needs_ref
def test_udp_without_match():
    addr = [ip_v4(bytes([0xDE, 0xAD, 0xBE, 0xEF]), 0xF00D)]
    has, unspec, bad = contains_unspecified_addr(addr)
    with pytest.raises(ValueError, match="entry not found"):
        proc_net_udp(UDP4, addr, has, unspec)


# ------------------------------------------------------------ helpers

def test_addr_forms():
    assert ip_v4(bytes([0x7F, 0, 0, 1]), 0x17AC) == "0100007F:17AC"
    ip = bytearray(16)
    ip[15] = 0x01  # ::1
    assert ip_v6(bytes(ip), 80) == \
        "01000000000000000000000000000000:0050"


def test_addrs_resolution():
    a4, a6, warn = addrs("127.0.0.1:6060")
    assert a4 == ["0100007F:17AC"]
    assert warn == []
    with pytest.raises(ValueError, match="could not split host and "
                       "port"):
        addrs("no-port")


# ----------------------------------------------------------- live poll

def test_live_poll_against_real_proc():
    """Bind a real UDP socket and observe its procfs row through the
    production poll path (Linux CI — /proc is present here)."""
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    try:
        m = poll_udp_metrics(f"127.0.0.1:{port}")
        assert m["device"] == f"127.0.0.1:{port}"
        assert m["receive_queue_length"] is not None
        assert m["receive_queue_length"] >= 0
        assert m["system_packet_drops"] >= 0
    finally:
        s.close()
