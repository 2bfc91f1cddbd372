"""TLS for the socket wire clients (kafka, mqtt, ES output) and the
shared HTTP transport.

Exercises beats_spark.tlsutil's beats-style ssl block (CAs,
verification modes, client certs, the ca_sha256 pin) over live TLS
servers: the kafka fake broker and mqtt fake broker wrapped in
server contexts, and an https ES endpoint with pin match/mismatch.
The HTTP inputs open their connections through beats_spark.httpconn:
CEL's do_request refuses a self-signed server, and a source scan
keeps every other module from building its own connection.
"""

from __future__ import annotations

import ssl
import threading

import pytest

from beats_spark.tlsutil import (
    TLSConfigError, cert_sha256_b64, check_ca_sha256,
    client_ssl_context, server_ssl_context,
)


def _self_signed(tmp_path, cn="127.0.0.1"):
    import datetime
    import ipaddress
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID
    key = rsa.generate_private_key(public_exponent=65537,
                                   key_size=2048)
    name = x509.Name([x509.NameAttribute(NameOID.COMMON_NAME, cn)])
    now = datetime.datetime.now(datetime.timezone.utc)
    cert = (x509.CertificateBuilder()
            .subject_name(name).issuer_name(name)
            .public_key(key.public_key())
            .serial_number(x509.random_serial_number())
            .not_valid_before(now - datetime.timedelta(minutes=1))
            .not_valid_after(now + datetime.timedelta(hours=1))
            .add_extension(x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.IPv4Address("127.0.0.1"))]),
                critical=False)
            .sign(key, hashes.SHA256()))
    cert_path = tmp_path / f"{cn}.crt"
    key_path = tmp_path / f"{cn}.key"
    cert_path.write_bytes(cert.public_bytes(
        serialization.Encoding.PEM))
    key_path.write_bytes(key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()))
    der = cert.public_bytes(serialization.Encoding.DER)
    return str(cert_path), str(key_path), der


# ------------------------------------------------------------ tlsutil

def test_verification_modes(tmp_path):
    cert, _key, _der = _self_signed(tmp_path)
    ctx = client_ssl_context({"certificate_authorities": [cert]})
    assert ctx.check_hostname and ctx.verify_mode == \
        ssl.CERT_REQUIRED
    ctx = client_ssl_context({"verification_mode": "certificate",
                              "certificate_authorities": [cert]})
    assert not ctx.check_hostname
    assert ctx.verify_mode == ssl.CERT_REQUIRED
    ctx = client_ssl_context({"verification_mode": "none"})
    assert ctx.verify_mode == ssl.CERT_NONE
    with pytest.raises(TLSConfigError,
                       match="unsupported verification_mode"):
        client_ssl_context({"verification_mode": "bogus"})
    with pytest.raises(TLSConfigError,
                       match="certificate and key must both"):
        client_ssl_context({"certificate": cert})


def test_ca_sha256_pin_values(tmp_path):
    _cert, _key, der = _self_signed(tmp_path)
    pin = cert_sha256_b64(der)
    assert len(pin) == 44  # base64 of 32 bytes


# ------------------------------------------------------- kafka client

def _tls_broker(tmp_path):
    from test_kafka_wire import FakeBroker, FakeClusterState
    cert, key, der = _self_signed(tmp_path)
    ctx = server_ssl_context(cert, key)
    state = FakeClusterState()
    b = FakeBroker(state, node_id=0)

    orig_get_request = b.get_request

    def get_request():
        sock, addr = orig_get_request()
        return ctx.wrap_socket(sock, server_side=True), addr

    b.get_request = get_request
    return b, state, cert, der


def test_kafka_client_over_tls(tmp_path):
    from beats_spark.kafka_wire import KafkaClient
    b, state, cert, der = _tls_broker(tmp_path)
    try:
        state.ensure_topic("events")
        c = KafkaClient("127.0.0.1", b.server_address[1],
                        tls={"certificate_authorities": [cert],
                             "ca_sha256": cert_sha256_b64(der)})
        md = c.metadata(["events"])
        assert "events" in str(md)
    finally:
        b.stop()


def test_kafka_client_tls_pin_mismatch(tmp_path):
    from beats_spark.kafka_wire import KafkaClient
    b, state, cert, _der = _tls_broker(tmp_path)
    try:
        with pytest.raises(TLSConfigError,
                           match="do not match any of the "
                                 "certificate chain"):
            KafkaClient("127.0.0.1", b.server_address[1],
                        tls={"certificate_authorities": [cert],
                             "ca_sha256": "A" * 43 + "="})
    finally:
        b.stop()


def test_kafka_client_tls_untrusted_ca_fails(tmp_path):
    from beats_spark.kafka_wire import KafkaClient
    b, _state, _cert, _der = _tls_broker(tmp_path)
    other_cert, _k, _d = _self_signed(tmp_path, cn="other")
    try:
        with pytest.raises(ssl.SSLError):
            KafkaClient("127.0.0.1", b.server_address[1],
                        tls={"certificate_authorities":
                             [other_cert]})
    finally:
        b.stop()


# -------------------------------------------------------- mqtt client

def test_mqtt_client_over_tls(tmp_path):
    import socket as _socket
    from beats_spark.mqtt_input import MQTTClient, encode_connack
    cert, key, der = _self_signed(tmp_path)
    ctx = server_ssl_context(cert, key)
    srv = _socket.socket()
    srv.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def serve():
        sock, _ = srv.accept()
        tls_sock = ctx.wrap_socket(sock, server_side=True)
        tls_sock.recv(4096)  # CONNECT
        tls_sock.sendall(encode_connack(0))
        tls_sock.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        c = MQTTClient("127.0.0.1", port,
                       tls={"certificate_authorities": [cert],
                            "ca_sha256": cert_sha256_b64(der)})
        c.disconnect()
    finally:
        srv.close()


def _ca_signed_pair(tmp_path):
    """A CA certificate and a leaf it signs — the shape the ca_sha256
    pin documents (pin the CA, serve the leaf)."""
    import datetime
    import ipaddress
    from cryptography import x509
    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import rsa
    from cryptography.x509.oid import NameOID
    now = datetime.datetime.now(datetime.timezone.utc)

    def name(cn):
        return x509.Name([x509.NameAttribute(NameOID.COMMON_NAME,
                                             cn)])

    ca_key = rsa.generate_private_key(public_exponent=65537,
                                      key_size=2048)
    ca_cert = (x509.CertificateBuilder()
               .subject_name(name("test-ca")).issuer_name(
                   name("test-ca"))
               .public_key(ca_key.public_key())
               .serial_number(x509.random_serial_number())
               .not_valid_before(now - datetime.timedelta(minutes=1))
               .not_valid_after(now + datetime.timedelta(hours=1))
               .add_extension(x509.BasicConstraints(
                   ca=True, path_length=None), critical=True)
               .sign(ca_key, hashes.SHA256()))
    leaf_key = rsa.generate_private_key(public_exponent=65537,
                                        key_size=2048)
    leaf = (x509.CertificateBuilder()
            .subject_name(name("127.0.0.1")).issuer_name(
                name("test-ca"))
            .public_key(leaf_key.public_key())
            .serial_number(x509.random_serial_number())
            .not_valid_before(now - datetime.timedelta(minutes=1))
            .not_valid_after(now + datetime.timedelta(hours=1))
            .add_extension(x509.SubjectAlternativeName(
                [x509.IPAddress(ipaddress.IPv4Address("127.0.0.1"))]),
                critical=False)
            .sign(ca_key, hashes.SHA256()))
    ca_path = tmp_path / "ca.crt"
    ca_path.write_bytes(ca_cert.public_bytes(
        serialization.Encoding.PEM))
    leaf_path = tmp_path / "leaf.crt"
    leaf_path.write_bytes(leaf.public_bytes(
        serialization.Encoding.PEM))
    key_path = tmp_path / "leaf.key"
    key_path.write_bytes(leaf_key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()))
    ca_der = ca_cert.public_bytes(serialization.Encoding.DER)
    return str(ca_path), str(leaf_path), str(key_path), ca_der


def test_ca_sha256_matches_configured_ca(tmp_path):
    # the documented usage: pin the CA's digest while the server
    # presents a CA-signed leaf — the pin must pass via the
    # configured CA file (the chain the verification ran through)
    from beats_spark.kafka_wire import KafkaClient
    from test_kafka_wire import FakeBroker, FakeClusterState
    ca, leaf, key, ca_der = _ca_signed_pair(tmp_path)
    ctx = server_ssl_context(leaf, key)
    state = FakeClusterState()
    b = FakeBroker(state, node_id=0)
    orig = b.get_request
    b.get_request = lambda: (lambda s, a:
                             (ctx.wrap_socket(s, server_side=True),
                              a))(*orig())
    try:
        state.ensure_topic("t")
        c = KafkaClient("127.0.0.1", b.server_address[1],
                        tls={"certificate_authorities": [ca],
                             "ca_sha256": cert_sha256_b64(ca_der)})
        assert c.metadata(["t"])
    finally:
        b.stop()


# -------------------------------------------------------- redis client

def test_redis_connect_over_tls(tmp_path):
    from test_redis_output import FakeRedisServer
    from beats_spark.redis_input import _redis_connect, \
        encode_command
    import socket as _socket
    cert, key, der = _self_signed(tmp_path)
    ctx = server_ssl_context(cert, key)
    srv = FakeRedisServer()
    srv.start()
    # a TLS-terminating front: accept TLS, pipe plaintext to the fake
    front = _socket.create_server(("127.0.0.1", 0))
    front_port = front.getsockname()[1]

    def pipe(a, b):
        try:
            while True:
                data = a.recv(65536)
                if not data:
                    return
                b.sendall(data)
        except OSError:
            pass

    def serve():
        sock, _ = front.accept()
        tls_sock = ctx.wrap_socket(sock, server_side=True)
        back = _socket.create_connection(("127.0.0.1", srv.port))
        threading.Thread(target=pipe, args=(back, tls_sock),
                         daemon=True).start()
        pipe(tls_sock, back)

    threading.Thread(target=serve, daemon=True).start()
    try:
        sock, reader = _redis_connect(
            "127.0.0.1", front_port, password="pw", db=2,
            timeout=5.0,
            tls={"certificate_authorities": [cert],
                 "ca_sha256": cert_sha256_b64(der)})
        sock.sendall(encode_command("PING"))
        assert reader.read_reply() in (b"PONG", "PONG")
        sock.close()
        # AUTH/PING/SELECT ran through the TLS socket
        verbs = [c[0].upper() for c in srv.commands]
        assert verbs[:3] == [b"AUTH", b"PING", b"SELECT"]
    finally:
        srv.close()
        front.close()


# ---------------------------------------------------------- es output

def test_es_connection_over_tls_with_pin(tmp_path):
    import json
    from http.server import BaseHTTPRequestHandler, \
        ThreadingHTTPServer
    from beats_spark.es_output import ESConnection
    cert, key, der = _self_signed(tmp_path)

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            data = json.dumps({"version": {"number": "8.0.0"}}
                              ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), H)
    httpd.socket = server_ssl_context(cert, key).wrap_socket(
        httpd.socket, server_side=True)
    port = httpd.server_address[1]
    threading.Thread(target=httpd.serve_forever,
                     daemon=True).start()
    try:
        conn = ESConnection(
            f"https://127.0.0.1:{port}",
            tls={"certificate_authorities": [cert],
                 "ca_sha256": cert_sha256_b64(der)})
        status, body = conn.request("GET", "/")
        assert status == 200
        assert json.loads(body)["version"]["number"] == "8.0.0"
        # a wrong pin refuses before any request
        conn2 = ESConnection(
            f"https://127.0.0.1:{port}",
            tls={"certificate_authorities": [cert],
                 "ca_sha256": "B" * 43 + "="})
        with pytest.raises(TLSConfigError,
                           match="do not match"):
            conn2.request("GET", "/")
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_ca_sha256_under_verification_mode_none(tmp_path):
    """verification_mode 'none' + ca_sha256: the pin must be checked
    against the PRESENTED leaf only — a pin naming a configured CA
    passed vacuously for any peer before the r6 fix (no chain
    verification proves the peer chains to that CA)."""
    from beats_spark.kafka_wire import KafkaClient
    b, state, _cert, der = _tls_broker(tmp_path)
    other_cert, _k, other_der = _self_signed(tmp_path, cn="otherca")
    try:
        state.ensure_topic("events")
        # pin names a *configured CA file* the peer does NOT chain to:
        # must FAIL under verification_mode none
        with pytest.raises(TLSConfigError,
                           match="do not match any of the "
                                 "certificate chain"):
            KafkaClient("127.0.0.1", b.server_address[1],
                        tls={"verification_mode": "none",
                             "certificate_authorities": [other_cert],
                             "ca_sha256": cert_sha256_b64(other_der)})
        # pin of the actual presented leaf still passes
        c = KafkaClient("127.0.0.1", b.server_address[1],
                        tls={"verification_mode": "none",
                             "ca_sha256": cert_sha256_b64(der)})
        md = c.metadata(["events"])
        assert "events" in str(md)
    finally:
        b.stop()


# ------------------------------------------------------ HTTP transport

def test_cel_do_request_verifies_certificate(tmp_path):
    """CEL's do_request rides the shared transport, so https checks
    the server certificate: a self-signed server is refused with the
    verification failure in the CEL error."""
    from http.server import BaseHTTPRequestHandler, \
        ThreadingHTTPServer
    from beats_spark.cel.engine import CELError
    from beats_spark.cel.input import compile_input_program
    cert, key, _der = _self_signed(tmp_path)

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), H)
    httpd.socket = server_ssl_context(cert, key).wrap_socket(
        httpd.socket, server_side=True)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        prog, optional_ns = compile_input_program(
            "get_request(state.url).do_request()")
        url = f"https://127.0.0.1:{httpd.server_address[1]}/"
        with pytest.raises(CELError,
                           match="CERTIFICATE_VERIFY_FAILED"):
            prog.eval({"state": {"url": url},
                       "optional": optional_ns})
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_http_connections_open_only_in_httpconn():
    """Every HTTP client connection is built by beats_spark/httpconn.py
    (one TLS policy), and nothing turns certificate checks off. A
    reference to the connection classes counts, not only a call, so
    `cls = HTTPSConnection if ... else HTTPConnection; cls(...)` is
    caught too."""
    import ast
    import pathlib
    root = pathlib.Path(__file__).resolve().parent.parent / "beats_spark"
    classes = {"HTTPConnection", "HTTPSConnection"}
    bad = []
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        if "_create_unverified_context" in src:
            bad.append(f"{path.relative_to(root)}: "
                       "_create_unverified_context")
        if path.name == "httpconn.py":
            continue
        for node in ast.walk(ast.parse(src)):
            name = (node.attr if isinstance(node, ast.Attribute) else
                    node.id if isinstance(node, ast.Name) else None)
            if name in classes:
                bad.append(f"{path.relative_to(root)}:{node.lineno}: "
                           f"{name}")
    assert bad == [], "\n".join(bad)
