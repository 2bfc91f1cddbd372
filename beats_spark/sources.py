"""Source layer — the filestream/log-input analog (SURVEY.md §2.1).

The reference's input layer solves: file discovery, per-source offset
tracking, rotation/truncation identity, and resumable reads
(filebeat/input/filestream/). On Spark those responsibilities move into
the table format + checkpoint manifests:

  discovery        table scan planning (file listing / Iceberg manifests)
  offsets          per-partition manifests (checkpoint.py)
  rotation         the table format owns file lifecycle
  gzip/encodings   parquet codecs / ingestion job's concern

`read_transcripts` is the single entry point: parquet today, Iceberg
when a catalog is configured (the runtime image here ships no
iceberg-spark-runtime jar — the call path is identical, only
`format()` changes). Batch and streaming share the schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_transcripts(
    spark: SparkSession,
    path_or_table: str,
    fmt: str = "parquet",
    since_ts: str | None = None,
    until_ts: str | None = None,
) -> DataFrame:
    """Batch read with time-range pushdown.

    `since_ts`/`until_ts` compile to scan-level predicates — with a
    `days(ts)` partition layout these prune whole files/partitions
    before any task launches (the at-scale equivalent of "only harvest
    files that changed").
    """
    df = spark.read.format(fmt).load(path_or_table)
    if since_ts:
        df = df.filter(F.col("ts") >= F.lit(since_ts).cast("timestamp"))
    if until_ts:
        df = df.filter(F.col("ts") < F.lit(until_ts).cast("timestamp"))
    return df


def read_tcp_lines(spark: SparkSession, host: str = "localhost", port: int = 9999) -> DataFrame:
    """TCP input analog (filebeat/input/tcp: line-delimited text over a
    socket). Spark's built-in socket source yields one row per line in a
    `line` column; the whole reader/parse stack (syslog, ndjson,
    dissect, …) applies to it unchanged — the framing/splitting the
    reference does in its tcp harvester is the source's job here.
    (UDP has no built-in Spark source; on a real deployment both arrive
    via kafka — format("kafka") — with an identical downstream plan.)
    """
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
        .withColumnRenamed("value", "line")
    )


def read_transcripts_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    max_files_per_trigger: int = 16,
) -> DataFrame:
    """Streaming read of an append-only transcript directory — the
    long-running-harvester analog. File-source checkpointing gives the
    same only-new-data guarantee as the filestream cursor."""
    reader = (
        spark.readStream.format(fmt)
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    from .events import TRANSCRIPT_SCHEMA

    return reader.schema(TRANSCRIPT_SCHEMA).load(path)


# Kafka wire schema as Spark's kafka source presents it — used by tests
# to analysis-check the projection without the connector jar in the image.
KAFKA_WIRE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)


def kafka_line_projection(df: DataFrame) -> DataFrame:
    """Kafka record → line event: value bytes decoded to text plus the
    source coordinates the reference's kafka input exposes as fields
    (filebeat/input/kafka/input.go: topic/partition/offset/timestamp).
    Split from read_kafka_lines so the projection is testable against a
    static frame when the connector jar is absent."""
    return df.select(
        F.col("value").cast("string").alias("line"),
        F.col("topic").alias("kafka_topic"),
        F.col("partition").alias("kafka_partition"),
        F.col("offset").alias("kafka_offset"),
        F.col("timestamp").alias("ts"),
    )


def read_kafka_lines(
    spark: SparkSession,
    bootstrap_servers: str,
    topics: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka input analog (filebeat/input/kafka): one row per record,
    value decoded to a `line` column — the whole reader/parse stack
    applies unchanged, exactly like the tcp/socket source. Requires the
    spark-sql-kafka connector jar at runtime (absent in this image; the
    option set + projection are analysis-checked in tests, and the
    downstream plan is identical to the file/tcp paths by construction).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topics)
        .option("startingOffsets", starting_offsets)
    )
    return kafka_line_projection(reader.load())


# ---------------------------------------------------------------------------
# UDP input — a real Spark streaming source for datagram lines
# (filebeat/input/udp: reads datagrams, one event per packet). Spark has
# no built-in UDP source; this one uses the PySpark 4 Python Data Source
# API. The reader runs driver-side (SimpleDataSourceStreamReader), drains
# whatever datagrams arrived since the last trigger, and advances a
# counting offset. Replay semantics match UDP itself: at-most-once — a
# datagram consumed into a batch is gone, so readBetweenOffsets (crash
# replay of a committed-but-unprocessed range) returns nothing and the
# rows of an in-flight batch are prefetch-buffered by Spark, exactly the
# delivery guarantee the reference's udp input has (no ACK, no cursor).
# ---------------------------------------------------------------------------

UDP_SOURCE_SCHEMA = "line string, sender string, recv_ts timestamp"


def register_udp_source(spark: SparkSession) -> None:
    """Register the `beats_udp` streaming format on this session.

    EVERYTHING the source needs is defined inside this function body:
    Spark ships the DataSource class to a separate Python runner process
    via cloudpickle, which serializes nested classes BY VALUE but
    module-level names by reference — a reference to anything in
    beats_spark would make the runner try (and possibly fail) to import
    the package. Self-containment is what makes the source work from a
    bare `spark-submit --py-files` deploy and from any cwd (caught by a
    ModuleNotFoundError in the driver drive, not by pytest-from-repo-root).
    """
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class UDPDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "beats_udp"

        def schema(self) -> str:
            # binary mode: raw datagram payloads (the netflow/binary-
            # protocol path — a lossy utf-8 decode would corrupt packets)
            if self.options.get("binary", "").lower() == "true":
                return "payload binary, sender string, recv_ts timestamp"
            return "line string, sender string, recv_ts timestamp"

        def simpleStreamReader(self, schema):
            options = dict(self.options)

            class UDPSimpleStreamReader(SimpleDataSourceStreamReader):
                def __init__(self):
                    # bind lazily: Spark instantiates the reader during
                    # analysis AND at stream start — an eager bind in the
                    # first instance would hold the port against the one
                    # that actually reads
                    self._sock = None
                    self._binary = options.get("binary", "").lower() == "true"
                    self._max_per_batch = int(options.get("maxdatagramsperbatch", "10000"))

                def _socket_lazy(self):
                    import socket as _socket

                    if self._sock is None:
                        self._sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
                        self._sock.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
                        self._sock.bind(
                            (options.get("host", "127.0.0.1"), int(options.get("port", "9999")))
                        )
                        self._sock.setblocking(False)
                    return self._sock

                def initialOffset(self) -> dict:
                    return {"count": 0}

                def read(self, start: dict):
                    import datetime

                    sock = self._socket_lazy()
                    rows = []
                    while len(rows) < self._max_per_batch:
                        try:
                            data, addr = sock.recvfrom(65535)
                        except BlockingIOError:
                            break
                        rows.append(
                            (
                                data if self._binary
                                else data.decode("utf-8", errors="replace"),
                                f"{addr[0]}:{addr[1]}",
                                datetime.datetime.now(),
                            )
                        )
                    return iter(rows), {"count": start["count"] + len(rows)}

                def readBetweenOffsets(self, start: dict, end: dict):
                    return iter([])  # datagrams are not replayable (at-most-once)

            return UDPSimpleStreamReader()

    spark.dataSource.register(UDPDataSource)


def read_udp_lines(spark: SparkSession, host: str = "127.0.0.1", port: int = 9998) -> DataFrame:
    """UDP input analog (filebeat/input/udp): one row per datagram with
    the sender address and receive time — the reader/parse stack applies
    unchanged, like the tcp and kafka paths."""
    register_udp_source(spark)
    return (
        spark.readStream.format("beats_udp")
        .option("host", host)
        .option("port", str(port))
        .load()
    )


def read_udp_packets(spark: SparkSession, host: str = "127.0.0.1", port: int = 9996) -> DataFrame:
    """Binary-datagram UDP input — raw `payload` bytes per datagram (no
    utf-8 decode), the ingest edge binary protocols need: compose with
    `netflow_packets` for the netflow input's UDP-server shape
    (x-pack/filebeat/input/netflow receives export packets this way)."""
    register_udp_source(spark)
    return (
        spark.readStream.format("beats_udp")
        .option("host", host)
        .option("port", str(port))
        .option("binary", "true")
        .load()
    )


# ---------------------------------------------------------------------------
# Socket stream inputs — filebeat/input/unix + filebeat/input/tcp over
# the shared inputsource/common/streaming server. Stream mode: a
# listener accepts connections and frames each connection's byte stream
# with the SplitFunc chosen by `framing` (listener.go:211-230):
# "delimiter" (bufio.ScanLines for "\n", FactoryDelimiter otherwise) or
# "rfc6587" (octet counting / non-transparent, scan.go:51-90 — the
# syslog-over-tcp wire format). A scanner error or a frame growing past
# `max_message_size` without progress drops that connection and its
# partial buffer — the reference's handler-exit-on-scan-error path; a
# clean close flushes the final token exactly as bufio does at EOF.
# Datagram mode (unix only): one message per datagram, no splitting
# (the reference validates line_delimiter/framing only for StreamSocket,
# inputsource/unix/config.go:66). Delivery is at-most-once like udp —
# no cursor, no replay (readBetweenOffsets is empty).
#
# The split logic is an inlined copy of processors/framing.py's
# SplitFunc port — kept self-contained so the data-source runner process
# never needs beats_spark importable; test_framing_matrix +
# test_streaming pin the two copies to identical verdicts.
# ---------------------------------------------------------------------------


def _register_socket_source(spark: SparkSession, fmt_name: str, family: str) -> None:
    """Register a `beats_unix` / `beats_tcp` streaming format.

    Self-contained for the same cloudpickle-by-value reason as
    `register_udp_source` — the runner process must not need the
    beats_spark package importable.
    """
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class SocketDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return fmt_name

        def schema(self) -> str:
            return "line string, sender string, recv_ts timestamp"

        def simpleStreamReader(self, schema):
            options = dict(self.options)

            class SocketSimpleStreamReader(SimpleDataSourceStreamReader):
                def __init__(self):
                    self._sock = None
                    self._conns = {}  # fd -> (socket, bytearray buffer, sender)
                    self._family = family
                    self._path = options.get("path")
                    self._host = options.get("host", "127.0.0.1")
                    self._port = int(options.get("port", "9997"))
                    self._stream = options.get("sockettype", "stream") == "stream"
                    self._delim = options.get("linedelimiter", "\n").encode("utf-8")
                    self._framing = options.get("framing", "delimiter")
                    # default 20 MiB, unix/input.go defaultConfig
                    self._max = int(options.get("maxmessagesize", str(20 * 1024 * 1024)))
                    self._max_per_batch = int(options.get("maxmessagesperbatch", "10000"))

                # ---- SplitFunc (scan.go port, inlined — see module note)
                def _split(self, data: bytes, at_eof: bool):
                    delim = self._delim
                    if at_eof and not data:
                        return 0, None, None
                    if self._framing == "rfc6587":
                        if len(data) <= 1:
                            return 0, None, None
                        if data[0:1].isdigit():
                            i = data.find(b" ")
                            if i > 0:
                                head = data[:i]
                                if not head.isdigit():
                                    return 0, None, f"invalid octet-count length {head!r}"
                                end = int(head) + i + 1
                                if len(data) >= end:
                                    return end, data[i + 1 : end], None
                            return 0, None, None
                        # fall through to non-transparent delimiter framing
                    elif delim == b"\n":
                        # bufio.ScanLines: strips one trailing \r
                        i = data.find(b"\n")
                        if i >= 0:
                            tok = data[:i]
                            return i + 1, (tok[:-1] if tok.endswith(b"\r") else tok), None
                        if at_eof:
                            return len(data), (
                                data[:-1] if data.endswith(b"\r") else data
                            ), None
                        return 0, None, None

                    def drop_delim(piece: bytes) -> bytes:
                        if len(piece) > len(delim) and piece.endswith(delim):
                            return piece[: -len(delim)]
                        return piece

                    i = data.find(delim)
                    if i >= 0:
                        return i + len(delim), drop_delim(data[:i]), None
                    if at_eof:
                        return len(data), drop_delim(data), None
                    return 0, None, None

                def _scan_buf(self, buf: bytearray, rows, sender, at_eof: bool) -> bool:
                    """Drain complete frames from buf; True = drop the
                    connection (scanner error / ErrTooLong)."""
                    import datetime

                    while True:
                        adv, tok, err = self._split(bytes(buf), at_eof)
                        if err is not None:
                            buf.clear()
                            return True
                        if adv == 0 and tok is None:
                            if not at_eof and len(buf) > self._max:
                                # bufio.ErrTooLong: no progress on a
                                # full buffer → handler exits, partial lost
                                buf.clear()
                                return True
                            return False
                        del buf[:adv]
                        if tok is not None:
                            rows.append(
                                (
                                    tok.decode("utf-8", errors="replace"),
                                    sender,
                                    datetime.datetime.now(),
                                )
                            )

                def _socket_lazy(self):
                    import os as _os
                    import socket as _socket

                    if self._sock is None:
                        if self._family == "unix":
                            kind = (
                                _socket.SOCK_STREAM if self._stream else _socket.SOCK_DGRAM
                            )
                            sock = _socket.socket(_socket.AF_UNIX, kind)
                            # the reference server unlinks a stale socket
                            # file before binding (unix/server.go cleanup)
                            try:
                                _os.unlink(self._path)
                            except FileNotFoundError:
                                pass
                            sock.bind(self._path)
                        else:
                            sock = _socket.socket(_socket.AF_INET, _socket.SOCK_STREAM)
                            sock.setsockopt(_socket.SOL_SOCKET, _socket.SO_REUSEADDR, 1)
                            sock.bind((self._host, self._port))
                        if self._stream or self._family != "unix":
                            sock.listen(16)
                        sock.setblocking(False)
                        self._sock = sock
                    return self._sock

                def initialOffset(self) -> dict:
                    return {"count": 0}

                def _drain_stream(self, rows):
                    sock = self._socket_lazy()
                    while True:
                        try:
                            conn, addr = sock.accept()
                        except (BlockingIOError, OSError):
                            break
                        conn.setblocking(False)
                        sender = (
                            self._path
                            if self._family == "unix"
                            else f"{addr[0]}:{addr[1]}"
                        )
                        self._conns[conn.fileno()] = (conn, bytearray(), sender)
                    dead = []
                    for fd, (conn, buf, sender) in self._conns.items():
                        closed = dropped = False
                        while len(rows) < self._max_per_batch:
                            try:
                                chunk = conn.recv(65536)
                            except BlockingIOError:
                                break
                            except OSError:
                                closed = True
                                break
                            if not chunk:
                                closed = True
                                break
                            buf.extend(chunk)
                            if self._scan_buf(buf, rows, sender, at_eof=False):
                                dropped = True
                                break
                        if closed and not dropped:
                            # Scanner EOF: flush the final token(s)
                            self._scan_buf(buf, rows, sender, at_eof=True)
                        if closed or dropped:
                            try:
                                conn.close()
                            except OSError:
                                pass
                            dead.append(fd)
                    for fd in dead:
                        del self._conns[fd]

                def _drain_dgram(self, rows):
                    import datetime

                    sock = self._socket_lazy()
                    while len(rows) < self._max_per_batch:
                        try:
                            data = sock.recv(self._max)
                        except (BlockingIOError, OSError):
                            break
                        rows.append(
                            (
                                data.decode("utf-8", errors="replace"),
                                self._path,
                                datetime.datetime.now(),
                            )
                        )

                def read(self, start: dict):
                    rows = []
                    if self._stream or self._family != "unix":
                        self._drain_stream(rows)
                    else:
                        self._drain_dgram(rows)
                    return iter(rows), {"count": start["count"] + len(rows)}

                def readBetweenOffsets(self, start: dict, end: dict):
                    return iter([])  # at-most-once, like the reference

            return SocketSimpleStreamReader()

    spark.dataSource.register(SocketDataSource)


def register_unix_source(spark: SparkSession) -> None:
    _register_socket_source(spark, "beats_unix", "unix")


def register_tcp_source(spark: SparkSession) -> None:
    _register_socket_source(spark, "beats_tcp", "inet")


def read_unix_lines(
    spark: SparkSession,
    path: str,
    socket_type: str = "stream",
    line_delimiter: str = "\n",
    max_message_size: int = 20 * 1024 * 1024,
    framing: str = "delimiter",
) -> DataFrame:
    """Unix socket input analog (filebeat/input/unix/input.go:44-57 —
    defaults: StreamSocket, line_delimiter "\\n", max_message_size
    20 MiB, framing "delimiter"; "rfc6587" enables octet-counting /
    non-transparent syslog framing). One row per framed message in a
    `line` column; the reader/parse stack applies unchanged, like
    tcp/udp/kafka."""
    if socket_type not in ("stream", "datagram"):
        raise ValueError(f"unix input: unknown socket_type {socket_type!r}")
    if socket_type == "stream":
        from .processors.framing import split_func

        split_func(framing, line_delimiter)  # listener.go refusals at build
    register_unix_source(spark)
    return (
        spark.readStream.format("beats_unix")
        .option("path", path)
        .option("socketType", socket_type)
        .option("lineDelimiter", line_delimiter)
        .option("framing", framing)
        .option("maxMessageSize", str(max_message_size))
        .load()
    )


def read_tcp_framed_lines(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 9997,
    line_delimiter: str = "\n",
    max_message_size: int = 20 * 1024 * 1024,
    framing: str = "delimiter",
) -> DataFrame:
    """TCP input with the full framing surface (filebeat/input/tcp over
    inputsource/tcp) — unlike `read_tcp_lines`' built-in socket source
    (newline-only), this rides the beats_tcp Python Data Source and
    supports custom delimiters and RFC 6587 octet-counting framing, and
    carries the remote address in `sender` (the input's
    log.source.address). Compose with the `syslog_input` stage for the
    complete syslog-over-tcp path."""
    from .processors.framing import split_func

    split_func(framing, line_delimiter)  # listener.go refusals at build
    register_tcp_source(spark)
    return (
        spark.readStream.format("beats_tcp")
        .option("host", host)
        .option("port", str(port))
        .option("lineDelimiter", line_delimiter)
        .option("framing", framing)
        .option("maxMessageSize", str(max_message_size))
        .load()
    )


def read_stdin_lines(spark: SparkSession, fh=None) -> DataFrame:
    """stdin input analog (filebeat/input/stdin/input.go — a log
    harvester over file.State{Source: "-"}). The reference binds stdin
    to the single filebeat process; here stdin belongs to the driver, so
    the source drains the driver's stdin to EOF into a batch frame —
    the `cat access.log | app` shape stdin input exists for. One row per
    line in a `line` column (trailing \\n / \\r\\n stripped, like the
    line reader); the whole downstream reader/parse stack (encodings,
    include/exclude, multiline, …) applies unchanged. Not a distributed
    source by nature — a single fd has no parallel scan — so at scale
    this is the ingest-edge tool, not the table path.
    """
    import sys

    if fh is None:
        fh = sys.stdin
    buf = fh.buffer if hasattr(fh, "buffer") else fh
    data = buf.read()
    if isinstance(data, str):
        data = data.encode("utf-8")
    lines = []
    for raw in data.split(b"\n"):
        lines.append(raw[:-1] if raw.endswith(b"\r") else raw)
    # a trailing newline leaves one empty final token — not a line
    if lines and lines[-1] == b"":
        lines.pop()
    return spark.createDataFrame(
        [(ln.decode("utf-8", errors="replace"),) for ln in lines], "line string"
    )
