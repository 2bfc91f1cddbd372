"""Routing — the Beats output layer's per-event sink choice as a Column.

The reference evaluates the selector per event and groups bulk requests
per sink (elasticsearch.go:144-166); we evaluate the selector as ONE
Column (`route`). The batch fan-out itself is `CheckpointedRun.run`
(checkpoint.py): one `partitionBy("_part", _sink)` write after a
rebalance on the same columns — one pass, files sized by data (about
one per unit and sink, split further by AQE when large), Iceberg/Hive-
style partition layout so downstream readers partition-prune by sink.

Skew: the rebalance's AQE split spreads a hot conversation's unit over
several files once it outgrows the advisory partition size — where
kafka's hash partitioner (partition.go:114-143) hotspots one partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .events import SINK_COL
from .selector import Selector

DEAD_LETTER_SINK = "sink_dead_letter"  # dead_letter_index analog (client.go:63-65)


def route(df: DataFrame, selector: Selector, ts_col: str = "ts") -> DataFrame:
    return df.withColumn(SINK_COL, selector.column(ts_col, dtypes=dict(df.dtypes)))


# FNV-32a parameters (Go hash/fnv, used by partition.go's hashers)
_FNV_OFFSET = 2166136261
_FNV_PRIME = 16777619

# Spark integer dtype → Go binary.Write width in bytes (little-endian)
_INT_WIDTHS = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8}


def _hex_bytes(bin_col):
    """array<long> of a binary column's bytes (via hex pairs) — pure
    Column, no UDF.

    r6 session 2: the hex pairs come from ONE consuming-regex pass
    (`regexp_extract_all(hex, '(..)')` — non-overlapping two-char
    matches, left-to-right, exactly the byte pairs) instead of a
    positional HOF `substring(h, 2i−1, 2)` per byte — measured 7× on
    the FNV byte-stream shape (34.7 → 4.8 s best-of-4 interleaved at
    the 10×-sf0.1 corpus), byte arrays bit-identical including
    NULL (→ []), empty and multi-byte UTF-8 inputs. Hex output is
    [0-9A-F] only, so none of the regex caveats the gram extractors
    need (DOTALL, surrogate positions) can arise."""
    pairs = F.coalesce(
        F.regexp_extract_all(F.hex(bin_col), F.lit("(..)"), 1),
        F.array().cast("array<string>"),
    )
    return F.transform(pairs, lambda p: F.conv(p, 16, 10).cast("long"))


def _utf8_bytes(col):
    return _hex_bytes(F.encode(col, "utf-8"))


def _le_bytes(col, width: int):
    """array<long> of an integer column's little-endian two's-complement
    bytes at the Go native width (binary.Write semantics)."""
    v = col.cast("long")
    return F.array(*[F.shiftright(v, 8 * i).bitwiseAND(F.lit(255)) for i in range(width)])


def fnv32a(byte_arrays) -> "F.Column":
    """FNV-32a over the concatenation of array<long> byte arrays —
    bit-identical to Go's hash/fnv New32a().Write(...).Sum32()."""
    stream = F.concat(*byte_arrays) if len(byte_arrays) > 1 else byte_arrays[0]
    return F.aggregate(
        stream,
        F.lit(_FNV_OFFSET).cast("long"),
        lambda acc, b: acc.bitwiseXOR(b) * _FNV_PRIME % F.lit(4294967296),
    )


def hash2partition(hash_col, num_partitions: int):
    """Hash2Partition (partition.go:272-275): reinterpret the uint32 as
    int32, mask the sign bit, mod the partition count. The int32
    reinterpretation + & 0x7FFFFFFF is equivalent to hash & 0x7FFFFFFF
    on the uint32 value (golden vectors in TestHash2Partition ported)."""
    return (hash_col.bitwiseAND(F.lit(0x7FFFFFFF)) % num_partitions).cast("int")


def kafka_partition_column(
    df: DataFrame,
    n_partitions: int,
    fields: list[str],
    random_fallback: bool = True,
):
    """The Kafka PARTITION ID a reference fields-hash partitioner
    (partition.go:241-270 makeFieldsHashPartitioner + Hash2Partition)
    would assign — byte-compatible, as a pure Column.

    Spark's kafka sink honors an optional int `partition` column per
    row, so this IS the Spark-first shape of the reference's custom
    partitioner: compute the id declaratively, let the sink place the
    record. Field encodings per HashFieldValue (partition.go:277-320):
    strings hash their UTF-8 bytes, integers their little-endian
    two's-complement bytes at the Go native width (int→int32: Spark
    int is 4 bytes like Go int32; bigint→8). Floats are refused at
    build time: the reference feeds strconv.FormatFloat(v,'g',-1,32)
    through the hasher and shortest-round-trip float32 formatting is
    not expressible as a Column — hash a string/int key instead (the
    reference itself hashes host/beat ids, not floats).

    A NULL field value makes HashFieldValue error; the reference then
    uses a random hash when `random: true` (the default) or sends the
    event to partition 0 via the swallowed-error path (partition.go:
    131-133) when random=false. The batch analogs: a deterministic
    xxhash64 fallback (rand() is not replay-safe — same argument as
    kafka_partitioner's random mode) / literal 0."""
    dtypes = dict(df.dtypes)
    streams = []
    null_any = F.lit(False)
    for name in fields:
        if name not in dtypes:
            raise ValueError(f"kafka_partition_column: unknown field {name!r}")
        t = dtypes[name]
        if t == "string":
            streams.append(_utf8_bytes(F.col(name)))
        elif t in _INT_WIDTHS:
            streams.append(_le_bytes(F.col(name), _INT_WIDTHS[t]))
        elif t == "binary":
            streams.append(_hex_bytes(F.col(name)))
        else:
            raise ValueError(
                f"kafka_partition_column: field {name!r} has unhashable type {t} "
                "(reference FormatFloat parity is not Column-expressible)"
            )
        null_any = null_any | F.col(name).isNull()
    good = hash2partition(fnv32a(streams), n_partitions)
    if random_fallback:
        fallback = F.pmod(F.xxhash64(*[F.col(f) for f in fields]), F.lit(n_partitions)).cast("int")
    else:
        fallback = F.lit(0)
    return F.when(null_any, fallback).otherwise(good)


def kafka_partitioner(
    df: DataFrame,
    n_partitions: int,
    mode: str = "hash",
    fields: list[str] | None = None,
) -> DataFrame:
    """kafka/partition.go:64-143 — the three partitioner strategies as
    deterministic repartitions. 'random' hashes the event's natural key
    instead of calling rand(): Spark stages must be replay-deterministic
    or task retry duplicates rows — the same reason the reference caches
    a sticky partition per event for retry stability (partition.go:64-68).
    """
    if mode == "hash":
        cols = [F.col(c) for c in (fields or ["conv_id"])]
        return df.repartition(n_partitions, *cols)
    if mode == "round_robin":
        return df.repartition(n_partitions)  # Spark's round-robin partitioning
    if mode == "random":
        # hash the full 64-bit key, NOT a value pre-folded mod n — feeding
        # pmod(h, n) through repartition's own murmur3 collapses the key
        # space to n values of which ~1/e collide, leaving partitions empty
        cols = [F.col(c) for c in (fields or ["conv_id", "turn_idx"])]
        return df.repartition(n_partitions, F.xxhash64(*cols))
    raise ValueError(f"kafka_partitioner: unknown mode {mode!r}")


def kafka_topic_selector(cfg: dict) -> "Selector":
    """kafka.go:88-106 buildTopicSelector: topic/topics config with
    SelectorKeepCase (topics are case-sensitive, unlike ES indices) and
    FailEmpty — a config with neither key is a build error."""
    from .selector import selector_from_config

    return selector_from_config(
        cfg, key="topic", multi_key="topics",
        enable_single_only=True, fail_empty=True, case_insensitive=False,
    )


def es_index_selector(cfg: dict, default_index: str) -> "Selector":
    """idxmgmt/index_support.go:160-204 BuildSelector: `indices` rules
    first, the single `index` format after, with `default_index` (the
    '{beat}-{version}-%{+yyyy.MM.dd}' name) substituted when `index` is
    absent/empty — all SelectorLowerCase (std_test.go pins the folding).
    The reference's event-Meta["index"] override is a COLUMN concern
    here: see es_index_column."""
    from .selector import selector_from_config

    sel_cfg: dict = {}
    if "indices" in cfg:
        sel_cfg["indices"] = cfg["indices"]
    sel_cfg["index"] = cfg.get("index") or default_index
    return selector_from_config(
        sel_cfg, key="index", multi_key="indices",
        enable_single_only=True, fail_empty=True, case_insensitive=True,
    )


def es_index_column(
    selector: "Selector",
    dtypes: dict[str, str],
    ts_col: str = "ts",
    meta_col: str = "_meta_index",
):
    """The ES client's index pick for one event (client.go getIndex):
    event Meta 'index' (lowercased) wins over the selector — that is
    how add_formatted_index takes effect; absent meta falls through to
    the selector column."""
    sel = selector.column(ts_col=ts_col, dtypes=dtypes)
    if meta_col in dtypes:
        return F.coalesce(F.lower(F.col(meta_col)), sel)
    return sel


def bulk_item_action(
    status, already_dead_letter=None, dead_letter_configured: bool = True
):
    """elasticsearch/client.go:495-555 applyItemStatus — the per-item
    bulk-response policy, as a pure Column decision (replayable over a
    table of shipper bulk results):

      <300 → 'ack' ('dead_letter_ack' when the item was already a
      dead-letter retry); 409 → 'duplicate' (no retry); 429 → 'retry';
      other <500 → fatal: 'drop' when already dead-lettered or no
      dead-letter index is configured, else 'to_dead_letter' (redirected
      and retried); ≥500 → 'retry'.
    """
    status = F.col(status) if isinstance(status, str) else status
    if already_dead_letter is None:
        adl = F.lit(False)
    elif isinstance(already_dead_letter, str):
        adl = F.coalesce(F.col(already_dead_letter), F.lit(False))
    else:
        adl = already_dead_letter
    return (
        F.when(status < 300, F.when(adl, "dead_letter_ack").otherwise("ack"))
        .when(status == 409, F.lit("duplicate"))
        .when(status == 429, F.lit("retry"))
        .when(
            status < 500,
            F.when(adl | F.lit(not dead_letter_configured), "drop").otherwise(
                "to_dead_letter"
            ),
        )
        .otherwise(F.lit("retry"))
    )


def bulk_result_stats(
    df: DataFrame,
    status_col: str = "status",
    already_dead_letter_col: str | None = None,
    dead_letter_configured: bool = True,
) -> DataFrame:
    """bulkCollectPublishFails' bulkResultStats for a bulk-response
    table: acked / deadLetter (acked into the dead-letter index) /
    duplicates / nonIndexable (dropped) / tooMany / fails — fails
    counts every retried item (429, ≥500, and the <500 redirect, which
    client.go counts as a retryable failure)."""
    a = bulk_item_action(status_col, already_dead_letter_col, dead_letter_configured)
    c = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    df = df.withColumn("_act", a)
    act = F.col("_act")
    return df.agg(
        c(act == "ack").alias("acked"),
        c(act == "dead_letter_ack").alias("dead_letter"),
        c(act == "duplicate").alias("duplicates"),
        c(act == "drop").alias("non_indexable"),
        c(F.col(status_col) == 429).alias("too_many"),
        c(act.isin("retry", "to_dead_letter")).alias("fails"),
    )


def dead_letter_reencode(
    serialized,
    err_type,
    err_msg,
    ts_col: str = "ts",
):
    """event_encoder.go:140-152 setDeadLetter: the dead-letter document
    wraps the ORIGINAL encoded event as its `message` string plus
    error.type (the HTTP item status) and error.message, keyed with the
    event timestamp — so nothing is lost when a mapping-rejected event
    is shunted to the dead-letter index. Field order is Go's sorted map
    marshal; timestamps render in the codec's millisecond ISO form."""
    ser = F.col(serialized) if isinstance(serialized, str) else serialized
    et = F.col(err_type) if isinstance(err_type, str) else err_type
    em = F.col(err_msg) if isinstance(err_msg, str) else err_msg
    return F.to_json(
        F.struct(
            F.date_format(F.col(ts_col).cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
            .alias("@timestamp"),
            em.cast("string").alias("error.message"),
            et.cast("int").alias("error.type"),
            ser.cast("string").alias("message"),
        )
    )


def es_pipeline_column(
    selector=None,
    meta_col: str = "_meta_pipeline",
    dtypes: dict[str, str] | None = None,
    ts_col: str = "ts",
):
    """client.go getPipeline: the event-Meta pipeline (lowercased) wins;
    absent meta falls through to the configured pipeline selector; no
    selector → NULL (no pipeline parameter)."""
    sel = selector.column(ts_col=ts_col, dtypes=dtypes) if selector is not None else None
    meta = F.lower(F.col(meta_col)) if dtypes is not None and meta_col in dtypes else None
    if meta is not None and sel is not None:
        return F.coalesce(meta, sel)
    if meta is not None:
        return meta
    return sel if sel is not None else F.lit(None).cast("string")


def es_bulk_action(
    index,
    doc_id=None,
    pipeline=None,
    op_type=None,
    es_version: tuple[int, int] = (8, 0),
):
    """client.go:396-423 createEventBulkMeta — the bulk ACTION LINE for
    one event, as a JSON Column. Decision table exactly:

      op_type 'delete' → {"delete": meta}, but an id is REQUIRED
      (the reference fails the event; here the line is NULL — callers
      route NULL lines to the failure path);
      an id present, or ES ≥ 7.5 → 'index' op yields {"index": meta},
      anything else {"create": meta} (the default op);
      old ES without an id → {"index": meta}.

    `meta` = {_index, _type (only below ES 7: 'doc'), pipeline, _id},
    empty fields omitted like BulkMeta's omitempty (NULL struct fields
    are dropped by to_json's default)."""
    idx = F.col(index) if isinstance(index, str) else index
    did = (
        F.col(doc_id) if isinstance(doc_id, str)
        else (doc_id if doc_id is not None else F.lit(None).cast("string"))
    )
    pipe = (
        F.col(pipeline) if isinstance(pipeline, str)
        else (pipeline if pipeline is not None else F.lit(None).cast("string"))
    )
    op = (
        F.col(op_type) if isinstance(op_type, str)
        else (op_type if op_type is not None else F.lit(None).cast("string"))
    )
    major, minor = es_version
    doc_type = F.lit("doc") if major < 7 else F.lit(None).cast("string")
    meta = F.struct(
        idx.alias("_index"),
        doc_type.alias("_type"),
        F.nullif(pipe, F.lit("")).alias("pipeline"),
        F.nullif(did, F.lit("")).alias("_id"),
    )
    modern = major > 7 or (major == 7 and minor >= 5)
    has_id = did.isNotNull() & (did != "")
    return (
        F.when(
            op == "delete",
            F.when(has_id, F.to_json(F.struct(meta.alias("delete")))),
        )
        .when(
            has_id | F.lit(modern),
            F.when(op == "index", F.to_json(F.struct(meta.alias("index"))))
            .otherwise(F.to_json(F.struct(meta.alias("create")))),
        )
        .otherwise(F.to_json(F.struct(meta.alias("index"))))
    )
