"""Reader-chain parse operators (SURVEY.md §2.2) — the stages Beats runs
on raw lines BEFORE an event exists, as DataFrame stages.

  include_lines / exclude_lines  filestream/input.go:646-665
  max_bytes                      libbeat/reader/readfile/limit.go
  ndjson parser                  libbeat/reader/readjson/json.go
  container parser               libbeat/reader/readjson/docker_json.go

All pure Column expressions (from_json / rlike / substring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..events import ATTRS_COL, ATTRS_TYPE, FLAG_TRUNCATED, FLAGS_COL, append_flag, flags_column


def include_lines(patterns: list[str], field: str = "text"):
    """Keep lines matching ANY pattern (include runs before exclude)."""

    def stage(df: DataFrame) -> DataFrame:
        cond = F.lit(False)
        for p in patterns:
            cond = cond | F.col(field).rlike(p)
        return df.filter(cond)

    return stage


def exclude_lines(patterns: list[str], field: str = "text"):
    def stage(df: DataFrame) -> DataFrame:
        cond = F.lit(False)
        for p in patterns:
            cond = cond | F.col(field).rlike(p)
        return df.filter(~F.coalesce(cond, F.lit(False)))

    return stage


def max_bytes(limit: int, field: str = "text"):
    """Truncate oversized messages + `truncated` flag (limit.go)."""

    def stage(df: DataFrame) -> DataFrame:
        over = F.length(F.col(field)) > limit
        return df.withColumn(FLAGS_COL, append_flag(flags_column(df), FLAG_TRUNCATED, over)).withColumn(
            field, F.substring(F.col(field), 1, limit)
        )

    return stage


def ndjson(
    field: str = "text",
    target: str = ATTRS_COL,
    message_key: str | None = None,
    keys_under_root: bool = False,
    overwrite_keys: bool = False,
    add_error_key: bool = True,
    expand_schema: str | None = None,
    document_id: str | None = None,
):
    """NDJSON line parser (readjson/json.go decode():69-103 +
    JSONParser.Next():146-207, json_config.go:21-35; json_test.go's
    TestDecodeJSON matrix ported in tests/test_readjson_reference_matrix).

    Default shape-unknown mode decodes into the attrs map; pass
    `expand_schema` (DDL string) to decode into typed top-level columns
    (keys_under_root with a declared schema — the 100 TB-friendly form,
    since typed columns prune and push down; the map form does not).

    Map-mode decode semantics follow decode() exactly:
      * a line is a decode FAILURE when it is not a JSON object —
        malformed, `null` (Go's jsonFields==nil branch), or a top-level
        scalar/array (Go's unmarshal-into-map error). Failures keep the
        original text and get "Error decoding JSON: …" (with the
        offending prefix, since Go's error strings aren't reproducible);
      * `message_key` found AND a string → text becomes that value;
      * found but NOT a string (incl. JSON null) → text becomes '' plus
        "Value of key 'K' is not a string";
      * missing → text becomes '' plus "Key 'K' not found".
    The found/string distinction rides on the VARIANT decode
    (try_parse_json + try_variant_get raw JSON text — a quoted first
    char means string), so it is exact even though the attrs map
    stringifies every value. `message_key`/`document_id` must be simple
    member names (variant path syntax). Errors populate error_message
    only when add_error_key (the text effects are unconditional, like
    the reference). Divergence: with NO message_key the reference blanks
    Content; here text is preserved — blanking a column whose source
    survives anyway is pure loss in a DataFrame.

    `document_id` (JSONParser.Next():169-181): the named member becomes
    `_meta_id` and is DELETED from the map — only when it is a string
    (json_test.go "extract event id with wrong type" expects no id for
    a number).
    """

    def stage(df: DataFrame) -> DataFrame:
        col = F.col(field)
        if expand_schema:
            from pyspark.sql.types import StructType

            parsed = F.from_json(col, expand_schema)
            failed = col.isNotNull() & parsed.isNull()
            # proper DDL parse — a naive split(',') breaks on parameterized
            # types like map<string,string> or decimal(10,2)
            names = [f.name for f in StructType.fromDDL(expand_schema)]
            if keys_under_root:
                for name in names:
                    df = df.withColumn(name, parsed.getField(name))
            else:
                df = df.withColumn("json", parsed)
            if add_error_key:
                df = df.withColumn(
                    "error_message",
                    F.when(
                        failed,
                        F.concat(F.lit("Error decoding JSON: "), F.substring(col, 1, 80)),
                    ),
                )
            if document_id:
                df = df.withColumn("_meta_id", parsed.getField(document_id).cast("string"))
            return df

        v = F.try_parse_json(col)
        obj_ok = v.isNotNull() & F.schema_of_variant(v).startswith("OBJECT")
        failed = col.isNotNull() & ~F.coalesce(obj_ok, F.lit(False))
        parsed = F.when(obj_ok, F.from_json(col, ATTRS_TYPE))
        if message_key:
            has_key = F.coalesce(F.map_contains_key(parsed, message_key), F.lit(False))
            raw = F.to_json(F.try_variant_get(v, f"$.{message_key}", "variant"))
            key_is_str = has_key & F.coalesce(raw.startswith('"'), F.lit(False))
        if document_id:
            id_raw = F.to_json(F.try_variant_get(v, f"$.{document_id}", "variant"))
            id_ok = F.coalesce(id_raw.startswith('"'), F.lit(False))
            parsed = F.when(
                ~id_ok, parsed
            ).otherwise(F.map_filter(parsed, lambda k, _: k != document_id))
        if target in df.columns:
            base = F.coalesce(F.col(target), F.create_map().cast(ATTRS_TYPE))
            merged = F.map_concat(base, parsed) if overwrite_keys else F.map_concat(parsed, base)
            df = df.withColumn(target, F.when(parsed.isNotNull(), merged).otherwise(F.col(target)))
        else:
            df = df.withColumn(target, parsed)
        # Column exprs are lazy name references: error/_meta_id columns must
        # materialize BEFORE message_key overwrites `field`, or they would
        # re-evaluate against the replaced text.
        if add_error_key:
            err = F.when(
                failed, F.concat(F.lit("Error decoding JSON: "), F.substring(col, 1, 80))
            )
            if message_key:
                err = (
                    F.when(failed, err)
                    .when(obj_ok & ~has_key, F.lit(f"Key '{message_key}' not found"))
                    .when(
                        obj_ok & has_key & ~key_is_str,
                        F.lit(f"Value of key '{message_key}' is not a string"),
                    )
                )
            df = df.withColumn("error_message", err)
        if document_id:
            df = df.withColumn(
                "_meta_id", F.when(id_ok, F.try_variant_get(v, f"$.{document_id}", "string"))
            )
        if message_key:
            df = df.withColumn(
                field,
                F.when(col.isNull() | failed, F.col(field))
                .when(key_is_str, F.element_at(F.from_json(col, ATTRS_TYPE), message_key))
                .otherwise(F.lit("")),
            )
        return df

    return stage


# docker json-file log line:
#   {"log":"...\n","stream":"stdout","attrs":{...},"time":"RFC3339Nano"}
_DOCKER_SCHEMA = "log string, stream string, time string, attrs map<string,string>"


def container(
    field: str = "text",
    stream: str = "all",
    fmt: str = "auto",
    criflags: bool = True,
):
    """Container log parser (docker_json.go:35-218, docker_json_test.go's
    full matrix): docker json-file or CRI, with stream filtering.

    Reference semantics this models exactly:
      * unparseable lines are SKIPPED, not emitted (Next():236-240 logs
        and continues) — a wrong-JSON / wrong-CRI / missing-or-invalid-
        timestamp line produces no row;
      * docker log content keeps its trailing newline (parseDockerJSONLog
        :207 sets Content = msg.Log verbatim); a docker line is PARTIAL
        iff the log is empty or does not end in '\\n' (:208);
      * docker `attrs` (the daemon's --log-opt labels/env map) land in
        `container_attrs` (→ docker.attrs, :199-205);
      * CRI with criflags=True splits ts/stream/tags/log on single
        spaces (SplitN, so the log keeps interior+leading spaces); tags
        are colon-separated and the line is partial iff any tag is 'P'
        (:146-161); ONE trailing '\\n' is stripped from PARTIAL lines
        only (:170-173, stripNewLine);
      * criflags=False is the 3-field legacy form ts/stream/log — no
        tag field, never partial (:127-132);
      * format 'auto' routes '{'-prefixed lines to the docker parser and
        everything else to CRI (parseAuto:212-218); 'docker'/'json-file'
        and 'cri' force one parser (New:77-85).

    Emits container_log / container_stream / container_time /
    container_flag ('P'/'F' from the partial bit — the cri_join_partials
    contract) / container_attrs. Stream filtering drops non-matching
    rows after parse (Next():287-289). Pure Column; one from_json + one
    split, no UDFs."""
    if fmt in ("docker", "json-file"):
        fmt = "docker"

    def stage(df: DataFrame) -> DataFrame:
        col = F.col(field)
        docker = F.from_json(col, _DOCKER_SCHEMA)
        docker_ts = F.try_to_timestamp(docker.getField("time"))
        docker_ok = docker.isNotNull() & docker_ts.isNotNull()
        dlog = F.coalesce(docker.getField("log"), F.lit(""))
        docker_partial = ~dlog.endswith("\n")  # empty ⇒ no trailing \n ⇒ partial
        n = 4 if criflags else 3
        parts = F.split(col, " ", n)
        cri_ts = F.try_to_timestamp(parts[0])
        cri_ok = (F.size(parts) >= n) & cri_ts.isNotNull()
        if criflags:
            cri_partial = F.array_contains(F.split(parts[2], ":"), "P")
        else:
            cri_partial = F.lit(False)
        cri_log_raw = parts[n - 1]
        # stripNewLine (:296-301): exactly ONE trailing \n, partials only
        cri_log = F.when(cri_partial, F.regexp_replace(cri_log_raw, r"\n$", "")).otherwise(
            cri_log_raw
        )
        if fmt == "docker":
            ok, log_c, stream_c, ts_c, partial_c = (
                docker_ok, dlog, F.coalesce(docker.getField("stream"), F.lit("")),
                docker_ts, docker_partial,
            )
            attrs_c = docker.getField("attrs")
        elif fmt == "cri":
            ok, log_c, stream_c, ts_c, partial_c = (
                cri_ok, cri_log, parts[1], cri_ts, cri_partial,
            )
            attrs_c = F.lit(None).cast("map<string,string>")
        else:  # auto
            is_docker = col.startswith("{")
            ok = F.when(is_docker, docker_ok).otherwise(cri_ok)
            log_c = F.when(is_docker, dlog).otherwise(cri_log)
            stream_c = F.when(
                is_docker, F.coalesce(docker.getField("stream"), F.lit(""))
            ).otherwise(parts[1])
            ts_c = F.when(is_docker, docker_ts).otherwise(cri_ts)
            partial_c = F.when(is_docker, docker_partial).otherwise(cri_partial)
            attrs_c = F.when(is_docker, docker.getField("attrs"))
        df = (
            df.filter(F.coalesce(ok, F.lit(False)))
            .withColumn("container_log", log_c)
            .withColumn("container_stream", stream_c)
            .withColumn("container_time", ts_c)
            .withColumn("container_flag", F.when(partial_c, F.lit("P")).otherwise(F.lit("F")))
            .withColumn("container_attrs", attrs_c)
        )
        if stream != "all":
            df = df.filter(F.col("container_stream") == stream)
        return df

    return stage


def cri_join_partials(
    group_cols: list[str] | None = None,
    order_col: str = "turn_idx",
    log_col: str = "container_log",
    flag_col: str = "container_flag",
    max_bytes: int = 0,
):
    """Join partial container lines into full log events (docker_json.go
    Next():242-286): consecutive 'P' fragments concatenate (no separator
    — they are fragments of one line) until the 'F' line that completes
    the event; a trailing partial run without an 'F' still flushes as
    one event (reader-EOF flush analog). Applies to BOTH formats — a
    docker line is partial when its log has no trailing newline
    (container() sets the flag).

    `max_bytes` > 0 enforces the reassembly cap (:262-283,
    TestDockerJSONMaxBytes): the assembled event is truncated to
    max_bytes and flagged `truncated`; the remaining fragments of the
    run are still consumed (drained) — the groupBy consumes the whole
    run by construction, so alignment to logical line boundaries is
    free here. The cut is byte-wise like the reference's slice (a torn
    multi-byte tail decodes to U+FFFD, mirroring the reference's torn
    raw bytes).

    Boundary rule: a row starts a new logical event iff the PREVIOUS row
    (per group, in order) was final ('F') or absent. Same windowed
    running-sum idiom as multiline — order-dependent per-key fold, same
    scale constraint documented in processors/stateful.py. Divergence
    note: the reference joins fragments across stream values and filters
    on the LAST line's stream; apply container()'s stream filter after
    this stage to match when fragments can interleave streams.
    """
    from pyspark.sql import Window

    groups = group_cols or ["conv_id"]

    def stage(df: DataFrame) -> DataFrame:
        from .stateful import _ordered_join

        w0 = Window.partitionBy(*groups).orderBy(order_col)
        prev_final = F.lag(F.col(flag_col) == "F", 1, True).over(w0)
        boundary = F.coalesce(prev_final, F.lit(True))
        w = Window.partitionBy(*groups).orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
        df = df.withColumn("_cri_grp", F.sum(boundary.cast("int")).over(w))
        # the joined event keeps the FIRST fragment's timestamp and stream
        # (Next() appends only Content to the first message, :279-281)
        carry = [
            F.min_by(F.col(c), F.col(order_col)).alias(c)
            for c in ("container_time", "container_stream")
            if c in df.columns
        ]
        out = (
            df.groupBy(*groups, "_cri_grp")
            .agg(
                F.min(order_col).alias(order_col),
                _ordered_join(order_col, log_col, ""),  # fragments: no separator
                F.max(F.col(flag_col) == "F").alias("complete"),
                F.count(F.lit(1)).alias("n_fragments"),
                *carry,
            )
            .drop("_cri_grp")
        )
        if max_bytes > 0:
            joined = F.col(log_col)
            over = F.octet_length(joined) > max_bytes
            cut = F.decode(F.substring(F.encode(joined, "utf-8"), 1, max_bytes), "utf-8")
            out = out.withColumn("truncated", F.coalesce(over, F.lit(False))).withColumn(
                log_col, F.when(over, cut).otherwise(joined)
            )
        return out

    return stage
