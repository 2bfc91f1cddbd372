"""Remaining small operators to complete the SURVEY.md §2 inventory.

  if_then_else     processors/conditionals.go:181-268
  add_labels       actions/add_labels.go:36 (flattened labels)
  move_fields      move_fields/move_fields.go:34 (re-parent)
  add_data_stream  add_data_stream/ (routing meta triple)
  now              now/now.go:44
  codec_json       outputs/codec/json/json.go:54 (serialization)
  codec_format     outputs/codec/format/format.go:38 (fmtstr line)
  schema_conv      common/schema/schema.go:30-60 (declarative projection)
  decode_xml       decode_xml/decode_xml.go:53 (gated: needs from_xml)
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..conditions import compile_condition
from ..dissect import cast_column

Stage = Callable[[DataFrame], DataFrame]


_ITE_COND = "__ite_cond"


def _guarded_specs(specs: list[dict], guard: dict) -> list[dict]:
    out = []
    for spec in specs:
        ((name, opts),) = spec.items()
        opts = dict(opts)
        w = opts.get("when")
        opts["when"] = {"and": [guard, w]} if w else guard
        out.append({name: opts})
    return out


def if_then_else(condition: dict, then: list[dict], otherwise: list[dict] | None = None):
    """Conditional sub-pipelines (conditionals.go:181-268).

    Single-scan fast path (VERDICT r2 carried item): when every branch
    stage accepts a `when` guard, the branch condition is evaluated ONCE
    into a temp boolean column (Beats evaluates the if-condition once
    per event, so later stages mutating condition fields must not
    re-decide the branch) and folded into each stage's guard — one pass
    over the input, no union, row-dropping stages included (drop_event's
    own `when` composes with the branch guard). Falls back to the
    union-of-filtered-branches form when a branch stage has no `when`
    parameter (e.g. reshaping stages)."""
    from . import compile_chain

    try:
        g_then = compile_chain(_guarded_specs(then, {"equals": {_ITE_COND: True}}))
        g_else = compile_chain(
            _guarded_specs(otherwise or [], {"equals": {_ITE_COND: False}})
        )
        then_chain = else_chain = None
    except (TypeError, ValueError):
        # a branch stage without a `when` parameter, or one that rejects
        # guarding (e.g. a compile-time column rename): compile the plain
        # chains for the union path
        g_then = g_else = None
        then_chain = compile_chain(then)
        else_chain = compile_chain(otherwise or [])

    def stage(df: DataFrame) -> DataFrame:
        cond = F.coalesce(compile_condition(condition, schema=dict(df.dtypes)), F.lit(False))
        if g_then is not None:
            out = df.withColumn(_ITE_COND, cond)
            out = g_else(g_then(out))
            return out.drop(_ITE_COND)
        then_df = then_chain(df.filter(cond))
        else_df = else_chain(df.filter(~cond))
        # align branch schemas CASE-INSENSITIVELY (Spark's default name
        # resolution): a branch renaming role→ROLE must not null-pad —
        # withColumn("ROLE") on a frame holding "role" silently replaces
        # it under caseSensitive=false, and unionByName matches the two
        # spellings anyway (r3 review fallout)
        else_names = {c.lower() for c in else_df.columns}
        then_names = {c.lower() for c in then_df.columns}
        for c in [c for c in then_df.columns if c.lower() not in else_names]:
            else_df = else_df.withColumn(c, F.lit(None).cast(dict(then_df.dtypes)[c]))
        for c in [c for c in else_df.columns if c.lower() not in then_names]:
            then_df = then_df.withColumn(c, F.lit(None).cast(dict(else_df.dtypes)[c]))
        return then_df.unionByName(else_df)

    return stage


def add_labels(labels: dict[str, Any], when: dict | None = None):
    """Flattened `labels.*` entries in the attrs map (add_labels.go:77-95):
    dotted keys stay dotted ('a.b' is the flat key), nested dicts flatten
    by joining with '.', and arrays flatten to index suffixes
    (add_labels_test.go 'add array' → array.0, array.1, array.2.hello);
    every value stringifies (flattenLabels renders via config.String)."""
    from .actions import _flatten_nested, add_fields

    flat: dict[str, Any] = {}
    for k, v in labels.items():
        _flatten_nested(k, v, flat, lists=True)
    return add_fields(flat, target="labels", when=when)


def move_fields(
    fields: list[str] | None = None,
    from_prefix: str = "",
    to_prefix: str = "",
    exclude: list[str] | None = None,
):
    """Re-parent columns by renaming prefix (move_fields.go:34-75 + its
    test table, flat-column projection: the reference's From object is a
    column-name prefix here, and To's object-vs-name-prefix distinction
    both land as a rename). `fields=None` moves EVERY column under
    `from_prefix` minus `exclude` (only honored with fields=None, like
    the reference's excludeMap) and the identity/meta columns; a rename
    landing on an existing column refuses at build (the rename
    processor's no-partial-writes rule)."""
    if fields is not None and exclude:
        raise ValueError("move_fields: `exclude` only applies when fields is unset")
    excl = set(exclude or [])

    def stage(df: DataFrame) -> DataFrame:
        from ..events import ATTRS_COL, FLAGS_COL

        protected = {"conv_id", "turn_idx", "ts", FLAGS_COL, ATTRS_COL}
        if fields is None:
            basenames = [
                c[len(from_prefix):]
                for c in df.columns
                if c.startswith(from_prefix) and c not in protected
            ]
        else:
            basenames = list(fields)
        renames: dict[str, str] = {}
        for b in basenames:
            if b in excl:
                continue
            src = from_prefix + b
            if src in df.columns and src not in protected:
                renames[src] = to_prefix + b
        # ONE atomic select, not a withColumnRenamed chain: sequential
        # renames let a target equal a later rename's not-yet-vacated
        # source ('b'→'x_b' while 'x_b'→'x_x_b' is pending renamed BOTH,
        # yielding duplicate column names — r5 review finding). Collision
        # check = duplicates among the FINAL names.
        final = [renames.get(c, c) for c in df.columns]
        seen: set[str] = set()
        for name in final:
            if name in seen:
                raise ValueError(f"move_fields: target column already exists: {name}")
            seen.add(name)
        return df.select([F.col(c).alias(n) for c, n in zip(df.columns, final)])

    return stage


def add_data_stream(ds_type: str = "logs", dataset: str = "generic", namespace: str = "default"):
    """data_stream triple + derived index meta (add_data_stream/
    add_data_stream.go:53-90).

    New() parity: empty dataset/namespace fall back to 'generic'/
    'default' at build time (add_data_stream.go:54-59). Run() parity:
    a per-event custom dataset — the reference's
    Meta[FieldMetaCustomDataset], carried here as a `_meta_dataset`
    column when present — overrides BOTH the dataset component of the
    raw index (idxNamePartialCache, '%s-%%s-%s') and
    data_stream.dataset / event.dataset; absent meta uses the cached
    literal index (add_data_stream.go:68-90)."""
    ds_type = ds_type or "logs"
    dataset = dataset or "generic"
    namespace = namespace or "default"

    def stage(df: DataFrame) -> DataFrame:
        if "_meta_dataset" in df.columns:
            ds_col = F.coalesce(F.col("_meta_dataset"), F.lit(dataset))
        else:
            ds_col = F.lit(dataset)
        return (
            df.withColumn("data_stream_type", F.lit(ds_type))
            .withColumn("data_stream_dataset", ds_col)
            .withColumn("data_stream_namespace", F.lit(namespace))
            .withColumn("event_dataset", ds_col)
            .withColumn(
                "_meta_index",
                F.concat_ws("-", F.lit(ds_type), ds_col, F.lit(namespace)),
            )
        )

    return stage


def now(target_field: str = "ingested_ts"):
    """now/now.go:44 — wall-clock stamp (testing aid; non-deterministic
    by design, excluded from oracle-compared outputs)."""

    def stage(df: DataFrame) -> DataFrame:
        return df.withColumn(target_field, F.current_timestamp())

    return stage


def codec_json(
    target: str = "serialized",
    columns: list[str] | None = None,
    escape_html: bool = False,
    envelope: dict | None = None,
    ts_col: str = "ts",
):
    """JSON codec (codec/json/json.go:54): serialize the event row for a
    sink that wants one JSON document per row.

    `envelope={"beat": ..., "version": ...}` produces the reference's
    wire shape byte-for-byte (json_test.go TestJsonCodec):
    `@timestamp` first (millisecond ISO, 'Z'), then `@metadata`
    {beat, type:"_doc", version}, then the fields sorted by name (Go
    marshals maps key-sorted); float NaN serializes as null (Go's
    encoder rejects NaN — the reference encodes it via its folder as
    null — while Spark's to_json would emit the string "NaN").
    Divergences: Pretty and LocalTime are not offered — one JSON doc
    per line is the only shape a line-oriented sink reads back, and
    timestamps are normalized UTC end-to-end in this engine."""

    def stage(df: DataFrame) -> DataFrame:
        cols = columns or [c for c in df.columns if not c.startswith("_")]
        dtypes = dict(df.dtypes)

        def _clean(c: str) -> Column:
            if dtypes.get(c) in ("double", "float"):
                return F.when(~F.isnan(F.col(c)), F.col(c)).alias(c)
            return F.col(c).alias(c)

        if envelope is not None:
            ts = F.date_format(
                F.col(ts_col).cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
            ).alias("@timestamp")
            meta = F.struct(
                F.lit(str(envelope.get("beat", ""))).alias("beat"),
                F.lit("_doc").alias("type"),
                F.lit(str(envelope.get("version", ""))).alias("version"),
            ).alias("@metadata")
            fields = [_clean(c) for c in sorted(c for c in cols if c != ts_col)]
            # Go's json.Marshal emits nil values as null; Spark's
            # default drops null struct fields
            out = F.to_json(
                F.struct(ts, meta, *fields), {"ignoreNullFields": "false"}
            )
        else:
            out = F.to_json(F.struct(*[_clean(c) for c in cols]))
        if escape_html:
            for ch, esc in (("<", "\\u003c"), (">", "\\u003e"), ("&", "\\u0026")):
                out = F.replace(out, F.lit(ch), F.lit(esc))
        return df.withColumn(target, out)

    return stage


def codec_format(template: str, target: str = "serialized"):
    """format codec (codec/format/format.go:38): fmtstr line per event."""
    from ..selector import compile_fmtstr

    def stage(df: DataFrame) -> DataFrame:
        # dtypes too, not just names: nested refs (%{[attrs][x]}) need
        # the root's type to prove getItem is analyzable (r4 ADVICE —
        # names alone made every multi-segment ref render null)
        value, _ = compile_fmtstr(template, dtypes=dict(df.dtypes))
        return df.withColumn(target, value)

    return stage


def schema_conv(spec: dict[str, dict], source_map: str = "attrs"):
    """Declarative map→event projection (schema.Conv, schema.go:30-60):
    {target_col: {"key": map_key, "type": t, "required": bool}}.
    Required-and-missing ⇒ row dropped (IgnoreAllErrors=false analog)."""

    def stage(df: DataFrame) -> DataFrame:
        required = []
        for target, conf in spec.items():
            raw = F.col(source_map).getItem(conf.get("key", target))
            df = df.withColumn(target, cast_column(raw, conf.get("type", "string")))
            if conf.get("required"):
                required.append(F.col(target).isNotNull())
        for cond in required:
            df = df.filter(cond)
        return df

    return stage


def decode_xml(
    field: str = "message",
    target: str | None = "xml",
    schema: str | None = None,
    fields: list[str] | None = None,
    to_lower: bool = True,
    overwrite_keys: bool = True,
    ignore_missing: bool = False,
    ignore_failure: bool = False,
    document_id: str | None = None,
):
    """decode_xml.go:53 — XML document decode, three modes:

      * `schema` (DDL string): full typed decode via from_xml — the
        100 TB-friendly form (typed columns prune and push down);
      * `fields` (element names): schema-less extraction of the named
        child elements as strings via xpath_string;
      * neither (r5, the reference's DEFAULT mode): fully-dynamic
        any-shape decode — an Arrow-batched expat walk reproducing
        common/encoding/xml/decode.go's recursion exactly (repeated
        element names → arrays in document order; attributes merge at
        EndElement and overwrite same-named children; per text run the
        LAST trimmed chunk wins and joins sub-elements as '#text';
        prolog encoding declarations ignored like CharsetReader). The
        nested result lands as canonical JSON text (sorted keys — Go
        map order is non-semantic): `target` names the column,
        target=None decodes in place (the reference's nil-Target
        default), target='' merges the top-level keys into the attrs
        map depth-1 (the WriteJSONKeys root-merge projected onto this
        engine's attrs model; `overwrite_keys` picks the merge winner).
        Rare path by design — for known shapes use `schema`.

    Dynamic-mode config parity (decode_xml_test.go): `to_lower`
    (default true, like the reference), `ignore_missing` /
    `ignore_failure` (missing or non-string fields are batch-uniform
    here, so both check at BUILD time; a per-row parse failure keeps
    the row unchanged and flags `decode_xml_error` unless
    ignore_failure), `document_id` (dotted path into the decoded map →
    `_meta_id`, removed from the output — string values only, like
    GetValue + SetID)."""
    if schema is not None or fields is not None:

        def stage_typed(df: DataFrame) -> DataFrame:
            col = F.col(field)
            if schema is not None:
                return df.withColumn(target, F.from_xml(col, schema))
            kv = []
            for name in fields:
                kv.extend([F.lit(name), F.xpath_string(col, F.lit(f"/*/{name}"))])
            return df.withColumn(target, F.create_map(*kv))

        return stage_typed

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("js string, doc_id string")
    def dynxml(s: pd.Series) -> pd.DataFrame:
        import json
        import xml.parsers.expat as expat

        def key_of(n):
            return n.lower() if to_lower else n

        def decode_one(text):
            if text is None:
                return None, None
            if not text.strip():
                # Go's tokenizer returns io.EOF → empty map, no error
                return "{}", None
            stack = [{"elems": {}, "buf": [], "cdata": "", "attrs": {}}]

            def flush(fr):
                if fr["buf"]:
                    # each markup boundary ends a CharData token; the
                    # token REPLACES the frame's cdata (decode.go:95-96)
                    fr["cdata"] = "".join(fr["buf"]).strip()
                    fr["buf"] = []

            def start(name, attrs):
                flush(stack[-1])
                stack.append(
                    {"elems": {}, "buf": [], "cdata": "", "attrs": attrs}
                )

            def chardata(d):
                stack[-1]["buf"].append(d)

            def end(name):
                fr = stack.pop()
                flush(fr)
                elems, cdata = fr["elems"], fr["cdata"]
                for ak, av in fr["attrs"].items():
                    elems[key_of(ak)] = av
                add = elems if elems else cdata
                if elems and cdata:
                    elems["#text"] = cdata
                parent = stack[-1]["elems"]
                k = key_of(name)
                if k not in parent:
                    parent[k] = add
                elif isinstance(parent[k], list):
                    parent[k].append(add)
                else:
                    parent[k] = [parent[k], add]

            # explicit encoding OVERRIDES the document's declaration —
            # the CharsetReader-ignores-encodings behavior
            p = expat.ParserCreate(encoding="utf-8")
            p.buffer_text = True
            p.StartElementHandler = start
            p.EndElementHandler = end
            p.CharacterDataHandler = chardata
            try:
                p.Parse(text, True)
            except expat.ExpatError:
                return None, None
            out = stack[0]["elems"]
            doc_id = None
            if document_id:
                parts = document_id.split(".")
                cur = out
                for pp in parts[:-1]:
                    cur = cur.get(pp) if isinstance(cur, dict) else None
                    if cur is None:
                        break
                if isinstance(cur, dict) and isinstance(cur.get(parts[-1]), str):
                    doc_id = cur.pop(parts[-1])
            return (
                json.dumps(out, ensure_ascii=False, separators=(",", ":"), sort_keys=True),
                doc_id,
            )

        pairs = [decode_one(t) for t in s]
        return pd.DataFrame({"js": [a for a, _ in pairs], "doc_id": [b for _, b in pairs]})

    def stage(df: DataFrame) -> DataFrame:
        from ..events import ATTRS_COL, ATTRS_TYPE, FLAGS_COL, append_flag, flags_column

        if field not in df.columns:
            if ignore_missing:
                return df
            raise ValueError(
                f"decode_xml: could not fetch value for key: {field}, key not found"
            )
        if dict(df.dtypes)[field] != "string":
            if ignore_failure:
                return df
            raise ValueError(f"decode_xml: field value is not a string: {field}")
        src = F.col(field)
        dec = dynxml(src)
        js = dec.getField("js")
        failed = src.isNotNull() & js.isNull()
        to = field if target is None else target
        new_cols: dict[str, Column] = {}
        if document_id is not None:
            prev = (
                F.col("_meta_id") if "_meta_id" in df.columns else F.lit(None).cast("string")
            )
            new_cols["_meta_id"] = F.coalesce(dec.getField("doc_id"), prev)
        if not ignore_failure:
            new_cols[FLAGS_COL] = append_flag(flags_column(df), "decode_xml_error", failed)
        if to == "":
            parsed = F.from_json(js, ATTRS_TYPE)
            base = (
                F.coalesce(F.col(ATTRS_COL), F.create_map().cast(ATTRS_TYPE))
                if ATTRS_COL in df.columns
                else F.create_map().cast(ATTRS_TYPE)
            )
            merged = (
                F.map_concat(base, parsed) if overwrite_keys else F.map_concat(parsed, base)
            )
            new_cols[ATTRS_COL] = F.when(parsed.isNotNull(), merged).otherwise(base)
        else:
            keep = src if to == field else F.lit(None).cast("string")
            new_cols[to] = F.when(~failed, js).otherwise(keep)
        return df.withColumns(new_cols)

    return stage


# winevent keyword bits (winlogbeat/sys/winevent/event.go:45-46): the
# audit-outcome bits live in nibble 13 (0-indexed from the LSB) of the
# 64-bit Keywords mask — 0x10000000000000 = failure, 0x20000000000000 =
# success; failure is checked first (event.go:107-111).
def _event_data_map(pairs):
    """AddPairs (winlogbeat/sys/winevent/maputil.go:45-83): empty values
    are ignored; an empty or default-'Data' key becomes param<N> where N
    is the 1-based index over ALL pairs (the Go loop index counts skipped
    pairs too); the FIRST occurrence of a key wins; values get Windows
    line endings collapsed and trailing newlines trimmed
    (sys/strings.go:43-46); no surviving pairs ⇒ NULL, not an empty map."""
    named = F.transform(
        pairs,
        lambda d, i: F.struct(
            F.when(
                d["_Name"].isNull() | d["_Name"].isin("", "Data"),
                F.concat(F.lit("param"), (i + F.lit(1)).cast("string")),
            )
            .otherwise(d["_Name"])
            .alias("key"),
            F.regexp_replace(
                F.regexp_replace(d["_VALUE"], r"\r\n", "\n"), r"\n+$", ""
            ).alias("value"),
        ),
    )
    # bind the filtered array once per row (r6: the outer `nonempty`
    # reference inside the first-wins dedup lambda re-ran the whole
    # transform+filter chain per element — see datapipe.dedup._bind1)
    from ..datapipe.dedup import _bind1

    def dedup_of(ne):
        return F.filter(
            ne,
            lambda s, i: ~F.exists(
                F.slice(ne, F.lit(1), i), lambda p: p["key"] == s["key"]
            ),
        )

    deduped = _bind1(
        F.filter(named, lambda s: s["value"].isNotNull() & (s["value"] != "")),
        dedup_of,
    )
    return F.when(F.size(deduped) > 0, F.map_from_entries(deduped))


_WINEVENT_XML_SCHEMA = """struct<
  System: struct<
    Provider: struct<_Name: string, _Guid: string, _EventSourceName: string>,
    EventID: bigint,
    Version: string, Level: bigint, Task: bigint, Opcode: bigint, Keywords: string,
    TimeCreated: struct<_SystemTime: string>,
    EventRecordID: bigint,
    Correlation: struct<_ActivityID: string, _RelatedActivityID: string>,
    Execution: struct<_ProcessID: bigint, _ThreadID: bigint>,
    Channel: string, Computer: string, Security: struct<_UserID: string>
  >,
  EventData: struct<Data: array<struct<_Name: string, _VALUE: string>>,
                    Binary: string>,
  ProcessingErrorData: struct<ErrorCode: bigint, DataItemName: string>,
  RenderingInfo: struct<Message: string, Level: string, Task: string, Opcode: string,
                        Channel: string, Provider: string,
                        Keywords: struct<Keyword: array<string>>>
>"""


# libbeat/common/encoding/xml/safe_reader.go:70-77 — every rune with
# unicode.IsControl && !unicode.IsSpace (C0 minus TAB/LF/VT/FF/CR, DEL,
# C1 minus NEL) renders as the literal text "\u%04x" before the XML
# decoder sees it
_SAFE_XML_CODEPOINTS = tuple(
    c
    for c in list(range(0x00, 0x20)) + [0x7F] + list(range(0x80, 0xA0))
    if c not in (0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x85)
)


def _safe_xml(col):
    for c in _SAFE_XML_CODEPOINTS:
        col = F.replace(col, F.lit(chr(c)), F.lit(f"\\u{c:04x}"))
    return col


_USER_DATA_MAX_PAIRS = 16


def _user_data_map(col):
    """UserData (winevent/event.go:233-265 + Fields():127-128): the pairs
    are the children of UserData's single wrapper element, run through
    the same AddPairs rules as event_data, with the wrapper's local name
    appended as `xml_name` when any pair survives.  from_xml cannot
    project arbitrary child names, so a bounded xpath walk (first
    %d children — log a scan cap, not a silent one: deeper documents
    keep their first %d pairs) extracts (name, value) pairs as Columns.
    """ % (_USER_DATA_MAX_PAIRS, _USER_DATA_MAX_PAIRS)
    base = "/*[local-name()='Event']/*[local-name()='UserData']/*[1]"
    entries = []
    for k in range(1, _USER_DATA_MAX_PAIRS + 1):
        key = F.xpath_string(col, F.lit(f"local-name({base}/*[{k}])"))
        val = F.xpath_string(col, F.lit(f"{base}/*[{k}]"))
        entries.append(
            F.when(key != "", F.struct(key.alias("_Name"), val.alias("_VALUE")))
        )
    pairs = F.filter(F.array(*entries), lambda s: s.isNotNull())
    mp = _event_data_map(pairs)
    wrapper = F.xpath_string(col, F.lit(f"local-name({base})"))
    return F.when(
        mp.isNotNull(),
        F.map_concat(mp, F.create_map(F.lit("xml_name"), wrapper)),
    )


def decode_xml_wineventlog(
    field: str = "message",
    target: str = "winlog",
    map_ecs_fields: bool = True,
):
    """decode_xml_wineventlog (decode_xml_wineventlog/processor.go:100-131
    + winlogbeat/sys/winevent/event.go:92-153) — Windows Event Log XML →
    a `winlog` struct column (+ flat ECS columns when map_ecs_fields).

    One typed from_xml pass (pure Column, codegen) projects the winevent
    shape; the winlog struct mirrors Event.Fields():
      channel, event_id (string form of EventID), provider_name/guid,
      record_id, version, task/opcode/level (the RenderingInfo rendered
      strings; level lowercased), keywords, time_created, outcome
      (Keywords audit bits: failure beats success), message (Windows
      line endings normalized), event_data (Data name→value map),
      activity_id / related_activity_id, process.pid / process.thread.id.

    ECS mapping (processor.go:140-153), flat-column convention of this
    engine (dots → underscores): event_code, event_kind='event',
    event_provider, event_action (task), host_name, event_outcome,
    log_level, message (overwrites `message` only when target field is
    not itself 'message' — the reference writes into the event root the
    same way).
    """

    def stage(df: DataFrame) -> DataFrame:
        raw = _safe_xml(F.col(field))
        e = F.from_xml(raw, _WINEVENT_XML_SCHEMA)
        sysf, rend = e["System"], e["RenderingInfo"]
        # audit outcome from the Keywords hex mask: nibble 13 from LSB =
        # char 3 of the 0x-stripped, 16-lpadded hex string
        nib = F.conv(
            F.substring(F.lpad(F.regexp_replace(sysf["Keywords"], "^0x", ""), 16, "0"), 3, 1),
            16,
            10,
        ).cast("int")
        outcome = (
            F.when(nib.bitwiseAND(F.lit(1)) > 0, F.lit("failure"))
            .when(nib.bitwiseAND(F.lit(2)) > 0, F.lit("success"))
        )
        # RemoveWindowsLineEndings (sys/strings.go:43-46): CRLF -> LF AND
        # trailing newlines trimmed
        msg = F.regexp_replace(
            F.regexp_replace(rend["Message"], "\r\n", "\n"), "\n+$", ""
        )
        # EventData.Pairs carries every child element (xml:",any") — the
        # <Binary> sibling joins the Data pairs under its element name
        bin_pair = F.when(
            e["EventData"]["Binary"].isNotNull(),
            F.array(
                F.struct(
                    F.lit("Binary").alias("_Name"),
                    e["EventData"]["Binary"].alias("_VALUE"),
                )
            ),
        ).otherwise(F.array().cast("array<struct<_Name: string, _VALUE: string>>"))
        all_pairs = F.concat(
            F.coalesce(
                e["EventData"]["Data"],
                F.array().cast("array<struct<_Name: string, _VALUE: string>>"),
            ),
            bin_pair,
        )
        win = F.struct(
            sysf["Channel"].alias("channel"),
            sysf["EventID"].cast("string").alias("event_id"),
            sysf["Provider"]["_Name"].alias("provider_name"),
            sysf["EventRecordID"].alias("record_id"),
            rend["Task"].alias("task"),
            sysf["Computer"].alias("computer_name"),
            rend["Keywords"]["Keyword"].alias("keywords"),
            rend["Opcode"].alias("opcode"),
            sysf["Provider"]["_Guid"].alias("provider_guid"),
            # xsd:unsignedByte, but producers ship junk ('101.3' on
            # NetApp appliances) — the reference coerces invalid to 0,
            # which AddOptional then omits; try_cast's NULL is the same
            # observable absence without nulling the whole System struct
            sysf["Version"].try_cast("bigint").alias("version"),
            F.try_to_timestamp(
                F.regexp_replace(
                    sysf["TimeCreated"]["_SystemTime"], r"(\.\d{6})\d*Z?$", "$1"
                )
            ).alias("time_created"),
            outcome.alias("outcome"),
            F.lower(rend["Level"]).alias("level"),
            msg.alias("message"),
            _event_data_map(all_pairs).alias("event_data"),
            _user_data_map(raw).alias("user_data"),
            F.when(
                e["ProcessingErrorData"]["ErrorCode"] != 0,
                e["ProcessingErrorData"]["ErrorCode"],
            ).alias("error_code"),
            sysf["Correlation"]["_ActivityID"].alias("activity_id"),
            sysf["Correlation"]["_RelatedActivityID"].alias("related_activity_id"),
            F.struct(
                sysf["Execution"]["_ProcessID"].alias("pid"),
                F.struct(sysf["Execution"]["_ThreadID"].alias("id")).alias("thread"),
            ).alias("process"),
            F.struct(sysf["Security"]["_UserID"].alias("identifier")).alias("user"),
        )
        out = df.withColumn(target, win)
        if map_ecs_fields:
            t = F.col(target)
            out = (
                out.withColumn("event_code", t["event_id"])
                .withColumn("event_kind", F.lit("event"))
                .withColumn("event_provider", t["provider_name"])
                .withColumn("event_action", t["task"])
                .withColumn("host_name", t["computer_name"])
                .withColumn("event_outcome", t["outcome"])
                .withColumn("log_level", t["level"])
            )
            if field != "message":
                out = out.withColumn("message", t["message"])
            else:
                out = out.withColumn("ecs_message", t["message"])
        return out

    return stage

