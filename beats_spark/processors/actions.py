"""Mutate-family processors (reference: libbeat/processors/actions/, 2,792 LoC).

Each function returns a Stage (DataFrame -> DataFrame). All are pure
Column expressions — zero UDFs, zero shuffles; Catalyst collapses a chain
of these into a single Project.

Dot-path fields map to: top-level column when it exists, else an entry in
the `attrs` map (SURVEY.md §1.3 schema-on-write rule).
"""

from __future__ import annotations

from hashlib import md5
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..conditions import compile_condition
from ..events import ATTRS_COL, ATTRS_TYPE, FLAG_TRUNCATED, FLAGS_COL, append_flag, flags_column


def _with_guarded(df: DataFrame, name: str, new_col: Column, when: dict | None) -> DataFrame:
    """withColumn under an optional `when` guard: non-matching rows keep
    the original value (conditionals.go:59-100)."""
    if when is None:
        return df.withColumn(name, new_col)
    cond = compile_condition(when, schema=dict(df.dtypes))
    # backticked: `name` may be a literally-dotted column (r5 review —
    # the unquoted form resolved it as a struct path and threw)
    orig = F.col(f"`{name}`") if name in df.columns else F.lit(None)
    return df.withColumn(name, F.when(cond, new_col).otherwise(orig))


def _attrs(df: DataFrame) -> Column:
    if ATTRS_COL in df.columns:
        return F.coalesce(F.col(ATTRS_COL), F.create_map().cast(ATTRS_TYPE))
    return F.create_map().cast(ATTRS_TYPE)


def _flatten_nested(prefix: str, v: Any, out: dict[str, Any], lists: bool) -> None:
    """Flatten nested dicts (and, when `lists`, arrays) into dotted keys
    — the flat-attrs projection of mapstr nesting. add_labels flattens
    arrays to index suffixes (flattenLabels); add_fields' DeepUpdate
    does not, so its arrays stay whole (stringified into the map)."""
    if isinstance(v, dict):
        for k2, v2 in v.items():
            _flatten_nested(f"{prefix}.{k2}", v2, out, lists)
    elif lists and isinstance(v, (list, tuple)):
        for i, v2 in enumerate(v):
            _flatten_nested(f"{prefix}.{i}", v2, out, lists)
    else:
        out[prefix] = v


# -- add/copy/rename/drop ----------------------------------------------------


def add_fields(fields: dict[str, Any], target: str = "fields", when: dict | None = None):
    """add_fields.go:28-60 — literal fields under `target`.

    target '' (fields_under_root) ⇒ top-level columns; otherwise merged
    into the attrs map as `target.key` entries (DeepUpdate analog).
    """

    flat: dict[str, Any] = {}
    for k, v in fields.items():
        _flatten_nested(k, v, flat, lists=False)

    def stage(df: DataFrame) -> DataFrame:
        if target == "":
            for k, v in flat.items():
                df = _with_guarded(df, k, F.lit(v), when)
            return df
        kv = []
        for k, v in flat.items():
            kv.extend([F.lit(f"{target}.{k}"), F.lit(str(v))])
        merged = F.map_concat(_attrs(df), F.create_map(*kv))
        return _with_guarded(df, ATTRS_COL, merged, when)

    return stage


def add_tags(tags: list[str] | str, target: str = "tags", when: dict | None = None):
    """add_tags.go:38 — append tags, no dedup; a bare string is one tag
    (add_tags_test.go 'single tag config without array notation')."""
    if isinstance(tags, str):
        tags = [tags]

    def stage(df: DataFrame) -> DataFrame:
        base = (
            F.coalesce(F.col(target), F.array().cast("array<string>"))
            if target in df.columns
            else F.array().cast("array<string>")
        )
        return _with_guarded(df, target, F.concat(base, F.array(*[F.lit(t) for t in tags])), when)

    return stage


def copy_fields(
    fields: list[dict[str, str]],
    fail_on_error: bool = True,
    ignore_missing: bool = False,
    when: dict | None = None,
):
    """copy_fields.go:71-115 — [{'from': a, 'to': b}, ...], applied
    sequentially (a later pair sees an earlier pair's copy).

    An EXISTING target refuses (copyField's first check — 'target field
    already exists, drop or rename this field first'); a missing source
    is key-not-found unless ignore_missing. With fail_on_error=True
    either error raises at BUILD (the reference restores the backup
    clone, so nothing is applied — plan-time refusal is that whole-batch
    rollback); fail_on_error=False skips the failing pair and applies
    the rest (copy_fields.go:77-91 keeps looping). Dotted names are
    literally-dotted columns (the typed projection of mapstr paths)."""

    def stage(df: DataFrame) -> DataFrame:
        attrs_prefix = f"{ATTRS_COL}."
        for f in fields:
            src, dst = f["from"], f["to"]
            # attrs.* sources/targets are per-ROW map entries (module
            # docstring's dot-path rule): missing-source and target-
            # exists are row-level there — a row whose target key exists
            # keeps its value (the reference's unchanged-on-error event,
            # per row), one whose source key is absent copies NULL-free.
            dst_is_attr = dst.startswith(attrs_prefix)
            # target-exists check FIRST (copyField's order — it beats a
            # source-missing error)
            if not dst_is_attr and _schema_path(df.schema, dst) is not None:
                if fail_on_error:
                    raise ValueError(
                        f"copy_fields: target field {dst!r} already exists, "
                        "drop or rename this field first"
                    )
                continue
            if src.startswith(attrs_prefix):
                src_col = F.element_at(_attrs(df), src[len(attrs_prefix) :])
            else:
                src_col = _schema_path(df.schema, src)
                if src_col is None:
                    if ignore_missing or not fail_on_error:
                        continue
                    raise ValueError(
                        f"copy_fields: could not fetch value for key: {src}, key not found"
                    )
            if dst_is_attr:
                key = dst[len(attrs_prefix) :]
                guarded = F.when(
                    F.map_contains_key(_attrs(df), key) | src_col.isNull(),
                    _attrs(df),
                ).otherwise(
                    F.map_concat(
                        _attrs(df), F.create_map(F.lit(key), src_col.cast("string"))
                    )
                )
                df = _with_guarded(df, ATTRS_COL, guarded, when)
                continue
            df = _with_guarded(df, dst, src_col, when)
        return df

    return stage


def _schema_path(schema, key: str, prefix: str = "") -> Column | None:
    """GetValue-style path resolution against a typed schema: the full
    key as a LITERAL field name wins first (mapstr tries the dotted key
    directly), else the first dot splits off a struct to walk. Returns
    the resolved Column, or None when the path doesn't exist."""
    from pyspark.sql.types import StructType

    names = {fld.name: fld for fld in schema.fields}
    if key in names:
        return F.col(f"{prefix}`{key}`")
    head, dot, rest = key.partition(".")
    if dot and head in names and isinstance(names[head].dataType, StructType):
        return _schema_path(names[head].dataType, rest, prefix=f"{prefix}`{head}`.")
    return None


def rename(
    fields: list[dict[str, str]],
    fail_on_error: bool = True,
    ignore_missing: bool = False,
):
    """rename.go:34-51 — move a column; target must not exist.

    Renames apply SEQUENTIALLY, so order matters exactly like the
    reference (rename_test.go: freeing `b` via b→c lets a following
    a→b succeed). A conflict/missing source raises at BUILD when
    fail_on_error — which is also the reference's whole-batch rollback:
    nothing is applied. `ignore_missing` skips absent sources without
    suppressing target-exists errors; fail_on_error=False skips any
    failing pair and applies the rest (the partial-success case)."""

    def stage(df: DataFrame) -> DataFrame:
        for f in fields:
            src, dst = f["from"], f["to"]
            # target-exists check FIRST: renameField errors on the target
            # before even fetching the source, so ignore_missing must NOT
            # suppress a conflict whose source also happens to be absent
            # (r5 review — matches copy_fields' documented order)
            if dst in df.columns:
                if fail_on_error:
                    raise ValueError(
                        f"rename: target field {dst!r} already exists, "
                        "drop or rename this field first"
                    )
                continue
            if src not in df.columns:
                if ignore_missing or not fail_on_error:
                    continue
                raise ValueError(f"rename: source field {src!r} missing")
            df = df.withColumnRenamed(src, dst)
        return df

    return stage


def drop_fields(fields: list[str], ignore_missing: bool = True, when: dict | None = None):
    """drop_fields.go:58-125 — @timestamp ('ts') and identity keys are
    protected, plus the reference's MandatoryExportedFields ('type' and
    'type.*' are discarded from the drop list at config time).

    `/re/`-delimited entries are REGEXP fields (drop_fields.go:79-92):
    matched with an unanchored search against every FLATTENED dotted key
    — including intermediate struct/map keys, so a match on a parent
    path deletes the whole subtree (drop_fields_test.go's 'field_2$'
    also removes field_1.subfield_2). A malformed regexp refuses at
    build. Engine divergences: column names match with Python `re`,
    attrs-map keys with Java rlike (dialects agree on the reference
    corpus); a struct whose subfields ALL drop is dropped whole (no
    empty struct type exists here).

    `when` (r5): per-event drops — matching rows NULL the listed
    columns / filter the listed attrs keys, non-matching rows keep
    them; columns stay in the schema (NULL = absent). A regexp entry
    that would prune struct SUBfields refuses under `when` — a per-row
    subtree prune has no typed analog."""
    import re as _re

    if when is not None:
        compile_condition(when)  # fail-fast config validation at BUILD time

    plain: list[str] = []
    regexps: list[_re.Pattern] = []
    for i, f in enumerate(fields):
        if f == "type" or f.startswith("type."):
            continue  # MandatoryExportedFields (config.go:31)
        if f.startswith("/") and f.endswith("/") and len(f) > 2:
            try:
                regexps.append(_re.compile(f[1:-1]))
            except _re.error as e:
                raise ValueError(
                    f"drop_fields: wrong configuration in drop_fields[{i}]={f}. "
                    f"error parsing regexp: {e}"
                )
        else:
            plain.append(f)
    protected = {"ts", "conv_id", "turn_idx"}

    def _prune_struct(col: Column, dtype, prefix: str):
        """Rebuild a struct column without regexp-matched subpaths.
        Returns (column | None, changed): None when nothing survives,
        changed=False when no subpath matched (caller keeps the original
        column untouched)."""
        from pyspark.sql.types import StructType

        kept = []
        changed = False
        for fld in dtype.fields:
            path = f"{prefix}.{fld.name}"
            if any(r.search(path) for r in regexps):
                changed = True
                continue
            sub = col.getField(fld.name)
            if isinstance(fld.dataType, StructType):
                pruned, sub_changed = _prune_struct(sub, fld.dataType, path)
                changed = changed or sub_changed
                if pruned is None:
                    continue
                kept.append(pruned.alias(fld.name))
            else:
                kept.append(sub.alias(fld.name))
        return (F.struct(*kept) if kept else None), changed

    def stage(df: DataFrame) -> DataFrame:
        from pyspark.sql.types import StructType

        top = [f for f in plain if f in df.columns and f not in protected]
        if not ignore_missing:
            missing = [f for f in plain if f not in df.columns and not f.startswith("attrs.")]
            if missing:
                raise ValueError(f"drop_fields: missing {missing}")
        map_keys = [f[len("attrs.") :] for f in plain if f.startswith("attrs.")]
        if when is not None:
            dtypes = dict(df.dtypes)
            g = F.coalesce(compile_condition(when, schema=dtypes), F.lit(False))
            new_cols: dict[str, Column] = {}
            rx_top = [
                fld.name
                for fld in df.schema.fields
                if fld.name not in protected
                and fld.name not in (FLAGS_COL, ATTRS_COL)
                and any(r.search(fld.name) for r in regexps)
            ]
            for fld in df.schema.fields:
                if (
                    isinstance(fld.dataType, StructType)
                    and fld.name not in rx_top
                    and regexps
                    and _prune_struct(F.col(f"`{fld.name}`"), fld.dataType, fld.name)[1]
                ):
                    raise ValueError(
                        "drop_fields: a regexp matching struct subfields "
                        f"({fld.name}) cannot combine with `when` — per-row "
                        "subtree pruning has no typed analog"
                    )
            for c in {*top, *rx_top}:
                new_cols[c] = F.when(g, F.lit(None).cast(dtypes[c])).otherwise(
                    F.col(f"`{c}`")
                )
            if ATTRS_COL in df.columns and (map_keys or regexps):
                keys_arr = F.array(*[F.lit(k) for k in map_keys])

                def _keep_key(k):
                    cond = F.array_contains(keys_arr, k) if map_keys else F.lit(False)
                    for r in regexps:
                        cond = cond | k.rlike(r.pattern)
                    return ~cond

                filtered = F.map_filter(F.col(ATTRS_COL), lambda k, _: _keep_key(k))
                new_cols[ATTRS_COL] = F.when(g, filtered).otherwise(F.col(ATTRS_COL))
            return df.withColumns(new_cols) if new_cols else df
        out = df.drop(*top)
        if map_keys and ATTRS_COL in df.columns:
            keys_arr = F.array(*[F.lit(k) for k in map_keys])
            out = out.withColumn(
                ATTRS_COL,
                F.map_filter(F.col(ATTRS_COL), lambda k, _: ~F.array_contains(keys_arr, k)),
            )
        if regexps:
            for fld in list(out.schema.fields):
                name = fld.name
                # ATTRS_COL is an engine artifact, not an event key — its
                # KEYS are regexp-filtered below; the column itself must
                # never match (r5 review: /^at/ deleted the whole map)
                if name in protected or name in (FLAGS_COL, ATTRS_COL):
                    continue
                if any(r.search(name) for r in regexps):
                    out = out.drop(name)
                elif isinstance(fld.dataType, StructType):
                    pruned, changed = _prune_struct(F.col(f"`{name}`"), fld.dataType, name)
                    if not changed:
                        continue
                    if pruned is None:
                        out = out.drop(name)
                    else:
                        out = out.withColumn(name, pruned)
            if ATTRS_COL in out.columns:
                # attrs keys are flattened leaf names already
                java_rx = [r.pattern for r in regexps]

                def _none_match(k):
                    cond = F.lit(False)
                    for p in java_rx:
                        cond = cond | k.rlike(p)
                    return ~cond

                out = out.withColumn(
                    ATTRS_COL,
                    F.map_filter(F.col(ATTRS_COL), lambda k, _: _none_match(k)),
                )
        return out

    return stage


def include_fields(fields: list[str], when: dict | None = None):
    """include_fields.go:38-90 — keep-list; @timestamp + identity always
    kept, and MandatoryExportedFields ('type') is auto-added to the keep
    list (include_fields.go:54-64). attrs.* entries prune the attrs map
    to the listed keys.

    `when` (r5, processor_test.go TestIncludeFields /
    TestMultipleIncludeFields): a PER-EVENT keep-list — matching rows
    NULL their non-kept columns (NULL = absent, this engine's
    convention) and prune attrs; non-matching rows keep everything.
    Schema-level projection (columns physically dropped, the
    column-pruning fast path) only happens in the unconditional form —
    a column some rows keep must exist."""
    always = ["conv_id", "turn_idx", "ts", "type"]
    if when is not None:
        compile_condition(when)  # fail-fast config validation at BUILD time

    def stage(df: DataFrame) -> DataFrame:
        keep = [c for c in df.columns if c in set(fields) | set(always) or c in (FLAGS_COL,)]
        attr_keys = [f[len("attrs.") :] for f in fields if f.startswith("attrs.")]
        if attr_keys and ATTRS_COL in df.columns and ATTRS_COL not in keep:
            keep.append(ATTRS_COL)
        if when is None:
            out = df.select(*[F.col(f"`{c}`") for c in keep])
            if attr_keys and ATTRS_COL in out.columns and ATTRS_COL not in fields:
                keys_arr = F.array(*[F.lit(k) for k in attr_keys])
                out = out.withColumn(
                    ATTRS_COL,
                    F.map_filter(F.col(ATTRS_COL), lambda k, _: F.array_contains(keys_arr, k)),
                )
            return out
        dtypes = dict(df.dtypes)
        g = F.coalesce(compile_condition(when, schema=dtypes), F.lit(False))
        new_cols: dict[str, Column] = {}
        for c in df.columns:
            if c in keep:
                continue
            new_cols[c] = F.when(g, F.lit(None).cast(dtypes[c])).otherwise(F.col(f"`{c}`"))
        if attr_keys and ATTRS_COL in df.columns and ATTRS_COL not in fields:
            keys_arr = F.array(*[F.lit(k) for k in attr_keys])
            filtered = F.map_filter(
                F.col(ATTRS_COL), lambda k, _: F.array_contains(keys_arr, k)
            )
            new_cols[ATTRS_COL] = F.when(g, filtered).otherwise(F.col(ATTRS_COL))
        return df.withColumns(new_cols)

    return stage


def drop_event(when: dict | None = None):
    """drop_event.go:31-44 — guarded by `when`; an EMPTY config drops
    every event (processor_test.go TestEmptyCondition — the reference
    builds the processor with a nil condition and Run always returns
    nil)."""
    if when is not None:
        compile_condition(when)  # fail-fast config validation at BUILD time

    def stage(df: DataFrame) -> DataFrame:
        if when is None:
            return df.filter(F.lit(False))
        cond = compile_condition(when, schema=dict(df.dtypes))
        return df.filter(~F.coalesce(cond, F.lit(False)))

    return stage


# -- string mutations ----------------------------------------------------------


def replace(fields: list[dict[str, str]], when: dict | None = None):
    """replace.go:34-59 — [{'field': f, 'pattern': p, 'replacement': r}]."""

    def stage(df: DataFrame) -> DataFrame:
        for f in fields:
            new = F.regexp_replace(F.col(f["field"]), f["pattern"], f["replacement"])
            df = _with_guarded(df, f["field"], new, when)
        return df

    return stage


def truncate_fields(
    fields: list[str],
    max_characters: int | None = None,
    max_bytes: int | None = None,
    when: dict | None = None,
):
    """truncate_fields.go:38-71 — truncate + `truncated` flag.

    Exactly one of max_characters / max_bytes (the reference's mutually-
    exclusive pair). Byte mode measures the UTF-8 encoding; a cut that
    would split a multi-byte rune decodes its torn tail as U+FFFD
    (the reference slices raw bytes, leaving the torn tail torn — same
    byte budget, different rendering of the final partial rune).
    """
    if (max_characters is None) == (max_bytes is None):
        raise ValueError("truncate_fields: exactly one of max_characters/max_bytes")

    def measure(col: Column) -> Column:
        return F.length(col) if max_bytes is None else F.octet_length(col)

    def _utf8_safe_cut(col: Column, nbytes: int) -> Column:
        """Byte-truncate WITHOUT tearing a multi-byte rune: Spark 4's
        decode() throws MALFORMED_CHARACTER_CODING on a torn tail (it does
        not substitute U+FFFD), so a cut landing mid-rune would kill the
        job. Inspect the ≤4 trailing bytes of the cut, find the last lead
        byte, and drop the sequence if it is incomplete."""
        b = F.substring(F.encode(col, "utf-8"), 1, nbytes)
        ln = F.octet_length(b)

        def byte_at(pos: Column) -> Column:
            # byte value at 1-based pos; 0 when out of range
            return F.coalesce(
                F.conv(F.hex(F.substring(b, pos, F.lit(1))), 16, 10).try_cast("int"), F.lit(0)
            )

        def is_cont(v: Column) -> Column:
            return (v >= 128) & (v < 192)

        # t = number of trailing continuation bytes (0..3)
        b1, b2, b3 = byte_at(ln), byte_at(ln - 1), byte_at(ln - 2)
        t = (
            F.when(~is_cont(b1), F.lit(0))
            .when(~is_cont(b2), F.lit(1))
            .when(~is_cont(b3), F.lit(2))
            .otherwise(F.lit(3))
        )
        lead = byte_at(ln - t)
        expected = (
            F.when(lead >= 240, F.lit(3))
            .when(lead >= 224, F.lit(2))
            .when(lead >= 192, F.lit(1))
            .otherwise(t)  # ASCII/none: whatever trails is complete (valid input)
        )
        keep = F.when((ln > t) & (expected != t), ln - t - 1).otherwise(ln)
        return F.decode(F.substring(b, 1, keep), "utf-8")

    def cut(col: Column) -> Column:
        if max_bytes is None:
            return F.substring(col, 1, max_characters)
        return _utf8_safe_cut(col, max_bytes)

    lim = max_characters if max_bytes is None else max_bytes

    def stage(df: DataFrame) -> DataFrame:
        # Flag BEFORE truncating — the flag condition must see the
        # original lengths, not the already-truncated values.
        flag_cond = F.lit(False)
        for f in fields:
            flag_cond = flag_cond | (measure(F.col(f)) > lim)
        if when is not None:
            flag_cond = flag_cond & F.coalesce(
                compile_condition(when, schema=dict(df.dtypes)), F.lit(False)
            )
        df = df.withColumn(FLAGS_COL, append_flag(flags_column(df), FLAG_TRUNCATED, flag_cond))
        for f in fields:
            df = _with_guarded(df, f, cut(F.col(f)), when)
        return df

    return stage


def _case_fold(
    fold,
    fields,
    values,
    when,
    ignore_missing: bool = False,
    fail_on_error: bool = True,
    alter_full_field: bool = True,
):
    # MandatoryExportedFields discard (alterFieldProcessor.go:60-74,
    # config.go:31): 'type' and 'type.*' keys are never renamed —
    # filtered FIRST so a discarded field can't trip the guard check
    fields = [
        f
        for f in (fields or [])
        if f.lower() != "type" and not f.lower().startswith("type.")
    ]
    # a top-level key rename is a compile-time schema change and cannot be
    # row-guarded — combining it with `when` would silently rename for
    # non-matching rows too (found in r3 review). attrs.* key folds are
    # row-level and compose with `when` fine. Raising ValueError here also
    # makes if_then_else's guarded fast path fall back to the union form.
    if when is not None:
        top = [f for f in fields if not f.startswith(f"{ATTRS_COL}.")]
        if top:
            raise ValueError(
                f"case-fold: field-NAME folding of top-level columns {top} "
                "cannot be combined with a `when` guard (a column rename is "
                "not row-scoped); guard the values= form or drop the guard"
            )

    def _fold_key(name: str) -> str:
        # AlterFullField=true folds every path segment (for a case fold,
        # segment-wise == whole-string); false folds only the LAST
        # segment (alterFieldProcessor.go:127-146)
        if alter_full_field or "." not in name:
            return fold(name)
        head, _, last = name.rpartition(".")
        return f"{head}.{fold(last)}"

    def _missing(name: str):
        # a key absent from the schema is the reference's per-event
        # "key not found" made batch-uniform: ignore_missing skips it;
        # fail_on_error=True raises at BUILD (the reference restores the
        # backup event, so an error means nothing was applied — plan-time
        # refusal is that whole-batch rollback); else it is skipped
        if ignore_missing or not fail_on_error:
            return
        raise ValueError(f"case-fold: could not fetch value for key: {name}, key not found")

    def stage(df: DataFrame) -> DataFrame:
        # Beats contract (alterFieldProcessor.go:31, lowercase.go:31):
        # `fields` names the KEYS to case-fold (a compile-time column
        # rename here); `values` is the LIST of fields whose VALUES fold.
        # Value folds first (they reference original names), then renames
        # — the reference runs fields first and then resolves values
        # EXACT-case against the renamed event, so a key listed in both
        # errors there; here both apply (documented divergence).
        dtypes = dict(df.dtypes)
        for f in values or []:
            if f.startswith(f"{ATTRS_COL}."):
                if ATTRS_COL not in df.columns:
                    continue  # no attrs map — nothing to fold (don't create one)
                key = f[len(ATTRS_COL) + 1 :]
                folded_v = F.transform_values(
                    _attrs(df), lambda k, v: F.when(k == key, fold(v)).otherwise(v)
                )
                df = _with_guarded(df, ATTRS_COL, folded_v, when)
            elif f not in dtypes:
                # values resolve EXACT-case (alterValue uses GetValue,
                # not CaseInsensitiveMode — lowercase_test.go 'Fail On
                # Missing Key Error': a.B.c misses when only a.B.C exists)
                _missing(f)
            elif dtypes[f] != "string":
                # 'Fail if given path to value is not a string' — not a
                # key-not-found, so ignore_missing does NOT suppress it
                if fail_on_error:
                    raise ValueError(f'case-fold: value of key "{f}" is not a string')
            else:
                df = _with_guarded(df, f, fold(F.col(f"`{f}`")), when)
        for f in fields:
            if f.startswith(f"{ATTRS_COL}."):
                # nested-map key fold (alterFieldProcessor walks nested
                # maps): rename the key INSIDE the attrs map, row-level —
                # matched case-insensitively like AlterPath's
                # CaseInsensitiveMode; collisions resolve by the session
                # map dedup policy.
                key = f[len(ATTRS_COL) + 1 :].lower()
                if ATTRS_COL not in df.columns:
                    continue

                def _fold_key_col(kc: Column) -> Column:
                    if alter_full_field:
                        return fold(kc)
                    last = F.element_at(F.split(kc, r"\."), -1)
                    head = F.substr(kc, F.lit(1), F.length(kc) - F.length(last))
                    return F.concat(head, fold(last))

                renamed = F.map_from_entries(
                    F.transform(
                        F.map_entries(_attrs(df)),
                        lambda e: F.struct(
                            F.when(
                                F.lower(e.getField("key")) == key,
                                _fold_key_col(e.getField("key")),
                            )
                            .otherwise(e.getField("key"))
                            .alias("key"),
                            e.getField("value").alias("value"),
                        ),
                    )
                )
                df = _with_guarded(df, ATTRS_COL, renamed, when)
                continue
            # field NAMES match case-insensitively (CaseInsensitiveMode):
            # every column spelled like `f` folds — {ab, Ab} both match 'ab'
            matches = [c for c in df.columns if c.lower() == f.lower()]
            if not matches:
                _missing(f)
                continue
            for c in matches:
                folded = _fold_key(c)
                if folded == c:
                    continue
                if folded in df.columns:
                    # reference surfaces mapstr.ErrKeyCollision — a silent
                    # rename would produce duplicate column names and fail
                    # with AMBIGUOUS_REFERENCE far from the cause
                    raise ValueError(
                        f"case-fold: key collision — renaming {c!r} would "
                        f"collide with existing column {folded!r}"
                    )
                df = df.withColumnRenamed(c, folded)
        return df

    return stage


def lowercase(
    fields: list[str] | None = None,
    values: list[str] | None = None,
    when: dict | None = None,
    ignore_missing: bool = False,
    fail_on_error: bool = True,
    alter_full_field: bool = True,
):
    """lowercase.go:31 + alterFieldProcessor.go:31 — Beats option shape:
    `fields` = KEYS (column/attrs-key names) to fold, matched
    case-insensitively; `values` = fields whose string VALUES fold,
    matched exact-case. 'type'-rooted fields are discarded
    (MandatoryExportedFields); alter_full_field=False folds only the
    last path segment. Error modes per _case_fold."""
    return _case_fold(
        lambda x: F.lower(x) if isinstance(x, Column) else x.lower(),
        fields,
        values,
        when,
        ignore_missing=ignore_missing,
        fail_on_error=fail_on_error,
        alter_full_field=alter_full_field,
    )


def uppercase(
    fields: list[str] | None = None,
    values: list[str] | None = None,
    when: dict | None = None,
    ignore_missing: bool = False,
    fail_on_error: bool = True,
    alter_full_field: bool = True,
):
    return _case_fold(
        lambda x: F.upper(x) if isinstance(x, Column) else x.upper(),
        fields,
        values,
        when,
        ignore_missing=ignore_missing,
        fail_on_error=fail_on_error,
        alter_full_field=alter_full_field,
    )


def append(
    target_field: str,
    fields: list[str] | None = None,
    values: list[Any] | None = None,
    ignore_missing: bool = False,
    ignore_empty_values: bool = False,
    fail_on_error: bool = True,
    allow_duplicate: bool = True,
    when: dict | None = None,
):
    """append.go:94-139 — target array := existing target values ++ each
    `fields` entry's values (listed order; array values FLATTEN, scalars
    contribute one element — valueToArray, append.go:187-214) ++ static
    `values`. An existing scalar target becomes the array's first
    element (append_test.go 'target is a scaler').

    ignore_empty_values drops '' and NULL from the result
    (cleanEmptyValues); allow_duplicate=False keeps first occurrences in
    listed order (removeDuplicates ≡ array_distinct). Element type is
    string — the typed-column projection of mapstr's []any.

    Missing-source mapping: a field absent from the SCHEMA is the
    reference's per-event "key not found" made batch-uniform —
      * ignore_missing skips it (append.go:109-111);
      * else fail_on_error=True raises at BUILD: the reference reads all
        sources before writing anything, so an error leaves the event
        unchanged (TestAppendSafety's no-partial-state contract) —
        plan-time refusal is that rollback, batch-wide;
      * else (fail_on_error=False) the event passes through UNCHANGED —
        the reference logs and skips the whole append, never a partial
        one (Run only writes when appendValues succeeded).
    A present column's NULL row value means "key absent" here
    (schema-on-write rule, module docstring) and contributes nothing."""

    def stage(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)

        def _as_arr(name: str) -> Column:
            col = F.col(f"`{name}`")
            if dtypes[name].startswith("array<"):
                flat = col.cast("array<string>")
            else:
                flat = F.array(col.cast("string"))
            return F.when(col.isNotNull(), flat).otherwise(F.array().cast("array<string>"))

        parts: list[Column] = []
        if target_field in dtypes:
            parts.append(_as_arr(target_field))
        for f in fields or []:
            if f not in dtypes:
                if ignore_missing:
                    continue
                if fail_on_error:
                    raise ValueError(
                        f"append: could not fetch value for key: {f}, key not found"
                    )
                return df  # whole-append skip: no partial writes
            parts.append(_as_arr(f))
        parts.append(
            F.array(
                *[F.lit(v).cast("string") if v is not None else F.lit(None).cast("string") for v in (values or [])]
            ).cast("array<string>")
        )
        new = F.concat(*parts) if len(parts) > 1 else parts[0]
        if ignore_empty_values:
            new = F.filter(new, lambda x: x.isNotNull() & (x != ""))
        if not allow_duplicate:
            new = F.array_distinct(new)
        return _with_guarded(df, target_field, new, when)

    return stage


# -- ids / hashes ----------------------------------------------------------------


def es_time_uuid(ts_ms, seq, mac_hex: str):
    """The Elasticsearch time-based UUID byte layout (add_id/generator/
    es_generator.go packID:104-130): 15 bytes — seq low/3rd bytes first
    (index-sort friendly), then ts bytes 3-6 (slow-changing, compression
    friendly), 6 MAC bytes, then the fast-changing ts/seq tail —
    RawURLEncoding base64 (15 bytes → exactly 20 chars, no padding).

    `ts_ms`/`seq` are COLUMNS (the reference feeds wall clock + a
    process-random sequence; batch jobs must feed replay-deterministic
    values — see add_id). `mac_hex` is the 12-hex-digit munged-MAC
    analog (es_generator.go initOnce)."""
    if len(mac_hex) != 12:
        raise ValueError("es_time_uuid: mac_hex must be 6 bytes (12 hex digits)")
    ts = ts_ms.cast("long")
    sq = seq.cast("long")

    def byte_hex(v, shift):
        return F.lpad(F.hex(F.shiftright(v, shift).bitwiseAND(F.lit(255))), 2, "0")

    hexstr = F.concat(
        byte_hex(sq, 0), byte_hex(sq, 16),
        byte_hex(ts, 16), byte_hex(ts, 24), byte_hex(ts, 32), byte_hex(ts, 40),
        F.lit(mac_hex.upper()),
        byte_hex(ts, 8), byte_hex(sq, 8), byte_hex(ts, 0),
    )
    return F.translate(F.base64(F.unhex(hexstr)), "+/", "-_")


def add_id(
    target_field: str = "event_id",
    deterministic: bool = True,
    type: str = "sha",
):
    """add_id/add_id.go:32 — per-event id into `target_field` (the
    reference default target is @metadata._id; pass '_meta_id' for that
    analog — add_id_test.go's TestNonDefaultTargetField shows the field
    is whatever the config names).

    type='sha' (engine default): deterministic content id (sha2 of the
    natural key) so retried partitions write identical rows — the
    idempotence invariant of SURVEY.md §3.1. type='elasticsearch': the
    reference's ES time-based UUID BYTE FORMAT (packID layout, 20-char
    URL-safe base64) with deterministic inputs — ts from the event's
    `ts` column (epoch ms) standing in for wall clock, seq from the
    natural key's hash (bottom 3 bytes), MAC from a fixed engine id —
    format parity without replay-unsafe rand()/clock reads.
    deterministic=False keeps the honest uuid() escape hatch."""

    def stage(df: DataFrame) -> DataFrame:
        if not deterministic:
            col = F.expr("uuid()")
        elif type == "elasticsearch":
            seq = F.xxhash64(F.col("conv_id"), F.col("turn_idx")).bitwiseAND(F.lit(0xFFFFFF))
            ts_ms = (F.unix_timestamp(F.col("ts")).cast("long") * 1000) if "ts" in df.columns else F.lit(0)
            col = es_time_uuid(ts_ms, seq, mac_hex=md5(b"beats_spark").hexdigest()[:12])
        else:
            col = F.sha2(F.concat_ws("|", F.col("conv_id"), F.col("turn_idx").cast("string")), 256)
        return df.withColumn(target_field, col)

    return stage


_HASHES = {"md5", "sha1", "sha256", "sha384", "sha512", "xxhash64"}


def fingerprint(
    fields: list[str],
    target_field: str = "fingerprint",
    method: str = "sha256",
    encoding: str = "hex",
    when: dict | None = None,
):
    """fingerprint/fingerprint.go:40,93-116 — byte-compatible canonical
    form: for each field in sorted order (duplicates ignored, like the
    reference's key map) the reference writes `|<key>|<value>` into the
    hash, then a trailing `|` (writeFields, fingerprint.go:111-114).
    Timestamp-typed fields render as Go's UTC time.String() form
    ('2019-10-29 00:00:00 +0000 UTC', trailing-zero-trimmed fraction) —
    fingerprint_test.go's golden vectors for md5/sha*/encodings all
    reproduce bit-for-bit (r5 matrix port). KNOWN divergence:
    method='xxhash64' uses Spark's built-in (XXH64 over UTF8 bytes,
    seed 42) — the reference's cespare/xxhash uses seed 0, so xxhash
    digests are stable but NOT joinable with reference output (no
    seed-0 XXH64 exists JVM-side; the crypto methods are the
    byte-compatible ones).
    """
    if method not in _HASHES:
        raise ValueError(f"fingerprint: unknown method {method!r}")

    def stage(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)
        # coalesce each value to '' so one NULL field can't NULL the whole
        # digest via F.concat (the reference errors the event on a missing
        # field; a typed column's NULL maps to the empty value here — the
        # |key| marker still separates it from an absent field)
        parts: list[Column] = []
        for f in sorted(set(fields)):
            parts.append(F.lit(f"|{f}|"))
            # exact-name resolution first: a literally-dotted column name
            # ('nested.field') must hash under its dotted KEY bytes
            c = F.col(f"`{f}`") if f in dtypes else F.col(f)
            if dtypes.get(f) == "timestamp":
                # Go renders time fields via %v = t.String() after UTC
                # canonicalization; fraction printed only when nonzero,
                # trailing zeros trimmed
                frac = F.regexp_replace(F.date_format(c, "SSSSSS"), "0+$", "")
                v = F.concat(
                    F.date_format(c, "yyyy-MM-dd HH:mm:ss"),
                    F.when(frac != "", F.concat(F.lit("."), frac)).otherwise(F.lit("")),
                    F.lit(" +0000 UTC"),
                )
            else:
                v = c.cast("string")
            parts.append(F.coalesce(v, F.lit("")))
        parts.append(F.lit("|"))
        joined = F.concat(*parts)
        if method == "md5":
            h = F.md5(joined)
        elif method == "sha1":
            h = F.sha1(joined)
        elif method == "xxhash64":
            h = F.hex(F.xxhash64(joined))
        else:
            h = F.sha2(joined, int(method[3:]))
        if encoding == "base64":
            h = F.base64(F.unhex(h))
        elif encoding == "base32":
            # no JVM built-in — rare path, Arrow-batched like gzip
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("string")
            def _b32(s):  # no annotations: locally-imported pd would
                # leave a string annotation the UDF resolver cannot eval
                import base64 as _b64
                import binascii as _ba

                return s.map(
                    lambda x: None
                    if x is None
                    else _b64.b32encode(_ba.unhexlify(x)).decode()
                )

            h = _b32(h)
        elif encoding != "hex":
            raise ValueError(f"fingerprint: unknown encoding {encoding!r}")
        return _with_guarded(df, target_field, h, when)

    return stage


def add_formatted_index(index: str):
    """add_formatted_index.go:33 — set the routing index meta column."""
    from ..selector import compile_fmtstr

    def stage(df: DataFrame) -> DataFrame:
        # pass the full dtypes so absent fields resolve to "produced
        # nothing" (fmtstr semantics) instead of an AnalysisException,
        # AND nested refs under struct/map roots still resolve (passing
        # names only nulled every multi-segment ref — r4 ADVICE)
        value, defined = compile_fmtstr(index, dtypes=dict(df.dtypes))
        return df.withColumn("_meta_index", F.when(defined, value))

    return stage


# magic-number prefix (hex, uppercase) → MIME, matching the filetype
# library values the reference returns (libbeat/mime/byte.go;
# detect_mime_type_test.go vectors)
_MIME_MAGIC: list[tuple[str, str]] = [
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("25504446", "application/pdf"),
    ("1F8B", "application/gzip"),
    ("504B0304", "application/zip"),
    ("7F454C46", "application/x-executable"),
    ("CFFAEDFE", "application/x-mach-binary"),
    ("CEFAEDFE", "application/x-mach-binary"),
    ("FEEDFACE", "application/x-mach-binary"),
    ("FEEDFACF", "application/x-mach-binary"),
    ("4D5A", "application/vnd.microsoft.portable-executable"),
]


def detect_mime_type(field: str, target: str = "mime_type", when: dict | None = None):
    """detect_mime_type (actions/detect_mime_type.go + libbeat/mime) —
    sniff the MIME type of a field's content. Reference order: magic
    numbers first (filetype lib), then textual sniffing (http.Detect +
    json/xml upgrade), else no detection (target stays NULL — the
    reference sets nothing on application/octet-stream).

    Pure Column: binary columns match hex magic prefixes; string columns
    go through the textual battery (html / xml / json via try_parse_json
    / printable-text fallback). The magic table is the common subset of
    the filetype lib (documented; an unknown binary yields NULL, never a
    wrong type)."""

    def stage(df: DataFrame) -> DataFrame:
        dt = df.schema[field].dataType.simpleString()
        # backticked: `field` may be a literally-dotted column name
        # (detect_mime_type_test.go's foo.bar.baz)
        col = F.col(f"`{field}`")
        if dt == "binary":
            hx = F.upper(F.hex(F.substring(col, 1, 8)))
            out = F.lit(None).cast("string")
            for magic, mime in reversed(_MIME_MAGIC):
                out = F.when(hx.startswith(magic), F.lit(mime)).otherwise(out)
        else:
            t = F.regexp_replace(col, r"^\s+", "")
            low = F.lower(t)
            # WHATWG binary-byte set (http.DetectContentType): 0x00-0x08,
            # 0x0B, 0x0E-0x1A, 0x1C-0x1F. TAB/LF/FF/CR/ESC are TEXT —
            # ANSI-colored log lines must sniff as text/plain.
            printable = ~col.rlike(r"[\x00-\x08\x0B\x0E-\x1A\x1C-\x1F]")
            # http sniff table's HTML signatures, each requiring a
            # tag-terminating byte (space or '>') after the name
            html_sig = low.rlike(
                r"^(<!doctype html|<html|<head|<script|<iframe|<h1|<div|<font"
                r"|<table|<a|<style|<title|<b|<body|<br|<p|<!--)[ >]"
            )
            # xml: '<?xml' prefix, or a well-formed-looking document —
            # opening tag with a MATCHING close tag (backreference) or
            # self-closing root; an unclosed '<tag>' stays text/plain
            # like the reference's xml.Unmarshal failure path
            xml_like = (
                low.startswith("<?xml")
                | t.rlike(r"(?s)^<([A-Za-z][A-Za-z0-9]*)[^>]*>.*</\1\s*>\s*$")
                | t.rlike(r"^<([A-Za-z][A-Za-z0-9]*)[^>]*/>\s*$")
            )
            out = (
                F.when(col.isNull() | (F.length(col) == 0), F.lit(None).cast("string"))
                .when(html_sig, F.lit("text/html; charset=utf-8"))
                .when(
                    F.try_parse_json(col).isNotNull()
                    & (t.startswith("{") | t.startswith("[")),
                    F.lit("application/json"),
                )
                .when(xml_like, F.lit("text/xml"))
                .when(printable, F.lit("text/plain; charset=utf-8"))
            )
        return _with_guarded(df, target, out, when)

    return stage
