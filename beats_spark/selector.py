"""Output selector + event format strings → a single `sink` Column.

Reimplements the observable semantics of the reference's outil.Selector
(/root/reference/libbeat/outputs/outil/select.go:30-113, 341-399) and
fmtstr.EventFormatString (libbeat/common/fmtstr/formatevents.go:39-121):

  * ordered rule list; each rule = optional `when` condition + format
    template + optional `mappings{}` + optional `default`;
  * FIRST rule producing a non-empty string wins (listSelector eval);
  * a template referencing a missing field with no :default produces
    nothing → falls through to the next rule (fmtSelector fallback);
  * `mappings` re-keys the evaluated template through a literal dict.

Compiled on the driver into one nested CASE WHEN Column — evaluated by
Catalyst inside codegen, fanned out later by CheckpointedRun.run. This is
the "which index/topic does each event go to" query of Beats, as a column.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from .conditions import compile_condition

def _fmt_tokens(template: str) -> list[tuple[str, str]]:
    """Lex a format string into ('lit', text) / ('expr', content)
    tokens — %{[a][b]}, %{[a]:default}, %{+yyyy.MM.dd} expansions.

    Backslash escapes the next character (formatstring.go:128 + the
    lexer's '\\\\' case): '\\%{abc}' renders the literal '%{abc}' and
    '\\\\' a single backslash — formatstring_test.go's escape rows. An
    unterminated '%{' raises like the reference's errMissingClose
    (previously it silently fell through as literal text)."""
    toks: list[tuple[str, str]] = []
    lit: list[str] = []
    i, n = 0, len(template)
    while i < n:
        c = template[i]
        if c == "\\" and i + 1 < n:
            lit.append(template[i + 1])
            i += 2
            continue
        if c == "%" and template[i : i + 2] == "%{":
            j = template.find("}", i + 2)
            if j < 0:
                raise ValueError(f"fmtstr: missing closing '}}' in {template!r}")
            if j == i + 2:
                raise ValueError(f"fmtstr: empty format expansion in {template!r}")
            if lit:
                toks.append(("lit", "".join(lit)))
                lit = []
            toks.append(("expr", template[i + 2 : j]))
            i = j + 1
            continue
        lit.append(c)
        i += 1
    if lit:
        toks.append(("lit", "".join(lit)))
    return toks


# Joda/dtfmt pattern letters Beats' +FORMAT accepts AND Spark's
# date_format can run: week-based letters (w/W/x/e) are banned since
# Spark 3.0 and 'C' is unknown to Java — rejecting them at COMPILE keeps
# the CompileEvent-style fail-fast honest instead of crashing (or, for
# 'x', silently rendering a zone offset where Joda means weekyear)
# (r4 review pass 5).
_JODA_LETTERS = set("GyYEDMdaKhHkmsSzZ")


def _go_time_to_java(fmt: str) -> str:
    """Beats +FORMAT is Joda-style (dtfmt). One semantic trap: Joda 'Y'
    is year-of-era while Java/Spark 'Y' is WEEK-based year (differs
    around Dec 29 - Jan 1) — translate Y→y. Validates pattern letters
    (CompileEvent rejects '%{+abc}')."""
    pieces = re.split(r"('[^']*')", fmt)  # odd indices = quoted literals
    bad = [c for p in pieces[::2] for c in p if c.isalpha() and c not in _JODA_LETTERS]
    if bad:
        raise ValueError(f"fmtstr: invalid timestamp pattern letter(s) {bad} in %{{+{fmt}}}")
    # Y→y only outside quotes: a quoted 'YTD' literal must stay verbatim
    return "".join(
        p if i % 2 else re.sub("Y+", lambda m: "y" * len(m.group(0)), p)
        for i, p in enumerate(pieces)
    )


# ISO8601 with milliseconds + literal Z — the form Beats renders
# %{[@timestamp]} in (formatevents.go TimestampFormatString)
_TS_ISO = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def compile_fmtstr(
    template: str,
    ts_col: str = "ts",
    columns: set[str] | None = None,
    dtypes: dict[str, str] | None = None,
) -> tuple[Column, Column]:
    """template → (value Column, defined Column).

    `defined` is False when any referenced field without a default is
    null or absent from the schema — the caller treats that as "rule
    produced nothing" (fmtSelector fallback-on-missing-field). Pass the
    DataFrame's column set so absent top-level fields resolve to the
    default instead of failing analysis.

    Reference grammar parity (formatevents_test.go matrix, ported r4):
    `%{[a][b]}` and `%{[a.b]}` nested forms, `%{[key]:default}`,
    `%{[@timestamp]}` (ISO8601 ms Z from ts_col), `%{+JODA}` timestamp
    patterns (Y translated to year-of-era). Malformed forms raise at
    compile like CompileEvent: empty `%{[]}`, unclosed `%{[field}`,
    multi-operator `%{[f]:a:b}`, invalid pattern letters `%{+abc}`.
    EXTENSION (documented divergence): the bare `%{field}` form —
    rejected by the reference — is accepted as `%{[field]}`; this
    engine's configs use it widely.
    """
    if columns is None and dtypes is not None:
        columns = set(dtypes)
    parts: list[Column] = []
    required: list[Column] = []
    for kind, piece in _fmt_tokens(template):
        if kind == "lit":
            parts.append(F.lit(piece))
            continue
        expr = piece
        if expr.startswith("+"):
            parts.append(F.date_format(F.col(ts_col), _go_time_to_java(expr[1:])))
        else:
            ref, op, default = expr.partition(":")
            if op and ":" in default:
                raise ValueError(f"fmtstr: too many ':' operators in %{{{expr}}}")
            brackets = re.findall(r"\[([^\]]*)\]", ref)
            if brackets:
                # bracket syntax must cover the whole ref (reject '%{[f}')
                if re.sub(r"\[[^\]]*\]", "", ref):
                    raise ValueError(f"fmtstr: malformed field accessor %{{{expr}}}")
                if any(b == "" for b in brackets):
                    raise ValueError(f"fmtstr: empty field accessor %{{{expr}}}")
            elif "[" in ref or "]" in ref:
                raise ValueError(f"fmtstr: malformed field accessor %{{{expr}}}")
            # [a.b] and [a][b] both address nested field b under a —
            # resolution order mirrors the conditions DSL (one addressing
            # model, r4 review pass 5): the FLATTENED engine column
            # (a.b → a_b) wins when it exists; otherwise the nested chain
            # applies only when dtypes proves EVERY step analyzable — the
            # WHOLE path is walked through the dtype string (r5 review:
            # validating only the root made a struct root with a missing
            # inner field, or a scalar mid-level, raise AnalysisException
            # at stage build instead of rendering 'produced nothing').
            # Map steps are null-safe for any key; struct steps require
            # the field to exist; anything else ends the walk as absent.
            fields = [seg for b in (brackets or [ref]) for seg in b.split(".")]
            flat = "_".join(fields)
            if fields == ["@timestamp"]:
                col = F.date_format(F.col(ts_col), _TS_ISO)
            elif len(fields) > 1 and columns is not None and flat in columns:
                col = F.col(flat)
            else:
                from .conditions import dtype_map_value, dtype_struct_field

                t = (dtypes or {}).get(fields[0], "")
                nested_ok = True
                for sub in fields[1:]:
                    if t.startswith("map<"):
                        t = dtype_map_value(t) or ""
                    elif t.startswith("struct<"):
                        nt = dtype_struct_field(t, sub)
                        if nt is None:
                            nested_ok = False
                            break
                        t = nt
                    else:
                        nested_ok = False
                        break
                absent = (columns is not None and fields[0] not in columns) or not nested_ok
                if absent:
                    col = F.lit(None).cast("string")
                else:
                    col = F.col(fields[0])
                    for sub in fields[1:]:
                        col = col.getItem(sub)
            if default:
                parts.append(F.coalesce(col.cast("string"), F.lit(default)))
            else:
                required.append(col)
                parts.append(col.cast("string"))
    if not parts:
        parts = [F.lit("")]
    value = F.concat(*parts) if len(parts) > 1 else parts[0]
    defined = F.lit(True)
    for r in required:
        defined = defined & r.isNotNull()
    return value, defined


@dataclass
class Rule:
    """One selector rule (select.go:260-335)."""

    index: str  # format template
    when: dict[str, Any] | None = None
    mappings: dict[str, str] | None = None
    default: str | None = None
    case_insensitive: bool = False


class Selector:
    """Ordered first-match-wins selector → one Column."""

    def __init__(self, rules: list[Rule], fallback: str | None = None):
        self.rules = rules
        self.fallback = fallback

    def column(
        self,
        ts_col: str = "ts",
        columns: set[str] | None = None,
        dtypes: dict[str, str] | None = None,
    ) -> Column:
        result = F.lit(self.fallback) if self.fallback is not None else F.lit(None).cast("string")
        # Build the nested CASE from the last rule backwards so the first
        # matching (non-empty-producing) rule wins.
        if columns is None and dtypes is not None:
            columns = set(dtypes)
        for rule in reversed(self.rules):
            value, defined = compile_fmtstr(rule.index, ts_col, columns, dtypes)
            # select.go eval semantics (select_test.go matrix, ported r4):
            #   * case folding applies to the FORMAT OUTPUT at eval and to
            #     the mapping table (keys AND values) and default at BUILD
            #     (copyTable/buildSingle);
            #   * fmt rule: missing key OR empty format result → default;
            #   * mapping rule: empty key, lookup miss, or a lookup that
            #     maps to "" → default;
            #   * an empty/absent default means the rule produces nothing
            #     and the next rule is tried (listSelector).
            fold = (lambda s: s.lower()) if rule.case_insensitive else (lambda s: s)
            if rule.case_insensitive:
                value = F.lower(value)
            default_lit = (
                F.lit(fold(rule.default)) if rule.default is not None else F.lit(None).cast("string")
            )
            empty_to_default = lambda c: F.when(  # noqa: E731
                c.isNull() | (c == F.lit("")), default_lit
            ).otherwise(c)
            if rule.mappings is not None:
                # fold-at-build can COLLAPSE keys ('Prod'/'prod') — dedupe
                # last-wins like Go's copyTable map copy; leaving both in
                # create_map would crash under mapKeyDedupPolicy=EXCEPTION
                folded = {fold(k): fold(v) for k, v in rule.mappings.items()}
                kv = []
                for k, v in folded.items():
                    kv.extend([F.lit(k), F.lit(v)])
                mapped = F.create_map(*kv)[value]
                # empty KEY short-circuits to default before the lookup
                # (mapSelector.sel: n == "" → otherwise)
                mapped = F.when(value.isNull() | (value == F.lit("")), default_lit).otherwise(mapped)
                value = empty_to_default(mapped)
            else:
                value = empty_to_default(value)
            produced = value.isNotNull() & (value != F.lit(""))
            if rule.default is None:
                # without a default an unresolvable format means "rule
                # produced nothing"; WITH a default the default applies
                # exactly on those unresolvable/empty cases, so `defined`
                # must not suppress it (fmtSelector.sel returns otherwise
                # on Run error)
                produced = defined & produced
            cond = produced
            if rule.when is not None:
                cond = (
                    F.coalesce(compile_condition(rule.when, schema=dtypes), F.lit(False))
                    & produced
                )
            result = F.when(cond, value).otherwise(result)
        return result


def selector_from_config(
    cfg: dict[str, Any],
    key: str,
    multi_key: str | None = None,
    enable_single_only: bool = True,
    fail_empty: bool = True,
    case_insensitive: bool = False,
    fallback: str | None = None,
) -> Selector:
    """outil.BuildSelectorFromConfig (select.go:107-177) — the config
    surface every output shares: `key` holds a single format string,
    `multi_key` an ordered rule list whose entries carry the format
    under `key` plus optional when/mappings/default. Rule order is the
    reference's: multi_key rules first, then the single-key rule
    appended after (select.go:142-163). `case_insensitive` maps
    outil.SelectorLowerCase (the ES index setting) vs SelectorKeepCase
    (kafka topics — TestTopicSelection pins that topics keep case).

    Validation is build-time like everything else on this surface: a
    multi_key entry without `key` and a fail_empty config with neither
    key are config errors with the reference's wording."""
    rules: list[Rule] = []
    found = False
    if multi_key is not None and multi_key in cfg:
        found = True
        for entry in cfg[multi_key] or []:
            if not isinstance(entry, dict) or key not in entry:
                raise ValueError(f"missing {key} in {multi_key} entry: {entry!r}")
            rules.append(
                Rule(
                    index=str(entry[key]),
                    when=entry.get("when"),
                    mappings=entry.get("mappings"),
                    default=entry.get("default"),
                    case_insensitive=case_insensitive,
                )
            )
    if enable_single_only and key in cfg:
        found = True
        rules.append(Rule(index=str(cfg[key]), case_insensitive=case_insensitive))
    if fail_empty and not found:
        if enable_single_only:
            raise ValueError(f"missing required '{key}' or '{multi_key}'")
        raise ValueError(f"missing required '{multi_key}'")
    return Selector(rules, fallback=fallback)
