"""Grok pattern engine — compile ``%{SYNTAX:field:type}`` expressions to
ONE Java regex executed by Catalyst (``rlike`` + ``regexp_extract``).

The north rule asks for a "grok/regex parse" stage.  The reference
(elastic/beats) ships dissect but not grok — grok lives next door in
Logstash / ES ingest — so this module implements the PUBLIC grok
contract from scratch:

  * the ``%{NAME}``, ``%{NAME:field}``, ``%{NAME:field:type}`` token
    syntax with recursive pattern expansion and arbitrary regex between
    tokens (the grok expression IS a regex);
  * the core pattern bank (the well-known grok-patterns set: WORD, INT,
    NUMBER, IP, HOSTNAME, TIMESTAMP_ISO8601, SYSLOGBASE,
    COMMONAPACHELOG, ...) re-written here from its publicly documented
    definitions, with every bare group made non-capturing so capture
    indexes stay ours;
  * user ``pattern_definitions`` overriding/extending the bank
    (ES ingest grok's option of the same name);
  * a pattern LIST with first-match-wins (Logstash's default
    ``break_on_match => true``);
  * ``:int``/``:long`` → bigint, ``:float``/``:double`` → double,
    ``:bool``/``:boolean`` → boolean typed captures;
  * unmatched events keep NULL fields and get the Logstash failure tag
    ``_grokparsefailure`` appended to ``log_flags``.

Execution: compilation happens once on the driver.  Each pattern
becomes a single Java regex string; per field we emit
``regexp_extract(src, pattern, group_idx)`` guarded by ``rlike`` — pure
JVM expressions inside WholeStageCodegen, zero Python on the hot path,
no shuffle (the same execution contract as the dissect Column fast
path, dissect.py).  Semantic captures are mapped to NUMBERED groups:
the compiler counts every capturing paren it emits (including any the
caller writes in raw regex segments), so indexes survive arbitrary
nesting and bank patterns that themselves carry semantic captures
(e.g. SYSLOGPROG = ``%{PROG:program}(?:\\[%{POSINT:pid}\\])?``).

Documented divergences from Logstash (flat-column engine, same family
as the dissect notes):
  * a field whose group matched the empty string and a field whose
    optional group did not participate both come back as ``""`` — the
    engine cannot distinguish "matched empty" from "absent" through
    ``regexp_extract`` (Logstash would omit the absent one);
  * a typed capture that fails to cast becomes NULL (Logstash keeps
    the raw string; impossible in a typed column — see
    dissect.cast_column);
  * ``break_on_match=False`` (apply every pattern, merge fields): a
    field captured by several MATCHING patterns becomes an array in
    Logstash; a flat column keeps the value from the first matching
    pattern that captures it (coalesce order = pattern order).

Like Logstash, patterns are NOT anchored: a grok expression matches
anywhere in the input unless the caller writes ``^``/``$``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .events import FLAGS_COL, append_flag, flags_column

FLAG_GROK_FAILURE = "_grokparsefailure"  # the public Logstash tag


class GrokError(ValueError):
    """Invalid grok expression / unknown pattern / expansion cycle."""


# %{NAME}, %{NAME:field}, %{NAME:field:type} — NAME is the bank key;
# field may be dotted (kept verbatim as the output column name).
_TOKEN_RE = re.compile(r"%\{(\w+)(?::([\w@#$%.\-\[\]]+))?(?::(\w+))?\}")

_SPARK_TYPES = {
    "int": "bigint",
    "long": "bigint",
    "integer": "bigint",
    "float": "double",
    "double": "double",
    "bool": "boolean",
    "boolean": "boolean",
    "string": "string",
}

# ---------------------------------------------------------------------------
# Core pattern bank.
#
# Re-written from the publicly documented grok-patterns set (the
# definitions every grok implementation publishes).  Two deliberate
# normalizations: every bare `(` is written `(?:` (capture indexes
# belong to the compiler), and patterns carrying ECS-style semantic
# names in newer banks use the classic flat names (program, pid, ...).
# ---------------------------------------------------------------------------
_PLAIN_IPV4 = (
    r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})[.](?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})"
    r"[.](?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})[.](?:25[0-5]|2[0-4][0-9]|[01]?[0-9]{1,2})"
)

PATTERN_BANK: dict[str, str] = {
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "USER": r"%{USERNAME}",
    "EMAILLOCALPART": r"[a-zA-Z][a-zA-Z0-9_.+-=:]+",
    "EMAILADDRESS": r"%{EMAILLOCALPART}@%{HOSTNAME}",
    "INT": r"(?:[+-]?(?:[0-9]+))",
    "BASE10NUM": r"(?<![0-9.+-])(?>[+-]?(?:(?:[0-9]+(?:\.[0-9]+)?)|(?:\.[0-9]+)))",
    "NUMBER": r"(?:%{BASE10NUM})",
    "BASE16NUM": r"(?<![0-9A-Fa-f])(?:[+-]?(?:0x)?(?:[0-9A-Fa-f]+))",
    "POSINT": r"\b(?:[1-9][0-9]*)\b",
    "NONNEGINT": r"\b(?:[0-9]+)\b",
    "WORD": r"\b\w+\b",
    "NOTSPACE": r"\S+",
    "SPACE": r"\s*",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "QUOTEDSTRING": (
        r"(?>(?<!\\)(?>\"(?>\\.|[^\\\"]+)+\"|\"\"|(?>'(?>\\.|[^\\']+)+')|''"
        r"|(?>`(?>\\.|[^\\`]+)+`)|``))"
    ),
    "QS": r"%{QUOTEDSTRING}",
    "UUID": r"[A-Fa-f0-9]{8}-(?:[A-Fa-f0-9]{4}-){3}[A-Fa-f0-9]{12}",
    # network
    "IPV4": rf"(?<![0-9])(?:{_PLAIN_IPV4})(?![0-9])",
    "IPV6": (
        r"(?:(?:(?:[0-9A-Fa-f]{1,4}:){7}(?:[0-9A-Fa-f]{1,4}|:))"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){6}(?::[0-9A-Fa-f]{1,4}|" + _PLAIN_IPV4 + r"|:))"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){5}(?:(?::[0-9A-Fa-f]{1,4}){1,2}|:" + _PLAIN_IPV4 + r"|:))"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){4}(?:(?::[0-9A-Fa-f]{1,4}){1,3}"
        r"|(?::[0-9A-Fa-f]{1,4})?:" + _PLAIN_IPV4 + r"|:))"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){3}(?:(?::[0-9A-Fa-f]{1,4}){1,4}"
        r"|(?::[0-9A-Fa-f]{1,4}){0,2}:" + _PLAIN_IPV4 + r"|:))"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){2}(?:(?::[0-9A-Fa-f]{1,4}){1,5}"
        r"|(?::[0-9A-Fa-f]{1,4}){0,3}:" + _PLAIN_IPV4 + r"|:))"
        r"|(?:(?:[0-9A-Fa-f]{1,4}:){1}(?:(?::[0-9A-Fa-f]{1,4}){1,6}"
        r"|(?::[0-9A-Fa-f]{1,4}){0,4}:" + _PLAIN_IPV4 + r"|:))"
        r"|(?::(?:(?::[0-9A-Fa-f]{1,4}){1,7}|(?::[0-9A-Fa-f]{1,4}){0,5}:"
        + _PLAIN_IPV4
        + r"|:)))(?:%[0-9A-Za-z]+)?"
    ),
    "IP": r"(?:%{IPV6}|%{IPV4})",
    "HOSTNAME": (
        r"\b(?:[0-9A-Za-z][0-9A-Za-z-]{0,62})"
        r"(?:\.(?:[0-9A-Za-z][0-9A-Za-z-]{0,62}))*(?:\.?|\b)"
    ),
    "IPORHOST": r"(?:%{IP}|%{HOSTNAME})",
    "HOSTPORT": r"%{IPORHOST}:%{POSINT}",
    # paths
    "UNIXPATH": r"(?:/(?:[\w_%!$@:.,+~-]+|\\.)*)+",
    "WINPATH": r"(?>[A-Za-z]+:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:%{UNIXPATH}|%{WINPATH})",
    "TTY": r"(?:/dev/(?:pts|tty(?:[pq])?)(?:\w+)?/?(?:[0-9]+))",
    "LOGLEVEL": (
        r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|[Nn]otice|NOTICE"
        r"|[Ii]nfo?(?:rmation)?|INFO?(?:RMATION)?|[Ww]arn?(?:ing)?|WARN?(?:ING)?"
        r"|[Ee]rr?(?:or)?|ERR?(?:OR)?|[Cc]rit?(?:ical)?|CRIT?(?:ICAL)?"
        r"|[Ff]atal|FATAL|[Ss]evere|SEVERE|EMERG(?:ENCY)?|[Ee]merg(?:ency)?)"
    ),
    # dates & times
    "MONTH": (
        r"\b(?:[Jj]an(?:uary|uar)?|[Ff]eb(?:ruary|ruar)?|[Mm](?:a|ä)?r(?:ch|z)?"
        r"|[Aa]pr(?:il)?|[Mm]a(?:y|i)?|[Jj]un(?:e|i)?|[Jj]ul(?:y|i)?"
        r"|[Aa]ug(?:ust)?|[Ss]ep(?:tember)?|[Oo](?:c|k)?t(?:ober)?"
        r"|[Nn]ov(?:ember)?|[Dd]e(?:c|z)(?:ember)?)\b"
    ),
    "MONTHNUM": r"(?:0?[1-9]|1[0-2])",
    "MONTHNUM2": r"(?:0[1-9]|1[0-2])",
    "MONTHDAY": r"(?:(?:0[1-9])|(?:[12][0-9])|(?:3[01])|[1-9])",
    "DAY": r"(?:Mon(?:day)?|Tue(?:sday)?|Wed(?:nesday)?|Thu(?:rsday)?|Fri(?:day)?|Sat(?:urday)?|Sun(?:day)?)",
    "YEAR": r"(?>\d\d){1,2}",
    "HOUR": r"(?:2[0123]|[01]?[0-9])",
    "MINUTE": r"(?:[0-5][0-9])",
    "SECOND": r"(?:(?:[0-5]?[0-9]|60)(?:[:.,][0-9]+)?)",
    # the classic bank's TIME carries this literal (?!<[0-9]) lookahead
    # (a well-known typo for a lookbehind) — kept verbatim for fidelity.
    "TIME": r"(?!<[0-9])%{HOUR}:%{MINUTE}(?::%{SECOND})(?![0-9])",
    "DATE_US": r"%{MONTHNUM}[/-]%{MONTHDAY}[/-]%{YEAR}",
    "DATE_EU": r"%{MONTHDAY}[./-]%{MONTHNUM}[./-]%{YEAR}",
    "ISO8601_TIMEZONE": r"(?:Z|[+-]%{HOUR}(?::?%{MINUTE}))",
    "ISO8601_SECOND": r"%{SECOND}",
    "TIMESTAMP_ISO8601": (
        r"%{YEAR}-%{MONTHNUM}-%{MONTHDAY}[T ]%{HOUR}:?%{MINUTE}"
        r"(?::?%{SECOND})?%{ISO8601_TIMEZONE}?"
    ),
    "DATE": r"%{DATE_US}|%{DATE_EU}",
    "DATESTAMP": r"%{DATE}[- ]%{TIME}",
    "TZ": r"(?:[APMCE][SD]T|UTC)",
    "DATESTAMP_RFC822": r"%{DAY} %{MONTH} %{MONTHDAY} %{YEAR} %{TIME} %{TZ}",
    "DATESTAMP_OTHER": r"%{DAY} %{MONTH} %{MONTHDAY} %{TIME} %{TZ} %{YEAR}",
    "HTTPDATE": r"%{MONTHDAY}/%{MONTH}/%{YEAR}:%{TIME} %{INT}",
    "SYSLOGTIMESTAMP": r"%{MONTH} +%{MONTHDAY} %{TIME}",
    # syslog
    "PROG": r"[\x21-\x5a\x5c\x5e-\x7e]+",
    "SYSLOGPROG": r"%{PROG:program}(?:\[%{POSINT:pid}\])?",
    "SYSLOGHOST": r"%{IPORHOST}",
    "SYSLOGFACILITY": r"<%{NONNEGINT:facility}.%{NONNEGINT:priority}>",
    "SYSLOGBASE": r"%{SYSLOGTIMESTAMP:timestamp} (?:%{SYSLOGFACILITY} )?%{SYSLOGHOST:logsource} %{SYSLOGPROG}:",
    # URIs
    "URIPROTO": r"[A-Za-z]+(?:\+[A-Za-z+]+)?",
    "URIHOST": r"%{IPORHOST}(?::%{POSINT})?",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_\-]*)+",
    "URIQUERY": r"[A-Za-z0-9$.+!*'|(){},~@#%&/=:;_?\-\[\]<>]*",
    "URIPARAM": r"\?%{URIQUERY}",
    "URIPATHPARAM": r"%{URIPATH}(?:%{URIPARAM})?",
    "URI": r"%{URIPROTO}://(?:%{USER}(?::[^@]*)?@)?(?:%{URIHOST})?(?:%{URIPATHPARAM})?",
    # apache
    "HTTPDUSER": r"(?:%{EMAILADDRESS}|%{USER})",
    "COMMONAPACHELOG": (
        r"%{IPORHOST:clientip} %{HTTPDUSER:ident} %{HTTPDUSER:auth} "
        r"\[%{HTTPDATE:timestamp}\] \"(?:%{WORD:verb} %{NOTSPACE:request}"
        r"(?: HTTP/%{NUMBER:httpversion})?|%{DATA:rawrequest})\" "
        r"%{NUMBER:response} (?:%{NUMBER:bytes}|-)"
    ),
    "COMBINEDAPACHELOG": r"%{COMMONAPACHELOG} %{QS:referrer} %{QS:agent}",
}

_MAX_EXPANSION = 1_000_000  # compiled regex size guard (driver-side)


def _count_captures(segment: str) -> int:
    """Count capturing groups a raw regex segment opens.

    Tracks escapes and character classes; `(` not followed by `?` is
    capturing, and `(?<name>` (Java named group — name starts with a
    letter, unlike lookbehind's `=`/`!`) also is.
    """
    n = 0
    i = 0
    in_class = False
    while i < len(segment):
        c = segment[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            nxt = segment[i + 1] if i + 1 < len(segment) else ""
            if nxt != "?":
                n += 1
            elif segment[i + 2 : i + 3] == "<" and segment[i + 3 : i + 4] not in ("=", "!", ""):
                n += 1
        i += 1
    return n


@dataclass(frozen=True)
class Capture:
    group: int  # 1-based Java regex group index
    field: str
    data_type: str | None  # Spark SQL type string, or None (string)


@dataclass(frozen=True)
class CompiledGrok:
    source: str
    regex: str
    captures: tuple[Capture, ...]

    @property
    def fields(self) -> list[str]:
        seen: list[str] = []
        for c in self.captures:
            if c.field not in seen:
                seen.append(c.field)
        return seen

    def field_type(self, field: str) -> str | None:
        types = {c.data_type for c in self.captures if c.field == field and c.data_type}
        if len(types) > 1:
            raise GrokError(f"field `{field}` captured with conflicting types {sorted(types)}")
        return next(iter(types), None)

    # -- Column lowering ----------------------------------------------------
    def matched(self, col: Column) -> Column:
        return col.rlike(self.regex)

    def extract(self, col: Column, field: str) -> Column:
        """The raw (string) value of `field` for rows this pattern matches.

        Multiple captures of one field (alternation branches) coalesce to
        the first participating (non-empty) group, '' if all empty.
        """
        groups = [c.group for c in self.captures if c.field == field]
        if not groups:
            raise GrokError(f"pattern does not capture `{field}`")
        if len(groups) == 1:
            return F.regexp_extract(col, self.regex, groups[0])
        alts = [F.nullif(F.regexp_extract(col, self.regex, g), F.lit("")) for g in groups]
        return F.coalesce(*alts, F.lit(""))


def compile_grok(
    pattern: str, pattern_definitions: dict[str, str] | None = None
) -> CompiledGrok:
    """Expand a grok expression against the bank into one Java regex."""
    bank = dict(PATTERN_BANK)
    if pattern_definitions:
        bank.update(pattern_definitions)

    out: list[str] = []
    captures: list[Capture] = []
    group_counter = 0
    total_len = 0

    def emit(segment: str) -> None:
        nonlocal group_counter, total_len
        group_counter += _count_captures(segment)
        total_len += len(segment)
        if total_len > _MAX_EXPANSION:
            raise GrokError("grok expansion exceeds the size guard (cycle or pathological bank?)")
        out.append(segment)

    def expand(expr: str, stack: tuple[str, ...]) -> None:
        nonlocal group_counter
        pos = 0
        for m in _TOKEN_RE.finditer(expr):
            emit(expr[pos : m.start()])
            name, field, typ = m.group(1), m.group(2), m.group(3)
            if name not in bank:
                raise GrokError(f"unknown grok pattern %{{{name}}}")
            if name in stack:
                raise GrokError(f"grok pattern cycle: {' -> '.join(stack + (name,))}")
            if field is not None:
                if typ is not None and typ not in _SPARK_TYPES:
                    raise GrokError(f"unsupported grok conversion `:{typ}` on `{field}`")
                group_counter += 1
                captures.append(
                    Capture(group_counter, field, _SPARK_TYPES.get(typ) if typ else None)
                )
                out.append("(")
            else:
                out.append("(?:")
            expand(bank[name], stack + (name,))
            out.append(")")
            pos = m.end()
        emit(expr[pos:])

    expand(pattern, ())
    compiled = CompiledGrok(pattern, "".join(out), tuple(captures))
    # surface conflicting-type errors at compile time, not first use
    for f in compiled.fields:
        compiled.field_type(f)
    return compiled


def grok_columns(
    df: DataFrame,
    patterns: str | list[str],
    src: str = "text",
    pattern_definitions: dict[str, str] | None = None,
    prefix: str = "",
    overwrite_keys: bool = False,
    flag_failures: bool = True,
    convert_types: bool = True,
    break_on_match: bool = True,
) -> DataFrame:
    """Grok `src` into one top-level column per semantic capture.

    `patterns` may be a list: with `break_on_match=True` (the Logstash
    default) patterns are tried in order and the FIRST matching one
    supplies every field; a field absent from the matching pattern is
    NULL.  With `break_on_match=False` every matching pattern
    contributes — per field, the first matching pattern that captures
    it wins (the flat-column reading of Logstash's merge; see the
    module divergence notes).  No pattern matching ⇒ all fields NULL +
    `_grokparsefailure` appended to log_flags (both modes).

    Same processor-level contract as dissect_columns: `prefix` is the
    target-prefix analog; `overwrite_keys=False` refuses to clobber an
    existing column at PLAN time (no partial writes).
    """
    if isinstance(patterns, str):
        patterns = [patterns]
    if not patterns:
        raise GrokError("grok needs at least one pattern")
    compiled = [compile_grok(p, pattern_definitions) for p in patterns]

    # union of fields, first-appearance order; types must agree across patterns
    fields: list[str] = []
    types: dict[str, str | None] = {}
    for cg in compiled:
        for f in cg.fields:
            t = cg.field_type(f)
            if f not in fields:
                fields.append(f)
                types[f] = t
            elif t is not None:
                if types[f] is not None and types[f] != t:
                    raise GrokError(
                        f"field `{f}` typed `{types[f]}` and `{t}` in different patterns"
                    )
                types[f] = types[f] or t
    if not fields:
        raise GrokError("no semantic captures (%{NAME:field}) in any pattern")

    if not overwrite_keys:
        clash = [f for f in fields if prefix + f in df.columns]
        if clash:
            raise GrokError(
                f"cannot override existing key with `{clash[0]}` "
                "(pass overwrite_keys=True to allow)"
            )

    col = F.col(src)
    matches = [cg.matched(col) for cg in compiled]

    for f in fields:
        if break_on_match:
            expr = F.when(F.lit(False), F.lit(None).cast("string"))
            for cg, m in zip(compiled, matches):
                branch = (
                    cg.extract(col, f) if f in cg.fields else F.lit(None).cast("string")
                )
                expr = expr.when(m, branch)
            val = expr.otherwise(F.lit(None).cast("string"))
        else:
            # merge mode: first MATCHING pattern that captures f wins
            branches = [
                F.when(m, cg.extract(col, f))
                for cg, m in zip(compiled, matches)
                if f in cg.fields
            ]
            val = F.coalesce(*branches, F.lit(None).cast("string"))
        if convert_types and types[f] is not None:
            # ANSI-safe: try_cast semantics (cast failure → NULL, job survives)
            val = val.try_cast(types[f])
        df = df.withColumn(prefix + f, val)

    if flag_failures:
        any_match = matches[0]
        for m in matches[1:]:
            any_match = any_match | m
        fail = ~F.coalesce(any_match, F.lit(False))
        df = df.withColumn(FLAGS_COL, append_flag(flags_column(df), FLAG_GROK_FAILURE, fail))
    return df


def grok_builder(**cfg):
    """Registry builder: {"grok": {"patterns": [...], "src": "message", ...}}.

    Validation (pattern compile, type conflicts, key clashes against a
    known schema) happens at build/plan time like the other builders.
    """
    patterns = cfg.pop("patterns", None) or cfg.pop("match", None)
    if patterns is None:
        raise GrokError("grok config needs `patterns`")
    # compile eagerly so config errors surface at build time
    defs = cfg.get("pattern_definitions")
    pats = [patterns] if isinstance(patterns, str) else list(patterns)
    for p in pats:
        compile_grok(p, defs)

    def stage(df: DataFrame) -> DataFrame:
        return grok_columns(df, pats, **cfg)

    return stage
