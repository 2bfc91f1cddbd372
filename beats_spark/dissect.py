"""Dissect tokenizer engine — compiled on the driver, executed two ways.

Semantics reimplemented from scratch against the reference's observable
behavior (elastic/beats):
  /root/reference/libbeat/processors/dissect/const.go:31-52   (grammar)
  /root/reference/libbeat/processors/dissect/dissect.go:103-180 (extract walk)
  /root/reference/libbeat/processors/dissect/field.go:119-254 (field kinds)
  /root/reference/libbeat/processors/dissect/delimiter.go      (zero/multi-byte)
  /root/reference/libbeat/processors/dissect/trim.go           (trim_values)
and validated against the reference's golden fixture suite
(libbeat/processors/dissect/testdata/dissect_tests.json, 26 cases).

Grammar recap: a tokenizer is alternating literal delimiters and
``%{key}`` captures.  Key modifiers:
  %{}        unnamed skip            %{?name}   named skip (reference)
  %{*name}   pointer (reference)     %{&name}   indirect (value keyed by ref)
  %{+name}   append (join)           %{+name/2} append with explicit ordinal
  %{name->}  greedy (skip repeated following delimiter — padding)
  %{name#3}  fixed length            %{name|long} typed capture

Execution strategies (chosen at compile time on the driver):
  1. **Column fast path** — for patterns with only normal/skip/greedy
     captures and non-empty literal delimiters, the reference's
     sequential walk becomes a chain of literal `locate` + `substr`
     Column expressions (`Dissector.locate_plan`; greedy padding via
     `ltrim`): pure JVM, whole-stage codegen, no regex and zero Python
     on the hot path.  `regex_pattern` is the eligibility test and the
     equivalent anchored regex the tests compare against.
  2. **Arrow UDF path** — full grammar: the reference walk over Arrow
     batches (`Dissector.pandas_dissect` maps `dissect` over each batch).
     Arrow batching pays for the JVM↔Python boundary; inside a batch,
     object-dtype string ops would be per-element Python anyway, so the
     one scalar walk is also the fastest batch walk.

One walk per engine: `locate_plan` for Columns, `_extract_scalar` for
Python.

Scale note: both paths are embarrassingly parallel per-partition with no
shuffle; the fast path additionally stays inside WholeStageCodegen, so a
dissect stage adds no exchange at 100 TB.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .events import ATTRS_TYPE, FLAG_DISSECT_FAILURE, FLAGS_COL, append_flag, flags_column

# Tokenizer grammar regexes (semantics of const.go:47-52).
_DELIM_RE = re.compile(r"(.*?)%\{([^}]*?)\}", re.S)
_SUFFIX_RE = re.compile(r"(.+?)(?:/(\d{1,2}))?(?:#(\d{1,2}))?(->)?(?:\|([A-Za-z]*))?$")

_DEFAULT_JOIN = " "

DATA_TYPES = {"integer", "long", "float", "double", "string", "boolean", "ip"}

# Spark SQL types for typed captures (used by the Column fast path).
_SPARK_TYPES = {
    "integer": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "boolean": "boolean",
    "string": "string",
    "ip": "string",
}


class DissectError(ValueError):
    """Tokenizer-invalid or parse-failure error."""


# Field kinds.
NORMAL, SKIP, NAMED_SKIP, POINTER, APPEND, INDIRECT = range(6)


@dataclass
class _Field:
    id: int
    kind: int
    key: str
    ordinal: int = 0
    length: int = 0  # >0 ⇒ fixed length
    greedy: bool = False
    data_type: str = ""
    join: str = _DEFAULT_JOIN  # append join string (delimiter before this capture)

    @property
    def saveable(self) -> bool:
        return self.kind not in (SKIP, NAMED_SKIP, POINTER)

    @property
    def fixed(self) -> bool:
        return self.length > 0


def _parse_key(raw: str) -> tuple[str, str, int, int, bool]:
    """rawKey → (key, data_type, ordinal, length, greedy).  field.go:337-360."""
    m = _SUFFIX_RE.search(raw)
    if m is None:
        raise DissectError(f"invalid field name: {raw!r}")
    key = m.group(1)
    ordinal = int(m.group(2)) if m.group(2) else 0
    length = int(m.group(3)) if m.group(3) else 0
    greedy = m.group(4) == "->"
    data_type = m.group(5) or ""
    return key, data_type, ordinal, length, greedy


def _new_field(fid: int, raw: str, prev_delim: str) -> _Field:
    """Key-spec → field, mirroring the reference's dispatch (field.go:237-282)."""
    if raw == "":
        return _Field(fid, SKIP, "")
    key, data_type, ordinal, length, greedy = _parse_key(raw)
    if raw.endswith("|"):
        raise DissectError("missing data type")
    if data_type and data_type not in DATA_TYPES:
        raise DissectError(f"invalid data type: {data_type!r}")
    if key.startswith("+&") or key.startswith("&+"):
        raise DissectError("mixed prefix `&+`/`+&`")
    if key.startswith("?"):
        return _Field(fid, NAMED_SKIP, key[1:], length=length)
    if key.startswith("*"):
        return _Field(fid, POINTER, key[1:], length=length)
    if key.startswith("+"):
        join = prev_delim if prev_delim else _DEFAULT_JOIN
        return _Field(fid, APPEND, key[1:], ordinal=ordinal, length=length, greedy=greedy, join=join)
    if key.startswith("&"):
        return _Field(fid, INDIRECT, key[1:], data_type=data_type, length=length)
    return _Field(fid, NORMAL, key, ordinal=ordinal, length=length, greedy=greedy, data_type=data_type)


class Dissector:
    """A compiled dissect tokenizer.

    ``trim_values`` ∈ {None, 'left', 'right', 'all'}; ``trim_chars``
    default " " (trim.go).
    """

    def __init__(self, tokenizer: str, trim_values: str | None = None, trim_chars: str = " "):
        self.raw = tokenizer
        self.trim_values = trim_values
        self.trim_chars = trim_chars

        matches = list(_DELIM_RE.finditer(tokenizer))
        if not matches:
            raise DissectError("invalid dissect tokenizer")
        self.delimiters: list[str] = []
        self.fields: list[_Field] = []
        pos = 0
        for fid, m in enumerate(matches):
            d = m.group(1)
            self.delimiters.append(d)
            self.fields.append(_new_field(fid, m.group(2), d))
            pos = m.end()
        if pos < len(tokenizer):
            self.delimiters.append(tokenizer[pos:])

        # Stable ordinal sort drives append join order (parser.go:82-88).
        self.sorted_fields = sorted(self.fields, key=lambda f: f.ordinal)
        self.reference_keys = [f.key for f in self.fields if not f.saveable and f.kind != SKIP]

        # validate.go: every indirect capture needs a reference field.
        refs = set(self.reference_keys)
        for f in self.fields:
            if f.kind == INDIRECT and f.key not in refs:
                raise DissectError(f"missing reference for key '{f.key}'")

    # -- introspection ------------------------------------------------------

    @property
    def has_dynamic_keys(self) -> bool:
        return any(f.kind == INDIRECT for f in self.fields)

    def output_keys(self) -> list[str]:
        """Static output key names (only valid when not has_dynamic_keys)."""
        seen: list[str] = []
        for f in self.sorted_fields:
            if f.saveable and f.kind != SKIP and f.key not in seen:
                seen.append(f.key)
        return [k for k in seen if k not in self.reference_keys]

    # -- scalar reference implementation (driver-side & tests) --------------

    def _extract_scalar(self, s: str) -> list[tuple[int, int]]:
        n = len(s)
        if n == 0:
            raise DissectError("empty string provided")
        n_fields = len(self.fields)
        positions = [(0, 0)] * n_fields
        delims = self.delimiters

        d0 = delims[0]
        if d0 and not s.startswith(d0):
            raise DissectError(f"could not find beginning delimiter: {d0!r}")
        offset = len(d0)

        for i in range(len(delims) - 1):
            start = offset
            fld = self.fields[i]
            nxt = delims[i + 1]
            if fld.fixed:
                end = offset + fld.length
                if end > n:
                    raise DissectError("field length is greater than string length")
            else:
                if nxt == "":
                    end = offset
                else:
                    end = s.find(nxt, offset)
                    if end == -1:
                        raise DissectError(f"could not find delimiter: {nxt!r}")
            offset = end
            if fld.greedy and nxt:
                # Skip consecutive following-delimiter occurrences (padding).
                while True:
                    lookahead = s.find(nxt, offset + 1)
                    if lookahead != offset + 1:
                        break
                    offset = lookahead
            positions[i] = (start, end)
            offset += len(nxt)

        i = len(delims) - 1
        if i < n_fields:
            fld = self.fields[i]
            if fld.fixed and offset + fld.length != n:
                raise DissectError("last fixed length key does not fit")
            if offset < n:
                positions[i] = (offset, n)
        return positions

    def _trim(self, v: str) -> str:
        if self.trim_values == "left":
            return v.lstrip(self.trim_chars)
        if self.trim_values == "right":
            return v.rstrip(self.trim_chars)
        if self.trim_values == "all":
            return v.strip(self.trim_chars)
        return v

    def _resolve(self, values: list[str], typed: bool) -> dict:
        """Captured values (indexed by field id) → output map."""
        m: dict[str, str] = {}
        for f in self.sorted_fields:
            v = values[f.id]
            if f.kind == SKIP:
                continue
            if f.kind == APPEND:
                m[f.key] = m[f.key] + f.join + v if f.key in m else v
            elif f.kind == INDIRECT:
                if f.key in m:
                    m[m[f.key]] = v
            else:  # NORMAL, NAMED_SKIP, POINTER
                m[f.key] = v
        if typed:
            mc: dict[str, object] = {}
            lookup = {f.key: values[f.id] for f in self.fields if not f.saveable}
            for f in self.fields:
                if not f.saveable:
                    continue
                key = lookup.get(f.key, f.key) if f.kind == INDIRECT else f.key
                v = m.get(key, "")
                mc[key] = convert_value(f.data_type, v) if f.data_type else v
            for k in self.reference_keys:
                mc.pop(k, None)
            return mc
        for k in self.reference_keys:
            m.pop(k, None)
        return m

    def dissect(self, s: str) -> dict[str, str]:
        values = [s[a:b] for a, b in self._extract_scalar(s)]
        if self.trim_values:
            values = [self._trim(v) for v in values]
        return self._resolve(values, typed=False)

    def dissect_convert(self, s: str) -> dict[str, object]:
        # DissectConvert skips the trimmer (dissect.go:79-94).
        values = [s[a:b] for a, b in self._extract_scalar(s)]
        return self._resolve(values, typed=True)

    # -- Arrow batch path -----------------------------------------------------

    def pandas_dissect(self, s: pd.Series) -> pd.Series:
        """Batch → Series of dict[str,str]: the reference walk per value
        (None for a non-string, empty or failing value)."""
        out = []
        for v in s:
            try:
                out.append(self.dissect(v) if isinstance(v, str) else None)
            except DissectError:
                out.append(None)
        return pd.Series(out, index=s.index, dtype=object)

    # -- Column fast path ----------------------------------------------------

    def regex_pattern(self) -> str | None:
        """Anchored lazy-regex equivalent of the sequential walk, or None
        when the grammar needs the UDF path.  Eligible: normal/skip
        captures, no fixed-length, no append/indirect/pointer/named-skip,
        non-empty middle delimiters, greedy only before single-char
        delimiters.  Greedy padding is possessive: the walk never gives
        a padding character back to a later capture."""
        for i, f in enumerate(self.fields):
            if f.kind not in (NORMAL, SKIP):
                return None
            if f.fixed:
                return None
            nxt = self.delimiters[i + 1] if i + 1 < len(self.delimiters) else None
            if f.greedy and (nxt is None or len(nxt) != 1):
                return None
            if i < len(self.fields) - 1 and (i + 1 >= len(self.delimiters) or self.delimiters[i + 1] == ""):
                return None
        parts = ["^", re.escape(self.delimiters[0])]
        n = len(self.fields)
        for i, f in enumerate(self.fields):
            last = i == n - 1
            trailing = self.delimiters[i + 1] if i + 1 < len(self.delimiters) else None
            if last and trailing is None:
                parts.append("(.*)$")
            else:
                parts.append("(.*?)")
                parts.append(re.escape(trailing))
                if f.greedy:
                    parts.append(f"(?:{re.escape(trailing)})*+")
                if last:
                    parts.append(".*$")
        return "(?s)" + "".join(parts)

    def locate_plan(self, col: Column) -> tuple[Column, dict[str, Column]] | None:
        """(matched_predicate, {key: string Column}) — the reference's
        sequential walk (_extract_scalar) as a literal locate/substr
        chain, no regex: find the next delimiter from the current
        position, capture up to it, step past it. A greedy `%{k->}`
        (single-char delimiter c only, see regex_pattern) steps past the
        whole run of c found there: the next field starts at
        length(col) + 1 - length(ltrim(substr(col, p), c)).

        Eligible: exactly what regex_pattern() accepts; that pattern
        (lazy captures, possessive padding) matches with identical
        captures wherever this walk succeeds and fails wherever it
        fails."""
        if self.regex_pattern() is None:
            return None
        d0 = self.delimiters[0]
        conds: list[Column] = []
        if d0:
            conds.append(col.startswith(d0))
        pos: Column = F.lit(1 + len(d0))
        out: dict[str, Column] = {}
        n = len(self.fields)
        for i, f in enumerate(self.fields):
            trailing = self.delimiters[i + 1] if i + 1 < len(self.delimiters) else None
            if i == n - 1 and trailing is None:
                cap = col.substr(pos, F.length(col))
            else:
                p = F.call_function("locate", F.lit(trailing), col, pos)
                conds.append(p > 0)
                cap = col.substr(pos, p - pos)
                if f.greedy:
                    pad = F.ltrim(col.substr(p, F.length(col)), F.lit(trailing))
                    pos = F.length(col) + 1 - F.length(pad)
                else:
                    pos = p + F.lit(len(trailing))
            if f.kind != SKIP:
                out[f.key] = self._trim_col(cap)
        matched = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            matched = matched & c
        return matched, out

    def _trim_col(self, v: Column) -> Column:
        if self.trim_values in ("left", "all"):
            v = F.ltrim(v) if self.trim_chars == " " else F.regexp_replace(v, f"^[{re.escape(self.trim_chars)}]+", "")
        if self.trim_values in ("right", "all"):
            v = F.rtrim(v) if self.trim_chars == " " else F.regexp_replace(v, f"[{re.escape(self.trim_chars)}]+$", "")
        return v


# ---------------------------------------------------------------------------
# Typed conversion (dissect.go:249-285 / convert.go semantics)
# ---------------------------------------------------------------------------

_BOOL_MAP = {
    "1": True, "t": True, "T": True, "TRUE": True, "true": True, "True": True,
    "0": False, "f": False, "F": False, "FALSE": False, "false": False, "False": False,
}

_IP_RE = re.compile(
    r"^((\d{1,3}\.){3}\d{1,3}|([0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}(%\w+)?)$"
)


# strconv-parity gates (dissect.go strToInt semantics): hex must be an
# UNSIGNED 0x/0X form (signed hex fails and keeps the raw string); decimal
# must be pure digits with an optional sign — Python's int()/float() are
# laxer (underscores, surrounding whitespace) and must not leak through.
_HEX_INT_RE = re.compile(r"^0[xX][0-9a-fA-F]+$")
_DEC_INT_RE = re.compile(r"^[+-]?[0-9]+$")
_FLOAT_RE = re.compile(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$")
# strconv.ParseFloat also accepts the special names (case-insensitive;
# sign allowed on Inf/Infinity but NOT on NaN — Go's special() only
# reaches the nan case when no sign was consumed) and Go-style hex
# floats (mantissa REQUIRES the p-exponent)
_SPECIAL_FLOAT_RE = re.compile(r"^([+-]?inf(inity)?|nan)$", re.IGNORECASE)
_HEX_FLOAT_RE = re.compile(
    r"^[+-]?0[xX]([0-9a-fA-F]+(\.[0-9a-fA-F]*)?|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+$"
)


def _parse_int(s: str) -> int:
    if _HEX_INT_RE.match(s):
        return int(s, 16)
    if _DEC_INT_RE.match(s):
        return int(s, 10)
    raise ValueError(s)


def convert_value(data_type: str, value: str):
    """Best-effort typed conversion; on failure returns the raw string
    (convertData fallback, dissect.go:277-285). Right-trims spaces first."""
    v = value.rstrip(" ")
    try:
        if data_type == "string":
            return v
        if data_type == "long":
            i = _parse_int(v)
            if not -(2**63) <= i < 2**63:
                raise ValueError
            return i
        if data_type == "integer":
            i = _parse_int(v)
            if not -(2**31) <= i < 2**31:
                raise ValueError
            return i
        if data_type in ("float", "double"):
            if _FLOAT_RE.match(v) or _SPECIAL_FLOAT_RE.match(v):
                f = float(v)  # float() handles inf/infinity/nan like Go
            elif _HEX_FLOAT_RE.match(v):
                f = float.fromhex(v)
            else:
                raise ValueError(v)
            if data_type == "float":
                # round through float32 (reference parses float32 here)
                import struct

                f = struct.unpack("f", struct.pack("f", f))[0]
            return f
        if data_type == "boolean":
            if v in _BOOL_MAP:
                return _BOOL_MAP[v]
            raise ValueError
        if data_type == "ip":
            if _IP_RE.match(v) and _valid_ip(v):
                return v
            raise ValueError
    except (ValueError, OverflowError):
        # OverflowError: float.fromhex on an out-of-range hex float —
        # strconv.ParseFloat reports ErrRange there and the reference's
        # converter keeps the raw string
        return value
    return value


def _valid_ip(v: str) -> bool:
    import ipaddress

    try:
        ipaddress.ip_address(v.split("%")[0])
        return True
    except ValueError:
        return False


def cast_column(col: Column, data_type: str, signed_hex: bool = False) -> Column:
    """Column-side typed conversion. Unlike the reference (which keeps the
    raw string on failure — impossible in a typed column), failures become
    NULL; callers pair this with a convert_error flag (SURVEY.md §1.3).

    `signed_hex` selects between the reference's TWO strToInt dialects
    (r5 convert_test.go port): dissect's (dissect.go:239-246) demands a
    literal leading '0x' — unsigned hex only — while the convert
    processor's (convert/convert.go:400-418, hasHexPrefix skips a sign)
    accepts '-0x12' → -18 and, via ParseInt base 0, digit-group
    underscores ('0x1_2' → 18)."""
    if data_type in ("", "string", "ip"):
        return col
    if data_type in ("long", "integer"):
        # strconv parity (matches _parse_int + convert_value's rstrip of
        # trailing spaces): decimal only as pure signed digits — Spark's
        # bare cast would also accept leading whitespace/underscores,
        # which the reference rejects. '017'/'08' are DECIMAL 17/8
        # (base 10 unless hex-prefixed — never octal; convert_test.go).
        v = F.rtrim(col)
        if signed_hex:
            hex_re = r"^[+-]?0[xX](_?[0-9a-fA-F])+$"
            digits = F.regexp_replace(F.regexp_replace(v, r"(?i)^[+-]?0x", ""), "_", "")
            sign = F.when(v.startswith("-"), F.lit(-1)).otherwise(F.lit(1))
            hexv = (sign * F.conv(digits, 16, 10).try_cast("bigint")).try_cast(
                _SPARK_TYPES[data_type]
            )
        else:
            hex_re = "^0[xX][0-9a-fA-F]+$"
            hexv = F.conv(F.regexp_replace(v, "(?i)^0x", ""), 16, 10).try_cast(
                _SPARK_TYPES[data_type]
            )
        return (
            F.when(v.rlike(hex_re), hexv)
            .when(v.rlike(r"^[+-]?[0-9]+$"), v.try_cast(_SPARK_TYPES[data_type]))
        )
    if data_type in ("float", "double"):
        # strconv parity incl. the special names (Inf/Infinity/NaN, any
        # case, optional sign) and Go-style HEX floats (0x1.8p-2) —
        # lowered to Column arithmetic (r4, closing the r3 documented
        # divergence): value = sign × int(mantissa_digits, 16) ×
        # 2^(exp − 4·fraclen). Mantissas up to 15 significant hex digits
        # (60 bits > the 53 double keeps) convert with ONE rounding —
        # bit-identical to strconv/fromhex; longer mantissas truncate to
        # 15 significant digits (sub-ulp effect only). The float32 form
        # rounds double→float32, the same composition the scalar path
        # (fromhex + float32 round-trip) uses.
        v = F.rtrim(col)
        low = F.lower(v)
        ty = _SPARK_TYPES[data_type]
        hex_sign = F.when(v.startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
        core = F.regexp_replace(v, r"(?i)^[+-]?0x", "")
        hmant = F.regexp_extract(core, r"^([0-9a-fA-F.]+)[pP]", 1)
        hexp = F.regexp_extract(core, r"(?i)p([+-]?[0-9]+)$", 1).try_cast("bigint")
        hdigits = F.regexp_replace(hmant, r"\.", "")
        fraclen = F.when(
            hmant.contains("."), F.length(hmant) - F.instr(hmant, ".")
        ).otherwise(F.lit(0))
        sig = F.regexp_replace(hdigits, "^0+", "")
        dropped = F.greatest(F.length(sig) - 15, F.lit(0))
        mant_i = F.coalesce(
            F.conv(F.substring(sig, 1, 15), 16, 10).try_cast("double"), F.lit(0.0)
        )
        p2 = (hexp - 4 * fraclen + 4 * dropped).cast("bigint")
        # Scale in TWO power-of-two steps: a single pow(2, p2) under/
        # overflows for |p2| > ~1022 even when mant_i × 2^p2 itself is
        # representable (r4 review: '0xFFFp-1082' must give the subnormal
        # 8e-323, not 0.0). Each half-exponent stays in normal range for
        # |p2| ≤ 1200; the first multiply is exact (power-of-two scaling
        # of a normal double), the second rounds once. KNOWN sub-ulp
        # corner (documented, pinned by test): a mantissa with >13
        # significant hex digits whose value lands in the SUBNORMAL band
        # at an exact halfway bit pattern double-rounds (mant_i is
        # rounded 60→53 bits first), e.g. '0x20000000000001p-1128' gives
        # 0.0 where fromhex gives 5e-324 — one ulp_subnormal apart;
        # normal-range results are exempt (power-of-two scaling of the
        # correctly-rounded 53-bit mantissa is exact).
        p2a = F.floor(p2 / 2).cast("double")
        p2b = p2.cast("double") - p2a
        signed = hex_sign * mant_i * F.pow(F.lit(2.0), p2a) * F.pow(F.lit(2.0), p2b)
        # parity target is the scalar path (float.fromhex): underflow →
        # signed zero; overflow → failure (fromhex raises OverflowError
        # and convert_value keeps the raw string, so this typed column
        # yields NULL — never Infinity for a finite input).
        # an exponent whose digit string overflows int64 leaves hexp NULL
        # — the SIGN of the unparseable exponent still decides the scalar
        # outcome (fromhex: deep underflow → signed zero; overflow →
        # OverflowError → raw string → NULL here)
        exp_neg = core.rlike("(?i)p-")
        # SIGNED zero, fromhex-style. Construction matters: a
        # CASE WHEN neg THEN -0.0 ELSE 0.0 collapses (Catalyst
        # canonicalizes literal -0.0 equal to 0.0, merging the
        # branches), and sign*0.0 gets constant-folded — coalesce over a
        # no-otherwise CASE survives optimization with the sign intact.
        zero = F.coalesce(F.when(v.startswith("-"), F.lit(-0.0)), F.lit(0.0))
        hex_val = (
            F.when(mant_i == 0.0, zero)
            .when(hexp.isNull() & exp_neg, zero)
            .when(hexp.isNull(), F.lit(None).cast("double"))
            .when(p2 < -1200, zero)
            .when((p2 <= 1200) & (F.abs(signed) != F.lit(float("inf"))), signed)
        )
        return (
            F.when(
                v.rlike(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$"),
                v.try_cast(ty),
            )
            .when(
                v.rlike(r"^[+-]?0[xX]([0-9a-fA-F]+(\.[0-9a-fA-F]*)?|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+$"),
                hex_val.cast(ty),
            )
            .when(low.rlike(r"^nan$"), F.lit(float("nan")).cast(ty))
            .when(low.rlike(r"^-inf(inity)?$"), F.lit(float("-inf")).cast(ty))
            .when(low.rlike(r"^[+]?inf(inity)?$"), F.lit(float("inf")).cast(ty))
        )
    if data_type == "boolean":
        # strconv.ParseBool parity (convert_test.go): EXACTLY
        # 1/t/T/TRUE/true/True and 0/f/F/FALSE/false/False — Spark's
        # boolean cast also accepts yes/no/y/n and any case ('TrUe'),
        # which the reference rejects.
        return (
            F.when(col.isin("1", "t", "T", "TRUE", "true", "True"), F.lit(True))
            .when(col.isin("0", "f", "F", "FALSE", "false", "False"), F.lit(False))
        )
    return col.try_cast(_SPARK_TYPES[data_type])


# ---------------------------------------------------------------------------
# DataFrame-level stages
# ---------------------------------------------------------------------------


def dissect_columns(
    df: DataFrame,
    tokenizer: str,
    src: str = "text",
    prefix: str = "",
    keys: list[str] | None = None,
    flag_failures: bool = True,
    trim_values: str | None = None,
    trim_chars: str = " ",
    overwrite_keys: bool = False,
    convert_types: bool = True,
) -> DataFrame:
    """Dissect `src` into one top-level string column per capture key.

    Uses the locate/substr Column plan when the tokenizer allows it (the
    hot path — stays inside WholeStageCodegen); otherwise an
    Arrow-batched struct UDF. Parse failure ⇒ NULL columns +
    `dissect_parsing_error` appended to log_flags (processor.go:107-117
    semantics).

    Processor-level semantics (processor.go:83-105, r5 matrix port):
      * `prefix` is the target_prefix analog under the engine's flat
        column convention (target 'dissect' → columns 'dissect_<key>');
      * `overwrite_keys=False` (the reference default) REFUSES to write
        over an existing column — the per-event "cannot override
        existing key" error is a PLAN-time DissectError here, which is
        strictly stronger than the reference's pre-check (no partial
        writes by construction: processor_test.go's clone-skip safety);
      * typed captures (`%{k|integer}`) cast via cast_column when
        `convert_types` (divergence: the reference keeps the raw string
        on conversion failure, impossible in a typed column — failures
        become NULL, see cast_column).
    """
    d = Dissector(tokenizer, trim_values=trim_values, trim_chars=trim_chars)
    if d.has_dynamic_keys:
        raise DissectError("dynamic (indirect) keys need dissect_attrs()")
    out_keys = keys or d.output_keys()
    if not overwrite_keys:
        clash = [k for k in out_keys if prefix + k in df.columns]
        if clash:
            raise DissectError(
                f"cannot override existing key with `{clash[0]}` "
                "(pass overwrite_keys=True to allow; processor.go:91-99)"
            )
    types = {f.key: f.data_type for f in d.fields if f.data_type} if convert_types else {}

    def _typed(k: str, v: Column) -> Column:
        return cast_column(v, types[k]) if k in types else v

    col = F.col(src)
    plan = d.locate_plan(col)
    tmp = None
    if plan is not None:
        matched, cols = plan
        # errEmpty parity: an empty input string is a parse failure
        # (dissect.go:58-60).
        matched = matched & (F.length(col) > 0)
        for k in out_keys:
            df = df.withColumn(prefix + k, _typed(k, F.when(matched, cols[k])))
        fail_cond = ~F.coalesce(matched, F.lit(False))
    else:
        struct_type = ", ".join(f"`{k}` string" for k in out_keys)

        def _udf(s: pd.Series) -> pd.DataFrame:
            maps = d.pandas_dissect(s)
            return pd.DataFrame(
                [[None] * len(out_keys) if m is None else [m.get(k) for k in out_keys] for m in maps],
                columns=out_keys,
                index=s.index,
            )

        u = pandas_udf(_udf, f"struct<{struct_type}>")
        tmp = "_dissect_struct"
        df = df.withColumn(tmp, u(col))
        for k in out_keys:
            df = df.withColumn(prefix + k, _typed(k, F.col(tmp)[k]))
        fail_cond = F.col(tmp).isNull() | F.col(f"{tmp}.{out_keys[0]}").isNull()
    # flag BEFORE dropping the temp struct — the UDF's fail_cond references it
    if flag_failures:
        df = df.withColumn(FLAGS_COL, append_flag(flags_column(df), FLAG_DISSECT_FAILURE, fail_cond))
    return df if tmp is None else df.drop(tmp)


def dissect_attrs(
    df: DataFrame,
    tokenizer: str,
    src: str = "text",
    target: str = "attrs",
    flag_failures: bool = True,
    trim_values: str | None = None,
    trim_chars: str = " ",
) -> DataFrame:
    """Full-grammar dissect into a MapType column (supports indirect keys).

    Merges into an existing `target` map with map_concat (DeepUpdate
    analog, event.go:125-210)."""
    d = Dissector(tokenizer, trim_values=trim_values, trim_chars=trim_chars)

    @pandas_udf(ATTRS_TYPE)
    def _udf(s: pd.Series) -> pd.Series:
        return d.pandas_dissect(s)

    new_map = _udf(F.col(src))
    if target in df.columns:
        merged = F.when(
            new_map.isNotNull(),
            F.map_concat(F.coalesce(F.col(target), F.create_map().cast(ATTRS_TYPE)), new_map),
        ).otherwise(F.col(target))
    else:
        merged = new_map
    df = df.withColumn(target, merged)
    if flag_failures:
        df = df.withColumn(FLAGS_COL, append_flag(flags_column(df), FLAG_DISSECT_FAILURE, new_map.isNull()))
    return df
