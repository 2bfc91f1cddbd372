"""Dissect tokenizer golden suite.

Runs the reference's own fixture corpus
(/root/reference/libbeat/processors/dissect/testdata/dissect_tests.json)
through BOTH of our implementations:
  * the scalar reference walk (Dissector.dissect), and
  * the Arrow-batch UDF path (Dissector.pandas_dissect, which maps the
    same reference walk over each batch),
and cross-checks they agree case-by-case.  FIXTURES.md §2.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from beats_spark.dissect import Dissector, DissectError, convert_value

GOLDEN = "/root/reference/libbeat/processors/dissect/testdata/dissect_tests.json"


def load_cases():
    if not os.path.exists(GOLDEN):
        pytest.skip("reference golden fixtures not available")
    with open(GOLDEN) as f:
        cases = json.load(f)
    return [c for c in cases if not c.get("skip")]


CASES = load_cases() if os.path.exists(GOLDEN) else []


@pytest.mark.parametrize("case", CASES, ids=[c["name"][:60] for c in CASES])
def test_scalar_golden(case):
    if case.get("fail"):
        with pytest.raises(DissectError):
            Dissector(case["tok"]).dissect(case["msg"])
        return
    result = Dissector(case["tok"]).dissect(case["msg"])
    assert result == case["expected"], f"tok={case['tok']!r}"


def test_vectorized_matches_scalar_batch():
    """All cases in one batch — the vectorized path must agree exactly."""
    cases = load_cases()
    by_tok: dict[str, list[dict]] = {}
    for c in cases:
        by_tok.setdefault(c["tok"], []).append(c)
    for tok, group in by_tok.items():
        d = Dissector(tok)
        msgs = pd.Series([c["msg"] for c in group])
        out = d.pandas_dissect(msgs)
        for i, c in enumerate(group):
            if c.get("fail"):
                assert out.iloc[i] is None, f"expected fail: {c['name']}"
            else:
                assert out.iloc[i] == c["expected"], f"mismatch: {c['name']}"


def test_vectorized_mixed_good_and_bad_rows():
    tok = "level=%{level} ts=%{ts} tool=%{tool} msg=\"%{msg}\""
    d = Dissector(tok)
    s = pd.Series(
        [
            'level=info ts=2026-01-02T03:04:05Z tool=bash msg="ran step 17"',
            "level info corrupted line",
            None,
            "",
            'level=warn ts=x tool= msg="m"',
        ]
    )
    out = d.pandas_dissect(s)
    assert out.iloc[0] == {"level": "info", "ts": "2026-01-02T03:04:05Z", "tool": "bash", "msg": "ran step 17"}
    assert out.iloc[1] is None
    assert out.iloc[2] is None
    assert out.iloc[3] is None
    assert out.iloc[4] == {"level": "warn", "ts": "x", "tool": "", "msg": "m"}


def test_trim_values():
    d = Dissector("%{a},%{b}", trim_values="all")
    assert d.dissect("  hello , world  ") == {"a": "hello", "b": "world"}
    d = Dissector("%{a},%{b}", trim_values="right", trim_chars=" x")
    assert d.dissect("hexx,wo ") == {"a": "he", "b": "wo"}


@pytest.mark.parametrize(
    "value,typ,expected",
    [
        ("42", "long", 42),
        ("0x2A", "long", 42),
        ("-12", "integer", -12),
        ("3.5", "double", 3.5),
        ("true", "boolean", True),
        ("T", "boolean", True),
        ("0", "boolean", False),
        ("10.0.0.1", "ip", "10.0.0.1"),
        ("999.0.0.1", "ip", "999.0.0.1"),  # invalid ip → raw fallback
        ("abc", "long", "abc"),  # failure → raw string (convertData fallback)
        ("42 ", "long", 42),  # right-trimmed before convert
    ],
)
def test_convert_value(value, typ, expected):
    assert convert_value(typ, value) == expected


def test_dissect_convert_typed():
    d = Dissector("%{n|long} %{f|double} %{b|boolean} %{s}")
    out = d.dissect_convert("7 1.5 true xyz")
    assert out == {"n": 7, "f": 1.5, "b": True, "s": "xyz"}


def test_fast_path_trim_values(spark):
    """trim_values through the Column fast path (not just scalar/UDF)."""
    from beats_spark.dissect import dissect_columns

    df = spark.createDataFrame([("a=  hello  ,b=  world  !",)], "text string")
    out = dissect_columns(df, "a=%{x},b=%{y}!", trim_values="all").first()
    assert out.x == "hello" and out.y == "world"
    # right-only
    out2 = dissect_columns(df, "a=%{x},b=%{y}!", trim_values="right", prefix="r_").first()
    assert out2.r_x == "  hello" and out2.r_y == "  world"
