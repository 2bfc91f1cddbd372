"""The locate/substr dissect plan (the only Column path) must agree with
the anchored regex `regex_pattern` lowers the same tokenizer to, and
both with the scalar reference walk.

Why equality holds (and what this test pins): the sequential-find walk
takes the FIRST occurrence of each delimiter; any regex assignment's
occurrence q_j is >= the sequential p_j by induction, so sequential
success implies the regex matches with exactly the sequential captures,
and sequential failure implies no regex assignment exists either. A
greedy `%{k->}` keeps this only because its padding is possessive in
the regex: a backtracking `(?:c)*` could hand a padding character to a
later delimiter search and match where the walk fails ('x  y' against
'%{a->} %{b} %{c}'). The test hammers the Column plan against a plain
Python `re` evaluation of the pattern and against `Dissector.dissect`
over adversarial strings (repeated delimiters, padding runs, delimiters
inside captures, embedded newlines, empties).
"""

from __future__ import annotations

import random
import re

import pytest

from beats_spark.dissect import DissectError, Dissector, dissect_columns

TOKENIZERS = [
    'level=%{level} ts=%{ts_str} tool=%{tool_tok} msg="%{msg}"',
    "ran step %{step}",
    "%{a} - %{b}:%{c}",
    "[%{ts}] %{rest}",
    "%{a->} %{b}",
    "[%{ts->}]%{rest}",
    "%{a->} %{b} %{c}",
]

PIECES = [
    "level=", " ts=", " tool=", ' msg="', '"', " - ", ":", "[", "]", " ",
    "x", "yy", "ts=", "msg=", "level", "\n", "", "step", "ran step ",
    "   ", "]]]",
]


def _random_strings(n: int, seed: int) -> list[str]:
    rnd = random.Random(seed)
    out = []
    for _ in range(n):
        k = rnd.randrange(0, 8)
        out.append("".join(rnd.choice(PIECES) for _ in range(k)))
    # targeted adversarial shapes: delimiters recurring inside captures
    out += [
        'level=a ts=b ts=c tool=d msg="e"',
        'level=a ts=1 msg="no tool" ts=2 tool=t msg="m"',
        'level= ts= tool= msg=""',
        'level=a tool=b msg="c"',   # missing " ts=" → must fail
        'level=a ts=b tool=c msg="unterminated',  # missing closing quote
        "",
        'level=a\nts=b ts=c tool=d msg="e\nf"',
        "x  y",      # padding run, then a field with no delimiter left
        "a   b  c",
        "[t]]] r",
    ]
    return out


@pytest.mark.parametrize("tok", TOKENIZERS)
def test_locate_plan_equals_regex_reference(spark, tok):
    d = Dissector(tok)
    from pyspark.sql import functions as F

    pattern = d.regex_pattern()
    assert pattern is not None
    assert d.locate_plan(F.col("text")) is not None  # eligible for the fast path
    keys = d.output_keys()
    import zlib

    # deterministic per-tokenizer seed (built-in hash() is salted per
    # process — a failure found by a randomized case must reproduce)
    rows = [(i, s) for i, s in enumerate(_random_strings(400, seed=zlib.crc32(tok.encode())))]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: tuple(r[k] for k in keys)
        for r in dissect_columns(df, tok, src="text", flag_failures=False).collect()
    }
    cre = re.compile(pattern)
    # group index per output key (first saveable field with that key)
    gidx = {}
    for gi, f in enumerate(d.fields, start=1):
        if f.saveable and f.key not in gidx:
            gidx[f.key] = gi
    for i, s in rows:
        m = cre.match(s) if s else None
        want = (
            tuple(m.group(gidx[k]) for k in keys)
            if (m is not None and len(s) > 0)
            else tuple(None for _ in keys)
        )
        try:
            walk = tuple(d.dissect(s)[k] for k in keys)
        except DissectError:
            walk = tuple(None for _ in keys)
        assert want == walk, f"{tok!r} on {s!r}: regex {want} != walk {walk}"
        assert got[i] == want, f"{tok!r} on {s!r}: {got[i]} != {want}"
