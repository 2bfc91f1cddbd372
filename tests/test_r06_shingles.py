"""r6 optimization regressions: the regex char-shingle path and the
jaccard inclusion-exclusion rewrite must be exactly the documented
semantics on every edge class (independent Python references, not
copies of the Spark expressions)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

# Java \s = [ \t\n\x0B\f\r]; Python \s is wider (unicode), so the
# reference normalizer spells the Java class out explicitly.
_JAVA_WS = "[ \t\n\x0b\f\r]+"


def _py_char_shingles(text, n=5):
    """Independent reference: lower, Java-\\s runs -> one space, trim,
    overlapping code-point n-grams, first-occurrence dedup, whole-text
    fallback below n chars, [None] for NULL text."""
    if text is None:
        return [None]
    norm = re.sub(_JAVA_WS, " ", text.lower()).strip(" ")
    if len(norm) < n:
        return [norm]
    seen, out = set(), []
    for i in range(len(norm) - n + 1):
        g = norm[i : i + n]
        if g not in seen:
            seen.add(g)
            out.append(g)
    return out


# edge classes: plain text; U+0085/U+2028/U+2029 line separators that
# Java \s+ does NOT collapse (the (?s) requirement); astral emoji
# (code-unit vs code-point divergence: must take the substr path);
# empty/blank/short/exact-n; NULL (stays the [NULL] singleton so the
# md5 seed family keeps hashing that row); mixed astral+BMP.
ROWS = [
    (1, "abc defghij"),
    (2, "xy z tail more text here"),
    (3, "nelnel  mid  and more"),
    (4, "emoji \U0001f600\U0001f601\U0001f602\U0001f603 pad"),
    (5, ""),
    (6, "   "),
    (7, "abcd"),
    (8, "abcde"),
    (9, None),
    (10, "a\tb\nc\rd e f g h i j k l m"),
    (11, "mixed \U0001f680 bmp   and ascii tail text"),
]


def test_char_shingles_regex_path_matches_python_reference(spark):
    from beats_spark.datapipe.dedup import shingles

    df = spark.createDataFrame(ROWS, "i long, text string")
    got = {
        r["i"]: r["g"]
        for r in df.select("i", shingles(F.col("text"), 5).alias("g")).collect()
    }
    for i, text in ROWS:
        assert got[i] == _py_char_shingles(text), (i, got[i], _py_char_shingles(text))


def _py_word_grams_all(text, n):
    """Independent reference for _word_grams_all: all n-gram occurrences
    with multiplicity over the normalized token stream; [] for NULL,
    sub-n and empty texts."""
    if text is None:
        return []
    norm = re.sub(_JAVA_WS, " ", text.lower()).strip(" ")
    if not norm:
        return []
    toks = norm.split(" ")
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def test_word_grams_all_regex_path_matches_python_reference(spark):
    from beats_spark.datapipe.text import _word_grams_all

    rows = ROWS + [
        (12, "rep rep rep rep"),  # multiplicity must be preserved
        (13, "a \U0001f600 b \U0001f680\U0001f601 c d"),  # astral tokens
    ]
    df = spark.createDataFrame(rows, "i long, text string")
    for n in (2, 3, 10):
        got = {
            r["i"]: r["g"]
            for r in df.select(
                "i", _word_grams_all(F.col("text"), n).alias("g")
            ).collect()
        }
        for i, text in rows:
            assert got[i] == _py_word_grams_all(text, n), (n, i, got[i])


def test_jaccard_verify_inclusion_exclusion_exact(spark):
    """jaccard_verify's |A∪B| = |A|+|B|−|A∩B| rewrite (r6) must give
    Python-set jaccard on the same normalization, including the [NULL]
    null-text singleton, the [''] empty-text singleton, exact dups and
    disjoint pairs."""
    from beats_spark.datapipe.dedup import jaccard_verify

    texts = {
        1: "hello world this is a document",
        2: "hello world this is a document",  # exact dup: jaccard 1.0
        3: "hello world this was a document",  # near dup
        4: "completely different content here",
        5: None,  # [NULL] singleton shingle set
        6: "",  # [''] singleton
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pair_list = [(1, 2), (1, 3), (1, 4), (5, 6), (3, 4)]
    pairs = spark.createDataFrame(pair_list, "id_a long, id_b long")
    out = jaccard_verify(docs, pairs, threshold=0.0)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}

    def sh(text):
        return frozenset(_py_char_shingles(text))

    for a, b in pair_list:
        sa, sb = sh(texts[a]), sh(texts[b])
        expect = round(len(sa & sb) / len(sa | sb), 6)
        assert got[(a, b)] == expect, ((a, b), got[(a, b)], expect)
