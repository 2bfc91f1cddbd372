"""The Arrow UDF path (tokenizers `locate_plan` cannot take) maps the
reference walk over each batch: a NULL, an empty or a non-matching value
yields NULL captures and exactly one `dissect_parsing_error`, through
both `dissect_columns` and `dissect_attrs`; a matching value is not
flagged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.dissect import Dissector, dissect_attrs, dissect_columns
from beats_spark.events import FLAG_DISSECT_FAILURE, FLAGS_COL

# (tokenizer, a matching line with its captures, a non-matching line)
CASES = [
    ("%{a} %{+a} %{b}", ("x y z", {"a": "x y", "b": "z"}), "one-token"),
    ("%{a#3}-%{b}", ("abc-de", {"a": "abc", "b": "de"}), "ab"),
]


@pytest.mark.parametrize("tok,good,bad", CASES, ids=["append", "fixed_length"])
def test_udf_path_failures_are_null_and_flagged_once(spark, tok, good, bad):
    assert Dissector(tok).locate_plan(F.col("text")) is None
    line, want = good
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, bad), (3, line)], "id int, text string"
    )

    cols = {r.id: r for r in dissect_columns(df, tok).collect()}
    attrs = {r.id: r for r in dissect_attrs(df, tok).collect()}
    for i in (0, 1, 2):
        assert [cols[i][k] for k in want] == [None] * len(want), cols[i]
        assert cols[i][FLAGS_COL] == [FLAG_DISSECT_FAILURE], cols[i]
        assert attrs[i].attrs is None, attrs[i]
        assert attrs[i][FLAGS_COL] == [FLAG_DISSECT_FAILURE], attrs[i]
    assert {k: cols[3][k] for k in want} == want
    assert cols[3][FLAGS_COL] == []
    assert attrs[3].attrs == want
    assert attrs[3][FLAGS_COL] == []
