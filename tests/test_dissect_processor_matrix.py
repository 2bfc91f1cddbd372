"""Processor-level dissect matrix — ported from the reference's
libbeat/processors/dissect/processor_test.go (633 lines): field /
target_prefix routing, namespace merging, trim interplay, error
flagging, overwrite_keys, typed captures, indirect-key prefixing.

Engine mapping (documented divergences):
  * `field` → src=, `target_prefix` → prefix= under the flat column
    convention (target 'dissect' → columns 'dissect_<key>'); the nested
    mapstr target is dissect_attrs(target=) for dynamic keys.
  * the per-event "cannot override existing key" error is a PLAN-time
    DissectError (typed engine: column conflicts are static), which also
    gives the clone-skip safety processor_test.go asserts — no partial
    writes can exist.
  * per-event Run() errors have no row-level analog: a parse failure is
    NULL captures + the `dissect_parsing_error` flag on the row (the
    reference's ignore_failure observable), asserted below.

Every case runs on BOTH execution paths: the pure-Column fast path and
the Arrow UDF path (forced by disabling locate_plan).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.dissect import DissectError, Dissector, dissect_columns

# (name, tokenizer, kwargs, message, expected {column: value})
PROCESSOR_CASES = [
    # TestProcessor matrix
    (
        "default_target",  # target_prefix 'dissect' → dissect_ columns
        "hello %{key}",
        {"prefix": "dissect_"},
        "hello world",
        {"dissect_key": "world"},
    ),
    (
        "target_root",
        "hello %{key}",
        {"prefix": ""},
        "hello world",
        {"key": "world"},
    ),
    (
        "specific_field_target_root",
        "hello %{key}",
        {"prefix": "", "src": "new_field"},
        "hello world",
        {"key": "world"},
    ),
    (
        "specific_field_specific_target",
        "hello %{key}",
        {"prefix": "new_target_", "src": "new_field"},
        "hello world",
        {"new_target_key": "world"},
    ),
    (
        "trim_right",
        "hello %{key} %{key2}",
        {"prefix": "", "trim_values": "right", "trim_chars": " \t"},
        "hello world\t super ",
        {"key": "world", "key2": "super"},
    ),
    (
        "no_trim_by_default",
        "hello %{key} %{key2}",
        {"prefix": ""},
        "hello world\t super ",
        {"key": "world\t", "key2": "super "},
    ),
    (
        "trim_left",
        "hello %{key} %{key2}",
        {"prefix": "", "trim_values": "left", "trim_chars": " \t"},
        "hello \tworld\t \tsuper ",
        {"key": "world\t", "key2": "super "},
    ),
    (
        "trim_all",
        "hello %{key} %{key2}",
        {"prefix": "", "trim_values": "all", "trim_chars": " \t"},
        "hello \tworld\t \tsuper ",
        {"key": "world", "key2": "super"},
    ),
]


def _run(spark, tokenizer, kwargs, message, force_udf, monkeypatch, extra_cols=None):
    src = kwargs.get("src", "text")
    cols = {src: message}
    cols.update(extra_cols or {})
    df = spark.createDataFrame(
        [tuple(cols.values())], ", ".join(f"`{c}` string" for c in cols)
    )
    if force_udf:
        monkeypatch.setattr(Dissector, "locate_plan", lambda self, col: None)
    return dissect_columns(df, tokenizer, **kwargs)


@pytest.mark.parametrize("force_udf", [False, True], ids=["column", "udf"])
@pytest.mark.parametrize("case", PROCESSOR_CASES, ids=[c[0] for c in PROCESSOR_CASES])
def test_processor_matrix(spark, monkeypatch, case, force_udf):
    _, tokenizer, kwargs, message, expected = case
    out = _run(spark, tokenizer, kwargs, message, force_udf, monkeypatch).first()
    for col, val in expected.items():
        assert out[col] == val, (col, out[col], val)


@pytest.mark.parametrize("force_udf", [False, True], ids=["column", "udf"])
def test_existing_namespace_not_conflicting(spark, monkeypatch, force_udf):
    """'extract to already existing namespace not conflicting': existing
    extracted.not (flat extracted_not) survives; new keys land beside."""
    out = _run(
        spark,
        "hello %{key} %{key2}",
        {"prefix": "extracted_"},
        "hello world super",
        force_udf,
        monkeypatch,
        extra_cols={"extracted_not": "hello"},
    ).first()
    assert out.extracted_key == "world"
    assert out.extracted_key2 == "super"
    assert out.extracted_not == "hello"


def test_field_doesnt_exist_errors(spark):
    """TestFieldDoesntExist: a missing source field fails (plan-time
    AnalysisException here — the engine's analog of Run()'s error)."""
    df = spark.createDataFrame([("world",)], "hello string")
    with pytest.raises(Exception):
        dissect_columns(df, "hello %{key}", src="message").collect()


@pytest.mark.parametrize(
    "prefix,existing",
    [
        ("", "key"),  # no prefix, top-level conflict
        ("extracted_", "extracted_key"),  # conflicting key under prefix
    ],
)
def test_field_already_exist_refuses(spark, prefix, existing):
    """TestFieldAlreadyExist / TestOverwriteKeys: writing over an existing
    key errors unless overwrite_keys=True; the refusal is plan-time, so
    the input frame is untouched (clone-skip safety by construction)."""
    df = spark.createDataFrame(
        [("hello world", "exists")], f"text string, `{existing}` string"
    )
    with pytest.raises(DissectError, match="cannot override existing key"):
        dissect_columns(df, "hello %{key}", prefix=prefix)
    with pytest.raises(DissectError, match="cannot override existing key"):
        dissect_columns(df, "hello %{key}", prefix=prefix, overwrite_keys=False)


@pytest.mark.parametrize("force_udf", [False, True], ids=["column", "udf"])
def test_overwrite_keys_true_overwrites(spark, monkeypatch, force_udf):
    df = spark.createDataFrame([("hello world", 42)], "text string, key int")
    if force_udf:
        monkeypatch.setattr(Dissector, "locate_plan", lambda self, col: None)
    out = dissect_columns(df, "hello %{key}", overwrite_keys=True).first()
    assert out.key == "world"
    assert out.text == "hello world"


@pytest.mark.parametrize("force_udf", [False, True], ids=["column", "udf"])
def test_error_flagging(spark, monkeypatch, force_udf):
    """TestErrorFlagging + TestIgnoreFailure: parse failure ⇒ the
    dissect_parsing_error flag (and NULL captures); success ⇒ no flag.
    Rows are never dropped/errored — the reference's ignore_failure
    observable, which is this engine's only per-row error surface."""
    df = spark.createDataFrame(
        [("hello world",), ("something completely different",)], "text string"
    )
    if force_udf:
        monkeypatch.setattr(Dissector, "locate_plan", lambda self, col: None)
    rows = {r.text: r for r in dissect_columns(df, "hello %{key}").collect()}
    good = rows["hello world"]
    bad = rows["something completely different"]
    assert good.key == "world" and "dissect_parsing_error" not in (good.log_flags or [])
    assert bad.key is None and "dissect_parsing_error" in bad.log_flags


@pytest.mark.parametrize("force_udf", [False, True], ids=["column", "udf"])
def test_processor_convert_typed_capture(spark, monkeypatch, force_udf):
    """TestProcessorConvert: %{user_id|integer} lands as int32."""
    df = spark.createDataFrame([("userid=7736",)], "text string")
    if force_udf:
        monkeypatch.setattr(Dissector, "locate_plan", lambda self, col: None)
    out = dissect_columns(df, "userid=%{user_id|integer}", prefix="dissect_")
    assert dict(out.dtypes)["dissect_user_id"] == "int"
    assert out.first().dissect_user_id == 7736


def test_prefix_with_indirect_field(spark):
    """TestPrefixWithIndirectField: dynamic keys from %{?k}=%{&k} are
    prefixed — in this engine indirect keys target a map column, the
    `dissect` namespace analog."""
    df = spark.createDataFrame([('id=7736 msg="hello"',)], "text string")
    from beats_spark.dissect import dissect_attrs

    out = dissect_attrs(df, '%{?k1}=%{&k1} msg="%{message}"', target="dissect").first()
    assert out.dissect["id"] == "7736"
    assert out.dissect["message"] == "hello"


def test_matrix_on_fast_path(spark):
    """The regex fast path applies the trim matrix."""
    df = spark.createDataFrame([("hello \tworld\t \tsuper ",)], "text string")
    out = dissect_columns(
        df,
        "hello %{key} %{key2}",
        prefix="",
        trim_values="all",
        trim_chars=" \t",
    ).first()
    assert out.key == "world" and out.key2 == "super"
