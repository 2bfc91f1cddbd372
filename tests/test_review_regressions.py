"""Regression tests for the round-1 code-review findings — each test
reproduces a defect that existed before the fix."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from beats_spark.conditions import compile_condition
from beats_spark.dissect import cast_column, dissect_columns
from beats_spark.processors import build


def test_udf_path_dissect_flags_after_drop(spark):
    """Finding 1: full-grammar tokenizer + flag_failures=True crashed with
    UNRESOLVED_COLUMN because fail_cond referenced the dropped temp struct."""
    df = spark.createDataFrame([("a b c",), ("nope",)], "text string")
    out = dissect_columns(df, "%{+x} %{+x} %{y}", src="text")  # append → UDF path
    rows = sorted(out.collect(), key=lambda r: r.text)
    good = next(r for r in rows if r.text == "a b c")
    bad = next(r for r in rows if r.text == "nope")
    assert good.x == "a b" and good.y == "c" and "dissect_parsing_error" not in good.log_flags
    assert bad.x is None and "dissect_parsing_error" in bad.log_flags


def test_map_concat_duplicate_keys_overwrite(spark):
    """Finding 2: duplicate map keys crashed with DUPLICATED_MAP_KEY under
    the default dedup policy; LAST_WIN gives the documented overwrite."""
    df = spark.createDataFrame(
        [('{"k": "new", "other": "o"}',)], "text string"
    ).withColumn("attrs", F.create_map(F.lit("k"), F.lit("old")))
    over = build("decode_json_fields", fields=["text"], overwrite_keys=True)(df).first()
    assert over.attrs["k"] == "new"
    keep = build("decode_json_fields", fields=["text"], overwrite_keys=False)(df).first()
    assert keep.attrs["k"] == "old" and keep.attrs["other"] == "o"
    # add_fields re-applied with the same key must not crash either
    twice = build("add_fields", fields={"a": "1"}, target="t")(
        build("add_fields", fields={"a": "0"}, target="t")(df)
    ).first()
    assert twice.attrs["t.a"] == "1"


def test_decode_duration_seconds_plus_ms(spark):
    """Finding 4: '1s500ms' returned 0.5 (seconds dropped when ms present)."""
    df = spark.createDataFrame([("1s500ms",), ("2m1s250ms",)], "d string")
    vals = [r.secs for r in build("decode_duration", field="d", target="secs")(df).collect()]
    assert vals[0] == pytest.approx(1.5)
    assert vals[1] == pytest.approx(121.25)


def test_negative_hex_cast(spark):
    """Finding 5: '-0x1f' silently converted to 0 (unflagged corruption).
    Round-2 parity update: the reference's strToInt accepts only UNSIGNED
    0x/0X hex — signed hex now fails the cast (NULL + flag downstream)
    instead of parsing; the original corruption (silent 0) stays dead."""
    df = spark.createDataFrame([("-0x1f",), ("0x1F",), ("+0xa",), (" 5 ",), ("1_0",)], "v string")
    out = df.select(cast_column(F.col("v"), "long").alias("n")).collect()
    assert [r.n for r in out] == [None, 31, None, None, None]


def test_ipv6_cidr_named_networks(spark):
    """Finding 3: textual startswith missed ff02::1 for multicast and
    fdab::1 for private (classified public)."""
    df = spark.createDataFrame(
        [("ff02::1",), ("fdab::1",), ("fe80::5",), ("::1",), ("2001:db8::1",)],
        "ip string",
    )
    multicast = {r.ip for r in df.filter(compile_condition({"network": {"ip": "multicast"}})).collect()}
    assert multicast == {"ff02::1"}
    private = {r.ip for r in df.filter(compile_condition({"network": {"ip": "private"}})).collect()}
    assert "fdab::1" in private
    link_local = {r.ip for r in df.filter(compile_condition({"network": {"ip": "link_local_unicast"}})).collect()}
    assert link_local == {"fe80::5"}
    loopback = {r.ip for r in df.filter(compile_condition({"network": {"ip": "loopback"}})).collect()}
    assert loopback == {"::1"}
    public = {r.ip for r in df.filter(compile_condition({"network": {"ip": "public"}})).collect()}
    assert "2001:db8::1" in public and "fdab::1" not in public


def test_malformed_ipv4_not_in_cidr(spark):
    """Finding 6: '9.264.0.1' aliased into 10.0.0.0/8 via unvalidated octets."""
    df = spark.createDataFrame([("9.264.0.1",), ("10.0.0.1",), ("256.1.1.1",)], "ip string")
    private = {r.ip for r in df.filter(compile_condition({"network": {"ip": "private"}})).collect()}
    assert private == {"10.0.0.1"}


def test_add_formatted_index_missing_field(spark):
    """Finding 7: template referencing an absent field crashed at analysis."""
    df = spark.createDataFrame([("c1",)], "conv_id string")
    out = build("add_formatted_index", index="logs-%{[not_there]}")(df).first()
    assert out._meta_index is None
    ok = build("add_formatted_index", index="logs-%{[conv_id]}")(df).first()
    assert ok._meta_index == "logs-c1"


def test_ndjson_expand_schema_with_parameterized_types(spark):
    """Finding 8: DDL name extraction broke on map<string,string>."""
    df = spark.createDataFrame([('{"a": 1, "m": {"x": "y"}}',)], "text string")
    r = build(
        "ndjson", expand_schema="a int, m map<string,string>", keys_under_root=True
    )(df).first()
    assert r.a == 1 and r.m == {"x": "y"}


# --- round-2 self-review findings ------------------------------------------


def test_cast_trailing_space_matches_scalar_walk(spark):
    """R2 finding 1+6: Column fast path must rstrip spaces like
    convert_value (dissect.go rstrips), and reject Unicode digits."""
    from beats_spark.dissect import convert_value

    df = spark.createDataFrame([("42 ",), (" 42",), ("3.5 ",)], "v string")
    out = df.select(
        cast_column(F.col("v"), "long").alias("n"),
        cast_column(F.col("v"), "double").alias("d"),
    ).collect()
    assert out[0].n == 42 and convert_value("long", "42 ") == 42
    assert out[1].n is None and convert_value("long", " 42") == " 42"
    assert out[2].d == 3.5 and convert_value("double", "3.5 ") == 3.5
    # Unicode digits: Python float() accepts them, strconv does not
    assert convert_value("float", "٥.٥") == "٥.٥"


def test_syslog_auto_requires_full_5424_grammar(spark):
    """R2 finding 2: auto-detection must require the FULL 5424 grammar,
    not just the <PRI>VERSION prefix — a prefix-only line must not be
    committed to the 5424 branch (version stays NULL; note no line can
    match the version gate AND be valid 3164, so both grammars reject)."""
    from beats_spark.processors.parsers import syslog

    df = spark.createDataFrame(
        [
            ("<13>7 errors found on host1",),  # gate matches, 5424 doesn't
            ("<34>1 2003-10-11T22:14:15.003Z mymachine su - ID47 - msg",),
        ],
        "text string",
    )
    out = syslog("text", format="auto")(df).collect()
    assert out[0].syslog_version is None  # NOT misrouted to 5424
    assert out[0].syslog_msgid is None and out[0].syslog_sd is None
    assert out[1].syslog_version == 1 and out[1].syslog_priority == 34


def test_ipv6_double_compression_rejected(spark):
    """R2 finding 3: '1::2::3' is not valid IPv6 and must not match."""
    df = spark.createDataFrame([("1::2::3",), ("1::2",)], "ip string")
    got = {r.ip for r in df.filter(compile_condition({"network": {"ip": "1::/16"}})).collect()}
    assert got == {"1::2"}


def test_ipv6_invalid_compressed_forms_rejected(spark):
    """R3 ADVICE: forms net.ParseIP rejects must not parse here either —
    8 explicit groups plus '::' and triple-colon runs. Cross-checked
    against Python's `ipaddress` for the whole fixture."""
    import ipaddress

    cases = [
        "1:2:3:4:5:6:7::8",  # 8 groups + '::' — invalid ('::' must cover ≥1 group)
        "1:::2",             # triple colon — invalid
        "1::2:3:4:5:6:7:8",  # also 8 groups + '::'
        "1::2",              # valid
        "::1",               # valid
        "1:2:3:4:5:6:7:8",   # valid, uncompressed
        "fe80::1",           # valid
    ]
    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    got = {r.ip for r in df.filter(compile_condition({"network": {"ip": "::/0"}})).collect()}
    want = set()
    for c in cases:
        try:
            ipaddress.IPv6Address(c)
            want.add(c)
        except ValueError:
            pass
    assert got == want


def test_fingerprint_null_field_keeps_digest(spark):
    """R2 finding 4: one NULL field must not NULL the whole fingerprint."""
    import hashlib

    from beats_spark.processors.actions import fingerprint

    df = spark.createDataFrame([(None, 7)], "a string, b int")
    r = fingerprint(["a", "b"], target_field="fp", method="sha256")(df).collect()[0]
    assert r.fp == hashlib.sha256(b"|a||b|7|").hexdigest()


def test_syslog_sd_id_without_params(spark):
    """R2 finding 5: SD-ELEMENT with no params must not capture ']'."""
    from beats_spark.processors.parsers import syslog

    df = spark.createDataFrame(
        [("<165>1 2024-01-01T00:00:00Z h app - ID1 [exampleSDID@32473] msg",)], "text string"
    )
    r = syslog("text", format="rfc5424")(df).collect()[0]
    assert r.syslog_sd_id == "exampleSDID@32473"


def test_lsh_requires_explicit_dim(spark):
    """R2 finding 7: no plan-time .first() job to sniff dim."""
    from beats_spark.datapipe.similarity import lsh_bucket_topk

    df = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id int, embedding array<float>")
    with pytest.raises(ValueError, match="explicit dim"):
        lsh_bucket_topk(df, df)


def test_scrub_pii_unknown_kind_raises():
    """R2 finding 10: a typo'd kind must fail loud, not skip scrubbing."""
    from beats_spark.datapipe.text import scrub_pii

    with pytest.raises(ValueError, match="phones"):
        scrub_pii(F.lit("x"), kinds=["email", "phones"])


# --- round-2b self-review findings (post-feature review pass) ----------------


def test_truncate_max_bytes_mid_rune_safe(spark):
    """R2b: a byte cut landing mid-rune must not throw
    MALFORMED_CHARACTER_CODING — the torn tail is dropped instead."""
    df = spark.createDataFrame([("éé",), ("aéz",), ("abc",), ("",)], "text string")
    out = build("truncate_fields", fields=["text"], max_bytes=3)(df).collect()
    assert out[0].text == "é"       # 4-byte cut at 3 tears the 2nd é -> dropped
    assert out[1].text == "aé"      # exactly 3 bytes, complete
    assert out[2].text == "abc"
    assert out[3].text == ""
    for r in out[:2]:
        assert "truncated" in r.log_flags


def test_ndjson_document_id_with_message_key(spark):
    """R2b: document_id must be read from the ORIGINAL json, not after
    message_key replaces the text (readjson/json.go:180)."""
    from beats_spark.processors.reader import ndjson

    df = spark.createDataFrame([('{"id": "doc-1", "msg": "hello"}',)], "text string")
    r = ndjson("text", message_key="msg", document_id="id")(df).collect()[0]
    assert r.text == "hello" and r._meta_id == "doc-1"


def test_kafka_random_partitioner_fills_partitions(spark):
    """R2b: 'random' must not pre-fold the hash mod n (empty partitions)."""
    from beats_spark import synth
    from beats_spark.routing import kafka_partitioner

    t = synth.transcripts(spark, "/root/testdata/sf0.001")
    pids = {
        r.pid
        for r in kafka_partitioner(t, 8, mode="random")
        .select(F.spark_partition_id().alias("pid"))
        .distinct()
        .collect()
    }
    assert len(pids) == 8, f"only {len(pids)} of 8 partitions populated"


def test_complement_networks_require_ip(spark):
    """R2b: 'public'/'unicast' must not match non-IP strings."""
    df = spark.createDataFrame([("host.example",), ("8.8.8.8",), ("abc",)], "ip string")
    for name in ("public", "unicast"):
        got = {r.ip for r in df.filter(compile_condition({"network": {"ip": name}})).collect()}
        assert got == {"8.8.8.8"}, (name, got)


def test_case_fold_collision_raises(spark):
    """R2b: renaming into an existing column must fail loud."""
    df = spark.createDataFrame([("a", "b")], "Foo string, foo string")
    with pytest.raises(ValueError, match="collide"):
        build("lowercase", fields=["Foo"])(df)


def test_ivf_single_centroid(spark):
    """R2b: k=1 centroid must not crash F.least."""
    from beats_spark.datapipe.similarity import ivf_centroids, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(30)
    cents = ivf_centroids(emb, k=1, iters=1, dim=64)
    q = emb.filter(F.col("vec_id") < 2)
    out = ivf_topk(emb, q, cents, k=3, nprobe=1).collect()
    assert len(out) == 6  # 2 queries x top-3 (single inverted list = brute force)


def test_multiline_preserves_upstream_flags(spark):
    """R3 ADVICE: flags set by earlier stages (e.g. decode_csv arity,
    truncate_fields) must survive the multiline groupBy — the joined
    event carries the union of its member lines' flags."""
    from beats_spark.processors.stateful import multiline_pattern

    df = spark.createDataFrame(
        [
            ("c1", 0, "level=info start", ["convert_error"]),
            ("c1", 1, "level continuation", []),
            ("c1", 2, "level=info second", None),
        ],
        "conv_id string, turn_idx int, text string, log_flags array<string>",
    )
    out = {
        r.turn_idx: r
        for r in multiline_pattern(
            pattern="^level ", match="after", group_cols=["conv_id"], order_col="turn_idx"
        )(df).collect()
    }
    # r5: joined events ALSO carry the reference's 'multiline' flag
    # (multiline/message_buffer.go:132); single-line events don't
    assert sorted(out[0].log_flags) == ["convert_error", "multiline"]
    assert out[2].log_flags == []


def test_float_special_forms_strconv_parity(spark):
    """R3 ADVICE (closed r4): strconv.ParseFloat accepts Inf/Infinity/NaN
    (any case, optional sign) and Go hex floats — the 'strconv parity'
    paths must agree. BOTH paths now convert hex floats (the r3
    documented divergence is gone: the Column path lowers the mantissa/
    exponent arithmetic to conv + pow-of-two scaling)."""
    import math

    from beats_spark.dissect import convert_value

    assert convert_value("double", "Inf") == float("inf")
    assert convert_value("double", "-Infinity") == float("-inf")
    assert math.isnan(convert_value("float", "NaN"))
    assert convert_value("double", "0x1p-2") == 0.25
    assert convert_value("double", "-0x1.8p1") == -3.0
    assert convert_value("double", "0x12") == "0x12"  # Go requires the p-exponent for hex floats
    assert convert_value("double", "infx") == "infx"  # not a special name
    # strconv range error keeps the raw string; fromhex raises
    # OverflowError — must map to the same raw-string fallback
    assert convert_value("double", "0x1p99999") == "0x1p99999"

    df = spark.createDataFrame(
        [("Inf",), ("-Infinity",), ("NaN",), ("3.5",), ("junk",)], "v string"
    )
    out = df.select(cast_column(F.col("v"), "double").alias("d")).collect()
    assert out[0].d == float("inf")
    assert out[1].d == float("-inf")
    assert math.isnan(out[2].d)
    assert out[3].d == 3.5
    assert out[4].d is None


def test_hex_float_column_scalar_parity(spark):
    """R4 (VERDICT item 7): the Column fast path parses Go hex floats
    bit-identically to the scalar path (float.fromhex) — fixed vectors
    plus a generated sweep over mantissa shapes and exponents."""
    import math

    from beats_spark.dissect import convert_value

    vectors = [
        "0x1p-2", "-0x1.8p1", "0X1.Fp+4", "0x.8p0", "0x1.p3",
        "0xABCDEFp-10", "0x0.0p0", "-0x0p5", "0x1fffffffffffffp0",
        "0x123456789abcdefp-30", "+0x2p10", "0x1p-1060", "0x1p1020",
        "0x000001p4", "0x1p99999", "junk0x1p2",
        # range edges (r4 review): overflow must be NULL (never Inf),
        # subnormals must survive the two-step scaling, deep underflow
        # and zero-mantissa-huge-exponent follow fromhex (signed zero)
        "0x1p1024", "0x10000000000000p980", "0xFFFp-1082",
        "0xFFFFFFFFFFFFFFFp-1130", "0x1p-1074", "0x1p-1075",
        "-0x1p-9999", "0x0p99999", "0x1p-99999999", "0x1p99999999999",
        # exponent digit-string overflows int64: sign decides (underflow
        # → signed zero, overflow → NULL like the scalar raw-string)
        "0x1p-99999999999999999999", "-0x1p-99999999999999999999",
        "0x1p99999999999999999999", "0x0p99999999999999999999",
    ]
    import random

    rng = random.Random(42)
    hexd = "0123456789abcdefABCDEF"
    for _ in range(60):
        ip = "".join(rng.choice(hexd) for _ in range(rng.randrange(0, 8)))
        fp = "".join(rng.choice(hexd) for _ in range(rng.randrange(0, 8)))
        if not ip and not fp:
            continue
        mant = f"{ip}.{fp}" if (fp or rng.random() < 0.3) else ip
        s = f"{rng.choice(['', '+', '-'])}0x{mant}p{rng.choice(['', '+', '-'])}{rng.randrange(0, 1200)}"
        vectors.append(s)
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vectors)], "i int, v string")
    got = {
        r.i: r.d
        for r in df.select("i", cast_column(F.col("v"), "double").alias("d")).collect()
    }
    for i, v in enumerate(vectors):
        want = convert_value("double", v)
        if isinstance(want, str):  # scalar failure keeps raw → Column NULL
            assert got[i] is None, (v, got[i])
        else:
            assert got[i] == want, (v, got[i], want)
            if want == 0.0:
                # 0.0 == -0.0 in Python — pin the SIGN of zeros too
                # (fromhex preserves it; the Column path constructs it
                # via a coalesce that survives Catalyst's -0.0
                # canonicalization)
                assert math.copysign(1, got[i]) == math.copysign(1, want), (v, got[i], want)


def test_hex_float_subnormal_double_rounding_corner(spark):
    """R4 review pass 2, finding 1 — DOCUMENTED sub-ulp corner, pinned:
    a >13-significant-hex-digit mantissa landing in the subnormal band
    at an exact halfway pattern double-rounds on the Column path (the
    60→53-bit mantissa rounding happens before the subnormal rounding).
    fromhex gives 5e-324 here; the Column path gives 0.0 — exactly one
    subnormal ulp apart, only reachable on inputs no log line produces.
    If this test FAILS the corner got fixed — delete it and the code
    comment together."""
    from beats_spark.dissect import convert_value

    v = "0x20000000000001p-1128"
    assert convert_value("double", v) == 5e-324
    df = spark.createDataFrame([(v,)], "v string")
    got = df.select(cast_column(F.col("v"), "double").alias("d")).first().d
    assert got == 0.0 and abs(got - 5e-324) <= 5e-324


def test_decode_json_fields_honors_when(spark):
    """R3 review 1: decode_json_fields accepted `when` but silently
    ignored it — non-matching rows must keep attrs untouched, and the
    if_then_else fast path must therefore scope the decode correctly."""
    from beats_spark.processors.misc import if_then_else

    df = spark.createDataFrame(
        [("tool", '{"k":"v1"}'), ("user", '{"k":"v2"}')], "role string, text string"
    )
    out = {r.role: r for r in build(
        "decode_json_fields", fields=["text"], when={"equals": {"role": "tool"}}
    )(df).collect()}
    assert out["tool"].attrs == {"k": "v1"}
    assert out["user"].attrs is None

    ite = if_then_else(
        {"equals": {"role": "tool"}},
        then=[{"decode_json_fields": {"fields": ["text"]}}],
        otherwise=[],
    )
    rows = {r.role: r for r in ite(df).collect()}
    assert rows["tool"].attrs == {"k": "v1"}
    assert rows["user"].attrs is None  # else-branch rows NOT decoded


def test_case_fold_rename_rejects_when(spark):
    """R3 review 2: a top-level field-NAME fold is a compile-time rename
    and cannot be row-guarded — must raise, and if_then_else must fall
    back to the union path (which scopes the rename per branch)."""
    from beats_spark.processors.actions import lowercase
    from beats_spark.processors.misc import if_then_else

    with pytest.raises(ValueError, match="cannot be combined"):
        lowercase(fields=["Role"], when={"equals": {"x": "y"}})

    df = spark.createDataFrame([("tool", 1), ("user", 2)], "role string, i int")
    ite = if_then_else(
        {"equals": {"role": "tool"}},
        then=[{"uppercase": {"fields": ["role"]}}],  # name fold → union fallback
        otherwise=[],
    )
    out = ite(df)
    # the rename forces the union fallback (the guarded fast path would
    # have renamed for BOTH branches)
    assert "Union" in out._jdf.queryExecution().executedPlan().toString()
    rows = out.collect()
    assert len(rows) == 2  # both branches survive with aligned schemas
    by_i = {r.i: r.asDict() for r in rows}
    # `fields` folds the KEY (column name), not values: the union result
    # takes the then-branch casing 'ROLE' and both branches' VALUES survive
    role_col = next(c for c in by_i[1] if c.lower() == "role")
    assert role_col == "ROLE"
    assert by_i[1][role_col] == "tool" and by_i[2][role_col] == "user"


def test_stream_to_sinks_refuses_foreign_out_dir(spark, tmp_path):
    """R3 review 3: fresh checkpoint + out_dir holding non-sink content
    must refuse instead of rmtree'ing the caller's data."""
    from beats_spark.streaming import stream_to_sinks

    out = tmp_path / "out"
    out.mkdir()
    (out / "precious.txt").write_text("do not delete")
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    with pytest.raises(ValueError, match="refusing to clear"):
        stream_to_sinks(stream, str(out), str(tmp_path / "ckpt"))
    assert (out / "precious.txt").exists()


def test_connected_components_nonconvergence_raises(spark):
    """R3 review 6: a component whose diameter exceeds max_iters must
    raise instead of silently returning split clusters."""
    from beats_spark.datapipe.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=3)
    cc = connected_components(chain, max_iters=15)
    assert {r.cluster_id for r in cc.collect()} == {0}


def test_float_nan_sign_rejected(spark):
    """R3 review 5: Go's strconv accepts signed Inf but NOT signed NaN."""
    from beats_spark.dissect import convert_value

    assert convert_value("double", "+NaN") == "+NaN"
    assert convert_value("double", "-nan") == "-nan"
    assert convert_value("double", "+Inf") == float("inf")
    df = spark.createDataFrame([("+NaN",), ("NaN",)], "v string")
    out = df.select(cast_column(F.col("v"), "double").alias("d")).collect()
    assert out[0].d is None
    import math

    assert math.isnan(out[1].d)


def test_scriptbatch_masked_append_preserves_other_rows(spark):
    """R4 ADVICE 1: AppendTo with a mask must leave unselected rows'
    values UNCHANGED — a NULL array field outside the mask stays NULL
    instead of being coerced to []."""
    import pandas as pd

    from beats_spark.processors.script import ScriptBatch

    pdf = pd.DataFrame({"i": [1, 2, 3], "arr": [None, ["x"], None]})
    b = ScriptBatch(pdf)
    b.AppendTo("arr", "y", mask=pdf["i"] == 2)
    out = b.result()
    got = {r.i: r.arr for r in out.itertuples()}
    assert got[1] is None and got[3] is None
    assert got[2] == ["x", "y"]


@pytest.mark.parametrize(
    "days, sinks",
    [
        (("2024-1-5", "2024-1-6"), ("s_a", "s_b")),
        # Spark escapes ':' in partition directory names:
        # `_part=2024-01-05T10%3A00/_sink=s%3Ab`
        (("2024-01-05T10:00", "2024-01-05T11:00"), ("s_a", "s:b")),
    ],
    ids=["noncanonical", "escaped"],
)
def test_days_checkpoint_noncanonical_day_string(spark, tmp_path, days, sinks):
    """R4 ADVICE 3: a non-canonical day value ('2024-1-5') must keep its
    exact string (partition type inference would canonicalize it to
    '2024-01-05'), and a unit or sink value Spark escapes in its
    directory name must be counted under its unescaped value."""
    from pyspark.sql import functions as F

    from beats_spark.checkpoint import CheckpointedRun
    from beats_spark.events import SINK_COL

    df = spark.createDataFrame(
        [("c1", 0, days[0], sinks[0]), ("c1", 1, days[1], sinks[1])],
        f"conv_id string, turn_idx int, date string, {SINK_COL} string",
    ).withColumn("ts", F.lit("2024-01-05 00:00:00").cast("timestamp"))
    run = CheckpointedRun(str(tmp_path / "nc"), day_col="date")
    manifests = run.run(df, input_files=[])
    by_part = {m["partition"]: m for m in manifests}
    assert sorted(by_part) == sorted(days)
    assert by_part[days[0]]["rows_per_sink"] == {sinks[0]: 1}
    assert by_part[days[1]]["rows_per_sink"] == {sinks[1]: 1}
    assert all(m["rows_in"] == 1 and m["bytes"] > 0 for m in manifests)


def test_stream_to_sinks_clears_stale_batch_file(spark, tmp_path):
    """R4 ADVICE 4: a stale `_batch=*` entry that is a regular FILE
    (partial leftover) is removed, not rmtree-crashed."""
    from beats_spark.streaming import stream_to_sinks

    out = tmp_path / "out"
    out.mkdir()
    (out / "_batch=0").write_text("torn partial write")
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    stream_to_sinks(stream, str(out), str(tmp_path / "ckpt2"))
    assert not (out / "_batch=0").exists()


def test_regexp_and_equals_on_array_fields(spark):
    """r4 ADVICE: regexp on an array<string> field must walk elements
    (matcher.go MatchAnyString) instead of raising at analysis; equals on
    an array field compiles to never-match (reference returns false on
    unsupported types) rather than failing analysis."""
    df = spark.createDataFrame(
        [(1, ["prod", "eu-west"]), (2, ["dev"]), (3, None)],
        "id int, tags array<string>",
    )
    schema = dict(df.dtypes)
    rx = compile_condition({"regexp": {"tags": "^prod$"}}, schema=schema)
    assert [r.id for r in df.filter(rx).collect()] == [1]
    eq = compile_condition({"equals": {"tags": "prod"}}, schema=schema)
    assert df.filter(eq).count() == 0


def test_fmtstr_nested_refs_resolve_at_stage_callsites(spark):
    """r4 ADVICE: codec_format and add_formatted_index pass full dtypes to
    compile_fmtstr, so %{[attrs][x]}-style nested refs resolve instead of
    silently rendering null."""
    df = spark.createDataFrame([("c1",)], "conv_id string").withColumn(
        "attrs", F.create_map(F.lit("x"), F.lit("V"))
    ).withColumn("ts", F.lit("2024-01-02 03:04:05").cast("timestamp"))
    out = build("codec_format", template="v=%{[attrs][x]}")(df).first()
    assert out.serialized == "v=V"
    idx = build("add_formatted_index", index="idx-%{[attrs][x]}")(df).first()
    assert idx._meta_index == "idx-V"


# -- round-5 session review findings (matrix-port batch) ---------------------


def test_r5_drop_fields_regexp_spares_attrs_column(spark):
    """r5 finding 1: a regexp matching the engine-internal column name
    'attrs' must not delete the map — only its KEYS are filtered."""
    df = spark.createDataFrame([({"zebra": "1", "attic": "2"},)], "attrs map<string,string>")
    r = build("drop_fields", fields=["/^at/"])(df).first()
    assert r.attrs == {"zebra": "1"}


def test_r5_copy_fields_attrs_entries(spark):
    """r5 finding 2: attrs.* sources and targets are per-row map entries
    — reading one resolves element_at, writing one puts a new key only
    where it does not already exist (row-level target-exists rule)."""
    df = spark.createDataFrame(
        [("v", {"k": "mapval"}), ("w", {"k": "x", "dst": "keep"})],
        "top string, attrs map<string,string>",
    )
    out = build("copy_fields", fields=[{"from": "attrs.k", "to": "dest"}])(df)
    assert sorted(r.dest for r in out.collect()) == ["mapval", "x"]
    out2 = build("copy_fields", fields=[{"from": "top", "to": "attrs.dst"}])(df)
    rows = {r.top: r.attrs for r in out2.collect()}
    assert rows["v"]["dst"] == "v"          # absent key → copied
    assert rows["w"]["dst"] == "keep"       # existing key → row unchanged


def test_r5_when_guard_on_dotted_column(spark):
    """r5 finding 3: a when-guarded write to a literally-dotted column
    read the original via an unbackticked F.col and threw."""
    df = spark.createDataFrame(
        [("user", ["t"], "x")], "role string, `a.b` array<string>, src string"
    )
    r = build(
        "append",
        target_field="a.b",
        fields=["src"],
        when={"equals": {"role": "user"}},
    )(df).first()
    assert r["a.b"] == ["t", "x"]
    r2 = build(
        "append",
        target_field="a.b",
        fields=["src"],
        when={"equals": {"role": "admin"}},
    )(df).first()
    assert r2["a.b"] == ["t"]  # guard false → original kept


def test_r5_no_double_truncated_flag(spark):
    """r5 finding 4: member lines already flagged 'truncated' plus a
    buffer byte-cap produced the flag twice (dedup ran before append)."""
    from beats_spark.processors.stateful import multiline_count

    df = spark.createDataFrame(
        [("c", 0, "line1", ["truncated"]), ("c", 1, "line2", ["truncated"])],
        "conv_id string, turn_idx int, text string, log_flags array<string>",
    )
    r = multiline_count(count=2, max_content_bytes=8)(df).first()
    assert sorted(r.log_flags) == ["multiline", "truncated"]


def test_r5_multiline_while_buffer_finalize(spark):
    """r5 finding 5: while-mode joins now carry the multiline flag and
    preserve member-line flags like every other mode."""
    from beats_spark.processors.stateful import multiline_while

    df = spark.createDataFrame(
        [("c", 0, "run a", ["truncated"]), ("c", 1, "run b", []), ("c", 2, "solo", [])],
        "conv_id string, turn_idx int, text string, log_flags array<string>",
    )
    out = multiline_while(pattern="^run ")(df)
    rows = {r.text: r for r in out.collect()}
    assert sorted(rows["run a\nrun b"].log_flags) == ["multiline", "truncated"]
    assert rows["solo"].log_flags == []


def test_r5_case_fold_mandatory_filter_before_guard(spark):
    """r5 finding 6: fields=['type'] with a when guard must build (the
    mandatory discard empties the rename list before the guard check)."""
    df = spark.createDataFrame([("a", "T")], "x string, type string")
    out = build("lowercase", fields=["type"], when={"equals": {"x": "a"}})(df)
    assert out.columns == ["x", "type"]


# -- round-5 second review pass (flows/flowid/matrix-port batch) --------------


def test_r5b_convert_inplace_rollback_does_not_crash(spark):
    """r5b finding 1: in-place convert (no 'to') with the default
    fail_on_error=True ANSI-crashed the job on any unconvertible value —
    the rollback branch coerced the raw string to the numeric cast type.
    Type-changing rollback = typed NULL + flag; same-type rollback (a
    distinct existing target) restores the original value."""
    df = spark.createDataFrame([("x",), ("42",)], "v string")
    out = {r.v: r for r in build("convert", fields=[{"from": "v", "type": "integer"}])(df).collect()}
    # in-place: column is now typed; failed row → NULL + flag
    assert out is not None  # collect() itself was the crash
    vals = {
        bool(r["log_flags"]) and "convert_error" in r["log_flags"]: r["v"]
        for r in out.values()
    }
    assert vals[True] is None and vals[False] == 42
    # same-type existing target: rollback restores the ORIGINAL value
    df2 = spark.createDataFrame([("x", "orig"), ("42", "old")], "v string, w string")
    rows = {r.v: r for r in build(
        "convert", fields=[{"from": "v", "to": "n", "type": "integer"}, {"from": "w", "type": "string"}]
    )(df2).collect()}
    assert rows["x"].n is None and rows["x"].w == "orig"
    assert rows["42"].n == 42


def test_r5b_move_fields_atomic_renames(spark):
    """r5b finding 2: sequential withColumnRenamed let a rename target
    equal a later rename's not-yet-vacated source, producing DUPLICATE
    column names. Renames are one atomic select: chains work, and a
    target colliding with a non-renamed column still refuses."""
    from beats_spark.processors.misc import move_fields

    df = spark.createDataFrame([("B", "XB")], "b string, x_b string")
    out = move_fields(fields=["b", "x_b"], to_prefix="x_")(df)
    assert sorted(out.columns) == ["x_b", "x_x_b"]
    r = out.first()
    assert r.x_b == "B" and r.x_x_b == "XB"
    with pytest.raises(ValueError, match="already exists"):
        move_fields(fields=["b"], to_prefix="x_")(df)  # x_b is taken


def test_r5b_timestamp_quoted_literal_not_year_directive(spark):
    """r5b finding 3: a 'y'/'u' inside QUOTED literal text ('day',
    'uptime') is not a year directive — the current-year patch must
    still apply (events landed in 1970)."""
    from datetime import datetime, timezone

    from beats_spark.processors.parsers import timestamp

    df = spark.createDataFrame([("day 03-04 05:06:07",)], "t string")
    r = timestamp("t", ["'day' MM-dd HH:mm:ss"], target="ts")(df).first()
    assert r.ts is not None
    assert r.ts.year == datetime.now(timezone.utc).year
    assert (r.ts.month, r.ts.day, r.ts.hour) == (3, 4, 5)


def test_r5b_flow_id_column_out_of_range_is_null(spark):
    """r5b finding 4: out-of-range/negative ports wrapped mod 2^16 and
    produced the flow.id of a DIFFERENT valid packet (70000 → 4464); the
    builder raises OverflowError on the same input. Invalid inputs for a
    configured layer now make the whole id NULL, per the docstring."""
    from beats_spark.flowid import flow_id_column

    df = spark.createDataFrame(
        [(1, "10.0.0.1", "10.0.0.2", 70000, 80),
         (2, "10.0.0.1", "10.0.0.2", 4464, 80),
         (3, "10.0.0.1", "10.0.0.2", -1, 80),
         (4, "10.0.0.1", "10.0.0.2", 443, 80)],
        "i int, src string, dst string, sp int, dp int",
    )
    out = {r.i: r.fid for r in df.select(
        "i",
        flow_id_column(
            ip_src=F.col("src"), ip_dst=F.col("dst"),
            src_port=F.col("sp"), dst_port=F.col("dp"),
        ).alias("fid"),
    ).collect()}
    assert out[1] is None and out[3] is None
    assert out[2] is not None and out[4] is not None
    assert out[1] != out[2]  # the wrap alias is dead


def test_r5b_decode_csv_flag_gated_on_fail_on_error(spark):
    """r5b finding 5: failOnError=false IGNORES the error in the
    reference — the arity flag must not be appended (siblings urldecode/
    base64/extract_array already gate theirs)."""
    wide = ",".join(str(i) for i in range(70))  # > max_columns=64
    df = spark.createDataFrame([(wide,)], "c string")
    lax = build("decode_csv_fields", field="c", target="cells", fail_on_error=False)(df).first()
    assert "decode_csv_arity_exceeded" not in (lax.asDict().get("log_flags") or [])
    strict = build("decode_csv_fields", field="c", target="cells2", fail_on_error=True)(df).first()
    assert "decode_csv_arity_exceeded" in strict.log_flags


def test_r5b_rename_target_exists_beats_ignore_missing(spark):
    """r5b finding 6: renameField errors on the TARGET before fetching
    the source — ignore_missing must not suppress a conflict whose
    source is also absent."""
    from beats_spark.processors.actions import rename

    df = spark.createDataFrame([("keep",)], "existing string")
    with pytest.raises(ValueError, match="already exists"):
        rename(fields=[{"from": "gone", "to": "existing"}], ignore_missing=True)(df)


# -- round-5 third review pass (early-r5 span: ANN constants, eviction) -------


def test_r5c_fmtstr_unresolvable_inner_path_is_absent(spark):
    """r5c finding 2: a nested ref whose ROOT is struct/map but whose
    inner path cannot resolve (missing struct field, scalar mid-level)
    must render 'produced nothing', not AnalysisException at build."""
    df = spark.createDataFrame([(("c1",),)], "proc struct<pid:string>").withColumn(
        "ts", F.lit("2024-01-02 03:04:05").cast("timestamp")
    )
    assert build("add_formatted_index", index="i-%{[proc][missing]}")(df).first()._meta_index is None
    assert build("add_formatted_index", index="i-%{[proc][pid]}")(df).first()._meta_index == "i-c1"
    df2 = spark.createDataFrame([("c1",)], "conv_id string").withColumn(
        "attrs", F.create_map(F.lit("x"), F.lit("V"))
    ).withColumn("ts", F.lit("2024-01-02 03:04:05").cast("timestamp"))
    # scalar mid-level: attrs[x] is a string — [y] under it is absent
    assert build("add_formatted_index", index="i-%{[attrs][x][y]}")(df2).first()._meta_index is None
    assert build("codec_format", template="v=%{[attrs][x]}")(df2).first().serialized == "v=V"


def test_r5c_conditions_on_attrs_map_array_values(spark):
    """r5c finding 4: array semantics for contains/regexp/equals must
    apply to attrs-path fields too — the guard keyed off the MAP column's
    dtype instead of its VALUE type and compiled the scalar branch."""
    df = spark.createDataFrame(
        [(1, {"tags": ["prod", "eu"]}), (2, {"tags": ["dev"]})],
        "id int, attrs map<string,array<string>>",
    )
    schema = dict(df.dtypes)
    rx = compile_condition({"regexp": {"attrs.tags": "^prod$"}}, schema=schema)
    assert [r.id for r in df.filter(rx).collect()] == [1]
    ct = compile_condition({"contains": {"attrs.tags": "dev"}}, schema=schema)
    assert [r.id for r in df.filter(ct).collect()] == [2]
    eq = compile_condition({"equals": {"attrs.tags": "prod"}}, schema=schema)
    assert df.filter(eq).count() == 0  # never-match, not AnalysisException


def test_r5c_nested_lit_reserved_name_clash_raises(spark):
    """r5c finding 5: an input frame already carrying the reserved
    broadcast-constant name must refuse loudly instead of dying later
    with AMBIGUOUS_REFERENCE."""
    from beats_spark.datapipe.similarity import ivf_topk

    emb = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.1), F.lit(0.2)).alias("embedding"),
        F.lit(1).alias("_cents"),
    )
    with pytest.raises(ValueError, match="_cents"):
        ivf_topk(emb, emb, [[0.1, 0.2]], k=1, nprobe=1)


def test_r5c_rate_limit_stream_timeout_mode_tracks_watermark(spark):
    """r5c findings 1+6 (plan level): without a watermark the operator
    must keep NoTimeout (no per-key timer overhead, NoTimeout-era
    semantics); with one it arms ProcessingTimeTimeout for eviction."""
    from beats_spark.streaming.rate_limit import rate_limit_stream

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(F.lit("k").alias("conv_id"), F.col("timestamp").alias("ts"))
    )
    no_wm = rate_limit_stream(stream, ["conv_id"], limit=2, period_seconds=10.0)
    p = no_wm._jdf.queryExecution().logical().toString()
    assert "NoTimeout" in p and "ProcessingTimeTimeout" not in p
    wm = rate_limit_stream(
        stream.withWatermark("ts", "1 second"), ["conv_id"], limit=2, period_seconds=10.0
    )
    p2 = wm._jdf.queryExecution().logical().toString()
    assert "ProcessingTimeTimeout" in p2
