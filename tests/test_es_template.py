"""ES index-template generation — processor_test.go + template_test.go
matrices ported, plus the reference's own testdata/fields.yml run
end-to-end."""

from __future__ import annotations

import os

import pytest

from beats_spark.es_template import (
    DEFAULT_SCALING_FACTOR,
    EsTemplate,
    TemplateProcessor,
    generate_key,
    load_fields_yaml,
)

FIELDS_YML = "/root/reference/libbeat/template/testdata/fields.yml"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(os.path.dirname(FIELDS_YML)),
    reason="reference testdata not present",
)


def P(version="7.0.0", **kw):
    return TemplateProcessor(es_version=version, **kw)


# ---------------------------------------------------------------------------
# TestProcessor — the per-type builder table
# ---------------------------------------------------------------------------
def test_builder_matrix():
    p = P("7.0.0")
    migration_p = P("7.0.0", migration=True)
    p76 = P("7.6.0")
    cases = [
        (p._other({"type": "long"}), {"type": "long"}),
        (p._scaled_float({"type": "scaled_float"}), {"type": "scaled_float", "scaling_factor": 1000}),
        (
            p._scaled_float({"type": "scaled_float", "scaling_factor": 100}),
            {"type": "scaled_float", "scaling_factor": 100},
        ),
        (
            p._scaled_float({"type": "scaled_float"}, override=10),
            {"type": "scaled_float", "scaling_factor": 10},
        ),
        (p._object({"name": "x", "type": "object", "enabled": False}), {"type": "object", "enabled": False}),
        (
            p._simple({"type": "long", "copy_to": "hello.world"}, "long"),
            {"type": "long", "copy_to": "hello.world"},
        ),
        (p._array({"type": "array"}), {}),
        (p._array({"type": "array", "object_type": "text"}), {"type": "text"}),
        (
            p._array({"type": "array", "index": False, "object_type": "keyword"}),
            {"index": False, "type": "keyword"},
        ),
        (
            p._text({"type": "text", "analyzer": "autocomplete"}, {})[0],
            {"type": "text", "analyzer": "autocomplete", "norms": False},
        ),
        (
            p._text({"type": "text", "analyzer": "autocomplete", "norms": True}, {})[0],
            {"type": "text", "analyzer": "autocomplete"},
        ),
        (
            p._text({"type": "text", "search_analyzer": "standard", "norms": True}, {})[0],
            {"type": "text", "search_analyzer": "standard"},
        ),
        (
            p._text(
                {"type": "text", "analyzer": "autocomplete", "search_analyzer": "standard", "norms": True}, {}
            )[0],
            {"type": "text", "analyzer": "autocomplete", "search_analyzer": "standard"},
        ),
        (
            p._text(
                {"type": "text", "multi_fields": [{"name": "raw", "type": "keyword"}], "norms": True}, {}
            )[0],
            {"type": "text", "fields": {"raw": {"type": "keyword", "ignore_above": 1024}}},
        ),
        (
            p._keyword(
                {"type": "keyword", "multi_fields": [{"name": "analyzed", "type": "text", "norms": True}]}, {}
            ),
            {"type": "keyword", "ignore_above": 1024, "fields": {"analyzed": {"type": "text"}}},
        ),
        (p._keyword({"type": "keyword", "ignore_above": 256}, {}), {"type": "keyword", "ignore_above": 256}),
        (p._keyword({"type": "keyword", "ignore_above": -1}, {}), {"type": "keyword"}),
        (p._keyword({"type": "keyword"}, {}), {"type": "keyword", "ignore_above": 1024}),
        (
            p._text(
                {
                    "type": "text",
                    "multi_fields": [
                        {"name": "raw", "type": "keyword"},
                        {"name": "indexed", "type": "text"},
                    ],
                    "norms": True,
                },
                {},
            )[0],
            {
                "type": "text",
                "fields": {
                    "raw": {"type": "keyword", "ignore_above": 1024},
                    "indexed": {"type": "text", "norms": False},
                },
            },
        ),
        (p._object({"name": "x", "dynamic": False}), {"dynamic": False, "type": "object"}),
        (p._object({"name": "x", "dynamic": True}), {"dynamic": True, "type": "object"}),
        (p._object({"name": "x", "dynamic": "strict"}), {"dynamic": "strict", "type": "object"}),
        (p._other({"type": "long", "index": False}), {"type": "long", "index": False}),
        (p._other({"type": "text", "index": True}), {"type": "text", "index": True}),
        (p._other({"type": "long", "doc_values": False}), {"type": "long", "doc_values": False}),
        (p._other({"type": "double", "doc_values": False}), {"type": "double", "doc_values": False}),
        (p._other({"type": "text", "doc_values": True}), {"type": "text", "doc_values": True}),
        (p._alias({"type": "alias", "path": "a.c", "migration": False}), {"path": "a.c", "type": "alias"}),
        (p._alias({"type": "alias", "path": "a.d", "migration": True}), None),
        (
            migration_p._alias({"type": "alias", "path": "a.e", "migration": False}),
            {"path": "a.e", "type": "alias"},
        ),
        (
            migration_p._alias({"type": "alias", "path": "a.f", "migration": True}),
            {"path": "a.f", "type": "alias"},
        ),
        (p._histogram({"type": "histogram"}), None),  # 7.0 < 7.6
        (p76._histogram({"type": "histogram"}), {"type": "histogram"}),
        # field meta requires 7.6+
        (p._other({"type": "long", "metric_type": "gauge", "unit": "nanos"}), {"type": "long"}),
        (
            p76._other({"type": "long", "metric_type": "gauge"}),
            {"type": "long", "meta": {"metric_type": "gauge"}},
        ),
        (p76._other({"type": "long", "unit": "nanos"}), {"type": "long", "meta": {"unit": "nanos"}}),
        (
            p76._other({"type": "long", "metric_type": "gauge", "unit": "nanos"}),
            {"type": "long", "meta": {"metric_type": "gauge", "unit": "nanos"}},
        ),
    ]
    for i, (got, want) in enumerate(cases):
        assert got == want, f"case {i}: {got} != {want}"


# ---------------------------------------------------------------------------
# TestDynamicTemplates — object_type → dynamic template shapes + dedup
# ---------------------------------------------------------------------------
DYN_CASES = [
    (
        {"type": "object", "object_type": "keyword", "name": "context"},
        [{"context": {"mapping": {"type": "keyword"}, "match_mapping_type": "string", "path_match": "context.*"}}],
    ),
    (
        {"type": "object", "object_type": "long", "object_type_mapping_type": "futuretype",
         "_path_seed": "language", "name": "english"},
        [{"language.english": {"mapping": {"type": "long"}, "match_mapping_type": "futuretype",
                               "path_match": "language.english.*"}}],
    ),
    (
        {"type": "object", "object_type": "long", "object_type_mapping_type": "*",
         "_path_seed": "language", "name": "english"},
        [{"language.english": {"mapping": {"type": "long"}, "match_mapping_type": "*",
                               "path_match": "language.english.*"}}],
    ),
    (
        {"type": "object", "object_type": "long", "_path_seed": "language", "name": "english"},
        [{"language.english": {"mapping": {"type": "long"}, "match_mapping_type": "long",
                               "path_match": "language.english.*"}}],
    ),
    (
        {"type": "object", "object_type": "text", "_path_seed": "language", "name": "english"},
        [{"language.english": {"mapping": {"type": "text"}, "match_mapping_type": "string",
                               "path_match": "language.english.*"}}],
    ),
    (
        {"type": "object", "object_type": "scaled_float", "name": "core.*.pct"},
        [{"core.*.pct": {"mapping": {"type": "scaled_float", "scaling_factor": DEFAULT_SCALING_FACTOR},
                         "match_mapping_type": "*", "path_match": "core.*.pct"}}],
    ),
    (
        {"type": "object", "object_type": "scaled_float", "name": "core.*.pct",
         "scaling_factor": 100, "object_type_mapping_type": "float"},
        [{"core.*.pct": {"mapping": {"type": "scaled_float", "scaling_factor": 100},
                         "match_mapping_type": "float", "path_match": "core.*.pct"}}],
    ),
    (
        {"type": "object", "name": "context", "object_type_params": [
            {"object_type": "float", "object_type_mapping_type": "float"},
            {"object_type": "boolean"},
            {"object_type": "scaled_float", "scaling_factor": 10000},
        ]},
        [
            {"context_float": {"mapping": {"type": "float"}, "match_mapping_type": "float",
                               "path_match": "context.*"}},
            {"context_boolean": {"mapping": {"type": "boolean"}, "match_mapping_type": "boolean",
                                 "path_match": "context.*"}},
            {"context_*": {"mapping": {"type": "scaled_float", "scaling_factor": 10000},
                           "match_mapping_type": "*", "path_match": "context.*"}},
        ],
    ),
    (
        {"name": "dynamic_histogram", "type": "histogram", "dynamic_template": True},
        [{"dynamic_histogram": {"mapping": {"type": "histogram"}}}],
    ),
] + [
    (
        {"type": "object", "object_type": t, "name": "somefield", "object_type_mapping_type": "long"},
        [{"somefield": {"mapping": {"type": t}, "match_mapping_type": "long", "path_match": "somefield.*"}}],
    )
    for t in ["byte", "double", "float", "long", "short", "boolean"]
]


@pytest.mark.parametrize("field,expected", DYN_CASES)
def test_dynamic_templates(field, expected):
    field = dict(field)
    seed = field.pop("_path_seed", "")
    p = P("8.0.0")
    # processed twice: the ordered dedup must keep ONE copy
    p.process([field, field], {"path": seed, "default_field": False}, {}, {})
    assert p.dynamic_templates == expected


def test_explicit_dynamic_template_version_gate():
    f = {"name": "dyn", "type": "histogram", "dynamic_template": True}
    p_old = P("7.12.0")
    p_old.process([f], None, {}, {})
    assert p_old.dynamic_templates == []  # < 7.13: ignored
    p_new = P("7.13.0")
    p_new.process([f], None, {}, {})
    assert len(p_new.dynamic_templates) == 1


# ---------------------------------------------------------------------------
# group/nested/no-name/defaults (TestPropertiesCombine & friends)
# ---------------------------------------------------------------------------
def test_properties_combine_across_groups():
    fields = [
        {"name": "test", "type": "group", "fields": [{"name": "one", "type": "text"}]},
        {"name": "test", "type": "group", "fields": [{"name": "two", "type": "text"}]},
    ]
    out = {}
    P("6.0.0").process(fields, None, out, {})
    assert out["test"]["properties"]["one"] == {"type": "text", "norms": False}
    assert out["test"]["properties"]["two"] == {"type": "text", "norms": False}


def test_process_no_name_skipped():
    fields = [
        {"fields": [{"name": "one", "type": "text"}]},  # nameless: skipped whole
        {"name": "test", "type": "group", "fields": [{"name": "two", "type": "text"}]},
    ]
    out = {}
    P("6.0.0").process(fields, None, out, {})
    assert out == {"test": {"properties": {"two": {"norms": False, "type": "text"}}}}


def test_process_default_field_collection():
    fields = [
        {"name": "foo", "type": "keyword"},
        {"name": "bar", "type": "keyword", "default_field": True},
        {"name": "baz", "type": "keyword", "default_field": False},
        {"name": "nested", "type": "group", "default_field": True,
         "fields": [{"name": "bar", "type": "keyword"}]},
        {"name": "nested", "type": "group", "default_field": False,
         "fields": [{"name": "foo", "type": "keyword", "default_field": True},
                    {"name": "baz", "type": "keyword"}]},
        {"name": "qux", "type": "keyword", "default_field": True,
         "multi_fields": [{"name": "text", "type": "text"}]},
        {"name": "bouba", "type": "keyword", "default_field": False,
         "multi_fields": [{"name": "text", "type": "text", "default_field": True}]},
        {"name": "kiki", "type": "keyword", "default_field": True,
         "multi_fields": [{"name": "text", "type": "text", "default_field": False}]},
        {"name": "a_match_only_text_field", "type": "match_only_text", "default_field": True},
        {"name": "a_wildcard_field", "type": "wildcard", "default_field": True},
    ]
    p = P("7.0.0")
    p.process(fields, None, {}, {})
    assert sorted(p.default_fields) == sorted([
        "a_match_only_text_field", "a_wildcard_field", "bar", "nested.bar",
        "nested.foo", "qux", "qux.text", "bouba.text", "kiki",
    ])


def test_wildcard_oss_falls_back_to_keyword():
    out = {}
    P("8.0.0").process(
        [{"name": "test", "type": "group", "fields": [{"name": "one", "type": "wildcard"}]}], None, out, {}
    )
    assert out == {"test": {"properties": {"one": {"ignore_above": 1024, "type": "keyword"}}}}


def test_wildcard_elastic_licensed():
    out = {}
    P("8.0.0", elastic_licensed=True).process(
        [{"name": "test", "type": "group", "fields": [{"name": "one", "type": "wildcard"}]}], None, out, {}
    )
    assert out == {"test": {"properties": {"one": {"type": "wildcard"}}}}
    out2 = {}
    P("8.0.0", elastic_licensed=True).process(
        [{"name": "t", "type": "group", "fields": [{"name": "one", "type": "wildcard", "ignore_above": 4096}]}],
        None, out2, {},
    )
    assert out2["t"]["properties"]["one"] == {"ignore_above": 4096, "type": "wildcard"}


def test_wildcard_pre_support_version():
    out = {}
    P("7.8.0", elastic_licensed=True).process(
        [{"name": "test", "type": "group", "fields": [{"name": "one", "type": "wildcard"}]}], None, out, {}
    )
    assert out == {"test": {"properties": {"one": {"ignore_above": 1024, "type": "keyword"}}}}


def test_nested_support():
    out = {}
    P("7.8.0", elastic_licensed=True).process(
        [{"name": "test", "type": "nested", "fields": [{"name": "one", "type": "keyword"}]}], None, out, {}
    )
    assert out == {"test": {"type": "nested", "properties": {"one": {"ignore_above": 1024, "type": "keyword"}}}}
    out2 = {}
    P("7.8.0", elastic_licensed=True).process([{"name": "test", "type": "nested"}], None, out2, {})
    assert out2 == {"test": {"type": "nested"}}


def test_match_only_text_gates():
    f = [{"name": "m", "type": "match_only_text"}]
    out = {}
    P("7.14.0").process(f, None, out, {})  # not licensed → text
    assert out["m"]["type"] == "text"
    out2 = {}
    P("7.13.0", elastic_licensed=True).process(f, None, out2, {})  # too old → text
    assert out2["m"]["type"] == "text"
    out3 = {}
    P("7.14.0", elastic_licensed=True).process(f, None, out3, {})
    assert out3["m"]["type"] == "match_only_text"


def test_analyzer_definitions_collected_and_checked():
    defn = {"type": "custom", "tokenizer": "whitespace"}
    analyzers = {}
    P("8.0.0").process(
        [{"name": "a", "type": "text", "analyzer": {"my_an": defn}}], None, {}, analyzers
    )
    assert analyzers == {"my_an": defn}
    # identical re-definition is fine
    P("8.0.0").process(
        [{"name": "b", "type": "text", "analyzer": {"my_an": defn}}], None, {}, analyzers
    )
    # conflicting definition errors with the reference wording
    with pytest.raises(ValueError, match='inconsistent definitions for analyzers with the name "my_an"'):
        P("8.0.0").process(
            [{"name": "c", "type": "text", "analyzer": {"my_an": {"type": "custom", "tokenizer": "ngram"}}}],
            None, {}, analyzers,
        )


def test_generate_key_nesting():
    assert generate_key("a") == "a"
    assert generate_key("a.b.c") == "a.properties.b.properties.c"


# ---------------------------------------------------------------------------
# template body (template.go Generate / buildIdxSettings / LoadMinimal)
# ---------------------------------------------------------------------------
def test_template_body_shape_and_settings():
    t = EsTemplate("8.0.0", "filebeat", config={
        "settings": {"index": {"number_of_routing_shards": 1024},
                     "lifecycle": {"data_retention": "7d"}},
    })
    body = t.load([{"name": "host", "type": "keyword", "default_field": True}])
    assert body["priority"] == 150  # config.go DefaultConfig
    assert body["index_patterns"] == ["filebeat-8.0.0*"]
    assert body["data_stream"] == {}
    idx = body["template"]["settings"]["index"]
    assert idx["refresh_interval"] == "5s"
    assert idx["mapping"]["total_fields"]["limit"] == 12500
    assert idx["max_docvalue_fields_search"] == 200
    assert idx["number_of_routing_shards"] == 1024  # user DeepUpdate
    assert idx["query"]["default_field"] == ["host", "fields.*"]
    assert body["template"]["lifecycle"] == {"data_retention": "7d"}
    m = body["template"]["mappings"]
    assert m["_meta"] == {"version": "8.0.0", "beat": "filebeat"}
    assert m["date_detection"] is False
    assert m["dynamic_templates"][-1] == {
        "strings_as_keyword": {
            "mapping": {"ignore_above": 1024, "type": "keyword"},
            "match_mapping_type": "string",
        }
    }
    assert m["properties"]["host"] == {"type": "keyword", "ignore_above": 1024}


def test_template_serverless_drops_settings():
    t = EsTemplate("8.0.0", "filebeat", is_serverless=True,
                   config={"settings": {"index": {"number_of_shards": 5}}})
    idx = t.load([])["template"]["settings"]["index"]
    assert "number_of_shards" not in idx
    assert "max_docvalue_fields_search" not in idx


def test_template_name_pattern_fmtstr():
    t = EsTemplate("8.1.2", "heartbeat",
                   config={"name": "x-%{[agent][version]}", "pattern": "x-%{[observer][name]}-*"})
    assert t.name == "x-8.1.2"
    assert t.pattern == "x-heartbeat-*"
    # default: name-"*"
    t2 = EsTemplate("8.1.2", "heartbeat")
    assert t2.pattern == "heartbeat-8.1.2*"


def test_load_minimal():
    t = EsTemplate("8.0.0", "filebeat",
                   config={"settings": {"index": {"codec": "best_compression"},
                                        "_source": {"enabled": False}}})
    body = t.load_minimal()
    assert body["template"]["settings"] == {"index": {"codec": "best_compression"}}
    assert body["template"]["mappings"]["_source"] == {"enabled": False}
    assert body["index_patterns"] == ["filebeat-8.0.0*"]


@needs_ref
def test_reference_fields_yml_end_to_end():
    """The reference's own testdata/fields.yml through the full load —
    every declared behavior lands in the body."""
    fields = load_fields_yaml(open(FIELDS_YML).read())
    t = EsTemplate("8.0.0", "filebeat", elastic_licensed=True)
    props = t.load(fields)["template"]["mappings"]["properties"]
    assert props["@timestamp"] == {"type": "date"}
    assert props["object"] == {"type": "object"}
    assert props["keyword"] == {"type": "keyword", "ignore_above": 1024}
    assert props["object_disabled"] == {"type": "object", "enabled": False}
    assert props["alias"] == {"type": "alias", "path": "keyword"}
    # migration alias only materializes under Migration
    assert "migration_alias_true" not in props
    assert props["migration_alias_false"] == {"type": "alias", "path": "keyword"}
    tm = EsTemplate("8.0.0", "filebeat", elastic_licensed=True, migration=True)
    props_m = tm.load(fields)["template"]["mappings"]["properties"]
    assert props_m["migration_alias_true"] == {"type": "alias", "path": "keyword"}
