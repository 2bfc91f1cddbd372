"""Registry population — name → stage builder (registry.go:27-39 analog)."""

from __future__ import annotations

from . import (
    REGISTRY,
    actions,
    encoding,
    enrich,
    framing,
    misc,
    netflow,
    parsers,
    reader,
    stateful,
    syslog_input,
)

REGISTRY.update(
    {
        # mutate family
        "add_fields": actions.add_fields,
        "add_tags": actions.add_tags,
        "copy_fields": actions.copy_fields,
        "rename": actions.rename,
        "drop_fields": actions.drop_fields,
        "include_fields": actions.include_fields,
        "drop_event": actions.drop_event,
        "replace": actions.replace,
        "truncate_fields": actions.truncate_fields,
        "lowercase": actions.lowercase,
        "uppercase": actions.uppercase,
        "append": actions.append,
        "add_id": actions.add_id,
        "fingerprint": actions.fingerprint,
        "add_formatted_index": actions.add_formatted_index,
        "detect_mime_type": actions.detect_mime_type,
        # parse / decode
        "convert": parsers.convert,
        "decode_json_fields": parsers.decode_json_fields,
        "decode_json_deep": parsers.decode_json_deep,
        "write_json_keys": parsers.write_json_keys,
        "decode_csv_fields": parsers.decode_csv_fields,
        "decode_base64_field": parsers.decode_base64_field,
        "urldecode": parsers.urldecode,
        "extract_array": parsers.extract_array,
        "extract_field": parsers.extract_field,
        "decode_duration": parsers.decode_duration,
        "timestamp": parsers.timestamp,
        "syslog": parsers.syslog,
        # the filebeat/input/syslog event layer (legacy ragel grammar +
        # createEvent) — pure Column, composes over the tcp/udp/unix
        # sources' line column in batch or streaming
        "syslog_input": syslog_input.syslog_input_events,
        # stream framing over captured payload columns (scan.go port;
        # the live sources inline the same SplitFunc per connection)
        "split_frames": framing.split_frames,
        "frame_lines": framing.frame_lines,
        # NetFlow v1/v5 fixed-layout binary decode (pure Column)
        "netflow_packets": netflow.netflow_packets,
        "netflow_ecs_events": netflow.netflow_ecs_events,
        "decompress_gzip_field": parsers.decompress_gzip_field,
        # the line-reader's encoding step (readfile/encoding) as a
        # processor over a bytes column
        "decode_text_field": encoding.decode_text_field,
        # enrich — the reference's whole lookup family IS a broadcast join
        # with a different build side; keep the reference config names so
        # a beats YAML translates 1:1 (caller supplies the lookup table
        # where the reference would call the OS/LDAP/DNS/cloud service)
        "lookup_join": enrich.lookup_join,
        "translate_sid": enrich.translate_sid,
        "translate_ldap_attribute": enrich.translate_guid,
        "dns": enrich.dns_lookup,
        "add_cloud_metadata": enrich.add_cloud_metadata,
        "add_docker_metadata": enrich.add_docker_metadata,
        "add_kubernetes_metadata": enrich.add_kubernetes_metadata,
        "add_process_metadata": enrich.add_process_metadata,
        "add_host_metadata": enrich.add_constant_metadata,
        "add_agent_metadata": enrich.add_constant_metadata,
        "add_observer_metadata": enrich.add_constant_metadata,
        "add_locale": enrich.add_constant_metadata,
        "cache_get": enrich.cache_get,
        "cache": enrich.cache_sequential,
        # the beats-YAML form: list of single-op cache configs + whens
        "cache_from_configs": enrich.cache_from_configs,
        "add_constant_metadata": enrich.add_constant_metadata,
        "registered_domain": enrich.registered_domain,
        "community_id": enrich.community_id,
        "add_network_direction": enrich.add_network_direction,
        # reader chain
        "include_lines": reader.include_lines,
        "include_message": reader.include_lines,  # filestream's message-filter alias
        "exclude_lines": reader.exclude_lines,
        "max_bytes": reader.max_bytes,
        "ndjson": reader.ndjson,
        "container": reader.container,
        "cri_join_partials": reader.cri_join_partials,
        # stateful
        "rate_limit": stateful.rate_limit,
        "multiline_pattern": stateful.multiline_pattern,
        "multiline_count": stateful.multiline_count,
        "timeseries_instance": stateful.timeseries_instance,
        # misc / completion of the §2 inventory
        "if_then_else": misc.if_then_else,
        "add_labels": misc.add_labels,
        "move_fields": misc.move_fields,
        "add_data_stream": misc.add_data_stream,
        "now": misc.now,
        "codec_json": misc.codec_json,
        "codec_format": misc.codec_format,
        "schema_conv": misc.schema_conv,
        "decode_xml": misc.decode_xml,
        "decode_xml_wineventlog": misc.decode_xml_wineventlog,
        "multiline_while": stateful.multiline_while,
    }
)


def _if_builder(when=None, **cfg):
    """Reference-shaped `if` block (conditionals.go:181-268 +
    TestIfElseThenProcessor): {'if': COND, 'then': X, 'else': Y} where X/Y
    may be a processor LIST, a SINGLE processor dict
    (ifThenElseSingleProcessor), or — for else — a nested if block
    (ifThenElseIf). Normalizes to if_then_else's (condition, then,
    otherwise) shape."""
    if when is not None:
        # a nested if cannot be row-guarded by an outer branch condition
        # (its OWN else would fire for non-matching rows); refusing makes
        # the enclosing if_then_else fall back to the union form — the
        # r3 lesson: silently accepting an unread `when` is a no-guard
        raise TypeError("if block does not accept a `when` guard")
    cond = cfg.get("if") if "if" in cfg else cfg.get("condition")
    then = cfg.get("then") or []
    otherwise = cfg.get("else") if "else" in cfg else cfg.get("otherwise")

    def _norm(branch):
        if branch is None:
            return None
        if isinstance(branch, dict):
            if "if" in branch:  # nested else-if block
                return [{"if": branch}]
            return [branch]  # single-processor form
        return branch

    return misc.if_then_else(cond, _norm(then) or [], _norm(otherwise))


REGISTRY["if"] = _if_builder


def dissect_builder(**cfg):
    from ..dissect import dissect_attrs, dissect_columns

    mode = cfg.pop("mode", "columns")

    def stage(df):
        if mode == "attrs":
            return dissect_attrs(df, **cfg)
        return dissect_columns(df, **cfg)

    return stage


REGISTRY["dissect"] = dissect_builder

from ..grok import grok_builder as _grok_builder  # noqa: E402

REGISTRY["grok"] = _grok_builder

from .journald import journald_fields_builder as _journald_fields  # noqa: E402

REGISTRY["journald_fields"] = _journald_fields

from .evtx import evtx_records_builder as _evtx_records  # noqa: E402
from .evtx import winlog_filter_builder as _winlog_filter  # noqa: E402

# the winlog input: .evtx binary column -> EvtRender-parity XML records,
# plus the file-mode simple query (record_filter.go) as a filter stage
REGISTRY["evtx_records"] = _evtx_records
REGISTRY["winlog_filter"] = _winlog_filter

from .metricset import fetch_health_builder as _fetch_health  # noqa: E402
from .metricset import fetch_metricsets_builder as _fetch_metricsets  # noqa: E402

# metricbeat's periodic fetch: the per-tick executor-side fan-out and the
# handleFetchError consecutive-failure / Degraded window replay
REGISTRY["metricset_fetch"] = _fetch_metricsets
REGISTRY["metricset_health"] = _fetch_health

from .netflow_v9 import netflow_v9_events_builder as _netflow_v9  # noqa: E402

# template-stateful NetFlow v9 / IPFIX decode + full ECS conversion
REGISTRY["netflow_v9_events"] = _netflow_v9

from .script import script as _script  # noqa: E402

REGISTRY["script"] = _script

from .cef import decode_cef as _decode_cef  # noqa: E402

# ArcSight CEF decode (x-pack decode_cef), golden-corpus verified
REGISTRY["decode_cef"] = _decode_cef

from .vpcflow import parse_aws_vpc_flow_log as _vpcflow  # noqa: E402

# AWS VPC flow-log parse (x-pack), pure-Column, golden-corpus verified
REGISTRY["parse_aws_vpc_flow_log"] = _vpcflow


def _parsers_builder(parsers=None, **common):
    """filestream-style `parsers:` block as a registry entry, so a full
    beats config (parsers + processors) compiles through one
    compile_chain spec: {"parsers": {"parsers": [...], "max_bytes": N}}.
    Validation happens here, at build time (parser_config.parsers_chain
    = NewConfig parity)."""
    from .parser_config import parsers_chain

    return parsers_chain(parsers or [], **common)


REGISTRY["parsers"] = _parsers_builder


def _auditd_builder(**cfg):
    """auditd log-line parse ({"auditd": {"field": "message"}}) —
    reader/auditd golden-corpus parity, see processors/auditd.py."""
    from .auditd import auditd_parse

    field = cfg.pop("field", "message")
    if cfg and set(cfg) - {"log_errors", "add_error_key"}:
        raise ValueError(f"auditd: unsupported option(s) {sorted(set(cfg) - {'log_errors', 'add_error_key'})}")

    def stage(df):
        return auditd_parse(df, field=field)

    return stage


REGISTRY["auditd"] = _auditd_builder
