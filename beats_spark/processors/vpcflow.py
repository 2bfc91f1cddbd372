"""parse_aws_vpc_flow_log — AWS VPC Flow Log parse + ECS mapping.

Reference: x-pack/filebeat/processors/aws_vpcflow/
parse_aws_vpc_flow_log.go:86-235 (processor loop), mapping.go:38-383
(the field dictionary with ECS mappings, transforms, and the tcp_flags
enrichment), types.go:43-83 (typed conversions — ParseInt base 0,
net.ParseIP validation, epoch-second timestamps), config.go:56-116
(modes, format parsing, unique-field-count validation).

Spark-first: the format string is CONFIG, so the whole parse compiles
to one Column projection — `split(\\s+)` once, positional `get`,
try-cast per declared type, and the ECS mapping as a static set of
typed flat columns (the engine's dots→underscores convention). No
Python runs per row, the plan is WholeStageCodegen end-to-end, and
every derived column prunes/pushes down. Multiple formats (unique
token counts, like the reference) dispatch per row on `size(tokens)`.

Failure semantics: the reference mutates the event field-by-field and
aborts mid-loop on the first bad value, leaving a half-written event
when ignore_failure swallows the error (processor.go:86-121). Columns
are all-or-nothing per FIELD instead: a token that fails its declared
type lands NULL and flags `vpcflow_error`; a token count matching no
format leaves every output NULL with the same flag. No half-mutation —
the engine-wide convert/fail_on_error rule (SURVEY §1.3)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["parse_aws_vpc_flow_log", "VPC_FLOW_FIELDS"]

# name → (type, [(ecs_target, transform_tag)], enrich_tag)
# transform_tag/enrich_tag name the special behaviors ported from
# mapping.go's Transform/Enrich closures; None = plain copy.
VPC_FLOW_FIELDS: dict[str, tuple[str, list[tuple[str, str | None]], str | None]] = {
    "version": ("integer", [], None),
    "account_id": ("string", [("cloud.account.id", None)], None),
    "interface_id": ("string", [], None),
    "srcaddr": (
        "ip",
        [("source.address", None), ("source.ip", None), ("network.type", "ip_version")],
        None,
    ),
    "dstaddr": ("ip", [("destination.address", None), ("destination.ip", None)], None),
    "srcport": ("integer", [("source.port", None)], None),
    "dstport": ("integer", [("destination.port", None)], None),
    "protocol": (
        "integer",
        [("network.iana_number", "int_to_string"), ("network.transport", "iana_name")],
        None,
    ),
    "packets": ("long", [("source.packets", None), ("network.packets", None)], None),
    "bytes": ("long", [("source.bytes", None), ("network.bytes", None)], None),
    "start": ("timestamp", [("event.start", None)], None),
    "end": ("timestamp", [("event.end", None), ("@timestamp", None)], None),
    "action": (
        "string",
        [
            ("event.outcome", "action_outcome"),
            ("event.action", "lowercase"),
            ("event.type", "action_event_type"),
        ],
        None,
    ),
    "log_status": ("string", [], None),
    "vpc_id": ("string", [], None),
    "subnet_id": ("string", [], None),
    "instance_id": ("string", [("cloud.instance.id", None)], None),
    "tcp_flags": ("integer", [], "tcp_flags_array"),
    "type": ("string", [], None),
    "pkt_srcaddr": ("ip", [], None),
    "pkt_dstaddr": ("ip", [], None),
    "region": ("string", [("cloud.region", None)], None),
    "az_id": ("string", [("cloud.availability_zone", None)], None),
    "sublocation_type": ("string", [], None),
    "sublocation_id": ("string", [], None),
    "pkt_src_aws_service": ("string", [], None),
    "pkt_dst_aws_service": ("string", [], None),
    "flow_direction": ("string", [("network.direction", None)], None),
    "traffic_path": ("integer", [], None),
    # v6 — Transit Gateway
    "resource_type": ("string", [], None),
    "tgw_id": ("string", [], None),
    "tgw_attachment_id": ("string", [], None),
    "tgw_src_vpc_account_id": ("string", [], None),
    "tgw_dst_vpc_account_id": ("string", [], None),
    "tgw_src_vpc_id": ("string", [], None),
    "tgw_dst_vpc_id": ("string", [], None),
    "tgw_src_subnet_id": ("string", [], None),
    "tgw_dst_subnet_id": ("string", [], None),
    "tgw_src_eni": ("string", [], None),
    "tgw_dst_eni": ("string", [], None),
    "tgw_src_az_id": ("string", [], None),
    "tgw_dst_az_id": ("string", [], None),
    "tgw_pair_attachment_id": ("string", [], None),
    "packets_lost_no_route": ("long", [], None),
    "packets_lost_blackhole": ("long", [], None),
    "packets_lost_mtu_exceeded": ("long", [], None),
    "packets_lost_ttl_expired": ("long", [], None),
    # v7 — ECS (the container service)
    "ecs_cluster_arn": ("string", [("orchestrator.cluster.id", None)], None),
    "ecs_cluster_name": (
        "string",
        [("orchestrator.cluster.name", None), ("orchestrator.type", "const_ecs")],
        None,
    ),
    "ecs_container_instance_arn": (
        "string",
        [("orchestrator.resource.name", None), ("orchestrator.resource.type", "const_container")],
        None,
    ),
    "ecs_container_instance_id": ("string", [("orchestrator.resource.id", None)], None),
    "ecs_container_id": ("string", [("container.id", None)], None),
    "ecs_second_container_id": ("string", [], None),
    "ecs_service_name": ("string", [("service.name", None)], None),
    "ecs_task_definition_arn": ("string", [], None),
    "ecs_task_arn": ("string", [], None),
    "ecs_task_id": ("string", [], None),
    # v8
    "reject_reason": ("string", [("event.reason", None)], None),
}

_SPARK_TY = {"integer": "int", "long": "bigint", "string": "string", "ip": "string", "timestamp": "timestamp"}

# protocol number → transport name (mapping.go:107-138; intentionally
# NOT the full IANA table — only the reference's cases)
_IANA_NAMES = {
    0: "hopopt", 1: "icmp", 2: "igmp", 6: "tcp", 8: "egp", 17: "udp",
    47: "gre", 50: "esp", 58: "ipv6-icmp", 112: "vrrp", 132: "sctp",
}

_TCP_FLAG_BITS = [(0x01, "fin"), (0x02, "syn"), (0x04, "rst"), (0x08, "psh"), (0x10, "ack"), (0x20, "urg")]


def parse_format(format_str: str) -> list[str]:
    """config.go parseFormat: whitespace-split tokens, dashes become
    underscores, every token must be a known field."""
    tokens = format_str.split()
    if not tokens:
        raise ValueError("format must contain at least one field")
    names = []
    for t in tokens:
        name = t.replace("-", "_")
        if name not in VPC_FLOW_FIELDS:
            raise ValueError(f"unknown field {t!r}")
        names.append(name)
    return names


def _typed(raw: Column, ty: str) -> Column:
    """types.go toType as a Column: ParseInt base 0 (hex accepted) for
    integer/long, strict IP validation, epoch seconds → timestamp.
    Divergence: base-0's bare-octal ('017' → 15) and binary ('0b1')
    literals are not reproduced — flow-log integers are decimal (the
    reference corpus never ships either form); hex is supported."""
    from ..conditions import IPV4_RE, _ipv6_hextets
    from ..dissect import cast_column

    if ty == "string":
        return raw
    if ty == "ip":
        ok = raw.rlike(IPV4_RE) | _ipv6_hextets(raw).isNotNull()
        return F.when(ok, raw)
    if ty == "timestamp":
        return F.timestamp_seconds(F.when(raw.rlike(r"^-?\d+$"), raw).try_cast("bigint"))
    if ty == "integer":
        return cast_column(raw, "integer", signed_hex=True)
    if ty == "long":
        return cast_column(raw, "long", signed_hex=True)
    raise ValueError(f"invalid data type: {ty}")


def parse_aws_vpc_flow_log(
    format: str | list[str],
    mode: str = "ecs",
    field: str = "message",
    target: str = "aws_vpcflow",
    ignore_missing: bool = False,
    ignore_failure: bool = False,
):
    """The processor. `format` is one format string or a list with
    pairwise-distinct token counts (config.go Validate). `mode` is
    original | ecs | ecs_and_original (ecs is the reference default).

    Output: `<target>` typed struct of the original flow-log fields
    (per-mode membership: ecs mode omits fields that mapped to ECS),
    flat typed ECS columns (source_ip, destination_port,
    network_transport, cloud_region, related_ip, event_type, …),
    `vpcflow_ts` (@timestamp from `end`), and `vpcflow_error`."""
    if mode not in ("original", "ecs", "ecs_and_original"):
        raise ValueError(f"invalid mode type {mode!r}")
    fmts = [format] if isinstance(format, str) else list(format)
    parsed = [parse_format(f) for f in fmts]
    counts = [len(p) for p in parsed]
    if len(set(counts)) != len(counts):
        raise ValueError("each format must have a unique number of fields")

    def stage(df: DataFrame) -> DataFrame:
        if field not in df.columns:
            if ignore_missing:
                return df
            raise ValueError(f"parse_aws_vpc_flow_log field [{field}] is missing")
        if dict(df.dtypes)[field] != "string":
            if ignore_failure:
                return df
            raise TypeError(f"parse_aws_vpc_flow_log field [{field}] must be a string")

        # The parse is projected ONCE into temporary columns — tokens,
        # then each field's raw token, then its typed value and the
        # error flag — and every output reads those by reference, so no
        # output column carries the whole parse (the error flag ORs
        # every field's typed check and guards every ECS column).
        toks = F.col("_vpc_toks")
        n = F.size(toks)
        all_names = sorted({name for p in parsed for name in p})
        raw_cols: dict[str, Column] = {}
        for name in all_names:
            # a field absent from the row's matched format stays NULL
            raw: Column | None = None
            for p, cnt in zip(parsed, counts):
                if name in p:
                    tok = F.get(toks, p.index(name))
                    this = F.when((n == cnt) & (tok != "-"), tok)
                    raw = this if raw is None else F.coalesce(raw, this)
            raw_cols[f"_vpc_r_{name}"] = raw
        matched = F.lit(False)
        for cnt in counts:
            matched = matched | (n == cnt)
        raw_cols["_vpc_ok"] = matched

        typed_cols: dict[str, Column] = {}
        failed = F.lit(False)
        for name in all_names:
            ty = VPC_FLOW_FIELDS[name][0]
            raw = F.col(f"_vpc_r_{name}")
            typed_cols[f"_vpc_t_{name}"] = _typed(raw, ty)
            if ty != "string":
                failed = failed | (raw.isNotNull() & F.col(f"_vpc_t_{name}").isNull())
        temps = ["_vpc_toks", *raw_cols, *typed_cols, "_vpc_err"]
        parsed_df = (
            df.withColumn("_vpc_toks", F.split(F.trim(F.col(field)), r"\s+"))
            .withColumns(raw_cols)
            .withColumns(typed_cols)
            .withColumn("_vpc_err", ~F.col("_vpc_ok") | failed)
        )
        typed_by_name = {name: F.col(f"_vpc_t_{name}") for name in all_names}
        err = F.col("_vpc_err")

        # original-fields struct, per-mode membership (process():195-204)
        struct_fields = []
        struct_names: set[str] = set()
        for p in parsed:
            for name in p:
                ty, mappings, enrich = VPC_FLOW_FIELDS[name]
                if mode == "ecs" and mappings:
                    continue
                if name in struct_names:
                    continue
                struct_names.add(name)
                struct_fields.append(typed_by_name[name].alias(name))
                if enrich == "tcp_flags_array":
                    tf = typed_by_name[name]
                    flags = F.array_compact(
                        F.array(
                            *[
                                F.when(tf.bitwiseAND(F.lit(bit)) > 0, F.lit(fname))
                                for bit, fname in _TCP_FLAG_BITS
                            ]
                        )
                    )
                    struct_fields.append(
                        F.when(tf.isNotNull() & (F.size(flags) > 0), flags).alias(
                            "tcp_flags_array"
                        )
                    )
        out = parsed_df.withColumn(
            target, F.when(~err, F.struct(*struct_fields))
        ).withColumn("vpcflow_error", err)

        if mode == "original":
            return out.drop(*temps)

        # ECS projection (flat typed columns, dots→underscores)
        guard = ~err

        def g(c: Column) -> Column:
            return F.when(guard, c)

        ecs_cols: dict[str, Column] = {}
        for p in parsed:
            for name in p:
                ty, mappings, _ = VPC_FLOW_FIELDS[name]
                v = typed_by_name[name]
                for tgt, tag in mappings:
                    col_name = "vpcflow_ts" if tgt == "@timestamp" else tgt.replace(".", "_")
                    if tag is None:
                        c = v
                    elif tag == "ip_version":
                        c = F.when(v.contains("."), F.lit("ipv4")).when(
                            v.isNotNull(), F.lit("ipv6")
                        )
                    elif tag == "int_to_string":
                        c = v.cast("string")
                    elif tag == "iana_name":
                        c = F.element_at(
                            F.create_map(
                                *[
                                    x
                                    for k2, n2 in _IANA_NAMES.items()
                                    for x in (F.lit(k2), F.lit(n2))
                                ]
                            ),
                            v,
                        )
                    elif tag == "lowercase":
                        c = F.lower(v)
                    elif tag == "action_outcome":
                        c = F.when(v == "ACCEPT", F.lit("success")).when(
                            v == "REJECT", F.lit("failure")
                        )
                    elif tag == "action_event_type":
                        continue  # handled with the base event.type below
                    elif tag == "const_ecs":
                        c = F.when(v.isNotNull(), F.lit("ecs"))
                    elif tag == "const_container":
                        c = F.when(v.isNotNull(), F.lit("container"))
                    else:  # pragma: no cover
                        raise AssertionError(tag)
                    prev = ecs_cols.get(col_name)
                    ecs_cols[col_name] = g(c) if prev is None else F.coalesce(prev, g(c))

        # event.type: always ["connection"] in ECS modes, plus
        # allowed/denied from action (mapping.go:200-223)
        action = typed_by_name.get("action")
        etype = F.array(F.lit("connection"))
        if action is not None:
            etype = (
                F.when(action == "ACCEPT", F.array(F.lit("connection"), F.lit("allowed")))
                .when(action == "REJECT", F.array(F.lit("connection"), F.lit("denied")))
                .otherwise(etype)
            )
        ecs_cols["event_type"] = g(etype)
        if "vpcflow_ts" not in ecs_cols:
            # stable output schema: formats without `end` still carry
            # the (null) @timestamp column
            ecs_cols["vpcflow_ts"] = F.lit(None).cast("timestamp")

        # related.ip: unique IPs in field order (first occurrence wins)
        ip_exprs: list[Column] = []
        seen: set[str] = set()
        for p in parsed:
            for name in p:
                if VPC_FLOW_FIELDS[name][0] == "ip" and name not in seen:
                    seen.add(name)
                    ip_exprs.append(typed_by_name[name])
        if ip_exprs:
            rel = F.array_distinct(F.array_compact(F.array(*ip_exprs)))
            ecs_cols["related_ip"] = g(F.when(F.size(rel) > 0, rel))

        return out.withColumns(ecs_cols).drop(*temps)

    return stage
