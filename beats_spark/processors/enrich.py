"""Enrichment processors — Beats' lookup-join family as broadcast joins.

The reference enriches one event at a time against cached side state
(translate_sid, dns, cache, add_*_metadata — SURVEY.md §2.6). On Spark
the same semantics are a LEFT broadcast hash join against a small lookup
DataFrame: build side ships once per executor, probe is map-side, no
shuffle of the big side — the plan that survives a 100× scale-up.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..conditions import IPV4_RE, _ipv6_hextets, ip_to_long


def lookup_join(
    lookup: DataFrame,
    on: str | list[str],
    defaults: dict[str, str] | None = None,
    how: str = "left",
):
    """Generic broadcast-enrich (translate_sid/translatesid.go:43 analog).

    `defaults` fills missing-key rows — the mappings+default semantics of
    outil (select.go:224-250)."""
    keys = [on] if isinstance(on, str) else list(on)

    def stage(df: DataFrame) -> DataFrame:
        out = df.join(F.broadcast(lookup), on=keys, how=how)
        for col, default in (defaults or {}).items():
            out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
        return out

    return stage


# Microsoft "Well-known security identifiers in Windows operating systems"
# (public documentation) — the subset every Windows box resolves without a
# domain controller, i.e. what the reference's sid.LookupAccount("") returns
# for these inputs (translate_sid/translatesid.go:105). (sid, domain,
# account, type) with SIDType.String() renderings (winevent/sid.go:59-70).
WELL_KNOWN_SIDS: list[tuple[str, str, str, str]] = [
    ("S-1-0-0", "", "NULL SID", "Well Known Group"),
    ("S-1-1-0", "", "Everyone", "Well Known Group"),
    ("S-1-2-0", "", "LOCAL", "Well Known Group"),
    ("S-1-2-1", "", "CONSOLE LOGON", "Well Known Group"),
    ("S-1-3-0", "", "CREATOR OWNER", "Well Known Group"),
    ("S-1-3-1", "", "CREATOR GROUP", "Well Known Group"),
    ("S-1-5-1", "NT AUTHORITY", "DIALUP", "Well Known Group"),
    ("S-1-5-2", "NT AUTHORITY", "NETWORK", "Well Known Group"),
    ("S-1-5-3", "NT AUTHORITY", "BATCH", "Well Known Group"),
    ("S-1-5-4", "NT AUTHORITY", "INTERACTIVE", "Well Known Group"),
    ("S-1-5-6", "NT AUTHORITY", "SERVICE", "Well Known Group"),
    ("S-1-5-7", "NT AUTHORITY", "ANONYMOUS LOGON", "Well Known Group"),
    ("S-1-5-9", "NT AUTHORITY", "ENTERPRISE DOMAIN CONTROLLERS", "Well Known Group"),
    ("S-1-5-10", "NT AUTHORITY", "SELF", "Well Known Group"),
    ("S-1-5-11", "NT AUTHORITY", "Authenticated Users", "Well Known Group"),
    ("S-1-5-12", "NT AUTHORITY", "RESTRICTED", "Well Known Group"),
    ("S-1-5-18", "NT AUTHORITY", "SYSTEM", "Well Known Group"),
    ("S-1-5-19", "NT AUTHORITY", "LOCAL SERVICE", "Well Known Group"),
    ("S-1-5-20", "NT AUTHORITY", "NETWORK SERVICE", "Well Known Group"),
    ("S-1-5-113", "NT AUTHORITY", "Local account", "Well Known Group"),
    ("S-1-5-114", "NT AUTHORITY",
     "Local account and member of Administrators group", "Well Known Group"),
    ("S-1-5-32-544", "BUILTIN", "Administrators", "Alias"),
    ("S-1-5-32-545", "BUILTIN", "Users", "Alias"),
    ("S-1-5-32-546", "BUILTIN", "Guests", "Alias"),
    ("S-1-5-32-547", "BUILTIN", "Power Users", "Alias"),
    ("S-1-5-32-551", "BUILTIN", "Backup Operators", "Alias"),
    ("S-1-5-32-555", "BUILTIN", "Remote Desktop Users", "Alias"),
]

# windows.StringToSid's string grammar: S-R-I(-S)* with numeric revision,
# numeric-or-hex identifier authority, numeric subauthorities. "S-1-5" (no
# subauthority) is a valid SID per ConvertStringSidToSid.
_SID_RE = r"^[sS]-\d+-(\d+|0[xX][0-9a-fA-F]{1,12})(-\d+)*$"

FLAG_SID_INVALID = "translate_sid_invalid"        # ERROR_INVALID_SID analog
FLAG_SID_NONE_MAPPED = "translate_sid_none_mapped"  # ERROR_NONE_MAPPED analog


def translate_sid(
    field: str,
    account_name_target: str | None = None,
    account_type_target: str | None = None,
    domain_target: str | None = None,
    table: DataFrame | None = None,
    ignore_missing: bool = False,
    ignore_failure: bool = False,
):
    """translate_sid (translatesid.go:74-130) over a broadcast SID table.

    Per-event Windows API lookups become ONE left broadcast join against a
    (sid, domain, account, type) frame — `table` for a directory export,
    default = the public well-known-SID set (the only set LookupAccount
    resolves without a DC). Reference parity, re-expressed column-wise:

    - missing field → mapstr.ErrKeyNotFound: build-time error unless
      ignore_missing (Run():76-78); NULL values behave as unmapped.
    - capability SIDs (S-1-15-3-*) are never looked up → NONE_MAPPED
      (translatesid.go:93-97), targets stay NULL.
    - malformed SID strings → ERROR_INVALID_SID: flagged
      `translate_sid_invalid`, targets NULL (StringToSid:100-103).
    - valid-but-unmapped → flagged `translate_sid_none_mapped`, targets
      NULL (LookupAccount:105-108). ignore_failure suppresses both flags.
    - only the configured targets are written (translatesid.go:112-128);
      at least one must be set (defaultConfig requires a non-empty op).
    """
    from ..events import FLAGS_COL, append_flag, flags_column

    targets = {
        "account": account_name_target,
        "type": account_type_target,
        "domain": domain_target,
    }
    if not any(targets.values()):
        raise ValueError(
            "translate_sid: at least one of account_name_target, "
            "account_type_target, domain_target is required"
        )

    def stage(df: DataFrame) -> DataFrame:
        if field not in df.columns:
            if ignore_missing:
                return df
            raise ValueError(f"translate_sid: field not found: {field}")
        if dict(df.dtypes)[field] != "string":
            # errInvalidType — a column's type is uniform, so the
            # reference's per-event check surfaces at build time.
            raise ValueError(f"translate_sid: SID field value is not a string: {field}")

        spark = df.sparkSession
        lut = table
        if lut is None:
            lut = spark.createDataFrame(
                WELL_KNOWN_SIDS, "_sid string, _sid_domain string, "
                "_sid_account string, _sid_type string"
            )
        else:
            lut = lut.toDF("_sid", "_sid_domain", "_sid_account", "_sid_type")
            # one account per SID (LookupAccount is a function) — dup
            # rows in a caller table must not multiply events
            lut = lut.groupBy("_sid").agg(
                F.min(
                    F.struct("_sid_domain", "_sid_account", "_sid_type")
                ).alias("_s")
            ).select(
                "_sid",
                F.col("_s._sid_domain").alias("_sid_domain"),
                F.col("_s._sid_account").alias("_sid_account"),
                F.col("_s._sid_type").alias("_sid_type"),
            )

        sid = F.col(field)
        valid = sid.rlike(_SID_RE)
        capability = sid.startswith("S-1-15-3-")
        out = df.join(
            F.broadcast(lut),
            on=(sid == F.col("_sid")) & valid & ~capability,
            how="left",
        )
        mapped = F.col("_sid").isNotNull()
        src = {"account": "_sid_account", "type": "_sid_type", "domain": "_sid_domain"}
        cols = []
        for k, tgt in targets.items():
            if tgt:
                cols.append(F.when(mapped, F.col(src[k])).alias(tgt))
        drop = {"_sid", "_sid_domain", "_sid_account", "_sid_type"}
        drop |= {t for t in targets.values() if t}
        if not ignore_failure:
            drop.add(FLAGS_COL)  # re-emitted with the appended flags
        keep = [c for c in out.columns if c not in drop]
        out = out.select(*keep, *cols, *(
            [] if ignore_failure else [
                append_flag(
                    append_flag(
                        flags_column(out),
                        FLAG_SID_INVALID,
                        sid.isNotNull() & ~valid,
                    ),
                    FLAG_SID_NONE_MAPPED,
                    sid.isNotNull() & valid & ~mapped,
                ).alias(FLAGS_COL)
            ]
        ))
        return out

    return stage


def add_constant_metadata(fields: dict[str, str], prefix: str = ""):
    """add_host_metadata / add_agent_metadata / add_locale analog —
    per-process constants become literal columns (driver-computed)."""

    def stage(df: DataFrame) -> DataFrame:
        for k, v in fields.items():
            df = df.withColumn(prefix + k, F.lit(v))
        return df

    return stage


# Full public suffix list (https://publicsuffix.org, MPL 2.0 — public data),
# vendored at beats_spark/data/public_suffix_list.dat. The reference uses the
# same table via golang.org/x/net/publicsuffix (registered_domain.go:25,93).
_PSL_PATH = os.path.join(os.path.dirname(__file__), "..", "data", "public_suffix_list.dat")
_PSL_MAX_LABELS = 5  # deepest stored rule key in the current list
_psl_cache: list[tuple] | None = None


def _psl_rules() -> list[tuple]:
    """Parse the PSL into (key, nlab, is_exact, is_wild, is_exc) rows.
    Wildcard rules `*.X` are stored under key X; exceptions `!Y` under Y.
    Keys are unique (flags OR-merged) so the broadcast join stays 1:1."""
    global _psl_cache
    if _psl_cache is None:
        try:
            with open(_PSL_PATH, encoding="utf-8") as fh:
                text = fh.read()
        except OSError:
            # package deployed as a --py-files zip: read via importlib
            import importlib.resources as ir

            text = (ir.files("beats_spark") / "data" / "public_suffix_list.dat").read_text(
                "utf-8"
            )
        merged: dict[str, list] = {}
        for line in text.splitlines():
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            exc = line.startswith("!")
            if exc:
                line = line[1:]
            wild = line.startswith("*.")
            if wild:
                line = line[2:]
            key = line.lower()
            row = merged.setdefault(key, [key.count(".") + 1, False, False, False])
            row[1] = row[1] or (not wild and not exc)
            row[2] = row[2] or wild
            row[3] = row[3] or exc
        _psl_cache = [(k, *v) for k, v in merged.items()]
    return _psl_cache


def registered_domain(
    field: str,
    target: str,
    target_subdomain: str | None = None,
    target_etld: str | None = None,
):
    """registered_domain.go:41-110 — eTLD+1 per the full public suffix list.

    `target_subdomain` / `target_etld` mirror the reference's optional
    TargetSubdomainField / TargetETLDField (registered_domain.go:100-110):
    subdomain = labels left of the registered domain, etld = the public
    suffix itself; both NULL whenever the registered domain is NULL.

    Spark-first shape: the PSL (~11k rules) is a BROADCAST lookup joined
    once per candidate suffix depth (5 map-side hash joins, zero shuffles
    of the event stream — the plan that survives 100×). Prevailing rule
    per the PSL algorithm: exceptions beat everything (public suffix =
    exception minus its leftmost label), else the longest matching rule
    (wildcard `*.X` ⇒ suffix one label deeper than X), else the implicit
    `*` rule (bare TLD). registered domain = public suffix + 1 label;
    NULL when the host IS a public suffix.
    """

    def stage(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        lookup = spark.createDataFrame(
            _psl_rules(), "rule string, nlab int, x boolean, w boolean, e boolean"
        )
        host = F.lower(F.regexp_replace(F.col(field), r"\.$", ""))
        df = df.withColumn("_psl_parts", F.split(host, r"\."))
        n = F.size(F.col("_psl_parts"))
        for k in range(1, _PSL_MAX_LABELS + 1):
            sfx = F.when(
                n >= k, F.array_join(F.slice(F.col("_psl_parts"), n - k + 1, k), ".")
            )
            df = df.withColumn(f"_sfx{k}", sfx)
            lk = F.broadcast(
                lookup.filter(F.col("nlab") == k).select(
                    F.col("rule").alias(f"_sfx{k}"),
                    F.col("x").alias(f"_x{k}"),
                    F.col("w").alias(f"_w{k}"),
                    F.col("e").alias(f"_e{k}"),
                )
            )
            df = df.join(lk, on=f"_sfx{k}", how="left")
        # longest matching rule; `greatest` skips the NULLs of rules that
        # do not match, and the implicit `*` rule gives depth 1. A
        # wildcard rule `*.X` (key X, k labels) has k+1 labels and only
        # matches hosts with at least k+1 of them (PSL algorithm: "domain
        # contains as many or more labels than the rule").
        depth = F.greatest(
            F.lit(1),
            *[
                F.when(F.col(f"_x{k}"), F.lit(k))
                for k in range(1, _PSL_MAX_LABELS + 1)
            ],
            *[
                F.when(F.col(f"_w{k}") & (n >= k + 1), F.lit(k + 1))
                for k in range(1, _PSL_MAX_LABELS + 1)
            ],
        )
        exc = F.coalesce(
            *[
                F.when(F.coalesce(F.col(f"_e{k}"), F.lit(False)), F.lit(k - 1))
                for k in range(_PSL_MAX_LABELS, 0, -1)
            ],
            F.lit(None).cast("int"),
        )
        df = df.withColumn("_psl_depth", F.coalesce(exc, depth))
        ps_depth = F.col("_psl_depth")
        rd = F.when(
            (n > ps_depth) & host.rlike(r"^[^.]+(\.[^.]+)*$"),
            F.array_join(F.slice(F.col("_psl_parts"), n - ps_depth, ps_depth + 1), "."),
        )
        drop = ["_psl_parts", "_psl_depth"] + [
            c for k in range(1, _PSL_MAX_LABELS + 1) for c in (f"_sfx{k}", f"_x{k}", f"_w{k}", f"_e{k}")
        ]
        df = df.withColumn(target, rd)
        if target_subdomain is not None:
            sub = F.when(
                F.col(target).isNotNull() & (n > ps_depth + 1),
                F.array_join(F.slice(F.col("_psl_parts"), 1, n - ps_depth - 1), "."),
            )
            df = df.withColumn(target_subdomain, sub)
        if target_etld is not None:
            etld = F.when(
                F.col(target).isNotNull(),
                F.array_join(F.slice(F.col("_psl_parts"), n - ps_depth + 1, ps_depth), "."),
            )
            df = df.withColumn(target_etld, etld)
        return df.drop(*drop)

    return stage


def _ip_raw_hex(col: Column) -> Column:
    """IP string → hex of the raw bytes the reference hashes
    (flowhash/communityid.go:87-94 getRawIP): 8 hex chars for IPv4
    (4 bytes), 32 for IPv6 (16 bytes). NULL when unparseable."""
    v4 = F.lpad(F.lower(F.hex(ip_to_long(col))), 8, "0")
    hx = _ipv6_hextets(col)
    v6 = F.array_join(
        F.transform(hx, lambda h: F.lpad(F.lower(F.hex(h)), 4, "0")), ""
    )
    return F.when(col.rlike(IPV4_RE), v4).when(hx.isNotNull(), v6)


def _ip_cmp_hex(raw: Column) -> Column:
    """Hex form used ONLY for endpoint ordering, from `_ip_raw_hex`'s
    output: IPv4 as its v6-mapped 16-byte form so mixed v4/v6 flows sort
    exactly like the reference's bytes.Compare over net.IP 16-byte
    values (flow.go:88-91)."""
    return F.when(
        F.length(raw) == 8, F.concat(F.lit("00000000000000000000ffff"), raw)
    ).otherwise(raw)


# flowhash/communityid.go:96-142 — ICMP type → two-way equivalent type.
# A type absent from its table makes the flow one-way: (type, code) is
# hashed as-is and endpoints are never reversed.
_ICMP4_EQUIV = {8: 0, 0: 8, 13: 14, 14: 13, 15: 16, 10: 9, 9: 10, 17: 18, 18: 17}
_ICMP6_EQUIV = {
    128: 129, 129: 128, 133: 134, 134: 133, 136: 135, 135: 136,
    130: 131, 139: 140, 140: 139, 144: 145, 145: 144,
}
# protocols whose digest includes the two port u16s (communityid.go:73-79)
_PORT_PROTOS = (6, 17, 132, 1, 58)


def _icmp_equiv(t: Column, table: dict[int, int]) -> Column:
    out = F.lit(None).cast("bigint")
    for k, v in table.items():
        out = F.when(t == k, F.lit(v).cast("bigint")).otherwise(out)
    return out


def community_id(
    src_ip: str,
    dst_ip: str,
    src_port: str,
    dst_port: str,
    proto: str,
    target: str = "community_id",
    seed: int = 0,
    icmp_type: str | None = None,
    icmp_code: str | None = None,
):
    """communityid/communityid.go:38 + flowhash/communityid.go:42-89 —
    byte-compatible Community ID v1 (joinable with Beats/Zeek/Suricata):

        '1:' + base64(sha1(seed_be16 ‖ raw_src_ip ‖ raw_dst_ip ‖
                           proto ‖ 0x00 [‖ sport_be16 ‖ dport_be16]))

    Reference parity (full, incl. the ICMP rules):
      * the two port u16s are appended ONLY for tcp/udp/sctp/icmp/icmpv6
        (communityid.go:73-79); any other protocol hashes ip-pair+proto
        alone, so port-less flows (e.g. OSPF) still get joinable IDs;
      * ICMP (1/58) maps type/code to pseudo-ports via the reference's
        equivalence tables (communityid.go:96-142): two-way types hash
        (type, equiv) and sort normally; one-way types hash (type, code)
        and are NEVER reversed;
      * otherwise endpoints are ordered so (ip, port) of the source
        sorts ≤ the destination (flow.go:88-91).
    ICMP type/code come from `icmp_type`/`icmp_code` columns when given,
    else from the port columns (the common capture-format convention).
    Pure Column: the packed binary tuple is built as a hex string →
    unhex → sha1 → unhex → base64, all in codegen.
    """

    def stage(df: DataFrame) -> DataFrame:
        p = F.col(proto).cast("int")
        s_p0, d_p0 = F.col(src_port).cast("bigint"), F.col(dst_port).cast("bigint")
        # ICMP with ABSENT type/code hashes the ZERO typecode (r5
        # communityid_test.go port: type 0 = echo-reply, whose two-way
        # equivalent 8 then drives normal ordering — golden 'PAE85…');
        # tcp/udp/sctp with absent ports stay NULL → NULL id (invalid)
        t_col = F.coalesce(F.col(icmp_type).cast("bigint") if icmp_type else s_p0, F.lit(0))
        c_col = F.coalesce(F.col(icmp_code).cast("bigint") if icmp_code else d_p0, F.lit(0))
        is_icmp = p.isin(1, 58)
        # Every intermediate read more than once is projected once: an
        # inline Column is copied into each consumer, and the nested
        # copies of the ip parses, the ICMP equivalence and `flip` made a
        # ~1 MB optimized plan that took seconds to optimize per call.
        df = df.withColumns(
            {
                "_cid_s": _ip_raw_hex(F.col(src_ip)),
                "_cid_d": _ip_raw_hex(F.col(dst_ip)),
                "_cid_eq": F.when(p == 1, _icmp_equiv(t_col, _ICMP4_EQUIV)).when(
                    p == 58, _icmp_equiv(t_col, _ICMP6_EQUIV)
                ),
            }
        )
        s_hex, d_hex, equiv = F.col("_cid_s"), F.col("_cid_d"), F.col("_cid_eq")
        one_way = is_icmp & equiv.isNull()
        df = df.withColumns(
            {
                "_cid_sp": F.when(is_icmp, t_col).otherwise(s_p0),
                "_cid_dp": F.when(is_icmp, F.coalesce(equiv, c_col)).otherwise(d_p0),
            }
        )
        s_p, d_p = F.col("_cid_sp"), F.col("_cid_dp")
        has_ports = p.isin(*_PORT_PROTOS)
        # ordering tie-break for port-less protocols: ports compare as 0
        s_ord = F.when(has_ports, s_p).otherwise(F.lit(0))
        d_ord = F.when(has_ports, d_p).otherwise(F.lit(0))
        s_cmp, d_cmp = _ip_cmp_hex(s_hex), _ip_cmp_hex(d_hex)
        # reverse unless one-way ICMP, (src < dst), or (src == dst and sport < dport)
        df = df.withColumn(
            "_cid_flip", ~one_way & ~((s_cmp < d_cmp) | ((s_cmp == d_cmp) & (s_ord < d_ord)))
        )
        flip = F.col("_cid_flip")
        a_hex = F.when(flip, d_hex).otherwise(s_hex)
        b_hex = F.when(flip, s_hex).otherwise(d_hex)
        a_p = F.when(flip, d_p).otherwise(s_p)
        b_p = F.when(flip, s_p).otherwise(d_p)
        port_hex = F.when(
            has_ports,
            F.concat(F.lpad(F.lower(F.hex(a_p)), 4, "0"), F.lpad(F.lower(F.hex(b_p)), 4, "0")),
        ).otherwise(F.lit(""))
        packed = F.concat(
            F.lpad(F.lower(F.hex(F.lit(seed))), 4, "0"),
            a_hex,
            b_hex,
            F.lpad(F.lower(F.hex(p)), 2, "0"),
            F.lit("00"),
            port_hex,
        )
        digest = F.base64(F.unhex(F.sha1(F.unhex(packed))))
        # validity (communityid_test.go): an out-of-range port (123456)
        # or unparseable ip yields NO id — hex() of a >u16 port would
        # otherwise silently widen the packed tuple into a wrong hash
        ports_ok = ~has_ports | (
            (a_p >= 0) & (a_p <= 0xFFFF) & (b_p >= 0) & (b_p <= 0xFFFF)
        )
        return df.withColumn(
            target,
            F.when(packed.isNotNull() & ports_ok, F.concat(F.lit("1:"), digest)),
        ).drop("_cid_s", "_cid_d", "_cid_eq", "_cid_sp", "_cid_dp", "_cid_flip")

    return stage


def add_network_direction(
    source: str, destination: str, target: str = "network_direction", internal_networks: list[str] | None = None
):
    """add_network_direction.go:34 — classify vs internal networks.

    `internal_networks` accepts CIDRs AND the named networks the
    reference supports ('private', 'loopback', …) — same resolver as
    the conditions DSL's `network` operator; an unknown name raises at
    BUILD like the reference's config error. r5
    (add_network_direction_test.go port): a row whose source OR
    destination is empty/unparseable gets NO direction (NULL) — the
    reference early-returns without setting the field; classifying
    garbage as 'external' was wrong."""
    from ..conditions import IPV4_RE, _ipv6_hextets, network_match

    nets = internal_networks or ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16"]

    def is_internal(col: Column) -> Column:
        return network_match(col, nets)

    def is_ip(col: Column) -> Column:
        return col.rlike(IPV4_RE) | _ipv6_hextets(col).isNotNull()

    def stage(df: DataFrame) -> DataFrame:
        src, dst = F.col(source), F.col(destination)
        src_in = is_internal(src)
        dst_in = is_internal(dst)
        return df.withColumn(
            target,
            F.when(
                is_ip(src) & is_ip(dst),
                F.when(src_in & dst_in, "internal")
                .when(src_in, "outbound")
                .when(dst_in, "inbound")
                .otherwise("external"),
            ),
        )

    return stage


def cache_get(
    lookup: DataFrame,
    key_field: str,
    value_cols: list[str],
    ttl_seconds: int | None = None,
    ts_col: str = "ts",
    key_col: str | None = None,
):
    """cache processor `get` op (cache/cache.go:40, config.go:79-100) —
    broadcast left join against the KV build side; the TTL becomes a
    freshness predicate on the cached_at column relative to event time
    (expired entries read as misses → NULL values, like an evicted key).
    """
    kc = key_col or lookup.columns[0]

    def stage(df: DataFrame) -> DataFrame:
        build = F.broadcast(lookup.withColumnRenamed(kc, "_cache_key"))
        out = df.join(build, on=F.col(key_field) == F.col("_cache_key"), how="left")
        if ttl_seconds is not None and "cached_at" in lookup.columns:
            fresh = F.col("cached_at") >= (
                F.col(ts_col) - F.expr(f"INTERVAL {ttl_seconds} SECONDS")
            )
            for c in value_cols:
                out = out.withColumn(c, F.when(fresh, F.col(c)))
        return out.drop("_cache_key")

    return stage


def cache_put(df: DataFrame, key_field: str, value_cols: list[str], ts_col: str = "ts") -> DataFrame:
    """cache processor `put` op — the build side as its own aggregate
    output: latest value per key (by event time), written/broadcast as
    the next run's lookup table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as W

    w = Window.partitionBy(key_field).orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("_rn", W.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key_field, *value_cols, F.col(ts_col).alias("cached_at"))
    )


def cache_sequential(
    key_field: str,
    value_field: str,
    target_field: str,
    put_when: dict,
    get_when: dict,
    delete_when: dict | None = None,
    ttl_seconds: float | None = None,
    overwrite_keys: bool = False,
    ignore_failure: bool = False,
    ts_col: str = "ts",
):
    """The cache processor's SEQUENTIAL put→get semantics
    (cache/cache.go:118-238 + mem_store.go, cache_test.go matrix) as one
    windowed pass: a `get` event at time t reads the LATEST `put` at or
    before t for its key (puts order before gets on equal timestamps —
    the batch projection of "the put ran first"), within `ttl_seconds`
    of the get's event time (an expired entry reads as a miss, like an
    evicted key). This is the form to use when puts and gets live in ONE
    stream; the two-phase cache_put/cache_get pair covers the
    cross-run-lookup-table case. `delete_when` marks delete events
    (cache.go:171-177 deleteFor): a delete TOMBSTONES the key — later
    gets miss until a later put; deleting an absent key is a no-op like
    store.Delete. On equal timestamps the replay-stable order is
    put → delete → get (a delete wins over a simultaneous put).

    Per-event error surface → per-row flags (`cache_get_error`), matching
    the engine's convention: a get whose key has no live entry flags
    unless `ignore_failure` (get_missing_value / _ignore_error cases); a
    get whose target is already occupied refuses the write and flags
    unless `overwrite_keys` (put_and_get_value_with_get_error_no_overwrite
    vs _allow_overwrite). Non-get rows pass through untouched. The
    reference's expected-map-but-string path error has no analog in a
    flat-column model.

    Scale shape: ONE shuffle on the cache key; the running last-put is a
    single window aggregate (no join, no driver state, no per-key
    collect) — hot keys cost one partition's sort, not a build side.
    """
    from ..conditions import compile_condition
    from ..events import FLAGS_COL, append_flag, flags_column
    from pyspark.sql import Window

    # True = "no when guard" (a beats cache processor without a when
    # runs on EVERY event); None = op not configured; dict = condition
    for w_cfg in (put_when, get_when, delete_when):
        if w_cfg is not None and w_cfg is not True:
            compile_condition(w_cfg)  # fail-fast config validation at build

    def stage(df: DataFrame) -> DataFrame:
        schema = dict(df.dtypes)

        def cond(w_cfg):
            if w_cfg is True:
                return F.lit(True)
            if w_cfg is None:
                return F.lit(False)
            return F.coalesce(compile_condition(w_cfg, schema=schema), F.lit(False))

        is_put = cond(put_when)
        is_get = cond(get_when)
        is_del = cond(delete_when)
        val = F.col(value_field)
        # puts before deletes before gets at equal ts; among equal puts
        # the greatest value wins deterministically (the reference's
        # "last Run" has no batch analog for true ties — pick a
        # replay-stable rule)
        w = (
            Window.partitionBy(key_field)
            .orderBy(
                F.col(ts_col),
                F.when(is_put, F.lit(0)).when(is_del, F.lit(1)).otherwise(F.lit(2)),
                F.coalesce(val.cast("string"), F.lit("")),
            )
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        vtype = schema.get(value_field, "string")
        # a delete is a TOMBSTONE entry (v = NULL): it supersedes earlier
        # puts in the running-last aggregate, so later gets miss
        entry = F.last(
            F.when(is_put, F.struct(F.col(ts_col).alias("at"), val.alias("v"))).when(
                is_del,
                F.struct(
                    F.col(ts_col).alias("at"), F.lit(None).cast(vtype).alias("v")
                ),
            ),
            ignorenulls=True,
        ).over(w)
        fresh = (
            entry["at"] >= F.col(ts_col) - F.expr(f"INTERVAL {ttl_seconds} SECONDS")
            if ttl_seconds is not None
            else F.lit(True)
        )
        found = is_get & entry.isNotNull() & entry["v"].isNotNull() & fresh
        if target_field in df.columns:
            occupied = F.col(target_field).isNotNull()
            cur = F.col(target_field)
        else:
            occupied = F.lit(False)
            cur = F.lit(None).cast(schema.get(value_field, "string"))
        writable = found & (F.lit(overwrite_keys) | ~occupied)
        err = (is_get & ~found & ~F.lit(ignore_failure)) | (found & ~writable)
        return df.withColumns(
            {
                target_field: F.when(writable, entry["v"]).otherwise(cur),
                FLAGS_COL: append_flag(flags_column(df), "cache_get_error", err),
            }
        )

    return stage


# -- dns processor (processors/dns) ---------------------------------------------


def reverse_dns_name(col: Column) -> Column:
    """The PTR query name the reference resolver asks for
    (resolver.go:150 → miekg dns.ReverseAddr): IPv4 → reversed octets +
    '.in-addr.arpa.', IPv6 → the 32 hex nibbles reversed, dot-separated
    + '.ip6.arpa.'. Pure Column; NULL for unrecognized addresses (the
    resolver returns an error there — dns.ReverseAddr's "unrecognized
    address"). Documented divergence: IPv4-mapped IPv6 text forms
    ('::ffff:1.2.3.4') are unrecognized here, while net.ParseIP().To4()
    folds them to in-addr.arpa form."""
    o = F.split(col, r"\.")
    v4 = F.concat(
        o.getItem(3), F.lit("."), o.getItem(2), F.lit("."),
        o.getItem(1), F.lit("."), o.getItem(0), F.lit(".in-addr.arpa."),
    )
    hx = _ipv6_hextets(col)
    full = F.array_join(
        F.transform(hx, lambda h: F.lpad(F.lower(F.hex(h)), 4, "0")), ""
    )
    # ReverseAddr emits, for bytes 15..0, low nibble then high nibble —
    # exactly the 32-char hex string reversed character-wise
    v6 = F.concat(
        F.array_join(F.split(F.reverse(full), ""), "."), F.lit(".ip6.arpa.")
    )
    return F.when(col.rlike(IPV4_RE), v4).when(hx.isNotNull(), v6)


def dns_lookup(
    fields: dict[str, str],
    table: DataFrame,
    qtype: str = "reverse",
    action: str = "append",
    tag_on_failure: list[str] | None = None,
    tags_col: str = "tags",
):
    """dns processor (dns/dns.go:80-160) over a broadcast answer table.

    The reference resolves per event against nameservers through a
    success/failure TTL cache; here the resolved set arrives as
    `table` — (query string, answers array<string>) — and the
    broadcast hash join IS the cache (one copy per executor, map-side
    probes). LIVE resolution builds that table from the wire:
    `beats_spark.dns_wire.resolve_answer_table` runs the from-scratch
    RFC 1035 client (resolver.go semantics + cache.go's
    success/failure TTL caches) over the DISTINCT query values.
    Everything around the lookup is the reference's Run, column-wise:

    - `fields` = config `fields` flattened (source → target), processed
      in the reference's map order for tag purposes;
    - a missing/non-string/NULL source is NOT a failure (dns.go:94-101
      nilerr) — the target is left untouched;
    - PTR/reverse lookups write result.Data[0] (a scalar);
      A/AAAA/TXT write the whole string slice (dns.go:113-117);
    - action=replace overwrites the target on success and keeps the old
      value on failure; action=append merges with an existing string or
      array<string> target (setFieldValue/setFieldSliceValue). A column
      is uniformly typed, so when append must merge with an existing
      STRING column the whole column is promoted to array<string>
      (miss rows become [old]) — the documented relational reading of
      the reference's per-event string→[]string flip. Other existing
      target dtypes are a build-time error (the reference silently
      leaves the replaced value — a quirk not worth reproducing).
    - `tag_on_failure` tags are appended ONCE per event (sync.Once) iff
      ANY configured field had a lookup failure = present, string, but
      unresolved; AddTags-style dedup against existing tags.
    """
    if action not in ("append", "replace"):
        raise ValueError(f"invalid dns field action value '{action}'")
    qt = qtype.lower()
    if qt not in ("a", "aaaa", "txt", "ptr", "reverse"):
        raise ValueError(
            f"invalid dns lookup type '{qtype}' specified in "
            "config (valid values are: A, AAAA, PTR, reverse, TXT)"
        )
    is_ptr = qt in ("ptr", "reverse")

    def stage(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)
        out = df
        fail_cols: list[str] = []
        for i, (src, tgt) in enumerate(fields.items()):
            if src not in out.columns:
                continue  # GetValue miss → nilerr, no failure
            if dtypes.get(src) != "string":
                continue  # non-string value → nilerr, no failure
            key, ans = f"_dns_q{i}", f"_dns_a{i}"
            # one answer per query, like the reference's cache — a
            # duplicated key in the table would otherwise MULTIPLY the
            # joined events; min() picks deterministically
            lut = F.broadcast(
                table.toDF(key, ans).groupBy(key).agg(F.min(ans).alias(ans))
            )
            out = out.join(lut, on=F.col(src) == F.col(key), how="left")
            hit = F.col(key).isNotNull()
            if tag_on_failure:
                # the join key is dropped below — pin this field's failure
                # verdict in its own boolean column first
                fc = f"_dns_fail{i}"
                out = out.withColumn(fc, F.col(src).isNotNull() & ~hit)
                fail_cols.append(fc)
            res = F.col(ans).getItem(0) if is_ptr else F.col(ans)
            old_t = dtypes.get(tgt)
            # a NULL existing target is "no old value" (PutValue's old ==
            # nil): promotion maps it to NULL, not [NULL], and a hit
            # writes the new value alone (r5d review — F.array(NULL)
            # fabricates an element; F.concat(NULL, x) nulls the hit out)
            if old_t is None:
                val = res  # new field: scalar for PTR, slice otherwise
            elif old_t == "string":
                old_arr = F.when(F.col(tgt).isNotNull(), F.array(F.col(tgt)))
                if action == "replace":
                    val = (
                        F.when(hit, res).otherwise(F.col(tgt))
                        if is_ptr
                        else F.when(hit, res).otherwise(old_arr)
                    )
                else:  # append: promote to array<string>
                    new_part = F.array(res) if is_ptr else res
                    val = (
                        F.when(
                            hit & F.col(tgt).isNotNull(),
                            F.concat(F.array(F.col(tgt)), new_part),
                        )
                        .when(hit, new_part)
                        .otherwise(old_arr)
                    )
            elif old_t == "array<string>":
                new_part = F.array(res) if is_ptr else res
                if action == "replace":
                    val = F.when(hit, new_part).otherwise(F.col(tgt))
                else:
                    val = F.when(
                        hit,
                        F.concat(
                            F.coalesce(F.col(tgt), F.array().cast("array<string>")),
                            new_part,
                        ),
                    ).otherwise(F.col(tgt))
            else:
                raise ValueError(
                    f"dns_lookup: target {tgt!r} has dtype {old_t}; only "
                    "string/array<string> targets are supported (the "
                    "reference would silently replace the value here)"
                )
            out = out.withColumn(tgt, val).drop(key, ans)
            stays_string = is_ptr and (old_t is None or (old_t == "string" and action == "replace"))
            dtypes[tgt] = "string" if stays_string else "array<string>"
        if tag_on_failure:
            fail_any = F.lit(False)
            for fc in fail_cols:
                fail_any = fail_any | F.col(fc)
            tag_arr = F.array(*[F.lit(t) for t in tag_on_failure])
            # mapstr.AddTagsWithKey promotes an existing scalar string
            # tag to a list before appending — a string tags column is
            # promoted to array<string> for ALL rows (uniform column
            # type; same documented promotion rule as append targets)
            tags_dtype = dict(df.dtypes).get(tags_col)
            if tags_col in df.columns and tags_dtype == "string":
                existing = F.when(
                    F.col(tags_col).isNotNull(), F.array(F.col(tags_col))
                ).otherwise(F.array().cast("array<string>"))
                untouched = existing
            elif tags_col in df.columns:
                existing = F.coalesce(F.col(tags_col), F.array().cast("array<string>"))
                untouched = F.col(tags_col)
            else:
                existing = F.array().cast("array<string>")
                untouched = F.lit(None).cast("array<string>")
            out = out.withColumn(
                tags_col,
                F.when(
                    fail_any, F.array_distinct(F.concat(existing, tag_arr))
                ).otherwise(untouched),
            ).drop(*fail_cols)
        return out

    return stage


# -- translate_ldap_attribute (GUID handling is byte-compatible) ----------------

_GUID_HEX_RE = r"^[0-9a-fA-F]{32}$"


def _guid_swapped(g: Column) -> Column:
    """Reorder the 32 hex chars per the Microsoft objectGUID byte
    layout (guid.go:79-90): Data1 (4 bytes) + Data2 + Data3
    little-endian, Data4 (8 bytes) untouched. The swap is symmetric —
    the same reorder converts in both directions."""
    return F.concat(
        F.substring(g, 7, 2), F.substring(g, 5, 2),
        F.substring(g, 3, 2), F.substring(g, 1, 2),
        F.substring(g, 11, 2), F.substring(g, 9, 2),
        F.substring(g, 15, 2), F.substring(g, 13, 2),
        F.substring(g, 17, 16),
    )


def guid_to_ad_bytes(col: Column) -> Column:
    """GUID string (braced / hyphenated / bare 32-hex) → the 16-byte
    Active Directory objectGUID binary (guid.go guidToBytes), as a
    BINARY column. NULL on invalid format (wrong length / non-hex),
    where the reference returns errInvalidGUIDFormat."""
    t = F.regexp_replace(col, r"^[{}]+|[{}]+$", "")  # strings.Trim(guid, "{}")
    g = F.regexp_replace(t, "-", "")
    return F.when(g.rlike(_GUID_HEX_RE), F.unhex(_guid_swapped(g)))


def ad_bytes_to_guid(col: Column) -> Column:
    """16-byte AD objectGUID binary → canonical lowercase GUID string
    (guid.go guidBytesToString). NULL when the value is not 16 bytes."""
    h = _guid_swapped(F.lower(F.hex(col)))
    return F.when(
        F.length(col) == 16,
        F.concat_ws(
            "-",
            F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
            F.substring(h, 17, 4), F.substring(h, 21, 12),
        ),
    )


def escape_binary_for_ldap(col: Column) -> Column:
    """Binary → LDAP filter escape form `\\xx` per byte, lowercase hex
    (guid.go escapeBinaryForLDAP)."""
    return F.regexp_replace(F.lower(F.hex(col)), "(..)", r"\\$1")


FLAG_GUID_INVALID = "translate_guid_invalid"
FLAG_LDAP_NONE_MAPPED = "translate_ldap_none_mapped"


def translate_guid(
    field: str,
    target_field: str | None = None,
    table: DataFrame | None = None,
    guid_translation: str = "auto",
    search_attribute: str = "objectGUID",
    ignore_missing: bool = False,
    ignore_failure: bool = False,
):
    """translate_ldap_attribute (translate_ldap_attribute.go:140-186)
    over a broadcast directory export.

    The per-event LDAP search becomes a left broadcast join against
    `table` = (search_value string, values array<string>) — the mapped
    attribute values findObjectBy returns. Reference parity:

    - guid_translation auto|always|never (prepareSearchFilter): when GUID
      translation applies (always, or auto with search_attribute
      objectGUID — EqualFold), the search key is the CANONICAL lowercase
      GUID (byte-roundtripped), so '{ABC...}', 'abc...' and bare forms
      all hit the same directory entry — exactly what matching on the
      converted bytes gives the reference; `never` matches the raw
      string (EscapeFilter passthrough).
    - invalid GUID under translation → flag `translate_guid_invalid`
      (the "failed to convert GUID" error), no lookup.
    - lookup miss → flag `translate_ldap_none_mapped`; ignore_failure
      suppresses both flags (Run():148-151).
    - missing field → build error unless ignore_missing
      (mapstr.ErrKeyNotFound); non-string field → build error
      (errInvalidType — a column's type is uniform).
    - result is written to target_field, default IN PLACE on `field`
      (translate_ldap_attribute.go:180-184) — in-place replaces the
      string column with the array<string> attribute values, NULL where
      the lookup failed.
    """
    from ..events import FLAGS_COL, append_flag, flags_column

    if guid_translation not in ("auto", "always", "never"):
        raise ValueError(
            f"invalid AD GUID translation value '{guid_translation}'"
        )
    translate = guid_translation == "always" or (
        guid_translation == "auto" and search_attribute.lower() == "objectguid"
    )

    def stage(df: DataFrame) -> DataFrame:
        if field not in df.columns:
            if ignore_missing:
                return df
            raise ValueError(f"translate_guid: field not found: {field}")
        if dict(df.dtypes)[field] != "string":
            raise ValueError(
                f"translate_guid: search attribute field value is not a string: {field}"
            )
        if table is None:
            raise ValueError("translate_guid: a directory `table` is required")
        tgt = target_field or field
        lut = table.toDF("_ldap_key", "_ldap_values")
        if translate:
            key = ad_bytes_to_guid(guid_to_ad_bytes(F.col(field)))
            lut = lut.select(
                F.coalesce(
                    ad_bytes_to_guid(guid_to_ad_bytes(F.col("_ldap_key"))),
                    F.col("_ldap_key"),
                ).alias("_ldap_key"),
                "_ldap_values",
            )
            invalid = F.col(field).isNotNull() & key.isNull()
        else:
            key = F.col(field)
            invalid = F.lit(False)
        # one entry per key (findObjectBy returns one object) — dup keys
        # in the export (or two text forms canonicalizing to the same
        # GUID) must not multiply events; min() picks deterministically
        lut = lut.groupBy("_ldap_key").agg(
            F.min("_ldap_values").alias("_ldap_values")
        )
        out = df.join(
            F.broadcast(lut), on=key == F.col("_ldap_key"), how="left"
        )
        hit = F.col("_ldap_key").isNotNull()
        flags = flags_column(out)
        if not ignore_failure:
            flags = append_flag(flags, FLAG_GUID_INVALID, invalid)
            flags = append_flag(
                flags,
                FLAG_LDAP_NONE_MAPPED,
                F.col(field).isNotNull() & ~invalid & ~hit,
            )
        drop = {"_ldap_key", "_ldap_values", tgt, FLAGS_COL}
        keep = [c for c in out.columns if c not in drop]
        return out.select(
            *keep,
            F.col("_ldap_values").alias(tgt),
            flags.alias(FLAGS_COL),
        )

    return stage


def cache_config_validate(cfg: dict) -> dict:
    """cache processor config surface (cache/config.go) — config.Validate
    + storeConfig.Validate with the reference's error wording verbatim
    (config_test.go's matrix). Returns a normalized descriptor:
    {op, backend: (kind, id), key_field, value_field?, target_field?,
    ttl_seconds?, ignore_missing, ignore_failure, overwrite_keys}."""
    from .parser_config import _duration_seconds

    def req_str(d: dict, path: str):
        parts = path.split(".")
        cur = d
        for p in parts:
            cur = cur.get(p) if isinstance(cur, dict) else None
            if cur is None:
                break
        if not isinstance(cur, str) or not cur:
            raise ValueError(f"string value is not set accessing '{path}'")
        return cur

    ops = [k for k in ("put", "get", "delete") if cfg.get(k) is not None]
    if len(ops) == 0:
        raise ValueError("no operation specified for cache processor accessing config")
    if len(ops) > 1:
        raise ValueError(
            "cannot specify multiple operations together in a cache processor accessing config"
        )
    op = ops[0]
    backend = cfg.get("backend")
    if backend is None:
        raise ValueError("missing required field accessing 'backend'")
    mem, fil = backend.get("memory"), backend.get("file")
    if mem is not None and fil is not None:
        raise ValueError(
            "must specify only one of backend.memory.id or backend.file.id accessing 'backend'"
        )
    if mem is None and fil is None:
        raise ValueError(
            "must specify one of backend.memory.id or backend.file.id accessing 'backend'"
        )
    if mem is not None:
        be = ("memory", req_str(cfg, "backend.memory.id"))
    else:
        be = ("file", req_str(cfg, "backend.file.id"))
    out = {
        "op": op,
        "backend": be,
        # defaultConfig(): IgnoreMissing true, others false
        "ignore_missing": bool(cfg.get("ignore_missing", True)),
        "ignore_failure": bool(cfg.get("ignore_failure", False)),
        "overwrite_keys": bool(cfg.get("overwrite_keys", False)),
        "key_field": req_str(cfg, f"{op}.key_field"),
    }
    if op == "put":
        out["value_field"] = req_str(cfg, "put.value_field")
        if cfg["put"].get("ttl") is None:
            raise ValueError("missing required field accessing 'put.ttl'")
        out["ttl_seconds"] = _duration_seconds(cfg["put"]["ttl"], "put.ttl")
    elif op == "get":
        out["target_field"] = req_str(cfg, "get.target_field")
    return out


def cache_from_configs(entries: list[tuple[dict, dict | None]], ts_col: str = "ts"):
    """The beats-YAML → batch translation for the cache processor: a
    pipeline carries SEVERAL single-op `cache` processors sharing one
    backend id (the put leg under one `when`, the get leg under
    another); here they compose into ONE windowed cache_sequential
    stage. `entries` = [(config dict, when condition | None), ...] in
    pipeline order; a None when means the op runs on every event, like
    a guardless beats processor.

    Validation is the reference's per-processor surface
    (cache_config_validate) plus the composition rules the batch
    projection needs, each a loud build error: all entries must share
    one backend (separate stores never interact), one put and one get
    at most (the window carries one value column and one target), all
    ops must key on the SAME field (the window partitions once), and a
    get-only set is refused (with no put leg in the batch, every get
    would silently miss). TTL comes from the put config (the reference
    stamps expiry at put time; the window compares put-ts + TTL against
    the get's event time — the same rule). overwrite_keys /
    ignore_failure come from the GET entry's config (they gate the get
    path in cache.go)."""
    descs = [(cache_config_validate(c), when) for c, when in entries]
    backends = {d["backend"] for d, _ in descs}
    if len(backends) > 1:
        raise ValueError(
            f"cache_from_configs: entries use different backends {sorted(backends)}; "
            "separate stores never interact"
        )
    keys = {d["key_field"] for d, _ in descs}
    if len(keys) > 1:
        raise ValueError(
            f"cache_from_configs: entries key on different fields {sorted(keys)}; "
            "the batch window partitions on one key column"
        )
    puts = [(d, w) for d, w in descs if d["op"] == "put"]
    gets = [(d, w) for d, w in descs if d["op"] == "get"]
    dels = [(d, w) for d, w in descs if d["op"] == "delete"]
    if len(puts) > 1 or len(gets) > 1 or len(dels) > 1:
        raise ValueError("cache_from_configs: at most one put/get/delete entry each")
    if not gets:
        raise ValueError("cache_from_configs: a get entry is required (nothing to emit)")
    if not puts:
        raise ValueError(
            "cache_from_configs: a put entry is required (a get-only batch always misses)"
        )
    put_d, put_w = puts[0]
    get_d, get_w = gets[0]
    return cache_sequential(
        key_field=put_d["key_field"],
        value_field=put_d["value_field"],
        target_field=get_d["target_field"],
        put_when=put_w if put_w is not None else True,
        get_when=get_w if get_w is not None else True,
        delete_when=(dels[0][1] if dels[0][1] is not None else True) if dels else None,
        ttl_seconds=put_d["ttl_seconds"],
        overwrite_keys=get_d["overwrite_keys"],
        ignore_failure=get_d["ignore_failure"],
        ts_col=ts_col,
    )


def add_docker_metadata(
    table: DataFrame,
    match_fields: list[str] | None = None,
    match_source: bool = True,
    match_source_index: int = 4,
    match_short_id: bool = False,
    labels_dedot: bool = True,
    source_col: str = "log_file_path",
):
    """add_docker_metadata (add_docker_metadata.go:267-326) over a
    broadcast container table — the watcher's container map arrives as
    `table` = (container_id, image, name, labels map<string,string>),
    since the Docker socket is environment-gated here. Run parity,
    column-wise:

    - container ID resolution order: (1) the source LOG PATH — the
      reference delegates to extract_field on log.file.path with
      separator '/' and index `match_source_index` (default 4 matches
      /var/lib/docker/containers/<cid>/*.log; empty tokens are skipped,
      extract_field.go semantics), and writes container.id immediately
      even when the lookup later misses; (2) the cgroups-by-PID path is
      environment-gated (no /proc of a docker host here) and skipped;
      (3) the FIRST configured match_field holding a non-null string
      (matchFieldCID).
    - `match_short_id` also indexes the table by the 12-char short id
      (watcher WithShortID).
    - on a hit, DeepUpdate writes container.id (the FULL id — it
      overwrites a short/source-derived id), container.image.name,
      container.name and the labels with dots in KEYS replaced by '_'
      when labels_dedot (common.DeDot; the reference's default true).
      Flat column model: container_id / container_image_name /
      container_name / container_labels.
    """
    fields = list(match_fields or [])

    def stage(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)
        lut = table.toDF("_dkr_id", "_dkr_image", "_dkr_name", "_dkr_labels")
        if labels_dedot:
            lut = lut.withColumn(
                "_dkr_labels",
                F.transform_keys(
                    F.col("_dkr_labels"), lambda k, v: F.replace(k, F.lit("."), F.lit("_"))
                ),
            )
        if match_short_id:
            lut = lut.unionByName(
                lut.select(
                    F.substring("_dkr_id", 1, 12).alias("_dkr_id"),
                    "_dkr_image", "_dkr_name", "_dkr_labels",
                )
            )
        # one row per (possibly short) id — a dup key must not multiply
        # events (same rule as every lookup in this module). min() can't
        # order a map, so min_by over a serialized ordering key.
        ordk = F.struct(
            F.col("_dkr_image"), F.col("_dkr_name"), F.to_json(F.col("_dkr_labels"))
        )
        lut = lut.groupBy("_dkr_id").agg(
            F.min_by(
                F.struct("_dkr_image", "_dkr_name", "_dkr_labels"), ordk
            ).alias("_s")
        ).select(
            "_dkr_id",
            F.col("_s._dkr_image").alias("_dkr_image"),
            F.col("_s._dkr_name").alias("_dkr_name"),
            F.col("_s._dkr_labels").alias("_dkr_labels"),
        )
        src_cid = F.lit(None).cast("string")
        if match_source and source_col in dtypes and dtypes.get(source_col) == "string":
            toks = F.filter(F.split(F.col(source_col), "/"), lambda x: x != "")
            src_cid = F.get(toks, match_source_index)
        cid = src_cid
        for fld in fields:
            if fld in dtypes and dtypes.get(fld) == "string":
                cid = F.coalesce(cid, F.col(fld))
        out = df.join(
            F.broadcast(lut), on=cid == F.col("_dkr_id"), how="left"
        )
        hit = F.col("_dkr_id").isNotNull()
        # Run writes container.id from the source path BEFORE the lookup;
        # a hit's DeepUpdate then overwrites it with the table's full id
        container_id = F.when(hit, F.col("_dkr_id")).otherwise(src_cid)
        return out.select(
            *[c for c in out.columns if not c.startswith("_dkr_")],
            container_id.alias("container_id"),
            F.col("_dkr_image").alias("container_image_name"),
            F.col("_dkr_name").alias("container_name"),
            F.col("_dkr_labels").alias("container_labels"),
        )

    return stage


def k8s_logs_path_index(
    col: Column,
    logs_path: str | None = None,
    resource_type: str = "container",
) -> Column:
    """add_kubernetes_metadata's logs_path matcher
    (filebeat/processor/add_kubernetes_metadata/matchers.go:49-130) as a
    pure Column: the metadata-index key (container id or pod UID)
    extracted from a log file path. NULL where the Go matcher returns ""
    (no match / too short / wrong extension). Exact control flow:

    - the path must CONTAIN logs_path (normalized to end with '/');
    - resource_type='pod': only *.log paths that are not .gz; under
      /var/lib/kubelet/pods/ the UID is path segment 5 (raw '/'-split,
      leading empty token counted, like strings.Split); under
      /var/log/pods/ segment 4 is '<ns>_<pod>_<uid>' and the UID is its
      third '_'-part; any other pod logs_path never matches;
    - resource_type='container': under /var/log/containers/ a *.log
      path long enough takes the 64 chars before '.log' (the
      '<pod>_<ns>_<container>-<cid>.log' layout); otherwise the 64
      chars right after logs_path (the /var/lib/docker/containers/
      layout) when the path is long enough."""
    lp = logs_path or "/var/lib/docker/containers/"
    if not lp.endswith("/"):
        lp += "/"
    src = col
    slen = F.length(src)
    lplen = len(lp)
    if resource_type == "pod":
        ok_ext = src.contains(".log") & ~src.endswith(".gz")
        if lp.startswith("/var/lib/kubelet/pods/"):
            dirs = F.split(src, "/")
            res = F.when(F.size(dirs) > 5, F.get(dirs, 5))
        elif lp.startswith("/var/log/pods/"):
            parts = F.split(F.get(F.split(src, "/"), 4), "_")
            res = F.when(F.size(parts) > 2, F.get(parts, 2))
        else:
            res = F.lit(None).cast("string")
        res = F.when(ok_ext, res)
    else:
        chain = None
        if lp.startswith("/var/log/containers/"):
            c1 = src.endswith(".log") & (slen >= 64 + 4)
            v1 = F.substr(src, slen - F.lit(67), F.lit(64))
            chain = F.when(c1, v1)
        c2 = slen >= lplen + 64
        v2 = F.substr(src, F.lit(lplen + 1), F.lit(64))
        res = chain.when(c2, v2) if chain is not None else F.when(c2, v2)
    return F.nullif(F.when(src.contains(lp), res), F.lit(""))


def add_kubernetes_metadata(
    table: DataFrame,
    index_cols: list[Column],
):
    """add_kubernetes_metadata over a broadcast pod-metadata table —
    the watcher/indexer state (kubernetes.go; the API server is
    environment-gated) arrives as `table` whose FIRST column is the
    metadata index key (container id or pod UID, whatever the indexers
    produced) and whose remaining columns are the metadata to attach.
    `index_cols` are matcher Columns in config order (e.g.
    k8s_logs_path_index(...), a field value) — the FIRST non-null one
    is the event's index (Matchers.MetadataIndex:82-95 first-match
    rule). Rows with no index or no table entry pass through with NULL
    metadata, like the processor's no-op path."""
    if not index_cols:
        raise ValueError("add_kubernetes_metadata: at least one matcher is required")

    def stage(df: DataFrame) -> DataFrame:
        cols = table.columns
        lut = table.toDF(*(["_k8s_key"] + [f"_k8s_{c}" for c in cols[1:]]))
        ordk = F.struct(*[F.col(c) for c in lut.columns[1:]])
        lut = lut.groupBy("_k8s_key").agg(F.min_by(ordk, F.to_json(ordk)).alias("_s"))
        lut = lut.select(
            "_k8s_key", *[F.col(f"_s._k8s_{c}").alias(f"_k8s_{c}") for c in cols[1:]]
        )
        idx = F.coalesce(*index_cols) if len(index_cols) > 1 else index_cols[0]
        out = df.join(F.broadcast(lut), on=idx == F.col("_k8s_key"), how="left")
        return out.select(
            *[c for c in df.columns],
            *[F.col(f"_k8s_{c}").alias(f"kubernetes_{c}") for c in cols[1:]],
        )

    return stage


# libbeat/processors/add_process_metadata/config.go:30 — matches the
# docker / kubepods(+cri-containerd/crio) / podman cgroup layouts
DEFAULT_CGROUP_REGEX = r"[-/]([0-9a-f]{64})(\.scope)?$"


def container_id_from_cgroup(col: Column, regex: str = DEFAULT_CGROUP_REGEX) -> Column:
    """add_process_metadata's cgroup → container.id extraction
    (cidProvider with defaultCgroupRegex; TestDefaultCgroupRegex's five
    layouts). NULL where the path carries no id."""
    return F.nullif(F.regexp_extract(col, regex, 1), F.lit(""))


def local_process_table(spark, pids: list | None = None):
    """Build the broadcast process table LIVE from the local /proc
    (the gosysinfo provider's data source, add_process_metadata.go's
    GetProcessMetadata): pid, name (comm), title (joined cmdline),
    exe (readlink, best-effort), args, ppid, start_time (boot time +
    starttime ticks), username/userid from /proc/<pid>/status Uid.
    The netmetrics precedent: this host's procfs is real; a docker
    HOST's /proc remains environment-bound."""
    import os

    try:
        with open("/proc/stat") as fh:
            btime = next((int(line.split()[1])
                          for line in fh
                          if line.startswith("btime ")), 0)
    except OSError:
        btime = 0
    hz = os.sysconf("SC_CLK_TCK")

    def one(pid: int):
        base = f"/proc/{pid}"
        try:
            with open(base + "/stat") as fh:
                stat = fh.read()
        except OSError:
            return None
        # comm may contain spaces/parens: take the outermost parens
        lp, rp = stat.index("("), stat.rindex(")")
        name = stat[lp + 1:rp]
        rest = stat[rp + 2:].split()
        ppid = int(rest[1])       # field 4
        starttime = int(rest[19])  # field 22
        start_iso = None
        if btime:
            from datetime import datetime, timezone
            start_iso = datetime.fromtimestamp(
                btime + starttime / hz, timezone.utc).isoformat()
        try:
            with open(base + "/cmdline", "rb") as fh:
                args = [a.decode("utf-8", "replace")
                        for a in fh.read().split(b"\0") if a]
        except OSError:
            args = []
        try:
            exe = os.readlink(base + "/exe")
        except OSError:
            exe = None
        username = userid = None
        try:
            with open(base + "/status") as fh:
                for line in fh:
                    if line.startswith("Uid:"):
                        userid = line.split()[1]
                        break
            if userid is not None:
                import pwd
                try:
                    username = pwd.getpwuid(int(userid)).pw_name
                except KeyError:
                    pass
        except OSError:
            pass
        return (int(pid), name, " ".join(args) or name, exe, args,
                ppid, start_iso, username, userid)

    if pids is None:
        pids = [int(d) for d in os.listdir("/proc") if d.isdigit()]
    rows = [r for r in (one(p) for p in pids) if r is not None]
    # bare column names: add_process_metadata prefixes `process_`
    return spark.createDataFrame(
        rows,
        "pid int, name string, title string, exe string,"
        " args array<string>, ppid int, start_time string,"
        " username string, userid string")


def add_process_metadata(
    table: DataFrame,
    match_pids: list[str] | None = None,
    cgroup_col: str | None = None,
    ignore_missing: bool = True,
):
    """add_process_metadata (add_process_metadata.go:207-330) over a
    broadcast process table — /proc is environment-gated, so the
    process snapshot arrives as `table` whose FIRST column is the pid
    and whose remaining columns are the metadata (attached under
    process_*). Run parity, column-wise:

    - `match_pids` in config order; the FIRST non-null parseable pid is
      the event's pid (the reference continues past a MISSING field;
      per-row that is a coalesce). Unparseable pid strings try_cast to
      NULL and read as missing — the reference's hard error has no
      per-row analog worth a job abort.
    - no pid anywhere → untouched row when ignore_missing (default
      true, like defaultConfig), else a build error naming ErrNoMatch
      when NONE of the fields exist at all.
    - `cgroup_col` (a cgroup path column) additionally yields
      process_container_id via the default cgroup regex — the
      container.id mapping of the reference's cidProvider."""
    pid_fields = match_pids or ["process.pid", "process.parent.pid"]

    def stage(df: DataFrame) -> DataFrame:
        dtypes = dict(df.dtypes)
        # only pid-shaped dtypes: try_cast from array/struct/map is a
        # plan-time error, and pidToInt rejects those types anyway
        castable = ("tinyint", "smallint", "int", "bigint", "string")
        present = [f for f in pid_fields if dtypes.get(f) in castable]
        if not present:
            if ignore_missing:
                return df
            raise ValueError(
                "add_process_metadata: none of the match_pids fields exist "
                f"({pid_fields}) — ErrNoMatch"
            )
        pid = F.coalesce(*[F.col(f).try_cast("bigint") for f in present])
        cols = table.columns
        lut = table.toDF(*(["_proc_pid"] + [f"_proc_{c}" for c in cols[1:]]))
        ordk = F.struct(*[F.col(c) for c in lut.columns[1:]])
        lut = lut.groupBy("_proc_pid").agg(F.min_by(ordk, F.to_json(ordk)).alias("_s"))
        lut = lut.select(
            F.col("_proc_pid").cast("bigint").alias("_proc_pid"),
            *[F.col(f"_s._proc_{c}").alias(f"_proc_{c}") for c in cols[1:]],
        )
        out = df.join(F.broadcast(lut), on=pid == F.col("_proc_pid"), how="left")
        extra = []
        if cgroup_col and cgroup_col in dtypes:
            extra.append(
                container_id_from_cgroup(F.col(cgroup_col)).alias("process_container_id")
            )
        return out.select(
            *[c for c in df.columns],
            *[F.col(f"_proc_{c}").alias(f"process_{c}") for c in cols[1:]],
            *extra,
        )

    return stage


def geo_config_to_fields(cfg: dict) -> dict[str, str]:
    """processors/util GeoConfigToMap (geo.go:17-65) — the geo block of
    add_host_metadata / add_observer_metadata. Validates `location` as
    'lat, lon' with the reference's exact regex, prunes blank fields,
    and returns the flat field map for add_constant_metadata (prefix it
    with e.g. 'observer_geo_'). ValueError carries the reference's
    error text."""
    import re as _re

    allowed = {
        "name", "location", "continent_name", "country_name",
        "country_iso_code", "region_name", "region_iso_code", "city_name",
    }
    unknown = set(cfg) - allowed
    if unknown:
        raise ValueError(f"geo: unknown config keys: {sorted(unknown)}")
    loc = cfg.get("location", "")
    if loc:
        lat_or_lon = r"\-?\d+(\.\d+)?"
        loc_re = r"^\s*" + lat_or_lon + r"\s*\,\s*" + lat_or_lon + r"\s*$"
        if not _re.match(loc_re, loc):
            raise ValueError(
                f"Invalid lat,lon  string for add_observer_metadata: {loc}"
            )
    blank = _re.compile(r"^\s*$")
    return {
        k: str(cfg[k]) for k in allowed
        if k in cfg and not blank.match(str(cfg[k]))
    }


def add_cloud_metadata(fields: dict[str, str], overwrite: bool = False):
    """add_cloud_metadata (add_cloud_metadata.go:128-160) — the provider
    fetch happens once per process in the reference, so the fetched doc
    arrives as `fields` (e.g. {'cloud_provider': 'aws',
    'cloud_instance_id': ...}) and becomes literal columns. Overwrite
    parity (the documented aws-module case): with overwrite=false an
    EXISTING column is left untouched (DeepUpdateNoOverwrite — a key the
    pipeline already wrote wins); overwrite=true replaces it. A
    per-event key-exists check has no finer per-row analog than the
    column's presence in the schema — documented reading."""

    def stage(df: DataFrame) -> DataFrame:
        out = df
        for col, val in fields.items():
            if col in out.columns and not overwrite:
                continue
            out = out.withColumn(col, F.lit(val))
        return out

    return stage
