"""The benchmark's three workloads. A pass calls beats_spark's public
functions in the order `beats_spark/runner.py:main` does; `span(layer)`
wraps each call that starts Spark jobs (a no-op in an untraced run)."""

from __future__ import annotations

import os
import shutil
from unittest import mock

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark import pipeline
from beats_spark.aggregates import events_per_conv, events_per_tool, flow_reports, session_flows
from beats_spark.checkpoint import CheckpointedRun
from beats_spark.pipeline import parse_enrich, route_events
from beats_spark.processors.stateful import multiline_count, rate_limit
from beats_spark.sources import read_transcripts
from tracing import Untraced

CHECKPOINT_PARTITIONS = 8
RESUME_MISSING = 1  # manifests removed before each resume pass (1 of 8 = 12.5 %)
HOT_CONV = "conv-00000000"


def _part(n: int, conv_id: F.Column | None = None) -> F.Column:
    """The hash-mode checkpoint unit, as CheckpointedRun derives it."""
    return F.pmod(F.hash(F.col("conv_id") if conv_id is None else conv_id), F.lit(n))


def dissect_prefix(df: DataFrame, spark: SparkSession) -> DataFrame:
    """parse_enrich with its enrich joins left out, so enrich's self time
    can be differenced out. The plan is the program's own: parse_enrich
    is called with the `lookup_join` it uses swapped for a pass-through
    while the lazy plan is built. The self-test checks that the result
    has no join and lacks only the lookup tables' columns."""
    with mock.patch.object(pipeline, "lookup_join", lambda *a, **k: (lambda d: d), create=True):
        return parse_enrich(df, spark)


class Fanout:
    """The runner's path into a fresh output directory on every pass."""

    name = "fanout"

    def __init__(self, spark: SparkSession, table: str, out_dir: str):
        self.spark, self.table, self.out_dir = spark, table, out_dir

    def prepare(self, oracle) -> None:
        """Untimed work done once before the first pass."""

    def reset(self) -> None:
        """Untimed work before every pass."""
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def scan(self) -> DataFrame:
        """What the pass's parse layer sees."""
        return read_transcripts(self.spark, self.table)

    def prefixes(self) -> list[tuple[str, DataFrame]]:
        """Growing prefixes of the pass for self-time differencing."""
        scan = self.scan()
        return [
            ("sources.scan", scan),
            ("dissect", dissect_prefix(scan, self.spark)),
            ("processors.enrich", parse_enrich(scan, self.spark)),
            ("routing", route_events(parse_enrich(scan, self.spark))),
        ]

    def run(self, span) -> dict:
        spark = self.spark
        routed = route_events(parse_enrich(read_transcripts(spark, self.table), spark))
        run = CheckpointedRun(self.out_dir, n_partitions=CHECKPOINT_PARTITIONS)
        with span("checkpoint.run"):
            manifests = run.run(routed, input_files=[self.table])
        with span("checkpoint.read_output"):
            out_df = run.read_output(spark)
        for name, agg in (("events_per_conv", events_per_conv), ("events_per_tool", events_per_tool)):
            with span(f"aggregates.{name}"):
                agg(out_df).write.mode("overwrite").parquet(os.path.join(self.out_dir, "aggregates", name))
        return {"manifests": manifests, "write_jobs": run.write_jobs}

    def check(self, oracle) -> int:
        return oracle.check_pipeline(self.out_dir, resumed=False)


class Resume(Fanout):
    """The same pass over a committed output missing RESUME_MISSING
    partitions' manifests — never the hot conversation's partition, so
    every seed resumes a like-sized share of the rows."""

    name = "resume"

    def prepare(self, oracle) -> None:
        hot = self.spark.range(1).select(_part(CHECKPOINT_PARTITIONS, F.lit(HOT_CONV))).first()[0]
        self.missing = [p for p in range(CHECKPOINT_PARTITIONS) if p != hot][:RESUME_MISSING]
        super().reset()
        super().run(Untraced().span)  # the committed output every pass resumes
        oracle.snapshot(self.out_dir)

    def reset(self) -> None:
        run = CheckpointedRun(self.out_dir, n_partitions=CHECKPOINT_PARTITIONS)
        for p in self.missing:
            path = run._manifest_path(p)
            if os.path.exists(path):
                os.remove(path)

    def scan(self) -> DataFrame:
        return read_transcripts(self.spark, self.table).filter(_part(CHECKPOINT_PARTITIONS).isin(self.missing))

    def check(self, oracle) -> int:
        return oracle.check_pipeline(self.out_dir, resumed=True)


class Stateful:
    """rate_limit, multiline_count, session_flows and flow_reports keyed
    on conv_id, with the parameters of the repo's oracle queries."""

    name = "stateful"

    def __init__(self, spark: SparkSession, table: str, out_dir: str):
        self.spark, self.table, self.out_dir = spark, table, out_dir

    def prepare(self, oracle) -> None:
        """Nothing to do once; outputs are overwritten by every pass."""

    def reset(self) -> None:
        """Nothing to do per pass."""

    def scan(self) -> DataFrame:
        return read_transcripts(self.spark, self.table)

    def prefixes(self) -> list[tuple[str, DataFrame]]:
        return [("sources.scan", self.scan())]

    def run(self, span) -> dict:
        t = read_transcripts(self.spark, self.table)
        stages = (
            ("stateful.rate_limit", "rate_limit", lambda: rate_limit(["conv_id"], limit=3, period="1 hour", order_cols=["turn_idx"])(t)),
            ("stateful.multiline_count", "multiline_count", lambda: multiline_count(count=5, group_cols=["conv_id"], order_col="turn_idx")(t)),
            ("aggregates.session_flows", "session_flows", lambda: session_flows(t, keys=["conv_id"], gap="30 minutes")),
            ("aggregates.flow_reports", "flow_reports", lambda: flow_reports(t, ["conv_id"], timeout_seconds=1800, period_seconds=600)),
        )
        for layer, out, build in stages:
            with span(layer):
                build().write.mode("overwrite").parquet(os.path.join(self.out_dir, out))
        return {}

    def check(self, oracle) -> int:
        return oracle.check_stateful(self.out_dir)


WORKLOADS = {w.name: w for w in (Fanout, Resume, Stateful)}
