"""Per-sink windowed aggregates — packetbeat-flows semantics on Spark.

The reference's only real aggregation engine is packetbeat's flow table:
keyed counters emitted per report interval with inactivity timeouts
(/root/reference/packetbeat/flows/worker.go:127-232, flows.go:46-81).
The batch equivalents:

  periodic report   → groupBy(key, time-bucket).agg(counters)
  inactivity close  → session_window(ts, gap) aggregation
  final counters    → plain groupBy(key)

All are single-shuffle hash aggregates with map-side partial combine —
hot conversation keys are absorbed by partial aggregation before the
exchange, so no salting is required for counts (unlike joins/writes).

We bucket with date_trunc (not window()) so results are a plain
timestamp column — directly comparable with the DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .events import SINK_COL


def events_per_key(
    df: DataFrame,
    key: str,
    bucket: str = "hour",
    ts_col: str = "ts",
    by_sink: bool = True,
) -> DataFrame:
    """events/<key> per time bucket (per sink) — the flows 'periodic report'."""
    groups = [F.date_trunc(bucket, F.col(ts_col)).alias("bucket"), F.col(key)]
    if by_sink and SINK_COL in df.columns:
        groups.insert(0, F.col(SINK_COL))
    return df.groupBy(*groups).agg(F.count(F.lit(1)).alias("n_events"))


def events_per_conv(df: DataFrame, bucket: str = "hour", **kw) -> DataFrame:
    return events_per_key(df, "conv_id", bucket, **kw)


def events_per_tool(df: DataFrame, bucket: str = "hour", **kw) -> DataFrame:
    return events_per_key(df, "tool", bucket, **kw)


def session_flows(
    df: DataFrame,
    keys: list[str],
    gap: str = "5 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Inactivity-timeout aggregation (flow close on idle) — session window."""
    return (
        df.groupBy(*[F.col(k) for k in keys], F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .withColumn("session_start", F.col("session_window.start"))
        .withColumn("session_end", F.col("session_window.end"))
        .drop("session_window")
    )


class FlowConfigError(ValueError):
    """ErrInvalidTimeout / ErrInvalidPeriod (packetbeat/flows/flows.go)."""


def _grid(timeout_seconds: int, period_seconds: int) -> tuple[int, int, int]:
    """The worker's tick grid (makeWorker, worker.go:196-231), shared by
    flow_reports and its streaming twin: (tick, ticks per timeout check,
    ticks per periodic report — 0 when reporting only at flow end)."""
    if timeout_seconds < 1:
        raise FlowConfigError("invalid flow timeout (must be >= 1s)")
    if 0 < period_seconds < 1:
        raise FlowConfigError("invalid flow reporting period (must be >= 1s)")
    tick = math.gcd(timeout_seconds, period_seconds) if period_seconds > 0 else timeout_seconds
    tick = max(tick, 1)
    ticks_timeout = max(1, timeout_seconds // tick)
    ticks_period = max(1, period_seconds // tick) if period_seconds > 0 else 0
    return tick, ticks_timeout, ticks_period


def flow_reports(
    df: DataFrame,
    keys: list[str],
    timeout_seconds: int = 60,
    period_seconds: int = 10,
    ts_col: str = "ts",
    align_seconds: int = 10,
    t0_epoch: int | None = None,
    delta: bool = False,
    counters: dict[str, Column] | None = None,
) -> DataFrame:
    """Batch replay of the packetbeat flows worker loop
    (packetbeat/flows/worker.go:127-232, 244-295): given the event table,
    emit exactly the report events the reference worker would have
    published had it observed the same arrival times.

    Reference semantics reproduced:
      * tick = gcd(timeout, period), clamped to >= 1 s; timeout checks
        run every `ticksTimeout` ticks and periodic reports every
        `ticksPeriod` ticks (makeWorker, worker.go:196-231);
      * the worker start is aligned UP to `align` seconds
        (worker.go:203-210) — here ``t0`` defaults to the minimum event
        ts aligned up, or pass ``t0_epoch`` explicitly;
      * a flow is killed at the first check tick c with
        c - last_seen > timeout (strict, worker.go:277), and events that
        arrive at ts <= c are in the table before the check runs — so a
        flow whose idle gap exceeded `timeout` BETWEEN check ticks
        survives if a new event lands before the next check (this is NOT
        a plain session window; the kill grid matters);
      * periodic reports emit every live flow (cumulative counters), the
        kill check emits one final report with flow.final = true — a
        tick that is both check and report emits a single final report
        (flowsProcessor.execute, worker.go:275-288);
      * ``delta=True`` = enableDeltaFlowReporting: counters reset after
        every report (createEvent, worker.go:341-345), while start/end
        timestamps stay cumulative;
      * period <= 0 → report only at flow end
        (newFlowsWorker doc, worker.go:127-129).

    `counters` maps output column name → per-event Column expression to
    SUM (the reference counter registries are additive accumulators,
    counters.go:17-60). Default: {"packets": 1}.

    Scale shape: one pass keyed on `keys`, over a single exchange.
    Two windows ordered by the projected epoch `_e` segment each key's
    events into flows (one sort). The per-(keys, flow, report-bucket)
    aggregate runs on the segmented frame, whose hash partitioning on
    `keys` it reuses (map-side partials absorb hot keys). One window per
    flow, ordered by bucket, then yields the next bucket, the flow
    totals and kill tick, and the running counters; each bucket row
    explodes into the report ticks up to the next bucket, and the
    flow's last bucket adds the final report (LightSaber-style reuse of
    per-bucket partials: nothing is joined back). The output is bounded
    by flow-lifetime/period rows per flow, never by event count.
    """
    tick, ticks_timeout, ticks_period = _grid(timeout_seconds, period_seconds)
    ci = ticks_timeout * tick                               # check interval
    ri = ticks_period * tick if ticks_period else None      # report interval
    if counters is None:
        counters = {"packets": F.lit(1)}
    cnames = list(counters)

    if t0_epoch is None:
        row = df.agg(
            F.min(F.col(ts_col).cast("timestamp").cast("double"))
        ).first()
        if row is None or row[0] is None:
            t0_epoch = 0
        else:
            a = align_seconds if align_seconds > 0 else 1
            t0_epoch = math.ceil(row[0] / a) * a
    t0 = float(t0_epoch)

    kcols = [F.col(k) for k in keys]

    # kill grid: K(p) = smallest T0 + k*CI (k>=1) strictly after p+timeout
    def kill_tick(ts_d: Column) -> Column:
        k = F.floor((ts_d + F.lit(float(timeout_seconds)) - F.lit(t0)) / F.lit(float(ci))) + 1
        return F.lit(t0) + F.greatest(F.lit(1).cast("long"), k).cast("double") * F.lit(float(ci))

    # The one exchange of the pass, at the session's shuffle width. AQE
    # would coalesce it by the shuffled event bytes, but the stage after
    # it emits several times more report rows than it reads (perfbench's
    # stateful table: 150k events in, 691k rows out, 2 post-shuffle tasks
    # on 4 cores when coalesced); an explicit width is never coalesced.
    width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # NTZ-safe epoch seconds (TIMESTAMP_NTZ can't cast straight to double;
    # the session tz is UTC so NTZ→TIMESTAMP is the identity rendering),
    # projected once so both segmentation windows share one sort
    e = F.col("_e")
    w_order = Window.partitionBy(*kcols).orderBy(e)
    prev = F.lag(e).over(w_order)
    seg = (
        df.repartition(width, *kcols)
        .withColumn("_e", F.col(ts_col).cast("timestamp").cast("double"))
        .withColumn("_nf", F.when(prev.isNull() | (e > kill_tick(prev)), 1).otherwise(0))
        .withColumn("_flow", F.sum("_nf").over(w_order.rowsBetween(Window.unboundedPreceding, 0)))
    )

    # report-bucket index: the first report tick at which the event is visible
    if ri is not None:
        j_of = F.greatest(F.lit(1).cast("long"), F.ceil((e - F.lit(t0)) / F.lit(float(ri))))
    else:
        j_of = F.lit(1).cast("long")

    # start/end ride the ORIGINAL timestamp column (exact, no
    # double→timestamp reconstruction); doubles are used only for the
    # grid arithmetic where they are exact (integer-second grids)
    buckets = seg.groupBy(*kcols, F.col("_flow"), j_of.alias("_j")).agg(
        F.min(F.col(ts_col)).alias("_bkt_start_ts"),
        F.max(F.col(ts_col)).alias("_bkt_last_ts"),
        *[F.sum(expr).alias(f"_c_{n}") for n, expr in counters.items()],
    )

    w_flow = Window.partitionBy(*kcols, F.col("_flow")).orderBy("_j")
    w_all = w_flow.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_run = w_flow.rowsBetween(Window.unboundedPreceding, 0)
    flows = buckets.select(
        *kcols,
        "_flow",
        "_j",
        F.lead("_j").over(w_flow).alias("_next_j"),
        F.min("_bkt_start_ts").over(w_all).alias("flow_start"),
        F.max("_bkt_last_ts").over(w_all).alias("_last_ts"),
        F.max("_bkt_last_ts").over(w_run).alias("_run_last_ts"),
        *[F.col(f"_c_{n}") for n in cnames],
        *[F.sum(f"_c_{n}").over(w_all).alias(f"_tot_{n}") for n in cnames],
        *[F.sum(F.coalesce(f"_c_{n}", F.lit(0))).over(w_run).alias(f"_run_{n}") for n in cnames],
    ).withColumn("_kill", kill_tick(F.col("_last_ts").cast("timestamp").cast("double")))

    # Each bucket row explodes into its report ticks r: the periodic
    # ticks _j .. min(next bucket - 1, j_max), where j_max is the largest
    # r with T0 + r*RI < kill (strict: the kill tick emits the final),
    # and on the flow's last bucket r = 0, the final report.
    j, r = F.col("_j"), F.col("_r")
    final = r == 0
    if ri is None:  # reports only at flow end: one bucket per flow
        out = flows.withColumn("_r", F.lit(0).cast("long"))
        report_at = F.col("_kill")
    else:
        j_max = F.ceil((F.col("_kill") - F.lit(t0)) / F.lit(float(ri))) - 1
        j_end = F.least(F.col("_next_j") - 1, j_max)  # least skips NULL
        js = F.when(j <= j_end, F.sequence(j, j_end)).otherwise(F.array().cast("array<long>"))
        ticks = F.when(F.col("_next_j").isNull(), F.concat(js, F.array(F.lit(0).cast("long"))))
        out = flows.select("*", F.explode(ticks.otherwise(js)).alias("_r"))
        report_at = F.when(final, F.col("_kill")).otherwise(F.lit(t0) + r.cast("double") * F.lit(float(ri)))

    def counter(n: str) -> Column:
        # a bucket's sum is coalesced to 0 before it enters a periodic or
        # delta value; the final totals stay SUM over the flow's buckets
        c, tot = F.coalesce(f"_c_{n}", F.lit(0)), F.col(f"_tot_{n}")
        if not delta or ri is None:
            return F.when(final, tot).otherwise(F.col(f"_run_{n}"))
        # delta: each tick reports its own bucket; the final report adds
        # what no periodic one did, the last bucket's counts when it lies
        # past j_max
        return F.when(
            final, F.when(tot.isNotNull(), F.when(j > j_max, c).otherwise(0))
        ).otherwise(F.when(r == j, c).otherwise(0))

    flow_end = F.when(final, F.col("_last_ts")).otherwise(F.col("_run_last_ts"))
    fs = F.col("flow_start").cast("timestamp").cast("double")
    fe = flow_end.cast("timestamp").cast("double")
    return out.select(
        *kcols,
        F.col("_flow").alias("flow_idx"),
        F.timestamp_seconds(report_at).alias("report_ts"),
        "flow_start",
        flow_end.alias("flow_end"),
        (fe - fs).alias("duration_s"),
        final.alias("final"),
        *[counter(n).alias(n) for n in cnames],
    )


def flow_ecs_events(
    df: DataFrame,
    keys: list[str],
    forward: Column,
    bytes_expr: Column,
    flow_id: Column | None = None,
    **kw,
) -> DataFrame:
    """createEvent's ECS event shape (packetbeat/flows/worker.go:305-400,
    asserted by worker_test.go TestCreateEvent) over flow_reports:
    per-direction byte/packet counters (forward = source, reverse =
    destination), network totals = source + destination, event.type
    ["connection"] with "end" appended on the final report, flow.final,
    event.start/end/duration, and a serialized flow.id.

    `flow_id`: pass beats_spark.flowid.flow_id_column(...) when the key
    is a real network tuple to get the reference's byte-compatible
    Serialize() id (the keys must functionally determine its inputs —
    it is evaluated per event and rides as an extra grouping key with
    one distinct value per group). Default: base64 of the NUL-joined
    key tuple (the transcripts analog).

    For transcripts the biflow directions are the conversation's two
    speakers: pass e.g. forward=(role == 'user')."""
    cnt = {
        "source_packets": F.when(forward, 1).otherwise(0),
        "source_bytes": F.when(forward, bytes_expr).otherwise(0),
        "destination_packets": F.when(forward, 0).otherwise(1),
        "destination_bytes": F.when(forward, 0).otherwise(bytes_expr),
    }
    if flow_id is not None:
        # functionally determined by the keys → safe as an extra
        # grouping key (one distinct value per group)
        df = df.withColumn("_flow_id", flow_id)
    rep = flow_reports(
        df, keys + (["_flow_id"] if flow_id is not None else []), counters=cnt, **kw
    )
    id_expr = (
        F.col("_flow_id")
        if flow_id is not None
        else F.base64(
            F.to_binary(
                F.concat_ws("\x00", *[F.col(k).cast("string") for k in keys]),
                F.lit("utf-8"),
            )
        )
    )
    return rep.select(
        id_expr.alias("flow_id"),
        *[F.col(k) for k in keys],
        "flow_idx",
        F.col("report_ts").alias("timestamp"),
        F.col("flow_start").alias("event_start"),
        F.col("flow_end").alias("event_end"),
        F.col("duration_s").alias("event_duration_s"),
        F.when(F.col("final"), F.array(F.lit("connection"), F.lit("end")))
        .otherwise(F.array(F.lit("connection")))
        .alias("event_type"),
        F.lit("flow").alias("event_dataset"),
        F.lit("event").alias("event_kind"),
        F.array(F.lit("network")).alias("event_category"),
        F.lit("network_flow").alias("event_action"),
        F.col("final").alias("flow_final"),
        "source_packets",
        "source_bytes",
        "destination_packets",
        "destination_bytes",
        (F.col("source_packets") + F.col("destination_packets")).alias("network_packets"),
        (F.col("source_bytes") + F.col("destination_bytes")).alias("network_bytes"),
    )
