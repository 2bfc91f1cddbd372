"""Streaming flows worker — the packetbeat report loop on the state store.

The batch twin (beats_spark.aggregates.flow_reports) replays
packetbeat/flows/worker.go's tick loop declaratively. This is the LIVE
version: the same tick-grid simulation run incrementally per key inside
applyInPandasWithState, with the event-time watermark as the clock.
A tick t0 + k*tick is processed once the watermark passes it — at that
point every event with ts <= tick has arrived (the stream's lateness
contract), so the kill/report decisions are exactly the batch replay's.

Semantics (worker.go:196-295, identical to the batch twin):
  * tick = gcd(timeout, period) clamped to >= 1 s; timeout kills every
    ticksTimeout ticks (strict c - last > timeout), periodic reports
    every ticksPeriod ticks (cumulative, or delta with counter reset);
  * events with ts <= tick are in the table before the tick's handlers
    run; a kill coinciding with a report tick emits ONE final report;
  * t0 must be given explicitly (a stream has no min(ts)).

State per key: the open flow (start/last as exact ns ints, counter
totals) plus tick-bucketed partials for events beyond the processed
clock — bounded by flow activity within the allowed lateness, and
removed entirely once the flow dies with no pending buckets (no
unbounded growth; the rate_limit r4 lesson applied from day one).
EventTimeTimeout timers re-wake idle keys so a flow's final report is
emitted when the watermark passes its kill tick even if the key never
sees another event.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..aggregates import _grid


class _KeyFlowSim:
    """One key's incremental worker-loop simulation.

    Buckets hold per-tick partials for events the clock has not absorbed
    yet: {k: [min_ns, max_ns, cnt...]}. The open flow is
    [start_ns, last_ns, cur..., tot...] (cur = since last report, for
    delta mode). All decisions are made in the batch twin's arithmetic:
    microseconds / 1e6 doubles against integer-second grids."""

    def __init__(self, t0: int, tick: int, ticks_to: int, ticks_p: int,
                 timeout: int, delta: bool, n_counters: int, state_json: str | None):
        self.t0, self.tick = t0, tick
        self.ticks_to, self.ticks_p = ticks_to, ticks_p
        self.timeout, self.delta = timeout, delta
        self.nc = n_counters
        if state_json:
            d = json.loads(state_json)
            self.clock = d["clock"]
            self.flow = d["flow"]
            self.buckets = {int(k): v for k, v in d["buckets"].items()}
        else:
            self.clock = 0
            self.flow = None
            self.buckets = {}

    def dumps(self) -> str:
        return json.dumps({"clock": self.clock, "flow": self.flow, "buckets": self.buckets})

    @property
    def empty(self) -> bool:
        return self.flow is None and not self.buckets

    def add_event(self, ns: int, cvals: list[int]) -> None:
        sec = (ns // 1000) / 1e6
        k = max(1, math.ceil((sec - self.t0) / self.tick))
        if k <= self.clock:
            # beyond the lateness contract the watermark promised —
            # apply at the next unprocessed tick (the reference would
            # have processed the packet whenever it showed up)
            k = self.clock + 1
        b = self.buckets.get(k)
        if b is None:
            self.buckets[k] = [ns, ns] + list(cvals)
        else:
            b[0] = min(b[0], ns)
            b[1] = max(b[1], ns)
            for i, v in enumerate(cvals):
                b[2 + i] += v

    def advance(self, target_k: int, emit) -> None:
        """Run ticks clock+1..target_k; emit(report_sec, start_ns,
        end_ns, final, counters) for each report due."""
        while self.clock < target_k:
            self.clock += 1
            k = self.clock
            c = float(self.t0 + k * self.tick)
            b = self.buckets.pop(k, None)
            if b is not None:
                if self.flow is None:
                    self.flow = [b[0], b[1]] + b[2:] + b[2:]
                else:
                    self.flow[1] = max(self.flow[1], b[1])
                    for i in range(self.nc):
                        self.flow[2 + i] += b[2 + i]          # cur
                        self.flow[2 + self.nc + i] += b[2 + i]  # tot
            handle_timeout = k % self.ticks_to == 0
            handle_reports = self.ticks_p > 0 and k % self.ticks_p == 0
            if self.flow is None or not (handle_timeout or handle_reports):
                continue
            last_sec = (self.flow[1] // 1000) / 1e6
            report, over = handle_reports, False
            if handle_timeout and c - last_sec > self.timeout:
                report, over = True, True
            if report:
                vals = (
                    self.flow[2:2 + self.nc]
                    if self.delta
                    else self.flow[2 + self.nc:2 + 2 * self.nc]
                )
                emit(c, self.flow[0], self.flow[1], over, list(vals))
                if self.delta:
                    self.flow[2:2 + self.nc] = [0] * self.nc
            if over:
                self.flow = None


def flow_reports_stream(
    df: DataFrame,
    keys: list[str],
    t0_epoch: int,
    timeout_seconds: int = 60,
    period_seconds: int = 10,
    ts_col: str = "ts",
    delta: bool = False,
    counters: dict[str, str | None] | None = None,
) -> DataFrame:
    """Streaming flow_reports: same rows as the batch twin, emitted as
    the watermark passes each tick. `counters` maps output name → input
    column to sum (None = count). The input stream must have
    withWatermark(ts_col, ...) for ticks to ever finalize; the output is
    append-mode.

    Scale: one shuffle per micro-batch on `keys` (the state store's
    partitioning); state per key is the open flow + at most
    ceil(lateness/tick) pending tick buckets."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType, LongType, StringType, StructField, StructType, TimestampType,
    )

    if counters is None:
        counters = {"packets": None}
    cnames = list(counters)
    csrcs = [counters[n] for n in cnames]
    tick, ticks_to, ticks_p = _grid(timeout_seconds, period_seconds)
    t0 = int(t0_epoch)
    timeout = int(timeout_seconds)
    dl = bool(delta)
    nc = len(cnames)

    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(
        list(key_fields)
        + [
            StructField("report_ts", TimestampType(), False),
            StructField("flow_start", TimestampType(), False),
            StructField("flow_end", TimestampType(), False),
            StructField("final", BooleanType(), False),
        ]
        + [StructField(n, LongType(), True) for n in cnames]
    )
    state_schema = StructType([StructField("sim", StringType(), True)])

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        sim = _KeyFlowSim(
            t0, tick, ticks_to, ticks_p, timeout, dl, nc,
            state.get[0] if state.exists else None,
        )
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                ns = pdf[ts_col].astype("int64")
                cv = [
                    (pdf[src].astype("int64") if src is not None else None)
                    for src in csrcs
                ]
                for i in range(len(pdf)):
                    sim.add_event(
                        int(ns.iloc[i]),
                        [1 if s is None else int(s.iloc[i]) for s in cv],
                    )
        try:
            wm_sec = state.getCurrentWatermarkMs() / 1000.0
        except Exception:
            wm_sec = -float("inf")
        # process only ticks STRICTLY before the watermark: Spark drops
        # rows with ts < wm, but a row with ts == wm can still arrive —
        # tick c must wait until wm > c so every event with ts <= c is in
        target_k = (
            int(math.ceil((wm_sec - t0) / tick)) - 1 if wm_sec > t0 else 0
        )

        out: list[tuple] = []

        def emit(c, start_ns, end_ns, over, vals):
            out.append(
                key
                + (
                    pd.Timestamp(int(c) * 10**9),
                    pd.Timestamp(start_ns),
                    pd.Timestamp(end_ns),
                    bool(over),
                )
                + tuple(int(v) for v in vals)
            )

        sim.advance(target_k, emit)

        if sim.empty:
            state.remove()
        else:
            state.update((sim.dumps(),))
            # wake when the watermark passes the next tick so idle keys
            # still emit their kill/periodic reports
            state.setTimeoutTimestamp((t0 + (sim.clock + 1) * tick) * 1000)
        if out:
            odf = pd.DataFrame(out, columns=[f.name for f in out_schema.fields])
            for c in ("report_ts", "flow_start", "flow_end"):
                odf[c] = pd.to_datetime(odf[c])
            yield odf

    return df.groupBy(*[df[k] for k in keys]).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
