"""Replay parity for the packetbeat flows worker loop.

The oracle here is an independent pure-Python discrete-event simulation
of packetbeat/flows/worker.go (makeWorker:196-231, flowsProcessor.
execute:244-295, createEvent:305-400): tick = gcd(timeout, period),
aligned start, timeout kills at check ticks (strict >), periodic
cumulative or delta (enableDeltaFlowReporting) reports, one final
report when a kill coincides with a report tick.  flow_reports() must
emit exactly the same report set for the same arrival times.

Also ports worker_test.go TestCreateEvent's event-shape assertions
(source/destination split, network totals, event.type/final, delta
reset) onto flow_ecs_events, with the conversation's two speakers as
the biflow directions.
"""
from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F

from beats_spark.aggregates import FlowConfigError, flow_ecs_events, flow_reports


# -- the worker.go simulator --------------------------------------------------


def simulate(events, timeout, period, align=10, t0=None, delta=False):
    """events: list of (key, ts_float, counter_dict). Returns a set of
    (key, report_ts, start, end, final, (counter items...)) tuples."""
    tick = math.gcd(timeout, period) if period > 0 else timeout
    tick = max(tick, 1)
    ticks_timeout = max(1, timeout // tick)
    ticks_period = max(1, period // tick) if period > 0 else None

    if t0 is None:
        t0 = math.ceil(min(ts for _, ts, _ in events) / align) * align

    evs = sorted(events, key=lambda kv: kv[1])
    cnames = sorted({n for _, _, c in events for n in c})
    table: dict = {}  # key -> flow state
    out = []
    i, k = 0, 0
    while i < len(evs) or table:
        k += 1
        c = t0 + k * tick
        # packets with ts <= c are in the table before the tick handler runs
        while i < len(evs) and evs[i][1] <= c:
            key, ts, cnt = evs[i]
            i += 1
            fl = table.get(key)
            if fl is None:
                fl = {"start": ts, "last": ts,
                      "cur": dict.fromkeys(cnames, 0),
                      "tot": dict.fromkeys(cnames, 0)}
                table[key] = fl
            fl["last"] = ts
            for n, v in cnt.items():
                fl["cur"][n] += v
                fl["tot"][n] += v
        handle_timeout = k % ticks_timeout == 0
        handle_reports = ticks_period is not None and k % ticks_period == 0
        if not (handle_timeout or handle_reports):
            continue
        for key in list(table):
            fl = table[key]
            report, over = handle_reports, False
            if handle_timeout and c - fl["last"] > timeout:
                report, over = True, True
                del table[key]
            if report:
                vals = fl["cur"] if delta else fl["tot"]
                out.append((key, float(c), fl["start"], fl["last"], over,
                            tuple(vals[n] for n in cnames)))
                if delta:
                    fl["cur"] = dict.fromkeys(cnames, 0)
    return set(out)


def _mk_events(seed, n_keys=6, n_events=160, span=900):
    """Bursty per-key streams with gaps straddling the timeout boundary,
    ts on a 0.25s lattice (exact in doubles), some exactly on ticks."""
    rng = np.random.RandomState(seed)
    base = 1_700_000_000
    out = []
    for ki in range(n_keys):
        t = base + float(rng.randint(0, 40))
        for _ in range(n_events // n_keys):
            # mixture of short intra-burst gaps and long idle gaps
            if rng.rand() < 0.25:
                t += float(rng.randint(20, 140))  # straddles timeouts
            else:
                t += float(rng.randint(1, 30)) * 0.25
            if rng.rand() < 0.15:
                t = math.ceil(t / 10) * 10.0  # land exactly on the grid
            out.append((f"k{ki}", t, {"packets": 1, "bytes": int(rng.randint(1, 50))}))
    return [e for e in out if e[1] < base + span]


def _spark_rows(spark, events, **kw):
    df = spark.createDataFrame(
        [(k, ts, c["bytes"]) for k, ts, c in events], "key string, tsd double, b int"
    ).select("key", F.timestamp_seconds("tsd").alias("ts"), "b")
    rep = flow_reports(
        df, ["key"],
        counters={"bytes": F.col("b"), "packets": F.lit(1)},
        **kw,
    )
    rows = rep.collect()
    # flow_idx numbers each key's flows 1, 2, ... in start order
    starts: dict = {}
    for r in rows:
        starts.setdefault(r["key"], {})[r["flow_idx"]] = r["flow_start"]
    for by_idx in starts.values():
        assert sorted(by_idx) == list(range(1, len(by_idx) + 1))
        assert [by_idx[i] for i in sorted(by_idx)] == sorted(by_idx.values())
    return {
        (
            r["key"],
            r["report_ts"].timestamp(),
            round(r["flow_start"].timestamp(), 4),
            round(r["flow_end"].timestamp(), 4),
            r["final"],
            (r["bytes"], r["packets"]),
        )
        for r in rows
    }


CONFIGS = [
    dict(timeout_seconds=60, period_seconds=10, delta=False),
    dict(timeout_seconds=60, period_seconds=10, delta=True),
    dict(timeout_seconds=50, period_seconds=20, delta=False),   # tick=10, TO=5, P=2
    dict(timeout_seconds=50, period_seconds=20, delta=True),
    dict(timeout_seconds=30, period_seconds=0, delta=False),    # final-only
    dict(timeout_seconds=7, period_seconds=3, delta=False),     # tick=1
]


@pytest.mark.parametrize("cfg", CONFIGS, ids=lambda c: f"to{c['timeout_seconds']}_p{c['period_seconds']}_{'d' if c['delta'] else 'c'}")
@pytest.mark.parametrize("seed", [0, 1])
def test_flow_reports_match_worker_simulation(spark, cfg, seed):
    events = _mk_events(seed)
    sim = {
        (k, ts, round(s, 4), round(last, 4), over, vals)
        for (k, ts, s, last, over, vals) in simulate(
            events,
            cfg["timeout_seconds"],
            cfg["period_seconds"],
            delta=cfg["delta"],
        )
    }
    got = _spark_rows(spark, events, **cfg)
    assert got == sim


def test_flow_reports_survives_gap_between_checks(spark):
    """The kill grid matters: an idle gap longer than the timeout does
    NOT split the flow if the next event lands before the next check
    tick (worker.go:275-281) — a plain session window would split."""
    base = 1_700_000_000.0
    # t0 aligns to base; checks at base+60, base+120, ... (timeout=60,
    # period=0 → tick=60).  Idle 61s < next check → same flow.
    events = [
        ("k", base + 50.0, {"packets": 1}),
        ("k", base + 111.0, {"packets": 1}),  # gap 61 > timeout, but check at 120
        ("k", base + 115.0, {"packets": 1}),
    ]
    got = _spark_rows(
        spark,
        [(k, t, {"packets": 1, "bytes": 1}) for k, t, _ in events],
        timeout_seconds=60,
        period_seconds=0,
        t0_epoch=int(base),
    )
    finals = [r for r in got if r[4]]
    assert len(finals) == 1 and len(got) == 1  # one flow, one final report
    assert finals[0][2] == round(base + 50.0, 4)  # createTS survives the gap
    sim = simulate(events, 60, 0, t0=int(base))
    assert {(k, ts, round(s, 4), round(l, 4), o) for k, ts, s, l, o, _ in sim} == {
        (k, ts, s, l, o) for k, ts, s, l, o, _ in got
    }


def _flow_reports_stream(df, keys, **kw):
    from beats_spark.streaming.flows import flow_reports_stream

    return flow_reports_stream(df, keys, t0_epoch=0, **kw)


@pytest.mark.parametrize("cfg", [
    dict(timeout_seconds=0),                      # ErrInvalidTimeout
    dict(timeout_seconds=60, period_seconds=0.5),  # ErrInvalidPeriod
], ids=["timeout0", "period0.5"])
@pytest.mark.parametrize("fn", [flow_reports, _flow_reports_stream], ids=["batch", "stream"])
def test_flow_config_errors(fn, cfg):
    """ErrInvalidTimeout / ErrInvalidPeriod (flows.go): both twins share
    one tick grid, and validation fires before any plan is built (df
    untouched)."""
    with pytest.raises(FlowConfigError):
        fn(None, ["k"], **cfg)


@pytest.mark.parametrize("delta", [False, True], ids=["cumulative", "delta"])
def test_flow_reports_null_counter_buckets(spark, delta):
    """A bucket whose counter values are all NULL enters periodic and
    delta values as 0; the final totals are SUM over the flow's buckets
    (NULL only when every value of the flow is NULL)."""
    base = 1_700_000_000
    df = spark.createDataFrame(
        [("k", base + 1.0, None), ("k", base + 25.0, 5), ("k", base + 33.0, None),
         ("k", base + 55.0, None),
         ("n", base + 2.0, None), ("n", base + 14.0, None)],
        "key string, tsd double, b long",
    ).select("key", F.timestamp_seconds("tsd").alias("ts"), "b")
    rows = flow_reports(
        df, ["key"], timeout_seconds=60, period_seconds=10, t0_epoch=base,
        delta=delta, counters={"bytes": F.col("b")},
    ).collect()

    def series(key):
        got = sorted(
            (r["report_ts"].timestamp() - base, r["final"], r["bytes"])
            for r in rows if r["key"] == key
        )
        return [(t, v) for t, fin, v in got if not fin], [v for *_, fin, v in got if fin]

    # k: last event at +55 → killed at the +120 check; reports at +10..+110
    periodic, final = series("k")
    assert [t for t, _ in periodic] == [10.0 * i for i in range(1, 12)]
    if delta:
        assert [v for _, v in periodic] == [0, 0, 5] + [0] * 8 and final == [0]
    else:
        assert [v for _, v in periodic] == [0, 0] + [5] * 9 and final == [5]
    # n: every value NULL → periodic 0, final NULL
    periodic, final = series("n")
    assert {v for _, v in periodic} == {0} and final == [None]


def test_flow_ecs_event_shape(spark):
    """worker_test.go TestCreateEvent: source/destination counter split,
    network totals = src+dst, event.type ['connection','end'] + final on
    the kill report, duration = end - start; delta mode resets counters
    between reports while start stays (the biFlow-stats-reset block)."""
    base = 1_700_000_000.0
    rows = [
        ("c1", 0, "user", "x" * 10, base + 1.0),
        ("c1", 1, "assistant", "y" * 460, base + 4.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tsd double"
    ).select("conv_id", "turn_idx", "role", "text", F.timestamp_seconds("tsd").alias("ts"))

    ev = flow_ecs_events(
        df,
        ["conv_id"],
        forward=F.col("role") == "user",
        bytes_expr=F.length("text"),
        timeout_seconds=60,
        period_seconds=0,
        t0_epoch=int(base),
    ).collect()
    assert len(ev) == 1
    r = ev[0]
    assert r["source_packets"] == 1 and r["source_bytes"] == 10
    assert r["destination_packets"] == 1 and r["destination_bytes"] == 460
    assert r["network_packets"] == 2 and r["network_bytes"] == 470
    assert r["event_type"] == ["connection", "end"] and r["flow_final"]
    assert r["event_dataset"] == "flow" and r["event_action"] == "network_flow"
    assert r["event_category"] == ["network"]
    assert r["event_duration_s"] == pytest.approx(3.0)
    assert r["event_start"].timestamp() == pytest.approx(base + 1.0)
    assert r["event_end"].timestamp() == pytest.approx(base + 4.0)
    assert r["flow_id"]  # serialized key present

    # delta reset: two periodic reports, second sees only its own window
    df2 = spark.createDataFrame(
        [("c2", 0, "user", "z" * 7, base + 1.0), ("c2", 1, "user", "z" * 9, base + 11.0)],
        "conv_id string, turn_idx int, role string, text string, tsd double",
    ).select("conv_id", "role", "text", F.timestamp_seconds("tsd").alias("ts"))
    reps = (
        flow_ecs_events(
            df2,
            ["conv_id"],
            forward=F.col("role") == "user",
            bytes_expr=F.length("text"),
            timeout_seconds=60,
            period_seconds=10,
            delta=True,
            t0_epoch=int(base),
        )
        .orderBy("timestamp")
        .collect()
    )
    per = [r for r in reps if not r["flow_final"]]
    assert per[0]["source_bytes"] == 7  # first window
    assert per[1]["source_bytes"] == 9  # reset happened, not 16
    assert per[0]["event_start"] == per[1]["event_start"]  # start is cumulative
    fin = [r for r in reps if r["flow_final"]]
    assert len(fin) == 1 and sum(r["source_bytes"] for r in reps) == 16


def test_flow_reports_stream_matches_batch(spark, tmp_path):
    """LIVE streaming flows worker (applyInPandasWithState +
    EventTimeTimeout): the watermark-driven incremental simulation emits
    exactly the batch replay's rows. Three availableNow runs over one
    checkpoint; sentinel keys push the watermark past every kill tick
    (timers fire for idle keys — B's final report arrives with no new B
    data). Afterwards the dead keys hold NO state-store rows."""
    import os

    from beats_spark.streaming.flows import flow_reports_stream

    base = 1_700_000_000  # multiple of 10 — the aligned t0
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    schema = "key string, ts timestamp"

    def write_file(rows):
        spark.createDataFrame(rows, "key string, tsd double").select(
            "key", F.timestamp_seconds("tsd").alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(schema).parquet(src).withWatermark("ts", "1 second")
        )
        rep = flow_reports_stream(
            stream, ["key"], t0_epoch=base, timeout_seconds=60, period_seconds=20
        )
        q = (
            rep.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # flows with in-flow gaps, a kill + restart, and grid-exact times
    data = [
        ("A", base + 5.0), ("A", base + 15.0), ("A", base + 25.0),
        ("A", base + 200.0), ("A", base + 210.5),
        ("B", base + 8.0), ("B", base + 130.0),
    ]
    write_file(data)
    run_once()
    write_file([("Z1", base + 10_000.0)])
    run_once()
    write_file([("Z2", base + 20_000.0)])
    run_once()

    got = {
        (
            r["key"],
            r["report_ts"].timestamp(),
            r["flow_start"].timestamp(),
            r["flow_end"].timestamp(),
            r["final"],
            r["packets"],
        )
        for r in spark.read.parquet(out).collect()
        if not r["key"].startswith("Z")
    }

    bdf = spark.createDataFrame(data, "key string, tsd double").select(
        "key", F.timestamp_seconds("tsd").alias("ts")
    )
    from beats_spark.aggregates import flow_reports

    want = {
        (
            r["key"],
            r["report_ts"].timestamp(),
            r["flow_start"].timestamp(),
            r["flow_end"].timestamp(),
            r["final"],
            r["packets"],
        )
        for r in flow_reports(
            bdf, ["key"], timeout_seconds=60, period_seconds=20, t0_epoch=base
        ).collect()
    }
    assert got == want and any(f for *_, f, _ in got)  # finals present

    # dead keys leave no state; the still-alive sentinel flows remain
    state = spark.read.format("statestore").load(ckpt)
    skeys = sorted({r["key"]["key"] for r in state.collect()})
    assert "A" not in skeys and "B" not in skeys, skeys
    assert "Z2" in skeys, skeys


def test_flow_reports_stream_delta_and_counters(spark, tmp_path):
    """Streaming delta mode (enableDeltaFlowReporting) with a custom
    summed counter matches the batch twin row-for-row."""
    import os

    from beats_spark.streaming.flows import flow_reports_stream

    base = 1_700_000_000
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    schema = "key string, ts timestamp, b long"

    def write_file(rows):
        spark.createDataFrame(rows, "key string, tsd double, b long").select(
            "key", F.timestamp_seconds("tsd").alias("ts"), "b"
        ).coalesce(1).write.mode("append").parquet(src)

    def run_once():
        stream = (
            spark.readStream.schema(schema).parquet(src).withWatermark("ts", "1 second")
        )
        rep = flow_reports_stream(
            stream, ["key"], t0_epoch=base, timeout_seconds=60, period_seconds=20,
            delta=True, counters={"packets": None, "bytes": "b"},
        )
        q = (
            rep.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    data = [
        ("A", base + 3.0, 7), ("A", base + 27.0, 11), ("A", base + 41.0, 3),
        ("A", base + 150.0, 5),
        ("B", base + 12.0, 2),
    ]
    write_file(data)
    run_once()
    write_file([("Z1", base + 10_000.0, 1)])
    run_once()
    write_file([("Z2", base + 20_000.0, 1)])
    run_once()

    def rowset(rows):
        return {
            (
                r["key"],
                r["report_ts"].timestamp(),
                r["flow_start"].timestamp(),
                r["flow_end"].timestamp(),
                r["final"],
                r["packets"],
                r["bytes"],
            )
            for r in rows
        }

    got = rowset(
        r for r in spark.read.parquet(out).collect() if not r["key"].startswith("Z")
    )

    from beats_spark.aggregates import flow_reports

    bdf = spark.createDataFrame(data, "key string, tsd double, b long").select(
        "key", F.timestamp_seconds("tsd").alias("ts"), "b"
    )
    want = rowset(
        flow_reports(
            bdf, ["key"], timeout_seconds=60, period_seconds=20, t0_epoch=base,
            delta=True, counters={"packets": F.lit(1), "bytes": F.col("b")},
        ).collect()
    )
    assert got == want
    # delta semantics visible: some periodic report has zero packets
    assert any(p == 0 for *_, f, p, _b in got if not f)
