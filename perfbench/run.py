"""Benchmark of the checkpointed parse → enrich → route → aggregate run.

    python3 perfbench/run.py --workload {fanout,resume,stateful} --seed N \\
        --seconds S --trace {0,1} [--turns N]

Run from the repository root; everything a run writes lives under
`.bench_work/` there and is removed when it ends. One run, in one driver
process and one local[k] Spark session (k = min(4, nproc)):

  set-up      session start, then the seeded transcripts table generated
              and materialised SETUP_REPEATS times (setup_s = session
              start + median generation)
  cold pass   the workload's first pass in the fresh session
  settling    SETTLE_PASSES more passes, untimed
  warm passes closed loop, one pass at a time, for --seconds and at
              least MIN_PASSES passes
  check       the last pass's outputs against a DuckDB recomputation,
              outside the timed region
  clean-up    the JVM stopped, and every process the run started (the
              JVM's Python workers too) waited for before the result
              is printed

BENCHMARK.json lists fanout and stateful; resume runs the same way on
request. With --trace 0 the last stdout line carries the end-to-end
metrics. With
--trace 1 the warm passes take half of --seconds; the session is then
restarted with Spark's event log on and the other half runs traced passes:
noop-sink passes over growing prefixes of the pipeline (scan, +dissect,
+enrich, +route) for self times by differencing, and full passes whose
layer calls are timed and label their Spark jobs. The last line then
carries the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

TURNS = 150_000  # input turns (one per generated event)
FILES = 16  # parquet files in the transcripts table
CORES = min(4, len(os.sched_getaffinity(0)))
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
SETUP_REPEATS = 3
SETTLE_PASSES = 1  # untimed warm passes after the cold one: the JIT still speeds up the next pass
MIN_PASSES = 3  # timed warm passes run even when --seconds is spent sooner
MIN_TRACED = 2

END_TO_END = {
    "setup_s": "s",
    "cold_job_s": "s",
    "job_s": "s",
    "turns_per_s": "turns/s",
    "peak_rss_mb": "MB",
}
# reported beside END_TO_END in the human-readable lines; always 0 when
# the run is correct, so they are carried by `correct`/`failed` instead
CORRECTNESS = {"oracle_mismatch_rows": "rows", "failed_ratio": "ratio"}

SINKS = ["sink_dead_letter", "sink_tool_events", "sink_agent_tool_calls", "sink_long_tail", "sink_main"]
PER_LAYER = {
    "session.start_s": "s",
    "synth.generate_s": "s",
    "synth.rows": "rows",
    "synth.bytes": "bytes",
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "sources.scan_tasks": "tasks",
    "dissect.self_s": "s",
    "dissect.rows_in": "rows",
    "dissect.parse_ok_ratio": "ratio",
    "enrich.self_s": "s",
    "enrich.default_rows": "rows",
    "routing.self_s": "s",
    "routing.rows_dropped": "rows",
    **{f"routing.rows.{s}": "rows" for s in SINKS},
    "routing.dead_letter_ratio": "ratio",
    "checkpoint.run_s": "s",
    "checkpoint.write_jobs": "jobs",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "files",
    "checkpoint.partitions_computed": "partitions",
    "checkpoint.partitions_skipped": "partitions",
    "checkpoint.post_write_s": "s",
    "checkpoint.rows_scanned_per_row_written": "ratio",
    "aggregates.events_per_conv_s": "s",
    "aggregates.events_per_tool_s": "s",
    "aggregates.session_flows_s": "s",
    "aggregates.flow_reports_s": "s",
    "aggregates.rows_out": "rows",
    "stateful.rate_limit_s": "s",
    "stateful.rate_limit_kept_ratio": "ratio",
    "stateful.multiline_count_s": "s",
    "spark.tasks": "tasks",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.task_p99_s": "s",
    "spark.task_skew": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


def jvm_scratch_opts(work: Path) -> str:
    """JVM options that keep its scratch files inside the run's directory."""
    return f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def spark_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap size keeps peak RSS from following the collector's
        # resizing choices
        "spark.driver.extraJavaOptions": f"{jvm_scratch_opts(work)} -Xms{DRIVER_MEMORY}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",  # off in untraced sessions, whatever the defaults say
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


class Passes:
    """Runs one workload's passes and counts attempts and failures."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.last: dict = {}

    def run(self, span) -> float | None:
        """One pass; its wall time, or None when it failed."""
        self.wl.reset()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.last = self.wl.run(span)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        return time.perf_counter() - t0

    def loop(self, span, seconds: float, minimum: int) -> list[float]:
        """Closed loop: passes one after another for `seconds`, at least
        `minimum` of them; the wall times of those that succeeded."""
        walls, n, end = [], 0, time.perf_counter() + seconds
        while n < minimum or time.perf_counter() < end:
            dt = self.run(span)
            n += 1
            if dt is not None:
                walls.append(dt)
        return walls


def start_session(work: Path, event_log: Path | None = None):
    from beats_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=spark_conf(work, event_log),
    )


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    process whose parent ends first (Spark's Python worker daemon outlives
    the JVM for a moment) is re-parented here, not to init, and can be
    waited for."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(grace: float = 30.0) -> None:
    """Return once no process this run started is left: reap those that
    have ended, kill those still running after `grace` seconds."""
    import tracing

    me, deadline = os.getpid(), time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = tracing.descendants(me)
        if not left:
            return
        if time.monotonic() > deadline + grace:
            raise RuntimeError(f"processes {left} did not end")
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def bench(args, work: Path) -> tuple[dict, dict, dict, bool]:
    """Returns (end-to-end metrics, per-layer metrics, context, correct)."""
    import gen
    import tracing
    from oracle import Oracle
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t0
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            table = gen.materialize(spark, str(work / "input"), args.turns, args.seed, FILES)
            gen_s.append(time.perf_counter() - t0)
        files, nbytes = gen.table_stats(table)
        oracle = Oracle(table)
        wl = WORKLOADS[args.workload](spark, table, str(work / "out"))
        wl.prepare(oracle)

        passes = Passes(wl)
        untraced = tracing.Untraced()
        with tracing.RssPeak() as rss:
            cold = passes.run(untraced.span)
            for _ in range(SETTLE_PASSES):
                passes.run(untraced.span)
            warm = passes.loop(untraced.span, args.seconds / 2 if args.trace else args.seconds, MIN_PASSES)
        if cold is None or not warm:
            raise RuntimeError("no pass succeeded")
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "turns": oracle.rows,
            "files": files,
            "table_bytes": nbytes,
            "master": f"local[{CORES}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "session_s": session_s,
            "generate_s": gen_s,
            "warm_s": warm,
        }
        e2e = {
            "setup_s": session_s + tracing.median(gen_s),
            "cold_job_s": cold,
            "job_s": tracing.median(warm),
            "turns_per_s": oracle.rows / tracing.median(warm),
            "peak_rss_mb": rss.peak / 1e6,
        }
        if args.trace:
            spark.stop()  # the JVM stays up, so the traced session starts warm
            log_dir = work / "eventlog"
            spark = wl.spark = start_session(work, log_dir)
            tracer = tracing.Tracer(spark.sparkContext)
            traced, n, end = [], 0, time.perf_counter() + args.seconds / 2
            runs = []
            while n < MIN_TRACED or time.perf_counter() < end:
                tracer.pass_id = f"p{n}"
                for layer, df in wl.prefixes():
                    with tracer.span(layer):
                        df.write.format("noop").mode("overwrite").save()
                tracer.pass_id = f"t{n}"
                dt = passes.run(tracer.span)
                if dt is not None:
                    traced.append(dt)
                    runs.append(passes.last)
                n += 1
            if not traced:
                raise RuntimeError("no traced pass succeeded")
            tracer.pass_id = "stats"
            with tracer.span("stats"):
                counts = layer_counts(wl)
        t0 = time.perf_counter()
        mismatch = wl.check(oracle)
        context["check_s"] = time.perf_counter() - t0
        oracle.close()
    finally:
        stop_jvm(spark)

    if args.trace:
        tasks = tracing.read_event_log(str(log_dir))
        layers = per_layer(
            wl, tracer, tasks, runs, counts, traced, warm,
            setup={"session.start_s": session_s, "synth.generate_s": tracing.median(gen_s),
                   "synth.rows": oracle.rows, "synth.bytes": nbytes},
        )
    context["oracle_mismatch_rows"] = mismatch
    context["failed_ratio"] = passes.failed / passes.attempted
    context["attempted"] = passes.attempted
    context["failed"] = passes.failed
    context["cpu_calibration"] = tracing.cpu_calibration(CORES)
    return e2e, layers if args.trace else {}, context, mismatch == 0 and passes.failed == 0


def layer_counts(wl) -> dict:
    """Row counts at the parse and enrich boundaries, from one query over
    the same input the pass's parse layer sees."""
    from pyspark.sql import functions as F

    from beats_spark.pipeline import parse_enrich

    if wl.name == "stateful":
        return {}
    enriched = parse_enrich(wl.scan(), wl.spark)
    defaulted = (F.col("team") == "unknown") | ((F.col("tool_kind") == "none") & (F.col("tool") != ""))
    row = enriched.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("level").isNotNull().cast("long")).alias("parsed"),
        F.sum(defaulted.cast("long")).alias("defaulted"),
    ).first()
    return row.asDict()


def per_layer(wl, tracer, tasks, runs, counts, traced, warm, setup) -> dict:
    import tracing
    from workloads import CHECKPOINT_PARTITIONS

    med = tracing.median
    m = dict.fromkeys(PER_LAYER, 0.0)  # layers the workload does not call stay 0
    m.update(setup)
    scans = tracing.by_pass(tasks, "p", "sources.scan")
    m["sources.scan_s"] = med(tracer.seconds("sources.scan", "p"))
    m["sources.bytes_read"] = med(sum(t["bytes_in"] for t in ts) for ts in scans.values())
    m["sources.scan_tasks"] = med(len(ts) for ts in scans.values())

    def layer_s(layer: str) -> float:
        return med(tracer.seconds(layer, "t"))

    def records_out(layer: str) -> list[int]:
        return [sum(t["records_out"] for t in ts) for ts in tracing.by_pass(tasks, "t", layer).values()]

    if counts:  # fanout / resume: the parse → route → checkpoint path
        pre = {layer: med(tracer.seconds(layer, "p")) for layer in ("sources.scan", "dissect", "processors.enrich", "routing")}
        m["dissect.self_s"] = pre["dissect"] - pre["sources.scan"]
        m["enrich.self_s"] = pre["processors.enrich"] - pre["dissect"]
        m["routing.self_s"] = pre["routing"] - pre["processors.enrich"]
        m["dissect.rows_in"] = counts["rows"]
        m["dissect.parse_ok_ratio"] = counts["parsed"] / counts["rows"]
        m["enrich.default_rows"] = counts["defaulted"]
        manifests = runs[-1]["manifests"]
        per_sink = {s: sum(mf["rows_per_sink"].get(s, 0) for mf in manifests) for s in SINKS}
        written = sum(per_sink.values())
        m["routing.rows_dropped"] = counts["rows"] - written
        for s, n in per_sink.items():
            m[f"routing.rows.{s}"] = n
        m["routing.dead_letter_ratio"] = per_sink["sink_dead_letter"] / written
        m["checkpoint.run_s"] = layer_s("checkpoint.run")
        m["checkpoint.write_jobs"] = runs[-1]["write_jobs"]
        m["checkpoint.bytes_written"] = sum(mf["bytes"] for mf in manifests)
        m["checkpoint.files_written"] = sum(
            len([f for f in fs if f.endswith(".parquet")])
            for mf in manifests
            for _, _, fs in os.walk(os.path.join(wl.out_dir, "sinks", f"_part={mf['partition']}"))
        )
        m["checkpoint.partitions_computed"] = len(manifests)
        m["checkpoint.partitions_skipped"] = CHECKPOINT_PARTITIONS - len(manifests)
        run_s = tracer.seconds("checkpoint.run", "t")
        m["checkpoint.post_write_s"] = med(
            r - sum(mf["wall_ms"] for mf in run["manifests"]) / 1e3 for r, run in zip(run_s, runs)
        )
        m["checkpoint.rows_scanned_per_row_written"] = med(scanned_per_written(ts) for ts in tracing.by_pass(tasks, "t", "checkpoint.run").values())
        m["aggregates.events_per_conv_s"] = layer_s("aggregates.events_per_conv")
        m["aggregates.events_per_tool_s"] = layer_s("aggregates.events_per_tool")
        aggs = ("aggregates.events_per_conv", "aggregates.events_per_tool")
    else:  # stateful
        m["aggregates.session_flows_s"] = layer_s("aggregates.session_flows")
        m["aggregates.flow_reports_s"] = layer_s("aggregates.flow_reports")
        m["stateful.rate_limit_s"] = layer_s("stateful.rate_limit")
        m["stateful.multiline_count_s"] = layer_s("stateful.multiline_count")
        m["stateful.rate_limit_kept_ratio"] = med(records_out("stateful.rate_limit")) / setup["synth.rows"]
        aggs = ("aggregates.session_flows", "aggregates.flow_reports")
    m["aggregates.rows_out"] = med(map(sum, zip(*(records_out(a) for a in aggs))))
    m.update(tracing.spark_metrics(tracing.by_pass(tasks, "t")))
    m["trace.overhead_s"] = med(traced) - med(warm)
    return m


def scanned_per_written(tasks: list[dict]) -> float:
    """Input rows read by the checkpoint's write stages per row written."""
    stages: dict[int, list[int]] = {}
    for t in tasks:
        s = stages.setdefault(t["stage"], [0, 0])
        s[0] += t["records_in"]
        s[1] += t["records_out"]
    read = sum(r for r, w in stages.values() if w > 0)
    written = sum(w for _, w in stages.values())
    return read / written if written else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["fanout", "resume", "stateful"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--turns", type=int, default=TURNS, help="input size (default %(default)s)")
    args = ap.parse_args(argv)
    if not (ROOT / "beats_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no beats_spark sources under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    # before pyspark is imported: its gateway and the package zip use TMPDIR
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_scratch_opts(work)  # spark-submit's launcher JVM
    sys.dont_write_bytecode = True
    sys.path[:0] = [str(ROOT), str(HERE)]
    adopt_orphans()
    try:
        e2e, layers, context, correct = bench(args, work)
    finally:
        reap_descendants()
        shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps(context))
    for name, unit in {**END_TO_END, **CORRECTNESS}.items():
        print(f"{name} = {e2e.get(name, context.get(name))} {unit}")
    metrics, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    result = {
        "correct": correct,
        "attempted": context["attempted"],
        "failed": context["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
