"""Self-test of the benchmark: every workload once at a tiny input size,
untraced and traced, leaving no process behind, the dissect prefix
against parse_enrich, and the refusal to run without the sources. It
makes six benchmark runs and starts one Spark session of its own, about
five minutes on a 4-vCPU machine, so it is marked slow.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
PRINTED = [m["name"] for m in SPEC["end_to_end"]] + ["oracle_mismatch_rows", "failed_ratio"]

pytestmark = pytest.mark.slow

# per-layer metrics that must be > 0 in a traced run of each workload:
# every figure of a layer the workload calls, except self times (they are
# differences of noisy timings) and counters that may be 0 on a tiny
# input (spill, GC)
CALLED = [
    "session.start_s", "synth.generate_s", "synth.rows", "synth.bytes",
    "sources.scan_s", "sources.bytes_read", "sources.scan_tasks",
    "aggregates.rows_out",
    "spark.tasks", "spark.task_run_s", "spark.task_cpu_s", "spark.task_p99_s", "spark.task_skew",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
]
PIPELINE = [
    "dissect.rows_in", "dissect.parse_ok_ratio",
    "routing.rows_dropped", "routing.dead_letter_ratio", "routing.rows.sink_dead_letter",
    "routing.rows.sink_tool_events", "routing.rows.sink_agent_tool_calls", "routing.rows.sink_main",
    "checkpoint.run_s", "checkpoint.write_jobs", "checkpoint.bytes_written", "checkpoint.files_written",
    "checkpoint.partitions_computed", "checkpoint.post_write_s", "checkpoint.rows_scanned_per_row_written",
    "aggregates.events_per_conv_s", "aggregates.events_per_tool_s",
]
STATEFUL = [
    "stateful.rate_limit_s", "stateful.rate_limit_kept_ratio", "stateful.multiline_count_s",
    "aggregates.session_flows_s", "aggregates.flow_reports_s",
]
POSITIVE = {
    "fanout": CALLED + PIPELINE + ["routing.rows.sink_long_tail"],
    # the resumed partition is never the hot conversation's, so it may
    # hold no turn past the long-tail cut
    "resume": CALLED + PIPELINE + ["checkpoint.partitions_skipped"],
    "stateful": CALLED + STATEFUL,
}
# metrics of layers the workload does not call
ZERO = {
    "fanout": STATEFUL + ["checkpoint.partitions_skipped"],
    "resume": STATEFUL,
    "stateful": PIPELINE + ["routing.rows.sink_long_tail", "checkpoint.partitions_skipped"]
    + ["dissect.self_s", "enrich.self_s", "routing.self_s", "enrich.default_rows"],
}


def session_members(sid: int) -> list[int]:
    """Live processes of session `sid`, from /proc."""
    out = []
    for d in Path("/proc").iterdir():
        try:
            stat = (d / "stat").read_text()
        except (OSError, ValueError):
            continue
        if d.name.isdigit() and int(stat[stat.rindex(")") + 2 :].split()[3]) == sid:
            out.append(int(d.name))
    return out


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    """One benchmark run in a session of its own; asserts that no process
    of that session outlives it."""
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--turns", "10000"]
    with subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          start_new_session=True) as p:
        out, err = p.communicate(timeout=600)
    assert session_members(p.pid) == [], "processes left running after the run"
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["fanout", "resume", "stateful"])
def test_workload_emits_every_metric(workload: str, trace: int) -> None:
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 2
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    values = {name: v["value"] for name, v in result["metrics"].items()}
    for name, v in values.items():
        assert isinstance(v, (int, float)), name
    if trace:
        assert [n for n in POSITIVE[workload] if not values[n] > 0] == []
        assert [n for n in ZERO[workload] if values[n] != 0] == []
        assert values["synth.rows"] == 10000
        if workload == "fanout":
            assert values["dissect.rows_in"] == 10000
        elif workload == "resume":  # the parse layer sees only the missing partitions' rows
            assert values["dissect.rows_in"] < 10000
    else:
        assert [n for n, v in values.items() if not v > 0] == []
    printed = dict(line.split(" = ", 1) for line in lines[:-1] if " = " in line and not line.startswith("#"))
    assert set(PRINTED) <= printed.keys()
    assert printed["oracle_mismatch_rows"] == "0 rows"
    assert printed["failed_ratio"] == "0.0 ratio"


def test_dissect_prefix_is_parse_enrich_without_its_joins(tmp_path: Path) -> None:
    """dissect.self_s and enrich.self_s difference dissect_prefix against
    parse_enrich; the prefix must be the program's parse with only the
    enrich joins taken out."""
    sys.path[:0] = [str(ROOT), str(HERE)]
    import gen
    from beats_spark import synth
    from beats_spark.pipeline import parse_enrich
    from beats_spark.session import get_spark
    from beats_spark.sources import read_transcripts
    from workloads import dissect_prefix

    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    try:
        scan = read_transcripts(spark, gen.materialize(spark, str(tmp_path), 1000, 3, 2))
        full, prefix = parse_enrich(scan, spark), dissect_prefix(scan, spark)

        def joins(df) -> int:
            return len(re.findall(r"\bJoin\b", df._jdf.queryExecution().optimizedPlan().toString()))

        lookups = [synth.lookup_role(spark), synth.lookup_tool(spark)]
        looked_up = {c for lk in lookups for c in lk.columns} - set(scan.columns)
        assert joins(full) == len(lookups) and joins(prefix) == 0
        assert set(full.columns) - looked_up == set(prefix.columns)  # a join puts its keys first
        assert prefix.count() == full.count() == scan.count()
    finally:
        spark.stop()


def test_fails_without_the_program(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run(tmp_path, "fanout", 0)
    assert p.returncode != 0
    assert not p.stdout.strip()
