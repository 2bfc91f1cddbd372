"""Resume fixture (FIXTURES.md §7): kill after partition k, re-run, assert
only remaining partitions are recomputed and final state matches an
uninterrupted run."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from beats_spark.checkpoint import CheckpointedRun
from beats_spark.pipeline import flagship

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def routed(spark):
    return flagship(spark, SF_DIR)


def _collect(df):
    return sorted(
        tuple(r) for r in df.select("conv_id", "turn_idx", "_sink").collect()
    )


def test_kill_and_resume(spark, routed, tmp_path):
    clean_dir, resumed_dir = str(tmp_path / "clean"), str(tmp_path / "resumed")

    clean = CheckpointedRun(clean_dir, n_partitions=8)
    clean.run(routed, input_files=[SF_DIR + "/events.parquet"])
    assert clean.completed_partitions() == set(range(8))

    run = CheckpointedRun(resumed_dir, n_partitions=8)
    with pytest.raises(RuntimeError, match="injected failure"):
        run.run(routed, input_files=[SF_DIR + "/events.parquet"], fail_after=5)
    done_before = run.completed_partitions()
    assert len(done_before) == 5

    mtimes_before = {
        f: os.path.getmtime(os.path.join(run.manifest_dir, f))
        for f in os.listdir(run.manifest_dir)
    }
    manifests = run.run(routed, input_files=[SF_DIR + "/events.parquet"])
    # only the 3 missing partitions were recomputed
    assert len(manifests) == 3
    assert {m["partition"] for m in manifests} == set(range(8)) - done_before
    for f, mt in mtimes_before.items():
        assert os.path.getmtime(os.path.join(run.manifest_dir, f)) == mt, "completed manifest rewritten"

    assert _collect(run.read_output(spark)) == _collect(clean.read_output(spark))


def test_manifest_contents(spark, routed, tmp_path):
    run = CheckpointedRun(str(tmp_path / "m"), n_partitions=4)
    manifests = run.run(routed, input_files=["f1"])
    assert len(manifests) == 4
    total = 0
    for m in manifests:
        assert set(m) >= {"partition", "input_files", "rows_in", "rows_per_sink", "bytes", "wall_ms"}
        assert m["bytes"] > 0 and m["wall_ms"] >= 0
        assert m["rows_in"] == sum(m["rows_per_sink"].values())
        total += m["rows_in"]
    assert total == routed.count()
    # each unit's counts are that unit's rows, not another unit's
    want: dict = {}
    for r in routed.groupBy(F.pmod(F.hash("conv_id"), F.lit(4)).alias("p"), "_sink").count().collect():
        want.setdefault(r["p"], {})[r["_sink"]] = r["count"]
    assert {m["partition"]: m["rows_per_sink"] for m in manifests} == want


def test_torn_manifest_recomputed(spark, routed, tmp_path):
    run = CheckpointedRun(str(tmp_path / "t"), n_partitions=4)
    run.run(routed, input_files=["f1"])
    # corrupt one manifest → that partition must be recomputed
    victim = os.path.join(run.manifest_dir, "part-00002.json")
    with open(victim, "w") as f:
        f.write('{"partition": 2, "rows_in"')  # torn write
    redo = run.run(routed, input_files=["f1"])
    assert [m["partition"] for m in redo] == [2]
    with open(victim) as f:
        assert json.load(f)["rows_in"] > 0


def test_full_run_is_single_write_job(spark, routed, tmp_path):
    """Scale regression (VERDICT round-1 #2): a full run must execute ONE
    write job over the input — not one scan per partition."""
    run = CheckpointedRun(str(tmp_path / "single"), n_partitions=16)
    manifests = run.run(routed, input_files=["f1"])
    assert len(manifests) == 16
    assert run.write_jobs == 1
    # resume with 2 torn manifests: still exactly one (filtered) write job
    for p in (3, 7):
        with open(os.path.join(run.manifest_dir, f"part-{p:05d}.json"), "w") as f:
            f.write("{torn")
    redo = run.run(routed, input_files=["f1"])
    assert sorted(m["partition"] for m in redo) == [3, 7]
    assert run.write_jobs == 1


def test_days_mode_resume_prunes_scan(spark, routed, tmp_path):
    """R3 (VERDICT item 4): day_col units over a day-partitioned input —
    a resume run's filter must reach the scan as a PartitionFilter so
    only the missing days' files are read."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "day_input")
    routed.withColumn("date", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "date"
    ).parquet(src)
    day_routed = spark.read.parquet(src)
    all_days = sorted(
        str(r.date) for r in day_routed.select("date").distinct().collect()
    )
    assert len(all_days) >= 3

    clean = CheckpointedRun(str(tmp_path / "days_clean"), day_col="date")
    clean.run(day_routed, input_files=[src])

    run = CheckpointedRun(str(tmp_path / "days"), day_col="date")
    with pytest.raises(RuntimeError, match="injected failure"):
        run.run(day_routed, input_files=[src], fail_after=2)
    done = run.completed_partitions()
    assert len(done) == 2

    manifests = run.run(day_routed, input_files=[src])
    missing = sorted(str(m["partition"]) for m in manifests)
    assert missing == sorted(set(all_days) - {str(d) for d in done})
    # the resume job's scan was partition-pruned to the missing days:
    # the _part IN (...) predicate appears as a PartitionFilter on the
    # file scan, not a post-scan Filter over all days
    scan_lines = [l for l in run.last_plan.splitlines() if "PartitionFilters" in l]
    assert scan_lines, run.last_plan
    assert any("date" in l and "empty" not in l.split("PartitionFilters")[1][:200]
               for l in scan_lines), scan_lines
    # resumed output identical to the uninterrupted run
    got = _collect(run.read_output(spark))
    want = _collect(clean.read_output(spark))
    assert got == want


@pytest.mark.parametrize("first,second", [(8, 4), (4, 8)])
def test_resume_refuses_changed_unit_spec(spark, routed, tmp_path, first, second):
    """A partition id means something only under its unit spec: matched
    by id alone, 8 → 4 units would compute nothing and 4 → 8 would write
    units 4-7 beside the stale 0-3. The run must refuse instead."""
    out = str(tmp_path / "spec")
    manifests = CheckpointedRun(out, n_partitions=first).run(routed, input_files=["f1"])
    rerun = CheckpointedRun(out, n_partitions=second)
    dirs = sorted(os.listdir(rerun.sinks_dir))
    with pytest.raises(ValueError) as err:
        rerun.run(routed, input_files=["f1"])
    assert f"hash(conv_id)%{first}" in str(err.value) and f"hash(conv_id)%{second}" in str(err.value)
    # nothing was written or committed by the refused run
    assert rerun.write_jobs == 0
    assert rerun.completed_partitions() == set(range(first))
    assert sorted(os.listdir(rerun.sinks_dir)) == dirs
    assert {m["unit"] for m in manifests} == {f"hash(conv_id)%{first}"}
