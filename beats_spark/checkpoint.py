"""Checkpoint / resume — the registrar + ACK path as partition manifests.

Reference semantics being reproduced (SURVEY.md §1.2, §3.3):
  * filebeat persists a cursor per source ONLY after the pipeline ACKs
    the events that advanced it (input-logfile/publish.go:29-99,
    registrar.go:131-160) — state never runs ahead of delivered data;
  * on restart, stored cursors seed the harvesters so only un-acked
    input is re-read (registrar.go:96-106).

Spark re-expression: the unit of progress is a deterministic input
partition, derived from the input:
  * without `day_col`: pmod(hash(conv_id), N). Resume re-filters the
    derived column — one full input scan on resume, no scan pruning
    (the honest fallback when the input has no physical layout).
  * with `day_col`: the unit is that column's value — e.g. a
    `date=YYYY-MM-DD` directory column of a day-partitioned input, the
    analog of Iceberg's days(ts) hidden partitioning. The resume filter
    `_part IN missing` then reaches the scan as a PartitionFilter, so a
    resumed run READS ONLY THE MISSING DAYS' FILES — at 100 TB this is
    the difference between re-scanning a day and re-scanning the table.
    A caller that wants days from `ts` adds that column and passes it.
    `route_events` keeps only the sink schema, so an input's own day
    column does not reach a routed frame; the frame run() gets must
    carry it (e.g. a day-partitioned table of routed events).

This is the engine's one batch fan-out writer. A run executes ONE write
over all missing partitions — `write.partitionBy("_part", SINK_COL)`
with DYNAMIC partition overwrite — so the input is scanned exactly once
regardless of N (a per-partition loop would rescan it N times: 6.4 PB
of reads for a 100 TB table at N=64). Just before the write the frame
is rebalanced on (_part, SINK_COL) (the REBALANCE hint; AQE is on in
`session.get_spark`), so files are sized by data, not by input tasks:
  files ≈ units × sinks + bytes / advisoryPartitionSizeInBytes
where a shuffle-free write makes one file per input task × unit × sink
(132 files for 6.35 MB on the 16-task benchmark table, 33 with the
rebalance; 32M at 10^5 tasks × 64 units × 5 sinks), each costing a file
create, a checksum file and a later listing and open by every reader.
AQE merges small shuffle partitions and splits one larger than the
advisory size, so a hot unit's rows still spread over several files
once they are large. The resume filter sits below the rebalance, so it
still reaches the scan. Completed partitions' directories are never
touched.
Per-partition manifests carrying lineage + throughput metrics are then
derived from the *written* output and committed one by one:
  {partition, unit, input_files, rows_in, rows_per_sink, bytes, wall_ms}
Counts and bytes come from a walk, in the calling process, of the
committed `_part=*/_sink=*/` files (URL-unquoted: Spark escapes e.g.
':') and their parquet footers, so no job runs after the write and a
retried task cannot inflate them — only delivered data counts.

A resume run diffs existing manifests against the partition list and
rewrites only the missing `_part=` directories (one write for all of
them). Task-level retry inside the job is Spark's; partition-level
idempotence comes from the dynamic overwrite — together they upgrade
Beats' at-least-once to effectively-once per partition. A partition id
means something only under the unit spec that made it, so each
manifest records that spec (`unit`: `hash(conv_id)%N` or `day_col=C`)
and run() refuses an out_dir whose committed manifests carry another:
matched by id alone, going from N=8 to N=4 would compute nothing and
going from 4 to 8 would write units 4-7 beside the stale 0-3.

`fail_after=k` (kill/resume tests) raises after the k-th manifest
commit: the data is written, the remaining manifests are not — the
"kill after partition k" case.
"""

from __future__ import annotations

import glob
import json
import os
import time
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .events import SINK_COL


class CheckpointedRun:
    def __init__(self, out_dir: str, n_partitions: int = 8, day_col: str | None = None):
        self.out_dir = out_dir
        self.n_partitions = n_partitions  # hash units; unused with day_col
        self.day_col = day_col
        self.manifest_dir = os.path.join(out_dir, "_manifests")
        self.sinks_dir = os.path.join(out_dir, "sinks")
        os.makedirs(self.manifest_dir, exist_ok=True)
        self.write_jobs = 0  # writes executed by the last run() call
        self.last_written: DataFrame | None = None  # the frame the last run() wrote

    @property
    def unit(self) -> str:
        """The unit spec a partition id is relative to."""
        if self.day_col:
            return f"day_col={self.day_col}"
        return f"hash(conv_id)%{self.n_partitions}"

    @property
    def last_plan(self) -> str:
        """Physical plan of the last write's input (audit), rendered only
        when read — planning it on every run() would cost the write path."""
        if self.last_written is None:
            return ""
        return self.last_written._jdf.queryExecution().executedPlan().toString()

    def _manifest_path(self, p) -> str:
        name = f"part-{p:05d}" if isinstance(p, int) else f"part-{p}"
        return os.path.join(self.manifest_dir, f"{name}.json")

    def _committed(self) -> dict:
        """Unit spec of each committed partition id."""
        done = {}
        for f in os.listdir(self.manifest_dir):
            if f.startswith("part-") and f.endswith(".json"):
                try:
                    with open(os.path.join(self.manifest_dir, f)) as fh:
                        m = json.load(fh)
                    # JSON round-trips the partition id's type (int for
                    # hash units, str for day_col units) — no coercion, so
                    # a digit-valued day string never aliases an int id
                    done[m["partition"]] = m.get("unit")
                except (json.JSONDecodeError, KeyError):
                    continue  # torn write ⇒ not committed ⇒ recompute
        return done

    def completed_partitions(self) -> set:
        return set(self._committed())

    def _written(self, missing: list) -> tuple[dict, dict]:
        """Rows per sink and bytes of each missing unit, from the files
        the write committed: one local walk and one parquet footer read
        per data file — no Spark job."""
        units = {str(p): p for p in missing}  # directory value → unit
        rows: dict = {p: {} for p in missing}
        nbytes = dict.fromkeys(missing, 0)
        # `[!_]*` skips Hadoop's `_`-prefixed markers; glob skips `.crc` files
        pattern = os.path.join(glob.escape(self.sinks_dir), "_part=*", f"{SINK_COL}=*", "[!_]*")
        for path in glob.glob(pattern):
            part_dir, sink_dir, _ = os.path.relpath(path, self.sinks_dir).split(os.sep)
            p = units.get(unquote(part_dir[len("_part="):]))
            if p is None:
                continue  # a completed unit's files
            sink = unquote(sink_dir[len(SINK_COL) + 1:])
            rows[p][sink] = rows[p].get(sink, 0) + pq.read_metadata(path).num_rows
            nbytes[p] += os.path.getsize(path)
        return rows, nbytes

    def _part_column(self) -> F.Column:
        if self.day_col:
            return F.col(self.day_col).cast("string")
        return F.pmod(F.hash(F.col("conv_id")), F.lit(self.n_partitions))

    def _all_partitions(self, routed: DataFrame) -> list:
        if not self.day_col:
            return list(range(self.n_partitions))
        # partition inventory: metadata-only on Iceberg (hidden days(ts)
        # partitioning); a single column-pruned scan of the day column on
        # raw parquet (day-partition dirs make it a pure file listing).
        parts = [r["_part"] for r in routed.select("_part").distinct().collect()]
        if any(p is None for p in parts):
            raise ValueError(
                f"day-unit checkpoint: input contains rows with a NULL {self.day_col} "
                "— filter or default them before run(); a NULL partition id has no "
                "manifest/directory representation"
            )
        return sorted(parts)

    def run(
        self,
        routed: DataFrame,
        input_files: list[str],
        fail_after: int | None = None,
    ) -> list[dict]:
        """Write all missing partitions in ONE write, then commit their
        manifests one by one; resume-safe. Raises ValueError when out_dir
        holds partitions of another unit spec.

        `routed` must contain conv_id + SINK_COL (+ day_col when set).
        `fail_after=k` raises after the k-th manifest commit (kill/resume
        tests).
        """
        done = self._committed()
        other = set(done.values()) - {self.unit}
        if other:
            raise ValueError(
                f"{self.out_dir} holds partitions of unit spec {sorted(map(str, other))}, "
                f"this run's is {self.unit!r}: a resume must keep its unit spec — "
                "use a fresh out_dir for another one"
            )
        routed = routed.withColumn("_part", self._part_column())
        all_parts = self._all_partitions(routed)
        missing = [p for p in all_parts if p not in done]
        self.write_jobs = 0
        if not missing:
            return []
        t0 = time.perf_counter()
        df = routed
        if len(missing) < len(all_parts):
            # over a day-partitioned input this filter reaches the scan as
            # a PartitionFilter → only missing days' files are read
            # (asserted in tests via last_plan)
            df = df.filter(F.col("_part").isin(missing))
        # size files by data, not by input tasks (module docstring)
        df = df.hint("rebalance", "_part", SINK_COL)
        self.last_written = df
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_part", SINK_COL)
            .parquet(self.sinks_dir)
        )
        self.write_jobs = 1
        wall_ms = round((time.perf_counter() - t0) * 1000)
        counts, nbytes = self._written(missing)
        total_rows = sum(sum(c.values()) for c in counts.values())
        manifests = []
        for p in missing:
            per_sink = counts[p]
            rows_in = sum(per_sink.values())
            # wall time of the shared job apportioned by row share
            share = rows_in / total_rows if total_rows else 1.0 / len(missing)
            p_wall = max(1, round(wall_ms * share))
            manifest = {
                "partition": p,
                "unit": self.unit,
                "input_files": input_files,
                "rows_in": rows_in,
                "rows_per_sink": per_sink,
                "bytes": nbytes[p],
                "wall_ms": p_wall,
                "throughput_rows_per_sec": round(rows_in / max(p_wall, 1) * 1000, 1),
            }
            # Atomic commit: manifest appears only after the data is down.
            tmp = self._manifest_path(p) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
            os.replace(tmp, self._manifest_path(p))
            manifests.append(manifest)
            if fail_after is not None and len(manifests) >= fail_after:
                raise RuntimeError(f"injected failure after {len(manifests)} partitions")
        return manifests

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sinks_dir)
