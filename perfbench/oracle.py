"""DuckDB recomputation of every workload's output, run outside the timed
passes. The SQL is the repo's own oracle (`__spark_entry__.oracle_sql()`)
with its `transcripts_base` CTE bound to the generated table, so both
engines read the same parquet files."""

from __future__ import annotations

import json
import os

import duckdb

import __spark_entry__ as entry
from beats_spark import synth
from beats_spark.events import SINK_COL

ROUTED_COLS = ", ".join(f"{SINK_COL} AS sink" if c == "sink" else c for c in entry._ROUTED_COLS)


def _rel(sql: str, table: str) -> str:
    if synth.DUCKDB_TRANSCRIPTS_CTE not in sql:
        raise ValueError("oracle SQL no longer derives transcripts_base from synth's CTE")
    return sql.replace(
        synth.DUCKDB_TRANSCRIPTS_CTE,
        f"transcripts_base AS (SELECT * FROM read_parquet('{table}/*.parquet'))",
    )


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


class Oracle:
    def __init__(self, table: str):
        self.table = table
        self.con = duckdb.connect()
        self._sql = entry.oracle_sql()
        self.rows = self.con.sql(f"SELECT count(*) FROM read_parquet('{table}/*.parquet')").fetchone()[0]

    def _view(self, name: str, key: str) -> None:
        """Materialise one oracle query once per run."""
        self.con.execute(f"CREATE TABLE IF NOT EXISTS {name} AS {_rel(self._sql[key], self.table)}")

    def _diff(self, a: str, b: str) -> int:
        """Rows in the multiset difference a − b plus b − a."""
        return sum(
            self.con.sql(f"SELECT count(*) FROM (({x}) EXCEPT ALL ({y}))").fetchone()[0]
            for x, y in ((a, b), (b, a))
        )

    # -- fanout / resume ---------------------------------------------------

    def routed_rows(self, out_dir: str) -> str:
        return f"SELECT {ROUTED_COLS} FROM {_parquet(os.path.join(out_dir, 'sinks'))}"

    def snapshot(self, out_dir: str) -> None:
        """Keep a fresh run's routed rows to compare a resumed run against."""
        self.con.execute(f"CREATE OR REPLACE TABLE fresh AS {self.routed_rows(out_dir)}")

    def check_pipeline(self, out_dir: str, resumed: bool) -> int:
        self._view("o_routed", "pipeline_routed")
        self._view("o_conv", "agg_events_per_conv")
        self._view("o_tool", "agg_events_per_tool")
        manifests = []
        mdir = os.path.join(out_dir, "_manifests")
        for f in sorted(os.listdir(mdir)):
            if f.endswith(".json"):
                with open(os.path.join(mdir, f)) as fh:
                    manifests.append(json.load(fh))
        counts = " UNION ALL ".join(
            f"SELECT '{sink}' AS sink, {n}::BIGINT AS n"
            for m in manifests
            for sink, n in m["rows_per_sink"].items()
        ) or "SELECT NULL::VARCHAR AS sink, NULL::BIGINT AS n WHERE false"
        bad = self._diff(
            f"SELECT sink, sum(n)::BIGINT FROM ({counts}) GROUP BY sink",
            "SELECT sink, count(*)::BIGINT FROM o_routed GROUP BY sink",
        )
        rows = self.routed_rows(out_dir)
        bad += self._diff(rows, "SELECT * FROM fresh" if resumed else "SELECT * FROM o_routed")
        for name, key, table in (("events_per_conv", "conv_id", "o_conv"), ("events_per_tool", "tool", "o_tool")):
            path = _parquet(os.path.join(out_dir, "aggregates", name))
            bad += self._diff(
                f"SELECT {SINK_COL}, CAST(bucket AS TIMESTAMP), {key}, n_events FROM {path}",
                f"SELECT sink, CAST(bucket AS TIMESTAMP), {key}, n_events FROM {table}",
            )
        return bad

    # -- stateful ----------------------------------------------------------

    def check_stateful(self, out_dir: str) -> int:
        self._view("o_rate", "rate_limit")
        self._view("o_multi", "multiline_count")
        self._view("o_sessionize", "sessionize")
        out = {n: _parquet(os.path.join(out_dir, n)) for n in ("rate_limit", "multiline_count", "session_flows", "flow_reports")}
        return (
            self._diff(f"SELECT conv_id, turn_idx, role FROM {out['rate_limit']}", "SELECT * FROM o_rate")
            + self._diff(
                f"SELECT conv_id, turn_idx, text, n_lines FROM {out['multiline_count']}",
                "SELECT * FROM o_multi",
            )
            + self._diff(
                f"SELECT conv_id, CAST(session_start AS TIMESTAMP), n_events FROM {out['session_flows']}",
                "SELECT conv_id, CAST(ts_out AS TIMESTAMP), n_events FROM o_sessionize WHERE kind = 'session'",
            )
            + self._diff(
                f"SELECT conv_id, CAST(report_ts AS TIMESTAMP), CAST(flow_start AS TIMESTAMP), "
                f"packets, final FROM {out['flow_reports']}",
                "SELECT conv_id, CAST(ts_out AS TIMESTAMP), CAST(start_ts AS TIMESTAMP), n_events, final "
                "FROM o_sessionize WHERE kind = 'flowrep'",
            )
        )

    def close(self) -> None:
        self.con.close()
