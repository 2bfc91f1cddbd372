"""Deterministic transcript derivation + enrich lookup tables.

The pipeline's primary input (BASELINE.json input_hint) is a table of
multi-turn agent transcripts `(conv_id, turn_idx, role, text, tool, ts)`.
The sandbox provides deterministic parquet fixtures (TESTDATA.md); we
derive the transcript table as a *pure function* of the `events` table so
that the exact same rows are constructible both in Spark (for the engine)
and in DuckDB (for the correctness oracle) with no data files exchanged.

Properties (FIXTURES.md §1):
  * skewed hot key: conv-00000000 owns 5% of all rows (event_id % 20 == 0)
    — exercises the AQE skew paths;
  * ~10% malformed lines (event_id % 10 == 7) — exercises the
    dissect_parsing_error / log.flags path;
  * ~7% numeric-conversion poison (event_id % 13 == 5 → step='xx') —
    exercises the convert-failure → dead-letter path;
  * role/tool/level all deterministic residue functions of event_id.

The reference analog of this module is the synthetic `benchmark` input
(/root/reference/x-pack/filebeat/input/benchmark/config.go:10-29).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TOOLS = ["bash", "read", "write", "search", "browser"]

# ---------------------------------------------------------------------------
# Spark derivation (SQL dialect: Spark)
# ---------------------------------------------------------------------------

# Layering note (scale): the inner layer computes ONLY the window key
# (conv_id) before the row_number exchange, so the single-task scan stage
# stays cheap; all heavy string construction happens AFTER the shuffle
# where it parallelizes across shuffle partitions.
_SPARK_BASE = """
SELECT
  conv_id,
  turn_idx,
  role,
  CASE WHEN event_id % 10 = 7
       THEN concat('level ', level, ' corrupted ', msg)
       ELSE concat('level=', level, ' ts=', ts_str, ' tool=', tool, ' msg="', msg, '"')
  END AS text,
  tool,
  ts,
  event_id
FROM (
  SELECT *,
    CASE WHEN (event_id div 3) % 20 >= 8 AND (event_id div 3) % 20 < 19
              AND event_id % 3 != 1
         THEN element_at(array('bash','read','write','search','browser'),
                         CAST(event_id % 5 AS INT) + 1)
         ELSE '' END AS tool,
    CASE WHEN event_type = 'error' THEN 'error'
         WHEN value > 150 THEN 'warn'
         WHEN event_id % 7 = 3 THEN 'debug'
         ELSE 'info' END AS level,
    concat('ran step ', CASE WHEN event_id % 13 = 5 THEN 'xx'
                             ELSE CAST(event_id % 100 AS STRING) END) AS msg,
    concat(date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), 'Z') AS ts_str
  FROM (
    SELECT
      event_id, ts, event_type, value,
      CAST(row_number() OVER (PARTITION BY conv_id ORDER BY event_id) - 1 AS INT) AS turn_idx,
      conv_id,
      CASE WHEN (event_id div 3) % 20 < 8  THEN 'user'
           WHEN (event_id div 3) % 20 < 16 THEN 'assistant'
           WHEN (event_id div 3) % 20 < 19 THEN 'tool'
           ELSE 'system' END AS role
    FROM (
      SELECT event_id, ts, event_type, value,
        CASE WHEN event_id % 20 = 0 THEN 'conv-00000000'
             ELSE concat('conv-', lpad(CAST(user_id + 1 AS STRING), 8, '0')) END AS conv_id
      FROM {events}
    )
  )
)
"""

# ---------------------------------------------------------------------------
# DuckDB derivation (same logic, DuckDB dialect) — used by oracle_sql()
# ---------------------------------------------------------------------------

DUCKDB_TRANSCRIPTS_CTE = """
transcripts_base AS (
  SELECT
    conv_id,
    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY event_id) - 1 AS INTEGER) AS turn_idx,
    role,
    CASE WHEN event_id % 10 = 7
         THEN 'level ' || level || ' corrupted ' || msg
         ELSE 'level=' || level || ' ts=' || ts_str || ' tool=' || tool || ' msg="' || msg || '"'
    END AS text,
    tool,
    ts,
    event_id
  FROM (
    SELECT
      event_id, ts,
      CASE WHEN event_id % 20 = 0 THEN 'conv-00000000'
           ELSE 'conv-' || lpad(CAST(user_id + 1 AS VARCHAR), 8, '0') END AS conv_id,
      CASE WHEN (event_id // 3) % 20 < 8  THEN 'user'
           WHEN (event_id // 3) % 20 < 16 THEN 'assistant'
           WHEN (event_id // 3) % 20 < 19 THEN 'tool'
           ELSE 'system' END AS role,
      CASE WHEN (event_id // 3) % 20 >= 8 AND (event_id // 3) % 20 < 19
                AND event_id % 3 != 1
           THEN (['bash','read','write','search','browser'])[CAST(event_id % 5 AS INTEGER) + 1]
           ELSE '' END AS tool,
      CASE WHEN event_type = 'error' THEN 'error'
           WHEN value > 150 THEN 'warn'
           WHEN event_id % 7 = 3 THEN 'debug'
           ELSE 'info' END AS level,
      'ran step ' || (CASE WHEN event_id % 13 = 5 THEN 'xx'
                           ELSE CAST(event_id % 100 AS VARCHAR) END) AS msg,
      strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_str
    FROM events
  )
)
"""


def transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the transcript table from `{sf_dir}/events.parquet`.

    Deterministic: a pure projection + one window over a unique key
    (event_id), so every run — Spark or DuckDB — yields identical rows.
    """
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.createOrReplaceTempView("_bs_events")
    return spark.sql(_SPARK_BASE.format(events="_bs_events"))


def transcripts_scaled(spark: SparkSession, sf_dir: str, replicas: int = 10) -> DataFrame:
    """Deterministically replicate the transcript table ×replicas (distinct
    conv_ids per replica) — load generator for throughput/scaling benches
    (benchmark-input `count` knob analog)."""
    from pyspark.sql import functions as F

    base = transcripts(spark, sf_dir)
    if replicas <= 1:
        return base
    r = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("_r")
    return base.select("*", r).select(
        F.concat_ws("#", F.col("conv_id"), F.col("_r")).alias("conv_id"),
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        (F.col("event_id") * replicas + F.col("_r")).alias("event_id"),
    )


def materialize_transcripts(
    spark: SparkSession, sf_dir: str, out_path: str, replicas: int = 10, files: int = 64
) -> str:
    """Write a production-shaped transcripts table: many parquet files so
    the scan parallelizes like a real multi-file/Iceberg table would."""
    df = transcripts_scaled(spark, sf_dir, replicas)
    df.repartition(files, "conv_id", "turn_idx").write.mode("overwrite").parquet(out_path)
    return out_path


# ---------------------------------------------------------------------------
# Enrich lookup tables (FIXTURES.md §3) — the translate_* / add_*_metadata
# analogs (/root/reference/libbeat/processors/translate_sid/translatesid.go:43)
# ---------------------------------------------------------------------------

LOOKUP_ROLE_ROWS = [
    ("user", "humans", False),
    ("assistant", "agents", True),
    ("tool", "runtime", True),
    ("system", "platform", False),
]

LOOKUP_TOOL_ROWS = [
    ("", "none", "low"),
    ("bash", "shell", "high"),
    ("read", "fs", "low"),
    ("write", "fs", "high"),
    ("search", "web", "medium"),
    ("browser", "web", "medium"),
]

DUCKDB_LOOKUP_ROLE_CTE = """
lookup_role(role, team, is_agent) AS (
  VALUES ('user','humans',false), ('assistant','agents',true),
         ('tool','runtime',true), ('system','platform',false)
)
"""

DUCKDB_LOOKUP_TOOL_CTE = """
lookup_tool(tool, tool_kind, risk) AS (
  VALUES ('','none','low'), ('bash','shell','high'), ('read','fs','low'),
         ('write','fs','high'), ('search','web','medium'), ('browser','web','medium')
)
"""


def _values_df(spark: SparkSession, rows, cols: list[str]) -> DataFrame:
    """Tiny constant table as a VALUES LocalRelation (r6): createDataFrame
    over a Python list plans as `Scan ExistingRDD` — every broadcast
    build pays a Python-worker round trip (~0.2 s per enrich join per
    query invocation). A VALUES relation is a pure-JVM LocalTableScan:
    same rows, same schema, no Python on the execution path."""

    def sql_lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            # Spark SQL single-quoted literals process backslash
            # escapes — escape the escapes first, then the quote
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, int):
            # match createDataFrame's inference (python int → bigint;
            # a bare small literal would infer INT)
            return f"CAST({v} AS BIGINT)"
        if isinstance(v, float):
            import math

            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            if math.isinf(v):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            # the D suffix makes it a DOUBLE literal (a bare decimal
            # would infer DECIMAL); repr round-trips exactly
            return repr(v) + "D"
        raise TypeError(f"_values_df: unsupported literal type {type(v).__name__}")

    vals = ", ".join("(" + ", ".join(sql_lit(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {vals} AS t({', '.join(cols)})")


def lookup_role(spark: SparkSession) -> DataFrame:
    return _values_df(spark, LOOKUP_ROLE_ROWS, ["role", "team", "is_agent"])


def lookup_tool(spark: SparkSession) -> DataFrame:
    return _values_df(spark, LOOKUP_TOOL_ROWS, ["tool", "tool_kind", "risk"])
