"""The flagship parse → enrich → route → aggregate pipeline.

This is the Spark re-expression of the filebeat event data path
(SURVEY.md §3.1): scan → reader/parse chain → processors → selector →
per-sink fan-out + flows-style aggregates. The whole chain up to the
aggregates compiles into a single Catalyst plan: one parquet scan, one
Project span with the dissect locate/substr walks + casts +
enrich-broadcast-joins, no exchange until the windowed aggregates /
fan-out write.

Stage list (FIXTURES.md §§1,4,5):
 1. dissect `text` with the flagship tokenizer (Column fast path) →
    level / ts_str / tool_tok / msg (+ dissect_parsing_error flag)
 2. dissect `msg` → step; convert step|long, ts_str|timestamp
    (+ convert_error flag)
 3. broadcast-enrich role→(team,is_agent), tool→(tool_kind,risk)
 4. drop_event: dissect-failed AND text contains 'debug'
 5. selector: dead-letter (convert_error) → role=='tool' →
    assistant-with-tool → long-tail (turn_idx≥100) → default sink_main
 6. aggregates: events/conv and events/tool per hour per sink

Sink schema (SINK_COLS), what `route_events` returns and the fan-out
writes: the event body, not input-private state (a Beats output writes
`Fields`, not `Private`; libbeat/beat/event.go:52-62) — the oracle
contract's 13 data columns, `_sink` (its `sink`), `log_flags` (Beats'
`log.flags`), `has_convert_error` (read by the dead-letter rule) and
`event_ts` (stage 2's ts_str|timestamp convert output). Dissect tokens,
`_f_*` booleans and the input's other columns are not written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import synth
from .dissect import dissect_columns
from .events import FLAG_CONVERT_FAILURE, FLAG_DISSECT_FAILURE, FLAGS_COL, SINK_COL
from .processors.enrich import lookup_join
from .routing import DEAD_LETTER_SINK, route
from .selector import Rule, Selector

FLAGSHIP_TOK = 'level=%{level} ts=%{ts_str} tool=%{tool_tok} msg="%{msg}"'
STEP_TOK = "ran step %{step}"

SINK_TOOL = "sink_tool_events"
SINK_AGENT = "sink_agent_tool_calls"
SINK_LONG_TAIL = "sink_long_tail"
SINK_MAIN = "sink_main"
ALL_SINKS = [DEAD_LETTER_SINK, SINK_TOOL, SINK_AGENT, SINK_LONG_TAIL, SINK_MAIN]
SINK_COLS = [
    "conv_id", "turn_idx", "text", "ts", "role", "tool", "level", "msg", "step_num",
    "team", "is_agent", "tool_kind", "risk", SINK_COL, FLAGS_COL, "has_convert_error", "event_ts",
]


def flagship_selector() -> Selector:
    """FIXTURES.md §4 rule list — first match wins (select.go:341-354)."""
    return Selector(
        rules=[
            Rule(index=DEAD_LETTER_SINK, when={"equals": {"has_convert_error": True}}),
            Rule(index=SINK_TOOL, when={"equals": {"role": "tool"}}),
            Rule(
                index=SINK_AGENT,
                when={"and": [{"equals": {"role": "assistant"}}, {"not": {"equals": {"tool": ""}}}]},
            ),
            Rule(index=SINK_LONG_TAIL, when={"range": {"turn_idx.gte": 100}}),
        ],
        fallback=SINK_MAIN,
    )


def parse_enrich(transcripts: DataFrame, spark: SparkSession) -> DataFrame:
    """Stages 1-3: pure map-side (no shuffle) + broadcast joins.

    Codegen-size discipline: downstream predicates (drop_event filter,
    dead-letter rule) reference parse outcomes via cheap BOOLEAN columns
    (`_f_dissect`, `_f_convert`), not via the log_flags array. A pushed-
    down filter substitutes the full expression tree of whatever it
    references — referencing an array built from the whole parse chain
    inlines that chain into the Filter and overflows janino's 64 KB
    generated-method limit, silently dropping the stage out of
    whole-stage codegen. The array form is assembled once, at the end,
    from the booleans (route_events).
    """
    df = dissect_columns(transcripts, FLAGSHIP_TOK, src="text", flag_failures=False)
    df = dissect_columns(df, STEP_TOK, src="msg", flag_failures=False)
    from .dissect import cast_column

    # convert semantics (fail_on_error=False): try-cast, failure → null
    df = df.withColumn("step_num", cast_column(F.col("step"), "long"))
    # fast path invariant: capture columns are NULL iff the parse failed
    df = df.withColumn("_f_dissect", F.col("level").isNull())
    df = df.withColumn("_f_convert", F.col("step").isNotNull() & F.col("step_num").isNull())
    df = df.withColumn("event_ts", F.try_to_timestamp(F.col("ts_str"), F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
    df = lookup_join(synth.lookup_role(spark), on="role", defaults={"team": "unknown"})(df)
    df = lookup_join(synth.lookup_tool(spark), on="tool", defaults={"tool_kind": "none", "risk": "low"})(df)
    return df


def route_events(df: DataFrame) -> DataFrame:
    """Stages 4-5: drop_event + selector routing (+ dead-letter), ending
    in exactly SINK_COLS (the module docstring gives each column's why).

    The drop_event predicate is guarded by an always-false
    spark_partition_id() disjunct: the predicate references parse
    outcomes (`_f_dissect` ⇐ the dissect walk), and Catalyst's filter
    pushdown SUBSTITUTES the referenced expressions when pushing the
    filter through the parse Projects — the r5 plan evaluated the full
    text-construction subtree 4× and the flagship regex twice extra per
    row inside the pushed filter (guide §4.4's duplication, JVM-side).
    OR-ing a nondeterministic always-false term keeps the predicate a
    single non-pushable conjunct, so it stays ABOVE the parse projection
    and evaluates cheap attribute references; the ~1.4% of rows it drops
    are not worth re-deriving the parse chain per surviving row. Result
    truth table is unchanged (x | false ≡ x, null | false ≡ null)."""
    keep = ~(F.col("_f_dissect") & F.col("text").contains("debug"))
    df = df.filter(keep | (F.spark_partition_id() < F.lit(0)))
    df = df.withColumn("has_convert_error", F.col("_f_convert"))
    # materialize the Beats-convention flags array once, from the booleans
    df = df.withColumn(
        FLAGS_COL,
        F.concat(
            F.when(F.col("_f_dissect"), F.array(F.lit(FLAG_DISSECT_FAILURE))).otherwise(
                F.array().cast("array<string>")
            ),
            F.when(F.col("_f_convert"), F.array(F.lit(FLAG_CONVERT_FAILURE))).otherwise(
                F.array().cast("array<string>")
            ),
        ),
    )
    return route(df, flagship_selector()).select(*SINK_COLS)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full routed event stream (one row per surviving turn, with sink)."""
    t = synth.transcripts(spark, sf_dir)
    return route_events(parse_enrich(t, spark))
