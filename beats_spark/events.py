"""Canonical event model for the pipeline.

The reference's universal record is `beat.Event{Timestamp, Meta, Fields,
Private}` — a schemaless nested map with dot-path access
(/root/reference/libbeat/beat/event.go:52-104). Schemaless maps are an
anti-pattern at 100 TB on Spark (no pruning, no codegen, no stats), so we
compile to a fixed StructType core plus:

  attrs     MapType(string,string)   dynamic parse/enrich outputs
                                     (the `dissect.*` / `fields.*` analog)
  log_flags ArrayType(string)        error/flag conventions — mirrors
                                     Beats' `log.flags` (event.go:38) and
                                     dissect's `dissect_parsing_error`
                                     (processors/dissect/processor.go:33)
  _sink     string                   routing decision (the `@metadata`
                                     analog, event.go:40-46) — written
                                     as the sinks' `_sink=` directory
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Flag constants (parity with the reference's conventions).
FLAG_DISSECT_FAILURE = "dissect_parsing_error"  # dissect/processor.go:33
FLAG_TRUNCATED = "truncated"                    # readfile/limit.go
FLAG_CONVERT_FAILURE = "convert_error"          # convert.go failure tag analog
FLAG_MULTILINE = "multiline"                    # reader/multiline/message_buffer.go:132

FLAGS_COL = "log_flags"
ATTRS_COL = "attrs"
SINK_COL = "_sink"

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), False),
        StructField("text", StringType(), False),
        StructField("tool", StringType(), False),
        StructField("ts", TimestampType(), False),
    ]
)

ATTRS_TYPE = MapType(StringType(), StringType())
FLAGS_TYPE = ArrayType(StringType())


def append_flag(flags_col, flag: str, cond):
    """Append `flag` to the flags array where `cond` holds.

    Mirrors mapstr AddTags semantics (append; each stage appends a
    distinct flag name once, so no dedup is needed).

    Expression-size note: the accumulated flags expression must be
    referenced exactly ONCE here. The obvious form
    `when(cond, array_union(base, ...)).otherwise(base)` embeds `base`
    in BOTH branches — after k flag stages that is 2^k copies of the
    first stage's (regex-bearing) condition, which overflows janino's
    64 KB generated-method limit and silently drops the whole stage out
    of whole-stage codegen. concat(base, when(cond, [flag], []))
    keeps growth linear.
    """
    base = F.coalesce(flags_col, F.array().cast(FLAGS_TYPE))
    extra = F.when(cond, F.array(F.lit(flag))).otherwise(F.array().cast(FLAGS_TYPE))
    return F.concat(base, extra)


def flags_column(df):
    """The frame's flags column, or a typed NULL when no stage has
    flagged yet — the standard first argument to append_flag (hoisted
    here from per-module copies; r5 review)."""
    return F.col(FLAGS_COL) if FLAGS_COL in df.columns else F.lit(None).cast(FLAGS_TYPE)
